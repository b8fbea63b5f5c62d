package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** How a persisted table is replaced in place is decided once, in
  * [[Commit]]: no other main source renames files or switches Spark's
  * partition overwrite mode. */
class CommitGuardSpec extends AnyFunSuite {

  private val patterns = Seq("renameTo(", ".rename(", "partitionOverwriteMode")

  test("no main source outside Commit renames or flips partitionOverwriteMode") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val commit = root.resolve("graft/core/Commit.scala")
    val walk = Files.walk(root)
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    def hits(f: Path) =
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if patterns.exists(line.contains) => s"$f:${i + 1}: ${line.trim}"
      }
    assert(hits(commit).nonEmpty, "the scan must see Commit's own renames")
    val stray = sources.filterNot(_ == commit).flatMap(hits)
    assert(stray.isEmpty, stray.mkString("\n"))
  }
}
