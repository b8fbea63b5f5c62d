package graft.functions

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Which custom functions a session has is decided once, in
  * [[Functions]]: no other main source registers or injects a function. */
class FunctionsGuardSpec extends AnyFunSuite {

  private val patterns =
    Seq("createOrReplaceTempFunction(", "registerFunction(", "injectFunction(")

  test("no main source outside Functions registers or injects a function") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val functions = root.resolve("graft/functions/Functions.scala")
    val walk = Files.walk(root)
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    def hits(f: Path) =
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if patterns.exists(line.contains) => s"$f:${i + 1}: ${line.trim}"
      }
    assert(hits(functions).nonEmpty, "the scan must see Functions' own calls")
    val stray = sources.filterNot(_ == functions).flatMap(hits)
    assert(stray.isEmpty, stray.mkString("\n"))
  }
}
