package graft.core

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

/** Temp directories that live until the JVM exits: each one is deleted
  * recursively by a single shutdown hook, installed on first use. For
  * fixtures, warehouses and per-call index dirs whose contents a lazy
  * DataFrame may still read after the creating call returns. */
object TempDir {
  private val owned = new ConcurrentLinkedQueue[Path]()

  private lazy val hook: Unit = sys.addShutdownHook(owned.forEach(deleteTree(_)))

  /** A fresh directory under `java.io.tmpdir` named `prefix` + a random
    * suffix, deleted with everything in it at JVM exit. */
  def apply(prefix: String): Path = {
    hook
    val dir = Files.createTempDirectory(prefix)
    owned.add(dir)
    dir
  }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
      finally walk.close()
    }
}
