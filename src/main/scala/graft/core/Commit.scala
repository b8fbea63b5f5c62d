package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one way the engine replaces a persisted parquet table, or some
  * partition directories of one, in place: write a staged copy, swap it
  * in by two renames on the table's own Hadoop `FileSystem` (live → old,
  * staged → live), then delete the old copy. A crash before the first
  * rename leaves an orphaned staged copy, which the next commit deletes.
  * A crash between the renames leaves only the complete old copy, which
  * [[committed]] names and the next commit or [[heal]] puts back; other
  * readers miss the table (or cell) until then.
  * Only this object names staged and old copies, with a leading `.`, so
  * Spark's listing and partition discovery never read one as part of a
  * live table (a `_` name holding `=`, like a copy of a `centroid_id=3`
  * cell, would be read). Not safe concurrently with readers or other
  * writers of the same table: commit where writes already serialize. */
object Commit {
  def staged(path: String): String = sibling(path, "staged")
  def old(path: String): String = sibling(path, "old")

  private def sibling(path: String, tag: String): String =
    new Path(new Path(path).getParent, s".${new Path(path).getName}.commit-$tag").toString

  private val OldName = """\.(.+)\.commit-old""".r

  /** Replaces the table at `path` with what `write` writes to the staged
    * path it is given; with `parts`, only those partition directories
    * swap in, one by one. `write` may read the live table, or the old
    * copy a crash left: nothing is renamed before it returns. */
  def replace(spark: SparkSession, path: String, parts: Seq[String] = Nil)(
      write: String => Unit): Unit = {
    val fs = fileSystem(spark, path)
    val (live, stage) = (new Path(path), new Path(staged(path)))
    fs.delete(stage, true)
    write(stage.toString)
    if (parts.isEmpty) swap(fs, stage, live)
    else parts.foreach(p => swap(fs, new Path(stage, p), new Path(live, p)))
    fs.delete(stage, true)
  }

  /** Undoes a crash at the table `path` and at its partition
    * directories (a lone old copy is renamed back, stale old and staged
    * copies are deleted), then lists the live table for a rewrite gate. */
  def heal(spark: SparkSession, path: String): Array[FileStatus] = {
    val fs = fileSystem(spark, path)
    val live = new Path(path)
    healOne(fs, live)
    fs.delete(new Path(staged(path)), true)
    fs.listStatus(live).map(_.getPath.getName).collect { case OldName(p) => p }
      .foreach(p => healOne(fs, new Path(live, p)))
    fs.listStatus(live)
  }

  /** The live copy of the table at `path`, else the old copy a crash
    * between the renames left, else none. */
  def committed(spark: SparkSession, path: String): Option[String] = {
    val fs = fileSystem(spark, path)
    Seq(path, old(path)).find(p => fs.exists(new Path(p)))
  }

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def healOne(fs: FileSystem, live: Path): Unit = {
    val o = new Path(old(live.toString))
    if (!fs.exists(live) && fs.exists(o)) rename(fs, o, live) else fs.delete(o, true)
  }

  /** With no live copy (a crash between the renames), the old copy
    * stays the committed one until the staged copy is in. */
  private def swap(fs: FileSystem, staged: Path, live: Path): Unit = {
    val o = new Path(old(live.toString))
    if (fs.exists(live)) { fs.delete(o, true); rename(fs, live, o) }
    rename(fs, staged, live)
    fs.delete(o, true)
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"cannot rename $from to $to")
}
