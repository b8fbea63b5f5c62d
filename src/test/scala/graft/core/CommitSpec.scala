package graft.core

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ext.Similarity
import graft.pumle.{Catalog, SparkSpec, Sweep}

/** Failure injection for [[Commit]], the one replace-in-place protocol:
  * a crash before the first rename and a crash between the two renames,
  * for the catalog and for one IVF cell. Each crash is faked by leaving
  * on disk exactly what the interrupted commit would have left. */
class CommitSpec extends SparkSpec {

  private def variants(ids: Int*) =
    ids.map(i => Sweep.Variant(i, f"hash$i%04d", Map("pe" -> i.toDouble)))

  private def hashes(df: DataFrame) = df.select("sim_hash").collect().map(_.getString(0)).toSet

  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    ListenerAccess.drain(sc)
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { f; ListenerAccess.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  test("a crash before the first rename: the next commit deletes the staged copy, no sibling is left") {
    val dir = TempDir("commit-staged")
    val path = dir.resolve("catalog").toString
    Catalog.write(Catalog.rowsFor(spark, variants(1, 2)), path)
    // the staged copy is fully written when the crash lands
    intercept[IllegalStateException] {
      Commit.replace(spark, path) { staged =>
        Catalog.rowsFor(spark, variants(9)).write.parquet(staged)
        throw new IllegalStateException("crash")
      }
    }
    assert(new java.io.File(Commit.staged(path)).isDirectory)
    assert(hashes(Catalog.read(spark, path)) == Set("hash0001", "hash0002"))
    Catalog.write(Catalog.upsert(Catalog.read(spark, path), Catalog.rowsFor(spark, variants(3))), path)
    assert(dir.toFile.list().toSet == Set("catalog"))
    assert(hashes(Catalog.read(spark, path)) == Set("hash0001", "hash0002", "hash0003"))
  }

  test("a crash between the renames: the catalog reads the old copy, and the next write heals it") {
    val dir = TempDir("commit-between")
    val path = dir.resolve("catalog").toString
    Catalog.write(Catalog.rowsFor(spark, variants(1, 2)), path)
    // rename 1 of 2 done: live -> old, with the staged copy still beside it
    Catalog.rowsFor(spark, variants(9)).write.parquet(Commit.staged(path))
    assert(new java.io.File(path).renameTo(new java.io.File(Commit.old(path))))
    val recovered = Catalog.read(spark, path)
    assert(hashes(recovered) == Set("hash0001", "hash0002"))
    // the next commit's plan reads the old copy it replaces
    Catalog.write(Catalog.setStatus(recovered, Seq("hash0001"), Catalog.Status.Running), path)
    assert(dir.toFile.list().toSet == Set("catalog"))
    val healed = Catalog.read(spark, path)
    assert(hashes(healed) == Set("hash0001", "hash0002"))
    assert(healed.filter(col("status") === "RUNNING").count() == 1)
  }

  test("an empty catalog round-trips through write and read, and a read starts no job") {
    val path = TempDir("commit-empty").resolve("catalog").toString
    Catalog.write(Catalog.empty(spark), path)
    var back: DataFrame = null
    assert(jobsOf { back = Catalog.read(spark, path) } == 0)
    assert(back.schema == spark.read.parquet(path).schema)
    assert(back.schema.map(f => f.name -> f.dataType) ==
      Catalog.empty(spark).schema.map(f => f.name -> f.dataType))
    assert(back.count() == 0)
  }

  test("a crash between the renames of one IVF cell: the next compaction heals it, search bit-equal") {
    import spark.implicits._
    val emb = Seq.tabulate(24) { i =>
      val base = Array(0.05f, 0.05f, 0.05f, 0.05f)
      base(i % 3) = 1.0f + (i / 3) * 0.01f
      (i.toLong, base, i % 3)
    }.toDF("vec_id", "embedding", "label")
    val dir = TempDir("commit-ivf").toString
    val assigned = s"$dir/assigned"
    Similarity.writeIvfIndex(spark, emb, col("vec_id") < 3, dir, trainIters = 0)
    // 10 appends into cell 0 fragment it; cells 1 and 2 stay one file each
    for (i <- 0 until 10)
      Similarity.appendIvfIndex(spark, Seq((1000L + i, Array(1.2f, 0.05f, 0.05f, 0.05f), 0))
        .toDF("vec_id", "embedding", "label"), dir)
    val queries = emb.filter(col("vec_id") % 5 === 0)
    def search = Similarity.ivfTopKIndexed(spark, dir, queries, nProbe = 2, k = 3)
      .orderBy("q_id", "rank").collect().toSeq
    def cellRows(c: Long) = spark.read.parquet(assigned).filter(col("centroid_id") === c).count()
    val before = search
    val cell0 = cellRows(0L)
    val total = spark.read.parquet(assigned).count()
    assert(before.nonEmpty && cell0 > 10)
    def listings = Seq(dir, assigned).map(d => new java.io.File(d).list().toSet)
    val layout = listings

    // the staged table is written and cell 0 has gone live -> old
    spark.read.parquet(assigned).filter(col("centroid_id") === 0)
      .write.partitionBy("centroid_id").parquet(Commit.staged(assigned))
    val cell = s"$assigned/centroid_id=0"
    assert(new java.io.File(cell).renameTo(new java.io.File(Commit.old(cell))))
    // neither copy is read as part of the live table
    assert(spark.read.parquet(assigned).count() == total - cell0)

    assert(Similarity.compactIvfIndex(spark, dir) == 1L)
    assert(new java.io.File(cell).listFiles().count(_.getName.endsWith(".parquet")) == 1)
    assert(listings == layout, "no staged or old copy is left")
    assert(cellRows(0L) == cell0)
    assert(search == before)
    assert(Similarity.compactIvfIndex(spark, dir) == 0L)
  }
}
