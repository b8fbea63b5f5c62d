package graft.core

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.pumle.SparkSpec

/** `Tables.load` takes its schema from the parquet footer on the driver:
  * the same schema and plans as `spark.read.parquet`, no Spark job, and
  * never a stale schema or `ts` unit for a file rewritten in place. */
class TablesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def masked(df: DataFrame): (String, String) = {
    def m(s: String) = s.replaceAll("#\\d+L?", "#x")
    (m(df.queryExecution.optimizedPlan.toString), m(df.queryExecution.executedPlan.toString))
  }

  /** Jobs started while `f` runs, counted by a drained listener. */
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

  /** Writes `df` as ONE parquet file at `target`, replacing it in place. */
  private def writeFile(df: DataFrame, target: Path): Unit = {
    val tmp = TempDir("tables-one").resolve("out").toString
    df.coalesce(1).write.parquet(tmp)
    val part = Files.list(java.nio.file.Paths.get(tmp)).filter(
      _.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  private def assertSameAsInference(path: String): Unit = {
    val inferred = spark.read.parquet(path)
    val read = spark.read.schema(Tables.footerSchema(spark, path)._2).parquet(path)
    assert(read.schema == inferred.schema, path)
    assert(masked(read) == masked(inferred), path)
  }

  test("footer schema and plans equal inference's for every table and a directory table") {
    assume(new java.io.File(sf).isDirectory, s"$sf not present")
    Tables.names.foreach(n => assertSameAsInference(s"$sf/$n.parquet"))
    // a table with no `ts` loads exactly as the inferred read
    assert(masked(Tables.load(spark, sf, "orders")) == masked(spark.read.parquet(s"$sf/orders.parquet")))

    import spark.implicits._
    val dir = TempDir("tables-dir").toString
    (0 until 50).map(i => (i.toLong, s"d$i", i * 0.5)).toDF("id", "s", "v")
      .repartition(3).write.parquet(s"$dir/documents.parquet")
    assertSameAsInference(s"$dir/documents.parquet")
    assert(Tables.load(spark, dir, "documents").count() == 50)
  }

  test("a table rewritten in place is read with its new schema on the next load") {
    import spark.implicits._
    val dir = TempDir("tables-rewrite")
    val one = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val two = one.withColumn("extra", lit(7))

    writeFile(one, dir.resolve("region.parquet"))
    assert(Tables.load(spark, dir.toString, "region").columns.toSeq == Seq("id", "s"))
    writeFile(two, dir.resolve("region.parquet"))
    val reread = Tables.load(spark, dir.toString, "region")
    assert(reread.columns.toSeq == Seq("id", "s", "extra"))
    assert(reread.select("extra").as[Int].collect().toSeq == Seq(7, 7))

    one.write.parquet(s"$dir/part.parquet")
    assert(Tables.load(spark, dir.toString, "part").columns.length == 2)
    two.write.mode("overwrite").parquet(s"$dir/part.parquet")
    assert(Tables.load(spark, dir.toString, "part").columns.toSeq == Seq("id", "s", "extra"))
  }

  test("a missing table throws naming its path; a nested layout is refused") {
    import spark.implicits._
    val dir = TempDir("tables-bad").toString
    val e = intercept[java.io.FileNotFoundException](Tables.load(spark, dir, "nation"))
    assert(e.getMessage.contains(s"$dir/nation.parquet"), e.getMessage)

    Seq((1L, "x"), (2L, "y")).toDF("id", "k")
      .write.partitionBy("k").parquet(s"$dir/customer.parquet")
    val n = intercept[IllegalArgumentException](Tables.load(spark, dir, "customer"))
    assert(n.getMessage.contains(s"$dir/customer.parquet"), n.getMessage)
    assert(n.getMessage.contains("k=x, k=y"), n.getMessage)
  }

  test("events ts unit is checked again when the file is rewritten in another unit") {
    import spark.implicits._
    val micros = (0 until 20).map(i => (i.toLong, 1700000000000000L + i)).toDF("event_id", "ts")
    val nanos = (0 until 20).map(i => (i.toLong, 1700000000000000000L + i)).toDF("event_id", "ts")
    def tsOf(dir: String) =
      Tables.load(spark, dir, "events").orderBy("event_id").select("ts").as[Long].collect().toSeq
    val wantNanos = (0 until 20).map(1700000000000000000L + _)

    // one file rewritten at the same path, and a Spark directory overwritten
    val fileDir = TempDir("tables-ts")
    writeFile(micros, fileDir.resolve("events.parquet"))
    assert(tsOf(fileDir.toString) == (0 until 20).map(i => (1700000000000000L + i) * 1000))
    writeFile(nanos, fileDir.resolve("events.parquet"))
    assert(tsOf(fileDir.toString) == wantNanos)

    val sparkDir = TempDir("tables-ts-dir").toString
    micros.write.parquet(s"$sparkDir/events.parquet")
    assert(tsOf(sparkDir).head == 1700000000000000000L)
    nanos.write.mode("overwrite").parquet(s"$sparkDir/events.parquet")
    assert(tsOf(sparkDir) == wantNanos)
  }

  test("a second registerAll starts no Spark job") {
    assume(new java.io.File(sf).isDirectory, s"$sf not present")
    // the first call may run the cached events-ts check, nothing else
    assert(jobsOf(Tables.registerAll(spark, sf)) <= 1)
    assert(jobsOf(Tables.registerAll(spark, sf)) == 0)
    assert(spark.sql("SELECT count(*) FROM region").head().getLong(0) == 5)
  }
}
