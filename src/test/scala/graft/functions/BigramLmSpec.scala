package graft.functions

import org.apache.spark.sql.functions._

import graft.ext.TextStats
import graft.pumle.SparkSpec

/** Compiled `bigram_lm` vs the relational [[TextStats.bigramLmScore]]:
  * bit-equality, model parquet round-trip, and stateless streaming. */
class BigramLmSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the cat"),
      (3L, "a completely different sentence with rare words"),
      (4L, "the the the the"),   // degenerate repetition
      (5L, "solo"),              // one word: no pairs, must drop
      (6L, ""),                  // empty: one empty token, no pairs
      (7L, "the cat"),
      (8L, "x y x y x y x y"))
      .toDF("doc_id", "text")
  }

  test("compiled narrow score is bit-identical to the relational form") {
    val model = TextStats.trainLmModel(docs, vocabSize = 6, topBigrams = 5)
    val narrow = TextStats.lmScoreNarrow(spark, docs, model)
      .orderBy("doc_id").collect().toSeq
    val relational = TextStats.bigramLmScore(docs, vocabSize = 6,
        topBigrams = 5)
      .orderBy("doc_id").collect().toSeq
    assert(narrow.nonEmpty)
    assert(narrow == relational)
    // docs 5 and 6 have no pairs — both forms must drop them
    val ids = narrow.map(_.getLong(0)).toSet
    assert(!ids.contains(5L) && !ids.contains(6L))
  }

  test("model parquet round-trip scores identically; plan stays narrow") {
    val dir = graft.core.TempDir("lmmodel").toString
    val model = TextStats.trainLmModel(docs)
    TextStats.writeLmModel(spark, model, dir)
    val reloaded = TextStats.loadLmModel(spark, dir)
    val a = TextStats.lmScoreNarrow(spark, docs, model)
      .orderBy("doc_id").collect().toSeq
    val b = TextStats.lmScoreNarrow(spark, docs, reloaded)
      .orderBy("doc_id").collect().toSeq
    assert(a == b && a.nonEmpty)
    // scoring is one compiled pass: no shuffle, no join, no generator.
    // Score a parquet-backed frame — a local Seq collapses to
    // LocalTableScan under ConvertToLocalRelation and hides the plan.
    val docDir = graft.core.TempDir("lmdocs").toString
    docs.write.mode("overwrite").parquet(docDir)
    val p = TextStats.lmScoreNarrow(spark, spark.read.parquet(docDir),
      reloaded).queryExecution.executedPlan.toString
    assert(p.contains("bigram_lm"), p)
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Generate"), p)
  }

  test("scoring a stream against a persisted model is stateless and batch-equal") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val model = TextStats.trainLmModel(docs)
    val mem = MemoryStream[(Long, String)]
    val out = TextStats.lmScoreNarrow(spark,
      mem.toDF().toDF("doc_id", "text"), model)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("lmn").start()
    mem.addData((10L, "the cat sat on the mat"), (11L, "solo"),
      (12L, "unseen words entirely here"))
    q.processAllAvailable()
    val got = spark.sql("SELECT * FROM lmn").orderBy("doc_id").collect().toSeq
    val want = TextStats.lmScoreNarrow(spark,
        Seq((10L, "the cat sat on the mat"), (11L, "solo"),
          (12L, "unseen words entirely here")).toDF("doc_id", "text"), model)
      .orderBy("doc_id").collect().toSeq
    assert(got == want)
    assert(got.map(_.getLong(0)) == Seq(10L, 12L)) // 11 has no pairs
    q.stop()
  }
}
