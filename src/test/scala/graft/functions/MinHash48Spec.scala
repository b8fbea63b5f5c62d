package graft.functions

import org.apache.spark.sql.functions._

import graft.pumle.SparkSpec

/** The custom expression must agree exactly with the relational
  * (explode + aggregate) formulation it replaces — and with DuckDB's
  * md5 arithmetic (hex48 == substr(md5(sh),1,12)). */
class MinHash48Spec extends SparkSpec {

  test("hex48 equals substr(md5(sh),1,12)") {
    import spark.implicits._
    for (sh <- Seq("abcdefgh", "12345678", "x", "héllo!!!")) {
      val viaSpark = Seq(sh).toDF("s")
        .select(substring(md5(col("s")), 1, 12)).head().getString(0)
      assert(MinHash48.hex48(sh) == viaSpark, sh)
    }
  }

  test("expression signature == relational explode+min signature") {
    import spark.implicits._
    Functions.registerAll(spark)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "short"),
      (3L, "aaaaaaaaaaaaaaaaaa"),
      (4L, "12345678")).toDF("doc_id", "text")
    val viaExpr = docs
      .select(col("doc_id"), expr("minhash48(text)").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val aggs = MinHash48.defaultSalts.zipWithIndex.map { case (salt, p) =>
      min(col("h48").bitwiseXOR(lit(salt))).as(s"m$p")
    }
    val relational = docs
      .withColumn("pos", explode(sequence(lit(1), greatest(length(col("text")) - 7, lit(1)))))
      .select(col("doc_id"), col("text").substr(col("pos"), lit(8)).as("sh"))
      .withColumn("h48", conv(substring(md5(col("sh")), 1, 12), 16, 10).cast("long"))
      .groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getLong(0) ->
        (1 to 8).map(i => r.getLong(i)).toSeq).toMap
    assert(viaExpr.keySet == relational.keySet)
    viaExpr.foreach { case (id, sig) =>
      assert(sig == relational(id), s"doc $id")
    }
  }

  test("expression plan is narrow: no Exchange, no Generate") {
    import spark.implicits._
    Functions.registerAll(spark)
    val p = Seq((1L, "hello world document"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), expr("minhash48(text)"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Generate"), p)
  }

  test("null text yields null signature") {
    import spark.implicits._
    Functions.registerAll(spark)
    val r = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(expr("minhash48(text)")).head()
    assert(r.isNullAt(0))
  }
}
