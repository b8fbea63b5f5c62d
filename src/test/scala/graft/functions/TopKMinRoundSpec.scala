package graft.functions

import org.apache.spark.sql.functions._

import graft.pumle.SparkSpec

/** topk_min_round(raw, id, k, s) must return EXACTLY what
  * topk_min(round(raw, s), id, k) returns — same rounded scores, same
  * ids, same order — on streams engineered to stress the skip margin:
  * planted scale-s rounding ties with distinct raw values straddling
  * the kth boundary, values within one ulp of a decimal midpoint,
  * exact duplicates (id tie-breaks), NaN candidates, groups smaller
  * than k, and inputs in descending/ascending/shuffled arrival order
  * (arrival order exercises different skip/insert interleavings; the
  * verdict must not depend on it). */
class TopKMinRoundSpec extends SparkSpec {

  private def compare(rows: Seq[(Long, Double, Long)], k: Int,
      scale: Int): Unit = {
    import spark.implicits._
    Functions.registerAll(spark)
    val df = rows.toDF("g", "s", "id")
    // force real partial/merge paths: many partitions per group
    val spread = df.repartition(8)
    val want = spread
      .withColumn("r", round(col("s"), scale))
      .groupBy(col("g")).agg(expr(s"topk_min(r, id, $k)").as("tk"))
      .orderBy("g").collect().map(r => (r.getLong(0), r.getSeq[Any](1)))
    val got = spread
      .groupBy(col("g")).agg(expr(s"topk_min_round(s, id, $k, $scale)").as("tk"))
      .orderBy("g").collect().map(r => (r.getLong(0), r.getSeq[Any](1)))
    assert(got.toSeq == want.toSeq)
  }

  test("planted 6-dp ties straddling the kth boundary, all arrival orders") {
    // base scores sit on/near 6-dp midpoints: raw-distinct values that
    // round equal, and sub-margin neighbours that must NOT be skipped
    val base = Seq(
      1.0000004, 1.00000049999, 1.0000005, 1.00000050001, 1.0000006,
      1.0000014999, 1.0000015, 1.0000025, 0.9999995, 0.99999949,
      2.0, 2.0000001, 2.0000009, 1.9999991)
    val ids = base.indices.map(_.toLong + 10)
    val rows = base.zip(ids).map { case (s, i) => (1L, s, i) }
    compare(rows, k = 3, scale = 6)
    compare(rows.reverse, k = 3, scale = 6)
    compare(scala.util.Random.shuffle(rows), k = 3, scale = 6)
    compare(rows, k = 5, scale = 6)
    compare(rows, k = 100, scale = 6) // k > group size
  }

  test("exact duplicates break to the smaller id, duplicated ACROSS partitions") {
    val rows = (0 until 64).map(i => (1L, 5.1234565, (100 - i).toLong)) ++
      Seq((1L, 5.1234564, 7L), (1L, 5.123457, 8L), (1L, 5.1234575, 9L))
    compare(rows, k = 4, scale = 6)
  }

  test("NaN candidates rank last; all-NaN groups rank by id") {
    val rows = Seq(
      (1L, Double.NaN, 1L), (1L, 3.0, 2L), (1L, 1.0000004, 3L),
      (1L, Double.NaN, 4L), (1L, 2.0, 5L),
      (2L, Double.NaN, 11L), (2L, Double.NaN, 12L), (2L, Double.NaN, 13L))
    compare(rows, k = 2, scale = 6)
    compare(rows, k = 4, scale = 6)
  }

  test("random fuzz at scales 4 and 6 equals round-then-topk_min") {
    val rnd = new scala.util.Random(7)
    // cluster values tightly so rounding ties are common
    val rows = (0 until 4000).map { i =>
      val g = (i % 5).toLong
      val s = 1.0 + rnd.nextInt(20) * 1e-6 + (rnd.nextInt(9) - 4) * 1e-8
      (g, s, i.toLong)
    }
    compare(rows, k = 3, scale = 6)
    compare(rows, k = 7, scale = 4)
  }

  test("large-magnitude scores: ulp slack keeps the skip exact") {
    // |x| big enough that ulp(x) is comparable to the 6-dp quantum —
    // the margin's 4·ulp term is what keeps the skip conservative
    val rows = Seq.tabulate(50)(i => (1L, 4.0e9 + i * 0.2, i.toLong)) ++
      Seq((1L, 4.0e9 + 0.0000004, 1000L))
    compare(rows, k = 3, scale = 6)
  }

  test("negative scores round like Spark round (no -0.0 emitted)") {
    val rows = Seq((1L, -1e-9, 1L), (1L, -0.0000004, 2L),
      (1L, -0.0000006, 3L), (1L, 1e-9, 4L), (1L, -1.0000005, 5L))
    compare(rows, k = 3, scale = 6)
    import spark.implicits._
    Functions.registerAll(spark)
    val out = rows.toDF("g", "s", "id")
      .groupBy(col("g")).agg(expr("topk_min_round(s, id, 5, 6)").as("tk"))
      .select(explode(col("tk.score"))).collect().map(_.getDouble(0))
    assert(out.forall(s =>
      java.lang.Double.compare(s, -0.0) != 0 || s != 0.0),
      s"-0.0 leaked: ${out.toSeq}")
  }
}
