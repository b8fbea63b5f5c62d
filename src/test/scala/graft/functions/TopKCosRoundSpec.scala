package graft.functions

import org.apache.spark.sql.functions._

import graft.pumle.SparkSpec

/** topk_cos_round(raw, id, k, s) must return EXACTLY what the
  * sentinel + negate + round + topk_min chain returns —
  * `topk_min(CASE WHEN isnan(round(raw, s)) THEN -Inf
  *  ELSE -(round(raw, s) + 0.0) END, id, k)` — on streams stressing
  * every decision: planted scale-s ties with distinct raws, cosines
  * rounding to exactly +0.0 (the −0.0 buffered boundary), NaN
  * zero-norm sentinels mixed with numerics, all-NaN groups, groups
  * smaller than k, and shuffled arrival orders across partitions. */
class TopKCosRoundSpec extends SparkSpec {

  private def compare(rows: Seq[(Long, Double, Long)], k: Int,
      scale: Int): Unit = {
    import spark.implicits._
    Functions.registerAll(spark)
    val df = rows.toDF("g", "c", "id").repartition(8)
    def shape(agg: String) = df
      .groupBy(col("g")).agg(expr(agg).as("tk"))
      .select(col("g"), posexplode(col("tk")).as(Seq("i", "e")))
      .select(col("g"), col("i"),
        col("e.id"),
        when(col("e.score") === Double.NegativeInfinity, Double.NaN)
          .otherwise(-col("e.score")).as("cos"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .sortBy(t => (t._1, t._2)).toSeq
    val want = shape(
      s"""topk_min(CASE WHEN isnan(round(c, $scale)) THEN CAST('-Infinity' AS DOUBLE)
         |ELSE -(round(c, $scale) + 0.0D) END, id, $k)""".stripMargin)
    val got = shape(s"topk_cos_round(c, id, $k, $scale)")
    assert(got == want)
  }

  test("planted 4-dp ties, +0.0 roundings, NaNs, shuffled orders") {
    val base = Seq(
      0.99995, 0.9999499999, 0.99994, 0.999951, 1.0, 0.99985,
      -0.00004, 0.00004, -0.000049999, 0.00005, -0.00005, // → ±0 at 4dp
      0.5, 0.50005, 0.49995, -1.0, Double.NaN, Double.NaN)
    val rows = base.zipWithIndex.map { case (c, i) => (1L, c, i.toLong + 10) }
    compare(rows, k = 3, scale = 4)
    compare(rows.reverse, k = 3, scale = 4)
    compare(scala.util.Random.shuffle(rows), k = 5, scale = 4)
    compare(rows, k = 100, scale = 4) // k > group size
  }

  test("all-NaN groups rank by id; numeric never beats k sentinels") {
    val rows = Seq(
      (1L, Double.NaN, 5L), (1L, Double.NaN, 3L), (1L, Double.NaN, 9L),
      (1L, 0.9, 1L),
      (2L, Double.NaN, 7L), (2L, 0.8, 2L))
    compare(rows, k = 2, scale = 4)
    compare(rows, k = 3, scale = 4)
  }

  test("random fuzz clustered at 4-dp boundaries") {
    val rnd = new scala.util.Random(29)
    val rows = (0 until 4000).map { i =>
      val g = (i % 5).toLong
      val c = 0.9 + rnd.nextInt(20) * 1e-4 / 2.0 + (rnd.nextInt(9) - 4) * 1e-7
      (g, if (i % 37 == 0) Double.NaN else c, i.toLong)
    }
    compare(rows, k = 4, scale = 4)
    compare(rows, k = 7, scale = 6)
  }
}
