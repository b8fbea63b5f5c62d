package graft.functions

import org.apache.spark.sql.functions._

import graft.pumle.SparkSpec

/** round_ge(x, t, s) must equal `round(x, s) >= t` exactly — planted
  * values straddling both margin boundaries, decimal midpoints within
  * one ulp, NaN/Inf, negative thresholds, and a dense random sweep. */
class RoundGeSpec extends SparkSpec {

  private def exact(x: Double, t: Double, scale: Int): Boolean = {
    val r =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
    r >= t
  }

  test("planted boundary values at scale 4 and 6") {
    val cases = Seq(
      // around t = 0.35 at scale 4: midpoints, one-ulp nudges
      (0.35, 4), (0.34995, 4), (0.3499499999, 4), (0.34994, 4),
      (0.3500499, 4), (0.35005, 4), (0.3501, 4), (0.3499, 4),
      (0.349949999999999, 4), (0.350050000000001, 4),
      // far from the boundary (the skip paths)
      (0.9, 4), (-0.9, 4), (0.0, 4), (-0.0, 4),
      // scale 6
      (0.3499995, 6), (0.3500005, 6), (0.35000049999, 6),
      // specials
      (Double.NaN, 4), (Double.PositiveInfinity, 4),
      (Double.NegativeInfinity, 4))
    for ((x, s) <- cases; t <- Seq(0.35, -0.35, 0.0)) {
      assert(RoundGe.compute(x, t, s) == exact(x, t, s),
        s"x=$x t=$t s=$s")
    }
  }

  test("dense random sweep clustered at the threshold") {
    val rnd = new scala.util.Random(13)
    var i = 0
    while (i < 200000) {
      val s = if (i % 2 == 0) 4 else 6
      val q = math.pow(10.0, -s)
      val t = Seq(0.35, 0.7, -0.1)(i % 3)
      val x = t + (rnd.nextInt(41) - 20) * q / 10.0 +
        (rnd.nextInt(9) - 4) * q / 1e7
      assert(RoundGe.compute(x, t, s) == exact(x, t, s), s"x=$x t=$t s=$s")
      i += 1
    }
  }

  test("SQL registration and null propagation") {
    import spark.implicits._
    Functions.registerAll(spark)
    val out = Seq(Some(0.36), Some(0.34), Some(0.34995), None)
      .toDF("x")
      .selectExpr("round_ge(x, CAST(0.35 AS DOUBLE), 4) AS v")
      .collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0))
    assert(out.toSeq == Seq(true, false, true, null))
  }
}
