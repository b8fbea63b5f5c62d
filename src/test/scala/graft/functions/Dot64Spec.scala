package graft.functions

import org.apache.spark.sql.functions._

import graft.pumle.SparkSpec

/** dot64 must agree exactly with the interpreted HOF fold it replaces
  * (same index-order double accumulation). */
class Dot64Spec extends SparkSpec {

  test("dot64 == aggregate(zip_with(...)) bit-for-bit") {
    import spark.implicits._
    Functions.registerAll(spark)
    val rnd = new scala.util.Random(7)
    val rows = (1 to 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() - 0.5),
        Array.fill(64)(rnd.nextDouble() - 0.5))
    }
    val df = rows.toDF("id", "a", "b")
    val both = df.select(
      expr("dot64(a, b)").as("fast"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, z) -> acc + z)").as("hof"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("dot64 handles empty and mismatched lengths") {
    import spark.implicits._
    Functions.registerAll(spark)
    val df = Seq(
      (Array.empty[Double], Array.empty[Double]),
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0))).toDF("a", "b")
    val r = df.select(expr("dot64(a, b)")).collect().map(_.getDouble(0))
    assert(r(0) == 0.0)
    assert(r(1) == 1.0 * 4.0 + 2.0 * 5.0) // min-length fold
  }

  test("dot64 coerces numeric (int/decimal) arrays to double") {
    import spark.implicits._
    Functions.registerAll(spark)
    val r = Seq((Array(1, 2), Array(3, 4))).toDF("a", "b")
      .select(expr("dot64(a, b)")).head().getDouble(0)
    assert(r == 11.0)
    // SQL decimal literals (the ANSI default for array(1.0, ...))
    val r2 = spark.sql("SELECT dot64(array(1.0, 2.0, 3.0), array(4.0, 5.0, 6.0))")
      .head().getDouble(0)
    assert(r2 == 32.0)
  }
}
