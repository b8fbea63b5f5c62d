package graft.functions

import graft.pumle.SparkSpec

/** adc_sum must be bit-identical to the interpreted higher-order form
  * it replaced on the PQ/SQ search hot loops (left-to-right fold,
  * double accumulator) — the oracle contracts (q127/q132) depend on
  * that exact arithmetic. */
class AdcSumSpec extends SparkSpec {

  test("adc_sum equals the interpreted aggregate/zip_with fold") {
    Functions.registerAll(spark)
    val df = spark.range(50).selectExpr(
      "id",
      // ragged-ish deterministic table: 8 rows x 16 codes
      """transform(sequence(0, 7), d -> transform(sequence(0, 15), c ->
        |  CAST(pmod(id * 31 + d * 7 + c * 3, 997) AS DOUBLE) / 31.0)) AS tbl"""
        .stripMargin,
      "transform(sequence(0, 7), d -> pmod(id * 13 + d * 5, 16)) AS codes")
    val r = df.selectExpr(
      "adc_sum(tbl, codes) AS fast",
      """aggregate(zip_with(tbl, codes, (t, c) -> element_at(t, CAST(c AS INT) + 1)),
        |  CAST(0.0 AS DOUBLE), (acc, z) -> acc + z) AS slow""".stripMargin)
      .collect()
    r.foreach(row => assert(row.getDouble(0) == row.getDouble(1)))
  }

  test("adc_sum accepts int-typed code arrays (implicit cast)") {
    Functions.registerAll(spark)
    val r = spark.sql(
      """SELECT adc_sum(array(array(1.0d, 2.0d), array(3.0d, 4.0d)),
        |               array(1, 0)) AS s""".stripMargin).head()
    assert(r.getDouble(0) == 2.0 + 3.0)
  }

  // adc_sum is registered SESSION-WIDE (Functions.registerAll +
  // GraftExtensions), so arbitrary user SQL reaches it — malformed
  // input must return NULL (the contract of the aggregate/zip_with
  // form it replaced: zip_with pads the shorter array with nulls,
  // element_at is NULL out of range), never an unchecked
  // UnsafeArrayData read returning garbage.
  test("adc_sum is NULL on length mismatch, out-of-range or null codes") {
    Functions.registerAll(spark)
    val rows = spark.sql(
      """SELECT
        |  adc_sum(array(array(1.0d, 2.0d), array(3.0d, 4.0d)),
        |          array(1, 0, 5)) AS len_mismatch,
        |  adc_sum(array(array(1.0d, 2.0d), array(3.0d, 4.0d)),
        |          array(1, 9)) AS code_high,
        |  adc_sum(array(array(1.0d, 2.0d), array(3.0d, 4.0d)),
        |          array(1, -1)) AS code_negative,
        |  adc_sum(array(array(1.0d, 2.0d), array(3.0d, 4.0d)),
        |          array(1, CAST(NULL AS BIGINT))) AS code_null,
        |  adc_sum(CAST(NULL AS ARRAY<ARRAY<DOUBLE>>),
        |          array(1, 0)) AS tbl_null""".stripMargin).head()
    (0 until 5).foreach(i => assert(rows.isNullAt(i),
      s"column $i should be NULL"))
    // and the interpreted twin agrees on the length-mismatch case
    val twin = spark.sql(
      """SELECT aggregate(zip_with(array(array(1.0d, 2.0d), array(3.0d, 4.0d)),
        |  array(1, 0, 5), (t, c) -> element_at(t, CAST(c AS INT) + 1)),
        |  CAST(0.0 AS DOUBLE), (acc, z) -> acc + z) AS slow""".stripMargin)
      .head()
    assert(twin.isNullAt(0))
  }

  test("adc_sum_flat(flatten(tbl), codes, w) is bit-equal to adc_sum(tbl, codes)") {
    Functions.registerAll(spark)
    val df = spark.range(200).selectExpr(
      "id",
      // uniform 8 rows x 16 codes (the flat form's precondition)
      """transform(sequence(0, 7), d -> transform(sequence(0, 15), c ->
        |  CAST(pmod(id * 31 + d * 7 + c * 3, 997) AS DOUBLE) / 31.0)) AS tbl"""
        .stripMargin,
      "transform(sequence(0, 7), d -> pmod(id * 13 + d * 5, 16)) AS codes")
    val r = df.selectExpr(
      "adc_sum_flat(flatten(tbl), codes, 16) AS flat",
      "adc_sum(tbl, codes) AS nested").collect()
    r.foreach { row =>
      assert(java.lang.Double.doubleToRawLongBits(row.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(row.getDouble(1)))
    }
  }

  test("adc_sum_flat: NULL on size/width mismatch, bad or null codes; int codes cast") {
    Functions.registerAll(spark)
    val rows = spark.sql(
      """SELECT
        |  adc_sum_flat(array(1.0d, 2.0d, 3.0d, 4.0d), array(1, 0, 1), 2)
        |    AS size_mismatch,
        |  adc_sum_flat(array(1.0d, 2.0d, 3.0d, 4.0d), array(1, 2), 2)
        |    AS code_high,
        |  adc_sum_flat(array(1.0d, 2.0d, 3.0d, 4.0d), array(-1, 0), 2)
        |    AS code_negative,
        |  adc_sum_flat(array(1.0d, 2.0d, 3.0d, 4.0d),
        |               array(CAST(NULL AS BIGINT), 0), 2) AS code_null,
        |  adc_sum_flat(array(1.0d, NULL, 3.0d, 4.0d), array(1, 0), 2)
        |    AS elem_null""".stripMargin).head()
    (0 until 5).foreach(i => assert(rows.isNullAt(i),
      s"column $i should be NULL"))
    val ok = spark.sql(
      "SELECT adc_sum_flat(array(1.0d, 2.0d, 3.0d, 4.0d), array(1, 0), 2) AS s")
      .head().getDouble(0)
    assert(ok == 2.0 + 3.0)
    val intCodes = spark.sql(
      "SELECT adc_sum_flat(array(1.0d, 2.0d, 3.0d, 4.0d), array(0, 1), 2) AS s")
      .head().getDouble(0)
    assert(intCodes == 1.0 + 4.0)
  }
}
