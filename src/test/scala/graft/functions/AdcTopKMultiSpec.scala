package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.pumle.SparkSpec

/** The fused ADC search (adc_topk_multi — one global aggregate over
  * the code scan, driver-built query tables) must return EXACTLY what
  * the crossJoin + adc_sum_flat + round(,6) + topk_min relational form
  * it replaces returns — same rounded scores, ids, ranks — on corpora
  * engineered to stress every decision: exact duplicate vectors (6-dp
  * ties, id tie-breaks), near-ties straddling the lazy-round margin,
  * self-pairs (q_id = n_id excluded per query), malformed code rows
  * (null / out-of-range codes contribute nothing), NaN query vectors,
  * and multi-partition scans (real partial/merge paths). */
class AdcTopKMultiSpec extends SparkSpec {

  private val dims = 8

  /** Embeddings with planted exact duplicates and tight near-ties. */
  private def emb: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 60).map { i =>
      val base = Array.fill(dims)((rnd.nextInt(100) - 50) / 25.0f)
      (i.toLong, base)
    } ++ (60 until 70).map { i =>
      // exact duplicates of vector 0: identical dists, id tie-break
      (i.toLong, Array.fill(dims)(0.5f))
    } ++ (70 until 80).map { i =>
      // near-ties: single-ulp-ish nudges around one direction
      val v = Array.fill(dims)(0.25f)
      v(0) = 0.25f + (i - 75) * 1e-7f
      (i.toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  /** The relational SQ pipeline this round replaced — verbatim. */
  private def sqRelational(queryPred: org.apache.spark.sql.Column,
      topK: Int, embIn: DataFrame = emb): DataFrame = {
    Functions.registerAll(spark)
    val (mins, maxs) = Similarity.sqMinMax(spark, embIn, dims)
    val codes = Similarity.sqEncodeCodes(embIn, mins, maxs)
      .select(col("vec_id").as("n_id"), col("codes"))
    val queries = embIn.filter(queryPred)
      .select(col("vec_id").as("q_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vq"))
      .withColumn("qmn", typedLit(mins))
      .withColumn("qmx", typedLit(maxs))
      .withColumn("tbl", expr(
        s"""transform(sequence(1, $dims), d ->
           |  transform(sequence(0, 255), c ->
           |    (element_at(vq, d) - (element_at(qmn, d)
           |       + CAST(c AS DOUBLE) / 255.0
           |         * (element_at(qmx, d) - element_at(qmn, d))))
           |    * (element_at(vq, d) - (element_at(qmn, d)
           |       + CAST(c AS DOUBLE) / 255.0
           |         * (element_at(qmx, d) - element_at(qmn, d))))))"""
          .stripMargin))
      .select(col("q_id"), flatten(col("tbl")).as("tbl"))
    codes.repartition(8).crossJoin(broadcast(queries))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("dist2", round(expr("adc_sum_flat(tbl, codes, 256)"), 6))
      .groupBy(col("q_id"))
      .agg(expr(s"topk_min(dist2, n_id, $topK)").as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("i", "e")))
      .select(col("q_id"), (col("i") + 1).cast("long").as("rank"),
        col("e.id").as("n_id"), col("e.score").as("dist2"))
  }

  // score as canonical bits: tuple == on boxed doubles is IEEE
  // (NaN != NaN), and the driver's hash compare is bitwise anyway
  private def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .sortBy(t => (t._1, t._2)).toSeq

  private val nanBits = java.lang.Double.doubleToLongBits(Double.NaN)

  test("sqSearch ≡ the relational crossJoin+round+topk_min form, ties and near-ties included") {
    val got = rows(Similarity.sqSearch(spark, emb, col("vec_id") % 7 === 0, 4, dims))
    val want = rows(sqRelational(col("vec_id") % 7 === 0, 4))
    assert(got.nonEmpty)
    assert(got == want)
    // duplicate-heavy query (60..69 are exact copies of one vector):
    // querying one copy must rank its siblings first, in id order
    val got0 = rows(Similarity.sqSearch(spark, emb, col("vec_id") === 60, 5, dims))
    val want0 = rows(sqRelational(col("vec_id") === 60, 5))
    assert(got0 == want0)
    assert(got0.map(_._3).take(3) == Seq(61L, 62L, 63L))
  }

  test("pqSearchADC ≡ the relational form on the fixed codebook, k larger than matches") {
    Functions.registerAll(spark)
    val cbs = Similarity.fixedCodebooks(m = 4, k = 8, subDim = dims / 4)
    val codes = Similarity.pqEncode(spark, emb, cbs)
    val m = cbs.length
    val subDim = cbs.head.head.length
    val queries = emb.filter(col("vec_id") % 9 === 0)
      .select(col("vec_id").as("q_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vq"))
      .withColumn("cb", typedLit(cbs))
      .withColumn("tbl", expr(
        s"""transform(sequence(0, ${m - 1}), s ->
          |  transform(element_at(cb, s + 1), cw ->
          |    aggregate(zip_with(slice(vq, s * $subDim + 1, $subDim), cw,
          |      (a, b) -> (a - b) * (a - b)), CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)))"""
          .stripMargin))
      .select(col("q_id"), flatten(col("tbl")).as("tbl"))
    val want = rows(codes.select(col("vec_id").as("n_id"), col("codes"))
      .repartition(8).crossJoin(broadcast(queries))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc_dist2",
        round(expr(s"adc_sum_flat(tbl, codes, ${cbs.head.length})"), 6))
      .groupBy(col("q_id"))
      .agg(expr("topk_min(adc_dist2, n_id, 6)").as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("i", "e")))
      .select(col("q_id"), (col("i") + 1).cast("long").as("rank"),
        col("e.id").as("n_id"), col("e.score").as("adc_dist2")))
    val got = rows(Similarity.pqSearchADC(spark, emb, codes, cbs,
      col("vec_id") % 9 === 0, 6))
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("malformed code rows contribute no candidate (null / out-of-range / wrong arity)") {
    import spark.implicits._
    val cbs = Similarity.fixedCodebooks(m = 4, k = 8, subDim = dims / 4)
    val good = Similarity.pqEncode(spark, emb, cbs)
    val bad = Seq(
      (900L, Seq[Any](1L, 2L, 3L, null)),     // null code
      (901L, Seq[Any](1L, 2L, 3L, 99L)),      // out of range
      (902L, Seq[Any](1L, 2L))                // wrong arity
    ).map { case (id, cs) => (id, cs.map(x =>
      if (x == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(x.asInstanceOf[Long]))) }
      .toDF("vec_id", "codes")
    val mixed = good.select(col("vec_id"), col("codes").cast("array<long>"))
      .unionByName(bad)
    val got = rows(Similarity.pqSearchADC(spark, emb, mixed, cbs,
      col("vec_id") % 9 === 0, 6))
    val clean = rows(Similarity.pqSearchADC(spark, emb, good, cbs,
      col("vec_id") % 9 === 0, 6))
    assert(got == clean)
    assert(!got.exists(t => t._3 >= 900L))
  }

  test("NaN query vectors rank their candidates last, as the relational form does") {
    import spark.implicits._
    val withNaN = emb.unionByName(
      Seq((500L, Array.fill(dims)(Float.NaN))).toDF("vec_id", "embedding"))
    def relational(topK: Int): Seq[(Long, Long, Long, Long)] = {
      Functions.registerAll(spark)
      val (mins, maxs) = Similarity.sqMinMax(spark, withNaN, dims)
      val codes = Similarity.sqEncodeCodes(withNaN, mins, maxs)
        .select(col("vec_id").as("n_id"), col("codes"))
      val queries = withNaN.filter(col("vec_id") >= 499)
        .select(col("vec_id").as("q_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vq"))
        .withColumn("qmn", typedLit(mins)).withColumn("qmx", typedLit(maxs))
        .withColumn("tbl", expr(
          s"""transform(sequence(1, $dims), d ->
             |  transform(sequence(0, 255), c ->
             |    (element_at(vq, d) - (element_at(qmn, d)
             |       + CAST(c AS DOUBLE) / 255.0
             |         * (element_at(qmx, d) - element_at(qmn, d))))
             |    * (element_at(vq, d) - (element_at(qmn, d)
             |       + CAST(c AS DOUBLE) / 255.0
             |         * (element_at(qmx, d) - element_at(qmn, d))))))"""
            .stripMargin))
        .select(col("q_id"), flatten(col("tbl")).as("tbl"))
      rows(codes.crossJoin(broadcast(queries))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("dist2", round(expr("adc_sum_flat(tbl, codes, 256)"), 6))
        .groupBy(col("q_id"))
        .agg(expr(s"topk_min(dist2, n_id, $topK)").as("tk"))
        .select(col("q_id"), posexplode(col("tk")).as(Seq("i", "e")))
        .select(col("q_id"), (col("i") + 1).cast("long").as("rank"),
          col("e.id").as("n_id"), col("e.score").as("dist2")))
    }
    val got = rows(Similarity.sqSearch(spark, withNaN,
      col("vec_id") >= 499, 3, dims))
    assert(got == relational(3))
    // the NaN query's top-k are all NaN-scored, id order
    val nanRows = got.filter(_._1 == 500L)
    assert(nanRows.nonEmpty && nanRows.forall(_._4 == nanBits))
    assert(nanRows.map(_._3) == nanRows.map(_._3).sorted)
  }

  test("empty query batch returns the empty contract schema") {
    val out = Similarity.sqSearch(spark, emb, col("vec_id") < 0, 3, dims)
    assert(out.columns.toSeq == Seq("q_id", "rank", "n_id", "dist2"))
    assert(out.count() == 0)
  }

  test("large-magnitude tables: fused ≡ relational when table sums dwarf the quantum") {
    // ×3e5 inputs put per-term squares near 1e10 and full sums near
    // 1e12 — ulp(sum) ≈ 2.4e-4, 240× the 6-dp quantum: the regime the
    // early-abandon margin must derive from the FULL-sum bound
    // (QueryAdcTables.maxSum), where a bare 0.1·quantum slack would
    // be orders of magnitude below kth's decimal→double displacement.
    val big = emb.select(col("vec_id"),
      expr("transform(embedding, x -> x * CAST(300000.0 AS FLOAT))")
        .as("embedding"))
    val got = rows(Similarity.sqSearch(spark, big, col("vec_id") % 7 === 0,
      4, dims))
    val want = rows(sqRelational(col("vec_id") % 7 === 0, 4, big))
    assert(got.nonEmpty)
    assert(got == want)
    // the near-tie queries (70..79 differ by 1e-7 nudges pre-scaling)
    val gotTies = rows(Similarity.sqSearch(spark, big,
      col("vec_id") >= 70, 6, dims))
    assert(gotTies == rows(sqRelational(col("vec_id") >= 70, 6, big)))
  }

  test("query-batch degradation: null elements drop, identical dups collapse, conflicts fail") {
    val cbs = Similarity.fixedCodebooks(m = 4, k = 8, subDim = dims / 4)
    val codes = Similarity.pqEncode(spark, emb, cbs)
    val embD = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    val clean = rows(Similarity.pqSearchADC(spark, embD, codes, cbs,
      col("vec_id") % 9 === 0, 6))
    assert(clean.nonEmpty)
    // a query row with a null ELEMENT contributes no candidates (the
    // crossJoin form's null-propagation), instead of NPE-ing the
    // driver-side table build
    val withNull = embD.unionByName(spark.sql(
      "SELECT CAST(900 AS BIGINT) AS vec_id, " +
        "array(0.5D, 0.5D, CAST(NULL AS DOUBLE), 0.5D, 0.5D, 0.5D, 0.5D, 0.5D) AS embedding"))
    val gotNull = rows(Similarity.pqSearchADC(spark, withNull, codes, cbs,
      col("vec_id") % 9 === 0 || col("vec_id") === 900L, 6))
    assert(gotNull == clean)
    // duplicate query rows with bit-identical embeddings collapse
    val dup = embD.unionByName(embD.filter(col("vec_id") === 0L))
    assert(rows(Similarity.pqSearchADC(spark, dup, codes, cbs,
      col("vec_id") % 9 === 0, 6)) == clean)
    // conflicting duplicates fail descriptively, not via the bare
    // QueryAdcTables ascending-ids require
    val conflict = embD.unionByName(embD.filter(col("vec_id") === 9L)
      .select(col("vec_id"),
        expr("transform(embedding, x -> x + 1.0D)").as("embedding")))
    val e = intercept[IllegalArgumentException] {
      Similarity.pqSearchADC(spark, conflict, codes, cbs,
        col("vec_id") % 9 === 0, 6)
    }
    assert(e.getMessage.contains("duplicate query vec_id"))
  }
}
