package graft.functions

import org.apache.spark.sql.expressions.{Window => SqlWindow}
import org.apache.spark.sql.functions._

import graft.pumle.SparkSpec

/** centroid_topk must return EXACTLY what the crossJoin + rank-window
  * form it replaces returns — same (round(cos, 4) DESC, centroid_id)
  * ranking, same rounded values, NaN-first zero-norm semantics — on
  * corpora engineered to stress every decision boundary: exact raw
  * ties (parallel-scaled centroids), 4 dp rounding ties with distinct
  * raw scores, dense near-tie spreads straddling the margin, zero-norm
  * vectors and zero-norm centroids. centroid_min_d2 must match the
  * interpreted array_min(transform(...)) HOF bit-for-bit. */
class CentroidTopKSpec extends SparkSpec {

  private val dims = 8

  private def buildCorpus(): (Seq[(Long, Seq[Double])], Seq[(Long, Seq[Double])]) = {
    val rnd = new scala.util.Random(42)
    def vec(): Seq[Double] = Seq.fill(dims)(rnd.nextDouble() - 0.5)
    val cents = scala.collection.mutable.ArrayBuffer[(Long, Seq[Double])]()
    var id = 0L
    (1 to 20).foreach { _ =>
      cents += ((id, vec())); id += 1
    }
    // exact raw ties: a centroid and its parallel rescale (cosine is
    // scale-invariant, so raw scores are identical — id must decide)
    (1 to 5).foreach { _ =>
      val c = vec()
      cents += ((id, c)); id += 1
      cents += ((id, c.map(_ * 1.7))); id += 1
    }
    // 4 dp ties with DISTINCT raw scores + margin stressers: tiny
    // single-coordinate nudges spreading raw cosines across
    // 1e-6..3e-4 around a shared direction
    (1 to 5).foreach { _ =>
      val c = vec()
      cents += ((id, c)); id += 1
      Seq(1e-6, 5e-6, 2e-5, 6e-5, 1.3e-4, 2.9e-4).foreach { eps =>
        cents += ((id, c.updated(0, c.head + eps))); id += 1
      }
    }
    cents += ((id, Seq.fill(dims)(0.0))); id += 1 // zero-norm centroid
    val rows = (0 until 200).map(i => (1000L + i, vec())) :+
      ((2000L, Seq.fill(dims)(0.0))) // zero-norm vector
    (rows, cents.toSeq)
  }

  private def frames() = {
    import spark.implicits._
    Functions.registerAll(spark)
    val (rows, cents) = buildCorpus()
    val base = rows.toDF("vec_id", "emb")
      .withColumn("v", expr("transform(emb, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", expr("sqrt(dot64(v, v))"))
    val cdf = cents.toDF("centroid_id", "cemb")
      .withColumn("cv", expr("transform(cemb, x -> CAST(x AS DOUBLE))"))
      .withColumn("cn", expr("sqrt(dot64(cv, cv))"))
      .select(col("centroid_id"), col("cv"), col("cn"))
    (base, cdf)
  }

  /** The replaced form, verbatim, with the cosineTopK zero-norm guard
    * (ANSI throws on the raw division): NaN ranks first under DESC. */
  private def windowTopK(base: org.apache.spark.sql.DataFrame,
      cdf: org.apache.spark.sql.DataFrame, k: Int): Map[Long, Seq[(Long, Double)]] = {
    val w = SqlWindow.partitionBy(col("vec_id"))
      .orderBy(col("qc").desc, col("centroid_id"))
    base.crossJoin(cdf)
      .withColumn("qc",
        when(col("nrm") * col("cn") === 0.0, lit(Double.NaN))
          .otherwise(round(expr("dot64(v, cv)") / (col("nrm") * col("cn")), 4)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("rk"), col("centroid_id"), col("qc"))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1))
        .map(r => (r.getLong(2), r.getDouble(3))).toSeq)
      .toMap
  }

  private def exprTopK(base: org.apache.spark.sql.DataFrame,
      cdf: org.apache.spark.sql.DataFrame, k: Int): Map[Long, Seq[(Long, Double)]] = {
    val model = CentroidModelRef.collect(cdf)
    CentroidTopK.register(spark, model)
    base.select(col("vec_id"),
        posexplode(expr(s"centroid_topk(v, nrm, $k)")).as(Seq("i", "e")))
      .select(col("vec_id"), col("i"), col("e.centroid_id"), col("e.cos"))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1))
        .map(r => (r.getLong(2), r.getDouble(3))).toSeq)
      .toMap
  }

  private def sameRanking(a: Map[Long, Seq[(Long, Double)]],
      b: Map[Long, Seq[(Long, Double)]]): Unit = {
    assert(a.keySet == b.keySet)
    a.foreach { case (id, wseq) =>
      val eseq = b(id)
      assert(wseq.length == eseq.length, s"vec $id: $wseq vs $eseq")
      wseq.zip(eseq).zipWithIndex.foreach { case (((wc, wcos), (ec, ecos)), r) =>
        assert(wc == ec, s"vec $id rank $r: centroid $wc vs $ec")
        assert(java.lang.Double.doubleToRawLongBits(wcos)
          == java.lang.Double.doubleToRawLongBits(ecos)
          || (wcos.isNaN && ecos.isNaN),
          s"vec $id rank $r: cos $wcos vs $ecos")
      }
    }
  }

  test("centroid_topk(k=1) == crossJoin + rank window, ties and zero norms included") {
    val (base, cdf) = frames()
    sameRanking(windowTopK(base, cdf, 1), exprTopK(base, cdf, 1))
  }

  test("centroid_topk(k=3) == the window at k=3") {
    val (base, cdf) = frames()
    sameRanking(windowTopK(base, cdf, 3), exprTopK(base, cdf, 3))
  }

  test("centroid_topk truncates k past the centroid count like the window") {
    val (base, cdf) = frames()
    sameRanking(windowTopK(base, cdf, 500), exprTopK(base, cdf, 500))
  }

  test("centroid_min_d2 == array_min(transform(...)) bit-for-bit") {
    val (base, _) = frames()
    val rnd = new scala.util.Random(9)
    val grid = Seq.tabulate(16)(j =>
      Seq.fill(dims)(rnd.nextDouble() - 0.5))
    val model = CentroidModelRef(grid.zipWithIndex.map {
      case (cw, j) => (j.toLong, cw, 0.0)
    })
    CentroidMinD2.register(spark, model)
    val both = base
      .withColumn("cb", typedLit(grid))
      .select(
        expr("centroid_min_d2(v)").as("fast"),
        expr("array_min(transform(cb, cw -> dot64(v, v) - 2 * dot64(v, cw) + dot64(cw, cw)))")
          .as("hof"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0))
        == java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }
}
