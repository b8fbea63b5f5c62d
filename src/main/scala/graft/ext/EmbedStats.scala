package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-matrix statistics: the d² second-moment pass (covariance)
  * and the PCA projection built on it — the whitening/dim-reduction
  * prep that runs before SemDeDup-style clustering or ANN indexing.
  *
  * Scale shape: covariance is THE textbook map-side-combinable
  * aggregate — each row contributes its upper-triangle outer product
  * (d(d+1)/2 = 2,080 terms at d=64), partial aggregation combines
  * within every task, and the shuffle carries only
  * `tasks × 2,080` partial rows regardless of corpus size. No
  * driver-side math until the result is already d², and d² is
  * metadata-scale (64² doubles = 32 KB) even when the corpus is 100 TB.
  * Sums follow the engine-wide DECIMAL discipline (per-term 9-dp round
  * → DECIMAL(28,9) exact addition), so accumulation order — which
  * differs across partitionings — cannot move the result between
  * engines or between cluster sizes.
  */
object EmbedStats {

  /** Centered covariance matrix of the embedding column, upper
    * triangle as (i, j, cov) rows (i ≤ j), 6-dp rounded.
    * cov(i,j) = (Σxᵢxⱼ − ΣxᵢΣxⱼ/n)/n — population covariance over
    * integer-nano-truncated terms (the [[graft.functions.CovMoments]]
    * exactness contract: identical truncated integers on both engines,
    * order-free integer sums, one double division at the end).
    *
    * The whole pass is ONE compiled `cov_moments` aggregate: each task
    * folds its rows into a flat 128-bit-limb buffer, the shuffle
    * carries one buffer per task, and the d² result materializes as a
    * single array row that a narrow posexplode unpacks — replacing a
    * d(d+1)/2-terms-per-row interpreted explode that was 19× slower
    * than the DuckDB oracle at sf0.1 (7.7s → ~0.3s). */
  def covariance(emb: DataFrame, dims: Int = 64,
      embCol: String = "embedding"): DataFrame = {
    graft.functions.Functions.registerAll(emb.sparkSession)
    val posToI: Seq[Int] =
      (0 until dims).flatMap(i => (i until dims).map(_ => i))
    val posToJ: Seq[Int] = (0 until dims).flatMap(i => i until dims)
    emb.filter(col(embCol).isNotNull)
      .select(expr(s"transform($embCol, x -> CAST(x AS DOUBLE))").as("v"))
      .agg(expr(s"cov_moments(v, $dims)").as("m"))
      .select(posexplode(col("m")).as(Seq("pos", "cov")))
      .withColumn("pi", typedLit(posToI))
      .withColumn("pj", typedLit(posToJ))
      .select(element_at(col("pi"), col("pos") + 1).cast("long").as("i"),
        element_at(col("pj"), col("pos") + 1).cast("long").as("j"),
        col("cov"))
  }

  /** Cyclic-Jacobi eigendecomposition of a symmetric d×d matrix —
    * driver-side, d is metadata-scale (64). Returns (eigenvalues,
    * eigenvectors as rows), sorted by eigenvalue DESCENDING with each
    * vector's sign canonicalized (first nonzero component positive) so
    * the decomposition is deterministic. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]],
      sweeps: Int = 30): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val vmat = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < sweeps && off > 1e-12) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          off += math.abs(a(p)(q))
          if (math.abs(a(p)(q)) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < d) {
              val vkp = vmat(k)(p); val vkq = vmat(k)(q)
              vmat(k)(p) = c * vkp - s * vkq
              vmat(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    val evals = order.map(i => a(i)(i)).toArray
    val evecs = order.map { i =>
      val vec = Array.tabulate(d)(k => vmat(k)(i))
      val firstNz = vec.indexWhere(x => math.abs(x) > 1e-12)
      if (firstNz >= 0 && vec(firstNz) < 0) vec.map(-_) else vec
    }.toArray
    (evals, evecs)
  }

  /** PCA projection to `outDims` components: one distributed covariance
    * pass ([[covariance]]), a driver-side Jacobi eigendecomposition of
    * the d×d result (metadata-scale), then a NARROW mean-centered
    * projection of the corpus onto the top eigenvectors held as a
    * literal — the same broadcast-model shape as
    * [[Similarity.randomProject]], but data-adaptive. Returns
    * (vec_id, proj: array<double> of outDims, 6-dp rounded). */
  def pcaProject(spark: SparkSession, emb: DataFrame, outDims: Int = 8,
      dims: Int = 64, embCol: String = "embedding"): DataFrame = {
    val covRows = covariance(emb, dims, embCol).collect()
    val cov = Array.ofDim[Double](dims, dims)
    covRows.foreach { r =>
      val (i, j, c) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2))
      cov(i)(j) = c; cov(j)(i) = c
    }
    val (_, evecs) = jacobiEigen(cov)
    val top: Seq[Seq[Double]] = evecs.take(outDims).map(_.toSeq).toSeq
    val means: Seq[Double] = {
      val v = emb.filter(col(embCol).isNotNull)
        .select(expr(s"transform($embCol, x -> CAST(x AS DOUBLE))").as("v"))
      val sums = v.select(posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("d"))
        .agg(sum(expr("CAST(round(x, 9) AS DECIMAL(28,9))")).as("sx"),
          count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0),
          r.getDecimal(1).doubleValue() / r.getLong(2))).toMap
      Seq.tabulate(dims)(d => sums.getOrElse(d, 0.0))
    }
    emb.filter(col(embCol).isNotNull)
      .select(col("vec_id"),
        expr(s"transform($embCol, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("pc", typedLit(top))
      .withColumn("mu", typedLit(means))
      .select(col("vec_id"), expr(
        s"""transform(sequence(0, ${outDims - 1}), j ->
           |  round(aggregate(zip_with(zip_with(v, mu, (a, b) -> a - b),
           |      element_at(pc, j + 1), (a, b) -> a * b),
           |    CAST(0.0 AS DOUBLE), (acc, z) -> acc + z), 6))""".stripMargin)
        .as("proj"))
  }
}
