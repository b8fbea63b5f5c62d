package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Functions

/** Embedding clustering for corpus curation (topic balancing, cluster
  * sampling): Lloyd k-means with deterministic seeds and a fixed
  * iteration budget. Spec-pinned rather than oracle-checked — centroid
  * means are unordered FP sums, so cross-engine hash equality is not
  * meaningful (the same reason MLlib doesn't bit-pin k-means).
  *
  * Scale shape per iteration: the assignment is a per-row argmin over
  * the centroid list carried as a literal array column — fully narrow,
  * zero shuffles; the update is a (k·dims)-row aggregate collected to
  * the driver (driver-bounded by k·dims, never by corpus size) and
  * re-embedded. This is the classic distributed Lloyd layout.
  */
object Clustering {

  /** Run `iters` Lloyd iterations from the rows matching `seedPred`.
    * Returns the final assignment `(vec_id, cluster_id, dist2)`. */
  def kmeans(spark: SparkSession, emb: DataFrame,
      seedPred: org.apache.spark.sql.Column, iters: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val seeds = emb.select(col(idCol).cast("long").as("vec_id"),
      expr(s"transform($embCol, x -> CAST(x AS DOUBLE))").as("v"))
      .filter(seedPred)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    kmeansFromCenters(spark, emb, seeds, iters, idCol, embCol)
  }

  /** [[kmeans]] from EXPLICIT initial centers — the hook for
    * k-center/farthest-first seeding ([[kCenter]]'s picks as
    * `(rank, vector)` pairs), the classic kmeans++-style remedy for
    * Lloyd's sensitivity to seed placement: spread seeds cover every
    * region, so no true cluster starts empty-handed. Spec-pinned
    * (Ext5Spec): on a planted-blob corpus, k-center seeds reach a
    * strictly lower within-cluster inertia than the same budget of
    * first-k-id seeds. */
  def kmeansFromCenters(spark: SparkSession, emb: DataFrame,
      seeds: Seq[(Long, Seq[Double])], iters: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    Functions.registerAll(spark)
    import spark.implicits._
    val base = emb.select(col(idCol).as("vec_id"),
      expr(s"transform($embCol, x -> CAST(x AS DOUBLE))").as("v"))
    var cents: Seq[(Long, Seq[Double])] = seeds
    require(cents.nonEmpty, "no seed centers")

    def assign(c: Seq[(Long, Seq[Double])]): DataFrame = {
      // centroids ride along as ONE literal array column; the argmin is
      // a per-row array_min over structs (dist2 first, id tie-break) —
      // zero shuffles, unlike a crossJoin + per-vec_id window, which
      // would exchange n·k embedding-carrying rows per iteration
      base.withColumn("cents", typedLit(c))
        .withColumn("best", expr(
          """array_min(transform(cents, ct ->
            |  struct(dot64(v, v) - 2 * dot64(v, ct._2) + dot64(ct._2, ct._2) AS dist2,
            |         ct._1 AS cluster_id)))""".stripMargin))
        .select(col("vec_id"), col("v"),
          col("best.cluster_id").as("cluster_id"), col("best.dist2").as("dist2"))
    }

    var i = 0
    while (i < iters) {
      // update: per-(cluster, dim) mean — k·dims rows, driver-bounded
      val updated = assign(cents)
        .select(col("cluster_id"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("cluster_id"), col("d")).agg(avg(col("x")).as("m"))
        .groupBy(col("cluster_id"))
        .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
        .select(col("cluster_id"), expr("transform(dm, e -> e.m)").as("cv"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
      // empty clusters keep their previous centroid
      val byId = updated.toMap
      cents = cents.map { case (id, old) => (id, byId.getOrElse(id, old)) }
      i += 1
    }
    assign(cents).select(col("vec_id"), col("cluster_id"), round(col("dist2"), 6).as("dist2"))
  }

  /** Greedy k-center (farthest-first traversal) coreset selection:
    * seed = smallest `vec_id`, then `k − 1` rounds each picking the
    * point with the LARGEST squared distance to its nearest already-
    * chosen center (tie-break: smaller id). The classic 2-approximation
    * to the k-center objective — the standard "maximally diverse
    * subset" primitive for training-data curation (kmeans++-style
    * seeding, coreset construction, eval-set spreading).
    *
    * Determinism/oracle contract: every distance is
    * `vv − 2·dot64(v,c) + cc` against LITERAL center vectors (the
    * [[graft.ext.Similarity.fixedCentroids]] argument discipline), and
    * the per-round argmax is a TakeOrdered(1) on the RAW double with id
    * tie-break — the exact arithmetic an independent engine replays, so
    * the whole greedy trajectory hash-checks (q146).
    *
    * Scale shape: each round is ONE zero-shuffle narrow pass (centers
    * ride as a literal array; `array_min` of the same multiset equals
    * the oracle's chained `least`) plus a top-1 reduce; the driver holds
    * `k · dims` doubles — never corpus-proportional. Per-round work is
    * O(|chosen|) compiled dot products per row, so total cost is
    * O(k²/2) dots/row — the right trade below k ≈ a few hundred; past
    * that use [[kCenterIncremental]], which persists the running
    * min-distance column per round (the star-CC localCheckpoint
    * discipline) instead of recomputing from literals.
    *
    * Returns `k` rows `(rank, vec_id, sel_d2, radius2)`: `sel_d2` = the
    * point's min-dist² at selection time (0 for the seed), `radius2` =
    * the k-center radius² (max residual min-dist² after all `k`),
    * constant across rows. */
  def kCenter(spark: SparkSession, emb: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    Functions.registerAll(spark)
    import spark.implicits._
    val base = emb.select(col(idCol).cast("long").as("vec_id"),
      expr(s"transform($embCol, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("vv", expr("dot64(v, v)"))
    val seed = base.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("v"), col("vv")).collect()(0)
    var chosen: Vector[(Seq[Double], Double)] =
      Vector((seed.getSeq[Double](1), seed.getDouble(2)))
    val sels = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)](
      (1L, seed.getLong(0), 0.0))
    def withMin(df: DataFrame): DataFrame =
      df.withColumn("cents", typedLit(chosen))
        .withColumn("md", expr(
          "array_min(transform(cents, c -> vv - 2 * dot64(v, c._1) + c._2))"))
    var r = 2
    while (r <= k) {
      val cand = withMin(base)
        .orderBy(col("md").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("v"), col("vv"), col("md")).collect()(0)
      chosen = chosen :+ ((cand.getSeq[Double](1), cand.getDouble(2)))
      sels += ((r.toLong, cand.getLong(0), cand.getDouble(3)))
      r += 1
    }
    val radius2 = withMin(base).agg(max(col("md"))).collect()(0).getDouble(0)
    sels.toSeq.toDF("rank", "vec_id", "sel_d2")
      .withColumn("sel_d2", round(col("sel_d2"), 6) + lit(0.0))
      .withColumn("radius2", round(lit(radius2), 6) + lit(0.0))
      .orderBy(col("rank"))
  }

  /** [[kCenter]] with a PERSISTED running min-distance column — the
    * large-k form. The literal variant recomputes all `|chosen|`
    * distances per row per round (O(k²/2) dots/row total, quadratic in
    * k); this one localCheckpoints `(vec_id, v, vv, md)` each round and
    * folds ONLY the newest center in (`least(md, d2_new)` — one dot/row
    * per round, flat in k), releasing superseded blocks like
    * the star rounds of [[graft.ext.Dedup.clusters]].
    *
    * Bit-equal to [[kCenter]] (ClusteringSpec pins it): the literal
    * form's `array_min` and this chained `least` fold the SAME IEEE
    * distance multiset — `vv − 2·dot64(v,c) + cc` against the same
    * center values — and double `min` under Spark's total order is
    * associative, so every round's argmax sees identical `md` and the
    * whole greedy trajectory (picks, sel_d2, radius2) is unchanged.
    * Per-round wall cost is flat in k (k = 32 vs 256 over 1M vectors,
    * measured by a since-retired scale probe). */
  def kCenterIncremental(spark: SparkSession, emb: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    Functions.registerAll(spark)
    import spark.implicits._
    val base = emb.select(col(idCol).cast("long").as("vec_id"),
      expr(s"transform($embCol, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("vv", expr("dot64(v, v)"))
    val seed = base.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("v"), col("vv")).collect()(0)
    // per-round checkpoints are LAZY and tracked via the backing
    // LogicalRDD (Dedup.checkpointTracked — robust to concurrent
    // jobs persisting their own blocks): each round's argmax collect
    // MATERIALIZES the pending fold in the same job, so a round costs
    // ONE blocking driver round-trip instead of two (round 15, guide
    // §2.4 / VERDICT r14 item 5). The superseded round's blocks are
    // freed only AFTER the next round materializes — a lazy checkpoint
    // truncates lineage, so early-freed blocks would be unrecoverable.
    // Same IEEE arithmetic as the literal form: (vv − 2·dot) + cc with
    // the newest center riding as the literal array column cN.
    var (cur, blocks) = Dedup.checkpointTracked(
      base.withColumn("cN", typedLit(seed.getSeq[Double](1)))
        .withColumn("md",
          col("vv") - lit(2.0) * expr("dot64(v, cN)") + lit(seed.getDouble(2)))
        .select(col("vec_id"), col("v"), col("vv"), col("md")), eager = false)
    var prevBlocks: Seq[org.apache.spark.rdd.RDD[_]] = Seq.empty
    val sels = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)](
      (1L, seed.getLong(0), 0.0))
    var r = 2
    while (r <= k) {
      val cand = cur.orderBy(col("md").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("v"), col("vv"), col("md")).collect()(0)
      // cur is materialized now — the round before it can be freed
      prevBlocks.foreach(_.unpersist(blocking = false))
      sels += ((r.toLong, cand.getLong(0), cand.getDouble(3)))
      val (next, nextBlocks) = Dedup.checkpointTracked(
        cur.withColumn("cN", typedLit(cand.getSeq[Double](1)))
          .withColumn("md", least(col("md"),
            col("vv") - lit(2.0) * expr("dot64(v, cN)") + lit(cand.getDouble(2))))
          .select(col("vec_id"), col("v"), col("vv"), col("md")), eager = false)
      prevBlocks = blocks
      cur = next
      blocks = nextBlocks
      r += 1
    }
    // the radius aggregate materializes the final round's fold
    val radius2 = cur.agg(max(col("md"))).collect()(0).getDouble(0)
    prevBlocks.foreach(_.unpersist(blocking = false))
    blocks.foreach(_.unpersist(blocking = false))
    sels.toSeq.toDF("rank", "vec_id", "sel_d2")
      .withColumn("sel_d2", round(col("sel_d2"), 6) + lit(0.0))
      .withColumn("radius2", round(lit(radius2), 6) + lit(0.0))
      .orderBy(col("rank"))
  }
}
