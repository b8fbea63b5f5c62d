package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.Functions

/** Similarity-search operators over an embedding table
  * (vec_id + embedding: array<float>) — brute-force exact baseline and
  * two sub-linear scale paths (hyperplane LSH, IVF coarse quantizer).
  * Dot products run through the codegen'd dot64 expression; cosines are
  * rounded to 4 decimals and ranked on the rounded value with id
  * tie-breaks, so results are reproducible across engines.
  */
object Similarity {

  /** Normalize: (vec_id, v: array<double>, nrm). */
  def withVectors(spark: SparkSession, emb: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    Functions.registerAll(spark)
    emb.withColumn("v", expr(s"transform($embCol, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", expr("sqrt(dot64(v, v))"))
      .withColumnRenamed(idCol, "vec_id")
  }

  /** Per-label embedding-norm profile: count, min/max/mean L2 norm and
    * zero-vector count — the vector-QA pass run before indexing or
    * cosine math (zero vectors NaN out cosine; a label whose norms
    * collapsed usually means a broken encoder batch). Norms are narrow
    * per-row dot64 calls rounded to 6; the label aggregate is one
    * partial-aggregable groupBy with the mean summed in exact DECIMALs
    * over the rounded terms (order-free cross-engine). */
  def normProfile(spark: SparkSession, emb: DataFrame,
      labelCol: String = "label", embCol: String = "embedding"): DataFrame = {
    Functions.registerAll(spark)
    emb
      .withColumn("v", expr(s"transform($embCol, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", round(expr("sqrt(dot64(v, v))"), 6))
      .groupBy(col(labelCol))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("nrm")).as("min_norm"),
        max(col("nrm")).as("max_norm"),
        round(sum(col("nrm").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double") / count(lit(1)).cast("double"), 6).as("mean_norm"),
        sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"))
  }

  /** Exact top-k for the query subset (brute force — the baseline that
    * bounds pair count by |queries|·n, not n²).
    *
    * CONTRACT: `queryPred` must select a BOUNDED query set — the query
    * side is broadcast unconditionally (the hint is what lets the
    * |queries|·n candidate stream fold map-side into per-query
    * `topk_min` buffers inside the corpus scan, no exchange of pairs).
    * A predicate matching a large fraction of the corpus risks
    * broadcast-build failure / driver memory pressure instead of the
    * old silent cartesian degradation; for corpus-×-corpus shapes use
    * [[knnGraph]] (blocked + salted) or [[ivfTopKIndexed]]
    * (partition-pruned probes). */
  def cosineTopK(spark: SparkSession, emb: DataFrame,
      queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val base = withVectors(spark, emb)
    val qv = base.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("vq"), col("nrm").as("nq"))
    val cand = spread(
      base.select(col("vec_id").as("n_id"), col("v").as("vn"), col("nrm").as("nn")))
    // bounded per-query top-k (TopKMin) instead of a rank window: the
    // |queries|·n candidate stream folds map-side where the broadcast
    // join makes it (same (cosine desc 4-dp, n_id) contract via
    // negated +0.0-normalized scores — oracle unchanged), and the
    // corpus scan spreads to full parallelism (a one-row-group parquet
    // file otherwise serializes the whole dot loop on one task)
    Functions.registerAll(spark)
    cand.crossJoin(broadcast(qv)).filter(col("q_id") =!= col("n_id"))
      // a zero-norm vector has no defined cosine: produce NaN via an
      // explicit guard (IEEE 0/0 — what the DuckDB oracle computes;
      // Spark's ANSI mode would instead THROW on the double division),
      // and NaN under the ORDER BY cosine DESC contract ranks FIRST —
      // the aggregate buffers it as the −Inf sentinel (cosine ∈
      // [−1, 1], unambiguous), restored on the way out. The 4-dp
      // rounding + +0.0-normalized negation live INSIDE
      // topk_cos_round, applied lazily at the top-k boundary (the
      // per-pair BigDecimal round cost ~15× the dot product) — same
      // buffered values as the round + negate + topk_min form it
      // replaces, verdicts identical on every input, zero-norm
      // corpora included (TopKCosRoundSpec).
      .withColumn("_raw",
        when(col("nq") * col("nn") === 0.0, lit(Double.NaN))
          .otherwise(expr("dot64(vq, vn)") / (col("nq") * col("nn"))))
      .groupBy(col("q_id"))
      .agg(expr(s"topk_cos_round(_raw, n_id, $k, 4)").as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("i", "e")))
      .select(col("q_id"), (col("i") + 1).cast("long").as("rank"),
        col("e.id").as("n_id"),
        when(col("e.score") === Double.NegativeInfinity, Double.NaN)
          .otherwise(-col("e.score")).as("cosine"))
  }

  /** [[cosineTopK]] with an OFF-CORPUS query frame: exact cosine top-k
    * among `emb`'s vectors for every row of `queries` — the ground
    * truth any held-out/perturbed-query ANN evaluation needs (a recall
    * probe whose queries are corpus members saturates at 1.0 and
    * cannot rank quantizers). Identical ranking contract and output
    * shape to cosineTopK (4-dp rounded cosine desc, neighbor-id
    * tie-break, NaN-first zero-norm semantics); no self-pair filter —
    * the two sides are distinct frames by contract. Queries broadcast
    * (the bounded-query contract), the corpus is scanned once, and the
    * |queries|·n candidate stream folds map-side into ≤k-entry
    * buffers. */
  def cosineTopKAgainst(spark: SparkSession, emb: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    Functions.registerAll(spark)
    val qv = withVectors(spark, queries)
      .select(col("vec_id").as("q_id"), col("v").as("vq"), col("nrm").as("nq"))
    val cand = spread(withVectors(spark, emb)
      .select(col("vec_id").as("n_id"), col("v").as("vn"), col("nrm").as("nn")))
    cand.crossJoin(broadcast(qv))
      .withColumn("_raw",
        when(col("nq") * col("nn") === 0.0, lit(Double.NaN))
          .otherwise(expr("dot64(vq, vn)") / (col("nq") * col("nn"))))
      .groupBy(col("q_id"))
      .agg(expr(s"topk_cos_round(_raw, n_id, $k, 4)").as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("i", "e")))
      .select(col("q_id"), (col("i") + 1).cast("long").as("rank"),
        col("e.id").as("n_id"),
        when(col("e.score") === Double.NegativeInfinity, Double.NaN)
          .otherwise(-col("e.score")).as("cosine"))
  }

  /** Hyperplane-LSH bucket assignment: md5-derived planes, sign-bit
    * bucket — the ANN path whose per-bucket search scales. Planes are
    * array-typed rows (one per plane) so each (vector, plane) dot is a
    * single codegen'd dot64 call: no per-dimension row explosion (the
    * naive form materializes |vectors|·dims·planes rows). Bucket signs
    * are robust to FP reassociation (|dot| ≫ ulp), so this is
    * numerically interchangeable with the per-dim-sum form. */
  def lshBuckets(spark: SparkSession, emb: DataFrame,
      nPlanes: Int = 16, dims: Int = 64): DataFrame = {
    Functions.registerAll(spark)
    val planes = spark.range(nPlanes).select(
      col("id").as("p"),
      expr(s"""transform(sequence(0, ${dims - 1}, 1), d ->
               | (CAST(conv(substr(md5(concat(id, ':', d)), 1, 6), 16, 10) AS BIGINT)
               |  % 2001 - 1000) / 1000.0)""".stripMargin).as("pw"))
    val vecs = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    vecs.crossJoin(broadcast(planes))
      .select(col("vec_id"), col("p"),
        when(expr("dot64(v, pw)") >= 0, lit(1L)).otherwise(lit(0L)).as("bit"))
      .groupBy(col("vec_id"))
      .agg(sum(col("bit") * pow(lit(2.0), col("p").cast("double")).cast("long")).as("bucket"))
  }

  /** IVF coarse assignment: each vector to its max-cosine centroid.
    * The centroid table (quantizer-sized, metadata-scale by contract)
    * collects into a [[graft.functions.CentroidModelRef]] and the
    * argmax runs as ONE compiled narrow `centroid_topk` call per row —
    * zero shuffle, zero join; the crossJoin + rank-window form it
    * replaces exchanged corpus × centroids rows (800M at the
    * 200k-vector / 4,000-centroid decade) to keep one id per row. Same
    * (4-dp rounded cosine DESC, centroid_id) contract, same IEEE
    * arithmetic (CentroidTopKSpec pins equivalence, ties and
    * zero-norms included). */
  def ivfAssign(spark: SparkSession, emb: DataFrame,
      centroidPred: org.apache.spark.sql.Column): DataFrame = {
    // contract: null-embedding rows are EXCLUDED (as sqEncodeCodes
    // does) — centroid_topk is null-propagating, and a NULL
    // centroid_id is poison downstream: in a partitioned index write
    // it lands in the Hive default partition, which no probe's cell
    // filter ever selects, silently hiding the row from every search
    val base = withVectors(spark, emb.filter(col("embedding").isNotNull))
    val model = graft.functions.CentroidModelRef.collect(base
      .filter(centroidPred)
      .select(col("vec_id"), col("v"), col("nrm")))
    graft.functions.CentroidTopK.register(spark, model)
    spread(base)
      .withColumn("_top", element_at(expr("centroid_topk(v, nrm, 1)"), 1))
      .select(col("vec_id"), col("_top.centroid_id").as("centroid_id"),
        col("_top.cos").as("cosine"))
  }

  /** Full IVF search (assign → probe → rerank): queries probe their
    * `nProbe` nearest centroids and rerank exactly within the probed
    * cells only — the sub-linear ANN read path on top of ivfAssign's
    * coarse quantizer. Scale shape: centroids broadcast twice (tiny),
    * the candidate join is keyed by centroid cell (uniform-ish by
    * construction of a good quantizer), and the per-query rerank window
    * sees only `nProbe` cells' worth of rows — never the corpus. */
  def ivfTopK(spark: SparkSession, emb: DataFrame,
      centroidPred: org.apache.spark.sql.Column,
      queryPred: org.apache.spark.sql.Column,
      nProbe: Int, k: Int): DataFrame = {
    val base = withVectors(spark, emb)
    // the centroid table is quantizer-sized by contract: collect it
    // into a reference-object matrix and run BOTH the query probe
    // (top-nProbe) and the corpus assignment (top-1) as compiled
    // narrow centroid_topk calls — the crossJoin + rank-window forms
    // they replace shuffled corpus × centroids rows (800M at the
    // 200k-vector / 4,000-centroid decade) and paid the 4-dp BigDecimal
    // rounding on every pair; the expression rounds only boundary
    // candidates (see CentroidTopK's margin note). Same (rounded cos
    // DESC, centroid_id) contract — q66's oracle unchanged. The corpus
    // scan spreads to full parallelism first (one-row-group files
    // otherwise serialize the whole dot loop on one task).
    val model = graft.functions.CentroidModelRef.collect(base
      .filter(centroidPred)
      .select(col("vec_id"), col("v"), col("nrm")))
    graft.functions.CentroidTopK.register(spark, model)
    val probes = base.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("vq"), col("nrm").as("nq"))
      .withColumn("centroid_id",
        explode(expr(s"centroid_topk(vq, nq, $nProbe).centroid_id")))
      .select(col("q_id"), col("vq"), col("nq"), col("centroid_id"))
    // the assignment materializes ONCE (it feeds both the pair join
    // and the final cell lookup) through the constraint-free re-wrap:
    // probes' and cand's centroid_id are both DERIVED from the same
    // base relation, the self-referencing-join shape where Spark 4.1's
    // InferFiltersFromConstraints manufactures an unresolvable
    // f(v) <=> key condition (see assignCensused — localCheckpoint
    // alone does NOT strip origin constraints)
    val cp = spread(base
      .select(col("vec_id").as("n_id"), col("v").as("vn"), col("nrm").as("nn")))
      .withColumn("centroid_id",
        element_at(expr("centroid_topk(vn, nn, 1)"), 1).getField("centroid_id"))
      .localCheckpoint(true)
    val cand = spark.createDataFrame(cp.rdd, cp.schema)
    // rerank via the bounded topk_min aggregate (cosineTopK's exact
    // NaN-sentinel contract): the rank window it replaces exchanged
    // every probed pair WITH both 64-dim vectors attached — on a
    // near-duplicate corpus whose 4-dp ties collapse assignment into
    // dense cells that is a multi-GB shuffle for |queries|·k survivors
    // (measured 26s of q66's 29.7s at the 200k decade). Pairs now fold
    // map-side where the broadcast join generates them; the candidate's
    // cell id rejoins from the materialized assignment afterwards
    // (result side is |queries|·k rows, broadcast).
    Functions.registerAll(spark)
    val tk = broadcast(probes).join(cand, Seq("centroid_id"))
      .filter(col("q_id") =!= col("n_id"))
      // rounding + sentinel + negation live inside topk_cos_round,
      // lazily at the top-k boundary — same buffered values, same
      // verdicts as the round + negate + topk_min form (see cosineTopK)
      .withColumn("_raw",
        when(col("nq") * col("nn") === 0.0, lit(Double.NaN))
          .otherwise(expr("dot64(vq, vn)") / (col("nq") * col("nn"))))
      .groupBy(col("q_id"))
      .agg(expr(s"topk_cos_round(_raw, n_id, $k, 4)").as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("i", "e")))
      .select(col("q_id"), (col("i") + 1).cast("long").as("rank"),
        col("e.id").as("n_id"),
        when(col("e.score") === Double.NegativeInfinity, Double.NaN)
          .otherwise(-col("e.score")).as("cosine"))
    broadcast(tk).join(cand.select(col("n_id"), col("centroid_id")), Seq("n_id"))
      .select(col("q_id"), col("rank"), col("n_id"), col("centroid_id"), col("cosine"))
  }

  /** SemDeDup-shaped semantic dedup (Abbas et al. 2023: k-means the
    * embeddings, then deduplicate WITHIN clusters by cosine): Lloyd
    * assignment via `Clustering.kmeans`, all-pairs cosine inside each
    * cluster only, pairs ≥ `threshold` connected into components, each
    * component's smallest id kept. Pair work is O(Σ cᵢ²) — the cluster
    * count k is the blocking knob, never corpus² — and the drop set
    * joins back through the same unhinted left_anti as `dedupCorpus`
    * (a semantic-dup set is corpus-proportional on curated-web data).
    * Spec-pinned, not oracle-checked: k-means means are unordered FP
    * sums (see Clustering's scaladoc). */
  def semanticDedup(spark: SparkSession, emb: DataFrame,
      seedPred: org.apache.spark.sql.Column, threshold: Double,
      iters: Int = 3, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val assign = Clustering.kmeans(spark, emb, seedPred, iters, idCol, embCol)
      .select(col("vec_id"), col("cluster_id"))
    val blocked = withVectors(spark, emb, idCol, embCol)
      .join(assign, Seq("vec_id"))
    val a = blocked.select(col("vec_id").as("a_id"), col("cluster_id"),
      col("v").as("va"), col("nrm").as("na"))
    val b = blocked.select(col("vec_id").as("b_id"), col("cluster_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    val pairs = a.join(b, Seq("cluster_id"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine", round(expr("dot64(va, vb)") / (col("na") * col("nb")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"))
    val drop = Dedup.clusters(spark, pairs)
      .filter(col("node") =!= col("cluster_id"))
      .select(col("node").as("vec_id"))
    emb.withColumnRenamed(idCol, "vec_id").join(drop, Seq("vec_id"), "left_anti")
  }

  /** The FIXED md5-derived k-means centroid grid (`k` × `dims` milli
    * values from "sc:j:d" tags) — [[fixedCodebooks]]'s trick applied
    * to SemDeDup blocking, so the whole semantic-dedup contract is
    * oracle-checkable end to end (trained Lloyd means are unordered FP
    * sums no independent engine reproduces hash-exactly; every
    * distance against THIS grid is the same IEEE arithmetic on both
    * engines). */
  def fixedCentroids(k: Int = 16, dims: Int = 64): Seq[Seq[Double]] =
    Seq.tabulate(k)(j => Seq.tabulate(dims)(d =>
      (md5Head6(s"sc:$j:$d") % 2001 - 1000) / 1000.0))

  /** [[semanticDedup]] with the fixed centroid grid in place of
    * trained k-means — identical downstream semantics (in-cluster
    * cosine pairs ≥ `threshold` → components → keep smallest id), and
    * hash-checkable because the blocking assignment is a deterministic
    * lexicographic (dist², centroid) argmin against literal centroids
    * (q127's encode contract). Assignment is one ZERO-shuffle narrow
    * pass — the centroid matrix rides the plan as a literal, `dot64`
    * keeps the distance fold compiled — so the only pair work is
    * within clusters: O(Σ cᵢ²), the SemDeDup blocking guarantee.
    * Returns survivors as (vec_id, centroid). */
  /** ZERO-shuffle coarse assignment against [[fixedCentroids]]: the
    * grid rides the plan as a literal, the argmin is a lexicographic
    * (dist², centroid) `array_min` over compiled `dot64` distances —
    * the deterministic, oracle-replayable blocking primitive shared by
    * [[semanticDedupFixed]] and [[Sampling.clusterCap]]. Returns
    * `(vec_id, v, nrm, centroid)` plus the input's other columns. */
  def assignFixed(spark: SparkSession, emb: DataFrame,
      k: Int = 16, dims: Int = 64): DataFrame =
    withVectors(spark, emb)
      .withColumn("cb", typedLit(fixedCentroids(k, dims)))
      .withColumn("centroid", expr(
        """array_min(transform(cb, (cw, ci) ->
          |  struct(dot64(v, v) - 2 * dot64(v, cw) + dot64(cw, cw) AS dist2,
          |         ci AS c))).c""".stripMargin).cast("long"))
      .drop("cb")

  /** In-cluster k-NN GRAPH construction: each vector's top-`k` cosine
    * neighbors among its fixed-grid cluster's members — the graph
    * SemDeDup-style pipelines, graph-based coresets, and label
    * propagation consume. Blocking bounds pair work at O(Σ cᵢ²) (the
    * SemDeDup guarantee); ranking is the q54 contract (4-dp rounded
    * cosine, neighbor-id tie-break) so the whole graph hash-checks
    * (q153). Vectors in singleton clusters have no in-cluster
    * neighbors and emit no rows — by construction on both engines.
    * At 100 TB: assignment is narrow, the self-join shuffles once on
    * centroid, the rank window partitions by source vector; pass
    * `maxCluster` (+ `capMetrics`) to exclude boilerplate mega-clusters
    * from the quadratic pair work with an observable drop — see
    * [[assignCensused]]. Capped members emit no rows (like
    * singletons); kept clusters are bit-identical to unguarded.
    * `pairSalts` defaults to 0 = census-derived ([[deriveSalts]] over
    * the already-materialized assignment — metadata-scale); salting
    * never changes the pair set, so any explicit count gives
    * bit-identical results. */
  def knnGraph(spark: SparkSession, emb: DataFrame, k: Int = 3,
      centroids: Int = 16, dims: Int = 64,
      maxCluster: Int = Int.MaxValue,
      capMetrics: Option[org.apache.spark.sql.Observation] = None,
      pairSalts: Int = 0): DataFrame = {
    require(pairSalts >= 0,
      s"pairSalts=$pairSalts must be >= 1, or 0 to derive from the census")
    Functions.registerAll(spark)
    // SALTED pair generation: a dense corpus collapses into few cells
    // (the 10×-vector bench landed 2/3 of 20k vectors in two cells →
    // 46M pairs in ONE task each), so the A side carries a
    // deterministic md5 sub-salt and the B side replicates ×pairSalts
    // — identical pair set, largest task ÷pairSalts (B-side shuffle
    // ×pairSalts; vectors are the replicated payload). The assignment
    // materializes ONCE behind [[assignCensused]]'s single checkpoint
    // + census job (cap, always-on stats and salt count from one
    // collected |centroids|-bounded aggregate); the result is lazy, so
    // the blocks stay with the returned frame (ContextCleaner frees
    // them when the caller drops it — release intentionally unused).
    val (assignedCp, salts, _) = assignCensused(spark, emb, centroids,
      dims, maxCluster, capMetrics, None, pairSalts)
    val a = assignedCp.select(col("vec_id").as("a_id"), col("centroid"),
      col("v").as("va"), col("nrm").as("na"))
      .withColumn("_salt",
        (conv(substring(md5(col("a_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % salts).cast("int"))
    val b = assignedCp.select(col("vec_id").as("b_id"), col("centroid"),
      col("v").as("vb"), col("nrm").as("nb"))
      .crossJoin(broadcast(spark.range(salts)
        .select(col("id").cast("int").as("_salt"))))
    // the rank is a BOUNDED per-source top-k, not a window: the pair
    // explosion (Σ cᵢ² rows) folds into ≤k-entry topk_min buffers
    // map-side, where the blocking join generated it — the exchange
    // carries vectors × k entries, never the pair stream (the 10×-
    // vector bench measured the rank window at 112s; same ranking
    // contract, (cosine desc 4-dp, b_id), via negated +0.0-normalized
    // scores — oracle unchanged). All of one a_id's pairs stay in ONE
    // task, so the partials complete map-side.
    a.join(b, Seq("centroid", "_salt"))
      .filter(col("a_id") =!= col("b_id"))
      // zero-norm neighbors: NaN cosine (explicit guard — ANSI would
      // throw on the 0/0 double division) ranks FIRST under the DESC
      // contract — −Inf sentinel in, NaN restored out (see cosineTopK)
      .withColumn("_raw",
        when(col("na") * col("nb") === 0.0, lit(Double.NaN))
          .otherwise(expr("dot64(va, vb)") / (col("na") * col("nb"))))
      .groupBy(col("a_id"), col("centroid"))
      .agg(expr(s"topk_cos_round(_raw, b_id, $k, 4)").as("tk"))
      .select(col("a_id"), col("centroid"), posexplode(col("tk")).as(Seq("i", "e")))
      .select(col("a_id"), (col("i") + 1).cast("long").as("rank"),
        col("e.id").as("b_id"), col("centroid"),
        when(col("e.score") === Double.NegativeInfinity, Double.NaN)
          .otherwise(-col("e.score")).as("cosine"))
  }

  /** Adaptive pair-salt derivation — `pairSalts = 0`, the DEFAULT at
    * every salted pair entry point: the salt count comes from the
    * OBSERVED blocking census instead of a hand-tuned knob. The largest block's
    * pair work (|sample_b|·|members_b|; |members_b|² for the self-join
    * forms, where the sample IS the block) splits to roughly
    * [[TargetPairsPerSalt]] pairs per task, clamped to
    * [1, [[MaxSalts]]]. Cost: one |blocks|-bounded aggregate over the
    * blocked frame — for the grid forms that frame is the already-
    * materialized assignment checkpoint, so the census is a metadata-
    * scale job; for caller-label blocking it is one narrow extra scan.
    * Salting never changes the pair set, so results are bit-identical
    * at ANY salt count (spec-pinned across skew shapes). */
  private[ext] val TargetPairsPerSalt: Long = 4L << 20
  private[ext] val MaxSalts: Int = 256

  private[ext] def deriveSalts(blocked: DataFrame, blockKey: String,
      samplePred: Option[org.apache.spark.sql.Column]): Int = {
    val perBlock = blocked.groupBy(col(blockKey)).agg(
      count(lit(1)).as("_c"),
      samplePred.fold(count(lit(1)))(p =>
        sum(when(p, lit(1L)).otherwise(lit(0L)))).as("_s"))
    val row = perBlock.select(max(col("_s") * col("_c")).as("m")).head()
    val maxPairs = if (row.isNullAt(0)) 0L else row.getLong(0)
    math.min(MaxSalts.toLong, math.max(1L,
      (maxPairs + TargetPairsPerSalt - 1) / TargetPairsPerSalt)).toInt
  }

  /** The shared head of every fixed-grid salted pair entry point
    * ([[knnGraph]], [[semanticDedupFixed]], [[nearDupPairsAnn]]):
    * materialize the assignment ONCE, then answer the three questions
    * every caller asks — the hot-centroid cap, its ALWAYS-ON stats, and
    * the pair-salt count — from ONE collected |centroids|-bounded
    * census aggregate.
    *
    * Hot-centroid guard: pair work is O(Σ cᵢ²) BY DESIGN, but one
    * mega-cluster (boilerplate-heavy corpora collapse into few cells)
    * makes a single task quadratic — c = 10M members is 10¹⁴ pairs,
    * which no salting rescues (salt spreads the quadratic work, it
    * doesn't shrink it). The guard EXCLUDES clusters above `maxCluster`
    * from the pair join entirely (whole-cluster, deterministic — never
    * a sample, so the kept clusters' results are bit-identical to the
    * unguarded form). ALWAYS ON: the census runs on every call and the
    * cap stats (q74's discipline: capped_clusters / capped_members /
    * max_cluster_size) are ALWAYS emitted — through the caller's
    * `capMetrics` Observation when provided, else as a named
    * `cluster_cap_stats` observation any QueryExecutionListener reads —
    * and fire exactly once, at the census collect. A first-time user on
    * a boilerplate-heavy corpus therefore SEES the mega-cluster
    * (max_cluster_size) before it costs hours, even with the default
    * `maxCluster = Int.MaxValue` (which excludes nothing — q142/q153
    * oracles unchanged).
    *
    * Plan shape (round 15, guide §2.4): the round-14 form paid TWO
    * eager checkpoints (the raw assignment, then the cap semi-join's
    * output) plus a separate [[deriveSalts]] aggregate — three blocking
    * driver round-trips per call. The census collect replaces the last
    * two: the kept-cell set becomes a literal `isInCollection` filter
    * over the one materialized checkpoint (cheap per reference — the
    * assignment is never recomputed), and the salt count is
    * [[deriveSalts]]' exact formula evaluated driver-side over the kept
    * census rows (samplePred counts the sample side; None = self-join,
    * pair work c²). The checkpoint is CONSTRAINT-FREE re-wrapped before
    * any self-join: the argmin-derived centroid key is exactly the
    * shape that trips Spark 4.1's InferFiltersFromConstraints into
    * pushing an f(v) <=> centroid condition into a branch where v no
    * longer exists (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at bind —
    * reproduced at 256 centroids by a since-retired salted-kNN
    * probe); the fresh
    * LogicalRDD attributes also dodge the constraint-propagation bugs
    * on deduplicated lineage (UnionBase.rewriteConstraints /
    * BroadcastNestedLoopJoin condition binding).
    *
    * Returns (capped constraint-free assignment, salts, release).
    * Release is the CALLER's: eager pipelines free the blocks once a
    * downstream checkpoint makes them unreachable; lazy consumers drop
    * the frame and the ContextCleaner follows. */
  private def assignCensused(spark: SparkSession, emb: DataFrame,
      centroids: Int, dims: Int, maxCluster: Int,
      capMetrics: Option[org.apache.spark.sql.Observation],
      samplePred: Option[org.apache.spark.sql.Column], pairSalts: Int)
      : (DataFrame, Int, () => Unit) = {
    val (cp0, cp0Blocks) = Dedup.checkpointTracked(
      assignFixed(spark, emb, centroids, dims), eager = true)
    val free = spark.createDataFrame(cp0.rdd, cp0.schema)
    val sized0 = free.groupBy(col("centroid")).agg(
      count(lit(1)).as("csize"),
      samplePred.fold(count(lit(1)))(p =>
        sum(when(p, lit(1L)).otherwise(lit(0L)))).as("ssize"))
    val stats = Seq(
      sum(when(col("csize") > maxCluster, lit(1L)).otherwise(lit(0L)))
        .as("capped_clusters"),
      sum(when(col("csize") > maxCluster, col("csize")).otherwise(lit(0L)))
        .as("capped_members"),
      max(col("csize")).as("max_cluster_size"))
    val sized = capMetrics match {
      case Some(o) => sized0.observe(o, stats.head, stats.tail: _*)
      case None => sized0.observe("cluster_cap_stats", stats.head, stats.tail: _*)
    }
    def salted(census: Array[org.apache.spark.sql.Row]): Int =
      if (pairSalts > 0) pairSalts else {
        val kept = census.filter(_.getLong(1) <= maxCluster)
        val maxPairs = if (kept.isEmpty) 0L
          else kept.map(r => r.getLong(2) * r.getLong(1)).max
        math.min(MaxSalts.toLong, math.max(1L,
          (maxPairs + TargetPairsPerSalt - 1) / TargetPairsPerSalt)).toInt
      }
    if (maxCluster == Int.MaxValue) {
      // no cap can engage (the default): the one checkpoint IS the
      // pair-join input, and ONE collected |centroids|-bounded census
      // job fires the always-on stats and prices the salts — the
      // round-14 shape paid a whole second eager checkpoint (the cap
      // semi-join's materialization) plus a separate deriveSalts pass
      val census = sized.select(col("centroid"), col("csize"), col("ssize"))
        .collect()
      (free, salted(census),
        () => cp0Blocks.foreach(_.unpersist(blocking = false)))
    } else {
      // a finite cap may exclude cells: keep the round-14 shape — the
      // census rides the kept-subset checkpoint's own materialization
      // as a broadcast semi-join build (cap stats fire there), so the
      // blocks are scanned once, not once for a census and again for
      // the filter (probed round 15: a separate census + filter cost
      // ~+15% on the 200k-vector capped corpus)
      val capped = free.join(
        broadcast(sized.filter(col("csize") <= maxCluster)
          .select(col("centroid"))), Seq("centroid"))
      val (cp2, cp2Blocks) = Dedup.checkpointTracked(capped, eager = true)
      cp0Blocks.foreach(_.unpersist(blocking = false))
      val keptCp = spark.createDataFrame(cp2.rdd, cp2.schema)
      val salts = if (pairSalts > 0) pairSalts else {
        // the kept census over the compact checkpoint (metadata-scale)
        val census = keptCp.groupBy(col("centroid")).agg(
          count(lit(1)).as("csize"),
          samplePred.fold(count(lit(1)))(p =>
            sum(when(p, lit(1L)).otherwise(lit(0L)))).as("ssize"))
          .select(col("centroid"), col("csize"), col("ssize")).collect()
        salted(census)
      }
      (keptCp, salts,
        () => cp2Blocks.foreach(_.unpersist(blocking = false)))
    }
  }

  def semanticDedupFixed(spark: SparkSession, emb: DataFrame,
      k: Int = 16, threshold: Double = 0.35, dims: Int = 64,
      maxCluster: Int = Int.MaxValue,
      capMetrics: Option[org.apache.spark.sql.Observation] = None,
      pairSalts: Int = 0): DataFrame = {
    require(pairSalts >= 0,
      s"pairSalts=$pairSalts must be >= 1, or 0 to derive from the census")
    // capped clusters are excluded from PAIR GENERATION only: their
    // members still flow to the survivor set untouched (conservative
    // keep-all — a boilerplate mega-cluster is flagged, never silently
    // deduped on a task that would run for hours). One checkpoint +
    // one census job answers cap/stats/salts — see assignCensused.
    // Same salted self-join as knnGraph: dense corpora collapse into
    // few cells, so the quadratic in-cell pair work spreads over
    // pairSalts tasks per cell (identical pair set — A carries one
    // deterministic salt, B replicates across all of them).
    val (assignedCp, salts, releaseAssign) = assignCensused(spark, emb,
      k, dims, maxCluster, capMetrics, None, pairSalts)
    val a = assignedCp.select(col("vec_id").as("a_id"), col("centroid"),
      col("v").as("va"), col("nrm").as("na"))
      .withColumn("_salt",
        (conv(substring(md5(col("a_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % salts).cast("int"))
    val b = assignedCp.select(col("vec_id").as("b_id"), col("centroid"),
      col("v").as("vb"), col("nrm").as("nb"))
      .crossJoin(broadcast(spark.range(salts)
        .select(col("id").cast("int").as("_salt"))))
    // the threshold verdict goes through round_ge: the per-pair
    // BigDecimal round(,4) costs ~15× the dot product it follows, and
    // only boundary pairs (within 0.6·1e-4 + 4 ulp of the threshold)
    // need the exact rounding — identical verdicts (RoundGeSpec)
    Functions.registerAll(spark)
    val pairs = a.join(b, Seq("centroid", "_salt"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("_rc", expr("dot64(va, vb)") / (col("na") * col("nb")))
      .filter(expr(s"round_ge(_rc, CAST($threshold AS DOUBLE), 4)"))
      .select(col("a_id"), col("b_id"))
    // semantic near-dup families CHAIN — a boilerplate template
    // connects A–B, B–C, … — so the verified pair graph's diameter
    // grows with the family length; clusters() costs no more rounds for
    // that (union-find on the driver below its edge gate, log-many star
    // rounds above it)
    val drop = Dedup.clusters(spark, pairs)
      .filter(col("node") =!= col("cluster_id"))
      .select(col("node").as("vec_id"))
    // clusters() is eager and its labels carry no lineage back to the
    // pairs — the assignment blocks are unreachable from `drop`, so
    // free them now rather than leak them for the session
    releaseAssign()
    // survivor set over ALL members (capped clusters included): a
    // fresh lazy assignment plan, as before — the materialized
    // assignment is already released above and must not be referenced
    // lazily
    assignFixed(spark, emb, k, dims).select(col("vec_id"), col("centroid"))
      .join(drop, Seq("vec_id"), "left_anti")
      .orderBy(col("vec_id"))
  }

  /** Product-quantization codebooks: the embedding space split into
    * `m` subspaces, each with its own `k`-centroid codebook trained by
    * Lloyd iterations — ALL subspaces per iteration in ONE distributed
    * job (subvector explode → literal-codebook argmin → per-(sub, code,
    * dim) mean), so training cost is `iters` jobs regardless of `m`.
    * The result is driver-sized (m·k·(dims/m) doubles — a few KB) and
    * rides into encode/search plans as a literal, exactly like
    * `Clustering.kmeans` centroids. Seeds = subvectors of the rows
    * matching `seedPred` (first `k` by vec_id — deterministic). */
  def pqCodebooks(spark: SparkSession, emb: DataFrame,
      seedPred: org.apache.spark.sql.Column, m: Int = 8, k: Int = 16,
      iters: Int = 3, dims: Int = 64): Seq[Seq[Seq[Double]]] = {
    Functions.registerAll(spark)
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val subDim = dims / m
    val base = emb.select(col("vec_id"),
      expr(s"transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val subs = base.select(col("vec_id"), posexplode(expr(
      s"transform(sequence(0, ${m - 1}), i -> slice(v, i * $subDim + 1, $subDim))"))
      .as(Seq("sub", "sv")))
    var cbs: Seq[Seq[Seq[Double]]] = {
      val seeds = base.filter(seedPred).orderBy(col("vec_id")).limit(k)
        .select(col("v")).collect().map(_.getSeq[Double](0)).toSeq
      require(seeds.nonEmpty, "seedPred matched no rows")
      (0 until m).map(s => seeds.map(v => v.slice(s * subDim, (s + 1) * subDim)))
    }
    def assigned(c: Seq[Seq[Seq[Double]]]): DataFrame =
      subs.withColumn("cb", typedLit(c))
        .withColumn("code", expr(
          """array_min(transform(element_at(cb, sub + 1), (cw, ci) ->
            |  struct(dot64(sv, sv) - 2 * dot64(sv, cw) + dot64(cw, cw) AS dist2,
            |         ci AS code))).code""".stripMargin))
    var i = 0
    while (i < iters) {
      // update: per-(subspace, code, dim) mean — m·k·subDim rows,
      // driver-bounded like the kmeans update
      val upd = assigned(cbs)
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("d", "x")))
        .groupBy(col("sub"), col("code"), col("d")).agg(avg(col("x")).as("mu"))
        .groupBy(col("sub"), col("code"))
        .agg(array_sort(collect_list(struct(col("d"), col("mu")))).as("dm"))
        .select(col("sub"), col("code"), expr("transform(dm, e -> e.mu)").as("cv"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
      cbs = cbs.zipWithIndex.map { case (codes, s) =>
        codes.zipWithIndex.map { case (old, ci) => upd.getOrElse((s, ci), old) }
      }
      i += 1
    }
    cbs
  }

  /** PQ encode: every vector compressed to `m` small codes (its nearest
    * codeword per subspace) — 4·dims bytes of float down to m bytes of
    * code, the representation that lets a 100 TB embedding corpus sit
    * in memory for search. Fully narrow: codebooks are a literal, the
    * argmin is a per-row array expression. */
  def pqEncode(spark: SparkSession, emb: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    // compiled per-row argmin (graft.functions.PqEncode, codebook as a
    // reference object): the interpreted HOF form it replaces paid a
    // closure per codeword element per row — m·k·subDim interpreted
    // ops, the dominant cost of the 200k decade's corpus encode.
    // Identical codes (PqEncodeSpec pins the HOF form bit-for-bit,
    // ties / NaN / short-slice rows included).
    graft.functions.PqEncode.register(spark,
      graft.functions.PqModelRef(codebooks))
    emb.select(col("vec_id"),
        expr(s"transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("codes", expr("pq_encode(v)"))
      .select(col("vec_id"), col("codes"))
  }

  /** PQ asymmetric-distance (ADC) top-k: each query precomputes its
    * m×k distance table ONCE (a narrow per-query transform), the table
    * broadcasts with the query batch, and scoring a corpus code row is
    * m ARRAY LOOKUPS — constant work per candidate independent of
    * `dims`, the whole point of PQ. The corpus never shuffles; ranking
    * is a per-query window over approximate L2². */
  /** Spread a narrow candidate-side scan across the session's full
    * parallelism when the source arrived in fewer splits: a single
    * parquet row group is unsplittable, so a small corpus scans as ONE
    * task and the O(candidates × dims) ADC lookup loop serializes on
    * it (the 10×-vector bench measured the SQ search at 26s on one
    * task). The round-robin repartition moves only the bytes-per-row
    * code payload — noise next to that loop; at production scale the
    * scan already arrives in many splits and this is a no-op. */
  private def spread(df: DataFrame): DataFrame = Par.spread(df)

  def pqSearchADC(spark: SparkSession, emb: DataFrame, codes: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]],
      queryPred: org.apache.spark.sql.Column, topK: Int): DataFrame = {
    Functions.registerAll(spark)
    pqSearch(emb.filter(queryPred), codes, codebooks, topK)
  }

  private def pqSearch(queryEmb: DataFrame, codes: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]], topK: Int): DataFrame = {
    val spark = queryEmb.sparkSession
    val m = codebooks.length
    val subDim = codebooks.head.head.length
    val cells = codebooks.head.length
    // bounded-query collect (cosineTopK's contract); per-query tables
    // built driver-side with the IDENTICAL IEEE arithmetic of the SQL
    // form this replaces: per (subspace, codeword) the sequential
    // index-order fold Σ (a−b)² over the query's subvector
    val qRows = collectQueryBatch(queryEmb)
    if (qRows.isEmpty) return emptyAdcResult(spark, "adc_dist2")
    val nQ = qRows.length
    val stride = m * cells
    val flat = new Array[Double](nQ * stride)
    var qi = 0
    while (qi < nQ) {
      val v = qRows(qi)._2
      var s = 0
      while (s < m) {
        var ci = 0
        while (ci < cells) {
          val cw = codebooks(s)(ci)
          var acc = 0.0
          var d = 0
          while (d < subDim) {
            val diff = v(s * subDim + d) - cw(d)
            acc += diff * diff
            d += 1
          }
          flat(qi * stride + s * cells + ci) = acc
          ci += 1
        }
        s += 1
      }
      qi += 1
    }
    // the WHOLE |queries|·n ADC search as one global aggregate over
    // the narrow code scan (graft.functions.AdcTopKMulti — see sqAdc's
    // note: the BNLJ + per-pair projection machinery, not the m-lookup
    // fold, dominated the exhaustive baselines at the 200k decade).
    // Same ranking contract: (round(adc_dist2, 6), n_id) per query.
    val model = new graft.functions.QueryAdcModelRef(
      spark.sparkContext.broadcast(
        new graft.functions.QueryAdcTables(qRows.map(_._1).toArray, flat,
          m, cells)))
    graft.functions.AdcTopKMulti.register(spark, model)
    spread(codes.select(col("vec_id").as("n_id"), col("codes")))
      .agg(expr(s"adc_topk_multi(codes, n_id, $topK, 6)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.q_id").as("q_id"), col("e.rank").as("rank"),
        col("e.n_id").as("n_id"), col("e.score").as("adc_dist2"))
  }

  /** Near-dup pairs above a cosine threshold, blocked by `blockCol`
    * (label / LSH bucket / IVF cell) with a deterministic query sample
    * to bound pair count; keep = smaller id.
    *
    * The block join is SALTED ([[knnGraph]]'s pattern): a coarse
    * blocking key (10 labels, a handful of LSH mega-buckets) puts each
    * block's whole sample × members pair loop in ONE join task — at
    * the 200k-vector decade the unsalted label join ran ~10 tasks on
    * 32 cores (51.8s; the sample side outgrows the broadcast threshold
    * exactly when the skew starts to matter). The sample side carries
    * a deterministic md5 sub-salt, the corpus side replicates
    * ×`pairSalts`: identical pair set, largest task ÷pairSalts.
    *
    * Salting defaults to CENSUS-DERIVED (`pairSalts = 0`): the count
    * comes from the observed blocking census ([[deriveSalts]] — one
    * extra narrow scan here, since nothing is materialized), which
    * lands at 1 (the plain block join — replication is pure cost)
    * when the key is fine-grained and scales up for coarse or skewed
    * keys: q63's 10-label blocking needs 16 (51.8→15.7s at the 200k
    * decade). Any explicit count gives the identical pair set. */
  def nearDupPairs(spark: SparkSession, emb: DataFrame, blockCol: String,
      samplePred: org.apache.spark.sql.Column, threshold: Double,
      pairSalts: Int = 0): DataFrame = {
    require(pairSalts >= 0,
      s"pairSalts=$pairSalts must be >= 1, or 0 to derive from the census")
    val base = spread(withVectors(spark, emb))
    val salts = if (pairSalts == 0)
      deriveSalts(base, blockCol, Some(samplePred)) else pairSalts
    val a = base.filter(samplePred)
      .select(col("vec_id").as("a_id"), col(blockCol), col("v").as("va"), col("nrm").as("na"))
      .withColumn("_salt",
        (conv(substring(md5(col("a_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % salts).cast("int"))
    val b = base.select(col("vec_id").as("b_id"), col(blockCol), col("v").as("vb"), col("nrm").as("nb"))
      .crossJoin(broadcast(spark.range(salts)
        .select(col("id").cast("int").as("_salt"))))
    // threshold verdict via round_ge (see semanticDedupFixed — the
    // per-pair BigDecimal was the scan's dominant term); survivors are
    // few, so the OUTPUT cosine's exact rounding is paid only by them
    Functions.registerAll(spark)
    a.join(b, Seq(blockCol, "_salt"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("_rc", expr("dot64(va, vb)") / (col("na") * col("nb")))
      .filter(expr(s"round_ge(_rc, CAST($threshold AS DOUBLE), 4)"))
      .withColumn("cosine", round(col("_rc"), 4))
      .select(col("a_id"), col("b_id"), col(blockCol), col("cosine"),
        least(col("a_id"), col("b_id")).as("keep_id"))
  }

  /** [[nearDupPairs]] blocked by the engine's OWN ANN grid instead of
    * a caller-provided key: sample × corpus candidate pairs restricted
    * to same-[[assignFixed]]-cell, verified by the identical cosine
    * contract (4-dp rounded ≥ `threshold`, keep = smaller id). THE
    * scale path for generic embedding near-dup pair mining — a label
    * block is ×(block size) work BY CONTRACT (q63's 10-label blocking
    * is |sample|·n/10 pairs however big n grows), while a fixed-grid
    * cell is the SemDeDup bound O(Σ |sample_i|·cᵢ): pair work tracks
    * cluster geometry, not corpus size. Recall follows the blocking
    * (a pair split across cells is not a candidate — the standard ANN
    * near-dup trade, same as [[semanticDedupFixed]]); precision is
    * exact (every emitted pair passed the full cosine verify).
    * Oracle-replayable end to end because the grid is the
    * deterministic md5 literal (q142's assignment contract — q165).
    *
    * Scale hygiene shared with [[knnGraph]]: the assignment
    * materializes ONCE behind a constraint-free re-wrap (the derived
    * centroid key + self-join shape trips Spark 4.1's
    * InferFiltersFromConstraints otherwise), boilerplate mega-cells
    * can be excluded observably (`maxCluster` + `capMetrics` —
    * capped cells emit no pairs), and dense cells spread over
    * `pairSalts` tasks (default 0 = census-derived over the kept
    * cells; identical pair set at any count). */
  def nearDupPairsAnn(spark: SparkSession, emb: DataFrame,
      samplePred: org.apache.spark.sql.Column, threshold: Double,
      centroids: Int = 16, dims: Int = 64,
      maxCluster: Int = Int.MaxValue,
      capMetrics: Option[org.apache.spark.sql.Observation] = None,
      pairSalts: Int = 0): DataFrame = {
    require(pairSalts >= 0,
      s"pairSalts=$pairSalts must be >= 1, or 0 to derive from the census")
    // one checkpoint + one census job for cap/stats/salts (pair work
    // per cell = |sample_i|·c_i — samplePred counts the sample side);
    // the result is lazy, so the blocks stay with the returned frame
    // (ContextCleaner — see assignCensused)
    val (assignedCp, salts, _) = assignCensused(spark, emb, centroids,
      dims, maxCluster, capMetrics, Some(samplePred), pairSalts)
    val a = assignedCp.filter(samplePred)
      .select(col("vec_id").as("a_id"), col("centroid"),
        col("v").as("va"), col("nrm").as("na"))
      .withColumn("_salt",
        (conv(substring(md5(col("a_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % salts).cast("int"))
    val b = assignedCp.select(col("vec_id").as("b_id"), col("centroid"),
      col("v").as("vb"), col("nrm").as("nb"))
      .crossJoin(broadcast(spark.range(salts)
        .select(col("id").cast("int").as("_salt"))))
    // threshold verdict via round_ge (see nearDupPairs); the zero-norm
    // guard (cosineTopK's) keeps NaN — which fails round_ge exactly as
    // it fails `round(·, 4) >= t` — instead of an ANSI 0/0 throw
    Functions.registerAll(spark)
    a.join(b, Seq("centroid", "_salt"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("_rc",
        when(col("na") * col("nb") === 0.0, lit(Double.NaN))
          .otherwise(expr("dot64(va, vb)") / (col("na") * col("nb"))))
      .filter(expr(s"round_ge(_rc, CAST($threshold AS DOUBLE), 4)"))
      .withColumn("cosine", round(col("_rc"), 4))
      .select(col("a_id"), col("b_id"), col("centroid"), col("cosine"),
        least(col("a_id"), col("b_id")).as("keep_id"))
  }

  /** Per-label mean-pooled centroid, long form (label, dim, mean, n) —
    * the pooling step behind class prototypes, IVF retraining, and
    * chunk→document embedding rollups. Long-form OUTPUT (label, dim,
    * n, mean — array re-assembly is the caller's choice) over a
    * vector-form AGGREGATE: one `vec_sum6` buffer per label
    * ([[graft.functions.VecSum6]]) instead of a (label, dim) explode,
    * so the corpus is never amplified ×dims through the exchange.
    * Terms are rounded to 6 dp then summed as exact integer
    * micro-units — summation order can't move the mean, so the
    * result is bit-equal cross-engine (same discipline as
    * [[normProfile]]). The mean itself rounds in INTEGER space (signed
    * half-away-from-zero over the exact micro-unit sum): a double
    * `round(sum/n, 6)` landed exactly on a 6-dp midpoint at sf0.1
    * (0.0032135 → engines split 0.003213/0.003214), which the integer
    * form decides identically everywhere. */
  def meanPool(spark: SparkSession, emb: DataFrame,
      labelCol: String = "label", embCol: String = "embedding"): DataFrame = {
    Functions.registerAll(spark)
    // ONE compiled vec_sum6 pass ([[graft.functions.VecSum6]]): each
    // row folds its dims terms into a flat long[] buffer where it is
    // scanned (map-side partials; the exchange carries |labels|
    // buffers, never a (row × dims) stream), and the per-dim explode
    // happens AFTER aggregation on |labels| rows — the declarative
    // (label, dim) explode it replaces amplified the corpus ×dims
    // through the shuffle. Same exact-integer terms, so bit-equal to
    // the relational oracle form.
    spread(emb)
      .groupBy(col(labelCol).as("label"))
      .agg(expr(s"vec_sum6($embCol)").as("_s"))
      .select(col("label"),
        element_at(col("_s"), -1).as("n_vecs"),
        posexplode(expr("slice(_s, 1, size(_s) - 1)")).as(Seq("dim", "_s6")))
      .withColumn("dim", col("dim").cast("long"))
      .withColumn("mean",
        (when(col("_s6") < 0, lit(-1L)).otherwise(lit(1L)) *
          floor((abs(col("_s6")) * 2 + col("n_vecs")).cast("double")
            / (col("n_vecs") * 2).cast("double")).cast("long"))
          .cast("double") / 1000000.0)
      .select(col("label"), col("dim"), col("n_vecs"), col("mean"))
  }

  /** k-NN majority-vote classification for a query subset: exact
    * cosine top-k neighbours ([[cosineTopK]] — pair count bounded by
    * |queries|·n, never n²), then one tiny groupBy over k rows per
    * query; ties break to the smaller label (total order, engine-
    * reproducible). The shape every embedding-quality probe uses:
    * label agreement of near neighbours ≈ encoder sanity. */
  def knnClassify(spark: SparkSession, emb: DataFrame,
      queryPred: org.apache.spark.sql.Column, k: Int,
      labelCol: String = "label"): DataFrame = {
    val labels = emb.select(col("vec_id").as("n_id"), col(labelCol).as("n_label"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("n_label"))
    // the top-k result (≤ |queries|·k rows) is the SMALL side — broadcast
    // it into the corpus-sized label scan, never the reverse
    labels
      .join(broadcast(cosineTopK(spark, emb, queryPred, k)), Seq("n_id"))
      .groupBy(col("q_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("q_id"), col("n_label").as("pred_label"), col("votes"))
  }

  /** Persist an IVF index: `path/centroids` (id + vector + norm) and
    * `path/assigned` — every corpus vector under its nearest centroid,
    * PARTITIONED BY centroid_id so probe-time reads prune to the
    * probed cells at the file-listing level. Assignment uses
    * [[ivfAssign]]'s exact contract (4-dp rounded cosine, id
    * tie-break) with vectors retained. The build-once / query-many
    * production shape (the ANN twin of Dedup.writeIncrementalSnapshot):
    * corpus text is never rescanned and never reshuffled at query
    * time. */
  def writeIvfIndex(spark: SparkSession, emb: DataFrame,
      centroidPred: org.apache.spark.sql.Column, path: String,
      trainIters: Int = DefaultTrainIters): Unit = {
    // null embeddings excluded ([[ivfAssign]]'s contract): a NULL
    // centroid_id would land in the Hive default partition and never
    // be probed — an unsearchable row is worse than a dropped one
    val base = withVectors(spark, emb.filter(col("embedding").isNotNull))
    if (trainIters <= 0)
      writeIvfFrom(spark, base, base.filter(centroidPred)
        .select(col("vec_id").as("centroid_id"), col("v").as("cv"),
          col("nrm").as("cn")), path)
    else
      writeIvfIndexWith(spark, emb,
        trainIvfCentroidsBalanced(spark, emb, centroidPred, trainIters), path)
  }

  /** The default quantizer-training depth for [[writeIvfIndex]]: the
    * TRAINED quantizer is the default build because the off-corpus
    * recall audit proved its win is real and large (recall@10 at
    * nProbe = 1: 0.45 seed-rows vs 0.96 trained at the 2M decade —
    * BENCH_sfe), and two Lloyd iterations capture most of it at two
    * narrow corpus passes each. `trainIters = 0` is the explicit
    * cheap option: seed rows verbatim — the SQL-replayable assignment
    * contract the oracle queries (q66/q116/q156/q158) pin, and the
    * right choice when centroids were already trained elsewhere
    * ([[writeIvfIndexWith]]). */
  val DefaultTrainIters: Int = 2

  /** [[writeIvfIndex]] from EXPLICIT centroid vectors — the build hook
    * for a TRAINED quantizer ([[trainIvfCentroids]]' Lloyd output, or
    * any caller-supplied codebook) instead of seed rows. Centroid
    * norms are recomputed with the engine's own convention
    * (`sqrt(dot64(cv, cv))`, [[withVectors]]), so search against the
    * written index is bit-contract-identical to a seed-built index
    * whose seed vectors equal `centers` (IvfIndexSpec). */
  def writeIvfIndexWith(spark: SparkSession, emb: DataFrame,
      centers: Seq[(Long, Seq[Double])], path: String): Unit = {
    import spark.implicits._
    require(centers.nonEmpty, "no centroid vectors")
    Functions.registerAll(spark)
    val base = withVectors(spark, emb.filter(col("embedding").isNotNull))
    writeIvfFrom(spark, base, centers.toDF("centroid_id", "cv")
      .select(col("centroid_id"), col("cv"),
        expr("sqrt(dot64(cv, cv))").as("cn")), path)
  }

  /** The shared build tail of [[writeIvfIndex]]/[[writeIvfIndexWith]]:
    * persist the centroid table, then assignment as one compiled
    * narrow pass (ivfAssign's rewired shape): the index BUILD is the
    * corpus-sized cost of the IVF story, and the crossJoin + rank
    * window it replaces exchanged corpus × centroids rows — the
    * build's only shuffle is the cell-routing repartition feeding the
    * partitioned write. That shuffle is NOT optional: a partitionBy
    * write without it has EVERY scan task open a writer per cell it
    * touches, so the index lands as tasks × cells files (measured:
    * 32 × 4,000 = 128k ~2-row files at the 200k decade, and every
    * probe-time scan paid the 128k listings/footers — 10s of q156's
    * 11.6s). Routed, each cell is exactly ONE file per build and the
    * probe scan is footer-bound no more. */
  private def writeIvfFrom(spark: SparkSession, base: DataFrame,
      cents: DataFrame, path: String): Unit = {
    import spark.implicits._
    // ONE evaluation of the centroid frame: collect it, register the
    // model, and write the COLLECTED rows back out — parquet round-trips
    // doubles exactly, so this is bit-identical to the old
    // write → re-read → collect shape while saving a read job + a
    // listing per build (the model collect sorts by id, so neither the
    // collect order nor the file row order carries meaning).
    val rows = cents.select(col("centroid_id"), col("cv"), col("cn"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq, r.getDouble(2)))
    val model = graft.functions.CentroidModelRef(
      rows.map { case (id, v, n) => (id, v: Seq[Double], n) })
    rows.toDF("centroid_id", "cv", "cn").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    graft.functions.CentroidTopK.register(spark, model)
    spread(base
      .select(col("vec_id").as("n_id"), col("v").as("vn"), col("nrm").as("nn")))
      .withColumn("centroid_id",
        element_at(expr("centroid_topk(vn, nn, 1)"), 1).getField("centroid_id"))
      .select(col("n_id"), col("vn"), col("nn"), col("centroid_id"))
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/assigned")
  }

  /** Spherical-Lloyd quantizer training under the ENGINE'S OWN
    * assignment metric: each iteration assigns the corpus to its
    * best centroid with the compiled [[graft.functions.CentroidTopK]]
    * pass — `(round(cosine, 4) DESC, id)`, exactly what every IVF
    * build/probe in the engine uses — then re-centers each cell at its
    * member mean. Training under the same metric the index assigns
    * with is what makes the trained cells balanced AT SEARCH TIME
    * (a Euclidean-trained codebook optimizes a different Voronoi
    * diagram than the cosine assigner carves).
    *
    * Scale shape: per iteration one narrow compiled assignment (zero
    * shuffle) + one (cells·dims)-bounded mean aggregate (the explode
    * amplifies ×dims but collapses map-side to |cells|·dims groups);
    * the driver holds cells·dims doubles, never corpus-proportional.
    * Empty cells keep their previous centroid (Lloyd's convention,
    * [[graft.ext.Clustering.kmeansFromCenters]]). Training is a
    * build-time op, not an oracle query: the FP mean is
    * order-nondeterministic at the ulp level, which moves no
    * assignment the recall audit can see. */
  def trainIvfCentroids(spark: SparkSession, emb: DataFrame,
      seedPred: org.apache.spark.sql.Column,
      iters: Int): Seq[(Long, Seq[Double])] = {
    val base = withVectors(spark, emb.filter(col("embedding").isNotNull))
    val seeds: Seq[(Long, Seq[Double])] = base.filter(seedPred)
      .select(col("vec_id"), col("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
      .sortBy(_._1).toSeq
    require(seeds.nonEmpty, "no seed centroids")
    lloydIterate(spark, base, seeds, iters)
  }

  /** The Lloyd loop shared by [[trainIvfCentroids]] and
    * [[trainIvfCentroidsBalanced]]: per iteration one narrow compiled
    * assignment + one (cells·dims)-bounded mean aggregate; empty cells
    * keep their previous centroid. */
  private def lloydIterate(spark: SparkSession, base: DataFrame,
      cents0: Seq[(Long, Seq[Double])], iters: Int): Seq[(Long, Seq[Double])] = {
    import spark.implicits._
    var cents = cents0
    var i = 0
    while (i < iters) {
      val model = graft.functions.CentroidModelRef.collect(
        cents.toDF("centroid_id", "cv")
          .select(col("centroid_id"), col("cv"),
            expr("sqrt(dot64(cv, cv))").as("cn")))
      graft.functions.CentroidTopK.register(spark, model)
      val updated = spread(base.select(col("v"), col("nrm")))
        .withColumn("cid",
          element_at(expr("centroid_topk(v, nrm, 1)"), 1)
            .getField("centroid_id"))
        .select(col("cid"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("cid"), col("d")).agg(avg(col("x")).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
        .select(col("cid"), expr("transform(dm, e -> e.m)").as("cv"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq)).toMap
      cents = cents.map { case (id, old) => (id, updated.getOrElse(id, old)) }
      i += 1
    }
    cents
  }

  /** [[trainIvfCentroids]] plus ONE hot-cell split pass — the
    * concentration guard the 2M off-corpus audit flagged on the plain
    * trained quantizer (max cell 31,250 vs the seed build's 9,987 —
    * a 3×-hotter cell is a 3×-slower probe of that cell at search
    * time). After the Lloyd iterations, every cell holding more than
    * `splitFactor` × the mean member count receives a SECOND centroid
    * placed on the cell's farthest member (min 4-dp cosine to the
    * trained centroid, vec_id tie-break — the k-center step, applied
    * only where concentration was measured; new ids allocate past the
    * existing max so seed-derived ids never collide), then one final
    * Lloyd iteration rebalances the split pairs. Cost: one extra
    * narrow assignment + |cells|-bounded aggregate for the census, and
    * the one rebalance iteration — nothing corpus-quadratic. No hot
    * cell → bit-identical to [[trainIvfCentroids]] output
    * (IvfIndexSpec pins both directions). */
  def trainIvfCentroidsBalanced(spark: SparkSession, emb: DataFrame,
      seedPred: org.apache.spark.sql.Column, iters: Int,
      splitFactor: Double = 4.0): Seq[(Long, Seq[Double])] = {
    import spark.implicits._
    val base = withVectors(spark, emb.filter(col("embedding").isNotNull))
    val cents = trainIvfCentroids(spark, emb, seedPred, iters)
    val model = graft.functions.CentroidModelRef.collect(
      cents.toDF("centroid_id", "cv")
        .select(col("centroid_id"), col("cv"),
          expr("sqrt(dot64(cv, cv))").as("cn")))
    graft.functions.CentroidTopK.register(spark, model)
    val census = spread(base.select(col("vec_id"), col("v"), col("nrm")))
      .withColumn("a", element_at(expr("centroid_topk(v, nrm, 1)"), 1))
      .select(col("a.centroid_id").as("cid"), col("a.cos").as("cos"),
        col("vec_id"), col("v"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        min_by(col("v"), struct(col("cos"), col("vec_id"))).as("far"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toIndexedSeq))
    val totalN = census.map(_._2).sum
    val mean = totalN.toDouble / math.max(1, cents.length)
    val hot = census.filter(_._2 > splitFactor * mean).sortBy(_._1)
    if (hot.isEmpty) cents
    else {
      val maxId = cents.map(_._1).max
      val splits = hot.zipWithIndex.map { case ((_, _, far), i) =>
        (maxId + 1 + i, far: Seq[Double])
      }
      lloydIterate(spark, base, cents ++ splits, 1)
    }
  }

  /** Incremental IVF index maintenance — crawls APPEND; a build-once
    * index must not force a corpus-wide rebuild per increment (the
    * q103 persisted-snapshot pattern applied to ANN). New vectors are
    * assigned against the PERSISTED centroid table, which is k-bounded
    * and therefore collects to a literal array column: the assignment
    * is one fully NARROW pass over the increment (no crossJoin, no
    * window; the append's only shuffle is the increment-sized
    * cell-routing repartition before the write), and the rows append
    * into the existing `centroid_id=` partitions, so probe-time
    * partition pruning keeps working unchanged. Seen vectors are scanned zero times.
    *
    * Assignment contract is [[writeIvfIndex]]'s exactly — argmax of
    * the 4-dp rounded cosine with centroid-id tie-break, the same IEEE
    * arithmetic — expressed as a lexicographic (−cos, id) `array_min`
    * (Spark `round` never emits −0.0, so negation cannot split a tie
    * the window form would merge). IvfIndexSpec pins append ≡ full
    * rebuild: identical assigned rows and bit-equal search results on
    * the merged corpus; q158 oracle-checks search over an appended
    * index against q66's SQL verbatim. */
  /** The increment-assignment stage shared by [[appendIvfIndex]] and
    * `Streams.ivfIntake`: vectors assigned against the persisted
    * centroid table as a literal array column — stateless, fully
    * narrow, works identically on a batch frame and a streaming one
    * (the centroid read is a bounded driver-side collect at plan-build
    * time; a streaming query pins the centroid set for its lifetime —
    * restart the stream after a centroid retrain). */
  def assignToIndex(spark: SparkSession, emb: DataFrame,
      path: String): DataFrame = {
    Functions.registerAll(spark)
    val centRows = Tables.read(spark, s"$path/centroids")
      .select(col("centroid_id"), col("cv"), col("cn"))
    require(centRows.limit(1).count() > 0, s"no centroids at $path/centroids")
    // compiled reference-object argmax instead of the typedLit +
    // array_min HOF (same lexicographic (−cos 4-dp, id) contract): the
    // HOF interprets a closure per centroid per row — at quantizer
    // scale (thousands of cells) that interpretation dominates the
    // increment scan; centroid_topk is the same narrow zero-shuffle
    // shape with the dot loop compiled
    val model = graft.functions.CentroidModelRef.collect(centRows)
    graft.functions.CentroidTopK.register(spark, model)
    // null embeddings excluded ([[ivfAssign]]'s contract) — appends
    // must never manufacture a Hive-default (unprobed) partition
    withVectors(spark, emb.filter(col("embedding").isNotNull))
      .select(col("vec_id").as("n_id"), col("v").as("vn"), col("nrm").as("nn"))
      .withColumn("centroid_id",
        element_at(expr("centroid_topk(vn, nn, 1)"), 1).getField("centroid_id"))
      .select(col("n_id"), col("vn"), col("nn"), col("centroid_id"))
  }

  /** The batch append: [[assignToIndex]]'s narrow assignment, routed
    * through an INCREMENT-sized repartition so each touched cell gains
    * exactly ONE file per crawl (unrouted, every scan task of the
    * increment opens a writer per cell it touches — fragmentation per
    * append would be tasks × cells, which is what [[compactIvfIndex]]
    * exists to undo, not what the append should manufacture). Seen
    * vectors are still scanned zero times; the shuffle moves only the
    * new rows. */
  def appendIvfIndex(spark: SparkSession, newEmb: DataFrame,
      path: String): Unit =
    assignToIndex(spark, newEmb, path)
      .repartition(col("centroid_id"))
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$path/assigned")

  /** Compact the appended index's cells: [[appendIvfIndex]] adds new
    * FILES into `centroid_id=` partitions every increment, so after N
    * crawls each cell holds N small files and probe-time reads pay N
    * open/footer costs per probed cell — the classic small-file killer
    * at 100 TB. This rewrites every cell holding more than
    * `filesPerCell` files down to `filesPerCell`, and ONLY those cells:
    *  - fragmented cells are found from a file LISTING (metadata-scale,
    *    no data read);
    *  - their rows are read with a partition-pruned scan, hash-spread
    *    so each cell lands in ≤ `filesPerCell` write tasks, written to
    *    a staged table, and swapped in cell by cell through
    *    [[graft.core.Commit]], which also heals a crash of the last
    *    call before the listing — untouched cells' files are never
    *    rewritten, so compaction cost is proportional to the
    *    fragmentation, not the index.
    * Contents are bit-preserved (same rows, parquet doubles are
    * lossless), so post-compaction search is bit-equal
    * (IvfIndexSpec pins it; q158's oracle is unchanged). Row order
    * within a cell may change — no consumer orders by file position.
    *
    * Sizing `filesPerCell`: it bounds probe-time scan parallelism per
    * cell — a compacted file is one scan split per row group, so a
    * multi-GB cell compacted to ONE freshly-written file (one writer,
    * one row group until it hits the 128 MB row-group bound)
    * serializes that cell's rerank onto one task (the `spread()`
    * pathology, measured: a deliberately single-cell 200k-vec index
    * probed SLOWER after 1-file compaction). Pick filesPerCell ≈
    * cell bytes / 128 MB, floor 1 — with a healthy quantizer (cells ≪
    * corpus, many cells probed per query batch) 1 is right.
    * Not safe concurrently with readers of the same cells (swap is
    * per-cell, not transactional); run it between crawl
    * increments, where appendIvfIndex already serializes. */
  def compactIvfIndex(spark: SparkSession, path: String,
      filesPerCell: Int = 1): Long = {
    require(filesPerCell >= 1, s"filesPerCell=$filesPerCell must be >= 1")
    val assigned = s"$path/assigned"
    val conf = spark.sparkContext.hadoopConfiguration
    val fragCells = graft.core.Commit.heal(spark, assigned).map(_.getPath)
      .filter(d => d.getName.startsWith("centroid_id=") && d.getFileSystem(conf).listStatus(d)
        .count(_.getPath.getName.endsWith(".parquet")) > filesPerCell)
      .map(_.getName).toSeq
    if (fragCells.isEmpty) return 0L
    val frag = spark.read.parquet(assigned).filter(col("centroid_id")
      .isin(fragCells.map(_.stripPrefix("centroid_id=").toLong): _*))
    val spreadCells =
      if (filesPerCell == 1) frag.repartition(col("centroid_id"))
      else frag
        .withColumn("_fs", pmod(hash(col("n_id")), lit(filesPerCell)))
        .repartition(col("centroid_id"), col("_fs")).drop("_fs")
    graft.core.Commit.replace(spark, assigned, fragCells)(
      spreadCells.write.partitionBy("centroid_id").parquet(_))
    fragCells.length.toLong
  }

  /** IVF search against a persisted index ([[writeIvfIndex]]): queries
    * probe their `nProbe` nearest centroids and rerank exactly within
    * the probed CELLS' FILES only — the probed-cell id set (bounded by
    * the centroid count, never the corpus) becomes a partition filter,
    * so unprobed cells are pruned before a single byte is read.
    * Identical ranking contract to [[ivfTopK]]; on the same corpus and
    * parameters the two return bit-equal results (q116 proves it
    * against q66's oracle verbatim). */
  def ivfTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
      nProbe: Int, k: Int): DataFrame = {
    Functions.registerAll(spark)
    // probe ranking as one compiled narrow centroid_topk call per
    // query (ivfTopK's rewired probe stage — the crossJoin + rank
    // window shuffled |queries| × centroids rows)
    val model = graft.functions.CentroidModelRef.collect(
      Tables.read(spark, s"$path/centroids")
        .select(col("centroid_id"), col("cv"), col("cn")))
    graft.functions.CentroidTopK.register(spark, model)
    // the probe compute (|queries| × centroids dot loops) spreads to
    // full parallelism (a single-row-group query parquet is ONE scan
    // task otherwise) and materializes ONCE: it feeds both the probed-
    // cell collect and the rerank join, and is |queries|·nProbe rows —
    // re-deriving it would re-run the dot loops per consumer
    val probes = spread(withVectors(spark, queries)
      .select(col("vec_id").as("q_id"), col("v").as("vq"), col("nrm").as("nq")))
      .withColumn("centroid_id",
        explode(expr(s"centroid_topk(vq, nq, $nProbe).centroid_id")))
      .select(col("q_id"), col("vq"), col("nq"), col("centroid_id"))
      .localCheckpoint(true)
    // distinct probed cells: bounded by |centroids| (k-means k), NOT by
    // |queries| or the corpus — a driver-side list here is metadata-scale
    val cells = probes.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val cand = spark.read.parquet(s"$path/assigned")
      .filter(col("centroid_id").isin(cells: _*))
    // rerank via the bounded topk_min aggregate (ivfTopK's rewired
    // shape — the rank window exchanged every probed pair with its
    // vectors); the candidate's cell id rejoins from a second scan of
    // the SAME relation (`cand` referenced twice shares one FileIndex,
    // so the cell listing is paid once) that reads only n_id — column
    // pruning keeps the 64-dim vectors out of it, partition pruning
    // keeps it to the probed cells, and the |queries|·k result side
    // broadcasts
    val tk = broadcast(probes).join(cand, Seq("centroid_id"))
      .filter(col("q_id") =!= col("n_id"))
      // lazy boundary rounding inside the aggregate (see cosineTopK)
      .withColumn("_raw",
        when(col("nq") * col("nn") === 0.0, lit(Double.NaN))
          .otherwise(expr("dot64(vq, vn)") / (col("nq") * col("nn"))))
      .groupBy(col("q_id"))
      .agg(expr(s"topk_cos_round(_raw, n_id, $k, 4)").as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("i", "e")))
      .select(col("q_id"), (col("i") + 1).cast("long").as("rank"),
        col("e.id").as("n_id"),
        when(col("e.score") === Double.NegativeInfinity, Double.NaN)
          .otherwise(-col("e.score")).as("cosine"))
    broadcast(tk).join(
        // partition-directory inference types centroid_id= as INT;
        // the API contract (and q66's oracle schema) is BIGINT
        cand.select(col("n_id"), col("centroid_id").cast("long").as("centroid_id")),
        Seq("n_id"))
      .select(col("q_id"), col("rank"), col("n_id"), col("centroid_id"), col("cosine"))
  }

  /** ANN recall@k: fraction of the exact top-k ([[cosineTopK]]) that
    * the IVF path ([[ivfTopK]]) also returned, per query — THE metric
    * that calibrates nProbe/k before anyone trusts an approximate
    * index. Both sides are rank-k-bounded, so the overlap join carries
    * |queries|·k rows; recall uses the engine-wide ratio6 discipline.
    */
  def annRecall(spark: SparkSession, emb: DataFrame,
      centroidPred: org.apache.spark.sql.Column,
      queryPred: org.apache.spark.sql.Column,
      nProbe: Int, k: Int): DataFrame = {
    val exact = cosineTopK(spark, emb, queryPred, k)
      .select(col("q_id"), col("n_id"))
    val approx = ivfTopK(spark, emb, centroidPred, queryPred, nProbe, k)
      .select(col("q_id"), col("n_id"))
    exact
      // both sides are rank-k-bounded; broadcast the probe side so the
      // overlap join never sorts (static plan had an SMJ here)
      .join(broadcast(approx.withColumn("hit", lit(1L))),
        Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .withColumn("recall", Dedup.ratio6(col("hits"), lit(k)))
  }

  /** Persist a PQ index — the memory-bounded ANN twin of
    * [[writeIvfIndex]]: `path/codebooks` (subspace, code, codeword) and
    * `path/codes` (every corpus vector as `m` small codes, the
    * 4·dims-bytes → m-bytes compression that lets a 100 TB embedding
    * corpus sit in RAM for search). Train once ([[pqCodebooks]]'s
    * one-job-per-iteration Lloyd), encode once (narrow), search many:
    * the corpus embedding column is never re-read at query time. */
  def writePqIndex(spark: SparkSession, emb: DataFrame,
      seedPred: org.apache.spark.sql.Column, path: String, m: Int = 8,
      k: Int = 16, iters: Int = 3, dims: Int = 64): Unit = {
    import spark.implicits._
    val cbs = pqCodebooks(spark, emb, seedPred, m, k, iters, dims)
    cbs.zipWithIndex.flatMap { case (codes, s) =>
      codes.zipWithIndex.map { case (cw, ci) => (s, ci, cw) }
    }.toDF("sub", "code", "cw")
      .write.mode("overwrite").parquet(s"$path/codebooks")
    pqEncode(spark, emb, cbs)
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Reload a persisted PQ codebook set ([[writePqIndex]]) — doubles
    * round-trip parquet exactly, so searches against the reloaded
    * index are bit-equal to in-memory ADC (spec-pinned). */
  def loadPqCodebooks(spark: SparkSession,
      path: String): Seq[Seq[Seq[Double]]] = {
    val rows = Tables.read(spark, s"$path/codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, subRows) =>
      subRows.sortBy(_._2).map(_._3).toSeq
    }
  }

  /** ADC top-k against a persisted PQ index: the query batch computes
    * its distance tables against the RELOADED codebooks and scans the
    * persisted code table — [[pqSearchADC]]'s exact ranking contract
    * ((adc_dist2, n_id) window, 6-dp rounded) without touching the
    * original embeddings. */
  def pqSearchIndexed(spark: SparkSession, path: String,
      queries: DataFrame, topK: Int): DataFrame = {
    Functions.registerAll(spark)
    // an IVF-PQ index's code table, also searched here, is partitioned
    // by cell, so this is no flat-table read
    pqSearch(queries, spark.read.parquet(s"$path/codes"),
      loadPqCodebooks(spark, path), topK)
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most-similar corpus vectors whose LABEL differs
    * from the query's — the "looks right, is wrong" pairs a retrieval
    * or embedding model trains against. [[cosineTopK]]'s exact ranking
    * contract (4-dp rounded cosine, (cosine DESC, n_id) window) with
    * the label-mismatch predicate pushed into the pair filter, so the
    * negative set is ranked over the same rounded values both engines
    * agree on. Scale shape = cosineTopK's: the query side is the small
    * broadcast-able batch; at 100 TB the candidate side rides an ANN
    * index ([[ivfPqSearch]]) instead of the cross join — the CONTRACT
    * (per-label-mismatch top-k) is what this operator pins. Ranking is
    * a BOUNDED per-query top-k ([[graft.functions.TopKCosRound]] — the
    * engine's last rank window over a pair stream, retired round 11):
    * the |q|·n pair stream folds into ≤k-entry buffers map-side where
    * the join generates it, the exchange carries |q|·k entries, and
    * the k-bounded winners pick their neighbor labels back up through
    * one broadcast join into the corpus scan. Same (cosine DESC 4-dp,
    * n_id) contract via negated +0.0-normalized scores — oracle
    * unchanged (q120). */
  def hardNegatives(spark: SparkSession, emb: DataFrame,
      queryPred: org.apache.spark.sql.Column, k: Int,
      labelCol: String = "label"): DataFrame = {
    Functions.registerAll(spark)
    val base = withVectors(spark, emb)
    val qv = base.filter(queryPred)
      .select(col("vec_id").as("q_id"), col(labelCol).as("q_label"),
        col("v").as("vq"), col("nrm").as("nq"))
    val picked = qv.crossJoin(base.select(col("vec_id").as("n_id"),
        col(labelCol).as("n_label"), col("v").as("vn"), col("nrm").as("nn")))
      .filter(col("q_id") =!= col("n_id") && col("q_label") =!= col("n_label"))
      .withColumn("_raw", expr("dot64(vq, vn)") / (col("nq") * col("nn")))
      .groupBy(col("q_id"), col("q_label"))
      .agg(expr(s"topk_cos_round(_raw, n_id, $k, 4)").as("tk"))
      .select(col("q_id"), col("q_label"),
        posexplode(col("tk")).as(Seq("i", "e")))
      .select(col("q_id"), col("q_label").cast("long").as("q_label"),
        (col("i") + 1).cast("long").as("rank"), col("e.id").as("n_id"),
        when(col("e.score") === Double.NegativeInfinity, Double.NaN)
          .otherwise(-col("e.score")).as("cosine"))
    // neighbor labels for the ≤ |q|·k winners only: broadcast the
    // picked set into one narrow corpus scan
    base.select(col("vec_id").as("n_id"),
        col(labelCol).cast("long").as("n_label"))
      .join(broadcast(picked), Seq("n_id"))
      .select(col("q_id"), col("q_label"), col("rank"), col("n_id"),
        col("n_label"), col("cosine"))
  }

  /** First 6 hex chars of md5(s) as a long — the driver-side spelling
    * of `CAST(('0x' || substr(md5(s), 1, 6)) AS BIGINT)`. */
  private def md5Head6(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 6), 16)
  }

  /** Deterministic ±1 sign for the JL projection matrix: parity of the
    * first 6 hex chars of md5("rp:j:d") — the [[lshBuckets]] md5-derived
    * randomness trick with a Rademacher distribution. Computed
    * DRIVER-side here and spelled
    * `CAST(('0x' || substr(md5('rp:' || j || ':' || d), 1, 6)) AS BIGINT) % 2`
    * in the DuckDB oracle; both are the same md5 of the same bytes. */
  private[graft] def rpSign(j: Int, d: Int): Double =
    if (md5Head6(s"rp:$j:$d") % 2 == 0) 1.0 else -1.0

  /** A FIXED deterministic PQ codebook set (md5-derived codewords in
    * [-1, 1], the [[lshBuckets]] hyperplane formula with a
    * "pq:s:c:d" tag) — NOT a trained quantizer. Exists so the ADC
    * search CONTRACT (encode = lexicographic (dist², code) argmin;
    * search = per-subspace table lookups, 6-dp-rounded (adc_dist2,
    * n_id) ranking) can be oracle-checked end to end: a k-means-trained
    * codebook has FP means no independent engine can reproduce
    * hash-exactly, but every distance against THIS codebook is the same
    * IEEE arithmetic on both engines (q127). */
  def fixedCodebooks(m: Int = 4, k: Int = 8,
      subDim: Int = 16): Seq[Seq[Seq[Double]]] =
    Seq.tabulate(m)(s => Seq.tabulate(k)(c => Seq.tabulate(subDim)(d =>
      (md5Head6(s"pq:$s:$c:$d") % 2001 - 1000) / 1000.0)))

  /** Johnson–Lindenstrauss random projection `dims → outDims` with a
    * deterministic Rademacher (±1/√outDims) matrix — the narrow
    * dimensionality-reduction pass run before ANN indexing or k-means
    * when 64 dims are still too wide at corpus scale. The sign matrix
    * is a 16×64 LITERAL (driver-derived md5 parities, [[rpSign]]), so
    * the whole operator is one zero-shuffle projection: per row,
    * outDims dot products + a 4-dp round — embarrassingly parallel at
    * 100 TB, no plane join, no aggregate (contrast [[lshBuckets]],
    * which pays a crossJoin + groupBy for its 1-bit signs). The dot
    * product runs through the compiled [[graft.functions.Dot64]]
    * primitive — the identical left-to-right index-order fold as the
    * interpreted `aggregate(zip_with(...))` form it replaced (and as
    * DuckDB's `list_dot_product`), so oracle parity is untouched while
    * the inner O(rows × outDims × dims) loop stays inside whole-stage
    * codegen. */
  def randomProject(spark: SparkSession, emb: DataFrame,
      outDims: Int = 16, dims: Int = 64): DataFrame = {
    Functions.registerAll(spark)
    val signs: Seq[Seq[Double]] =
      Seq.tabulate(outDims)(j => Seq.tabulate(dims)(d => rpSign(j, d)))
    // one rounded dot64 COLUMN per output dimension instead of a
    // transform(sequence(...)) HOF: the HOF interprets its lambda —
    // outDims expression-tree evals per row, each re-materializing the
    // element_at(rp, j) matrix-row view — while a flat array() of
    // per-row-literal dot64 calls stays inside whole-stage codegen.
    // Identical doubles: same dot64 fold per (row, j), same /sqrt,
    // same 4-dp round — the oracle (q121) is untouched.
    val withSigns = (0 until outDims).foldLeft(
      spread(emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")))) {
      (df, j) => df.withColumn(s"_rp$j", typedLit(signs(j)))
    }
    withSigns.select(col("vec_id"),
      array((0 until outDims).map(j =>
        round(expr(s"dot64(v, _rp$j)")
          / sqrt(lit(outDims.toDouble)), 4)): _*).as("proj"))
  }

  /** Persist a combined IVF+PQ index — the production ANN layout: IVF
    * cells give sub-linear candidate selection (partition pruning on
    * `centroid_id`), PQ codes give memory-bounded distance math inside
    * each probed cell. Layout: `path/centroids` (IVF coarse quantizer),
    * `path/codebooks` ([[writePqIndex]]'s layout, so
    * [[loadPqCodebooks]] reads both index kinds), `path/codes` — every
    * corpus vector's `m` PQ codes under its nearest centroid,
    * PARTITIONED BY centroid_id. Cell assignment and PQ encoding happen
    * in ONE narrow pass over the corpus (no assignment join): both
    * derive from the same row. The codes file keeps the `vec_id` column
    * name, so [[pqSearchIndexed]] over an IVF+PQ index is exactly the
    * exhaustive-ADC fallback (spec-pinned). */
  def writeIvfPqIndex(spark: SparkSession, emb: DataFrame,
      centroidPred: org.apache.spark.sql.Column,
      seedPred: org.apache.spark.sql.Column, path: String, m: Int = 8,
      k: Int = 16, iters: Int = 3, dims: Int = 64): Unit =
    writeIvfPqIndexWith(spark, emb, centroidPred,
      pqCodebooks(spark, emb, seedPred, m, k, iters, dims), path)

  /** [[writeIvfPqIndex]] with a CALLER-SUPPLIED codebook (e.g.
    * [[fixedCodebooks]]) instead of seeds trained in place — the
    * formulation whose whole search path is oracle-checkable end to
    * end (q164: a trained codebook's unordered FP means aren't
    * reproducible by an independent engine; the fixed grid is). */
  def writeIvfPqIndexWith(spark: SparkSession, emb: DataFrame,
      centroidPred: org.apache.spark.sql.Column,
      cbs: Seq[Seq[Seq[Double]]], path: String): Unit = {
    import spark.implicits._
    val m = cbs.length
    // null embeddings excluded ([[ivfAssign]]'s contract) — see
    // writeIvfIndex: a NULL centroid_id partition is never probed
    val base = withVectors(spark, emb.filter(col("embedding").isNotNull))
    val cents = base.filter(centroidPred)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"), col("nrm").as("cn"))
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    cbs.zipWithIndex.flatMap { case (codes, s) =>
      codes.zipWithIndex.map { case (cw, ci) => (s, ci, cw) }
    }.toDF("sub", "code", "cw")
      .write.mode("overwrite").parquet(s"$path/codebooks")
    val subDim = cbs.head.head.length
    // coarse assignment + cell routing: writeIvfIndex's exact shape —
    // one compiled narrow centroid_topk pass (no corpus × centroids
    // exchange), then the increment-routing repartition so every cell
    // is ONE file per build (unrouted, tasks × cells small files)
    val model = graft.functions.CentroidModelRef.collect(
      cents.select(col("centroid_id"), col("cv"), col("cn")))
    graft.functions.CentroidTopK.register(spark, model)
    // the PQ encode is the compiled per-row argmin (see [[pqEncode]] —
    // the interpreted HOF form paid m·k·subDim closures per row)
    graft.functions.PqEncode.register(spark,
      graft.functions.PqModelRef(cbs))
    spread(base.select(col("vec_id"), col("v"), col("nrm")))
      .withColumn("centroid_id",
        element_at(expr("centroid_topk(v, nrm, 1)"), 1).getField("centroid_id"))
      .withColumn("codes", expr("pq_encode(v)"))
      .select(col("vec_id"), col("codes"), col("centroid_id"))
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/codes")
  }

  /** ANN search against a persisted IVF+PQ index ([[writeIvfPqIndex]]):
    * each query probes its `nProbe` nearest centroids
    * ([[ivfTopKIndexed]]'s probe contract — 4-dp rounded cosine,
    * centroid-id tie-break), the probed cell-id set becomes a PARTITION
    * FILTER on the codes table (unprobed cells never read a byte), and
    * candidates inside the probed cells rank by ADC distance against
    * the query's per-subspace distance table ([[pqSearchADC]]'s exact
    * (adc_dist2 6-dp, n_id) contract). With nProbe ≥ the cell count
    * this degrades to exhaustive ADC — bit-equal to
    * [[pqSearchIndexed]] on the same index (spec-pinned), which is the
    * correctness anchor for the pruned fast path. */
  /** Per-dimension corpus min/max — the scalar-quantization "model":
    * `dims` rows from one partial-aggregable pass (min/max are
    * selections, not arithmetic, so the collected doubles are EXACT —
    * an independent engine recomputing them from the same parquet gets
    * bit-identical values, which is what makes the whole int8 contract
    * oracle-checkable, unlike a trained PQ codebook). */
  def sqMinMax(spark: SparkSession, emb: DataFrame,
      dims: Int = 64): (IndexedSeq[Double], IndexedSeq[Double]) = {
    val rows = emb.filter(col("embedding").isNotNull)
      .select(posexplode(expr(
        "transform(embedding, x -> CAST(x AS DOUBLE))")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    (IndexedSeq.tabulate(dims)(rows(_)._1), IndexedSeq.tabulate(dims)(rows(_)._2))
  }

  /** Int8 scalar quantization: per-dimension affine codes
    * code = clamp(floor((x − mn)/(mx − mn)·255 + 0.5), 0, 255) (code 0
    * when the dimension is constant) — 4·dims bytes of float down to
    * `dims` bytes, the cheap sibling of PQ that keeps per-dimension
    * semantics. Two-pass shape: the min/max model is `dims` collected
    * rows ([[sqMinMax]]), then ONE narrow encode pass (model as
    * literals — no join, streams unchanged). Output is exploded
    * (vec_id, d, code, err) with err = |x − recon| at 6 dp, recon =
    * mn + code/255·(mx − mn): both the code and the reconstruction
    * error are deterministic IEEE arithmetic on exact inputs, so a
    * DuckDB oracle replays them bit-for-bit. */
  def sqEncode(spark: SparkSession, emb: DataFrame,
      dims: Int = 64): DataFrame = {
    val (mins, maxs) = sqMinMax(spark, emb, dims)
    spread(emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")))
      .withColumn("qmn", typedLit(mins))
      .withColumn("qmx", typedLit(maxs))
      .select(col("vec_id"), posexplode(col("v")).as(Seq("d", "x")),
        col("qmn"), col("qmx"))
      .withColumn("mn", expr("element_at(qmn, d + 1)"))
      .withColumn("mx", expr("element_at(qmx, d + 1)"))
      .withColumn("code", expr(
        """CASE WHEN mx = mn THEN 0L
          |ELSE CAST(least(greatest(
          |  floor((x - mn) / (mx - mn) * 255.0 + 0.5), 0.0D), 255.0D)
          |  AS BIGINT) END""".stripMargin))
      .withColumn("err", expr(
        "round(abs(x - (mn + CAST(code AS DOUBLE) / 255.0 * (mx - mn))), 6)"))
      .select(col("vec_id"), col("d").cast("long").as("d"),
        col("code"), col("err"))
  }

  /** Compact per-row SQ codes (the production layout: one tinyint-range
    * array per vector) — same contract as [[sqEncode]], kept narrow.
    * The encode is the compiled `sq_encode` expression (model as a
    * reference object): the interpreted transform-with-element_at form
    * paid a closure per dimension per row — ≈25s of q132's cost at the
    * 200k decade on a pass that is one flat loop
    * (graft.functions.SqEncode pins bit-equality, clamps, constant
    * dims and null elements included). */
  def sqEncodeCodes(emb: DataFrame, mins: IndexedSeq[Double],
      maxs: IndexedSeq[Double]): DataFrame = {
    graft.functions.SqEncode.register(emb.sparkSession,
      new graft.functions.SqModelRef(mins.toArray, maxs.toArray))
    emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("codes", expr("sq_encode(v)"))
      .select(col("vec_id"), col("codes"))
  }

  /** Asymmetric top-k over SQ codes: queries keep full precision, the
    * corpus stays int8 — the SQ flavor of ADC. Each QUERY precomputes a
    * dims×256 distance table ONCE (per dim d and code c, the term
    * (x_q[d] − (mn[d] + c/255·span[d]))² — a narrow per-query
    * transform); scoring a corpus row is then `dims` ARRAY LOOKUPS, the
    * reconstruction never materializing per candidate (a naive
    * recon-then-subtract form lets Catalyst collapse the recon
    * projection into the join and recompute 64 decode ops per PAIR —
    * measured 27s vs ~2s at sf0.1). The corpus never shuffles; the
    * query batch (tables included: queries·dims·256 doubles — bounded
    * by the query batch, never the corpus) broadcasts; ranking is
    * [[pqSearchADC]]'s (dist² 6-dp, n_id) window. The summed terms are
    * the identical IEEE doubles of the recon form, in the same array
    * order — the oracle contract is unchanged. */
  def sqSearch(spark: SparkSession, emb: DataFrame,
      queryPred: org.apache.spark.sql.Column, topK: Int,
      dims: Int = 64): DataFrame = {
    Functions.registerAll(spark)
    val (mins, maxs) = sqMinMax(spark, emb, dims)
    val codes = sqEncodeCodes(emb, mins, maxs)
      .select(col("vec_id").as("n_id"), col("codes"))
    sqAdc(emb.filter(queryPred), codes, mins, maxs, topK, dims)
  }

  /** The SQ-ADC core shared by [[sqSearch]] and [[sqSearchIndexed]]:
    * per-query dims×256 tables, codes-side untouched, (dist² 6-dp,
    * n_id) ranking. */
  private def sqAdc(queryEmb: DataFrame, codes: DataFrame,
      mins: IndexedSeq[Double], maxs: IndexedSeq[Double], topK: Int,
      dims: Int): DataFrame = {
    val spark = queryEmb.sparkSession
    // bounded-query collect (cosineTopK's contract — a query BATCH,
    // never a corpus); tables are built driver-side with the IDENTICAL
    // IEEE arithmetic of the SQL form this replaces:
    // (vq[d] − (mn[d] + c/255·(mx[d]−mn[d])))², same operation order
    val qRows = collectQueryBatch(queryEmb)
    if (qRows.isEmpty) return emptyAdcResult(spark, "dist2")
    val nQ = qRows.length
    val stride = dims * 256
    val flat = new Array[Double](nQ * stride)
    var qi = 0
    while (qi < nQ) {
      val v = qRows(qi)._2
      require(v.length == dims, s"query dims ${v.length} != $dims")
      var d = 0
      while (d < dims) {
        val mn = mins(d)
        val w = maxs(d) - mn
        var c = 0
        while (c < 256) {
          val diff = v(d) - (mn + c / 255.0 * w)
          flat(qi * stride + d * 256 + c) = diff * diff
          c += 1
        }
        d += 1
      }
      qi += 1
    }
    // the WHOLE |queries|·n search as one global aggregate over the
    // narrow code scan ([[graft.functions.AdcTopKMulti]]): the
    // crossJoin + adc_sum_flat + topk_min form it replaces was
    // broadcast-shaped but materialized a BNLJ row + aggregate probe
    // PER PAIR — ~20× the flat fold's own cost at the 200k decade
    // (412M pairs, 54.8s → the fused pass). Same ranking contract
    // ((round(dist2, 6), n_id) per query, lazy boundary rounding,
    // early abandonment on the non-negative partial sums); the
    // exchange carries |queries|·k entries per task, never pairs.
    val model = new graft.functions.QueryAdcModelRef(
      spark.sparkContext.broadcast(
        new graft.functions.QueryAdcTables(qRows.map(_._1).toArray, flat,
          dims, 256)))
    graft.functions.AdcTopKMulti.register(spark, model)
    spread(codes)
      .agg(expr(s"adc_topk_multi(codes, n_id, $topK, 6)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.q_id").as("q_id"), col("e.rank").as("rank"),
        col("e.n_id").as("n_id"), col("e.score").as("dist2"))
  }

  /** Collect a bounded query batch as sorted (vec_id, dense vector),
    * with the crossJoin forms' graceful degradation the fused ADC
    * aggregates replaced: a query row with a null embedding OR any
    * null ELEMENT contributes no candidates (the SQL forms
    * null-propagated its distance terms; unboxing here would NPE),
    * and duplicate vec_ids with bit-identical embeddings collapse to
    * one — conflicting duplicates fail with a descriptive message
    * instead of QueryAdcTables' bare strictly-ascending require. */
  private def collectQueryBatch(
      queryEmb: DataFrame): Array[(Long, IndexedSeq[Double])] = {
    val rows = queryEmb
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .collect()
      .flatMap { r =>
        Option(r.getAs[scala.collection.Seq[Any]](1))
          .filter(!_.contains(null))
          .map(v => (r.getLong(0),
            v.iterator.map(_.asInstanceOf[Double]).toIndexedSeq))
      }
      .sortBy(_._1)
    // bitwise vector compare: Double == is IEEE (NaN != NaN), which
    // would misreport an identical NaN-bearing duplicate as a conflict
    def sameVec(a: IndexedSeq[Double], b: IndexedSeq[Double]): Boolean =
      a.length == b.length && a.indices.forall(i =>
        java.lang.Double.doubleToLongBits(a(i)) ==
          java.lang.Double.doubleToLongBits(b(i)))
    val out =
      scala.collection.mutable.ArrayBuffer.empty[(Long, IndexedSeq[Double])]
    rows.foreach { case (id, v) =>
      if (out.nonEmpty && out.last._1 == id) {
        require(sameVec(out.last._2, v),
          s"duplicate query vec_id $id with differing embeddings — " +
            "a query batch must carry one embedding per id")
      } else out += ((id, v))
    }
    out.toArray
  }

  /** The empty-query-batch result of the fused ADC searches — the
    * schema the crossJoin form produced on an empty broadcast side. */
  private def emptyAdcResult(spark: SparkSession, scoreName: String): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("q_id", LongType),
        StructField("rank", LongType), StructField("n_id", LongType),
        StructField(scoreName, DoubleType))))
  }

  /** Persist an SQ index: `path/minmax` (d, mn, mx — the dims-row
    * model) + `path/codes` (vec_id, codes) — encode once, search many;
    * the original embeddings are never re-read at query time. Doubles
    * round-trip parquet exactly, so indexed search is bit-equal to
    * [[sqSearch]] on the same corpus (spec-pinned). */
  def writeSqIndex(spark: SparkSession, emb: DataFrame, path: String,
      dims: Int = 64): Unit = {
    import spark.implicits._
    val (mins, maxs) = sqMinMax(spark, emb, dims)
    mins.indices.map(d => (d, mins(d), maxs(d))).toDF("d", "mn", "mx")
      .write.mode("overwrite").parquet(s"$path/minmax")
    sqEncodeCodes(emb, mins, maxs)
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Reload a persisted SQ model ([[writeSqIndex]]). */
  def loadSqMinMax(spark: SparkSession,
      path: String): (IndexedSeq[Double], IndexedSeq[Double]) = {
    val rows = Tables.read(spark, s"$path/minmax")
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    (IndexedSeq.tabulate(rows.size)(rows(_)._1),
      IndexedSeq.tabulate(rows.size)(rows(_)._2))
  }

  /** ANN search against a persisted SQ index — [[sqSearch]]'s exact
    * contract with the codes table scanned from parquet (binary-pruned:
    * only vec_id + codes are read). */
  def sqSearchIndexed(spark: SparkSession, path: String,
      queries: DataFrame, topK: Int, dims: Int = 64): DataFrame = {
    Functions.registerAll(spark)
    val (mins, maxs) = loadSqMinMax(spark, path)
    val codes = Tables.read(spark, s"$path/codes")
      .select(col("vec_id").as("n_id"), col("codes"))
    sqAdc(queries, codes, mins, maxs, topK, dims)
  }

  def ivfPqSearch(spark: SparkSession, path: String, queries: DataFrame,
      nProbe: Int, topK: Int): DataFrame = {
    Functions.registerAll(spark)
    val cbs = loadPqCodebooks(spark, path)
    val m = cbs.length
    val subDim = cbs.head.head.length
    // probe ranking as one compiled narrow centroid_topk call per
    // query (ivfTopKIndexed's exact probe contract — 4-dp rounded
    // cosine DESC, centroid-id tie-break; the crossJoin + rank window
    // it replaces shuffled |queries| × centroids rows)
    val model = graft.functions.CentroidModelRef.collect(
      Tables.read(spark, s"$path/centroids")
        .select(col("centroid_id"), col("cv"), col("cn")))
    graft.functions.CentroidTopK.register(spark, model)
    // spread + materialize once, exactly as ivfTopKIndexed's probes —
    // the frame feeds both the cell collect and the rerank join, and
    // carries the per-query dims×k ADC tables (query-batch-bounded)
    val probes = spread(withVectors(spark, queries)
      .select(col("vec_id").as("q_id"), col("v").as("vq"), col("nrm").as("nq")))
      .withColumn("centroid_id",
        explode(expr(s"centroid_topk(vq, nq, $nProbe).centroid_id")))
      .withColumn("cb", typedLit(cbs))
      .withColumn("tbl", expr(
        s"""transform(sequence(0, ${m - 1}), s ->
          |  transform(element_at(cb, s + 1), cw ->
          |    aggregate(zip_with(slice(vq, s * $subDim + 1, $subDim), cw,
          |      (a, b) -> (a - b) * (a - b)), CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)))"""
          .stripMargin))
      // flatten once per (query, probe) row — see pqSearch's note
      .select(col("q_id"), col("centroid_id"), flatten(col("tbl")).as("tbl"))
      .localCheckpoint(true)
    // probed cell ids: bounded by the centroid count, never the corpus
    val cells = probes.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val cand = spark.read.parquet(s"$path/codes")
      .filter(col("centroid_id").isin(cells: _*))
      .select(col("vec_id").as("n_id"), col("codes"), col("centroid_id"))
    // rerank via the bounded topk_min_round aggregate (ivfTopKIndexed's
    // rewired shape — probed pairs fold map-side where the broadcast
    // join generates them; the rank window exchanged every pair with
    // its code array). dist2 is round(·,6) of a non-negative sum —
    // never −0.0, never NaN on valid codes — so (dist2, n_id)
    // ascending is the window's exact ordering with no sentinel, and
    // the exact rounding applies lazily at the top-k boundary only
    // (TopKMinRound — identical verdicts, no per-pair BigDecimal). The
    // candidate's cell id rejoins from a second column-pruned scan of
    // the SAME relation (one FileIndex, codes stay out of it).
    val tk = broadcast(probes).join(cand, Seq("centroid_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc_raw",
        expr(s"adc_sum_flat(tbl, codes, ${cbs.head.length})"))
      .groupBy(col("q_id"))
      .agg(expr(s"topk_min_round(adc_raw, n_id, $topK, 6)").as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("i", "e")))
      .select(col("q_id"), (col("i") + 1).cast("long").as("rank"),
        col("e.id").as("n_id"), col("e.score").as("adc_dist2"))
    broadcast(tk).join(
        // partition-directory inference types centroid_id= as INT;
        // the API contract is BIGINT
        cand.select(col("n_id"), col("centroid_id").cast("long").as("centroid_id")),
        Seq("n_id"))
      .select(col("q_id"), col("rank"), col("n_id"), col("centroid_id"),
        col("adc_dist2"))
  }
}
