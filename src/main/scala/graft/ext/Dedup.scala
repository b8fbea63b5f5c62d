package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Commit, Tables}
import graft.functions.MinHash48

/** Deduplication operators over a document table (id + text) — the
  * engine's user-facing dedup API (SURVEY §7.4 / builder-prompt north
  * star). All deterministic (md5-derived hashing), all scale-shaped:
  * narrow signature computation, uniform bucket keys, degenerate-bucket
  * capping before any pair join.
  */
object Dedup {

  /** localCheckpoint + hand back exactly the RDD(s) backing it, so
    * iterative loops can free superseded rounds' blocks. The backing
    * RDD is read off the checkpointed Dataset's own analyzed plan
    * (a checkpointed Dataset IS a LogicalRDD) — never a before/after
    * `getPersistentRDDs` diff, which would capture blocks persisted by
    * ANY concurrent job in the session during the window and later
    * unpersist someone else's cache.
    *
    * `eager = false` materializes the checkpoint on the FIRST action
    * over the returned frame (not at call time), so a plan with several
    * consumers of the same expensive subtree — e.g. a decode-once media
    * frame feeding both stages of an admit — evaluates it once without
    * going eager. Either way: consume fully, then unpersist the blocks
    * (the lineage is truncated — the frame is NOT re-computable after
    * release). */
  private[graft] def checkpointTracked(df: DataFrame, eager: Boolean)
      : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    val out = df.localCheckpoint(eager)
    val backing = out.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    (out, backing)
  }

  /** Exact HALF_UP 6-dp rounding of the rational i/u, in integer
    * arithmetic: `round(CAST(i/u AS DOUBLE), 6)` rounds the DOUBLE, and
    * engines disagree at decimal midpoints the binary value straddles
    * (observed: a 39/640 true Jaccard hashed differently vs DuckDB at
    * sf0.001). `(2·i·10⁶ + u) DIV (2·u)` is the exact half-up 6-dp
    * numerator of the true rational; dividing that integer by 10⁶ is
    * the same correctly-rounded double on every IEEE engine. The
    * floor-of-double-division form is exact here because i ≤ u ≤ 2×
    * MaxShinglePos: operands < 2⁵³ and the quotient is ≥ 1/(2u) away
    * from any integer it doesn't equal — far beyond one ulp.
    * u = 0 (both sets empty) reports 1.0 by convention. */
  private[graft] def ratio6(i: org.apache.spark.sql.Column,
      u: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(u === 0, lit(1.0)).otherwise(
      floor((i.cast("long") * lit(2000000L) + u.cast("long")).cast("double")
        / (u.cast("long") * lit(2L)).cast("double"))
        .cast("double") / lit(1000000.0))

  /** Exact dedup: group by content hash, keep the smallest id. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-row k-permutation MinHash signature as array<long> (the
    * custom minhash48 expression — one pass, no explode). md5-based:
    * portable across engines (the oracle contract). */
  def minhashSignatures(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.Functions.registerAll(spark)
    // null text: the relational form (explode of split(NULL) → no rows)
    // and the oracle DROP the document; match that, don't emit NULL sigs
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), expr(s"minhash48($textCol)").as("sig"))
  }

  /** Production-speed signature variant: Spark's built-in `xxhash64`
    * (codegen'd, ~an order of magnitude cheaper than md5) with the
    * permutation index as seed. Deterministic and stable across Spark
    * versions, but NOT cross-engine portable — use `minhashSignatures`
    * when results must match an external oracle. Same output schema. */
  def minhashSignaturesFast(docs: DataFrame, k: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val maxPos = MinHash48.MaxShinglePos
    val sh = docs
      .withColumn("pos", explode(sequence(lit(1),
        least(greatest(length(col(textCol)) - 7, lit(1)), lit(maxPos)))))
      .select(col(idCol).as("doc_id"),
        col(textCol).substr(col("pos"), lit(8)).as("sh"))
    val aggs = (0 until k).map(p => min(xxhash64(lit(p), col("sh"))).as(s"m$p"))
    sh.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until k).map(p => col(s"m$p")): _*).as("sig"))
  }

  /** Band-bucket rows `(doc_id, band, bucket)` for a corpus — the
    * shared building block of `lshCandidates`, `dedupIncremental`, and
    * the streaming near-dup flagger. Narrow: one minhash48 per row, one
    * `stack` per signature. */
  def bandBuckets(spark: SparkSession, docs: DataFrame, bands: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // NOT spread here: bandBuckets' hot callers hand it increment-sized
    // frames (dedupIncremental*'s notExact) where an extra exchange
    // measured slower than the single-task signature pass it would
    // parallelize; corpus-sized callers (lshCandidates, lshCapStats)
    // spread at their own entry
    val sig = minhashSignatures(spark, docs, idCol, textCol)
    val stack = (0 until bands).map(b => s"$b, sig[$b]").mkString(", ")
    sig.selectExpr("doc_id", s"stack($bands, $stack) AS (band, bucket)")
  }

  /** LSH banding over single-row bands of the signature → candidate
    * pairs (a_id < b_id, n_shared_bands). Buckets larger than
    * `maxBucket` are dropped (no near-dup signal, unbounded join cost)
    * BEFORE any doc-id list materializes: bucket sizes come from a
    * count aggregate, degenerate buckets are filtered, and only then
    * are the (≤ maxBucket) ids collected for in-array pair expansion —
    * so no aggregation buffer ever holds a mega-bucket.
    *
    * The cap is not silent: pass `capMetrics` (an `Observation`) to see
    * what it cost — `dropped_buckets` (band-buckets excluded) and
    * `dropped_doc_slots` (doc×band memberships excluded; an upper bound
    * on docs that lost candidate edges, since one doc can sit in several
    * dropped buckets). Read it after the first action on the result —
    * the OP-A5 observe pattern (Pipeline.silverObserved) applied to the
    * dedup path. Caveat: if EVERY bucket is capped the result is empty
    * and AQE's empty-relation propagation erases the observed subtree
    * (the Observation completes with an empty map, never hangs) — use
    * `lshCapStats` when an always-exact answer is required. */
  def lshCandidates(spark: SparkSession, docs: DataFrame, bands: Int = 4,
      maxBucket: Int = 10, idCol: String = "doc_id", textCol: String = "text",
      capMetrics: Option[org.apache.spark.sql.Observation] = None): DataFrame =
    lshCandidatesTracked(spark, docs, bands, maxBucket, idCol, textCol,
      capMetrics)._1

  /** [[lshCandidates]] handing back the RDDs behind its band-bucket
    * checkpoint, so eager pipelines (dedupCorpus, minhashCalibration,
    * sourceLeakage) can free them once candidates are materialized.
    *
    * The bucket table is SPREAD + lazily materialized ONCE: its two
    * consumers (the bucket-size census and the id-collecting join-back)
    * sit under DIFFERENT projections, so ReuseExchange never dedupes
    * them and the whole signature pass — the corpus-sized cost of the
    * operator — used to run TWICE per action (measured at the sf0.1
    * bench: two ~0.3 s signature jobs inside every LSH query; at scale
    * that is two full corpus scans + md5 passes where one suffices).
    * The checkpoint is LAZY (computed by the first action, no extra
    * eager job) and carries 3 flat columns per (doc, band).
    *
    * The checkpoint is deliberately NOT scale-gated (round-15 probe,
    * guide §1.2): gating it off below Par.isBig's bar — the VERDICT
    * r14 hypothesis that the persist overhead caused q137's bench
    * regression — measured WORSE across the board in a controlled
    * same-session A/B at sf0.1 (q104 3.72→4.81, q137 3.80→5.15,
    * q134 2.65→3.31, q65 1.93→2.48, q52 0.67→0.83 min-of-3): the
    * doubled signature pass costs more than the persist even on the
    * small fixtures, and at scale the checkpoint wins by construction. */
  private[ext] def lshCandidatesTracked(spark: SparkSession, docs: DataFrame,
      bands: Int = 4, maxBucket: Int = 10, idCol: String = "doc_id",
      textCol: String = "text",
      capMetrics: Option[org.apache.spark.sql.Observation] = None)
      : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    // spread BEFORE the signature expression: a one-split corpus scan
    // would serialize the whole minhash pass on one task (Par.spread)
    val (buckets, bucketRdds) = checkpointTracked(
      bandBuckets(spark, Par.spreadIfBig(docs), bands, idCol, textCol), eager = false)
    val sized0 = buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsize"))
    val sized = capMetrics.fold(sized0)(o => sized0.observe(o,
      sum(when(col("bsize") > maxBucket, lit(1L)).otherwise(lit(0L)))
        .as("dropped_buckets"),
      sum(when(col("bsize") > maxBucket, col("bsize")).otherwise(lit(0L)))
        .as("dropped_doc_slots")))
    val small = sized
      .filter(col("bsize").between(2, maxBucket))
      .select(col("band"), col("bucket"))
    (buckets.join(small, Seq("band", "bucket")) // drops mega-buckets pre-collect
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y ->
          |    struct(x AS a_id, y AS b_id))))""".stripMargin)).as("pair"))
      .select(col("pair.a_id"), col("pair.b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared_bands")), bucketRdds)
  }

  /** Exact cap diagnostics as a standalone one-row aggregate (OP-A5 as
    * a diagnostic query, mirroring Pipeline.gatherDropStats) — the
    * always-correct companion to the zero-cost `capMetrics` observation
    * on `lshCandidates`, which AQE empty-relation propagation erases
    * when every bucket is capped. Reports what the `maxBucket` cap
    * dropped (band-buckets and the doc×band memberships they held),
    * what survived, and the hottest bucket. Two partial-aggregable
    * shuffles, no join — same cost shape as the signature stage. */
  def lshCapStats(spark: SparkSession, docs: DataFrame, bands: Int = 4,
      maxBucket: Int = 10, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    bandBuckets(spark, Par.spreadIfBig(docs), bands, idCol, textCol)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsize"))
      .agg(
        sum(when(col("bsize") > maxBucket, lit(1L)).otherwise(lit(0L)))
          .as("dropped_buckets"),
        sum(when(col("bsize") > maxBucket, col("bsize")).otherwise(lit(0L)))
          .as("dropped_doc_slots"),
        sum(when(col("bsize").between(2, maxBucket), lit(1L)).otherwise(lit(0L)))
          .as("kept_buckets"),
        max(col("bsize")).as("max_bucket_size"))
  }

  /** Edge count at or below which [[clusters]] runs on the driver:
    * Par.isBig's 2 MB bar over 16 bytes per `(a_id, b_id)` edge. */
  private[graft] val LocalComponentsMaxEdges = 131072L

  /** Safety cap on alternating-star rounds. The round count grows with
    * the log of the component size (a 200k-node chain took ~18), so
    * hitting the cap means the rounds stopped converging, and
    * [[starComponents]] throws rather than return labels that are not
    * a fixpoint. */
  private val MaxStarRounds = 100

  /** Connected components over candidate pairs → dedup clusters:
    * every doc labeled with the smallest doc_id reachable through the
    * near-dup graph (the canonical survivor); a node whose only edge is
    * a self-loop is its own cluster. Output: (node, cluster_id), ids
    * BIGINT.
    *
    * The edge input materializes once, and an Observation on that job
    * reports the edge count. At or below [[LocalComponentsMaxEdges]]
    * the edges are collected and union-find with path compression runs
    * on the driver — two jobs whatever the graph's diameter — and the
    * labels return as a local relation. Above it the edges need not fit
    * the driver, so the alternating-star rounds of [[starComponents]]
    * run on the cluster instead. Both paths return the same labels
    * (ExtApiSpec). */
  def clusters(spark: SparkSession, pairs: DataFrame): DataFrame = {
    val in = edgeInput(pairs)
    if (in.n > LocalComponentsMaxEdges) starRounds(pairs, in)
    else driverComponents(spark, pairs, in)
  }

  /** [[clusters]]' small-graph path: collect, release the checkpoint,
    * union-find on the driver, labels as a local relation. */
  private def driverComponents(spark: SparkSession, pairs: DataFrame,
      in: EdgeSet): DataFrame = {
    val edges = Par.labeled(pairs, "components: collect edges") {
      in.edges.collect()
    }
    in.release()
    val ids = edges.flatMap(r => Array(r.getLong(0), r.getLong(1))).distinct.sorted
    // ids ascend, so linking the larger root under the smaller keeps
    // every root at its component's minimum
    val parent = Array.range(0, ids.length)
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var c = x
      while (parent(c) != root) { val next = parent(c); parent(c) = root; c = next }
      root
    }
    def idx(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    edges.foreach { r =>
      val a = find(idx(r.getLong(0)))
      val b = find(idx(r.getLong(1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    spark.createDataFrame(ids.indices.map(i => (ids(i), ids(find(i)))))
      .toDF("node", "cluster_id")
  }

  /** An edge set materialized by an eager checkpoint, with its count and
    * an order-independent checksum read through an Observation on the
    * checkpoint's own job (no extra job). */
  private final case class EdgeSet(edges: DataFrame,
      rdds: Seq[org.apache.spark.rdd.RDD[_]], n: Long, sum: Long) {
    def release(): Unit = rdds.foreach(_.unpersist(blocking = false))
  }

  // localCheckpoint truncates lineage each round — without it the plan
  // tree grows exponentially across iterations (OOM at planning time,
  // the classic iterative-DataFrame trap). Each checkpoint PERSISTS its
  // RDD for the life of the session, so every superseded edge set is
  // released explicitly: on a long-lived session leaked blocks occupy
  // storage memory and starve every later stage.
  private def checksummed(e: DataFrame): EdgeSet = {
    val obs = org.apache.spark.sql.Observation()
    // bit_xor: order-independent and overflow-free (round outputs are
    // distinct, so xor-cancellation of repeated rows cannot occur)
    val (cp, rdds) = checkpointTracked(e.observe(obs,
      expr("bit_xor(xxhash64(u, v))").as("h"), count(lit(1)).as("n")), eager = true)
    val m = obs.get
    // bit_xor over zero rows is NULL (empty edge graph)
    val h = Option(m.getOrElse("h", null)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val n = m("n").asInstanceOf[Long]
    EdgeSet(cp, rdds, n, h ^ java.lang.Long.rotateLeft(n, 32))
  }

  /** The pairs as `(u, v)` edges, materialized ONCE: the star rounds
    * reference their input several times, and for an expensive upstream
    * (LSH) each reference would otherwise re-evaluate the whole subtree
    * (exchange reuse is plan-dependent, not a guarantee). */
  private def edgeInput(pairs: DataFrame): EdgeSet =
    Par.labeled(pairs, "components: edge input") {
      checksummed(pairs.select(col("a_id").as("u"), col("b_id").as("v")))
    }

  /** [[clusters]]' large-graph path, whatever the edge count: q102 runs
    * it at sf0.01 so the oracle checks it against q65's labels. */
  private[graft] def starComponents(pairs: DataFrame): DataFrame =
    starRounds(pairs, edgeInput(pairs))

  /** Connected components via alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014): O(log n) rounds on any diameter, where
    * min-label propagation needs diameter-many.
    *
    * Join-based formulation: per-node minima come from a groupBy +
    * join-back, never a `collect_list` of neighbors — a celebrity hub's
    * adjacency never materializes in one aggregation buffer.
    *  - large-star: every neighbor v ≥ u re-hangs onto min(Γ(u) ∪ {u})
    *  - small-star: over larger→smaller directed edges, u and its
    *    smaller neighbors re-hang onto their minimum
    * Every round is localCheckpointed (truncated plans) and superseded
    * blocks are freed; convergence = order-independent edge-set
    * checksum stable across a full round. */
  private def starRounds(pairs: DataFrame, input: EdgeSet): DataFrame = {
    // Both star steps repartition BY u up front: hash(u) clusters (u, v)
    // too, so the distinct, the per-u min aggregate AND the join-back
    // all run on that ONE exchange within the star's plan (previously
    // the distinct exchanged on (u, v), then the aggregate and join each
    // re-exchanged on u — ~4 exchanges per star; guide §2.4). The
    // explicit repartition is load-bearing: a localCheckpoint reports
    // UnknownPartitioning under AQE (probed round 14), so each star must
    // (re-)establish the u-clustering itself — once, not per consumer.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u")).distinct()
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      // ≥, not >: a self-loop (u, u) re-hangs u onto its minimum, so a
      // node whose only edge is a self-loop survives as its own root
      // (without other edges ≥ and > emit the same set)
      sym.join(mins, Seq("u"))
        .filter(col("v") >= col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .repartition(col("u")).distinct()
    }
    // smallStar's input is ALWAYS a largeStar output (see the loop):
    // every edge already oriented u ≥ v (v ≤ old-u ≤ new-u by the
    // large-star re-hang) and already distinct — the general form's
    // re-orientation pass (filter u≠v + greatest/least + a distinct
    // exchange of the full edge set) is a no-op here and is dropped.
    // No repartition of its own: the input is largeStar's output IN THE
    // SAME PLAN (the round is one fused materialization — see the loop),
    // already u-partitioned by largeStar's final repartition+distinct,
    // so the min aggregate and the join-back are exchange-free and the
    // double reference shares largeStar's exchanges via ReuseExchange.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val hangNbrs = e.join(mins, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val hangSelf = mins.select(col("u"), col("m").as("v"))
      hangNbrs.unionAll(hangSelf).repartition(col("u")).distinct()
    }
    var cur = input
    var converged = false
    var i = 0
    while (!converged) {
      if (i == MaxStarRounds) {
        cur.release()
        throw new IllegalStateException(
          s"connected components did not converge in $MaxStarRounds star rounds")
      }
      // ONE materialization per round: small-star over large-star is a
      // single fused plan (large-star's output exchange is shared by
      // small-star's two references, so no intermediate checkpoint is
      // needed to avoid re-evaluation — round 14; previously each round
      // paid two checkpoint jobs and ~7 exchanges, now one job and 3).
      // Probed round 15 and REVERTED: TWO rounds per materialization
      // (the fixpoint test stays sound — a checksum-stable double round
      // that is not a single-round fixpoint would be a 2-cycle of the
      // deterministic round map, which the alternating-star convergence
      // theorem rules out) measured ~2x WORSE at sf0.1 (q102 3.65→6.03
      // s, q142 3.05→6.45 s min-of-5, interleaved): each star references
      // its input 2-3 times, so stacking four passes in one plan squares
      // the subtree copies (~36 leaf references) — ReuseExchange does
      // not dedupe them all under AQE, and the plan explodes where the
      // per-round checkpoint keeps every reference a flat scan.
      val next = Par.labeled(pairs, s"components: star round ${i + 1}") {
        checksummed(smallStar(largeStar(cur.edges)))
      }
      cur.release()
      converged = next.sum == cur.sum
      cur = next
      i += 1
    }
    // fixpoint edge set is a forest of stars (child → component min);
    // roots label themselves
    val e = cur.edges
    val (out, _) = checkpointTracked(
      e.select(col("u").as("node"), col("v").as("cluster_id"))
        .unionAll(e.select(col("v").as("node"), col("v").as("cluster_id")))
        .groupBy(col("node")).agg(min(col("cluster_id")).as("cluster_id")), eager = true)
    cur.release()
    // out's blocks back the returned frame; ContextCleaner frees them
    // when the caller drops it
    out
  }

  /** Verify stage: exact 8-gram Jaccard for each candidate pair.
    * Each document's distinct shingle SET is materialized ONCE (the
    * `shingles8` expression), then pairs are scored with builtin array
    * ops (`array_intersect` + sizes — codegen'd). A doc in an LSH
    * bucket of size m is in up to bands×(m−1) pairs, so scoring with a
    * per-pair text expression (`jaccard8`) re-shingles every doc ~36×
    * at the default caps.
    *
    * The candidate pairs are checkpoint-materialized ONCE up front:
    * this plan references `pairs` three times (the pair list + both id
    * sides), and without the checkpoint each reference re-evaluates the
    * whole upstream subtree (for LSH input: measured 4→18 shuffles).
    * The pair set is candidate-bounded by construction — the cheap side
    * to pin. With pairs pinned, the shingle-set side is SEMI-JOINED to
    * the candidate ids, so verify cost is O(candidates), not O(corpus):
    * at 100 TB with a few million candidates, shingling the whole
    * corpus (what this replaces) would dominate the stage. The
    * checkpoint blocks back the returned frame and are released by the
    * ContextCleaner when the caller drops it. */
  def verifyCandidates(spark: SparkSession, pairs: DataFrame, docs: DataFrame,
      threshold: Double, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val cp = pairs.select(col("a_id"), col("b_id")).localCheckpoint(true)
    verifyPairs(spark, cp, docs, threshold, idCol, textCol)._1
  }

  /** The verify stage of within-corpus pairs for a pair frame `cp`
    * that is ALREADY materialized (checkpointed): [[pairSides]]
    * references it three times, so an unmaterialized input would
    * re-evaluate its subtree per reference. Keeps the pairs whose true
    * shingle Jaccard, rounded by [[ratio6]], is ≥ `threshold`, and
    * hands back the RDDs behind the shingle-set checkpoint so corpus
    * pipelines ([[corpusChain]]) can free them once components are
    * materialized. */
  private def verifyPairs(spark: SparkSession, cp: DataFrame,
      docs: DataFrame, threshold: Double, idCol: String, textCol: String)
      : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    graft.functions.Functions.registerAll(spark)
    val (sides, setsRdds) = pairSides(cp, docs, idCol, textCol,
      "sh" -> expr(s"shingles8($textCol)"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val union = size(col("sh_a")) + size(col("sh_b")) - inter
    (sides
      .withColumn("jaccard", ratio6(inter, union)) // exact 6-dp, engine-proof
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard")), setsRdds)
  }

  /** Each materialized pair of `cp` `(a_id, b_id)` joined to both of
    * its docs' `payload` columns, named `<name>_a` and `<name>_b` — the
    * side every within-corpus pair verdict scores. The side is
    * candidate-bounded (the docs semi-joined to the pair ids), SPREAD,
    * and materialized ONCE behind a lazy checkpoint, whose RDDs are
    * handed back: unmaterialized, the a/b join branches each re-ran the
    * payload pass, and a one-split corpus scan serialized each run on a
    * single task (two ~0.8 s single-task jobs inside every verify at
    * the sf0.1 bench — half the stage's wall). The checkpoint pins
    * O(candidates) rows, same class as the pair checkpoint it sits
    * beside. */
  private def pairSides(cp: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, payload: (String, org.apache.spark.sql.Column)*)
      : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    val ids = cp.select(explode(array(col("a_id"), col("b_id"))).as(idCol)).distinct()
    val (side, rdds) = checkpointTracked(
      Par.spread(docs.filter(col(textCol).isNotNull)
          .join(ids, Seq(idCol), "left_semi"))
        .select(col(idCol) +: payload.map { case (n, c) => c.as(n) }: _*),
      eager = false)
    def end(e: String) = side.select(col(idCol).as(s"${e}_id") +:
      payload.map { case (n, _) => col(n).as(s"${n}_$e") }: _*)
    (cp.join(end("a"), Seq("a_id")).join(end("b"), Seq("b_id")), rdds)
  }

  /** Asymmetric CONTAINMENT verification over candidate pairs: where
    * Jaccard misses a short document wholly quoted inside a long one
    * (the intersection is small relative to the UNION), containment
    * `C(A,B) = |sh(A) ∩ sh(B)| / |sh(A)|` stays high — the standard
    * quote/subset detector run beside near-dup verification. Emits
    * `(a_id, b_id, n_a, n_b, n_inter, c_ab, c_ba)` for candidate pairs
    * with `max(c_ab, c_ba) ≥ threshold`; both directions ride the same
    * shingle-set intersection, and the ratios go through the exact
    * integer 6-dp `ratio6` discipline (engine-proof).
    *
    * Scale shape: identical to [[verifyCandidates]] — the pair frame is
    * checkpointed once, both sides semi-join down to only the docs that
    * appear in a candidate pair, and the per-pair work is one
    * `array_intersect` on bounded shingle sets (positions capped at
    * [[graft.functions.MinHash48.MaxShinglePos]]). Candidate
    * generation stays whatever blocking produced `pairs` (LSH bands
    * here) — the corpus itself never joins. */
  def containment(spark: SparkSession, pairs: DataFrame, docs: DataFrame,
      threshold: Double, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    graft.functions.Functions.registerAll(spark)
    val cp = pairs.select(col("a_id"), col("b_id")).localCheckpoint(true)
    // both ratio directions read the same candidate-bounded shingle sets
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    pairSides(cp, docs, idCol, textCol, "sh" -> expr(s"shingles8($textCol)"))._1
      .withColumn("n_a", size(col("sh_a")).cast("long"))
      .withColumn("n_b", size(col("sh_b")).cast("long"))
      .withColumn("n_inter", inter)
      .withColumn("c_ab", ratio6(col("n_inter"), col("n_a")))
      .withColumn("c_ba", ratio6(col("n_inter"), col("n_b")))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select(col("a_id"), col("b_id"), col("n_a"), col("n_b"),
        col("n_inter"), col("c_ab"), col("c_ba"))
  }

  /** Sketch calibration: signature-ESTIMATED Jaccard (equal-lane
    * fraction of the two 48-bit MinHash signatures) against the TRUE
    * 8-gram Jaccard, for every LSH candidate pair — the measurement a
    * pipeline runs before trusting sketch thresholds at scale (pick the
    * verify threshold from `abs_err`'s distribution, not folklore).
    *
    * Same scale shape as the verify stage: candidate pairs checkpoint
    * ONCE (candidate-bounded), per-doc signature + shingle set
    * materialize once behind a semi-join to candidate ids — cost is
    * O(candidates), the corpus is never re-shingled per pair. The
    * estimate divides an integer lane count by k (a power of two), so
    * both engines produce the identical exact dyadic double. */
  def minhashCalibration(spark: SparkSession, docs: DataFrame,
      bands: Int = 4, maxBucket: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.Functions.registerAll(spark)
    val (cand0, bucketRdds) = lshCandidatesTracked(
      spark, docs, bands, maxBucket, idCol, textCol)
    val cp = cand0.select(col("a_id"), col("b_id")).localCheckpoint(true)
    bucketRdds.foreach(_.unpersist(blocking = false)) // cp materialized
    // the a/b sides carry signature + shingle set: unmaterialized, each
    // branch re-ran both passes, serialized on a one-split scan (two
    // ~1.2 s single-task jobs at the sf0.1 bench)
    val (sides, _) = pairSides(cp, docs, idCol, textCol,
      "sig" -> expr(s"minhash48($textCol)"), "sh" -> expr(s"shingles8($textCol)"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val union = size(col("sh_a")) + size(col("sh_b")) - inter
    val eqLanes = expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
    // all three outputs derive from exact integer 6-dp numerators (the
    // ratio6 discipline): est = m·10⁶/lanes is exact (8 | 10⁶), the true
    // jaccard is half-up-rounded in integer space, and abs_err is their
    // integer difference — bit-identical across engines, no double round
    sides
      .withColumn("e6", floor((eqLanes.cast("long") * lit(1000000L)).cast("double")
        / size(col("sig_a")).cast("double")).cast("long"))
      .withColumn("j6", when(union === 0, lit(1000000L)).otherwise(
        floor((inter.cast("long") * lit(2000000L) + union.cast("long")).cast("double")
          / (union.cast("long") * lit(2L)).cast("double")).cast("long")))
      .select(col("a_id"), col("b_id"),
        (col("e6").cast("double") / lit(1000000.0)).as("est_jaccard"),
        (col("j6").cast("double") / lit(1000000.0)).as("jaccard"),
        (abs(col("e6") - col("j6")).cast("double") / lit(1000000.0)).as("abs_err"))
  }

  /** Cross-source leakage matrix: for every (source, source) pair, the
    * number of VERIFIED near-dup document pairs spanning them and the
    * mean verified Jaccard — corpus governance (is source A a scrape of
    * source B? does the "clean" subset leak into the eval split?).
    *
    * Pipeline: LSH candidates → exact-Jaccard verify (both candidate-
    * bounded, see verifyCandidates) → two id→source enrich joins (the
    * source table is a 2-column projection of the corpus; the pair side
    * is candidate-bounded) → one partial-aggregable rollup on the
    * canonicalized (least, greatest) source pair. Mean Jaccard sums the
    * 6-dp-rounded pair scores as exact DECIMALs — order-free. */
  def sourceLeakage(spark: SparkSession, docs: DataFrame,
      threshold: Double = 0.2, idCol: String = "doc_id",
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    val (cand0, bucketRdds) = lshCandidatesTracked(
      spark, docs, idCol = idCol, textCol = textCol)
    val pairs = verifyCandidates(spark, cand0, docs, threshold, idCol, textCol)
    // verifyCandidates checkpointed the pair set eagerly — the
    // band-bucket blocks behind it are dead now
    bucketRdds.foreach(_.unpersist(blocking = false))
    val src = docs.select(col(idCol), col(srcCol))
    pairs
      .join(src.select(col(idCol).as("a_id"), col(srcCol).as("src_a")), Seq("a_id"))
      .join(src.select(col(idCol).as("b_id"), col(srcCol).as("src_b")), Seq("b_id"))
      .withColumn("source_1", least(col("src_a"), col("src_b")))
      .withColumn("source_2", greatest(col("src_a"), col("src_b")))
      .groupBy(col("source_1"), col("source_2"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(sum(col("jaccard").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double") / count(lit(1)).cast("double"), 6).as("mean_jaccard"))
  }

  /** One-call corpus dedup — the full four-stage pipeline: exact
    * (content hash) → minhash-LSH candidates → VERIFY (true 8-gram
    * Jaccard ≥ `verifyThreshold`) → connected components, returning the
    * surviving documents (each cluster keeps its smallest doc_id).
    *
    * The verify stage is load-bearing for precision, not a nicety:
    * connected components chain-merge, so a handful of spurious LSH
    * candidates (docs sharing one minhash band by accident) can fuse
    * unrelated clusters into super-clusters and silently over-drop —
    * observed on a 1M-doc probe corpus where skipping verification cut
    * survivors by a third. Verification cost is O(candidates), so at
    * corpus scale it is noise next to the signature pass. Set
    * `verifyThreshold = 0.0` to reproduce raw candidate-graph behavior.
    *
    * No join in the chain carries a mandatory broadcast: on realistic
    * web corpora the near-dup rate runs 30%+, so the drop set is a
    * constant fraction of the corpus and a forced broadcast would OOM
    * exactly where dedup matters most.
    *
    * The component stage is [[clusters]], which converges on any
    * diameter: verified graphs that still chain deeply (template
    * families) cost no more rounds than shallow LSH graphs on its
    * driver path, and log-many rounds above its edge gate. */
  def dedupCorpus(spark: SparkSession, docs: DataFrame,
      bands: Int = 4, maxBucket: Int = 10,
      idCol: String = "doc_id", textCol: String = "text",
      capMetrics: Option[org.apache.spark.sql.Observation] = None,
      verifyThreshold: Double = 0.7): DataFrame = {
    val (out, release) = corpusChain(docs, "dedupCorpus", "LSH", idCol,
      textCol, verifyThreshold)(
      lshCandidatesTracked(spark, _, bands, maxBucket, idCol, textCol, capMetrics))
    release()
    out
  }

  /** The one-call corpus chain behind [[dedupCorpus]] and
    * [[dedupCorpusWinnow]]: exact → `candidates` → verify →
    * components → anti-join. `candidates` maps the exact survivors to
    * lazy candidate pairs `(a_id, b_id, …)` and the RDDs behind them.
    * Returns the surviving documents and the release of the survivor
    * cache and the pair and verify checkpoints: consume the frame, then
    * release. The job labels read `<label>: exact window + <kind>
    * candidate pairs` and `<label>: verify + components`. */
  private def corpusChain(docs: DataFrame, label: String, kind: String,
      idCol: String, textCol: String, verifyThreshold: Double)(
      candidates: DataFrame => (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]))
      : (DataFrame, () => Unit) = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    // exact stage as a hash-partitioned window (survivor = smallest id
    // per content hash): one shuffle, NO broadcast — the survivor set
    // is corpus-sized, so collecting it to the driver cannot scale
    val w = Window.partitionBy(col("content_hash")).orderBy(col(idCol))
    // the exact-survivor set is consumed THREE times (candidates, the
    // verify stage's shingle sets, the final anti join). The first two
    // run eagerly below (inside the pairs checkpoint and clusters' edge
    // materialization), so the window is persisted across them until
    // the release — two corpus evaluations total instead of three. A
    // caller that releases before its action (dedupCorpus) has the
    // returned plan recompute the window once.
    // probed round 15 and REVERTED (guide §1.2): a scale-gated spread
    // before the window — the WindowGroupLimit rewrite does put a local
    // sort of the corpus on the scan's 1-2 splits at the sf1 decade —
    // measured WORSE in an interleaved sf1 A/B (q104 4.58→6.1-6.7 s,
    // q137 5.74→6.8-7.0 s min-of-4): the round-robin exchange moves the
    // full text payload a second time, which costs more than the
    // serialized map-side sort it parallelizes (the content_hash
    // exchange already redistributes the reduce side; unlike the
    // q133/q87/q118 fixes there is no heavy per-row expression on the
    // under-split stage).
    val afterExact = docs
      .withColumn("content_hash", md5(col(textCol)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .drop("content_hash", "rk")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // candidate pairs materialize ONCE: the verify stage references its
    // input three times and clusters() reads it again, which would
    // re-evaluate the candidate subtree per reference and fire a cap
    // observation more than once — the checkpoint anchors everything to
    // a single execution, and the pair set is candidate-bounded (the
    // cheap side to pin). Its blocks are tracked so they can be freed
    // with the rest.
    val (cand0, candRdds) = candidates(afterExact)
    val (pairs, pairsRdds) = Par.labeled(docs, s"$label: exact window + $kind candidate pairs") {
      checkpointTracked(cand0, eager = true)
    }
    // the pairs checkpoint just materialized — the candidate-stage
    // blocks behind it are dead now
    candRdds.foreach(_.unpersist(blocking = false))
    // precision gate: score each candidate's TRUE shingle Jaccard and
    // keep only real near-dups before the (chain-merging) components
    val (confirmed, verifyRdds) =
      if (verifyThreshold > 0.0)
        verifyPairs(spark, pairs, afterExact, verifyThreshold, idCol, textCol)
      else (pairs, Seq.empty[org.apache.spark.rdd.RDD[_]])
    // the near-dup DROP set is bounded by the candidate graph, which on
    // a heavily-duplicated corpus is a constant fraction of the corpus —
    // NOT broadcastable by fiat. Left unhinted: AQE broadcasts at
    // runtime when the set actually is small and degrades gracefully to
    // a shuffle join when it is not.
    val dropNearDup = Par.labeled(docs, s"$label: verify + components") {
      clusters(spark, confirmed)
    }
      .filter(col("node") =!= col("cluster_id"))
      .select(col("node").as(idCol))
    // clusters() materialized its labels with truncated lineage, so the
    // pairs + verify-set checkpoints are unreachable from the returned
    // plan; the exact-window cache is not, so a caller that releases
    // before consuming pays one window replay
    (afterExact.join(dropNearDup, Seq(idCol), "left_anti"), () => {
      pairsRdds.foreach(_.unpersist(blocking = false))
      verifyRdds.foreach(_.unpersist(blocking = false))
      afterExact.unpersist(blocking = false)
    })
  }

  /** One-call corpus dedup with the WINNOWING candidate generator —
    * [[dedupCorpus]]'s exact → candidates → Jaccard-verify →
    * components → anti-join pipeline with
    * [[graft.ext.TextStats.winnowCandidates]] in the candidate seat:
    * the recall-FLOOR production path (any shared ≥ w+k−1-token run
    * between two surviving docs is guaranteed a candidate pair, where
    * MinHash banding's recall is probabilistic). Every scale
    * discipline carries over unchanged: exact survivors by
    * hash-partitioned window (no driver collect), candidate pairs
    * localCheckpoint once (candidate-bounded — winnow's df cap bounds
    * per-fingerprint work at df(df−1)/2 ≤ 45 exactly like the LSH
    * bucket cap), verify is the same semi-joined shingle-set stage,
    * the drop set joins unhinted (AQE decides broadcast vs shuffle),
    * and the checkpoint + exact-window cache are freed before return.
    */
  def dedupCorpusWinnow(spark: SparkSession, docs: DataFrame,
      k: Int = 3, w: Int = 4, maxDf: Int = 10, minShared: Int = 2,
      idCol: String = "doc_id", textCol: String = "text",
      verifyThreshold: Double = 0.7): DataFrame = {
    // release BEFORE returning: a lazy consumer must not pin the
    // corpus-scale survivor cache (the consumer pays one window replay
    // instead — [[dedupCorpusWinnowTracked]] is the consume-once form
    // that keeps the cache and hands the caller the release)
    val (out, release) = dedupCorpusWinnowTracked(spark, docs, k, w,
      maxDf, minShared, idCol, textCol, verifyThreshold)
    release()
    out
  }

  /** [[dedupCorpusWinnow]] with the survivor cache held until the
    * CALLER releases — the bench_sf3 census decomposition's fix, made
    * available: the untracked form unpersists the exact-dedup survivor
    * cache before returning its final anti-join (so a lazy consumer
    * cannot pin corpus-scale storage), which means the consumer's one
    * materialization REPLAYS the corpus-wide exact-dedup window — at
    * the 5M-doc decade that replay plus full-width output is most of
    * the chain's wall (BENCH_sf3.md round-14 analysis: candidates are
    * ZERO there; the wall is row/output work). This form keeps the
    * cache alive through the caller's consumption instead: consume the
    * returned frame fully (write/collect), then `release()` — the
    * [[graft.ext.Corpus.crawlIntakeTracked]] contract. One-shot jobs
    * that consume exactly once should prefer this; the untracked form
    * remains right when the result is consumed lazily/repeatedly far
    * from the call site. BENCH_sf3.md's round-14 analysis records the
    * delta at 5M docs; Ext5Spec pins result equality and the release. */
  def dedupCorpusWinnowTracked(spark: SparkSession, docs: DataFrame,
      k: Int = 3, w: Int = 4, maxDf: Int = 10, minShared: Int = 2,
      idCol: String = "doc_id", textCol: String = "text",
      verifyThreshold: Double = 0.7): (DataFrame, () => Unit) =
    corpusChain(docs, "winnowCorpus", "winnow", idCol, textCol,
      verifyThreshold) { afterExact =>
      val (cand0, fpRdds) = graft.ext.TextStats.winnowCandidatesTracked(
        afterExact, k, w, maxDf, minShared, idCol, textCol)
      (cand0.select(col("a_id"), col("b_id")), fpRdds)
    }

  /** Chunk-level corpus dedup (the CCNet/Gopher "line dedup" shape,
    * with fixed `chunkWords`-word chunks standing in for lines): every
    * chunk whose corpus-wide occurrence count exceeds `maxReps` is
    * boilerplate (headers, navigation, license blocks) and is removed
    * from every document containing it; the per-document remainder is
    * reassembled in order. One narrow chunk explode, one partial-
    * aggregable corpus count (map-side combine collapses hot chunks
    * before the shuffle — the frequent chunk IS the skewed key, and it
    * collapses to one row per partition), then the counts are filtered
    * to the BOILERPLATE set (`reps > maxReps`) FIRST and that set is
    * broadcast back as a left-join flag — the doc-side chunk stream is
    * never shuffled on the chunk key at all, so the license block that
    * sits in 10% of the corpus costs nothing beyond its (map-side
    * combined) count row. The boilerplate set is small by construction
    * (< totalChunkOccurrences / maxReps distinct chunks, in practice
    * orders of magnitude fewer), but the broadcast is SIZE-GUARDED,
    * not assumed: the set is counted after materialization and joins
    * unhinted (AQE decides) past `maxBoilerplateBroadcast` rows —  a
    * forced hint would bypass autoBroadcastJoinThreshold and collect
    * an unbounded corpus-dependent set on the driver. Final doc-keyed
    * reassembly aggregate; chunk positions cap at 4096 per doc (the
    * shared cross-engine enumeration bound). */
  def dedupChunks(docs: DataFrame, chunkWords: Int = 2, maxReps: Int = 20,
      idCol: String = "doc_id", textCol: String = "text",
      maxBoilerplateBroadcast: Long = 1000000L): DataFrame = {
    val k = chunkWords
    val chunks = docs
      .withColumn("ws", split(col(textCol), " "))
      .select(col(idCol), posexplode(expr(
        s"""transform(sequence(0, least(int(ceil(size(ws) / CAST($k AS DOUBLE))) - 1, 4096)),
           |  i -> array_join(slice(ws, i * $k + 1, $k), ' '))""".stripMargin))
        .as(Seq("ci", "chunk")))
    // The boilerplate set is corpus-CONTENT-dependent: usually tiny
    // (< totalChunks / maxReps distinct values by construction), but a
    // pathological corpus/config (tiny chunks, low maxReps) can inflate
    // it past what a forced broadcast hint — which BYPASSES
    // autoBroadcastJoinThreshold — can collect on the driver. So the
    // set is materialized ONCE (localCheckpoint; its count aggregate
    // never re-runs, and the doc-side chunk stream still never
    // shuffles on the skewed chunk key), counted, and only broadcast
    // under `maxBoilerplateBroadcast` rows; past the bound the join
    // goes unhinted and AQE picks the strategy at runtime.
    val boilerplate = chunks.groupBy(col("chunk")).agg(count(lit(1)).as("reps"))
      .filter(col("reps") > maxReps)
      .select(col("chunk"), lit(true).as("is_boiler"))
      .localCheckpoint(true)
    val flag =
      if (boilerplate.count() <= maxBoilerplateBroadcast) broadcast(boilerplate)
      else boilerplate
    chunks.join(flag, Seq("chunk"), "left")
      .groupBy(col(idCol))
      .agg(
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN is_boiler IS NULL " +
            "THEN struct(ci, chunk) END)), x -> x.chunk)"), " ").as("kept_text"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("is_boiler"), lit(1L)).otherwise(lit(0L)))
          .as("n_dropped_chunks"))
  }

  /** Incremental (cross-snapshot) dedup: drop from `newDocs` every doc
    * duplicating the EXISTING corpus — byte-exact (content-hash
    * anti-join) or near (shares a minhash band bucket with a seen doc
    * AND true 8-gram Jaccard ≥ `threshold`). The daily-increment shape:
    * candidates join new↔seen only (no within-snapshot pairs — run
    * `dedupCorpus` on the increment first for those), so incremental
    * cost is O(new + matched), never O(corpus²). The seen side's
    * signatures are recomputed here from text; the production path is
    * [[dedupIncrementalPersisted]], which reads the per-snapshot
    * artifact ([[incrementalSnapshot]] / [[writeIncrementalSnapshot]])
    * instead and never touches the seen corpus at all — the join shape
    * is identical (spec-pinned equal). Candidate pairs are checkpointed
    * (candidate-bounded) and both shingle-set sides semi-joined to
    * candidates, as in `verifyCandidates`. */
  def dedupIncremental(spark: SparkSession, newDocs: DataFrame, seenDocs: DataFrame,
      bands: Int = 4, maxBucket: Int = 10, threshold: Double = 0.7,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // the SEEN side is corpus-sized (unlike bandBuckets' increment-sized
    // hot path) and pays THREE per-row passes (md5, minhash, shingles) —
    // spread once, shared by all three sites (identical exchange subtree
    // → ReuseExchange). Size-gated: at sf0.1 the three serial passes are
    // ~0.25 s each and the forced exchange measured NEGATIVE (0.7 s per
    // pass at 33 tasks — shuffle machinery over text rows out-costs the
    // work it parallelizes), so the gate keeps small fixtures on the
    // no-shuffle path and fires from the sf1-class decade up, where the
    // corpus-sized pass is seconds and the exchange still ~0.3 s.
    val seen = Par.spreadIfBig(seenDocs)
    val notExact = notSeenExact(newDocs,
      seen.select(md5(col(textCol)).as("content_hash")), textCol)
    val bS = bandBuckets(spark, seen, bands, idCol, textCol)
      .select(col("doc_id").as("seen_id"), col("band"), col("bucket"))
    verifyIncrement(spark, notExact,
      bandCandidates(spark, notExact, bS, bands, maxBucket, idCol, textCol),
      threshold, idCol, textCol, idCol) { ids =>
      seen.filter(col(textCol).isNotNull)
        .join(ids, Seq(idCol), "left_semi")
        .select(col(idCol).as("seen_id"), expr(s"shingles8($textCol)").as("sh_s"))
    }
  }

  /** `newDocs` without the docs whose content hash is in `seenHashes`
    * (one `content_hash` column): the exact stage of the incremental
    * forms. The seen hash set is corpus-sized, so the anti-join is
    * unhinted and AQE picks the strategy. */
  private def notSeenExact(newDocs: DataFrame, seenHashes: DataFrame,
      textCol: String): DataFrame =
    newDocs
      .withColumn("content_hash", md5(col(textCol)))
      .join(seenHashes.distinct(), Seq("content_hash"), "left_anti")
      .drop("content_hash")

  /** New↔seen band-bucket candidate pairs `(new_id, seen_id)`: the
    * increment's buckets joined to the seen buckets `bS`
    * `(seen_id, band, bucket)`, degenerate seen-side buckets capped
    * exactly like lshCandidates' (no signal, unbounded cost). */
  private def bandCandidates(spark: SparkSession, notExact: DataFrame,
      bS: DataFrame, bands: Int, maxBucket: Int, idCol: String,
      textCol: String): DataFrame = {
    val bN = bandBuckets(spark, notExact, bands, idCol, textCol)
      .select(col("doc_id").as("new_id"), col("band"), col("bucket"))
    val smallS = bS.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") <= maxBucket)
      .select(col("band"), col("bucket"))
    bN.join(bS.join(smallS, Seq("band", "bucket")), Seq("band", "bucket"))
      .select(col("new_id"), col("seen_id")).distinct()
  }

  /** The verify stage of new↔seen pairs, shared by every incremental
    * form: `notExact` without the docs that have a candidate in `cand`
    * `(new_id, seen_id)` whose true 8-gram Jaccard is ≥ `threshold`.
    * The candidates are checkpointed (candidate-bounded, referenced
    * three times); the new side's shingle sets are semi-joined to the
    * candidate new ids; `seenSets` maps the distinct candidate seen ids
    * (one column named `seenKey`) to `(seen_id, sh_s)`, so each form
    * reads the seen sets its own way. The score is the plain double
    * ratio, 1.0 when both sets are empty. */
  private def verifyIncrement(spark: SparkSession, notExact: DataFrame,
      cand: DataFrame, threshold: Double, idCol: String, textCol: String,
      seenKey: String)(seenSets: DataFrame => DataFrame): DataFrame = {
    graft.functions.Functions.registerAll(spark)
    val cp = cand.localCheckpoint(true) // candidate-bounded; referenced 3× below
    val setsN = notExact.filter(col(textCol).isNotNull)
      .join(cp.select(col("new_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol).as("new_id"), expr(s"shingles8($textCol)").as("sh_n"))
    val setsS = seenSets(cp.select(col("seen_id").as(seenKey)).distinct())
    val inter = size(array_intersect(col("sh_n"), col("sh_s")))
    val union = size(col("sh_n")) + size(col("sh_s")) - inter
    val nearDup = cp.join(setsN, Seq("new_id")).join(setsS, Seq("seen_id"))
      .withColumn("jaccard",
        when(union === 0, lit(1.0)).otherwise(inter.cast("double") / union.cast("double")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id").as(idCol)).distinct()
    notExact.join(nearDup, Seq(idCol), "left_anti")
  }

  /** A snapshot's persisted shingle sets of the seen ids `ids`
    * (`doc_id`), as `(seen_id, sh_s)` — the seen side of
    * [[verifyIncrement]] for the snapshot-reading forms. */
  private def snapshotSets(snapshot: DataFrame)(ids: DataFrame): DataFrame =
    snapshot.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("seen_id"), col("shingles").as("sh_s"))

  /** The per-snapshot dedup-index artifact [[dedupIncrementalPersisted]]
    * consumes: one row per (non-null-text) seen doc carrying everything
    * an increment needs — `content_hash` (exact stage), the full
    * minhash `sig` (band buckets for ANY bands ≤ lane count derive from
    * it by stacking, so the artifact is bands-agnostic), and the
    * `shingles` set (true-Jaccard verify). Built in ONE narrow pass
    * over the corpus — three per-row expressions, no shuffle — and
    * written once per snapshot; every subsequent increment reads this
    * (column-pruned: hash column for the exact stage, sig for banding,
    * shingles only via a candidate-bounded semi join) and never scans
    * the corpus text again. */
  def incrementalSnapshot(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.Functions.registerAll(spark)
    // spread BEFORE the three heavy per-row expressions: a one-row-group
    // corpus arrives as ONE split, and the snapshot build (this chain's
    // only corpus-sized pass) serialized on a single task — measured at
    // the 50k-doc decade as a 4.7 s one-task job holding half of q152's
    // wall while 31 cores idled. Gated on the size estimate so the
    // sf0.1-and-under fixtures keep their exchange-free plan (the
    // unconditional form regressed them — round-14 wave-1 negative);
    // at production split counts both forms are no-ops.
    Par.spreadIfBig(docs.filter(col(textCol).isNotNull))
      .select(col(idCol).as("doc_id"),
        md5(col(textCol)).as("content_hash"),
        expr(s"minhash48($textCol)").as("sig"),
        expr(s"shingles8($textCol)").as("shingles"))
  }

  /** Writes [[incrementalSnapshot]] as parquet — the once-per-snapshot
    * producer of the dedup index an increment reads back with
    * `spark.read.parquet(path)`. */
  def writeIncrementalSnapshot(spark: SparkSession, docs: DataFrame,
      path: String, idCol: String = "doc_id", textCol: String = "text"): Unit =
    incrementalSnapshot(spark, docs, idCol, textCol)
      .write.mode("overwrite").parquet(path)

  /** [[dedupIncremental]] against a PERSISTED snapshot index instead of
    * the seen corpus itself — the shape its scaladoc promises for
    * production: at 100 TB, recomputing the seen side's hashes /
    * signatures / shingles on every daily increment dwarfs the
    * increment's own cost, so the seen corpus is indexed ONCE
    * ([[writeIncrementalSnapshot]]) and each increment touches only
    * that index. Results are identical to the recomputed path
    * (spec-pinned on planted-dup corpora).
    *
    * Scan discipline: the seen TEXT is read zero times — the exact
    * stage reads the snapshot's hash column, banding stacks the
    * persisted `sig`, and the verify stage semi-joins the snapshot's
    * `shingles` column down to candidate-matched ids (O(matched), as
    * in `verifyCandidates`). Same degenerate-bucket cap, same
    * candidate checkpoint. */
  def dedupIncrementalPersisted(spark: SparkSession, newDocs: DataFrame,
      snapshot: DataFrame, bands: Int = 4, maxBucket: Int = 10,
      threshold: Double = 0.7, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val notExact = notSeenExact(newDocs, snapshot.select(col("content_hash")), textCol)
    val stack = (0 until bands).map(b => s"$b, sig[$b]").mkString(", ")
    val bS = snapshot
      .selectExpr("doc_id AS seen_id", s"stack($bands, $stack) AS (band, bucket)")
    // the fresh side's shingle pass is NOT spread (round-14 measured
    // negative, both decades): it does serialize on the one-split scan
    // (4.3 s one-task job at the 50k decade), but a repartition loses
    // the size stats the downstream three-way join uses to broadcast,
    // so the spread reshaped it into fat shingle-array shuffles that
    // cost MORE at sf1 (8.4→9.9 s) and regressed sf0.1 (+0.4–0.7 s
    // across q103/q152/q170). At production split counts the fresh
    // increment arrives in many splits and the hazard vanishes.
    verifyIncrement(spark, notExact,
      bandCandidates(spark, notExact, bS, bands, maxBucket, idCol, textCol),
      threshold, idCol, textCol, "doc_id")(snapshotSets(snapshot))
  }

  /** The WINNOWING counterpart of [[incrementalSnapshot]]: per seen
    * doc, content hash, the DISTINCT winnow fingerprint set (compiled
    * `winnow_keys`, fps only — positions dropped), and the shingle
    * set. Persist once per snapshot ([[writeWinnowSnapshot]]); each
    * increment then carries [[TextStats.winnow]]'s RECALL-FLOOR
    * guarantee — any new doc sharing a ≥ w+k−1-token run with a seen
    * doc WILL collide on a fingerprint — where the MinHash snapshot's
    * recall is probabilistic. */
  def winnowSnapshot(spark: SparkSession, docs: DataFrame,
      k: Int = 3, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.Functions.registerAll(spark)
    // scale-gated spread ahead of the heavy per-row pass — see
    // incrementalSnapshot (same measured single-task hazard, same
    // sf0.1 no-op guarantee)
    Par.spreadIfBig(docs.filter(col(textCol).isNotNull))
      .select(col(idCol).as("doc_id"),
        md5(col(textCol)).as("content_hash"),
        graft.functions.WinnowKeys.fingerprints(spark, k, w, textCol).as("fps"),
        expr(s"shingles8($textCol)").as("shingles"))
  }

  /** Writes [[winnowSnapshot]] as parquet — the once-per-snapshot
    * producer of the recall-floor dedup index. */
  def writeWinnowSnapshot(spark: SparkSession, docs: DataFrame,
      path: String, k: Int = 3, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    winnowSnapshot(spark, docs, k, w, idCol, textCol)
      .write.mode("overwrite").parquet(path)

  /** [[dedupIncrementalPersisted]] with the winnowing candidate
    * generator in the blocking seat: drop from `newDocs` every
    * byte-exact or near-duplicate of a [[winnowSnapshot]] corpus.
    * Candidates are new↔seen pairs sharing ≥ `minShared` fingerprints,
    * with boilerplate fingerprints (seen-side document frequency >
    * `maxDf`) dropped from a count aggregate BEFORE any posting list
    * materializes (q52's cap discipline); verification is the same
    * shingle-set Jaccard at `threshold` as every other dedup path.
    *
    * Scan discipline matches the MinHash twin: seen TEXT is read zero
    * times — the exact stage reads the snapshot's hash column, the
    * index join reads its persisted `fps`, and the verify stage
    * semi-joins its `shingles` down to candidate-matched ids. The new
    * side is fingerprinted in ONE narrow compiled pass. */
  def dedupIncrementalWinnow(spark: SparkSession, newDocs: DataFrame,
      snapshot: DataFrame, maxDf: Int = 10, minShared: Int = 2,
      threshold: Double = 0.7, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3, w: Int = 4): DataFrame = {
    // (k, w) must match what the snapshot was fingerprinted with
    // (winnowSnapshot's arguments) — the persisted-directory form
    // reads them from the index itself (readWinnowIndexParams)
    val notExact = notSeenExact(newDocs, snapshot.select(col("content_hash")), textCol)
    val fpN = notExact.filter(col(textCol).isNotNull)
      .select(col(idCol).as("new_id"),
        explode(graft.functions.WinnowKeys.fingerprints(spark, k, w, textCol)).as("fp"))
    val fpS = snapshot.select(col("doc_id").as("seen_id"),
      explode(col("fps")).as("fp"))
    val smallS = fpS.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("fp"))
    val cand = fpN.join(fpS.join(smallS, Seq("fp")), Seq("fp"))
      .groupBy(col("new_id"), col("seen_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("new_id"), col("seen_id"))
    // the new side is NOT spread — same measured negative as
    // dedupIncrementalPersisted (see there)
    verifyIncrement(spark, notExact, cand, threshold, idCol, textCol,
      "doc_id")(snapshotSets(snapshot))
  }

  /** The DIRECTORY form of the winnow index: `path/docs` =
    * [[winnowSnapshot]] (hash + fps + shingles per seen doc) and
    * `path/fpdf` = the fingerprint document-frequency table, computed
    * ONCE at index time. The df table is what lets increments apply
    * the boilerplate cap without re-aggregating the posting table per
    * increment ([[dedupIncrementalWinnowIndexed]]) — at a 10M-doc
    * index the per-increment df recount was the dominant O(seen)
    * shuffle (70s/increment, near-linear in index size, measured by a
    * since-retired scale probe). */
  def writeWinnowIndex(spark: SparkSession, docs: DataFrame,
      path: String, k: Int = 3, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val snap = winnowSnapshot(spark, docs, k, w, idCol, textCol)
    snap.write.mode("overwrite").parquet(s"$path/docs")
    Tables.read(spark, s"$path/docs")
      .select(explode(col("fps")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$path/fpdf")
    // the winnowing parameters are PART OF the index: fingerprints
    // selected at (k, w) only match fingerprints selected at the same
    // (k, w), so increments must read them from the directory rather
    // than trust the caller to repeat them (a mismatch silently KEEPS
    // near-duplicates — no error ever surfaces)
    import spark.implicits._
    Seq((k, w)).toDF("k", "w").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** The (k, w) a [[writeWinnowIndex]] directory was built with —
    * read from `path/meta`. Indexes written before the meta table
    * existed default to (3, 4), the historical fixed binding. */
  def readWinnowIndexParams(spark: SparkSession, path: String): (Int, Int) =
    Tables.readIfPresent(spark, s"$path/meta").map(_.head())
      .fold((3, 4))(r => (r.getAs[Int]("k"), r.getAs[Int]("w")))

  /** Combine two [[writeWinnowIndex]] directories built over DISJOINT
    * document shards into one index over their union, WITHOUT
    * re-reading a single document — the roll-up property the sketch
    * merges pin for HLL/CMS (q161/q162), applied to the winnow index:
    * per-shard / per-day crawl indexes combine into the corpus index
    * by metadata-scale arithmetic alone.
    *  - `docs`: shards hold disjoint doc sets, so the snapshot tables
    *    simply UNION (no doc is re-fingerprinted);
    *  - `fpdf`: a fingerprint's document frequency over a disjoint
    *    union is the SUM of its per-shard frequencies — one
    *    fp-keyed aggregate over two |distinct fp|-bounded tables;
    *  - `meta`: (k, w) must MATCH (fingerprints selected at different
    *    parameters never co-match; merging them would silently miss
    *    near-duplicates), enforced here, carried to the output.
    * Equivalence contract (Ext5Spec + q163 share q152's oracle):
    * increments against the merged index are bit-equal to increments
    * against an index built over the union in one pass. */
  def mergeWinnowIndexes(spark: SparkSession, a: String, b: String,
      out: String, pruneDf: Int = Int.MaxValue): Unit = {
    val (ka, wa) = readWinnowIndexParams(spark, a)
    val (kb, wb) = readWinnowIndexParams(spark, b)
    require(ka == kb && wa == wb,
      s"winnow param mismatch: ($ka,$wa) at $a vs ($kb,$wb) at $b — " +
        "indexes built at different (k, w) cannot merge")
    // effective prune cap: the tightest of this call's and both
    // inputs' (a previously-pruned input's missing fps were dropped
    // at ITS cap — claiming a looser cap would resurrect nothing and
    // silently promise df fidelity the table no longer has)
    val eff = math.min(pruneDf,
      math.min(readWinnowPruneDf(spark, a), readWinnowPruneDf(spark, b)))
    Tables.read(spark, s"$a/docs")
      .unionByName(Tables.read(spark, s"$b/docs"))
      .write.mode("overwrite").parquet(s"$out/docs")
    val summed = Tables.read(spark, s"$a/fpdf")
      .unionByName(Tables.read(spark, s"$b/fpdf"))
      .groupBy(col("fp")).agg(sum(col("df")).as("df"))
    if (eff == Int.MaxValue) {
      summed.write.mode("overwrite").parquet(s"$out/fpdf")
    } else {
      // over-cap fps are dead weight every future increment re-filters
      // (df > eff ≥ any legal maxDf ⇒ the increment drops them anyway —
      // a missing fpdf row and a filtered one are the same verdict).
      // They leave a TOMBSTONE (fp only) so CHAINED merges stay sound:
      // summing a pruned side's dfs would otherwise UNDERCOUNT a
      // tombstoned fp that reappears in the other shard (df_b alone
      // instead of df_a + df_b) and quietly re-activate a boilerplate
      // fingerprint the one-pass index would cap.
      val tombstoned = readWinnowTombstones(spark, a)
        .unionByName(readWinnowTombstones(spark, b)).distinct()
      // checkpointed because referenced twice (fpdf + pruned writes);
      // distinct-fp scale, so release the backing blocks once both
      // consumers finish — Dataset.unpersist is a no-op for
      // localCheckpoint blocks (COVERAGE.md), only the RDD path frees.
      val (cleaned, cleanedRdds) = checkpointTracked(summed
        .join(broadcast(tombstoned), Seq("fp"), "left_anti"), eager = true)
      cleaned.filter(col("df") <= eff)
        .write.mode("overwrite").parquet(s"$out/fpdf")
      cleaned.filter(col("df") > eff).select(col("fp"))
        .unionByName(tombstoned).distinct()
        .write.mode("overwrite").parquet(s"$out/pruned")
      cleanedRdds.foreach(_.unpersist(blocking = false))
    }
    import spark.implicits._
    Seq((ka, wa, eff)).toDF("k", "w", "prune_df").coalesce(1)
      .write.mode("overwrite").parquet(s"$out/meta")
  }

  /** The prune cap a winnow index was merged with (`prune_df` in
    * `path/meta`) — Int.MaxValue (no pruning) for indexes written
    * before the column existed or never pruned. Consumers must use
    * `maxDf ≤ prune_df`: a looser cap would need the pruned rows. */
  def readWinnowPruneDf(spark: SparkSession, path: String): Int =
    Tables.readIfPresent(spark, s"$path/meta").filter(_.columns.contains("prune_df"))
      .fold(Int.MaxValue)(_.head().getAs[Int]("prune_df"))

  /** Tombstoned (pruned-over-cap) fingerprints of a merged index —
    * empty for unpruned indexes. Bounded: an fp tombstones only when
    * df > prune_df, so |tombstones| ≤ postings / prune_df. */
  private def readWinnowTombstones(spark: SparkSession,
      path: String): DataFrame = {
    import spark.implicits._
    Tables.readIfPresent(spark, s"$path/pruned")
      .fold(Seq.empty[Long].toDF("fp"))(_.select(col("fp")))
  }

  /** [[dedupIncrementalWinnow]] against a persisted [[writeWinnowIndex]]
    * directory — IDENTICAL result (spec-pinned), restructured so every
    * seen-side table is only ever SCANNED, never shuffled or
    * re-aggregated. Increment cost is O(index scan + matches), flat in
    * everything but the columnar read itself:
    *  - exact stage: the seen hash column is semi-joined down by the
    *    BROADCAST new-side hash set (the q103/bloom join-order
    *    discipline — left_anti can only broadcast-build right, so a
    *    naive anti-join would shuffle the 10M-hash seen side);
    *  - boilerplate cap: the new side's fingerprints pick up their
    *    seen-side df from the PERSISTED `fpdf` table (broadcast new
    *    side into a scan) — no per-increment recount, and over-cap fps
    *    die on the NEW side before a single posting expands;
    *  - candidate join: the kept new-side fingerprints broadcast into
    *    one scan of the posting table.
    * Increments are broadcast-sized by definition (a daily crawl batch,
    * not a corpus); for a mega-increment fall back to
    * [[dedupIncrementalWinnow]], whose joins shuffle both sides. */
  def dedupIncrementalWinnowIndexed(spark: SparkSession, newDocs: DataFrame,
      path: String, maxDf: Int = 10, minShared: Int = 2,
      threshold: Double = 0.7, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // the new side MUST fingerprint at the index's own (k, w) — read
    // from path/meta, never assumed (a silent mismatch keeps
    // near-duplicates with no error raised)
    val (k, w) = readWinnowIndexParams(spark, path)
    val pruneDf = readWinnowPruneDf(spark, path)
    require(maxDf <= pruneDf,
      s"maxDf=$maxDf exceeds the index's prune cap $pruneDf at $path — " +
        "fps with df in (prune_df, maxDf] were pruned at merge time; " +
        "re-merge with a looser pruneDf to use this maxDf")
    val snapshot = Tables.read(spark, s"$path/docs")
    val fpdf = Tables.read(spark, s"$path/fpdf")
    val newHashed = newDocs.withColumn("content_hash", md5(col(textCol)))
    val newHashes = newHashed.select(col("content_hash")).distinct()
    val seenMatched = snapshot.select(col("content_hash"))
      .join(broadcast(newHashes), Seq("content_hash"), "left_semi")
      .distinct()
    val notExact = newHashed
      .join(broadcast(seenMatched), Seq("content_hash"), "left_anti")
      .drop("content_hash")
    // (probed round 14: spreading this 1-task winnow pass measured
    // SLOWER — fpN feeds a broadcast build, and a shuffle inside the
    // build's stage chain costs more than the 0.8 s pass it splits)
    val fpN = notExact.filter(col(textCol).isNotNull)
      .select(col(idCol).as("new_id"),
        explode(graft.functions.WinnowKeys.fingerprints(spark, k, w, textCol)).as("fp"))
    // seen-side df rides the persisted table: fps the seen corpus never
    // produced are dropped (they cannot match a posting), over-cap fps
    // are dropped BEFORE any posting expands
    val fpNkept = fpdf.join(broadcast(fpN), Seq("fp"))
      .filter(col("df") <= maxDf)
      .select(col("new_id"), col("fp"))
    val postings = snapshot.select(col("doc_id").as("seen_id"),
      explode(col("fps")).as("fp"))
    val cand = postings.join(broadcast(fpNkept), Seq("fp"))
      .groupBy(col("new_id"), col("seen_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("new_id"), col("seen_id"))
    // the candidate seen ids broadcast into one scan of the snapshot
    verifyIncrement(spark, notExact, cand, threshold, idCol, textCol,
      "doc_id")(ids => snapshotSets(snapshot)(broadcast(ids)))
  }

  /** Corpus-level overlap estimate between two document sets (split by
    * the `inA` predicate) from aggregate MinHash sketches: each side's
    * corpus signature lane is the min hash over ALL its shingles —
    * exactly the min over per-doc minhash lanes, so it folds into one
    * partial-aggregable pass — and the Jaccard of the two corpus
    * shingle SETS is estimated by the fraction of equal lanes. The
    * dataset-drift / cross-corpus-contamination smell test at any
    * scale: one narrow pass, an 8-key aggregate, a 1-row reduce;
    * estimate granularity is 1/8 with the shared salt contract (wire
    * more salts through `minhashSignatures` for finer estimates). */
  def corpusOverlap(spark: SparkSession, docs: DataFrame,
      inA: org.apache.spark.sql.Column, textCol: String = "text"): DataFrame = {
    graft.functions.Functions.registerAll(spark)
    val lanes = docs.filter(col(textCol).isNotNull)
      .select(inA.as("in_a"), expr(s"minhash48($textCol)").as("sig"))
      .select(col("in_a"), posexplode(col("sig")).as(Seq("lane", "h")))
      .groupBy(col("lane"))
      .agg(min(when(col("in_a"), col("h"))).as("min_a"),
        min(when(!col("in_a"), col("h"))).as("min_b"))
    lanes.agg(
      count(lit(1)).as("n_lanes"),
      sum(when(col("min_a") === col("min_b"), lit(1L)).otherwise(lit(0L)))
        .as("n_equal"))
      .withColumn("j_estimate",
        round(col("n_equal").cast("double") / col("n_lanes"), 6))
  }

  /** Bloom-accelerated exact incremental dedup: drop from `newDocs`
    * every byte-exact duplicate of the seen corpus, with the anti-join
    * replaced by a two-stage bloom prefilter + confirm join. Result is
    * IDENTICAL to the plain content-hash anti-join (spec-pinned): the
    * bloom has no false negatives, so every true duplicate reaches the
    * confirm join, and the confirm join removes the false positives.
    *
    * Why at scale: the plain anti-join shuffles the ENTIRE new snapshot
    * against the seen hash set. Here the new side is cut by a NARROW
    * broadcast-bloom predicate first — survivors of the prefilter are
    * (true dups + fpp·|new|), typically orders of magnitude smaller —
    * and the confirm joins are ordered so the candidate-hash set is the
    * broadcast build side against a bare SCAN of the seen hashes:
    * neither the increment nor the seen corpus is ever shuffled. The
    * seen side is one projection scan (hash column only); the bloom
    * itself is built once
    * per snapshot with a driver treeAggregate and costs
    * ~1.2 bytes·ln(1/fpp) per seen doc (≈1.2 GB at 10⁹ docs, 1% fpp) —
    * fine on a cluster driver, and reusable across increments where a
    * production deployment persists it alongside the snapshot.
    *
    * `expectedSeen` sizes the filter; overshooting wastes memory,
    * undershooting inflates the realized fpp (never correctness). */
  def dedupIncrementalExactBloom(spark: SparkSession, newDocs: DataFrame,
      seenDocs: DataFrame, expectedSeen: Long = 1000000L, fpp: Double = 0.01,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val seenHashes = seenDocs.select(md5(col(textCol)).as("content_hash"))
    val bf = seenHashes.stat.bloomFilter("content_hash", expectedSeen, fpp)
    // the probe is a compiled reference-object expression
    // (graft.functions.BloomProbe — BloomDecontam's pattern), not a
    // ScalaUDF: the prefilter stays inside whole-stage codegen and
    // rides the increment scan for free (byte-identical verdicts —
    // mightContainBinary over the UTF-8 bytes IS mightContainString)
    graft.functions.BloomProbe.register(spark,
      new graft.functions.BloomFilterRef(bf))
    val hashed = newDocs.withColumn("content_hash", md5(col(textCol)))
    // candidates = bloom-positive rows only (narrow predicate, no shuffle)
    val candidates = hashed.filter(expr("bloom_might_contain(content_hash)"))
    // confirm: false positives are NOT real dups — keep them. Join ORDER
    // matters at scale: a direct `candidates SEMI seen` puts the
    // corpus-sized seen set on the build side (left-semi can only
    // broadcast-build RIGHT), forcing a full-corpus shuffle per
    // increment. Instead the seen side is narrowly FILTERED by the small
    // candidate-hash set first (AQE broadcast-builds the right side),
    // and only the tiny matched set is deduplicated and joined back —
    // the seen corpus is scanned once, shuffled never.
    val candHashes = candidates.select(col("content_hash")).distinct()
    val seenMatched = seenHashes
      .join(candHashes, Seq("content_hash"), "left_semi")
      .distinct()
    val confirmed = candidates
      .join(seenMatched, Seq("content_hash"), "left_semi")
      .select(col(idCol))
    hashed.join(confirmed, Seq(idCol), "left_anti").drop("content_hash")
  }

  /** 16-bit SimHash per document over whitespace words, via the custom
    * codegen'd `simhash16` expression (graft.functions.SimHash16): the
    * hash is a pure per-row function of the text, so the plan is fully
    * NARROW — no word explode, no vote aggregate, no shuffle at all.
    * Bit-identical to the relational form (kept below for the
    * equivalence spec and as the oracle's shape). */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.Functions.registerAll(docs.sparkSession)
    // null text dropped — parity with the relational form + oracle
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), expr(s"simhash16($textCol)").as("simhash"))
  }

  /** Relational SimHash (explode words → one aggregate with 16
    * partial-aggregable vote sums) — the formulation the DuckDB oracle
    * mirrors; pinned equal to the expression form by ExtApiSpec. */
  def simhashRelational(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val words = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("w"))
      .withColumn("h", conv(substring(md5(col("w")), 1, 4), 16, 10).cast("long"))
    val votes = (0 until 16).map { b =>
      sum(when(expr(s"(h DIV ${1L << b}) % 2") === 1, lit(1L))
        .otherwise(lit(-1L))).as(s"v$b")
    }
    words.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(b =>
          when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Four independent 16-bit SimHash lanes per document (the banded
    * layout of Manku, Jindal & Sarawagi, "Detecting near-duplicates for
    * web crawling", WWW'07) via the codegen'd `simhash64` expression —
    * fully narrow, one md5 per word feeding all lanes. Lane 0 is
    * bit-identical to [[simhash]]. */
  def simhashLanes(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    graft.functions.Functions.registerAll(docs.sparkSession)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), expr(s"simhash64($textCol)").as("lanes"))
  }

  /** SimHash Hamming near-dup search on the CHEAP 64-bit signature:
    * banding over the four 16-bit lanes (exact lane match on ≥1 band →
    * candidate), then exact Hamming verification
    * `Σ bit_count(lane_a XOR lane_b) <= maxDist`.
    *
    * WHICH FORM TO USE: [[simhashNearDup128]] is the documented
    * DEFAULT for corpus-wide near-dup — its 32-bit band space never
    * saturates (measured returning the exact planted pair set at 20M
    * signatures, the decade where this form must gate off), at the
    * cost of one extra packed long per row. THIS form is the
    * cheap-signature option: below ~4M documents the two produce the
    * same recall discipline and this one shuffles a third less per
    * row.
    *
    * Pigeonhole guarantee: any pair within Hamming distance ≤ 3 (=
    * bands−1) differs in at most 3 of the 64 bits, so at least one of
    * the 4 lanes matches exactly — banding finds ALL such pairs, up to
    * the `maxBucket` degenerate-bucket cap (same skew discipline as
    * [[lshCandidates]]: bucket sizes come from a count aggregate and
    * mega-buckets are dropped BEFORE any id list materializes).
    *
    * Scale shape: the lane arrays ride INSIDE the bucket aggregate
    * (≤ maxBucket structs of 4 longs each), so verification needs no
    * join back against the corpus-sized signature table — candidate
    * pairs come out of the bucket expansion already carrying both
    * signatures, and the Hamming check is a narrow filter.
    *
    * The cap is not silent (OP-A5 discipline, same contract as
    * [[lshCandidates]]): pass `capMetrics` (an `Observation`) to read
    * `dropped_buckets` / `dropped_doc_slots` after the first action on
    * the result; use [[simhashCapStats]] when an always-exact answer is
    * required (AQE empty-relation propagation can erase the observed
    * subtree when every bucket is capped).
    *
    * `maxBucket` DEFAULTS TO 0 = census-derived ([[hammingNearDup]]'s
    * in-plan derivation — the intake census in BENCH_sfe.md
    * ("Hamming-index intake census") measured the old fixed default
    * sitting below the MEAN bucket size at 2M signatures, silently
    * keeping ~4% of true pairs); pass an explicit cap to pin it.
    * Past ~4M documents the 4×16-bit band space saturates (see
    * [[hammingNearDup]]'s SCALE BOUNDARY note) — corpus-wide runs at
    * that size belong on [[simhashNearDup128]], whose 32-bit bands
    * keep pruning at any feasible corpus. */
  def simhashNearDup(spark: SparkSession, docs: DataFrame, maxDist: Int = 3,
      maxBucket: Int = 0, idCol: String = "doc_id",
      textCol: String = "text",
      capMetrics: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    // spread BEFORE the per-word md5 vote pass (Par.spread): the
    // signature expression is the corpus-sized cost of this operator
    val lanes = simhashLanes(Par.spreadIfBig(docs), idCol, textCol)
    // the four 16-bit lanes PACK into one long (disjoint bit ranges),
    // so Σ per-lane bit_count(xor) == ONE bit_count over the packed
    // xor, and every shuffled row / collected member carries 2 flat
    // longs instead of doc_id + a 4-long array (measured at sf1:
    // 4.28s → the packed form shaves the lane-bucket aggregate that
    // round 7 flagged at 2.05× DuckDB). shiftleft/| are bitwise (no
    // ANSI overflow on lane3's high bit); band extraction masks the
    // arithmetic shift back to 16 bits, so bval == lanes[band] exactly.
    val packed = lanes.select(col("doc_id"),
      expr("lanes[0] | shiftleft(lanes[1], 16) | shiftleft(lanes[2], 32)" +
        " | shiftleft(lanes[3], 48)").as("packed"))
      // LAZY checkpoint: hammingNearDup references its input twice
      // (bucket census + id-collecting join-back) under different
      // projections — ReuseExchange never dedupes them, so without this
      // the per-word signature pass runs twice per action. Two flat
      // longs per row; materialized by the first action, no extra job.
      // NOT scale-gated — the round-15 gating probe measured worse at
      // sf0.1 too (see lshCandidatesTracked).
      .localCheckpoint(false)
    hammingNearDup(spark, packed, maxDist, maxBucket, capMetrics)
  }

  /** Hamming near-dup search over ANY signature frame —
    * [[simhashNearDup]]'s banding/verify machinery factored to its real
    * input contract, so non-text signatures (perceptual image hashes —
    * [[graft.multimodal.Multimodal.imageHashes]]' dHash/aHash — or any
    * caller-computed sketch) reuse it verbatim. The width comes from
    * the columns ([[HammingWidth]]): `(doc_id, packed)` is a 64-bit
    * signature split into four 16-bit bands, `(doc_id, lo, hi)` a
    * 128-bit one (band b = bits [32b, 32b+32) of hi·2⁶⁴+lo) split into
    * four 32-bit bands. Exact lane match on ≥1 band → candidate
    * (pigeonhole-complete for distance ≤ 3), mega-buckets dropped
    * pre-collect at `maxBucket` with observable drop stats, exact
    * `bit_count(xor)` verification (summed over both longs at 128
    * bits), one row per pair `(a_id, b_id, hamming)`.
    *
    * `maxBucket = 0` (the DEFAULT) derives the cap from the census:
    * 10 × the mean per-band bucket occupancy, floor 10
    * ([[deriveHammingCap]]'s rule), evaluated IN-PLAN so derivation
    * adds no job and stays lazy — BATCH only (a streaming caller
    * passes an explicit cap or uses [[graft.streaming.Streams
    * .hammingIntake]]). How the total is computed is the width's
    * census policy: a global window over the metadata-scale 64-bit
    * census, a one-row count broadcast at 128 bits. The fixed default
    * it replaces was a measured recall scale-killer: at 2M 64-bit
    * signatures the MEAN band bucket holds ~30 members, so cap 10 kept
    * ~4% of true pairs (BENCH_sfe.md, "Hamming-index intake census"). An
    * explicit cap still applies verbatim (floor 1); the drop stats
    * always report against the cap in effect.
    *
    * SCALE BOUNDARY of the 64-bit form (~4M signatures): the derived
    * cap tracks the mean bucket (10 × n/2¹⁶) and is deliberately
    * UNBOUNDED, and past ~4M signatures the 16-bit band space
    * saturates: kept pair volume grows as Σc² ≈ n²/2¹⁶ per band (at
    * 20M the mean bucket holds ~305 members; the 20M run in BENCH_sfe.md
    * gated its corpus-wide 64-bit row off there). The 128-bit form's 2³² buckets
    * per band keep the mean below one member until ~4B signatures, so
    * kept pair volume stays ∝ the true duplicate structure — corpus-
    * wide dedup past the boundary belongs there ([[simhashNearDup128]])
    * or on the increment-bounded [[hammingIntake]]. At the same
    * `maxDist` the 128-bit test is strictly finer (twice the bits must
    * agree). */
  def hammingNearDup(spark: SparkSession, sigDf: DataFrame,
      maxDist: Int = 3, maxBucket: Int = 0,
      capMetrics: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    requirePigeonhole(maxDist)
    require(maxBucket >= 0,
      s"maxBucket=$maxBucket must be >= 1, or 0 to derive from the census")
    val w = HammingWidth.of(sigDf)
    val sigs = sigDf.select(w.columns: _*)
    val buckets = w.bands(sigs)
    val census = buckets.groupBy(col("band"), col("bval"))
      .agg(count(lit(1)).as("bsize"))
    val sized0 =
      if (maxBucket == 0) w.withDerivedCap(census, sigs)
      else withHammingCap(census, maxBucket)
    val sized = capMetrics.fold(sized0)(o => sized0.observe(o,
      sum(when(col("bsize") > col("_cap"), lit(1L)).otherwise(lit(0L)))
        .as("dropped_buckets"),
      sum(when(col("bsize") > col("_cap"), col("bsize")).otherwise(lit(0L)))
        .as("dropped_doc_slots")))
    val small = sized
      .filter(col("bsize").between(lit(2), col("_cap")))
      .select(col("band"), col("bval"))
    val sides = w.sigCols
      .map(c => s"x.$c AS ${w.side(c, "a")}, y.$c AS ${w.side(c, "b")}")
    buckets.join(small, Seq("band", "bval")) // mega-buckets die pre-collect
      .groupBy(col("band"), col("bval"))
      .agg(sort_array(collect_list(struct(w.columns: _*))).as("ms"))
      .select(explode(expr(
        s"""flatten(transform(ms, (x, i) ->
          |  transform(slice(ms, i + 2, size(ms)), y ->
          |    struct(x.doc_id AS a_id, y.doc_id AS b_id,
          |           ${sides.mkString(", ")}))))""".stripMargin)).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        expr(s"CAST(${w.distance(c => s"p.${w.side(c, "a")}",
          c => s"p.${w.side(c, "b")}")} AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct() // a pair sharing several bands appears once per band
  }

  /** Reject a `maxDist` the FOUR-band pigeonhole cannot serve: with 4
    * bands, a true pair is guaranteed to agree exactly on ≥ 1 band only
    * when its differing bits number ≤ 3 (= bands − 1) — at maxDist 4+ a
    * pair whose differing bits land one per band shares NO band and is
    * SILENTLY dropped, a recall hole no cap diagnostic would surface.
    * Every 4-band entry point (64- and 128-bit near-dup, the persisted
    * intakes, the stream twins) calls this instead of quietly degrading;
    * a wider radius needs a different bander (maxDist + 1 bands), not a
    * bigger parameter. */
  private[graft] def requirePigeonhole(maxDist: Int): Unit =
    require(maxDist >= 0 && maxDist <= 3,
      s"maxDist=$maxDist outside [0, 3]: 4-band LSH is pigeonhole-complete " +
        "only for Hamming <= 3 — larger radii would silently lose recall " +
        "(pairs whose differing bits span all four bands share no band)")

  /** Attach the effective bucket cap as a `_cap` column to a
    * `(band, bval, bsize)` census frame: a literal for an explicit
    * `maxBucket`, or — for `maxBucket = 0` — [[deriveHammingCap]]'s
    * exact integer rule computed IN-PLAN (total signatures =
    * Σ bsize / 4 via a global window; the census is metadata-scale,
    * ≤ 4·2¹⁶ rows, so the single window partition costs nothing).
    * Keeping derivation inside the plan means the derived-cap path
    * stays as lazy as the explicit one — no extra job, no checkpoint,
    * and the census is still computed exactly once. */
  private def withHammingCap(census: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket == 0)
      census.withColumn("_tot", sum(col("bsize")).over())
        .withColumn("_cap",
          expr(Packed64.capSql("_tot DIV 4")))
        .drop("_tot")
    else census.withColumn("_cap", lit(maxBucket.toLong))

  /** 128-bit SimHash lanes per doc — `(doc_id, lanes)` with eight
    * 16-bit lanes ([[graft.functions.SimHash128]]; lanes 0–3 ≡
    * `simhash64`'s). Null text drops (no signature to compare). */
  def simhashLanes128(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    graft.functions.Functions.registerAll(docs.sparkSession)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), expr(s"simhash128($textCol)").as("lanes"))
  }

  /** 128-bit SimHash Hamming near-dup — THE corpus-wide batch
    * entry point (the documented default; [[simhashNearDup]] is the
    * cheap-signature option for sub-4M corpora): [[simhashNearDup]]'s
    * banding/verify discipline on a 128-bit signature with FOUR
    * 32-BIT bands.
    * Pigeonhole completeness is unchanged (any pair within Hamming ≤ 3
    * = bands − 1 agrees exactly on ≥ 1 band), but the bucket space per
    * band is 2³² instead of 2¹⁶ — the mean bucket holds n/2³² members,
    * below ONE until the corpus passes four billion documents, so the
    * band space never saturates and the kept pair volume stays
    * ∝ the true duplicate structure, not n²/bucket-space (the measured
    * ~4M-signature cliff of the 64-bit form — see
    * [[hammingNearDup]]'s SCALE BOUNDARY note; BENCH_sfe.md's "128-bit
    * batch near-dup at the fourth decade" records this shape returning
    * the full planted pair set at 20M signatures, where the 64-bit
    * batch row gates off).
    *
    * Distance semantics: `maxDist` applies to the 128-bit signature —
    * a strictly FINER similarity test than the same distance on 64
    * bits (twice the bits must agree), which is the point: wider
    * signatures buy precision AND scale together. */
  def simhashNearDup128(spark: SparkSession, docs: DataFrame,
      maxDist: Int = 3, maxBucket: Int = 0, idCol: String = "doc_id",
      textCol: String = "text",
      capMetrics: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    // eight 16-bit lanes pack into TWO longs (simhashNearDup's
    // packing argument ×2): every shuffled row / collected member
    // carries 3 flat longs, and the Hamming check is two bit_counts
    val packed = simhashLanes128(Par.spreadIfBig(docs), idCol, textCol).select(col("doc_id"),
      expr("lanes[0] | shiftleft(lanes[1], 16) | shiftleft(lanes[2], 32)" +
        " | shiftleft(lanes[3], 48)").as("lo"),
      expr("lanes[4] | shiftleft(lanes[5], 16) | shiftleft(lanes[6], 32)" +
        " | shiftleft(lanes[7], 48)").as("hi"))
      // LAZY checkpoint — same double-reference rationale as
      // simhashNearDup's packed frame; three flat longs per row. NOT
      // scale-gated (round-15 probe — see lshCandidatesTracked).
      .localCheckpoint(false)
    hammingNearDup(spark, packed, maxDist, maxBucket, capMetrics)
  }

  /** The width of a Hamming signature frame or index, read from its
    * columns — `packed` is the 64-bit form `(doc_id, packed)`, `lo` +
    * `hi` the 128-bit form `(doc_id, lo, hi)` ([[HammingWidth.of]]).
    * Both split into FOUR bands (pigeonhole-complete at Hamming ≤ 3);
    * a width carries its band SQL, band bits, distance expression and
    * CENSUS POLICY, and every Hamming entry point (near-dup, the
    * persisted index lifecycle, the stream probes) is written once
    * over it.
    *
    * THE CENSUS POLICY follows from the band width. `path/bsize` rows
    * are `(band, bval, n)` PARTIAL counts whose sum per (band, bval)
    * is the true bucket size (the aggregate-on-read contract); a
    * folded census — one row per bucket — is its special case, so
    * readers that aggregate (the stream probe, compaction's fold)
    * serve both widths.
    *  - 64-bit: 2¹⁶ buckets per band, so the census is METADATA-scale
    *    (≤ 4·2¹⁶ rows at any corpus size) and stays folded in ONE
    *    file: an append merges it by collect + overwrite (both tables
    *    metadata-scale — the [[mergeWinnowIndexes]] df-sum
    *    discipline), the intake guard broadcasts the WHOLE census, and
    *    in-plan cap derivation is a global window over it.
    *  - 128-bit: 2³² buckets per band, so almost every bucket is a
    *    singleton and the census is O(n) ROWS — collect-merge and
    *    read-whole are both wrong at scale. The build writes it
    *    aggregated at the aggregate's own shuffle width; an append
    *    appends only the increment's own counts (increment-bounded);
    *    the intake guard semi-joins the partials against the
    *    broadcast, ≤ 4·|increment|-row set of buckets the arrivals
    *    TOUCH, so its shuffle is increment-bounded and the census
    *    costs one narrow O(n) scan (the asymptotic of the intake's
    *    signature scan); in-plan cap derivation is a one-row count
    *    aggregate broadcast into the census, never a single-partition
    *    window over an n-scale frame.
    * PlanSpec's exchange budgets (q166/q169/q171–q174) pin both
    * policies. Under the contract every crash point leaves a valid
    * index: sigs rows are bit-preserved, partials sum the same before
    * and after folding, and a sigs append that died before its census
    * update is repaired by [[rebuildHammingCensus]]. */
  private[graft] sealed abstract class HammingWidth(val name: String,
      val sigCols: Seq[String], val bandBits: Int, val bandSql: String) {

    /** `doc_id` + the signature columns, in index order. */
    def columns: Seq[org.apache.spark.sql.Column] =
      ("doc_id" +: sigCols).map(col)

    /** Every signature column is non-NULL (nothing to compare else). */
    def notNull: org.apache.spark.sql.Column =
      sigCols.map(col(_).isNotNull).reduce(_ && _)

    /** The 4 band rows per signature — `(doc_id, sig…, band, bval)`. */
    def bands(sigs: DataFrame): DataFrame =
      sigs.select(
        columns :+ posexplode(expr(bandSql)).as(Seq("band", "bval")): _*)

    /** A signature column's name on one side of a pair: `packed` →
      * `pa`/`pb`, `lo` → `la`/`lb`, `hi` → `ha`/`hb`. */
    def side(c: String, s: String): String = s"${c.head}$s"

    /** Hamming distance between two signatures, given how each side
      * names a signature column. */
    def distance(a: String => String, b: String => String): String =
      sigCols.map(c => s"bit_count(${a(c)} ^ ${b(c)})").mkString(" + ")

    /** [[deriveHammingCap]]'s rule over a total signature count: 10 ×
      * the mean per-band bucket occupancy (total / 2^bandBits), floor
      * 10 — as a SQL expression and on the driver. */
    def capSql(total: String): String = {
      val space = 1L << bandBits
      s"greatest(10L, 10L * (($total + ${space - 1}) DIV $space))"
    }
    def capOf(total: Long): Int =
      math.max(10L, 10L * ((total + (1L << bandBits) - 1) >> bandBits)).toInt

    /** Attach the derived cap as `_cap` to a `(band, bval, bsize)`
      * census of `sigs`, inside the plan. */
    def withDerivedCap(census: DataFrame, sigs: DataFrame): DataFrame

    /** The file layout a full census is written with. */
    def layoutCensus(counts: DataFrame): DataFrame

    /** Fold an increment's `(band, bval, n)` counts into `path/bsize`. */
    def appendCensus(spark: SparkSession, counts: DataFrame, path: String): Unit

    /** Keep the arrival band rows whose INDEXED bucket holds ≤ `cap`
      * signatures — the intake's mega-bucket guard. */
    def guard(spark: SparkSession, path: String, cap: Int,
        arrivals: DataFrame): DataFrame

    /** Throw unless an increment of this width may meet `index`. */
    def requireSame(index: HammingWidth, path: String): Unit =
      require(this == index, s"signature width mismatch: the increment " +
        s"is $name but the index at $path is ${index.name}")
  }

  private[graft] object HammingWidth {
    /** The width named by a frame's columns; any other column set
      * throws, naming the columns. */
    def of(df: DataFrame): HammingWidth =
      Seq("packed", "lo", "hi").filter(df.columns.contains) match {
        case Seq("packed") => Packed64
        case Seq("lo", "hi") => LoHi128
        case _ => throw new IllegalArgumentException(
          "a Hamming signature frame needs `packed` (64-bit) or `lo` and " +
            "`hi` (128-bit), not both; got columns " +
            df.columns.mkString("[", ", ", "]"))
      }
  }

  private[graft] case object Packed64 extends HammingWidth(
      "64-bit (doc_id, packed)", Seq("packed"), 16,
      // bitwise shift + mask, so bval == lane[band] exactly (no ANSI
      // overflow on the top lane's sign bit)
      "transform(sequence(0, 3), i -> shiftright(packed, i * 16) & 65535)") {
    def withDerivedCap(census: DataFrame, sigs: DataFrame): DataFrame =
      withHammingCap(census, 0)
    def layoutCensus(counts: DataFrame): DataFrame =
      counts.coalesce(1) // ≤ 4·2¹⁶ rows — every intake reads this whole
    def appendCensus(spark: SparkSession, counts: DataFrame,
        path: String): Unit = {
      val merged = Tables.read(spark, s"$path/bsize").unionByName(counts)
        .groupBy(col("band"), col("bval")).agg(sum(col("n")).as("n"))
        .collect() // metadata-scale: ≤ 4·65536 rows by construction
      import spark.implicits._
      val census = merged.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
        .toDF("band", "bval", "n").coalesce(1)
      Commit.replace(spark, s"$path/bsize")(census.write.parquet(_))
    }
    def guard(spark: SparkSession, path: String, cap: Int,
        arrivals: DataFrame): DataFrame =
      arrivals.join(broadcast(Tables.read(spark, s"$path/bsize")
        .filter(col("n") <= cap).select(col("band"), col("bval"))),
        Seq("band", "bval"))
  }

  private[graft] case object LoHi128 extends HammingWidth(
      "128-bit (doc_id, lo, hi)", Seq("lo", "hi"), 32,
      // the arithmetic shift is masked back to an unsigned band value
      """transform(sequence(0, 3), b ->
        |  IF(b < 2, shiftright(lo, b * 32),
        |            shiftright(hi, (b - 2) * 32)) & 4294967295)"""
        .stripMargin) {
    def withDerivedCap(census: DataFrame, sigs: DataFrame): DataFrame =
      census.crossJoin(broadcast(
        sigs.groupBy().agg(expr(capSql("count(1)")).as("_cap"))))
    def layoutCensus(counts: DataFrame): DataFrame =
      counts // O(n) rows: the aggregate's own width, never coalesce(1)
    def appendCensus(spark: SparkSession, counts: DataFrame,
        path: String): Unit =
      counts.repartition(col("band"), col("bval")) // AQE-sized: ~one file
        .write.mode("append").parquet(s"$path/bsize")
    def guard(spark: SparkSession, path: String, cap: Int,
        arrivals: DataFrame): DataFrame = {
      val touched = arrivals.select(col("band"), col("bval")).distinct()
      val ok = Tables.read(spark, s"$path/bsize")
        .join(broadcast(touched), Seq("band", "bval"))
        .groupBy(col("band"), col("bval")).agg(sum(col("n")).as("n"))
        .filter(col("n") <= cap) // n >= 1 by construction: indexed + under cap
        .select(col("band"), col("bval"))
      arrivals.join(broadcast(ok), Seq("band", "bval"))
    }
  }

  /** Persist a Hamming signature index — the build-once/intake-many
    * layout for CONTENT near-dup at crawl intake (perceptual image
    * hashes via [[graft.multimodal.Multimodal.imageHashes]], SimHash,
    * any 64- or 128-bit sketch): `path/sigs` holds the signature frame
    * and `path/bsize` the `(band, bval, n)` band census in the width's
    * layout ([[HammingWidth]]), so intakes read bucket sizes without
    * re-counting the signature table, as [[writeWinnowIndex]] persists
    * fingerprint document frequencies.
    *
    * The signature rows are routed at the CONFIGURED shuffle width:
    * bounded file count at any corpus size (a 100 TB-scan input would
    * otherwise mirror its 10k+ scan splits into 10k+ small files) while
    * keeping the intake's seen-side scan parallel — AQE byte-sizing
    * here would coalesce a mid-size corpus (2M sigs ≈ 32 MB) into ONE
    * file = one scan task. Big files stay scannable: parquet splits by
    * row group.
    *
    * SCALE BOUNDARY of the 64-bit index (~O(100M) signatures): the
    * 16-bit band census mean (~n/2¹⁶) makes every arrival's candidate
    * set grow linearly in n even though the intake stays
    * increment-bounded; an index that will grow past that belongs on a
    * 128-bit signature, whose 2³² band space keeps per-arrival
    * candidates duplicate-structure-bounded at any feasible corpus. */
  def writeHammingIndex(spark: SparkSession, sigDf: DataFrame,
      path: String): Unit = {
    sigDf.select(HammingWidth.of(sigDf).columns: _*)
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("doc_id"))
      .write.mode("overwrite").parquet(s"$path/sigs")
    rebuildHammingCensus(spark, path)
  }

  /** Recount `path/bsize` from `path/sigs` (width from the `sigs`
    * schema) — the census recovery/repair pass: one scan of the
    * signature table + one aggregate, written fully aggregated in the
    * width's layout. Run it after a failed [[appendHammingIndex]]
    * (sigs appended, census not yet updated): an UNDERCOUNTED census
    * quietly weakens the mega-bucket guard [[hammingIntake]] relies
    * on, so repair beats limping on. */
  def rebuildHammingCensus(spark: SparkSession, path: String): Unit = {
    val sigs = Tables.read(spark, s"$path/sigs")
    val w = HammingWidth.of(sigs)
    w.layoutCensus(bandCounts(w, sigs))
      .write.mode("overwrite").parquet(s"$path/bsize")
  }

  private def bandCounts(w: HammingWidth, sigs: DataFrame): DataFrame =
    w.bands(sigs).groupBy(col("band"), col("bval"))
      .agg(count(lit(1)).as("n"))

  /** Append new signatures to a [[writeHammingIndex]] directory. The
    * increment's width must be the index's (read from the `sigs`
    * schema) — a mismatch throws `IllegalArgumentException` naming
    * both widths before anything is written. The signature rows append
    * through a doc_id shuffle with AQE-sized output, so a small crawl
    * increment lands as ~ONE file (sigs decays by one file per crawl,
    * and [[compactHammingIndex]] undoes even that); the increment's
    * band counts fold into the census by the width's policy —
    * collect-merge of the metadata-scale 64-bit census, appended
    * partials at 128 bits — never a recount of the seen signatures.
    *
    * The increment materializes ONCE (tracked localCheckpoint,
    * released on exit) before either write — evaluating the caller's
    * frame twice would let a non-deterministic input desynchronize
    * sigs and bsize silently. A failure BETWEEN the two writes leaves
    * the census undercounted: recover with [[rebuildHammingCensus]]
    * before the next intake. */
  def appendHammingIndex(spark: SparkSession, sigDf: DataFrame,
      path: String): Unit = {
    val w = HammingWidth.of(sigDf)
    w.requireSame(HammingWidth.of(Tables.read(spark, s"$path/sigs")), path)
    val (inc, blocks) = checkpointTracked(sigDf.select(w.columns: _*), eager = true)
    try {
      inc.repartition(col("doc_id"))
        .write.mode("append").parquet(s"$path/sigs")
      w.appendCensus(spark, bandCounts(w, inc), path)
    } finally blocks.foreach(_.unpersist(blocking = false))
  }

  /** Compact a [[writeHammingIndex]] directory — both decay axes: the
    * signature table's one-file-per-append growth (rewritten through
    * the build's doc_id routing) and the census's one-partial-per-
    * append growth at 128 bits (folded to one row per bucket; content
    * is identical under the aggregate-on-read contract). Each table is
    * rewritten only when its file LISTING (metadata-scale, no data
    * read) exceeds `maxFiles`, so calling this after every append is
    * safe; the folded 64-bit census is one file and never rewrites.
    * Rewrites land at ≤ `maxFiles` files, so a second call compacts
    * nothing. Rows are bit-preserved and the census counts only rows,
    * so intake results are bit-equal before and after (Ext5Spec pins
    * both widths). Not safe concurrently with readers (the swap
    * replaces whole dirs); run between crawl increments, where appends
    * already serialize. Returns the file count compacted away, 0 if
    * both tables are under the threshold.
    *
    * Each rewrite commits through [[graft.core.Commit]], which heals a
    * crash of the last call before the listing. */
  def compactHammingIndex(spark: SparkSession, path: String,
      maxFiles: Int = 64): Long = {
    require(maxFiles >= 1, s"maxFiles=$maxFiles must be >= 1")
    // the build's configured-width routing, clamped to maxFiles so the
    // rewrite itself can never re-trip the threshold (idempotence)
    val width = math.min(maxFiles,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // rewrites `sub` when its file listing exceeds maxFiles; returns
    // the file count replaced
    def compact(sub: String)(rewrite: DataFrame => DataFrame): Long = {
      val dir = s"$path/$sub"
      val nFiles = Commit.heal(spark, dir).count(_.getPath.getName.endsWith(".parquet"))
      if (nFiles <= maxFiles) 0L
      else {
        Commit.replace(spark, dir)(rewrite(spark.read.parquet(dir)).write.parquet(_))
        nFiles.toLong
      }
    }
    compact("sigs")(_.repartition(width, col("doc_id"))) +
      compact("bsize")(
        _.groupBy(col("band"), col("bval")).agg(sum(col("n")).as("n"))
          // coalesce merges the aggregate's output partitions without
          // another shuffle
          .coalesce(width))
  }

  /** Incremental Hamming near-dup intake: pairs each NEW signature
    * with the INDEXED signatures within Hamming ≤ `maxDist`, without
    * ever shuffling or re-counting the seen side — the q103/q160
    * crawl-increment discipline applied to content signatures:
    *
    *  - the increment's width must be the index's (its columns against
    *    the `sigs` schema); a mismatch throws `IllegalArgumentException`
    *    naming both widths before anything is planned;
    *  - bucket sizes come from the PERSISTED census, so buckets whose
    *    INDEXED size exceeds the cap contribute no candidates (a
    *    solid-color/boilerplate bucket at crawl scale would otherwise
    *    pair every arrival against millions of members — the
    *    deterministic whole-bucket drop of [[hammingNearDup]]); the
    *    guard is the width's census policy ([[HammingWidth]]): one
    *    broadcast of the ≤262k-row 64-bit census, or the arrivals'
    *    touched buckets broadcast into the 128-bit partials;
    *  - the increment's band rows (4 per arrival, increment-bounded)
    *    BROADCAST into ONE scan of the signature table — the seen side
    *    is scanned, never shuffled;
    *  - verification is the exact `bit_count` distance, and a pair
    *    sharing several bands emits once.
    *
    * Output: (a_id = new, b_id = seen, hamming). Pinned ≡ the
    * brute-force new×seen pair filter on under-cap fixtures (Ext5Spec)
    * and oracle-checked end to end by q169 (64-bit) and q173 (128-bit).
    *
    * SIZE `maxBucket` TO THE CORPUS: at n 64-bit signatures the MEAN
    * bucket carries ~n/2¹⁶ members per band, so a cap below that drops
    * most LEGITIMATE buckets, not just degenerate ones (BENCH_sfe.md's
    * "Hamming-index intake census" at 2M sigs: cap 10 keeps 4% of the true
    * pairs, cap ≈ 10× the mean keeps them all while still dropping the
    * 100k-copy degenerate bucket). `maxBucket = 0` (the DEFAULT)
    * DERIVES the cap from the persisted census ([[deriveHammingCap]]);
    * read `path/bsize` — it IS the distribution — to pick explicitly. */
  def hammingIntake(spark: SparkSession, newSigs: DataFrame,
      path: String, maxDist: Int = 3, maxBucket: Int = 0): DataFrame = {
    val w = HammingWidth.of(newSigs)
    intakePairs(spark, w, newSigs, indexSigs(spark, w, path), path,
      maxDist, maxBucket)
  }

  /** The index's signature table, after checking the increment's width
    * against its schema — the frame the intake scans, so the check
    * adds no read. */
  private[graft] def indexSigs(spark: SparkSession, w: HammingWidth,
      path: String): DataFrame = {
    val seen = Tables.read(spark, s"$path/sigs")
    w.requireSame(HammingWidth.of(seen), path)
    seen
  }

  private def intakePairs(spark: SparkSession, w: HammingWidth,
      newSigs: DataFrame, seen: DataFrame, path: String, maxDist: Int,
      maxBucket: Int): DataFrame = {
    requirePigeonhole(maxDist)
    require(maxBucket >= 0,
      s"maxBucket=$maxBucket must be >= 1, or 0 to derive from the census")
    val cap = if (maxBucket == 0) deriveCap(spark, w, path) else maxBucket
    def sideBands(sigs: DataFrame, id: String, s: String) =
      w.bands(sigs).select((col("doc_id").as(id) +:
        w.sigCols.map(c => col(c).as(w.side(c, s)))) ++
        Seq(col("band"), col("bval")): _*)
    val nb = w.guard(spark, path, cap, sideBands(newSigs, "a_id", "a"))
    sideBands(seen, "b_id", "b")
      .join(broadcast(nb), Seq("band", "bval"))
      .filter(col("a_id") =!= col("b_id"))
      .select((Seq("a_id", "b_id") ++
        w.sigCols.flatMap(c => Seq(w.side(c, "a"), w.side(c, "b")))).map(col): _*)
      .distinct() // several shared bands → one pair
      .select(col("a_id"), col("b_id"),
        expr(s"CAST(${w.distance(w.side(_, "a"), w.side(_, "b"))} AS BIGINT)")
          .as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** Admission VERDICT of a signature increment against a persisted
    * [[writeHammingIndex]] directory — the media arm of the composed
    * crawl intake ([[graft.ext.Corpus.crawlIntakeMixed]]): the
    * pair-producing [[hammingIntake]] turned into the decision a crawl
    * actually needs, with the text pipeline's stage discipline:
    *
    *  1. EXACT dedup WITHIN the increment — first (smallest) doc_id
    *     per identical signature wins, the media twin of crawlIntake's
    *     content-hash stage (the window routes on the signature, one
    *     increment-bounded exchange);
    *  2. survivors pair against the INDEX ([[hammingIntake]], width
    *     checked against the `sigs` schema) and any arrival within
    *     `maxDist` of an indexed signature drops (the dup side is
    *     increment-bounded and broadcast into the anti-join).
    *
    * Output: the admitted signature rows, ready for
    * [[appendHammingIndex]] so the next increment sees this one. Rows
    * with a NULL signature column drop (an undecodable payload
    * upstream has nothing to compare). Intra-increment NEAR-dups both
    * survive (arrivals are judged against the SEEN corpus;
    * increment-internal near-dups are the next append's business).
    * Oracle-checked end to end by q172 (64-bit) and q174 (128-bit). */
  def hammingIntakeAdmit(spark: SparkSession, sigDf: DataFrame,
      path: String, maxDist: Int = 3, maxBucket: Int = 0): DataFrame = {
    val w = HammingWidth.of(sigDf)
    val seen = indexSigs(spark, w, path)
    val bySig = org.apache.spark.sql.expressions.Window
      .partitionBy(w.sigCols.map(col): _*)
    val s1 = sigDf.select(w.columns: _*)
      .filter(w.notNull)
      .withColumn("_kmin", min(col("doc_id")).over(bySig))
      .filter(col("doc_id") === col("_kmin"))
      .drop("_kmin")
    val dup = intakePairs(spark, w, s1, seen, path, maxDist, maxBucket)
      .select(col("a_id").as("doc_id")).distinct()
    // the dup-id side is increment-bounded (≤ the arrivals) — never
    // let the anti-join sort-merge the increment against it
    s1.join(broadcast(dup), Seq("doc_id"), "left_anti")
  }

  /** The census-derived bucket cap for a [[writeHammingIndex]]
    * directory: 10 × the mean per-band bucket occupancy (nSigs /
    * 2¹⁶ at 64 bits, nSigs / 2³² at 128 — width from the `sigs`
    * schema), floor 10 — the sizing rule BENCH_sfe.md's "Hamming-index
    * intake census" measured (mean-relative caps keep the planted pair set
    * while a 100k-copy degenerate bucket stays ~3 orders of magnitude
    * above the cap; at 128 bits the floor governs at any feasible
    * corpus). Total signatures = Σ census counts / 4: one aggregate
    * over the census — metadata-scale at 64 bits, one narrow
    * map-side-combined O(n) scan of the partials at 128. */
  def deriveHammingCap(spark: SparkSession, path: String): Int =
    deriveCap(spark, HammingWidth.of(Tables.read(spark, s"$path/sigs")), path)

  private[graft] def deriveCap(spark: SparkSession, w: HammingWidth,
      path: String): Int = {
    val row = Tables.read(spark, s"$path/bsize").agg(sum(col("n"))).head()
    w.capOf((if (row.isNullAt(0)) 0L else row.getLong(0)) / 4)
  }

  /** Exact cap diagnostics for [[simhashNearDup]] as a standalone
    * one-row aggregate — the always-correct companion to its zero-cost
    * `capMetrics` observation, exactly as [[lshCapStats]] is to
    * [[lshCandidates]]. Reports what the `maxBucket` cap dropped
    * (lane-buckets and the doc×lane memberships they held), what
    * survived, and the hottest bucket. Narrow lane computation + two
    * partial-aggregable shuffles, no join. */
  def simhashCapStats(spark: SparkSession, docs: DataFrame,
      maxBucket: Int = 0, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxBucket >= 0,
      s"maxBucket=$maxBucket must be >= 1, or 0 to derive from the census")
    // maxBucket = 0 → the same in-plan census-derived cap the default
    // [[simhashNearDup]] applies, so the diagnostics report against
    // the cap the dedup actually uses
    withHammingCap(
      simhashLanes(docs, idCol, textCol)
        .select(posexplode(col("lanes")).as(Seq("band", "bval")))
        .groupBy(col("band"), col("bval"))
        .agg(count(lit(1)).as("bsize")), maxBucket)
      .agg(
        sum(when(col("bsize") > col("_cap"), lit(1L)).otherwise(lit(0L)))
          .as("dropped_buckets"),
        sum(when(col("bsize") > col("_cap"), col("bsize")).otherwise(lit(0L)))
          .as("dropped_doc_slots"),
        sum(when(col("bsize").between(lit(2), col("_cap")), lit(1L))
          .otherwise(lit(0L))).as("kept_buckets"),
        max(col("bsize")).as("max_bucket_size"))
  }

  /** Bag-of-words fingerprint: md5 of the sorted distinct word set — a
    * reorder/repetition-invariant content hash (catches shuffled or
    * re-repeated copies that byte-exact dedup misses, without the
    * probabilistic machinery of MinHash). Pure narrow per-row select. */
  def bowFingerprint(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      md5(array_join(array_sort(array_distinct(split(col(textCol), " "))), " "))
        .as("bow_hash"))

  /** Reorder-invariant exact dedup over the bag-of-words fingerprint:
    * one partial-aggregable groupBy keeping the smallest doc_id per
    * word-set class ([[exact]] generalized to order-insensitive
    * content). */
  def bowDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    bowFingerprint(docs, idCol, textCol)
      .groupBy(col("bow_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Cross-document repeated span detection — the discovery half of
    * exact-substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL'22): word `spanWords`-grams at
    * the first MaxShinglePos positions (the engine-wide positional-cap
    * contract), grouped corpus-wide, keeping spans seen in ≥ `minDocs`
    * distinct documents; top-`k` by (doc count, occurrences, span).
    *
    * Scale shape (the q125 GramKeys discipline, applied round 11): the
    * counting aggregate never sees a span STRING — spans shuffle as
    * compiled 64-bit sequence hashes ([[spanKeyRows]]; 8 bytes/row
    * where the string form shuffled ~60), and strings materialize ONLY
    * for the ≤ k winning hashes plus their (n_docs, n_occ) boundary
    * ties: the k-th boundary comes off a TakeOrdered (k driver rows),
    * winners broadcast back into one narrow re-enumeration pass, and
    * the final (doc count, occurrences, SPAN) ordering resolves on the
    * recovered strings. Hash↔span is a bijection modulo 64-bit
    * collisions (GramKeys' documented contract, ~1e-7 at 10⁶ distinct
    * grams): the DuckDB oracle replays the string form verbatim. */
  def repeatedSpans(docs: DataFrame, spanWords: Int = 8, minDocs: Int = 2,
      k: Int = 20, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the duplicated-span count table feeds BOTH the boundary pick and
    // the winner filter — checkpointed so the corpus-wide counting
    // aggregate runs ONCE. Each hash also carries its lexicographically
    // smallest (doc_id, position) occurrence as a REPRESENTATIVE: the
    // hash↔span bijection means any occurrence recovers the same
    // string, so the recovery pass never re-enumerates grams — it
    // slices exactly the ≤ k+ties representative docs (the first-cut
    // rewrite re-ran gram_keys over the whole corpus to find winner
    // strings: 4.9s → 4.2s → this shape).
    val (cnts, cntBlocks) = checkpointTracked({
      graft.functions.GramKeys.register(spark, Seq(spanWords),
        graft.functions.MinHash48.MaxShinglePos - 1)
      // scale-gated spread before the gram explode: the corpus-wide
      // counting pass partial-aggregates ON the scan's splits, so a
      // one-row-group arrival serialized it (2.6 s two-task job = half
      // of q87's wall at the 50k decade); no-op at sf0.1 (under the
      // gate) and at production split counts
      Par.spreadIfBig(docs
          .filter(size(split(col(textCol), " ")) >= spanWords))
        .select(col(idCol).as("doc_id"),
          posexplode(expr(s"gram_keys($textCol)")).as(Seq("i", "t")))
        .select(col("doc_id"), col("i"), col("t.h").as("spanh"))
        // explicit two-stage regroup instead of
        // countDistinct + count + min(struct) in one aggregate: the
        // mixed distinct/non-distinct rewrite plans through an Expand
        // that DOUBLES the 10⁷-row span stream with the struct aboard
        // (measured +0.4s at sf1); per-(spanh, doc) partials then a
        // spanh roll-up carry the same information through one
        // ordinary exchange
        .groupBy(col("spanh"), col("doc_id"))
        .agg(count(lit(1)).as("_c"), min(col("i")).as("_mi"))
        .groupBy(col("spanh"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_c")).as("n_occ"),
          min(struct(col("doc_id"), col("_mi").as("i"))).as("rep"))
        .filter(col("n_docs") >= minDocs)
    }, eager = true)
    try {
      val top = cnts
        .orderBy(col("n_docs").desc, col("n_occ").desc).limit(k).collect()
      if (top.isEmpty)
        return Seq.empty[(String, Long, Long)].toDF("span", "n_docs", "n_occ")
      val (bd, bo) = (top.last.getLong(1), top.last.getLong(2))
      // every hash at-or-above the k-th (n_docs, n_occ) — the
      // span-string tiebreak can only resolve after recovery, so
      // boundary ties all come back (bounded by the tie population,
      // the same set a string-keyed TakeOrdered would compare)
      val winners = cnts.filter(col("n_docs") > bd ||
          (col("n_docs") === bd && col("n_occ") >= bo))
        .select(col("n_docs"), col("n_occ"),
          col("rep.doc_id").as("_rep_doc"), col("rep.i").as("_rep_i"))
      // the result is ≤ k rows BY CONTRACT: collect it and return a
      // local frame, so the checkpoint blocks release before returning
      // instead of being pinned by a lazy consumer
      val rows = docs
        .select(col(idCol).as("_rep_doc"), split(col(textCol), " ").as("w"))
        .join(broadcast(winners), Seq("_rep_doc"))
        .select(
          array_join(slice(col("w"), col("_rep_i") + 1, lit(spanWords)), " ").as("span"),
          col("n_docs"), col("n_occ"))
        .orderBy(col("n_docs").desc, col("n_occ").desc, col("span"))
        .limit(k)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      rows.toSeq.toDF("span", "n_docs", "n_occ")
    } finally cntBlocks.foreach(_.unpersist(blocking = false))
  }

  /** (doc_id, spanh) rows: the 64-bit sequence hash of each word
    * `spanWords`-gram at the first MaxShinglePos positions — the
    * shared generator behind [[repeatedSpans]] and [[dupSpanStats]],
    * compiled ([[graft.functions.GramKeys]]: per-word FNV-1a +
    * polynomial prefix, O(1) per gram, no string ever materializes).
    * Enumeration matches the string generator it replaced exactly:
    * gram_keys at cap MaxShinglePos−1 emits starts 0..min(L−n,
    * cap) inclusive = min(L−n+1, MaxShinglePos) full windows, and the
    * pre-filter drops docs shorter than the window (whose single
    * CLIPPED gram the string form never produced). */
  private def spanKeyRows(docs: DataFrame, spanWords: Int, idCol: String,
      textCol: String): DataFrame = {
    graft.functions.GramKeys.register(docs.sparkSession, Seq(spanWords),
      graft.functions.MinHash48.MaxShinglePos - 1)
    // scale-gated spread before the explode (see repeatedSpans — same
    // one-split serialization hazard on the corpus-wide gram pass)
    Par.spreadIfBig(docs
        .filter(size(split(col(textCol), " ")) >= spanWords))
      .select(col(idCol).as("doc_id"),
        explode(expr(s"gram_keys($textCol)")).as("t"))
      .select(col("doc_id"), col("t.h").as("spanh"))
  }

  /** Per-document duplicated-span fraction: what share of a document's
    * word `spanWords`-grams also appear in ≥ `minDocs` distinct
    * documents — the per-doc filter signal behind exact-substring dedup
    * (flag or drop documents that are mostly corpus-duplicated text, the
    * RefinedWeb/Gopher discipline). Companion to [[repeatedSpans]],
    * which reports the spans themselves.
    *
    * Scale shape: the denominator (span count per doc) is computed
    * NARROWLY from the word count — no explode needed; only the
    * numerator touches the exploded span rows: one partial-aggregable
    * distinct-doc count, a filter down to the (much smaller)
    * duplicated-span set, a semi-join back, and a doc-keyed partial
    * count. All keys are uniformly-distributed text/ids — skew-free,
    * and since round 11 they are compiled 64-bit hashes
    * ([[spanKeyRows]]) rather than gram strings: the output carries
    * counts only, so no string ever needs recovering, and both
    * exchanges shrink ~8× (the q88 sf1 watch item). The DuckDB oracle
    * replays the string form — equality modulo GramKeys' documented
    * 64-bit collision odds. */
  def dupSpanStats(docs: DataFrame, spanWords: Int = 8, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val maxPos = graft.functions.MinHash48.MaxShinglePos
    // the span stream feeds BOTH the dup-span census and the per-doc
    // count, under different aggregations — unmaterialized, each
    // reference re-ran the corpus gram explode (two 1.1–2.7 s
    // under-split jobs = 60% of q88's wall at the 50k decade). One
    // per-(spanh, doc) partial aggregate is computed ONCE behind a lazy
    // checkpoint (materializes on the first action; ContextCleaner
    // frees the blocks when the caller drops the frame — the
    // containment pattern); both consumers derive from it exactly:
    // span_docs = row count per spanh (the pairs are distinct by
    // construction), per-doc dup count = Σ occurrences over dup spans.
    val pairs = spanKeyRows(docs, spanWords, idCol, textCol)
      .groupBy(col("spanh"), col("doc_id"))
      .agg(count(lit(1)).as("_c"))
      .localCheckpoint(false)
    val dupSpans = pairs.groupBy(col("spanh"))
      .agg(count(lit(1)).as("span_docs"))
      .filter(col("span_docs") >= minDocs)
      .select(col("spanh"))
    val dupPerDoc = pairs.join(dupSpans, Seq("spanh"), "left_semi")
      .groupBy(col("doc_id")).agg(sum(col("_c")).as("n_dup_spans"))
    docs
      .select(col(idCol).as("doc_id"),
        least(greatest(size(split(col(textCol), " ")) - (spanWords - 1), lit(0)),
          lit(maxPos)).cast("long").as("n_spans"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(col("n_spans") > 0,
          round(coalesce(col("n_dup_spans"), lit(0L)).cast("double") /
            col("n_spans"), 6)).otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Keep-BEST-per-cluster dedup: the near-dup clustering ([[clusters]]
    * over [[lshCandidates]] — q65's exact components) with the survivor
    * chosen by QUALITY instead of smallest id — production pipelines
    * keep the longest/cleanest copy of a duplicate group, not an
    * arbitrary one. Survivor = max `qualityCol` (doc_id-ascending
    * tie-break); singletons keep themselves. Scale shape: the cluster
    * table is candidate-bounded (never corpus-sized), the left join
    * adds labels without shuffling unclustered docs' text, and the
    * survivor window partitions by cluster_id — near-dup groups are
    * small by construction (the LSH cap bounds bucket fan-out), so no
    * skewed window partitions. */
  def keepBestPerCluster(spark: SparkSession, docs: DataFrame,
      qualityCol: String = "n_chars",
      idCol: String = "doc_id"): DataFrame = {
    val cl = clusters(spark, lshCandidates(spark, docs))
      .select(col("node").as(idCol), col("cluster_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col(qualityCol).desc, col(idCol))
    docs.select(col(idCol), col(qualityCol))
      .join(cl, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("keep", row_number().over(w) === 1)
  }
}
