package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-shaping operators a web-scale training-data pipeline runs
  * between dedup and tokenization: per-source caps (anti-domination),
  * fixed-width overlap chunking (the RAG / long-context split step),
  * exact-percentile length banding, and per-source duplication
  * observability. Everything here is either narrow or one
  * partial-aggregable shuffle; the salted cap variant is the
  * skew-correct 100 TB shape.
  */
object Corpus {

  /** Per-group top-N cap — "keep at most `n` docs per source/domain,
    * best first" (the anti-domination rule every crawl pipeline applies
    * so one domain can't swamp the mix). Ordering must be TOTAL for
    * determinism: callers pass e.g. (n_chars DESC, doc_id ASC).
    * Exact semantics via one window; the whole group lands in one task,
    * which is fine up to ~10M rows/group but NOT for a mega-domain at
    * 100 TB — use [[capPerGroupSalted]] there. */
  def capPerGroup(docs: DataFrame, groupCol: String,
      order: Seq[org.apache.spark.sql.Column], n: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(order: _*)
    docs.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= n)
  }

  /** Skew-correct per-group top-N: phase 1 caps each (group, salt)
    * sub-shard to its local top-n (window over the SALTED key — a
    * mega-group splits across `salts` tasks, each seeing ~1/salts of
    * it), phase 2 re-ranks the ≤ n·salts survivors per group exactly.
    * The phase-2 window never sees more than n·salts rows per group
    * regardless of group size — the property that makes the cap safe
    * when one domain holds billions of documents. Salt is md5-derived
    * from the id column (deterministic, partition-independent), so the
    * result is bit-identical to [[capPerGroup]] under any total order.
    */
  def capPerGroupSalted(docs: DataFrame, groupCol: String,
      order: Seq[org.apache.spark.sql.Column], n: Int,
      idCol: String = "doc_id", salts: Int = 16): DataFrame = {
    val salted = docs.withColumn("_salt",
      conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
        .cast("long") % salts)
    val w1 = Window.partitionBy(col(groupCol), col("_salt")).orderBy(order: _*)
    val w2 = Window.partitionBy(col(groupCol)).orderBy(order: _*)
    salted
      .withColumn("_lrn", row_number().over(w1))
      .filter(col("_lrn") <= n)
      .withColumn("rn", row_number().over(w2).cast("long"))
      .filter(col("rn") <= n)
      .drop("_salt", "_lrn")
  }

  /** Fixed-width overlapping word chunks (stride < width ⇒ overlap) —
    * the RAG / long-context chunking step. One chunk starts at every
    * multiple of `stride` below the word count, and takes up to
    * `width` words (the tail chunk is short, never dropped — dropping
    * it loses document endings, the classic chunking bug). Purely
    * narrow AND compiled: the whole split + stride-walk + slice runs
    * as one codegen'd `chunk_words` call per document
    * ([[graft.functions.ChunkWords]] — the interpreted
    * sequence/slice/array_join lambdas it replaces left q108 at 3.3×
    * of the DuckDB replay at sf1 on an already-shuffle-free plan), so
    * no shuffle at any corpus size. Tokenization contract matches the
    * rest of the engine: single-space split (DuckDB
    * `string_split(text, ' ')`). Bit-identical to
    * [[chunkOverlapRelational]] (spec-pinned). */
  def chunkOverlap(docs: DataFrame, width: Int, stride: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    graft.functions.ChunkWords.register(docs.sparkSession, width, stride)
    docs
      .select(col(idCol), posexplode(expr(s"chunk_words($textCol)"))
        .as(Seq("chunk_idx", "_c")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("_c.chunk").as("chunk"), col("_c.n_words").as("n_words"))
  }

  /** Relational chunking (split → sequence of starts → per-start
    * slice/join through higher-order lambdas) — the formulation the
    * DuckDB oracle mirrors; pinned equal to the compiled
    * [[chunkOverlap]] by ExtApiSpec. */
  def chunkOverlapRelational(docs: DataFrame, width: Int, stride: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(width > 0 && stride > 0, s"width/stride must be positive")
    docs
      .withColumn("_w", split(col(textCol), " "))
      .select(col(idCol), posexplode(
        expr(s"transform(sequence(0, size(_w) - 1, $stride), s -> " +
          s"array_join(slice(_w, s + 1, $width), ' '))"))
        .as(Seq("chunk_idx", "chunk")))
      .withColumn("chunk_idx", col("chunk_idx").cast("long"))
      .withColumn("n_words", size(split(col("chunk"), " ")).cast("long"))
  }

  /** Exact-percentile length band filter: keep docs whose length sits
    * within the corpus's [lo, hi] quantiles — the robust alternative to
    * hand-tuned min/max length cutoffs (absolute cutoffs rot as the
    * corpus mix shifts; percentile bands self-calibrate). Both engines
    * interpolate quantiles identically (index p·(n−1), linear), so the
    * band edges are bit-equal cross-engine. The percentile aggregate is
    * a counts-map over the value domain (document lengths — bounded
    * cardinality), partial-aggregable, and the two bounds broadcast
    * back as a 1-row cross join: one tiny aggregate plus a narrow
    * filter, no corpus shuffle. */
  def lengthBandFilter(docs: DataFrame, lo: Double, hi: Double,
      lenCol: String = "n_chars"): DataFrame = {
    // bounds rounded to 6 dp: the two engines associate the linear
    // interpolation differently (lower·(1−f)+upper·f vs lower+f·Δ), so
    // an exactly-integer quantile can come out 1 ulp under the integer
    // on one side — rounding both re-aligns integer-boundary membership
    val bounds = docs.agg(
      round(expr(s"percentile($lenCol, $lo)"), 6).as("_lo"),
      round(expr(s"percentile($lenCol, $hi)"), 6).as("_hi"))
    docs.crossJoin(broadcast(bounds))
      .filter(col(lenCol) >= col("_lo") && col(lenCol) <= col("_hi"))
      .drop("_lo", "_hi")
  }

  /** Per-source corpus manifest: doc count, char volume, and an
    * order-independent 48-bit content fingerprint (bit_xor over
    * md5-derived doc hashes — associative/commutative, so map-side
    * combine holds and partitioning can never change the result). Two
    * manifests differ ⇔ content differs. */
  def manifest(docs: DataFrame, textCol: String = "text",
      srcCol: String = "source"): DataFrame =
    docs.groupBy(col(srcCol).as("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col(textCol))).as("total_chars"),
        expr(s"bit_xor(CAST(conv(substring(md5($textCol), 1, 12), 16, 10) AS BIGINT))")
          .as("content_fp"))

  /** Publish a corpus snapshot: source-partitioned parquet (partition
    * pruning for per-source consumers) plus a `manifest.json` whose
    * rows are [[manifest]]'s — the artifact that makes snapshot diffs
    * and integrity checks O(|sources|), not O(corpus). The manifest is
    * |sources|-bounded, so the driver-side JSON write is metadata-
    * scale at any corpus size. */
  def writeSnapshot(spark: SparkSession, docs: DataFrame, path: String,
      textCol: String = "text", srcCol: String = "source"): Unit = {
    docs.write.mode("overwrite").partitionBy(srcCol).parquet(s"$path/docs")
    val rows = manifest(docs, textCol, srcCol)
      .orderBy(col("source")).toJSON.collect()
    val p = new org.apache.hadoop.fs.Path(s"$path/manifest.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write((rows.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Integrity check: recompute the manifest from the snapshot's
    * parquet and compare to the published `manifest.json`. Returns one
    * row per source with `ok` = all three fields match — `ok = false`
    * means the data files changed after publish (or the manifest is
    * stale). Reads are column-pruned to (source, text). */
  def verifySnapshot(spark: SparkSession, path: String,
      textCol: String = "text", srcCol: String = "source"): DataFrame = {
    val stored = spark.read.json(s"$path/manifest.json")
      .select(col("source"), col("n_docs").as("m_docs"),
        col("total_chars").as("m_chars"), col("content_fp").as("m_fp"))
    val actual = manifest(spark.read.parquet(s"$path/docs"), textCol, srcCol)
    actual.join(stored, Seq("source"), "full_outer")
      .withColumn("ok",
        col("n_docs") === col("m_docs") &&
        col("total_chars") === col("m_chars") &&
        col("content_fp") === col("m_fp"))
      .withColumn("ok", coalesce(col("ok"), lit(false)))
      .select(col("source"), col("ok"), col("n_docs"), col("m_docs"),
        col("content_fp"), col("m_fp"))
  }

  /** Per-source duplication profile: docs, distinct contents (by md5),
    * and the duplicate fraction — the observability aggregate that
    * tells you WHICH source is pumping boilerplate before you pay for
    * a full dedup pass over it. Two-phase exact distinct (groupBy
    * source+hash then source), both partial-aggregable; the ratio uses
    * the engine-wide ratio6 discipline (integer-space half-up 6-dp) so
    * no float division order can wiggle the rounding. */
  def dupProfileBySource(docs: DataFrame, textCol: String = "text",
      srcCol: String = "source"): DataFrame =
    docs
      .groupBy(col(srcCol), md5(col(textCol)).as("_h"))
      .agg(count(lit(1)).as("_n"))
      .groupBy(col(srcCol))
      .agg(
        sum(col("_n")).as("n_docs"),
        count(lit(1)).as("n_distinct"))
      .withColumn("dup_ratio",
        Dedup.ratio6(col("n_docs") - col("n_distinct"), col("n_docs")))

  /** Seeded global training order ("epoch shuffle"): every doc gets a
    * dense rank 0..n-1 in `md5(seed || ":" || id)` order plus a
    * round-robin shard id — the deterministic permutation a training
    * run reads by: same seed ⇒ the same order on any cluster, any
    * partitioning, any day; next epoch ⇒ next seed ⇒ a fresh
    * permutation; `shard = rank % nShards` gives every data-loader
    * worker an equal (±1) slice of every region of the order, so
    * resuming mid-epoch is a rank range, not a file scan.
    *
    * Scale shape: the naive `row_number() OVER (ORDER BY h)` is a
    * total sort into ONE task. Instead the hash's first byte forms 256
    * ORDERED range buckets (md5 is uniform, so buckets are balanced
    * n/256 — no skew by construction): per-bucket ranks come from 256
    * parallel windows, and each bucket's prefix offset comes from one
    * 256-row count aggregate (the only driver-scale window here runs
    * over those 256 rows — metadata, not data). rank = offset +
    * local_rank is EXACTLY the oracle's global row_number, with the
    * corpus never sorted in a single task. */
  def epochOrder(docs: DataFrame, seed: Long, nShards: Int = 8,
      idCol: String = "doc_id"): DataFrame =
    ranked(docs.select(col(idCol)), seed, nShards, idCol)

  // shared ranking core: all input columns survive, plus rank + shard
  private def ranked(docs: DataFrame, seed: Long, nShards: Int,
      idCol: String): DataFrame = {
    val hashed = docs
      .withColumn("_h", md5(concat_ws(":", lit(seed), col(idCol))))
      .withColumn("_bucket", conv(substring(col("_h"), 1, 2), 16, 10).cast("int"))
    val counts = hashed.groupBy(col("_bucket")).agg(count(lit(1)).as("_bn"))
    // ≤256 rows: the single-partition cumulative window is metadata-scale
    val woff = Window.orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = counts
      .withColumn("_off", coalesce(sum(col("_bn")).over(woff), lit(0L)))
      .select(col("_bucket"), col("_off"))
    val wloc = Window.partitionBy(col("_bucket"))
      .orderBy(col("_h"), col(idCol))
    hashed
      .join(broadcast(offs), Seq("_bucket"))
      .withColumn("rank", col("_off") + row_number().over(wloc) - 1)
      .withColumn("shard", pmod(col("rank"), lit(nShards.toLong)))
      .drop("_h", "_bucket", "_off")
  }

  /** Publish an epoch — [[epochOrder]] materialized the way a training
    * job reads it: parquet partitioned by `shard` (one directory per
    * data-loader worker), every doc column carried through, rows
    * CLUSTERED by rank within each shard's files so "sort by rank
    * within your shard" is a merge of already-ordered row groups, not a
    * shuffle. Since shard = rank % nShards, each worker holds an
    * equal (±1) interleaved slice of the global order — resuming at
    * global step S means "skip ranks < S", a predicate parquet can
    * evaluate from row-group stats. The write is the full-row version
    * of the rank computation: one extra shuffle (repartition by shard)
    * beyond the bucket window, both on uniformly-distributed keys. */
  def writeEpoch(docs: DataFrame, seed: Long, nShards: Int, path: String,
      idCol: String = "doc_id"): Unit =
    ranked(docs, seed, nShards, idCol)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("rank"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Per-source vocabulary-drift score: KL(source ‖ corpus) over
    * hashed-unigram distributions — the monitoring twin of
    * [[dupProfileBySource]] for CONTENT (did a source's language shift
    * between snapshots / against the pool?), run before a source is
    * admitted into a training mix.
    *
    * Words hash into `buckets` md5 buckets, so every table is bounded:
    * per-(source, bucket) counts collapse map-side, the full
    * sources × buckets grid (the +1-smoothed KL needs the EMPTY
    * buckets' mass too) is |sources|·buckets rows — metadata-scale —
    * and per-bucket terms sum in exact DECIMAL (12-dp-rounded terms,
    * order-free) before one 6-dp rounded double emerges per source.
    * Nothing corpus-sized ever shuffles except the one word-count
    * pass. */
  def vocabDrift(docs: DataFrame, buckets: Int = 1024,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    val words = docs.filter(col(textCol).isNotNull)
      .select(col(srcCol), explode(split(col(textCol), " ")).as("w"))
      .select(col(srcCol),
        (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long")
          % buckets).as("b"))
    val bySrcB = words.groupBy(col(srcCol), col("b"))
      .agg(count(lit(1)).as("c_sb"))
    val byB = bySrcB.groupBy(col("b")).agg(sum(col("c_sb")).as("c_b"))
    val bySrc = bySrcB.groupBy(col(srcCol)).agg(sum(col("c_sb")).as("n_s"))
    val n = byB.agg(sum(col("c_b")).as("n"))
    val grid = bySrc.crossJoin(
      docs.sparkSession.range(buckets).select(col("id").as("b")))
    grid
      .join(bySrcB, Seq(srcCol, "b"), "left")
      .join(broadcast(byB), Seq("b"), "left")
      .crossJoin(broadcast(n))
      .select(col(srcCol), col("n_s"), expr(
        s"""CAST(round(
           |  (CAST(coalesce(c_sb, 0) + 1 AS DOUBLE) / (n_s + $buckets))
           |  * ln((CAST(coalesce(c_sb, 0) + 1 AS DOUBLE) / (n_s + $buckets))
           |      / (CAST(coalesce(c_b, 0) + 1 AS DOUBLE) / (n + $buckets))),
           |  12) AS DECIMAL(26,12))""".stripMargin).as("term"))
      .groupBy(col(srcCol), col("n_s"))
      .agg(round(sum(col("term")).cast("double"), 6).as("kl"))
      .select(col(srcCol), col("n_s").as("n_tokens"), col("kl"))
  }

  /** Exact NTILE binning over a [0,1] score WITHOUT a single-partition
    * global sort — the curriculum/quality-bucket assignment (bin 1 =
    * lowest scores) a training mix consumes. The [[epochOrder]]
    * two-phase-rank trick adapted to VALUE order: scores bucket by
    * `floor(score·256)` (monotone in score, so bucket-order ‖
    * within-bucket order = global order), bucket counts (≤ 257 rows)
    * cumulate into offsets on the driver-scale side, and the per-row
    * rank is offset + a within-bucket row_number — every shuffle key is
    * the value bucket, nothing ever funnels through one partition. The
    * bin then falls out of NTILE's closed form (first n%b bins hold
    * ⌈n/b⌉ rows), so the result is bit-identical to
    * `ntile(b) OVER (ORDER BY score, id)` — which is exactly how the
    * DuckDB oracle replays it (q135). */
  def scoreBins(scored: DataFrame, bins: Int = 10,
      scoreCol: String = "score", idCol: String = "doc_id"): DataFrame = {
    require(bins >= 1, s"bins=$bins out of range")
    val bucketed = scored.withColumn("_vb",
      least(floor(col(scoreCol) * 256).cast("int"), lit(255)))
    val counts = bucketed.groupBy(col("_vb")).agg(count(lit(1)).as("_bn"))
    val woff = Window.orderBy(col("_vb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // ≤ 257 rows: single-partition cumulative window is metadata-scale
    val offs = counts
      .withColumn("_off", coalesce(sum(col("_bn")).over(woff), lit(0L)))
      .withColumn("_n", sum(col("_bn")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("_vb"), col("_off"), col("_n"))
    val wloc = Window.partitionBy(col("_vb"))
      .orderBy(col(scoreCol), col(idCol))
    bucketed
      .join(broadcast(offs), Seq("_vb"))
      .withColumn("_r0", col("_off") + row_number().over(wloc) - 1)
      .withColumn("bin", expr(
        s"""CASE WHEN _r0 < (_n % $bins) * (_n DIV $bins + 1)
           |  THEN _r0 DIV (_n DIV $bins + 1) + 1
           |  ELSE (_n % $bins)
           |    + (_r0 - (_n % $bins) * (_n DIV $bins + 1)) DIV (_n DIV $bins)
           |    + 1 END""".stripMargin))
      .drop("_vb", "_off", "_n", "_r0")
  }

  /** Robust per-source outlier flags on an integer column — median /
    * MAD instead of mean / stddev, so a handful of pathological docs
    * (the thing being hunted) cannot drag the baseline toward
    * themselves the way q90's z-score mean does. `robust_z` =
    * (v − median) / max(MAD, 1), flagged at |z| > `zThresh`.
    *
    * Both order statistics are EXACT without any corpus-wide sort:
    * median = the lower median as a pure SELECTION (the smallest value
    * whose cumulative count reaches half — engine-independent, so the
    * whole contract hash-checks), computed on the (source, value)
    * COUNT table. That table is bounded by distinct values per source
    * — for doc-length-like columns, thousands of rows where the corpus
    * has billions — so the per-source cumulative window is
    * metadata-scale (the scoreBins discipline applied to order
    * statistics). MAD is the same selection over |v − median|; the
    * med/mad tables are |sources| rows and broadcast back. */
  def robustLengthOutliers(docs: DataFrame, zThresh: Double = 3.0,
      valueCol: String = "n_chars", idCol: String = "doc_id",
      sourceCol: String = "source"): DataFrame = {
    val wcum = Window.partitionBy(col(sourceCol)).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(col(sourceCol))
    // (source, value) counts → lower median: min v with 2·cum ≥ n
    def lowerMedian(vals: DataFrame, out: String): DataFrame =
      vals.groupBy(col(sourceCol), col("_v")).agg(count(lit(1)).as("_c"))
        .withColumn("_cum", sum(col("_c")).over(wcum))
        .withColumn("_n", sum(col("_c")).over(wall))
        .filter(col("_cum") * 2 >= col("_n"))
        .groupBy(col(sourceCol)).agg(min(col("_v")).as(out))
    val med = lowerMedian(
      docs.select(col(sourceCol), col(valueCol).as("_v")), "med")
    val mad = lowerMedian(
      docs.join(broadcast(med), Seq(sourceCol))
        .select(col(sourceCol), abs(col(valueCol) - col("med")).as("_v")),
      "mad")
    docs.join(broadcast(med), Seq(sourceCol))
      .join(broadcast(mad), Seq(sourceCol))
      .withColumn("robust_z",
        round((col(valueCol) - col("med")).cast("double")
          / greatest(col("mad"), lit(1L)).cast("double"), 6) + lit(0.0))
      .withColumn("outlier", abs(col("robust_z")) > lit(zThresh))
      .select(col(idCol), col(sourceCol), col(valueCol), col("med"),
        col("mad"), col("robust_z"), col("outlier"))
      .orderBy(col(idCol))
  }

  /** Exact per-source discrete percentiles of an integer column (the
    * length/token-count profile every corpus report opens with) —
    * p-th percentile = the smallest value whose cumulative count
    * reaches ⌈p·n/100⌉, i.e. `percentile_disc` semantics, but computed
    * WITHOUT a sort and WITHOUT floating point: the condition
    * `cum ≥ ⌈p·n/100⌉` is evaluated as the pure-integer
    * `100·cum ≥ p·n` (⌈a/b⌉ ≤ c ⟺ a ≤ b·c), so no engine pair can
    * disagree on a boundary the way `ceil(0.9·n)` does when 0.9·n
    * lands an ulp above an integer. Same scale shape as
    * [[robustLengthOutliers]]: one (source, value) count shuffle, a
    * value-bounded cumulative window, one conditional-min aggregate
    * for ALL percentiles at once. `ps` are integer percents. */
  def lengthPercentiles(docs: DataFrame, ps: Seq[Int] = Seq(50, 90, 99),
      valueCol: String = "n_chars",
      sourceCol: String = "source"): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100),
      s"percents out of range: $ps")
    val wcum = Window.partitionBy(col(sourceCol)).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(col(sourceCol))
    docs.select(col(sourceCol), col(valueCol).as("_v"))
      .groupBy(col(sourceCol), col("_v")).agg(count(lit(1)).as("_c"))
      .withColumn("_cum", sum(col("_c")).over(wcum))
      .withColumn("_n", sum(col("_c")).over(wall))
      .groupBy(col(sourceCol))
      .agg(max(col("_n")).as("n_docs"),
        ps.map(p => min(when(col("_cum") * 100 >= col("_n") * p, col("_v")))
          .as(s"p$p")): _*)
      .orderBy(col(sourceCol))
  }

  /** Bounded-state quantiles for CONTINUOUS columns: fixed-range
    * equi-width histogram (`bins` cells of `width` starting at `lo`,
    * clamped) + [[lengthPercentiles]]'s pure-integer rank condition,
    * answering each percentile with the UPPER EDGE of the smallest
    * bin whose cumulative count reaches the rank — state bounded by
    * `groups × bins` forever. The one-bin-width error bound holds for
    * IN-RANGE values only: the edge bins are OPEN-ENDED (values
    * outside [lo, lo + bins·width) clamp into them), so a percentile
    * landing in the top bin reports `lo + bins·width` no matter how
    * far above the range the true quantile lies (and symmetrically for
    * the bottom bin). Declare [lo, width, bins] to cover the plausible
    * value range; a percentile pinned at the top edge is the
    * saturation signal. Cross-engine parity is unaffected either way —
    * the oracle clamps identically (q155, where min-d2 can exceed the
    * declared [0, 64) range).
    *
    * Why it exists next to [[lengthPercentiles]]: the exact
    * order-statistic path builds a per-VALUE count table — exact and
    * cheap for discrete domains (lengths), but on a continuous double
    * column every value is distinct and the "bounded" table IS the
    * corpus. Binning first restores the bound at a declared
    * resolution. Cross-engine exactness: with dyadic `lo`/`width` the
    * bin index (`floor((v − lo)/width)` on identical doubles) and the
    * reported edge (`lo + (bin+1)·width`) are exact IEEE arithmetic
    * no engine pair can disagree on — no rounding discipline at all. */
  def histQuantiles(df: DataFrame, value: org.apache.spark.sql.Column,
      groupCol: String, lo: Double, width: Double, bins: Int = 256,
      ps: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(bins >= 1 && width > 0, s"bins=$bins width=$width")
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100),
      s"percents out of range: $ps")
    val wcum = Window.partitionBy(col(groupCol)).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(col(groupCol))
    // null values carry no rank information: drop them up front (the
    // streaming twin pins the same contract — unfiltered, a null bin
    // index would silently fold into _cum/_n here but CRASH the
    // stream's non-nullable state encoder)
    df.filter(value.isNotNull)
      .select(col(groupCol),
        least(greatest(floor((value - lo) / width), lit(0.0)),
          lit((bins - 1).toDouble)).cast("long").as("_b"))
      .groupBy(col(groupCol), col("_b")).agg(count(lit(1)).as("_c"))
      .withColumn("_cum", sum(col("_c")).over(wcum))
      .withColumn("_n", sum(col("_c")).over(wall))
      .groupBy(col(groupCol))
      .agg(max(col("_n")).as("n"),
        ps.map(p => min(when(col("_cum") * 100 >= col("_n") * p,
          (col("_b") + 1) * width + lo)).as(s"p$p")): _*)
      .orderBy(col(groupCol))
  }

  /** Cross-modal label-stratification audit: join the text table to an
    * id-aligned label table (here the embeddings' `label` column) and
    * report per source the label count, majority fraction (exact 6-dp
    * ratio6), and label ENTROPY in the q89 exact-DECIMAL discipline
    * (H = ln n − Σ c·round₉(ln c) / n, order-free term sums) — the
    * "is every source stratified the same way" check run before
    * train/eval splits trust `source` as a blocking key. A source
    * whose entropy collapses is single-label (leaked filter, broken
    * join); one whose majority fraction spikes is skewed.
    *
    * 100 TB shape: one id-keyed join (co-partitionable) + two
    * partial-aggregable groupBys on (source, label) then source —
    * every post-join table is |sources|·|labels| bounded. */
  def labelBalance(docs: DataFrame, labels: DataFrame,
      idCol: String = "doc_id", labelCol: String = "label",
      sourceCol: String = "source"): DataFrame = {
    val lc = docs.filter(col("text").isNotNull)
      .select(col(idCol), col(sourceCol))
      .join(labels.select(col(idCol), col(labelCol)), Seq(idCol))
      .groupBy(col(sourceCol), col(labelCol)).agg(count(lit(1)).as("c"))
    lc.groupBy(col(sourceCol))
      .agg(
        sum(col("c")).as("n"),
        count(lit(1)).as("n_labels"),
        max(col("c")).as("maxc"),
        // q89's narrow-decimal product: DECIMAL(10,0) keeps c·round₉
        // at (29,9) — exact, order-free, under the 38-digit cap
        sum(round(log(col("c").cast("double")), 9).cast("decimal(18,9)")
          * col("c").cast(org.apache.spark.sql.types.DecimalType(10, 0))).as("s"))
      .select(col(sourceCol), col("n"), col("n_labels"),
        Dedup.ratio6(col("maxc"), col("n")).as("majority_frac"),
        round(round(log(col("n").cast("double")), 9)
          - col("s").cast("double") / col("n"), 6).as("label_entropy"))
      .orderBy(col(sourceCol))
  }

  /** The crawl-intake pipeline composed END TO END — every stage a
    * web-crawl increment passes between fetch and corpus admission,
    * chained in the order production runs them:
    *
    *  1. URL canonicalization + URL-level dedup
    *     ([[graft.functions.UrlNorm]]): one survivor (min id) per
    *     normalized URL — the same page fetched under tracking params
    *     / casing / default ports is ONE arrival. Un-canonicalizable
    *     URLs (url_norm NULL) pass through: a malformed URL is not
    *     evidence of duplication.
    *  2. Exact content dedup WITHIN the increment ([[graft.ext.Dedup
    *     .exact]]'s min-id rule): mirrors fetched under different URLs.
    *  3. Quality gate ([[graft.ext.TextStats.gopherFilterNarrow]],
    *     keep = reason_mask 0): junk never reaches the near-dup join.
    *  4. Exact + near-dup verdict against the SEEN corpus snapshot
    *     ([[graft.ext.Dedup.dedupIncrementalPersisted]]: content-hash
    *     anti-join, band-bucket candidates against the persisted
    *     snapshot under the seen-side bucket cap, true-Jaccard
    *     verify) — seen TEXT is never rescanned.
    *
    * Output: the admitted arrival rows — arrivals' columns plus
    * `url_norm`. Stage ORDER is load-bearing for cost only (each stage
    * shrinks the next stage's input, and the narrow gate runs before
    * the near-dup join): the admitted SET equals running the stages
    * one by one, which CorpusSpec pins and q170 oracle-checks end to
    * end against an independent engine.
    *
    * Scale shape: stages 1-2 are increment-bounded window dedups (one
    * exchange each, no corpus side — the increment, not the corpus,
    * pays them), stage 3 is fully narrow, and stage 4 is the q103
    * discipline (snapshot bucket census caps degenerate buckets,
    * increment-bounded candidate pairs). */
  def crawlIntake(spark: SparkSession, arrivals: DataFrame,
      snapshot: DataFrame, urlCol: String = "url",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    crawlIntakeTracked(spark, arrivals, snapshot, urlCol, idCol, textCol)._1

  /** [[crawlIntake]] plus a RELEASE HANDLE for the gated increment's
    * checkpoint blocks. `crawlIntake` materializes the gated increment
    * EAGERLY at call time (one increment-bounded Spark job — the
    * frame is referenced three times downstream) and the returned
    * frame reads those blocks lazily, so they must outlive the
    * caller's consumption; the handle is how a long-lived session
    * (one intake per crawl increment, indefinitely) returns that
    * storage instead of accumulating it until RDD GC: consume the
    * returned frame fully (write/collect), then call `release()`.
    * `crawlIntake` itself leaves release to RDD GC — fine for one-shot
    * jobs, not for intake loops. */
  def crawlIntakeTracked(spark: SparkSession, arrivals: DataFrame,
      snapshot: DataFrame, urlCol: String = "url",
      idCol: String = "doc_id", textCol: String = "text")
      : (DataFrame, () => Unit) = {
    graft.functions.Functions.registerAll(spark)
    val normed = arrivals.withColumn("url_norm",
      expr(s"url_norm($urlCol).url_norm"))
    // min-id-per-key via a window, not an aggregate + self-join: one
    // exchange on the key, and the increment frame threads through
    // with all its columns intact. NULL-key rows (malformed URLs here,
    // null texts below) ROUTE AROUND the window instead of through it:
    // they all pass the filter anyway, and a hash partitioner sends
    // every NULL to ONE partition — a crawl increment heavy in
    // malformed URLs would sort its whole malformed cohort on a single
    // task for nothing.
    def keepMinPer(df: DataFrame, key: org.apache.spark.sql.Column) = {
      val keyed = df.withColumn("_k", key)
      keyed.filter(col("_k").isNotNull)
        .withColumn("_kmin",
          min(col(idCol)).over(Window.partitionBy(col("_k"))))
        .filter(col(idCol) === col("_kmin"))
        .drop("_kmin")
        .unionByName(keyed.filter(col("_k").isNull))
        .drop("_k")
    }
    val s1 = keepMinPer(normed, col("url_norm"))
    // NULL text forms no content-hash group (it cannot equal another
    // row's hash); the gate below drops it regardless
    val s2 = keepMinPer(s1, md5(col(textCol)))
    val s3 = graft.ext.TextStats.gopherFilterNarrow(s2, textCol = textCol)
      .filter(col("keep"))
      .drop("n_words", "dup_word_frac", "top_bigram_frac", "entropy",
        "reason_mask", "keep")
    // stage 4 references its input three times (band buckets, verify
    // shingles, final anti-join): materialize the gated increment
    // ONCE — increment-bounded blocks, tracked so the caller can
    // return them — instead of replaying the window dedups + gate per
    // reference (q103's snapshot-side discipline applied to the
    // increment side)
    val (s3cp, blocks) = graft.ext.Dedup.checkpointTracked(s3, eager = true)
    (graft.ext.Dedup.dedupIncrementalPersisted(spark, s3cp, snapshot,
       idCol = idCol, textCol = textCol),
     () => blocks.foreach(_.unpersist(blocking = false)))
  }

  /** MIXED-increment crawl intake — a real crawl increment is text +
    * media, and one call admits both arms:
    *
    *  - text arrivals run [[crawlIntake]]'s full chain (url_norm →
    *    URL dedup → exact content dedup → Gopher gate → incremental
    *    exact+near-dup verdict vs the text snapshot);
    *  - media arrivals decode + perceptual-hash ONCE
    *    ([[graft.multimodal.Multimodal.imageHashes]]), exact-dedup
    *    within the increment and near-dup-check against the persisted
    *    image-hash index ([[graft.multimodal.Multimodal
    *    .imageIntakeAdmit]] — indexed images never re-decoded,
    *    signature table scanned never shuffled).
    *
    * Returns `(admittedDocs, admittedMedia)` — admittedMedia carries
    * `(media_id, packed)` so the caller can [[graft.multimodal
    * .Multimodal.appendImageHashIndex]] the admitted hashes and make
    * this increment visible to the next (the text arm's snapshot
    * discipline). The two
    * arms are independent plans (no cross-modal join — a page's text
    * and its images dedup on their own merits); each stage is
    * oracle-checked on its own (q170 text end-to-end, q172 the media
    * admission), and CorpusSpec pins the composition ≡ the manual
    * stage sequence on real PNG payloads.
    * [[graft.streaming.Streams.crawlIntakeMixed]] is the
    * arrival-latency twin.
    *
    * Like [[crawlIntake]], this form leaves the text arm's checkpoint
    * blocks to RDD GC — fine for one-shot jobs; a long-lived
    * per-increment intake LOOP should call [[crawlIntakeMixedTracked]]
    * (or the 128-bit [[crawlIntakeMixed128]]) and `release()` after
    * consuming each increment's results. */
  def crawlIntakeMixed(spark: SparkSession, arrivals: DataFrame,
      snapshot: DataFrame, media: DataFrame, imageIndexPath: String,
      urlCol: String = "url", idCol: String = "doc_id",
      textCol: String = "text", maxDist: Int = 3,
      useAhash: Boolean = false): (DataFrame, DataFrame) = {
    val (docs, mediaAdm, _) = crawlIntakeMixedTracked(spark, arrivals,
      snapshot, media, imageIndexPath, urlCol, idCol, textCol, maxDist,
      useAhash)
    (docs, mediaAdm)
  }

  /** [[crawlIntakeMixed]] plus the text arm's RELEASE HANDLE
    * ([[crawlIntakeTracked]]'s contract carried through the
    * composition): the intake-loop form. A mixed intake is the API a
    * per-increment crawl loop calls indefinitely, and the text arm
    * materializes its gated increment eagerly (increment-bounded
    * checkpoint blocks) — without the handle each iteration leaks
    * those blocks until RDD GC, the exact accumulation
    * `crawlIntakeTracked` exists to prevent. Consume BOTH returned
    * frames fully (write/collect), then call `release()`; the media
    * arm holds no checkpoint state, so the one handle returns
    * everything the call pinned. */
  def crawlIntakeMixedTracked(spark: SparkSession, arrivals: DataFrame,
      snapshot: DataFrame, media: DataFrame, imageIndexPath: String,
      urlCol: String = "url", idCol: String = "doc_id",
      textCol: String = "text", maxDist: Int = 3,
      useAhash: Boolean = false): (DataFrame, DataFrame, () => Unit) = {
    val (docs, release) = crawlIntakeTracked(spark, arrivals, snapshot,
      urlCol, idCol, textCol)
    (docs,
     graft.multimodal.Multimodal.imageIntakeAdmit(spark, media,
       imageIndexPath, maxDist, 0, useAhash),
     release)
  }

  /** MIXED-increment crawl intake on the 128-BIT media signature —
    * [[crawlIntakeMixedTracked]] with the media arm admitting on the
    * combined dHash‖aHash signature against a [[graft.multimodal
    * .Multimodal.writeImageHashIndex128]] directory
    * ([[graft.multimodal.Multimodal.imageIntakeAdmit128]]): the
    * non-saturating form — at O(100M+) indexed images the 64-bit
    * index's per-arrival candidate set grows with the corpus while
    * this one's stays duplicate-structure-bounded. The signature is
    * strictly finer (both perceptual tests must agree within
    * `maxDist`), and it is already computed — one decode pass yields
    * both hashes. Returns `(admittedDocs, admittedMedia, release)`;
    * admittedMedia carries `(media_id, lo, hi)` for
    * [[graft.multimodal.Multimodal.appendImageHashIndex128]].
    * [[graft.streaming.Streams.crawlIntakeMixed128]] is the
    * arrival-latency twin. */
  def crawlIntakeMixed128(spark: SparkSession, arrivals: DataFrame,
      snapshot: DataFrame, media: DataFrame, imageIndexPath: String,
      urlCol: String = "url", idCol: String = "doc_id",
      textCol: String = "text", maxDist: Int = 3)
      : (DataFrame, DataFrame, () => Unit) = {
    val (docs, release) = crawlIntakeTracked(spark, arrivals, snapshot,
      urlCol, idCol, textCol)
    // the media arm's decode-once signature checkpoint releases with
    // the text arm's increment blocks — ONE handle returns everything
    // the call pinned (the documented contract)
    val (mediaAdm, mediaRelease) =
      graft.multimodal.Multimodal.imageIntakeAdmit128Tracked(spark, media,
        imageIndexPath, maxDist)
    (docs, mediaAdm, () => { release(); mediaRelease() })
  }
}
