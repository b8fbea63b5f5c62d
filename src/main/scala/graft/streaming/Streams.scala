package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.core.Tables
import graft.pumle.Pipeline

/** Structured Streaming surface (SURVEY §2.8): the reference's
  * incremental machinery (completed.flag skip, INSERT OR IGNORE,
  * status state machine) re-expressed as streams.
  *
  *  - `bronzeIngest`: file-source stream over the bronze landing dir —
  *    each new `states_*.json` is parsed, gathered against the static
  *    broadcast ACTNUM, and appended to the golden long form exactly
  *    once (checkpointed source progress ≙ completed.flag,
  *    /root/reference/simulation/simulation.cpp:14-20).
  *  - `eventCounts`: watermarked sliding-window aggregation over an
  *    event stream (the generic streaming-agg operator).
  *  - `latestStatus`: per-key running state via mapGroupsWithState —
  *    the CREATED→RUNNING→COMPLETED machine (db.py:43-47) as
  *    exactly-once streaming state.
  *
  * At scale: file sources list incrementally (maxFilesPerTrigger), the
  * stream-static join broadcasts the small side, and state stores
  * partition by key — nothing here is driver-bound.
  */
object Streams {

  // ------------------------------------------------------------------
  // STATIC-SIDE CACHE DISCIPLINE. A stream-static join re-executes the
  // static sub-plan on EVERY micro-batch — Spark reuses the *plan*, not
  // the *result* — so any reshaped static side (a groupBy/collect_list
  // over a snapshot or index table) would silently re-run
  // corpus-proportional work per trigger. Every such side below goes
  // through [[staticSide]]: persisted MEMORY_AND_DISK (built once, read
  // per batch) and REGISTERED so a long-lived driver can return the
  // storage — the cache otherwise outlives the stream (Spark ties it to
  // the session, not the query). Call [[releaseStaticSides]] after
  // stopping the streams that consume them; a raw parquet/file scan
  // with no shuffle above it is NOT routed through this (re-scanning is
  // the intended read path and caching it would double the footprint).
  // ------------------------------------------------------------------
  private val staticSides =
    scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist + register a stream-static probe/reshape side (see the
    * cache-discipline note above). */
  private def staticSide(df: DataFrame): DataFrame = staticSides.synchronized {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    staticSides += p
    p
  }

  /** Release every static side this object has persisted (the tracked
    * `release()` discipline of the batch intakes, session-wide): call
    * after stopping the consuming streams — e.g. between crawl
    * generations, when streams restart against a rebuilt index and the
    * old probe caches would otherwise accumulate for the session's
    * lifetime. Returns the number of cached frames released. Safe to
    * call with streams still running (Spark recomputes uncached plans),
    * but the running stream then pays the per-batch rebuild this cache
    * exists to prevent. */
  def releaseStaticSides(): Int = staticSides.synchronized {
    val n = staticSides.length
    staticSides.foreach(_.unpersist(blocking = false))
    staticSides.clear()
    n
  }

  /** The number of currently-registered static-side caches (spec and
    * monitoring hook). */
  def staticSideCount: Int = staticSides.synchronized(staticSides.length)

  /** Scoped static-side tracking — build ONE stream's plan inside `f`
    * and get back (result, release) where release unpersists ONLY the
    * caches that build registered: the per-call release-handle
    * discipline ([[graft.ext.Corpus.crawlIntakeMixedTracked]]'s
    * contract) for drivers running SEVERAL independent streams, where
    * the global [[releaseStaticSides]] would also evict every OTHER
    * running stream's probe caches and silently re-impose the
    * per-trigger rebuild on them. Scope membership is positional
    * (registry delta across `f`), so build streams one at a time —
    * concurrent builders would interleave their registrations. */
  def trackStaticSides[T](f: => T): (T, () => Unit) =
    staticSides.synchronized {
      val before = staticSides.length
      val out = f
      val mine = staticSides.slice(before, staticSides.length).toList
      (out, () => staticSides.synchronized {
        mine.foreach(_.unpersist(blocking = false))
        staticSides --= mine
      })
    }

  /** Streaming bronze → golden append. `actnum` is a static (batch)
    * DataFrame — the stream-static join broadcasts it per micro-batch. */
  def bronzeIngest(
      spark: SparkSession,
      bronzeGlob: String,
      actnum: DataFrame,
      dims: (Int, Int, Int),
      goldenPath: String,
      checkpoint: String,
      maxFilesPerTrigger: Int = 64): StreamingQuery = {
    // whole-file text + format-tolerant parse (bare solver arrays or
    // wrapped objects), sharing the batch readers' logic
    val states = spark.readStream
      .option("wholetext", true)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(bronzeGlob)
      .select(
        Pipeline.statesArrayColumn(col("value")).as("states"),
        Pipeline.simHashFromFile.as("sim_hash"))
    val golden = Pipeline.golden(Pipeline.silver(states, actnum), dims)
    golden.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", goldenPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Watermarked tumbling-window event counts (event-time semantics the
    * reference lacks; the engine's generic streaming aggregation). */
  def eventCounts(events: DataFrame, watermark: String = "10 minutes",
      window_ : String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Watermarked streaming dedup: exactly-once events by id within the
    * watermark horizon (the streaming form of the engine's dedup
    * primitive). `dropDuplicatesWithinWatermark` keys state by ID ONLY
    * — a duplicate arriving at a different event time is still dropped
    * (a `(id, ts)` composite key would only catch same-timestamp
    * duplicates) — and expires state past the horizon, so memory is
    * bounded at any throughput. */
  def dedupEvents(events: DataFrame, idCol: String = "event_id",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Streaming training-data intake: new documents flow through
    * content-hash dedup (watermark-bounded state), the quality gate,
    * and the deterministic hash split — one pass, exactly once. The
    * batch operators compose unchanged onto the stream because they are
    * narrow per-row transforms (Catalyst doesn't care that the source
    * is incremental); only the dedup carries state, and its store is
    * bounded by the watermark horizon. Returns the gated, split-labeled
    * stream for the caller to route (e.g. writeStream partitionBy
    * "split"). `docs` needs (doc_id, text, ts). */
  def docIntake(docs: DataFrame, stopwords: Seq[String],
      minQuality: Double, watermark: String = "10 minutes"): DataFrame = {
    val deduped = docs
      .withWatermark("ts", watermark)
      .withColumn("content_hash", md5(col("text")))
      // keyed by content hash alone: identical text at a DIFFERENT
      // event time is still a duplicate; state expires at the horizon
      .dropDuplicatesWithinWatermark("content_hash")
    graft.ext.Sampling.hashSplit(
        graft.ext.TextStats.quality(deduped, stopwords)
          .filter(col("quality") >= minQuality))
      .select(col("doc_id"), col("ts"), col("content_hash"),
        col("quality"), col("bucket"), col("split"))
  }

  /** Streaming Gopher quality gate: arriving documents flow through
    * content-hash dedup (watermark-bounded state) and the FULL composite
    * gate — length bounds, duplicate-word fraction, top-bigram fraction,
    * entropy floor — emitting each doc with its `reason_mask`/`keep`
    * verdict. Possible only because `gopherFilterNarrow` recomputes
    * every signal as per-row array algebra: a relational gate
    * (`gopherFilter`'s doc-keyed aggregates) would demand stateful
    * aggregation per doc; the narrow form needs zero state beyond the
    * dedup horizon, so throughput is bounded by CPU, not state-store
    * size. Verdicts are bit-identical to the batch gate (q96 vs q93's
    * shared oracle + Stream4Spec). `docs` needs (doc_id, text, ts). */
  def qualityGate(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    graft.ext.TextStats.gopherFilterNarrow(
        docs.filter(col("text").isNotNull)
          .withWatermark("ts", watermark)
          .withColumn("content_hash", md5(col("text")))
          .dropDuplicatesWithinWatermark("content_hash"))
      .select(col("doc_id"), col("ts"), col("n_words"), col("dup_word_frac"),
        col("top_bigram_frac"), col("entropy"), col("reason_mask"), col("keep"))

  /** Streaming near-dup candidate flagging: each arriving doc computes
    * its minhash48 signature (a pure per-row expression — it streams
    * unchanged) and is emitted iff any of its band buckets matches the
    * STATIC seen-corpus bucket table (`Dedup.bandBuckets` output,
    * persisted per snapshot in production). The stream-static semi-join
    * broadcasts-or-shuffles per micro-batch under AQE; the only stream
    * state is the per-doc dedup within the watermark horizon, so memory
    * is bounded at any throughput. This is the at-arrival CANDIDATE
    * flag — true near-dup confirmation (Jaccard verify) remains a
    * batch job over the flagged set, exactly as in `dedupIncremental`.
    * `docs` needs (doc_id, text, ts). */
  def nearDupFlags(spark: SparkSession, docs: DataFrame, seenBuckets: DataFrame,
      bands: Int = 4, watermark: String = "10 minutes"): DataFrame = {
    graft.functions.Functions.registerAll(spark)
    val stack = (0 until bands).map(b => s"$b, sig[$b]").mkString(", ")
    docs.filter(col("text").isNotNull)
      .withWatermark("ts", watermark)
      .withColumn("sig", expr("minhash48(text)"))
      .selectExpr("doc_id", "ts", s"stack($bands, $stack) AS (band, bucket)")
      .join(seenBuckets.select(col("band"), col("bucket")), Seq("band", "bucket"),
        "left_semi")
      // a doc matching several bands emits once
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), col("ts"))
  }

  /** Stream-static persisted-incremental dedup — the streaming consumer
    * of [[graft.ext.Dedup.writeIncrementalSnapshot]]'s index, emitting
    * each arriving doc iff it survives BOTH the exact stage (content
    * hash unseen) and the near-dup stage (max true Jaccard vs every
    * snapshot doc sharing a band bucket < `threshold`) — the same
    * verdicts as the batch [[graft.ext.Dedup.dedupIncrementalPersisted]]
    * (spec-pinned), at arrival latency instead of batch cadence.
    *
    * Plan shape, and why it streams with CONSTANT state per key:
    * the snapshot side is reshaped ONCE per snapshot (static plan,
    * reused every micro-batch) into a (band, bucket)-UNIQUE index whose
    * rows carry the bucket's ≤`maxBucket` member shingle sets
    * (degenerate buckets are dropped by the same `bsize` cap as the
    * batch path — they are candidate-precision noise there and
    * per-arrival cost here). The stream side is all NARROW per-row work
    * (md5, minhash48, shingles8) plus `bands` stream-static LEFT OUTER
    * hash joins — one per band, each on a unique key, so there is no
    * stream-side row amplification, and crucially no stream-side
    * AGGREGATION: a groupBy-max-Jaccard formulation would be a stateful
    * streaming agg whose emission waits for the watermark horizon. The
    * per-pair Jaccard fold runs inside one expression over the joined
    * bucket lists. Only two stateful ops exist: the within-stream
    * content-hash dedup and nothing else — state is one hash per doc
    * within the watermark, bounded at any throughput. Seen TEXT is
    * never read (the snapshot carries hash/sig/shingles), matching the
    * batch operator's scan discipline. Null-text docs are dropped at
    * intake (stream contract), where the batch operator passes them
    * through. `docs` needs (doc_id, text, ts); `keepCols` names extra
    * input columns to carry through to the output, and an EMPTY
    * `watermark` means the caller already set one upstream (Spark
    * disallows redefining it) — both for composed intakes, see
    * [[crawlIntake]]. */
  def incrementalDedup(spark: SparkSession, docs: DataFrame,
      snapshot: DataFrame, bands: Int = 4, maxBucket: Int = 10,
      threshold: Double = 0.7, watermark: String = "10 minutes",
      keepCols: Seq[String] = Nil): DataFrame = {
    graft.functions.Functions.registerAll(spark)
    val stack = (0 until bands).map(b => s"$b, sig[$b]").mkString(", ")
    // staticSide: this reshape (stack + corpus-keyed collect_list) and
    // the exact stage's distinct hash set below would otherwise re-run
    // over the whole snapshot on EVERY micro-batch (see the
    // cache-discipline note at the top of this object). Both caches
    // are REPARTITIONED + SORTED ON THEIR JOIN KEY first — exchange
    // reuse does not span micro-batches, so an unpartitioned cache is
    // still shuffled and sorted per trigger, which the stream-static
    // A/B in BENCH_sfe.md measured DOMINANT over the reshape it saves
    // (the hammingProbed finding, applied to every probe side here).
    val bucketed = staticSide(snapshot
      .selectExpr("shingles", s"stack($bands, $stack) AS (band, bucket)")
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("shingles")).as("sh_list"),
        count(lit(1)).as("bsize"))
      .filter(col("bsize") <= maxBucket)
      .drop("bsize")
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket")))
    val seenHashes = staticSide(
      snapshot.select(col("content_hash")).distinct()
        .sortWithinPartitions(col("content_hash")))
    val base0 = docs.filter(col("text").isNotNull)
    val base = (if (watermark.isEmpty) base0
                else base0.withWatermark("ts", watermark))
      .withColumn("content_hash", md5(col("text")))
      .dropDuplicatesWithinWatermark("content_hash")
      .join(seenHashes, Seq("content_hash"), "left_anti")
      .withColumn("sig", expr("minhash48(text)"))
      .withColumn("sh_n", expr("shingles8(text)"))
    val joined = (0 until bands).foldLeft(base) { (df, b) =>
      df.withColumn(s"bucket_$b", col("sig").getItem(b))
        .join(bucketed.filter(col("band") === b)
            .select(col("bucket").as(s"bucket_$b"),
              col("sh_list").as(s"sh_list_$b")),
          Seq(s"bucket_$b"), "left_outer")
    }
    // max true Jaccard over every candidate shingle set, folded across
    // bands; -1 marks no-candidate (null list) so the keep filter reads
    // uniformly. union = 0 only when both sets are empty -> Jaccard 1
    // (two empty docs ARE duplicates), the batch operator's convention.
    val maxJ = (0 until bands).map { b =>
      s"""coalesce(array_max(transform(sh_list_$b, s ->
         |  CASE WHEN size(sh_n) + size(s) = 0 THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(size(array_intersect(sh_n, s)) AS DOUBLE) /
         |            (size(sh_n) + size(s) - size(array_intersect(sh_n, s)))
         |  END)), CAST(-1.0 AS DOUBLE))""".stripMargin
    }.mkString("greatest(", ", ", ")")
    joined.withColumn("max_j", expr(maxJ))
      .filter(col("max_j") < threshold)
      .select((Seq("doc_id", "ts", "text") ++ keepCols).map(col): _*)
  }

  /** Streaming twin of [[graft.ext.Corpus.crawlIntake]] — the full
    * crawl-admission chain at ARRIVAL latency: URL canonicalization
    * (narrow compiled `url_norm`) + within-stream URL dedup
    * (watermark-bounded state; the stream's arrival order replaces the
    * batch form's min-id rule — first fetch of a URL wins), the narrow
    * Gopher gate, then [[incrementalDedup]]'s exact + near-dup verdict
    * against the persisted seen snapshot (its content-hash state IS
    * the batch form's within-increment exact dedup). The batch form
    * gates AFTER its exact stage and this twin gates before it; exact
    * duplicates share their text, so the gate verdict is identical for
    * every member of a hash group and the admitted SET is unchanged —
    * StreamsSpec pins stream ≡ batch on ordered micro-batches.
    * Un-canonicalizable URLs (url_norm NULL) bypass the URL-dedup
    * state and flow straight to the gate, the batch form's null rule.
    *
    * State: exactly TWO watermark-bounded dedup states (url_norm,
    * content hash) — everything else narrow or stream-static. Output:
    * admitted arrivals as (doc_id, ts, text, url_norm). `docs` needs
    * (doc_id, text, ts, url). */
  def crawlIntake(spark: SparkSession, docs: DataFrame,
      snapshot: DataFrame, watermark: String = "10 minutes",
      bands: Int = 4, maxBucket: Int = 10,
      threshold: Double = 0.7): DataFrame = {
    graft.functions.Functions.registerAll(spark)
    // the watermark is defined ONCE, upstream of both stateful dedups
    // (Spark disallows redefining it mid-plan); both union branches
    // descend from this node, so it propagates through the union
    val normed = docs.withColumn("url_norm", expr("url_norm(url).url_norm"))
      .withWatermark("ts", watermark)
    val urlDeduped = normed.filter(col("url_norm").isNotNull)
      .dropDuplicatesWithinWatermark("url_norm")
      .unionByName(normed.filter(col("url_norm").isNull))
    val gated = graft.ext.TextStats.gopherFilterNarrow(urlDeduped)
      .filter(col("keep"))
      .drop("n_words", "dup_word_frac", "top_bigram_frac", "entropy",
        "reason_mask", "keep")
    incrementalDedup(spark, gated, snapshot, bands, maxBucket, threshold,
      watermark = "", keepCols = Seq("url_norm"))
  }

  final case class WinnowSeenCand(seen_id: Long, sh_s: Seq[String])
  final case class WinnowIn(doc_id: Long, ts: java.sql.Timestamp,
    text: String, sh_n: Seq[String], cands: Seq[WinnowSeenCand])
  final case class WinnowKept(doc_id: Long, ts: java.sql.Timestamp,
    text: String)

  /** Streaming twin of [[graft.ext.Dedup.dedupIncrementalWinnowIndexed]]
    * — the recommended crawl shape, consumed stream-static: each
    * arriving doc is deduped against a persisted
    * [[graft.ext.Dedup.writeWinnowIndex]] directory, emitting only the
    * kept docs. Verdict contract is the batch form's exactly (same
    * (k, w) read from the index's meta, same df cap, same
    * minShared / shingle-Jaccard verify with the union=0→1.0
    * convention) and StreamsSpec pins stream ≡ batch keeps. Like the
    * batch increment, arrivals are judged against the INDEX only —
    * intra-stream duplicates are the next index rebuild/merge's
    * business, not the filter's.
    *
    * Shape: the exact stage is a stream-static anti-join against the
    * seen hash column; fingerprints explode STATELESSLY and pick up
    * their df-capped candidate lists from one static fp-keyed table
    * (computed once at plan build from the persisted snapshot+fpdf —
    * seen text is never consulted); the per-doc verdict regroups the
    * matches with a STATELESS flatMapGroupsWithState (all of a doc's
    * fp rows live in its arrival micro-batch; no state is ever
    * stored, so state size is zero regardless of stream length). */
  def winnowDedup(spark: SparkSession, docs: DataFrame, indexPath: String,
      maxDf: Int = 10, minShared: Int = 2,
      threshold: Double = 0.7): DataFrame = {
    import spark.implicits._
    val (k, w) = graft.ext.Dedup.readWinnowIndexParams(spark, indexPath)
    val pruneDf = graft.ext.Dedup.readWinnowPruneDf(spark, indexPath)
    require(maxDf <= pruneDf,
      s"maxDf=$maxDf exceeds the index's prune cap $pruneDf at " +
        s"$indexPath — fps in (prune_df, maxDf] were pruned at merge")
    graft.functions.Functions.registerAll(spark)
    val snapshot = Tables.read(spark, s"$indexPath/docs")
    val fpdf = Tables.read(spark, s"$indexPath/fpdf")
    // static side: kept fingerprint -> candidate (seen_id, shingles)
    // list — the df cap applies HERE, so over-cap fps never produce a
    // candidate row (the batch form's order of operations)
    // staticSide (cache-discipline note at the top of this object): the
    // postings reshape explodes + regroups the whole snapshot — without
    // the persist every micro-batch re-ran it
    val postings = staticSide(snapshot
      .select(col("doc_id").as("seen_id"), col("shingles"),
        explode(col("fps")).as("fp"))
      .join(fpdf.filter(col("df") <= maxDf), Seq("fp"))
      .groupBy(col("fp"))
      .agg(collect_list(struct(col("seen_id"), col("shingles").as("sh_s")))
        .as("cands"))
      // key-partitioned + sorted before the persist (the hammingProbed
      // finding): per-trigger joins then exchange only the stream side
      .repartition(col("fp"))
      .sortWithinPartitions(col("fp")))
    val seenHashes = staticSide(
      snapshot.select(col("content_hash")).distinct()
        .sortWithinPartitions(col("content_hash")))
    // null-text docs flow through KEPT, matching the batch twin: md5's
    // null hash never matches the exact anti-join, winnow_keys/shingles8
    // are null-propagating so they produce no fingerprints and no
    // candidates — same as a too-short doc (StreamsSpec pins it)
    docs
      .withColumn("content_hash", md5(col("text")))
      .join(seenHashes, Seq("content_hash"), "left_anti")
      .withColumn("sh_n", expr("shingles8(text)"))
      // explode_outer: a doc with NO fingerprints (shorter than the
      // winnow window) still flows through with a null fp and is kept
      .withColumn("fp", explode_outer(
        graft.functions.WinnowKeys.fingerprints(spark, k, w, "text")))
      .join(postings, Seq("fp"), "left_outer")
      .select(col("doc_id"), col("ts"), col("text"), col("sh_n"), col("cands"))
      .as[WinnowIn]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (_: Long, vals: Iterator[WinnowIn], _: GroupState[Boolean]) =>
          val rows = vals.toSeq
          val head = rows.head
          val shN = Option(head.sh_n).getOrElse(Seq.empty).toSet
          // n_shared per seen doc = how many of this doc's distinct
          // kept fps that seen doc shares (each row is one fp)
          val bySeen = rows.flatMap(r => Option(r.cands).getOrElse(Seq.empty))
            .groupBy(_.seen_id)
          val isDup = bySeen.exists { case (_, cs) =>
            cs.size >= minShared && {
              val shS = cs.head.sh_s.toSet
              val inter = (shN & shS).size
              val union = shN.size + shS.size - inter
              val j = if (union == 0) 1.0 else inter.toDouble / union
              j >= threshold
            }
          }
          if (isDup) Iterator.empty
          else Iterator.single(WinnowKept(head.doc_id, head.ts, head.text))
      }
      .toDF()
  }

  final case class DebEvent(user_id: Long, event_type: String,
    ts_us: Long, event_id: Long)
  final case class DebState(last_us: Long)

  /** Streaming debounce — the q35 operator on a stream: emit only
    * events whose gap to the PREVIOUS event of the same (user, type)
    * exceeds `horizonUs`; every event (kept or not) advances the
    * last-seen timestamp, exactly like the batch lag-window form. ONE
    * (last_us) long per key of state — constant per key, no buffering —
    * and idle keys EXPIRE via event-time timeout (the qualityGate
    * watermark-bounded discipline): a key is dropped once the watermark
    * proves it has been silent past horizon + lateness, so unbounded
    * key cardinality no longer grows the state store without bound. An
    * event arriving for an expired key opens a fresh burst — the same
    * verdict batch gives it, since any event respecting the lateness
    * bound is ≥ horizon past the expired key's last timestamp.
    *
    * Ordering contract (the asofEnrich discipline): within a micro-batch
    * events process in (ts, id) order, so in-order streams get answers
    * identical to the batch operator (spec-pinned). A late cross-batch
    * event compares against the furthest timestamp already seen — it
    * can be suppressed conservatively but never re-opens a burst. */
  def debounce(spark: SparkSession, events: DataFrame,
      horizonUs: Long = 60L * 1000000L,
      latenessUs: Long = 600L * 1000000L): DataFrame = {
    import spark.implicits._
    val latenessSec = math.max(1L, latenessUs / 1000000L)
    events
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("ts", expr("timestamp_micros(ts_us)"))
      .withWatermark("ts", s"$latenessSec seconds")
      .as[DebEvent]
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[DebState, DebEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, evs, state: GroupState[DebState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = evs.toSeq.sortBy(e => (e.ts_us, e.event_id))
            var last = state.getOption.map(_.last_us)
            val kept = sorted.filter { e =>
              val keep = last.forall(l => e.ts_us - l > horizonUs)
              last = Some(last.fold(e.ts_us)(math.max(_, e.ts_us)))
              keep
            }
            last.foreach { l =>
              state.update(DebState(l))
              // expire once the watermark proves the key idle past
              // horizon + lateness; never set at-or-below the watermark.
              // In BATCH execution EliminateEventTimeWatermark removes
              // the watermark node, so getCurrentWatermarkMs() THROWS
              // (watermarkPresent = false) — treat that as watermark
              // -∞; batch ignores timeouts anyway (StreamsSpec pins the
              // batch run against the lag-window operator)
              val wm = try state.getCurrentWatermarkMs() catch {
                case _: UnsupportedOperationException => -1L
              }
              state.setTimeoutTimestamp(math.max(
                (l + horizonUs + latenessUs) / 1000L, wm + 1L))
            }
            kept.iterator
          }
      }.toDF()
  }

  final case class AsofEvent(user_id: Long, ts_us: Long, event_id: Long,
    is_left: Boolean, value: Double)
  final case class AsofState(ts_us: Long, event_id: Long, value: Double)
  final case class AsofOut(user_id: Long, ts_us: Long, event_id: Long,
    value: Double, asof_value: Option[Double])

  /** Streaming as-of enrichment — the streaming counterpart of
    * `graft.ext.AsOf.joinAsOf`: left events (`is_left`) emit enriched
    * with the latest right value at or before their timestamp, per key,
    * via `flatMapGroupsWithState` holding ONE (ts, id, value) triple per
    * key — O(keys) state, no buffering of either stream.
    *
    * Ordering contract: within a micro-batch events are processed in
    * (ts, right-first, id) order — identical tie semantics to the batch
    * operator — so per-key-ordered streams (the log-compaction shape)
    * get EXACT as-of answers. Cross-batch reordering degrades
    * gracefully: a left event older than the retained right state emits
    * `asof_value = None` (never a future value) — the precision trade
    * of constant state, documented rather than silently wrong. */
  def asofEnrich(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.as[AsofEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[AsofEvent], state: GroupState[AsofState]) =>
          var st = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[AsofOut]()
          evs.toSeq
            .sortBy(e => (e.ts_us, if (e.is_left) 1 else 0, e.event_id))
            .foreach { e =>
              if (!e.is_left) {
                // keep the latest right row (ties by id, as in batch)
                if (st.forall(s =>
                  e.ts_us > s.ts_us || (e.ts_us == s.ts_us && e.event_id > s.event_id)))
                  st = Some(AsofState(e.ts_us, e.event_id, e.value))
              } else {
                out += AsofOut(uid, e.ts_us, e.event_id, e.value,
                  st.filter(_.ts_us <= e.ts_us).map(_.value))
              }
            }
          st.foreach(state.update)
          out.iterator
      }
      .toDF()
  }

  final case class SimEvent(sim_hash: String, status: String, seq: Long)
  final case class SimState(sim_hash: String, status: String, transitions: Long)

  /** mapGroupsWithState status tracker: applies the reference's legal
    * transitions in sequence order, ignoring illegal ones (streaming
    * analog of OP-V6). */
  /** Stream-static ANN enrich — the streaming consumer of
    * [[graft.ext.Similarity.writeIvfIndex]]'s persisted index: each
    * arriving query vector gets its IVF top-k neighbors (the identical
    * ranking contract as the batch
    * [[graft.ext.Similarity.ivfTopKIndexed]], spec-pinned) at arrival
    * latency. The streaming twin of [[incrementalDedup]]: same
    * static-side reshape-once + per-band unique-key join discipline,
    * applied to ANN.
    *
    * Plan shape, and why it streams STATELESS: windows and groupBy
    * aggregations on a stream are stateful and emission-delayed, so
    * neither of the batch path's two row_number windows survives here.
    * Instead (1) probe selection is per-row narrow work — the centroid
    * table (metadata-scale by IVF construction: you size |centroids| ~
    * sqrt(corpus)) is embedded as a LITERAL array and each row sorts
    * its own per-centroid cosines; (2) the assigned corpus is reshaped
    * ONCE per index (static plan, reused every micro-batch) into one
    * row per cell carrying the cell's member list — the cell is the
    * unit the batch path reads as a pruned partition, so a cell-sized
    * row is the same memory unit the index already commits to; (3) the
    * stream side takes `nProbe` stream-static LEFT joins, each on the
    * unique cell key (no row amplification), and (4) one expression
    * concatenates the probed cells, drops self-matches, sorts by the
    * 4-dp-rounded cosine (desc, id-tiebreak — negate AFTER rounding so
    * half-up stays half-up) and slices top-k. No state store at all:
    * a query row's answer never waits on a watermark. */
  def annEnrich(spark: SparkSession, queries: DataFrame, indexPath: String,
      nProbe: Int = 2, k: Int = 5): DataFrame = {
    graft.functions.Functions.registerAll(spark)
    import graft.ext.Similarity.withVectors
    val cents = Tables.read(spark, s"$indexPath/centroids")
      .select(col("centroid_id"), col("cv"), col("cn"))
      .collect().map { r =>
        struct(lit(r.getLong(0)).as("cid"),
          typedLit(r.getSeq[Double](1)).as("cv"),
          lit(r.getDouble(2)).as("cn"))
      }
    // staticSide (cache-discipline note at the top of this object): the
    // cell reshape regroups the whole assigned table — without the
    // persist every micro-batch re-scanned and re-aggregated it; key-
    // partitioned + sorted so per-trigger joins exchange only the
    // stream side (the hammingProbed finding)
    val cells = staticSide(spark.read.parquet(s"$indexPath/assigned")
      .groupBy(col("centroid_id"))
      .agg(collect_list(
        struct(col("n_id"), col("vn"), col("nn"),
          col("centroid_id").as("cid"))).as("cands"))
      .repartition(col("centroid_id"))
      .sortWithinPartitions(col("centroid_id")))
    val base = withVectors(spark, queries)
      .withColumn("_cents", array(cents.toIndexedSeq: _*))
      // per-row probe ranking: (cos desc, cid asc) == the batch wp window
      .withColumn("_probes", expr(
        s"""slice(array_sort(transform(_cents, c ->
           |  struct(-round(dot64(v, c.cv) / (nrm * c.cn), 4) AS ncos,
           |         c.cid AS cid))), 1, $nProbe)""".stripMargin))
      .drop("_cents")
    val joined = (0 until nProbe).foldLeft(base) { (df, p) =>
      df.withColumn(s"_bucket_$p",
          expr(s"CASE WHEN size(_probes) > $p THEN _probes[$p].cid END"))
        .join(cells.select(col("centroid_id").as(s"_bucket_$p"),
            col("cands").as(s"_cands_$p")),
          Seq(s"_bucket_$p"), "left_outer")
    }
    val lists = (0 until nProbe).map(p => s"_cands_$p").mkString(", ")
    joined
      .withColumn("_top", expr(
        s"""slice(array_sort(transform(
           |  filter(flatten(filter(array($lists), a -> a IS NOT NULL)),
           |         c -> c.n_id != vec_id),
           |  c -> struct(-round(dot64(v, c.vn) / (nrm * c.nn), 4) AS ncos,
           |              c.n_id AS n_id, c.cid AS cid))), 1, $k)""".stripMargin))
      .select(col("vec_id").as("q_id"),
        posexplode(col("_top")).as(Seq("_pos", "_c")))
      .select(col("q_id"), (col("_pos") + 1).cast("long").as("rank"),
        col("_c.n_id").as("n_id"), col("_c.cid").as("centroid_id"),
        (-col("_c.ncos")).as("cosine"))
  }

  /** Streaming ANN against a persisted IVF+PQ index
    * ([[graft.ext.Similarity.writeIvfPqIndex]]) — [[annEnrich]]'s
    * stateless stream-static shape applied to the PRODUCTION layout:
    * each arriving query probes its `nProbe` nearest centroids (the
    * 4-dp-cosine DESC / centroid-id probe contract), builds its own
    * m×k ADC distance table as a per-row expression (the codebook is
    * a reloaded literal — a few KB by PQ construction), and ranks the
    * probed cells' CODE rows by flat-ADC lookup sum, exactly
    * [[graft.ext.Similarity.ivfPqSearch]]'s (round(adc_dist2, 6),
    * n_id) contract — StreamsSpec pins stream ≡ batch bit-equality.
    *
    * Same statelessness argument as [[annEnrich]]: the codes table
    * reshapes ONCE per index into one row per cell (the unit the batch
    * path reads as a pruned partition), the stream side takes `nProbe`
    * unique-key left joins, and one expression concatenates, drops
    * self-matches, computes the table-lookup distances and slices
    * top-k — no state store, no watermark latency. Codes are
    * index-written and therefore well-formed in `[0, k)` (the batch
    * path's assumption too). */
  def pqEnrich(spark: SparkSession, queries: DataFrame, indexPath: String,
      nProbe: Int = 2, k: Int = 5): DataFrame = {
    graft.functions.Functions.registerAll(spark)
    import graft.ext.Similarity.withVectors
    val cbs = graft.ext.Similarity.loadPqCodebooks(spark, indexPath)
    val m = cbs.length
    val codeK = cbs.head.length
    val subDim = cbs.head.head.length
    val cents = Tables.read(spark, s"$indexPath/centroids")
      .select(col("centroid_id"), col("cv"), col("cn"))
      .collect().map { r =>
        struct(lit(r.getLong(0)).as("cid"),
          typedLit(r.getSeq[Double](1)).as("cv"),
          lit(r.getDouble(2)).as("cn"))
      }
    // staticSide: the annEnrich cell-reshape argument, on the codes
    // table; key-partitioned + sorted (the hammingProbed finding)
    val cells = staticSide(spark.read.parquet(s"$indexPath/codes")
      .groupBy(col("centroid_id"))
      .agg(collect_list(
        struct(col("vec_id").as("n_id"), col("codes"),
          col("centroid_id").cast("long").as("cid"))).as("cands"))
      .repartition(col("centroid_id"))
      .sortWithinPartitions(col("centroid_id")))
    val base = withVectors(spark, queries)
      .withColumn("_cents", array(cents.toIndexedSeq: _*))
      // per-row probe ranking: (cos desc 4-dp, cid asc) == the batch
      // centroid_topk contract (negate AFTER rounding)
      .withColumn("_probes", expr(
        s"""slice(array_sort(transform(_cents, c ->
           |  struct(-round(dot64(v, c.cv) / (nrm * c.cn), 4) AS ncos,
           |         c.cid AS cid))), 1, $nProbe)""".stripMargin))
      .drop("_cents")
      // the query's ADC table, flattened row-major — ivfPqSearch's
      // exact per-subspace fold on the same codebook literal
      .withColumn("_cb", typedLit(cbs))
      .withColumn("_tbl", flatten(expr(
        s"""transform(sequence(0, ${m - 1}), s ->
          |  transform(element_at(_cb, s + 1), cw ->
          |    aggregate(zip_with(slice(v, s * $subDim + 1, $subDim), cw,
          |      (a, b) -> (a - b) * (a - b)), CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)))"""
          .stripMargin)))
      .drop("_cb")
    val joined = (0 until nProbe).foldLeft(base) { (df, p) =>
      df.withColumn(s"_bucket_$p",
          expr(s"CASE WHEN size(_probes) > $p THEN _probes[$p].cid END"))
        .join(cells.select(col("centroid_id").as(s"_bucket_$p"),
            col("cands").as(s"_cands_$p")),
          Seq(s"_bucket_$p"), "left_outer")
    }
    val lists = (0 until nProbe).map(p => s"_cands_$p").mkString(", ")
    joined
      .withColumn("_top", expr(
        s"""slice(array_sort(transform(
           |  filter(flatten(filter(array($lists), a -> a IS NOT NULL)),
           |         c -> c.n_id != vec_id),
           |  c -> struct(round(aggregate(sequence(0, ${m - 1}),
           |         CAST(0.0 AS DOUBLE), (acc, s) -> acc + element_at(_tbl,
           |           s * $codeK + CAST(element_at(c.codes, s + 1) AS INT) + 1)),
           |         6) AS d2,
           |       c.n_id AS n_id, c.cid AS cid))), 1, $k)""".stripMargin))
      .select(col("vec_id").as("q_id"),
        posexplode(col("_top")).as(Seq("_pos", "_c")))
      .select(col("q_id"), (col("_pos") + 1).cast("long").as("rank"),
        col("_c.n_id").as("n_id"), col("_c.cid").as("centroid_id"),
        col("_c.d2").as("adc_dist2"))
  }

  /** Streaming DSIR scoring: each arriving doc scores against a FIXED
    * λ model ([[graft.ext.TextStats.trainDsirModel]], usually reloaded
    * from a [[graft.ext.TextStats.writeDsirModel]] snapshot) — the
    * production "does this crawl batch look like the target
    * distribution?" filter. `dsirScoreNarrow` is one stateless narrow
    * projection (the λ array rides the plan as a literal; no explode,
    * no join, no aggregate, no state), so it composes onto a stream
    * unchanged and verdicts are bit-identical to the batch scorer on
    * the same model (Ext3Spec pins narrow ≡ relational; StreamsSpec
    * pins stream ≡ batch). `docs` needs (doc_id, text). */
  def dsirScore(docs: DataFrame,
      model: graft.ext.TextStats.DsirModel): DataFrame =
    graft.ext.TextStats.dsirScoreNarrow(docs, model)

  /** Quality-classifier scoring on a stream: the compiled-narrow scorer
    * is stateless (weights are a literal, the milli sum one expression),
    * so micro-batch results are bit-identical to the batch scorer —
    * train/load once ([[graft.ext.Classifier.loadQcModel]]), score
    * forever. */
  def qcScore(docs: DataFrame,
      model: graft.ext.Classifier.QcModel): DataFrame =
    graft.ext.Classifier.qcScoreNarrow(docs, model)

  /** Multi-class NB classification on a stream (language-ID / domain
    * attribution at arrival latency): the compiled `nb_classify`
    * scorer is stateless — the dense model rides the plan as a
    * reference object, the argmax is one per-row pass — so micro-batch
    * verdicts are bit-identical to the batch scorer
    * ([[graft.ext.Classifier.nbClassifyNarrow]]; StreamsSpec pins
    * stream ≡ batch). Train or reload once
    * ([[graft.ext.Classifier.trainNbModel]] /
    * [[graft.ext.Classifier.loadNbModel]]), classify forever. */
  def nbClassify(docs: DataFrame,
      model: graft.functions.NbModel): DataFrame =
    graft.ext.Classifier.nbClassifyNarrow(docs.sparkSession, docs, model)

  /** Fixed-grid semantic cluster assignment on a stream: the
    * [[graft.ext.Similarity.assignFixed]] argmin is stateless (the
    * centroid grid rides the plan as a literal, distances are compiled
    * `dot64` calls), so each arriving embedding batch is routed to its
    * cluster with zero joins or state, bit-identical to the batch
    * assignment — the streaming front half of cluster-balanced intake
    * (cap enforcement stays a batch/compaction concern; a per-cluster
    * running count would be a 16-row mapGroupsWithState if needed). */
  def assignFixed(emb: DataFrame, k: Int = 16, dims: Int = 64): DataFrame =
    graft.ext.Similarity.assignFixed(emb.sparkSession, emb, k, dims)
      .select(col("vec_id"), col("centroid"))

  /** Bloom decontamination on a stream: the compiled probe
    * ([[graft.functions.BloomDecontam]]) is stateless — the benchmark
    * bit set rides the plan as a reference object, so each arriving
    * crawl batch is flagged without a join, an explode, or state, and
    * verdicts are bit-identical to the batch filter (SketchesSpec pins
    * narrow ≡ relational; StreamsSpec pins stream ≡ batch). Build the
    * bit set once from the eval corpus
    * ([[graft.ext.Sketches.bloomBitsArray]]). `docs` needs
    * (doc_id, text). */
  def bloomDecontam(docs: DataFrame,
      model: graft.functions.BloomModelRef): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
    graft.functions.BloomDecontam.register(docs.sparkSession, model)
    docs.select(col("doc_id"),
      coalesce(expr("bloom_decontam(text)"), lit(false)).as("bloom_hit"))
  }

  /** Streaming IVF index intake — the stream half of the
    * build-once/append-many ANN story: arriving embedding batches are
    * assigned against the PERSISTED centroid table
    * ([[graft.ext.Similarity.assignToIndex]] — k-bounded centroids ride
    * as a literal, stateless fully-narrow per batch, zero joins/state)
    * and come back as (n_id, vn, nn, centroid_id) rows ready to sink
    * into the index's `centroid_id=` partitions
    * (`writeStream.partitionBy("centroid_id").format("parquet")`), so
    * probe-time partition pruning keeps working over a live-growing
    * index. Bit-equal to the batch [[graft.ext.Similarity.appendIvfIndex]]
    * assignment (StreamsSpec pins stream ≡ batch). The centroid set is
    * pinned at stream start — restart after a centroid retrain. */
  def ivfIntake(spark: org.apache.spark.sql.SparkSession, emb: DataFrame,
      indexPath: String): DataFrame =
    graft.ext.Similarity.assignToIndex(spark, emb, indexPath)

  /** Streaming near-dup intake against a persisted IVF index — the
    * stream twin of [[graft.ext.Similarity.nearDupPairsAnn]]'s verify
    * stage for the crawl-intake question "is this arriving vector a
    * near-duplicate of anything already indexed?": each arrival is
    * assigned to its best cell ([[ivfIntake]]'s stateless narrow
    * assignment, the pinned-centroid contract), joins that ONE cell's
    * member list (the [[annEnrich]] reshape-once discipline: the
    * static side reshapes once per index into one row per cell and is
    * reused every micro-batch), and emits a row per indexed member
    * whose 4-dp-rounded cosine clears `threshold` — (a_id = arrival,
    * b_id = seen member, centroid_id, cosine, keep_id = smaller id),
    * nearDupPairsAnn's output contract. A zero norm product is NaN
    * (never an ANSI 0/0 throw) and NaN clears no threshold; an
    * arrival equal-id to an indexed row is excluded (the self-pair
    * filter). Stateless stream-static: one unique-cell-key inner
    * join, no state store, no watermark latency. StreamsSpec pins
    * stream ≡ an independently-written batch reference over the same
    * definition. */
  def nearDupIntake(spark: SparkSession, emb: DataFrame, indexPath: String,
      threshold: Double, maxCluster: Int = Int.MaxValue): DataFrame = {
    require(maxCluster >= 1, s"maxCluster=$maxCluster must be >= 1")
    graft.functions.Functions.registerAll(spark)
    val assigned = spark.read.parquet(s"$indexPath/assigned")
    // hot-cell guard, the batch twin's (nearDupPairsAnn →
    // capHotClusters) conservative semantics on the STATIC side: a
    // boilerplate mega-cell would otherwise collect into one multi-GB
    // row and pair every arrival against its full membership. Cells
    // over the cap are excluded from the static side ENTIRELY (whole
    // cell, deterministic — kept cells' verdicts bit-identical), and
    // the census that decides it is one metadata-scale aggregate over
    // the assigned table at stream start — read the same aggregate to
    // observe what a cap would drop before picking one.
    val underCap =
      if (maxCluster == Int.MaxValue) assigned
      else assigned.join(
        broadcast(assigned.groupBy(col("centroid_id"))
          .agg(count(lit(1)).as("_csize"))
          .filter(col("_csize") <= maxCluster)
          .select(col("centroid_id"))),
        Seq("centroid_id"))
    // staticSide: census + reshape over the whole assigned table; key-
    // partitioned + sorted (the hammingProbed finding)
    val cells = staticSide(underCap
      .groupBy(col("centroid_id"))
      .agg(collect_list(
        struct(col("n_id"), col("vn"), col("nn"))).as("cands"))
      .repartition(col("centroid_id"))
      .sortWithinPartitions(col("centroid_id")))
    graft.ext.Similarity.assignToIndex(spark, emb, indexPath)
      .join(cells, Seq("centroid_id"))
      .withColumn("_hits", expr(
        s"""filter(transform(cands, c ->
           |  struct(c.n_id AS b_id,
           |         CASE WHEN nn * c.nn = 0.0 THEN CAST('NaN' AS DOUBLE)
           |              ELSE round(dot64(vn, c.vn) / (nn * c.nn), 4)
           |         END AS cosine)),
           |  h -> h.b_id != n_id
           |    AND h.cosine >= CAST($threshold AS DOUBLE))""".stripMargin))
      .select(col("n_id").as("a_id"), col("centroid_id"),
        explode(col("_hits")).as("h"))
      .select(col("a_id"), col("h.b_id").as("b_id"), col("centroid_id"),
        col("h.cosine").as("cosine"),
        least(col("a_id"), col("h.b_id")).as("keep_id"))
  }

  /** Streaming Hamming near-dup intake against a persisted
    * [[graft.ext.Dedup.writeHammingIndex]] directory — the stream twin
    * of [[graft.ext.Dedup.hammingIntake]] for content signatures
    * (perceptual image hashes, SimHash) at either width: each arriving
    * `(doc_id, packed)` or `(doc_id, lo, hi)` row checks its four bands
    * against the index's band buckets and emits (a_id = arrival,
    * b_id = indexed, hamming) for every indexed signature within
    * `maxDist`.
    *
    * Stateless stream-static ([[annEnrich]]'s discipline): the
    * signature table reshapes ONCE per index into one row per
    * under-cap (band, bval) bucket (over-cap buckets — the
    * solid-color/boilerplate case, sized by the PERSISTED census — are
    * dropped statically, the batch form's guard), the stream side
    * takes four unique-key left joins (one per band), and one
    * expression concatenates the probed buckets, DEDUPES pairs that
    * share several bands (`array_distinct` — a streaming `distinct`
    * would need a state store; this needs none), drops self-ids and
    * verifies the exact `bit_count` distance. Ext5Spec and StreamsSpec
    * pin stream ≡ the batch intake at 64 and 128 bits. */
  def hammingIntake(spark: SparkSession, sigStream: DataFrame,
      indexPath: String, maxDist: Int = 3, maxBucket: Int = 0): DataFrame = {
    val w = graft.ext.Dedup.HammingWidth.of(sigStream)
    hammingProbed(spark, w, sigStream.select(w.columns: _*), indexPath,
        maxDist, maxBucket)
      .select((col("doc_id").as("a_id") +: w.sigCols.map(col)) :+
        explode(col("_hits")).as("m"): _*)
      .select(col("a_id"), col("m.doc_id").as("b_id"),
        expr(s"CAST(${w.distance(identity, c => s"m.$c")} AS BIGINT)")
          .as("hamming"))
  }

  /** The shared stream-static probe behind [[hammingIntake]] (pair
    * emission) and [[hammingIntakeAdmit]] (admission verdict): input
    * columns pass through untouched plus a `_hits` array of the
    * indexed signatures within `maxDist` (empty = no near-dup seen).
    * The stream's width must be the index's (checked against the
    * `sigs` schema before anything is planned). Extra input columns
    * (event time for the admit form's watermarked dedup) ride along —
    * every added column is a plain projection or unique-key left
    * join, all stateless. The census is read by aggregating its
    * partials (a folded 64-bit census is the one-partial case): one
    * batch aggregate at stream setup, amortized over every
    * micro-batch. */
  private def hammingProbed(spark: SparkSession,
      w: graft.ext.Dedup.HammingWidth, sigStream: DataFrame,
      indexPath: String, maxDist: Int, maxBucket: Int): DataFrame = {
    graft.ext.Dedup.requirePigeonhole(maxDist)
    require(maxBucket >= 0,
      s"maxBucket=$maxBucket must be >= 1, or 0 to derive from the census")
    val seen = graft.ext.Dedup.indexSigs(spark, w, indexPath)
    // maxBucket = 0 → the batch form's census-derived cap (free: the
    // census is persisted; the static side is built once per stream)
    val cap = if (maxBucket == 0)
      graft.ext.Dedup.deriveCap(spark, w, indexPath) else maxBucket
    val small = Tables.read(spark, s"$indexPath/bsize")
      .groupBy(col("band"), col("bval")).agg(sum(col("n")).as("n"))
      .filter(col("n") <= cap).select(col("band"), col("bval"))
    // staticSide: a stream-static join re-evaluates the static plan on
    // EVERY micro-batch — without the persist, each trigger would
    // re-scan the whole signature table and rebuild the bucket lists,
    // turning the "built once per stream" contract into per-batch
    // O(index) work (cache-discipline note at the top of this object;
    // release with [[releaseStaticSides]] after stopping the stream).
    // The cache is REPARTITIONED + SORTED ON THE JOIN KEY before it
    // persists: exchange reuse does not span micro-batches, so an
    // unpartitioned cache would still be shuffled and sorted per band
    // per trigger — measured DOMINANT over the regroup it saves
    // (BENCH_sfe.md, "Stream-static probe-cache A/B"). Cached partitioning/ordering
    // propagate through the per-band filter and the alias projection,
    // so each trigger's sort-merge joins exchange only the micro-batch
    // side; the cached side contributes a columnar scan and nothing
    // else. The census aggregate above is part of this static plan, so
    // it too runs once per stream.
    val buckets = staticSide(w.bands(seen)
      .join(small, Seq("band", "bval"))
      .groupBy(col("band"), col("bval"))
      .agg(collect_list(struct(w.columns: _*)).as("ms"))
      .repartition(col("bval"))
      .sortWithinPartitions(col("bval")))
    val base = sigStream.withColumn("_b", expr(w.bandSql))
    val joined = (0 until 4).foldLeft(base) { (df, b) =>
      df.withColumn(s"_bv_$b", expr(s"_b[$b]"))
        .join(buckets.filter(col("band") === b)
            .select(col("bval").as(s"_bv_$b"), col("ms").as(s"_ms_$b")),
          Seq(s"_bv_$b"), "left_outer")
    }
    val lists = (0 until 4).map(b => s"_ms_$b").mkString(", ")
    joined
      .withColumn("_hits", expr(
        s"""filter(array_distinct(
           |         flatten(filter(array($lists), a -> a IS NOT NULL))),
           |  m -> m.doc_id != doc_id
           |    AND ${w.distance(identity, c => s"m.$c")} <= $maxDist)"""
          .stripMargin))
      .drop("_b" +: (0 until 4).flatMap(b => Seq(s"_bv_$b", s"_ms_$b")): _*)
  }

  /** Streaming ADMISSION against a persisted Hamming index — the
    * stream twin of [[graft.ext.Dedup.hammingIntakeAdmit]] and the
    * media arm of [[crawlIntakeMixed]]: arrivals `(doc_id, ts,
    * packed)` or `(doc_id, ts, lo, hi)` dedup exactly within the
    * stream (first arrival per identical signature wins —
    * `dropDuplicatesWithinWatermark` over the signature columns, the
    * [[crawlIntake]] URL-stage discipline; ONE watermark-bounded
    * state), then survivors with an empty indexed-hit list admit
    * (stateless stream-static probe). Rows with a NULL signature
    * column drop. Output: the admitted rows, same columns. StreamsSpec
    * pins stream ≡ batch admits on ordered micro-batches. */
  def hammingIntakeAdmit(spark: SparkSession, sigStream: DataFrame,
      indexPath: String, watermark: String = "10 minutes",
      maxDist: Int = 3, maxBucket: Int = 0): DataFrame = {
    val w = graft.ext.Dedup.HammingWidth.of(sigStream)
    val deduped = sigStream
      .select((Seq("doc_id", "ts") ++ w.sigCols).map(col): _*)
      .filter(w.notNull)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(w.sigCols)
    hammingProbed(spark, w, deduped, indexPath, maxDist, maxBucket)
      .filter(size(col("_hits")) === 0)
      .drop("_hits")
  }

  /** Streaming image admission — [[hammingIntakeAdmit]] fed by
    * per-micro-batch decode + perceptual hash (`(media_id, ts,
    * payload)` in, admitted `(media_id, ts, packed)` out). The hash is
    * [[graft.multimodal.Multimodal.imageHashes]]' exact per-row core
    * ([[graft.multimodal.Multimodal.hashPayload]] — shared code, not a
    * re-implementation), run as a stateless narrow map: bytes never
    * leave the executor, undecodable payloads drop, and the indexed
    * corpus is never re-decoded. */
  def imageIntakeAdmit(spark: SparkSession, media: DataFrame,
      indexPath: String, watermark: String = "10 minutes",
      maxDist: Int = 3, maxBucket: Int = 0, useAhash: Boolean = false,
      maxPixels: Long = graft.multimodal.Multimodal.DefaultMaxPixels)
      : DataFrame = {
    import spark.implicits._
    val hashed = media.select(col("media_id"), col("ts"), col("payload"))
      .as[(Long, java.sql.Timestamp, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, ts, payload) =>
          val (dh, ah) = graft.multimodal.Multimodal.hashPayload(payload, maxPixels)
          (id, ts, if (useAhash) ah else dh)
        }
      }.toDF("doc_id", "ts", "packed")
    hammingIntakeAdmit(spark, hashed, indexPath, watermark, maxDist, maxBucket)
      .select(col("doc_id").as("media_id"), col("ts"), col("packed"))
  }

  /** Streaming 128-bit image admission — [[hammingIntakeAdmit]] fed
    * by per-micro-batch decode + BOTH perceptual hashes (`(media_id,
    * ts, payload)` in, admitted `(media_id, ts, lo, hi)` out;
    * lo = dHash, hi = aHash — [[graft.multimodal.Multimodal
    * .imageIntakeAdmit128]]'s signature). The hash is [[graft
    * .multimodal.Multimodal.hashPayload]] — the batch arm's exact
    * per-row core — as a stateless narrow map: bytes never leave the
    * executor, undecodable payloads drop, the indexed corpus is never
    * re-decoded. */
  def imageIntakeAdmit128(spark: SparkSession, media: DataFrame,
      indexPath: String, watermark: String = "10 minutes",
      maxDist: Int = 3, maxBucket: Int = 0,
      maxPixels: Long = graft.multimodal.Multimodal.DefaultMaxPixels)
      : DataFrame = {
    import spark.implicits._
    val hashed = media.select(col("media_id"), col("ts"), col("payload"))
      .as[(Long, java.sql.Timestamp, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, ts, payload) =>
          val (dh, ah) = graft.multimodal.Multimodal.hashPayload(payload, maxPixels)
          (id, ts, dh, ah)
        }
      }.toDF("doc_id", "ts", "lo", "hi")
    hammingIntakeAdmit(spark, hashed, indexPath, watermark, maxDist,
        maxBucket)
      .select(col("doc_id").as("media_id"), col("ts"), col("lo"), col("hi"))
  }

  /** MIXED-increment crawl intake at arrival latency — the stream twin
    * of [[graft.ext.Corpus.crawlIntakeMixed]]: text arrivals through
    * [[crawlIntake]]'s admission chain, media arrivals through
    * [[imageIntakeAdmit]]'s decode-once hash + index probe. Returns
    * `(admittedDocs, admittedMedia)` — two independent streaming
    * frames (start a query per arm; no cross-modal state). Total
    * state: crawlIntake's two watermark-bounded dedups + the media
    * arm's one signature dedup. */
  def crawlIntakeMixed(spark: SparkSession, docs: DataFrame,
      snapshot: DataFrame, media: DataFrame, imageIndexPath: String,
      watermark: String = "10 minutes", bands: Int = 4,
      maxBucket: Int = 10, threshold: Double = 0.7, maxDist: Int = 3,
      useAhash: Boolean = false): (DataFrame, DataFrame) =
    (crawlIntake(spark, docs, snapshot, watermark, bands, maxBucket, threshold),
     imageIntakeAdmit(spark, media, imageIndexPath, watermark, maxDist,
       maxBucket = 0, useAhash = useAhash))

  /** [[crawlIntakeMixed]] with the media arm on the 128-BIT combined
    * signature — the stream twin of [[graft.ext.Corpus
    * .crawlIntakeMixed128]]: text arrivals through [[crawlIntake]]'s
    * admission chain, media arrivals through [[imageIntakeAdmit128]]'s
    * decode-once dual hash + non-saturating index probe. Same state
    * budget as the 64-bit form (the media dedup keys two columns
    * instead of one). */
  def crawlIntakeMixed128(spark: SparkSession, docs: DataFrame,
      snapshot: DataFrame, media: DataFrame, imageIndexPath: String,
      watermark: String = "10 minutes", bands: Int = 4,
      maxBucket: Int = 10, threshold: Double = 0.7, maxDist: Int = 3)
      : (DataFrame, DataFrame) =
    (crawlIntake(spark, docs, snapshot, watermark, bands, maxBucket, threshold),
     imageIntakeAdmit128(spark, media, imageIndexPath, watermark, maxDist,
       maxBucket = 0))

  final case class CmsTok(source: String, word: String)

  /** Running per-source Count–Min frequency tracking on a stream: the
    * depth×width grid ([[graft.functions.CmsSketch]]) as
    * mapGroupsWithState state — 32 KB per source, period — emitting
    * the current estimate for each `watch`ed token per trigger. Counts
    * are add-mergeable, so after any sequence of micro-batches each
    * estimate is BIT-IDENTICAL to the batch `cms_sketch` grid over
    * everything seen (StreamsSpec pins stream ≡ batch); the cell
    * arithmetic is shared with the aggregate via [[CmsSketch.cell]],
    * so the two paths cannot diverge. The standard streaming
    * frequency monitor: no token map, no growth, one-sided error.
    * Run with OutputMode.Update. */
  def cmsTrack(docs: DataFrame, watch: Seq[String],
      depth: Int = 4, width: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val watchArr = watch.toArray
    docs
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .as[CmsTok]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (src: String, toks: Iterator[CmsTok],
         state: GroupState[Array[Long]]) =>
          val grid = state.getOption.getOrElse(new Array[Long](depth * width))
          val md = graft.functions.CmsSketch.digest.get()
          toks.foreach { t =>
            md.reset()
            val h = md.digest(t.word.getBytes("UTF-8"))
            var r = 0
            while (r < depth) {
              grid(r * width + graft.functions.CmsSketch.cell(h, r, width)) += 1L
              r += 1
            }
          }
          state.update(grid)
          watchArr.iterator.map { w =>
            md.reset()
            val h = md.digest(w.getBytes("UTF-8"))
            var est = Long.MaxValue
            var r = 0
            while (r < depth) {
              val c = grid(r * width + graft.functions.CmsSketch.cell(h, r, width))
              if (c < est) est = c
              r += 1
            }
            (src, w, est)
          }
      }
      .toDF("source", "word", "cms_est")
  }

  final case class HistVal(g: String, b: Int)

  /** Running histogram quantiles for a CONTINUOUS column on a stream —
    * [[graft.ext.Corpus.histQuantiles]]'s fixed-range equi-width
    * histogram as mapGroupsWithState state: `bins` longs per group,
    * period (the cmsTrack pattern — |groups|×bins state forever, no
    * per-value growth). Bin counts are add-mergeable, so after any
    * sequence of micro-batches each emitted row is BIT-IDENTICAL to
    * the batch histQuantiles over everything seen (StreamsSpec pins
    * stream ≡ batch): the bin index is the same clamped
    * floor((v−lo)/width) arithmetic, the rank condition the same
    * pure-integer `cum·100 ≥ n·p`, and the reported edge the same
    * `(b+1)·width + lo` IEEE expression. Emits (group, n, p…) per
    * group per trigger; run with OutputMode.Update. */
  def histQuantiles(df: DataFrame, value: org.apache.spark.sql.Column,
      groupCol: String, lo: Double, width: Double, bins: Int = 256,
      ps: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(bins >= 1 && width > 0, s"bins=$bins width=$width")
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100),
      s"percents out of range: $ps")
    val spark = df.sparkSession
    import spark.implicits._
    val psArr = ps.toArray
    // null values dropped up front — same contract as the batch form
    // (without the filter a null bin index hits HistVal's non-nullable
    // Int field and crashes the stream at runtime, where batch would
    // silently fold the null group into the counts: stream ≡ batch
    // requires BOTH to exclude nulls)
    df.filter(value.isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        least(greatest(floor((value - lo) / width), lit(0.0)),
          lit((bins - 1).toDouble)).cast("int").as("b"))
      .as[HistVal]
      .groupByKey(_.g)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (g: String, vals: Iterator[HistVal], state: GroupState[Array[Long]]) =>
          val h = state.getOption.getOrElse(new Array[Long](bins))
          vals.foreach(v => h(v.b) += 1L)
          state.update(h)
          val n = h.sum
          val qs = psArr.map { p =>
            var cum = 0L
            var i = 0
            var out = Double.NaN
            while (i < bins && out.isNaN) {
              cum += h(i)
              // the batch form's pure-integer rank condition and exact
              // dyadic edge arithmetic, verbatim
              if (cum * 100 >= n * p) out = (i + 1) * width + lo
              i += 1
            }
            out
          }
          (g, n, qs.toSeq)
      }
      .select(col("_1").as(groupCol) +: col("_2").as("n") +:
        psArr.toSeq.zipWithIndex.map { case (p, i) =>
          col("_3").getItem(i).as(s"p$p") }: _*)
  }

  final case class HllTok(source: String, bkt: Int, rho: Int)

  /** Running per-source distinct-token estimate on a stream — the HLL
    * register table ([[graft.ext.Sketches.hllDistinct]]) as
    * mapGroupsWithState state: 256 BYTES per source, period. Registers
    * are max-mergeable, so the running estimate after any sequence of
    * micro-batches is BIT-IDENTICAL to the batch estimator over
    * everything seen (StreamsSpec pins stream ≡ batch) — the property
    * that makes HLL the streaming cardinality monitor: no token set,
    * no distinct state, no growth. Emits (source, hll_est) per group
    * per trigger; run with OutputMode.Update. */
  def hllDistinct(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .select(col("source"),
        conv(substring(md5(col("w")), 1, 2), 16, 10).cast("int").as("bkt"),
        conv(substring(md5(col("w")), 3, 10), 16, 10).cast("long").as("sfx"))
      .select(col("source"), col("bkt"),
        when(col("sfx") === 0, lit(41))
          .otherwise(lit(41) - length(bin(col("sfx"))))
          .cast("int").as("rho"))
      .as[HllTok]
      .groupByKey(_.source)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (src: String, toks: Iterator[HllTok],
         state: GroupState[(Array[Byte], Long)]) =>
          val (regs, seen) = state.getOption.getOrElse(
            (new Array[Byte](256), 0L))
          var n = seen
          toks.foreach { t =>
            if (t.rho > regs(t.bkt)) regs(t.bkt) = t.rho.toByte
            n += 1
          }
          state.update((regs, n))
          (src, n, Streams.hllEstimate(regs))
      }
      .toDF("source", "n_tokens", "hll_est")
  }

  /** The batch estimator ([[graft.ext.Sketches.hllDistinct]]) on a
    * register array — the SAME constants, integer harmonic sum, and
    * 4-dp HALF_UP round (Spark's `round` is BigDecimal HALF_UP), so
    * streaming estimates equal batch estimates bitwise. */
  private[streaming] def hllEstimate(regs: Array[Byte]): Double = {
    var s = 0L
    var v = 0
    var i = 0
    while (i < 256) {
      if (regs(i) == 0) v += 1
      s += 1L << (41 - regs(i))
      i += 1
    }
    val raw = graft.ext.Sketches.HllEstScale / s.toDouble
    val est =
      if (v > 0 && raw <= 640.0) 256.0 * math.log(256.0 / v) else raw
    new java.math.BigDecimal(est)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
  }

  def latestStatus(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.as[SimEvent]
      .groupByKey(_.sim_hash)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (hash: String, evs: Iterator[SimEvent], state: GroupState[SimState]) =>
          val cur = state.getOption.getOrElse(SimState(hash, "CREATED", 0L))
          val next = evs.toSeq.sortBy(_.seq).foldLeft(cur) { (st, ev) =>
            val legal = graft.pumle.Catalog.Status.transitions
              .getOrElse(st.status, Set.empty)
            if (legal.contains(ev.status))
              SimState(hash, ev.status, st.transitions + 1)
            else st
          }
          state.update(next)
          next
      }
      .toDF()
  }
}
