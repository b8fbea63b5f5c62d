package graft.pumle

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Throughput probe at the reference's REAL per-sim scale: the
  * UNISIM-I-D grid (81×58×20 = 93,960 cells) × 24 timesteps × 3 fields
  * ≈ 6.8M golden cell-state rows per simulation (BASELINE.md). Sims are
  * embarrassingly parallel (partitioned by sim_hash), so per-sim
  * throughput × executor count is the cluster throughput — this probe
  * is the honest single-node number 100 TB planning starts from.
  *
  * Bronze is synthesized in-memory (generated columns, no disk JSON) so
  * the probe measures the gather→golden→QA pipeline, not the JSON
  * parser. Run: sbt "runMain graft.pumle.ScaleProbe [nSims]"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val onlyWinnowPrune = args.headOption.contains("winnow-prune")
    val onlyHamming = args.headOption.contains("hamming-intake") ||
      args.headOption.contains("hamming128") ||
      args.headOption.contains("hamming128-intake") ||
      args.headOption.contains("winnow-tracked") ||
      args.headOption.contains("nb") ||
      args.headOption.contains("stream-static")
    val nSims = if (onlyWinnowPrune || onlyHamming) 4
      else args.headOption.map(_.toInt).getOrElse(4)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 131072)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    if (onlyWinnowPrune) {
      winnowMergePruneCensus(spark)
      spark.stop()
      return
    }
    if (args.headOption.contains("hamming-intake")) {
      hammingIntakeCensus(spark,
        args.lift(1).map(_.toLong).getOrElse(2000000L))
      spark.stop()
      return
    }
    if (args.headOption.contains("hamming128")) {
      hamming128BatchCensus(spark,
        args.lift(1).map(_.toLong).getOrElse(2000000L))
      spark.stop()
      return
    }
    if (args.headOption.contains("hamming128-intake")) {
      hamming128IntakeCensus(spark,
        args.lift(1).map(_.toLong).getOrElse(2000000L))
      spark.stop()
      return
    }
    if (args.headOption.contains("winnow-tracked")) {
      winnowTrackedCensus(spark,
        args.lift(1).getOrElse("/tmp/sf2"))
      spark.stop()
      return
    }
    if (args.headOption.contains("nb")) {
      nbCensus(spark, args.lift(1).map(_.toLong).getOrElse(5000000L))
      spark.stop()
      return
    }
    if (args.headOption.contains("stream-static")) {
      streamStaticCensus(spark, args.lift(1).map(_.toLong).getOrElse(2000000L))
      spark.stop()
      return
    }

    // probe artifacts are tens of GB at the 10M decades — delete each
    // section's directory once its numbers are printed, or repeated
    // probe runs fill the disk (observed: 35 GB leaked per run)
    def rmTemp(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }

    val (ii, jj, kk) = (81, 58, 20)
    val nCells = ii * jj * kk
    val nT = 24

    // synthetic silver: (sim_hash, t, cell_idx, pressure, sw, sg) for
    // nSims × 24 × 93,960 rows, one generated partition per (sim, t)
    val silver = spark.range(0, nSims.toLong * nT, 1, nSims * 4)
      .select(
        format_string("%08x", (col("id") / nT).cast("int")).as("sim_hash"),
        (col("id") % nT).cast("int").as("t"))
      .withColumn("cell_idx", explode(sequence(lit(0), lit(nCells - 1))))
      .withColumn("pressure",
        lit(200.0) + pmod(col("cell_idx").cast("long") * 7919L, lit(1000L)) / 10.0)
      .withColumn("sg",
        pmod(col("cell_idx").cast("long") * 104729L + col("t"), lit(100L)) / 100.0)
      .withColumn("sw", lit(1.0) - col("sg"))

    val t0 = System.nanoTime()
    val golden = Pipeline.golden(silver, (ii, jj, kk))
    val qa = Pipeline.describeGolden(golden).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    val rows = nSims.toLong * nT * nCells * 3
    println(f"[probe] sims=$nSims rows=${rows / 1e6}%.1fM golden+QA in $secs%.1fs " +
      f"= ${rows / secs / 1e6}%.1fM rows/s (${qa.length} QA rows)")

    // plume query over the golden long form (the SURVEY §7.2 flagship)
    val t1 = System.nanoTime()
    val plume = golden
      .filter(col("field") === "gas_saturation" && col("t") === nT - 1 &&
        col("value") > 0.75)
      .count()
    println(f"[probe] plume query (sg>0.75, final t): $plume cells in ${(System.nanoTime() - t1) / 1e9}%.1fs")

    // dedup path at volume: 200k synthetic ~300-char docs through the
    // minhash48 signature + LSH banding (the 100 TB near-dup pipeline)
    val nDocs = 200000
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      // ~25% of docs share a text with id-1 → real near-dup signal
      concat_ws(" ", (0 until 40).map(w =>
        concat(lit(s"w$w"), pmod(col("id") - (col("id") % 4) / 3 + w, lit(997)))): _*)
        .as("text"))
    val t2 = System.nanoTime()
    val cands = graft.ext.Dedup.lshCandidates(spark, docs).count()
    val secs2 = (System.nanoTime() - t2) / 1e9
    println(f"[probe] dedup: $nDocs%d docs → $cands candidate pairs in $secs2%.1fs " +
      f"= ${nDocs / secs2 / 1000}%.0fk docs/s")

    // sampling/packing at volume: 1M docs through deterministic split +
    // per-shard context-window packing (narrow + shard-local window)
    val nDocs3 = 1000000
    val docs3 = spark.range(nDocs3).select(
      col("id").as("doc_id"),
      concat(lit("src"), pmod(col("id"), lit(64))).as("source"),
      concat_ws(" ", (0 until 12).map(w =>
        concat(lit(s"t$w"), pmod(col("id") + w, lit(4093)))): _*).as("text"))
    val t3 = System.nanoTime()
    val packed = graft.ext.Sampling.packSequences(
      graft.ext.Sampling.hashSplit(docs3).filter(col("split") === "train"),
      budget = 2048)
    val nBins = packed.agg(countDistinct(col("source"), col("bin"))).head().getLong(0)
    val secs3 = (System.nanoTime() - t3) / 1e9
    println(f"[probe] split+pack: $nDocs3%d docs → $nBins bins in $secs3%.1fs " +
      f"= ${nDocs3 / secs3 / 1000}%.0fk docs/s")

    // skew guard: 6M docs collapsed into ONE hot shard. The base packer
    // serializes the whole shard through a single window task (and at
    // real shard sizes, spills or OOMs it); packSequencesSalted spreads
    // it over 32 parallel sub-windows and rebases bins — same bin
    // semantics, cluster-usable parallelism.
    val hot = spark.range(6000000).select(
      col("id").as("doc_id"), lit("hot").as("source"),
      concat_ws(" ", (0 until 12).map(w =>
        concat(lit(s"t$w"), pmod(col("id") + w, lit(4093)))): _*).as("text"))
    val tH = System.nanoTime()
    val nbBase = graft.ext.Sampling.packSequences(hot, budget = 2048)
      .agg(countDistinct(col("bin"))).head().getLong(0)
    val secsBase = (System.nanoTime() - tH) / 1e9
    val tS = System.nanoTime()
    val nbSalted = graft.ext.Sampling.packSequencesSalted(hot, budget = 2048, subShards = 32)
      .agg(countDistinct(col("bin"))).head().getLong(0)
    val secsSalted = (System.nanoTime() - tS) / 1e9
    // the scale metric is PER-TASK MEMORY, not sandbox wall-clock: the
    // base window sorts the entire shard inside one task (OOM/spill at
    // real shard sizes), the salted one caps any task at shard/32 —
    // bought with one extra narrow scan for the closed-form rebase
    println(f"[probe] hot-shard pack: base $nbBase bins in $secsBase%.1fs " +
      f"(ALL 6.0M rows in one window task) vs salted $nbSalted bins in " +
      f"$secsSalted%.1fs (≤${6000000 / 32 / 1000}k rows/task)")

    // text sketches at volume: 1M docs through the per-row expression
    // suite (simhash16 + xorfp48 + minhash48 lane 0) — fully narrow,
    // md5-bound; this is the 100 TB text-dedup feature pass
    val t5 = System.nanoTime()
    graft.functions.Functions.registerAll(spark)
    // the aggregate must consume ALL THREE sketch columns — otherwise
    // Catalyst prunes the unreferenced expressions out of the measured
    // plan (the same trap Bench's noop sink exists to avoid)
    val sk = docs3.selectExpr("doc_id", "simhash16(text) AS sh",
      "xorfp48(text) AS fp", "element_at(minhash48(text), 1) AS msh")
      .agg(countDistinct(col("sh")), countDistinct(col("fp")),
        countDistinct(col("msh"))).head()
    val secs5 = (System.nanoTime() - t5) / 1e9
    println(f"[probe] sketches: $nDocs3%d docs × 3 per-row exprs in $secs5%.1fs " +
      f"= ${nDocs3 / secs5 / 1000}%.0fk docs/s " +
      f"(${sk.getLong(0)} simhash / ${sk.getLong(1)} fp / ${sk.getLong(2)} msh values)")

    // quality gate at volume: the NARROW (streaming-safe) composite
    // Gopher gate over the same 1M docs — zero shuffles; per-row cost
    // is the sorted-run aggregation (array_sort + one O(n) aggregate
    // pass per signal — the form that beat the naive O(distinct·n)
    // in-row counting ~4×), which this probe prices.
    // The docs/s here is the honest per-core budget for running the
    // full gate at intake time instead of as a batch aggregate.
    val tG = System.nanoTime()
    val gate = graft.ext.TextStats.gopherFilterNarrow(docs3)
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("kept"),
        countDistinct(col("reason_mask")).as("n_masks")).head()
    val secsG = (System.nanoTime() - tG) / 1e9
    println(f"[probe] narrow gate: $nDocs3%d docs in $secsG%.1fs " +
      f"= ${nDocs3 / secsG / 1000}%.0fk docs/s (${gate.getLong(0)} kept, " +
      f"${gate.getLong(1)} distinct masks)")

    // BPE training at volume: 8 merge iterations over the 1M-doc corpus
    // (~12M words). Each iteration is one pair-count groupBy (map-side
    // combined to ≤|vocab|² rows/task) + TakeOrdered(1) + a narrow
    // rewrite; localCheckpoint keeps lineage one rewrite deep, so
    // per-iteration cost stays constant — the number to verify here.
    val tB = System.nanoTime()
    val bpe = graft.ext.TextStats.bpeTrain(docs3, nMerges = 8)
    val secsB = (System.nanoTime() - tB) / 1e9
    println(f"[probe] bpe train: 8 merges over $nDocs3%d docs in $secsB%.1fs " +
      f"= ${secsB / 8}%.1fs/merge (top merge '${bpe.head._4}' × ${bpe.head._5})")

    // BPE ENCODE at production vocabulary scale: a 1.3k-merge table
    // through the compiled bpe_tokens expression over the 1M-doc
    // corpus. The oracle-replayable chain form is structurally capped
    // (|merges| nested replaces: analyzer/codegen tree depth, plus a
    // full doc-string rewrite per merge — unusable at 1k, let alone a
    // real 32k vocab); bpe_tokens holds the table as one reference
    // object and memoizes per DISTINCT word (the bpeTrain histogram
    // trick without its explode/join-back shuffle), so |merges| never
    // touches plan size and corpus cost is one narrow pass.
    val tE = System.nanoTime()
    val letters = ('a' to 'z').map(_.toString)
    val bigTable = (for (l <- letters; r <- letters) yield (l, r)) ++
      (1 to 700).scanLeft("aa")((acc, _) => acc + "a").sliding(2).map(w => (w(0), "a")).toSeq
    val enc = graft.ext.TextStats.bpeEncodeFast(docs3, bigTable)
      .agg(sum(col("n_tokens"))).head().getLong(0)
    val secsE = (System.nanoTime() - tE) / 1e9
    println(f"[probe] bpe encode: ${bigTable.length}%d merges × $nDocs3%d docs → " +
      f"$enc%d tokens in $secsE%.1fs = ${nDocs3 / secsE / 1000}%.0fk docs/s " +
      f"(chain form structurally capped at ~tens of merges)")

    // FULL corpus dedup at volume: ~1M docs with a 30% planted duplicate
    // rate (10% exact copies + 20% near-dups sharing 38/40 words with
    // their base doc — the realistic web-crawl shape). Drives
    // Dedup.dedupCorpus end to end: content-hash window → minhash-LSH →
    // connected components → UNHINTED left_anti (the round-4 fix: a
    // forced broadcast of a 30%-of-corpus drop set would OOM here).
    // Also proves the single-LSH-evaluation checkpoint and the per-round
    // checkpoint storage release under real volume.
    val nDocs6 = sys.env.getOrElse("SPARK_GRAFT_PROBE_DEDUP_DOCS", "1000000").toInt
    val r6 = col("id") % 10
    val base6 = when(r6.isin(1, 2, 3), col("id") - r6).otherwise(col("id"))
    val tail6 = when(r6 === 1, base6).otherwise(col("id")) // exact dups copy the tail too
    // word = md5(position, source id) prefix — a random-looking vocab, so
    // char-shingle overlap between unrelated docs is nil and the ONLY
    // text collisions are the planted ones (an earlier structured-number
    // vocab aliased unrelated ids into giant accidental clusters — the
    // failure mode dedupCorpus' verify stage exists to stop)
    val docs6 = spark.range(nDocs6).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        (0 until 38).map(w0 => substring(md5(concat(lit(s"$w0:"), base6)), 1, 8)) ++
        (38 until 40).map(w0 => substring(md5(concat(lit(s"$w0:"), tail6)), 1, 8)): _*)
        .as("text"))
    val t6 = System.nanoTime()
    val survivors = graft.ext.Dedup.dedupCorpus(spark, docs6).count()
    val secs6 = (System.nanoTime() - t6) / 1e9
    val storageLeft = spark.sparkContext.getPersistentRDDs.size
    println(f"[probe] dedupCorpus: $nDocs6%d docs (30%% planted dups) → " +
      f"$survivors survivors in $secs6%.1fs = ${nDocs6 / secs6 / 1000}%.0fk docs/s " +
      f"($storageLeft persistent RDDs live after)")

    // incremental dedup at volume: 100k new docs against the 1M-doc
    // seen corpus (the daily-increment path) — 15% exact copies of a
    // seen doc, 15% near-dups of one (38/40 words), 70% fresh
    val nNew = 100000
    val rI = col("id") % 20
    // anchor on a SELF-shaped seen doc (digit 4 → base = tail = own id),
    // so its text is reproducible here as words of that id
    val anchor = (col("id") * 97 % nDocs6) - (col("id") * 97 % nDocs6) % 10 + 4
    val srcHead = when(rI < 6, anchor).otherwise(col("id") + nDocs6)
    val srcTail = when(rI < 3, anchor).otherwise(col("id") + nDocs6)
    val newDocs = spark.range(nNew).select(
      (col("id") + nDocs6).as("doc_id"),
      concat_ws(" ",
        (0 until 38).map(w0 => substring(md5(concat(lit(s"$w0:"), srcHead)), 1, 8)) ++
        (38 until 40).map(w0 => substring(md5(concat(lit(s"$w0:"), srcTail)), 1, 8)): _*)
        .as("text"))
    val t7 = System.nanoTime()
    val kept = graft.ext.Dedup.dedupIncremental(spark, newDocs, docs6).count()
    val secs7 = (System.nanoTime() - t7) / 1e9
    println(f"[probe] dedupIncremental: $nNew%d new vs $nDocs6%d seen → " +
      f"$kept kept (expect ~${(nNew * 0.7).toInt}) in $secs7%.1fs = " +
      f"${nNew / secs7 / 1000}%.0fk new docs/s")

    // bloom-prefiltered exact incremental dedup at the same volume as
    // dedupIncremental's exact stage: the narrow bloom predicate should
    // cut the anti-join's new side to (true dups + fpp·new)
    val t7b = System.nanoTime()
    val keptBloom = graft.ext.Dedup.dedupIncrementalExactBloom(
      spark, newDocs, docs6, expectedSeen = nDocs6.toLong).count()
    val secs7b = (System.nanoTime() - t7b) / 1e9
    println(f"[probe] bloom incremental (exact stage): $nNew%d new vs $nDocs6%d seen → " +
      f"$keptBloom kept in $secs7b%.1fs = ${nNew / secs7b / 1000}%.0fk new docs/s")

    // persisted-snapshot incremental dedup — the production shape: the
    // seen corpus is indexed ONCE (writeIncrementalSnapshot, amortized
    // across every later increment) and each increment reads only that
    // index, so the seen TEXT is scanned zero times per increment
    // (plan-audited in ExtApiSpec). At 100 TB this is the difference
    // between an increment costing O(increment + matched) and paying
    // the full-corpus hash/signature/shingle recompute daily.
    val snapDir = java.nio.file.Files.createTempDirectory("dedup-snap").toString
    val tSnap = System.nanoTime()
    graft.ext.Dedup.writeIncrementalSnapshot(spark, docs6, snapDir)
    val secsSnap = (System.nanoTime() - tSnap) / 1e9
    val snap = spark.read.parquet(snapDir)
    val t7c = System.nanoTime()
    val keptP = graft.ext.Dedup.dedupIncrementalPersisted(spark, newDocs, snap).count()
    val secs7c = (System.nanoTime() - t7c) / 1e9
    println(f"[probe] persisted incremental: index build $secsSnap%.1fs (once per snapshot); " +
      f"$nNew%d new vs the $nDocs6%d-doc INDEX → $keptP kept " +
      f"(recompute path: $kept) in $secs7c%.1fs = ${nNew / secs7c / 1000}%.0fk new docs/s " +
      f"(${secs7 / secs7c}%.1f× the recompute path, seen text scanned 0×)")
    rmTemp(snapDir) // 1.6 GB per run

    // winnow-incremental at BOTH seen-corpus decades (1M and 10M): the
    // recall-floor analogue of the persisted-minhash path. The snapshot
    // is built once per corpus; each 100k increment reads only that
    // index — seen TEXT is scanned zero times, so increment cost grows
    // only with the (columnar, fp-and-hash-wide) index read, never with
    // a seen-text recompute. Both decades are printed so the sublinear
    // growth is a measured number, not a claim.
    def winnowIncRun(nSeen: Int): (Double, Double, Long) = {
      val rS = col("id") % 10
      val bS = when(rS.isin(1, 2, 3), col("id") - rS).otherwise(col("id"))
      val tS = when(rS === 1, bS).otherwise(col("id"))
      val seen = spark.range(nSeen).select(
        col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 38).map(w0 => substring(md5(concat(lit(s"$w0:"), bS)), 1, 8)) ++
          (38 until 40).map(w0 => substring(md5(concat(lit(s"$w0:"), tS)), 1, 8)): _*)
          .as("text"))
      val anc = (col("id") * 97 % nSeen) - (col("id") * 97 % nSeen) % 10 + 4
      val sH = when(col("id") % 20 < 6, anc).otherwise(col("id") + nSeen)
      val sT = when(col("id") % 20 < 3, anc).otherwise(col("id") + nSeen)
      val inc = spark.range(nNew).select(
        (col("id") + nSeen).as("doc_id"),
        concat_ws(" ",
          (0 until 38).map(w0 => substring(md5(concat(lit(s"$w0:"), sH)), 1, 8)) ++
          (38 until 40).map(w0 => substring(md5(concat(lit(s"$w0:"), sT)), 1, 8)): _*)
          .as("text"))
      val dir = java.nio.file.Files.createTempDirectory(s"winnow-idx").toString
      val t0 = System.nanoTime()
      graft.ext.Dedup.writeWinnowIndex(spark, seen, dir)
      val build = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val kept = graft.ext.Dedup.dedupIncrementalWinnowIndexed(spark, inc, dir).count()
      val res = ((System.nanoTime() - t1) / 1e9, build, kept)
      rmTemp(dir) // 17 GB at the 10M decade
      res
    }
    val (wi1, wb1, wk1) = winnowIncRun(1000000)
    val (wi10, wb10, wk10) = winnowIncRun(10000000)
    println(f"[probe] winnow incremental (indexed): $nNew%d new vs 1M-doc index → " +
      f"$wk1%d kept in $wi1%.1fs (index build $wb1%.1fs, once); " +
      f"vs 10M-doc index → $wk10%d kept in $wi10%.1fs (build $wb10%.1fs) — " +
      f"10× the index costs ${wi10 / wi1}%.1f× the increment (seen side " +
      f"only SCANNED: persisted df, broadcast new side; the recount form " +
      f"measured near-linear, 8.8s → 70.1s on the same corpora)")

    winnowMergePruneCensus(spark)

    // unigram-LM scoring at volume over the 1M-doc corpus: histogram
    // pass + broadcast-vocab scoring pass (40 words/doc = 40M tokens)
    val t8 = System.nanoTime()
    val lmRows = graft.ext.TextStats.lmScore(docs6).count()
    val secs8 = (System.nanoTime() - t8) / 1e9
    println(f"[probe] lmScore: $lmRows%d docs (40M tokens) in $secs8%.1fs = " +
      f"${nDocs6 / secs8 / 1000}%.0fk docs/s")

    // as-of join at volume: 5M left events against 5M right events over
    // 100k keys — one hash exchange for the window, no range join
    val nEv = 5000000
    val evL = spark.range(nEv).select(col("id").as("tie"),
      (col("id") % 100000).as("k"), (col("id") * 37 % 1000000).as("ts"),
      col("id").cast("double").as("payload"))
    val evR = spark.range(nEv).select((col("id") + nEv).as("tie"),
      (col("id") % 100000).as("k"), (col("id") * 53 % 1000000).as("ts"),
      (col("id") * 10).cast("double").as("v"))
    val t9 = System.nanoTime()
    // aggregate ON the as-of output column — a bare count() lets Catalyst
    // prune the unused window and measure nothing
    val asofRows = graft.ext.AsOf.joinAsOf(evL, evR, Seq("k"), "ts", "tie", "v")
      .agg(count(col("asof_value"))).head().getLong(0)
    val secs9 = (System.nanoTime() - t9) / 1e9
    println(f"[probe] as-of: $asofRows%d of $nEv%d left rows enriched vs $nEv%d right " +
      f"in $secs9%.1fs = ${2L * nEv / secs9 / 1e6}%.1fM rows/s through one window")

    // star connected components on a DEEP graph: a 200k-node chain
    // (diameter 200k — label propagation would need 100k rounds; the
    // alternating-star variant converges in ~log₂ rounds)
    val chainN = 200000
    val chain = spark.range(chainN - 1).select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
    val t10 = System.nanoTime()
    val comps = graft.ext.Dedup.clustersAltStar(spark, chain)
      .agg(countDistinct(col("cluster_id"))).head().getLong(0)
    val secs10 = (System.nanoTime() - t10) / 1e9
    println(f"[probe] altStar CC: $chainN%d-node chain → $comps component(s) " +
      f"in $secs10%.1fs (log-round convergence where propagation needs ${chainN / 2}%d rounds)")

    // ANN at volume: 100k×64-dim vectors, 100 centroids, ~100 queries
    // through the full IVF probe+rerank path (corpus never shuffled)
    val nVec = 100000
    val emb = spark.range(nVec).select(
      col("id").as("vec_id"),
      expr("""transform(sequence(0, 63), d ->
              | CAST(CAST(pmod(id * (d + 7919), 1000) AS DOUBLE) / 1000.0 - 0.5 AS FLOAT))"""
        .stripMargin).as("embedding"))
    // PQ at volume over the same vectors: train 8×16 codebooks (3 one-
    // job Lloyd iterations), compress 100k×64 floats to 100k×8 codes,
    // ADC-search ~100 queries with per-query distance tables — constant
    // per-candidate work, the memory-bounded ANN path
    val t4b = System.nanoTime()
    val cbs = graft.ext.Similarity.pqCodebooks(spark, emb,
      col("vec_id") % 1000 === 0, m = 8, k = 16, iters = 3)
    val pqCodes = graft.ext.Similarity.pqEncode(spark, emb, cbs)
      .localCheckpoint(true)
    val pqHits = graft.ext.Similarity.pqSearchADC(spark, emb, pqCodes, cbs,
      queryPred = col("vec_id") % 997 === 0, topK = 10).count()
    val secs4b = (System.nanoTime() - t4b) / 1e9
    println(f"[probe] pq: train+encode $nVec%d vecs (64f → 8 codes) + ADC search " +
      f"→ $pqHits results in $secs4b%.1fs = ${nVec / secs4b / 1000}%.0fk vecs/s")

    val t4 = System.nanoTime()
    val topk = graft.ext.Similarity.ivfTopK(spark, emb,
      centroidPred = col("vec_id") % 1000 === 0,
      queryPred = col("vec_id") % 997 === 0,
      nProbe = 4, k = 10).count()
    val secs4 = (System.nanoTime() - t4) / 1e9
    println(f"[probe] ann ivf: $nVec%d vecs, ~100 queries → $topk results " +
      f"in $secs4%.1fs = ${nVec / secs4 / 1000}%.0fk vecs/s assign+probe+rerank")

    // index compaction: the appended index's small-file decay, measured.
    // Build a persisted 100k-vec index, stack 10 crawls of 10k vectors
    // (every append adds files to every assigned cell), probe ~100
    // queries FRAGMENTED, compact, probe again — the probe-time delta
    // and per-cell file counts are the numbers the compaction cadence
    // at 100 TB is planned from. Vectors here are genuinely CLUSTERED
    // (a unit spike at dim id%64 + small noise → 64 balanced cells):
    // the flat generator above collapses into one cell, which measures
    // a mega-cell pathology, not compaction.
    val clustered = (lo: Long, hi: Long) => spark.range(lo, hi).select(
      col("id").as("vec_id"),
      expr("""transform(sequence(0, 63), d ->
              | CAST(CASE WHEN d = pmod(id, 64) THEN 1.0
              |       ELSE CAST(pmod(id * (d + 17), 97) AS DOUBLE) / 1940.0
              |  END AS FLOAT))""".stripMargin).as("embedding"))
    val ivfDir = java.nio.file.Files.createTempDirectory("ivfcompact").toString
    graft.ext.Similarity.writeIvfIndex(spark, clustered(0, nVec),
      col("vec_id") % 1000 === 0, ivfDir, trainIters = 0) // seed build: the probe's decade series is pinned to it
    graft.ext.Similarity.compactIvfIndex(spark, ivfDir)
    for (a <- 0 until 10) {
      graft.ext.Similarity.appendIvfIndex(spark,
        clustered(nVec + a.toLong * 10000, nVec + (a + 1).toLong * 10000),
        ivfDir)
    }
    def cellFiles(dir: String): Seq[Int] = new java.io.File(s"$dir/assigned")
      .listFiles().filter(_.getName.startsWith("centroid_id="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    val queriesIvf = clustered(0, nVec).filter(col("vec_id") % 997 === 0)
    def probeOnce(): Double = {
      val t = System.nanoTime()
      graft.ext.Similarity.ivfTopKIndexed(spark, ivfDir, queriesIvf,
        nProbe = 4, k = 10).count()
      (System.nanoTime() - t) / 1e9
    }
    val filesFrag = cellFiles(ivfDir)
    val probeFrag = math.min(probeOnce(), probeOnce())
    val tCm = System.nanoTime()
    val nComp = graft.ext.Similarity.compactIvfIndex(spark, ivfDir)
    val secsCm = (System.nanoTime() - tCm) / 1e9
    val filesComp = cellFiles(ivfDir)
    val probeComp = math.min(probeOnce(), probeOnce())
    println(f"[probe] ivf compaction: 10 appends → ${filesFrag.sum}%d files " +
      f"over ${filesFrag.length}%d cells (max ${filesFrag.max}%d/cell), " +
      f"probe $probeFrag%.2fs; compacted $nComp%d cells in $secsCm%.1fs → " +
      f"${filesComp.sum}%d files (max ${filesComp.max}%d/cell), " +
      f"probe $probeComp%.2fs (${probeFrag / probeComp}%.1f× faster)")
    rmTemp(ivfDir)

    // per-group cap under REAL skew: 4M docs where one mega-source holds
    // half the corpus. The plain cap drags the whole hot group through
    // one window task; the salted two-phase form bounds every task at
    // n·salts rows — this prices the difference and proves equal output.
    val nCap = 4000000
    val capDocs = spark.range(nCap).select(
      col("id").as("doc_id"),
      when(col("id") % 2 === 0, lit("megasource"))
        .otherwise(concat(lit("s"), pmod(col("id"), lit(512)))).as("source"),
      pmod(col("id") * 2654435761L, lit(100000L)).as("n_chars"))
    val capOrder = Seq(col("n_chars").desc, col("doc_id"))
    val tc1 = System.nanoTime()
    val plainN = graft.ext.Corpus.capPerGroup(capDocs, "source", capOrder, 100).count()
    val secsC1 = (System.nanoTime() - tc1) / 1e9
    val tc2 = System.nanoTime()
    val saltedN = graft.ext.Corpus.capPerGroupSalted(
      capDocs, "source", capOrder, 100).count()
    val secsC2 = (System.nanoTime() - tc2) / 1e9
    require(plainN == saltedN, s"cap variants disagree: $plainN vs $saltedN")
    println(f"[probe] source cap: $nCap%d docs (50%% in one source) → $plainN kept; " +
      f"plain $secsC1%.1fs vs salted $secsC2%.1fs " +
      f"(salted bounds every task at n·salts rows)")

    // overlap chunking at volume: narrow generator, no shuffle — chunk
    // throughput IS scan throughput
    val tc3 = System.nanoTime()
    val nChunks = graft.ext.Corpus.chunkOverlap(docs3, width = 8, stride = 6).count()
    val secsC3 = (System.nanoTime() - tc3) / 1e9
    println(f"[probe] chunk overlap: $nDocs3%d docs → $nChunks chunks in $secsC3%.1fs " +
      f"= ${nDocs3 / secsC3 / 1000}%.0fk docs/s (narrow, zero shuffle)")

    // epoch-order shuffle at volume: 10M ids through the 256-bucket
    // two-phase global rank. The check is the permutation CONTRACT
    // (count = distinct = n, min 0, max n-1) — at real scale no task
    // ever sees more than n/256 rows, where the naive global
    // row_number sort would drag all 10M through one task.
    val nOrd = 10000000L
    val ordDocs = spark.range(nOrd).select(col("id").as("doc_id"))
    val tO = System.nanoTime()
    val ordChk = graft.ext.Corpus.epochOrder(ordDocs, seed = 3L, nShards = 32)
      .agg(count(lit(1)), countDistinct(col("rank")), min(col("rank")),
        max(col("rank"))).head()
    val secsO = (System.nanoTime() - tO) / 1e9
    require(ordChk.getLong(0) == nOrd && ordChk.getLong(1) == nOrd &&
      ordChk.getLong(2) == 0L && ordChk.getLong(3) == nOrd - 1,
      s"epochOrder permutation contract violated: $ordChk")
    println(f"[probe] epoch order: $nOrd%d ids ranked (256-bucket two-phase, " +
      f"dense 0..${nOrd - 1}%d verified) in $secsO%.1fs = " +
      f"${nOrd / secsO / 1e6}%.1fM ids/s")

    // DSIR at volume: 1M docs, 10% target slice. The λ table is
    // bucket-bounded (4096 rows) no matter the corpus; the compiled-
    // narrow scorer then re-reads the corpus ONCE with zero
    // shuffles — train cost is two bounded aggregates, score cost is
    // scan throughput.
    val tD1 = System.nanoTime()
    val dsirModel = graft.ext.TextStats.trainDsirModel(
      docs3, pmod(col("doc_id"), lit(10)) === 0, buckets = 4096)
    val secsD1 = (System.nanoTime() - tD1) / 1e9
    val tD2 = System.nanoTime()
    val dsirN = graft.ext.TextStats.dsirScoreNarrow(docs3, dsirModel)
      .agg(count(lit(1)), sum(col("n_feats"))).head()
    val secsD2 = (System.nanoTime() - tD2) / 1e9
    println(f"[probe] dsir: train λ(4096) over $nDocs3%d docs in $secsD1%.1fs; " +
      f"narrow-score ${dsirN.getLong(0)}%d docs (${dsirN.getLong(1)}%d features) " +
      f"in $secsD2%.1fs = ${nDocs3 / secsD2 / 1000}%.0fk docs/s")

    // contamination ladder at volume: 1M docs vs a 1%-of-corpus eval
    // set, three rungs in one tagged pass. The eval-gram distinct is
    // eval-sized, the semi-join is broadcast — doc-side grams stream.
    val tL = System.nanoTime()
    val ladder = graft.ext.TextStats.contamLadder(
      docs3, pmod(col("doc_id"), lit(100)) === 0)
      .agg(count(lit(1)),
        sum(when(col("contam_depth") > 0, 1L).otherwise(0L))).head()
    val secsL = (System.nanoTime() - tL) / 1e9
    println(f"[probe] contam ladder: ${ladder.getLong(0)}%d raw docs vs 1%% eval, " +
      f"3 rungs in $secsL%.1fs = ${nDocs3 / secsL / 1000}%.0fk docs/s " +
      f"(${ladder.getLong(1)}%d flagged)")

    // covariance at volume: 1M synthetic 64-dim vectors through the
    // compiled cov_moments aggregate — one pass, one buffer per task on
    // the shuffle; d² work per ROW is the whole cost, so throughput is
    // compute-bound and corpus-size-linear.
    val nVecC = 1000000
    val vecs = spark.range(nVecC).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 63), d ->
             |  CAST(pmod(id * 31 + d * 7, 1000) AS FLOAT) / 1000.0)"""
        .stripMargin).as("embedding"))
    val tV = System.nanoTime()
    val nCov = graft.ext.EmbedStats.covariance(vecs).count()
    val secsV = (System.nanoTime() - tV) / 1e9
    require(nCov == 64L * 65L / 2L, s"expected 2080 cov entries, got $nCov")
    println(f"[probe] covariance: $nVecC%d × 64-dim vectors → $nCov upper-tri " +
      f"entries in $secsV%.1fs = ${nVecC / secsV / 1000}%.0fk vecs/s " +
      f"(compiled cov_moments, one buffer per task)")

    // quality classifier at volume: train 10 GD iterations over 1M docs
    // (each iteration = one narrow logit pass + one bucket-bounded
    // gradient agg; the collect is 256 rows/iter), then narrow-score the
    // corpus with the quantized milli model — scan-throughput scoring,
    // zero shuffles, the DSIR deployment shape.
    val tQ1 = System.nanoTime()
    val qcModel = graft.ext.Classifier.trainQcModel(spark, docs3,
      pmod(col("doc_id"), lit(2)) === 0, buckets = 256, iters = 10)
    val secsQ1 = (System.nanoTime() - tQ1) / 1e9
    val tQ2 = System.nanoTime()
    val qcN = graft.ext.Classifier.qcScoreNarrow(docs3, qcModel)
      .agg(count(lit(1)), sum(col("n_tokens"))).head()
    val secsQ2 = (System.nanoTime() - tQ2) / 1e9
    println(f"[probe] qc classifier: 10 GD iters over $nDocs3%d docs in " +
      f"$secsQ1%.1fs; narrow-score ${qcN.getLong(0)}%d docs " +
      f"(${qcN.getLong(1)}%d tokens) in $secsQ2%.1fs = " +
      f"${nDocs3 / secsQ2 / 1000}%.0fk docs/s")

    // int8 SQ at volume: the min/max model is one partial-aggregable
    // pass collected to 64 rows; compact encode is then one narrow
    // expression per row — 256 B/vec down to 64 B. The search side
    // reconstructs on the fly (no decoded corpus materialization).
    val tS1 = System.nanoTime()
    val (sqMn, sqMx) = graft.ext.Similarity.sqMinMax(spark, vecs)
    val secsS1 = (System.nanoTime() - tS1) / 1e9
    val tS2 = System.nanoTime()
    val nCodes = graft.ext.Similarity.sqEncodeCodes(vecs, sqMn, sqMx)
      .agg(count(lit(1))).head().getLong(0)
    val secsS2 = (System.nanoTime() - tS2) / 1e9
    println(f"[probe] int8 sq: min/max model in $secsS1%.1fs; encode " +
      f"$nCodes%d × 64-dim vecs in $secsS2%.1fs = " +
      f"${nVecC / secsS2 / 1000}%.0fk vecs/s (4x compression, narrow)")

    // winnowing at volume: 1M docs fingerprinted in one narrow pass
    // (double let-binding keeps it O(grams·w) per row — the unbound
    // form re-hashed every gram per window, O(grams²) per doc).
    val tW = System.nanoTime()
    val wn = graft.ext.TextStats.winnow(docs3)
      .agg(count(lit(1))).head().getLong(0)
    val secsW = (System.nanoTime() - tW) / 1e9
    println(f"[probe] winnow: $nDocs3%d docs → $wn%d selected fingerprints " +
      f"in $secsW%.1fs = ${nDocs3 / secsW / 1000}%.0fk docs/s (narrow)")

    // one-call WINNOW dedup at volume: the q137 composition on the same
    // 1M-doc 30%-planted-dup corpus dedupCorpus ran above — the
    // recall-floor candidate generator through the identical
    // verify/CC/anti-join stack. Near-dups share a 38-word run, far
    // past the w+k−1 = 6-token guarantee, so winnow candidates catch
    // every planted pair deterministically (MinHash banding's recall on
    // the same pairs is probabilistic).
    val tWD = System.nanoTime()
    val survivorsW = graft.ext.Dedup.dedupCorpusWinnow(spark, docs6).count()
    val secsWD = (System.nanoTime() - tWD) / 1e9
    val storageLeftW = spark.sparkContext.getPersistentRDDs.size
    println(f"[probe] dedupCorpusWinnow: $nDocs6%d docs (30%% planted dups) → " +
      f"$survivorsW survivors in $secsWD%.1fs = ${nDocs6 / secsWD / 1000}%.0fk docs/s " +
      f"(minhash path kept $survivors; $storageLeftW persistent RDDs live after)")

    // compiled-scorer LINEARITY, one decade up: the 1M numbers above
    // claim scan-bound narrow passes; re-run winnow_keys and qc_score
    // at 10M docs and the bare adc_sum fold at 1M vs 10M rows — per-row
    // cost must hold flat across the decade for the 100 TB extrapolation
    // to mean anything.
    val nDocs10 = 10000000
    val docs10 = spark.range(nDocs10).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(w =>
        concat(lit(s"t$w"), pmod(col("id") + w, lit(4093)))): _*).as("text"))
    val tW10 = System.nanoTime()
    val wn10 = graft.ext.TextStats.winnow(docs10)
      .agg(count(lit(1))).head().getLong(0)
    val secsW10 = (System.nanoTime() - tW10) / 1e9
    println(f"[probe] winnow x10: $nDocs10%d docs → $wn10%d fps in $secsW10%.1fs " +
      f"= ${nDocs10 / secsW10 / 1000}%.0fk docs/s " +
      f"(1M decade: ${nDocs3 / secsW / 1000}%.0fk docs/s)")
    val tQ10 = System.nanoTime()
    val qc10 = graft.ext.Classifier.qcScoreNarrow(docs10, qcModel)
      .agg(count(lit(1)), sum(col("n_tokens"))).head()
    val secsQ10 = (System.nanoTime() - tQ10) / 1e9
    println(f"[probe] qc_score x10: ${qc10.getLong(0)}%d docs " +
      f"(${qc10.getLong(1)}%d tokens) in $secsQ10%.1fs = " +
      f"${nDocs10 / secsQ10 / 1000}%.0fk docs/s " +
      f"(1M decade: ${nDocs3 / secsQ2 / 1000}%.0fk docs/s)")
    // bare adc_sum fold (the PQ/SQ search hot loop): 8 subspaces × a
    // 16-entry literal table per row, priced at both decades
    val adcTbl = Seq.tabulate(8)(s => Seq.tabulate(16)(c => (s * 16 + c) / 128.0))
    def adcRun(n: Long): Double = {
      val df = spark.range(n).select(
        expr("transform(sequence(0, 7), s -> pmod(id * (s + 13), 16))").as("codes"))
        .withColumn("tbl", typedLit(adcTbl))
      val t = System.nanoTime()
      df.agg(sum(expr("adc_sum(tbl, codes)"))).head()
      (System.nanoTime() - t) / 1e9
    }
    val (adc1, adc10) = (adcRun(1000000L), adcRun(10000000L))
    println(f"[probe] adc_sum: 1M rows in $adc1%.1fs (${1000000 / adc1 / 1000}%.0fk rows/s) " +
      f"vs 10M rows in $adc10%.1fs (${10000000 / adc10 / 1000}%.0fk rows/s) " +
      f"— per-row cost flat across the decade")

    // SKETCH family at volume (round 7): the HLL register pass and the
    // CMS cell build over the 10M-doc corpus (120M tokens) — both must
    // stay partial-aggregable (shuffle = tasks × sketch size, never
    // O(tokens)) — and the compiled Bloom decontamination probe at both
    // decades (a narrow scan whose per-doc cost must hold flat).
    val docs10s = docs10.withColumn("source",
      concat(lit("s"), pmod(col("doc_id"), lit(4))))
    // both decades: the 1M point alongside the 10M one pins LINEARITY
    // (tokens/s must hold flat — partials are fixed-size sketch
    // buffers, so throughput cannot degrade with volume)
    val docs1s = docs10s.filter(col("doc_id") < 1000000)
    val tHll1 = System.nanoTime()
    graft.ext.Sketches.hllDistinct(docs1s).collect()
    val secsHll1 = (System.nanoTime() - tHll1) / 1e9
    val tHll = System.nanoTime()
    val hll = graft.ext.Sketches.hllDistinct(docs10s).collect()
    val secsHll = (System.nanoTime() - tHll) / 1e9
    println(f"[probe] hll_distinct: $nDocs10%d docs (${nDocs10 * 12L}%d tokens) → " +
      f"${hll.length}%d sources, worst rel_err " +
      f"${hll.map(_.getAs[Double]("rel_err")).max}%.4f in $secsHll%.1fs " +
      f"= ${nDocs10 * 12L / secsHll / 1e6}%.0fM tokens/s (incl. the exact-distinct twin; " +
      f"1M decade: ${12000000L / secsHll1 / 1e6}%.0fM tokens/s)")
    val tCms1 = System.nanoTime()
    graft.ext.Sketches.cmsHeavyHitters(docs1s, k = 20).collect()
    val secsCms1 = (System.nanoTime() - tCms1) / 1e9
    val tC = System.nanoTime()
    val cms = graft.ext.Sketches.cmsHeavyHitters(docs10s, k = 20).collect()
    val secsC = (System.nanoTime() - tC) / 1e9
    println(f"[probe] cms_heavy_hitters: ${nDocs10 * 12L}%d tokens × 4 rows → " +
      f"top-${cms.length}%d, max overcount ${cms.map(_.getAs[Long]("overcount")).max}%d " +
      f"in $secsC%.1fs = ${nDocs10 * 12L / secsC / 1e6}%.0fM tokens/s (incl. the exact twin; " +
      f"1M decade: ${12000000L / secsCms1 / 1e6}%.0fM tokens/s)")
    // sparse eval set: the generator's text is periodic mod 4093, so a
    // dense eval sample would cover every residue and flag 100% of the
    // corpus — 10 eval docs hit ~0.24% of it, a meaningful verdict mix
    val evalPredB = col("doc_id") % 1000000 === 0
    val bitsB = graft.ext.Sketches.bloomBitsArray(docs10s, evalPredB)
    graft.functions.BloomDecontam.register(spark,
      new graft.functions.BloomModelRef(bitsB))
    def bloomRun(df: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val t = System.nanoTime()
      val n = df.filter(!evalPredB)
        .filter(coalesce(expr("bloom_decontam(text)"), lit(false))).count()
      (n, (System.nanoTime() - t) / 1e9)
    }
    val (bh1, bs1) = bloomRun(docs10s.filter(col("doc_id") < 1000000))
    val (bh10, bs10) = bloomRun(docs10s)
    println(f"[probe] bloom_decontam (compiled): 1M docs → $bh1%d flagged in $bs1%.1fs " +
      f"(${1000000 / bs1 / 1000}%.0fk docs/s) vs 10M docs → $bh10%d in $bs10%.1fs " +
      f"(${nDocs10 / bs10 / 1000}%.0fk docs/s) — zero joins, bit set is a ref object")
    // k-center coreset selection at volume: 8 greedy farthest-first
    // rounds over 1M×64-dim vectors. Each round is one zero-shuffle
    // narrow pass (literal centers) + a top-1 reduce — the per-round
    // cost should be flat, and total ~8× one scan.
    val nVecK = 1000000L
    val embK = spark.range(nVecK).select(
      col("id").as("vec_id"),
      expr("""transform(sequence(0, 63), d ->
              | CAST(CAST(pmod(id * (d + 7919), 1000) AS DOUBLE) / 1000.0 - 0.5 AS FLOAT))"""
        .stripMargin).as("embedding"))
    val tK = System.nanoTime()
    val kc = graft.ext.Clustering.kCenter(spark, embK, k = 8).collect()
    val secsK = (System.nanoTime() - tK) / 1e9
    println(f"[probe] kcenter: 8 rounds over $nVecK%d vecs in $secsK%.1fs " +
      f"= ${secsK / 8}%.2fs/round, radius2 ${kc.head.getAs[Double]("radius2")}%.3f")

    // large-k decade: the persisted running-min variant at k=256 over
    // the same 1M vecs. The literal form pays O(|chosen|) dots/row per
    // round (quadratic-in-k total); the incremental form folds only the
    // newest center into a localCheckpointed md column — per-round cost
    // must be FLAT in k (k=256's s/round ≈ k=32's s/round), which is
    // what licenses coreset selection at k in the thousands.
    val tKi1 = System.nanoTime()
    graft.ext.Clustering.kCenterIncremental(spark, embK, k = 32).collect()
    val rKi1 = (System.nanoTime() - tKi1) / 1e9 / 32
    val tKi2 = System.nanoTime()
    val kci = graft.ext.Clustering.kCenterIncremental(spark, embK, k = 256).collect()
    val rKi2 = (System.nanoTime() - tKi2) / 1e9 / 256
    println(f"[probe] kcenter incremental: k=32 ${rKi1}%.2fs/round vs " +
      f"k=256 ${rKi2}%.2fs/round (flat-in-k ratio ${rKi2 / rKi1}%.2f), " +
      f"radius2 ${kci.head.getAs[Double]("radius2")}%.3f")

    // cluster-capped subsampling at volume: fixed-grid assignment
    // (narrow) + one rank shuffle keyed by 16 centroids over 1M vecs.
    val tCc = System.nanoTime()
    val keptCc = graft.ext.Sampling.clusterCap(spark, embK, k = 16, cap = 1000)
      .filter(col("kept")).count()
    val secsCc = (System.nanoTime() - tCc) / 1e9
    println(f"[probe] cluster cap: $nVecK%d vecs → 16 clusters × ≤1000 kept " +
      f"($keptCc%d) in $secsCc%.1fs = ${nVecK / secsCc / 1000}%.0fk vecs/s")

    // containment verification at volume: the LSH candidate chain over
    // the planted-dup corpus, then both-direction containment on the
    // bounded shingle sets — same candidate discipline as the Jaccard
    // verify probe, one extra ratio per pair.
    val tCt = System.nanoTime()
    val candCt = graft.ext.Dedup.lshCandidates(spark, docs6)
    val nCt = graft.ext.Dedup.containment(spark, candCt, docs6, threshold = 0.5).count()
    val secsCt = (System.nanoTime() - tCt) / 1e9
    println(f"[probe] containment: $nDocs6%d docs → $nCt%d contained pairs " +
      f"in $secsCt%.1fs = ${nDocs6 / secsCt / 1000}%.0fk docs/s (candidates + both ratios)")

    // tokenizer roundtrip at volume: train 8 merges (vocab-bounded
    // iterations), then encode the 1M-doc corpus as ONE join on the
    // trained vocabulary + size(syms) — no per-row merge loop.
    val tR = System.nanoTime()
    val (mR, vocabR) = graft.ext.TextStats.bpeTrainVocab(docs3, nMerges = 8)
    val encR = docs3.filter(col("text").isNotNull)
      .select(explode(expr("slice(split(text, ' '), 1, 4096)")).as("w"))
      .join(vocabR, Seq("w"))
      .agg(sum(size(col("syms")).cast("long"))).head().getLong(0)
    val secsR = (System.nanoTime() - tR) / 1e9
    vocabR.unpersist(false)
    println(f"[probe] tokenizer roundtrip: train ${mR.length}%d merges + " +
      f"vocab-join encode $nDocs3%d docs → $encR%d tokens in $secsR%.1fs " +
      f"= ${nDocs3 / secsR / 1000}%.0fk docs/s end to end")
    spark.stop()
  }

  /** The winnow-index merge-prune census (round-10 mergeWinnowIndexes
    * pruneDf): standalone via
    * `sbt "runMain graft.pumle.ScaleProbe winnow-prune"`. */
  def winnowMergePruneCensus(spark: SparkSession): Unit = {
    def rmTemp(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
    // winnow-index MERGE-PRUNE census: two disjoint 500k-doc shards
    // where half the corpus shares a boilerplate preamble (the shape
    // that manufactures over-cap fingerprints), merged with and
    // without pruneDf. Pruning drops the df > cap rows every future
    // increment would re-filter; the tombstone table (what keeps
    // CHAINED merges sound) stays metadata-scale by construction
    // (|tombstones| ≤ postings / pruneDf). Verdicts are equal by
    // Ext5Spec's proof; this section prices the INDEX itself.

      val boiler = (0 until 12)
        .map(w => s"boiler$w common preamble").mkString(" ")
      def shardDocs(lo: Long, hi: Long) = spark.range(lo, hi).select(
        col("id").as("doc_id"),
        when(col("id") % 2 === 0,
          concat(lit(boiler + " "), concat_ws(" ",
            (0 until 20).map(w0 =>
              substring(md5(concat(lit(s"$w0:"), col("id"))), 1, 8)): _*)))
          .otherwise(concat_ws(" ",
            (0 until 40).map(w0 =>
              substring(md5(concat(lit(s"$w0:"), col("id"))), 1, 8)): _*))
          .as("text"))
      val root = java.nio.file.Files.createTempDirectory("winprune").toString
      graft.ext.Dedup.writeWinnowIndex(spark, shardDocs(0, 500000), s"$root/a")
      graft.ext.Dedup.writeWinnowIndex(spark,
        shardDocs(500000, 1000000), s"$root/b")
      val tM = System.nanoTime()
      graft.ext.Dedup.mergeWinnowIndexes(spark, s"$root/a", s"$root/b",
        s"$root/m")
      val secsM = (System.nanoTime() - tM) / 1e9
      val tP = System.nanoTime()
      graft.ext.Dedup.mergeWinnowIndexes(spark, s"$root/a", s"$root/b",
        s"$root/mp", pruneDf = 10)
      val secsP = (System.nanoTime() - tP) / 1e9
      def sizeOf(p: String): Long = {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(hp).getLength
      }
      val (nFull, nPruned) = (
        spark.read.parquet(s"$root/m/fpdf").count(),
        spark.read.parquet(s"$root/mp/fpdf").count())
      val nTomb = spark.read.parquet(s"$root/mp/pruned").count()
      val inc = shardDocs(1000000, 1010000)
      // warm both paths once, then time (min-of-2): first-run JIT/IO
      // must not masquerade as a prune win
      graft.ext.Dedup.dedupIncrementalWinnowIndexed(spark, inc, s"$root/m").count()
      graft.ext.Dedup.dedupIncrementalWinnowIndexed(spark, inc, s"$root/mp").count()
      def t2(path: String): (Double, Long) = {
        var best = Double.MaxValue; var k = 0L
        for (_ <- 0 until 2) {
          val t = System.nanoTime()
          k = graft.ext.Dedup.dedupIncrementalWinnowIndexed(spark, inc, path).count()
          best = math.min(best, (System.nanoTime() - t) / 1e9)
        }
        (best, k)
      }
      val (incFull, k1) = t2(s"$root/m")
      val (incPruned, k2) = t2(s"$root/mp")
      require(k1 == k2, s"prune changed verdicts: $k1 vs $k2")
      println(f"[probe] winnow merge-prune: 1M docs (50%% boilerplate), " +
        f"fpdf $nFull%d rows (${sizeOf(s"$root/m/fpdf") / 1048576}%d MB) → " +
        f"$nPruned%d (${sizeOf(s"$root/mp/fpdf") / 1048576}%d MB) + " +
        f"$nTomb%d tombstones (${sizeOf(s"$root/mp/pruned") / 1048576}%d MB); " +
        f"merge $secsM%.1fs vs $secsP%.1fs; 10k-doc increment " +
        f"$incFull%.1fs → $incPruned%.1fs, verdicts equal ($k1%d kept)")
      rmTemp(root)
  }

  /** Persisted-Hamming-index scale census (standalone `hamming-intake`
    * arg): 2,000,000 seen signatures — near-dup families of 8 around
    * md5-derived bases (XOR-noise low bits, the perceptual-hash
    * corpus shape) with 5% collapsed onto ONE degenerate signature
    * (the solid-color/boilerplate mega-bucket a crawl always has) —
    * then a 10k-signature crawl increment through
    * [[graft.ext.Dedup.hammingIntake]] and a 10k append through
    * [[graft.ext.Dedup.appendHammingIndex]]. What the numbers must
    * show: intake cost is one seen-side SCAN + broadcast work (flat
    * in increment size), the append's census merge is metadata-scale
    * arithmetic, and the 100k-copy degenerate bucket contributes
    * ZERO pair work (guarded by the persisted census, not by luck). */
  private def hammingIntakeCensus(spark: SparkSession,
      n: Long = 2000000L): Unit = {
    def rmTemp(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
    def sigs(lo: Long, hi: Long) = spark.range(lo, hi, 1, 32).select(
      col("id").as("doc_id"),
      when(col("id") % 20 === 0, lit(0x4242424242424242L))
        .otherwise(expr(
          """CAST(conv(substring(md5(CAST(id DIV 8 AS STRING)), 1, 15),
            |          16, 10) AS BIGINT) ^ (id % 4)""".stripMargin))
        .as("packed"))
    val dir = java.nio.file.Files.createTempDirectory("hamscale").toString
    val tB = System.nanoTime()
    graft.ext.Dedup.writeHammingIndex(spark, sigs(0, n), dir)
    val secsB = (System.nanoTime() - tB) / 1e9
    val nB = spark.read.parquet(s"$dir/bsize").count()
    // the increment is NEAR-DUPS of scattered seen families (base ^ 3,
    // ≤ 2 bits from every family member) plus the same 5% degenerate
    // share — a crawl increment that actually matches seen content
    val inc = spark.range(0, 10000, 1, 8).select(
      (col("id") + n).as("doc_id"),
      when(col("id") % 20 === 0, lit(0x4242424242424242L))
        .otherwise(expr(
          s"""CAST(conv(substring(md5(CAST((id * 193) % ${n / 8} AS STRING)),
            |          1, 15), 16, 10) AS BIGINT) ^ 3""".stripMargin))
        .as("packed"))
    // two cap settings: the old fixed default 10 (exposes BAND-SPACE
    // SATURATION — at n sigs the mean 16-bit bucket holds ~n/2¹⁶
    // members, so a cap below the mean drops most LEGITIMATE buckets)
    // and a scale-sized 10× the mean (the deriveHammingCap rule).
    // Warm once, then min-of-2 (the winnow census' protocol).
    val sizedCap = math.max(10L, 10L * ((n + 65535) / 65536)).toInt
    def timeIntake(cap: Int): (Double, Long) = {
      graft.ext.Dedup.hammingIntake(spark, inc, dir, maxBucket = cap).count()
      var best = Double.MaxValue
      var pairs = 0L
      for (_ <- 0 until 2) {
        val t = System.nanoTime()
        pairs = graft.ext.Dedup.hammingIntake(spark, inc, dir,
          maxBucket = cap).count()
        best = math.min(best, (System.nanoTime() - t) / 1e9)
      }
      (best, pairs)
    }
    val (tightS, tightP) = timeIntake(10)
    val (sizedS, sizedP) = timeIntake(sizedCap)
    // the census-derived cap (maxBucket = 0 → deriveHammingCap) must
    // land in the sized regime on its own
    val derivedCap = graft.ext.Dedup.deriveHammingCap(spark, dir)
    val (derS, derP) = timeIntake(0)
    // the degenerate signature (n/20-copy bucket, far above EITHER
    // cap) must pair nothing: 500 of the increment's 10k rows carry it
    val degPairs = graft.ext.Dedup.hammingIntake(spark,
        inc.filter(col("packed") === 0x4242424242424242L), dir,
        maxBucket = sizedCap).count()
    val tA = System.nanoTime()
    graft.ext.Dedup.appendHammingIndex(spark, sigs(n + 10000, n + 20000), dir)
    val secsA = (System.nanoTime() - tA) / 1e9
    // index lifecycle at crawl cadence: 9 more appends (10 total),
    // intake latency on the fragmented sigs table, then
    // compactHammingIndex and the same intake again — the small-files
    // decay and its listing-driven repair, measured
    for (a <- 1 until 10)
      graft.ext.Dedup.appendHammingIndex(spark,
        sigs(n + 20000L + a * 10000L, n + 30000L + a * 10000L), dir)
    def sigFiles = new java.io.File(s"$dir/sigs").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val fragFiles = sigFiles
    val (fragS, _) = timeIntake(sizedCap)
    val tC = System.nanoTime()
    val nComp = graft.ext.Dedup.compactHammingIndex(spark, dir, maxFiles = 32)
    val secsC = (System.nanoTime() - tC) / 1e9
    val compFiles = sigFiles
    val (compS, _) = timeIntake(sizedCap)
    // the BATCH path at the same n (hammingNearDup corpus-wide, not
    // the increment): the DEFAULT (maxBucket = 0 → census-derived
    // in-plan) against the old fixed 10 that round 11 measured losing
    // ~96% of true pairs to band-space saturation. Single shot per
    // cap — the pair COUNTS are the finding (deterministic); wall
    // time is context. The derived cap must land in the sized regime
    // with no knob touched. GATED at ≤ 4M sigs (no-silent-caps: at
    // 20M the mean 16-bit bucket holds ~305 members, so corpus-wide
    // banding's kept pair volume is Σc² ≈ tens of billions — the
    // 4-band/16-bit space stops pruning and the INCREMENT intake is
    // the only sane shape; that cliff is the finding, printed here).
    val (bTightS, bTightP, bDerS, bDerP) =
      if (n <= 4000000L) {
        def timeBatch(cap: Int): (Double, Long) = {
          val t = System.nanoTime()
          val pairs = graft.ext.Dedup.hammingNearDup(spark, sigs(0, n),
            maxBucket = cap).count()
          ((System.nanoTime() - t) / 1e9, pairs)
        }
        val (a1, p1) = timeBatch(10)
        val (a2, p2) = timeBatch(0)
        (a1, p1, a2, p2)
      } else {
        println(s"[probe] hamming BATCH rows SKIPPED at n=$n (> 4M): " +
          s"mean bucket ~${n / 65536} members — corpus-wide 4×16 " +
          "banding no longer prunes at this density (kept pair volume " +
          "Σc² is tens of billions); use hammingNearDup on a 128-bit " +
          "(doc_id, lo, hi) signature (32-bit " +
          "bands — the `hamming128` probe measures it at this n) or " +
          "the increment intake")
        (Double.NaN, -1L, Double.NaN, -1L)
      }
    println(f"[probe] hamming intake: $n%d sigs indexed in $secsB%.1fs " +
      f"($nB%d census rows); 10k increment cap=10 $tightS%.1fs " +
      f"($tightP%d pairs — saturation-dropped), cap=$sizedCap%d " +
      f"$sizedS%.1fs ($sizedP%d pairs), derived cap=$derivedCap%d " +
      f"$derS%.1fs ($derP%d pairs); degenerate ${n / 20}%d-copy " +
      f"bucket: $degPairs%d pairs (census-guarded at either cap); " +
      f"10k append $secsA%.1fs (census merged by arithmetic); " +
      f"lifecycle: 10 appends → $fragFiles%d sig files, intake " +
      f"$fragS%.1fs; compact ($nComp%d files, $secsC%.1fs) → " +
      f"$compFiles%d files, intake $compS%.1fs; " + (
      if (bDerP < 0) f"BATCH rows SKIPPED at n=$n%d (see above)"
      else f"BATCH $n%d cap=10 $bTightS%.1fs ($bTightP%d pairs) vs " +
        f"DEFAULT derived $bDerS%.1fs ($bDerP%d pairs — " +
        f"${100.0 * bTightP / math.max(1L, bDerP)}%.1f%% kept by the " +
        f"old fixed cap)"))
    rmTemp(dir)
  }

  /** Persisted 128-BIT Hamming index scale census (standalone
    * `hamming128-intake` arg) — [[hammingIntakeCensus]]'s protocol on
    * the non-saturating lifecycle ([[graft.ext.Dedup
    * .writeHammingIndex]] family on `(doc_id, lo, hi)`): n seen
    * signatures (near-dup families of 8 on a shared 120-bit md5 base,
    * lo-noise low 2 bits, 5% collapsed onto one degenerate signature),
    * built as WRITE(half)
    * + APPEND(half) so the aggregate-on-read census carries two
    * generations of partials at scale, then a 10k crawl increment
    * through [[graft.ext.Dedup.hammingIntake]] and the admission
    * verdict through [[graft.ext.Dedup.hammingIntakeAdmit]]. What
    * the numbers must show at 20M indexed signatures (the decade where
    * the 64-bit index's candidate growth begins to bite): the intake's
    * returned pair count EQUALS the analytically-planted truth (every
    * non-degenerate increment row pairs with exactly its target
    * family's non-degenerate members — band space 2³² does not
    * saturate), the n/20-copy degenerate bucket contributes ZERO pair
    * work (touched-bucket census guard), the admit verdict is exactly
    * 1 row (the within-increment survivor of the 500 degenerate
    * arrivals — everything else matches seen content and rejects),
    * and append + compaction stay increment-/listing-bounded. */
  private def hamming128IntakeCensus(spark: SparkSession,
      n: Long = 2000000L): Unit = {
    def rmTemp(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
    val deg = 0x4242424242424242L
    def sigs(lo: Long, hi: Long) = spark.range(lo, hi, 1, 32).select(
      col("id").as("doc_id"),
      when(col("id") % 20 === 0, lit(deg))
        .otherwise(expr(
          """CAST(conv(substring(md5(CAST(id DIV 8 AS STRING)), 1, 15),
            |          16, 10) AS BIGINT) ^ (id % 4)""".stripMargin))
        .as("lo"),
      when(col("id") % 20 === 0, lit(deg))
        .otherwise(expr(
          """CAST(conv(substring(md5(CAST(id DIV 8 AS STRING)), 17, 15),
            |          16, 10) AS BIGINT)""".stripMargin))
        .as("hi"))
    val dir = java.nio.file.Files.createTempDirectory("ham128scale").toString
    val tB = System.nanoTime()
    graft.ext.Dedup.writeHammingIndex(spark, sigs(0, n / 2), dir)
    val secsW = (System.nanoTime() - tB) / 1e9
    val tA0 = System.nanoTime()
    graft.ext.Dedup.appendHammingIndex(spark, sigs(n / 2, n), dir)
    val secsA0 = (System.nanoTime() - tA0) / 1e9
    val nB = spark.read.parquet(s"$dir/bsize").count()
    // increment: near-dups of scattered seen families (base ^ 3 in lo —
    // distance ≤ 3 to every non-degenerate member, 0 to the m%4==3
    // ones) plus the same 5% degenerate share
    val inc = spark.range(0, 10000, 1, 8).select(
      (col("id") + n).as("doc_id"),
      when(col("id") % 20 === 0, lit(deg))
        .otherwise(expr(
          s"""CAST(conv(substring(md5(CAST((id * 193) % ${n / 8} AS STRING)),
            |          1, 15), 16, 10) AS BIGINT) ^ 3""".stripMargin))
        .as("lo"),
      when(col("id") % 20 === 0, lit(deg))
        .otherwise(expr(
          s"""CAST(conv(substring(md5(CAST((id * 193) % ${n / 8} AS STRING)),
            |          17, 15), 16, 10) AS BIGINT)""".stripMargin))
        .as("hi"))
    // analytically-planted truth: each non-degenerate increment row
    // pairs with its target family's non-degenerate members, exactly
    val truth = spark.range(0, 10000, 1, 8)
      .filter(col("id") % 20 =!= 0)
      .select(expr(s"(id * 193) % ${n / 8}").as("fam"))
      .join(spark.range(0, n, 1, 32).filter(col("id") % 20 =!= 0)
          .groupBy((col("id") / 8).cast("long").as("fam"))
          .agg(count(lit(1)).as("m")),
        Seq("fam"))
      .agg(sum(col("m"))).head().getLong(0)
    def timeIntake(): (Double, Long) = {
      graft.ext.Dedup.hammingIntake(spark, inc, dir).count() // warm
      var best = Double.MaxValue
      var pairs = 0L
      for (_ <- 0 until 2) {
        val t = System.nanoTime()
        pairs = graft.ext.Dedup.hammingIntake(spark, inc, dir).count()
        best = math.min(best, (System.nanoTime() - t) / 1e9)
      }
      (best, pairs)
    }
    val (intakeS, intakeP) = timeIntake()
    val degPairs = graft.ext.Dedup.hammingIntake(spark,
      inc.filter(col("lo") === deg), dir).count()
    val tAd = System.nanoTime()
    val admitted = graft.ext.Dedup.hammingIntakeAdmit(spark, inc, dir).count()
    val secsAd = (System.nanoTime() - tAd) / 1e9
    // lifecycle decay + repair at this n: 5 more appends, then compact
    for (a <- 0 until 5)
      graft.ext.Dedup.appendHammingIndex(spark,
        sigs(n + 20000L + a * 10000L, n + 30000L + a * 10000L), dir)
    val (fragS, _) = timeIntake()
    val tC = System.nanoTime()
    val nComp = graft.ext.Dedup.compactHammingIndex(spark, dir, maxFiles = 32)
    val secsC = (System.nanoTime() - tC) / 1e9
    val (compS, compP) = timeIntake()
    println(f"[probe] hamming128 intake: n=$n%d sigs (write half " +
      f"$secsW%.1fs + append half $secsA0%.1fs, census $nB%d partial " +
      f"rows); 10k increment: $intakeP%d pairs in $intakeS%.1fs vs " +
      f"planted $truth%d — " +
      (if (intakeP == truth) "MATCH (no gating, no silent drop)"
       else f"MISMATCH (${intakeP - truth}%+d)") +
      f"; degenerate ${n / 20}%d-copy bucket alone: $degPairs%d pairs " +
      f"(touched-census guard); admit verdict: $admitted%d row(s) in " +
      f"$secsAd%.1fs (expected 1 — the deduped degenerate survivor); " +
      f"5 appends → intake $fragS%.1fs; compact ($nComp%d files, " +
      f"$secsC%.1fs) → intake $compS%.1fs" +
      (if (compP == intakeP) "" else f" PAIRS CHANGED ${compP - intakeP}%+d"))
    rmTemp(dir)
  }

  /** Tracked-vs-untracked corpus winnow dedup at scale (standalone
    * `winnow-tracked <sfDir>` arg) — measures the delta the
    * BENCH_sf3 round-14 census decomposition predicted: the untracked
    * [[graft.ext.Dedup.dedupCorpusWinnow]] unpersists the exact-dedup
    * survivor cache before returning, so the consumer's
    * materialization replays the corpus-wide hash window; the tracked
    * form ([[graft.ext.Dedup.dedupCorpusWinnowTracked]]) keeps the
    * cache through consumption and releases after. Both timed end to
    * end (noop sink consumes every output column — the full-width
    * stream is part of the real cost), min-of-2 after a warm shot,
    * storage isolated between shots. Equal row counts are asserted —
    * the two forms must differ in COST only. */
  private def winnowTrackedCensus(spark: SparkSession,
      sfDir: String): Unit = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def isolate(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    def consume(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time2(run: () => Unit): Double = {
      run() // warm
      (0 until 2).map { _ =>
        isolate()
        val t = System.nanoTime()
        run()
        (System.nanoTime() - t) / 1e9
      }.min
    }
    val untracked = time2(() =>
      consume(graft.ext.Dedup.dedupCorpusWinnow(spark, docs)))
    val tracked = time2 { () =>
      val (out, release) = graft.ext.Dedup.dedupCorpusWinnowTracked(spark, docs)
      consume(out)
      release()
    }
    val nU = graft.ext.Dedup.dedupCorpusWinnow(spark, docs).count()
    val (outT, relT) = graft.ext.Dedup.dedupCorpusWinnowTracked(spark, docs)
    val nT = outT.count()
    relT()
    require(nU == nT, s"tracked changed results: $nU vs $nT")
    println(f"[probe] winnow tracked: $sfDir%s (${docs.count()}%d docs) — " +
      f"untracked $untracked%.1fs vs tracked $tracked%.1fs " +
      f"(${100.0 * (untracked - tracked) / untracked}%.0f%% saved by not " +
      f"replaying the survivor window), rows equal ($nU%d)")
  }

  /** Stream-static probe-cache census (standalone `stream-static` arg,
    * default 2M indexed signatures): the A/B that justifies
    * [[graft.streaming.Streams]]' staticSide discipline with a number
    * instead of an argument. One 64-bit Hamming index at n signatures;
    * a memory-stream of 10 micro-batches × 1k arrivals runs through
    * `Streams.hammingIntakeAdmit` twice — arm A leaves the persisted
    * probe side alone (the shipped behavior: built on batch 1, read
    * on batches 2+), arm B calls `releaseStaticSides()` after every
    * batch, forcing the next trigger to rebuild the probe side from
    * the signature table (exactly what EVERY batch paid before the
    * persist existed, since a stream-static join re-executes the
    * static sub-plan per micro-batch). What the numbers must show:
    * arm B pays the bands-explode + collect_list regroup of the whole
    * index on every trigger; arm A pays it once (batch 1) and its
    * steady state drops to the stream-static join's per-trigger scan
    * of the CACHED reshape — that residual scan is the stream-static
    * contract (the static side cannot broadcast at index scale), so
    * the honest claim is "rebuild removed", not "index-free batches";
    * measured 2M: 15.2s → 5.0s steady (3.0×). */
  private def streamStaticCensus(spark: SparkSession,
      n: Long = 2000000L): Unit = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ssprobe").toString
    // n signatures, ~64 near-dup-free random bits via two md5 halves
    graft.ext.Dedup.writeHammingIndex(spark,
      spark.range(0, n, 1, 32).select(col("id").as("doc_id"),
        // shiftleft is bitwise (no ANSI overflow on the 60-bit hash)
        expr("""shiftleft(CAST(conv(substring(md5(CAST(id AS STRING)), 1, 15),
               |  16, 10) AS BIGINT), 4) | (id % 16)""".stripMargin)
          .as("packed")),
      dir)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def arm(releaseEachBatch: Boolean): Seq[Double] = {
      implicit val sqlCtx = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long)]
      val q = graft.streaming.Streams.hammingIntakeAdmit(spark,
          mem.toDF().toDF("doc_id", "ts", "packed"), dir)
        .writeStream.outputMode("append").format("noop").start()
      val times = (0 until 10).map { b =>
        mem.addData((0 until 1000).map(i =>
          (n + b * 1000L + i, t0,
           0x5a5a000000000000L + b * 100000L + i)): _*)
        val t = System.nanoTime()
        q.processAllAvailable()
        val dt = (System.nanoTime() - t) / 1e9
        if (releaseEachBatch) graft.streaming.Streams.releaseStaticSides()
        dt
      }
      q.stop()
      graft.streaming.Streams.releaseStaticSides()
      times
    }
    // arms ALTERNATE and each runs twice, min-of-2 per arm: the first
    // cut of this probe ran each arm once and read 3.0× then 0.7×
    // across two sessions — single-shot A/Bs adjudicate nothing under
    // host noise (the r13 calibration lesson, applied to itself)
    def mean(xs: Seq[Double]): Double = xs.sum / xs.length
    val (c1, u1) = (arm(false), arm(true))
    val (c2, u2) = (arm(false), arm(true))
    val cachedSteady = math.min(mean(c1.tail), mean(c2.tail))
    val uncachedSteady = math.min(mean(u1.tail), mean(u2.tail))
    val batch1 = math.min(c1.head, c2.head)
    println(f"[probe] stream-static: $n%d indexed sigs, 10 batches × 1k arrivals, " +
      f"min-of-2 alternating arms — CACHED batch1 $batch1%.2fs steady " +
      f"$cachedSteady%.2fs/batch; REBUILD-EACH-BATCH steady " +
      f"$uncachedSteady%.2fs/batch (${uncachedSteady / cachedSteady}%.1f× — " +
      f"the key-partitioned sorted cache leaves the per-trigger joins " +
      f"exchanging only the micro-batch side)")
  }

  /** Trained-NB-classifier census (standalone `nb` arg, default 5M
    * docs): a synthetic labeled corpus with ANALYTIC truth — 8 labels,
    * each doc carrying two label-marker tokens (which appear under no
    * other label) plus four shared fillers from a 32-token pool, so a
    * correct multinomial NB must recover the planted label on EVERY
    * doc (markers dominate any filler imbalance; priors are uniform).
    * What the numbers must show: (1) train wall — two
    * partial-aggregable shuffles over the token stream, a model-scale
    * collect; (2) compiled-narrow classify wall — one narrow pass,
    * zero joins; (3) the relational (oracle-shape) classify wall for
    * contrast — it pays the ×|labels| join amplification, the
    * doc-keyed rollup and the argmax window, which is why production
    * scores narrow; (4) narrow prediction errors = 0 (exact planted
    * recovery). */
  private def nbCensus(spark: SparkSession, n: Long = 5000000L): Unit = {
    val docs = spark.range(0, n, 1, 32).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        concat(lit("m"), (col("id") % 8).cast("string")),
        concat(lit("m"), (col("id") % 8).cast("string")),
        concat(lit("w"), (col("id") * 7 % 32).cast("string")),
        concat(lit("w"), ((col("id") * 13 + 5) % 32).cast("string")),
        concat(lit("w"), ((col("id") * 29 + 11) % 32).cast("string")),
        concat(lit("w"), ((col("id") * 17 + 3) % 32).cast("string"))).as("text"),
      concat(lit("L"), (col("id") % 8).cast("string")).as("lang"))
    def isolate(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    def consume(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time2(run: () => Unit): Double = {
      run() // warm
      (0 until 2).map { _ =>
        isolate()
        val t = System.nanoTime()
        run()
        (System.nanoTime() - t) / 1e9
      }.min
    }
    val tTrain = time2(() => graft.ext.Classifier.trainNbModel(docs))
    val model = graft.ext.Classifier.trainNbModel(docs)
    val tNarrow = time2(() =>
      consume(graft.ext.Classifier.nbClassifyNarrow(spark, docs, model)))
    // the relational arm is the ORACLE shape (×|labels| join
    // amplification + doc-keyed rollup + argmax window) — measured for
    // contrast at the decades where it is affordable; past 5M docs
    // only the narrow form is the documented path, so the probe stops
    // paying ~2.4B-row rollups just to restate that
    val tRel = if (n <= 5000000L)
      time2(() => consume(graft.ext.Classifier.nbClassify(spark, docs)))
    else Double.NaN
    val errs = graft.ext.Classifier.nbClassifyNarrow(spark, docs, model)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .filter(col("pred") =!= col("lang")).count()
    println(f"[probe] nb: $n%d docs, 8 labels, ${model.vocab.length}%d vocab — " +
      f"train $tTrain%.1fs, classify narrow $tNarrow%.1fs " +
      f"(relational oracle shape $tRel%.1fs), planted-label errors $errs%d")
    require(errs == 0L, s"NB failed to recover planted labels: $errs errors")
  }

  /** Corpus-wide 128-bit Hamming near-dup census (standalone
    * `hamming128` arg) — the batch shape past the 64-bit form's
    * band-saturation boundary: n signatures as near-dup families of 8
    * (shared 120-bit md5 base split across the two packed longs,
    * XOR-noise in lo's low 2 bits → pairwise distance ≤ 2) with the
    * 5% degenerate mega-signature, through
    * [[graft.ext.Dedup.hammingNearDup]] at the DEFAULT derived
    * cap. What the numbers must show: the returned pair count EQUALS
    * the analytically-planted truth (Σ C(m,2) over each family's
    * non-degenerate members — the 4×32-band space does not saturate,
    * so nothing is silently dropped and no gating is needed at any
    * measured n), and the n/20-copy degenerate bucket contributes
    * ZERO pairs (capped in all four bands). */
  private def hamming128BatchCensus(spark: SparkSession,
      n: Long = 2000000L): Unit = {
    val deg = 0x4242424242424242L
    val sigs = spark.range(0, n, 1, 32).select(
      col("id").as("doc_id"),
      when(col("id") % 20 === 0, lit(deg))
        .otherwise(expr(
          """CAST(conv(substring(md5(CAST(id DIV 8 AS STRING)), 1, 15),
            |          16, 10) AS BIGINT) ^ (id % 4)""".stripMargin))
        .as("lo"),
      when(col("id") % 20 === 0, lit(deg))
        .otherwise(expr(
          """CAST(conv(substring(md5(CAST(id DIV 8 AS STRING)), 17, 15),
            |          16, 10) AS BIGINT)""".stripMargin))
        .as("hi"))
    // planted truth, computed analytically from the generator: every
    // within-family non-degenerate pair sits at distance ≤ 2 (lo noise
    // only); cross-family distances are ~60 bits (independent md5) and
    // the degenerate bucket must be capped out
    val truth = spark.range(0, n, 1, 32)
      .filter(col("id") % 20 =!= 0)
      .groupBy((col("id") / 8).cast("long").as("fam"))
      .agg(count(lit(1)).as("m"))
      .agg(sum(expr("m * (m - 1) DIV 2")).as("p"))
      .head().getLong(0)
    val t0 = System.nanoTime()
    val pairs = graft.ext.Dedup.hammingNearDup(spark, sigs).count()
    val secs = (System.nanoTime() - t0) / 1e9
    val degPairs = graft.ext.Dedup.hammingNearDup(spark,
      sigs.filter(col("lo") === deg)).count()
    println(f"[probe] hamming128 BATCH: n=$n%d sigs, derived cap, " +
      f"$pairs%d pairs in $secs%.1fs vs planted $truth%d — " +
      (if (pairs == truth) "MATCH (no gating, no silent drop)"
       else f"MISMATCH (${pairs - truth}%+d)") +
      f"; degenerate ${n / 20}%d-copy bucket alone: $degPairs%d pairs")
  }

}
