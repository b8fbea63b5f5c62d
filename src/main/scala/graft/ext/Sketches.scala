package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded-state sketch operators — the approximate-counting toolkit a
  * 100 TB pipeline uses where exact answers would shuffle the corpus:
  * HyperLogLog distinct counts, Count–Min frequency estimates, and a
  * Bloom-filter decontamination prefilter. Every sketch here is
  * (a) DETERMINISTIC — hashes derive from md5 of the value, no RNG, so
  * an independent engine replays them bit-for-bit, and (b) MERGEABLE —
  * the per-partition state is a fixed-size table combined with
  * max/sum, so Spark's partial aggregation keeps shuffle volume at
  * O(tasks × sketch size) regardless of corpus size. Each operator
  * carries its exact counterpart in the same output (the q94
  * calibration pattern): at test scale the driver hash-checks both;
  * at production scale you run the sketch alone.
  */
object Sketches {

  /** 2^41 — the integer scale that makes the HLL harmonic sum exact.
    * Register values are ≤ 41, so `2^(41 - reg)` is a BIGINT in
    * [1, 2^41] and the per-source sum over 256 buckets stays far below
    * Long.Max — an ORDER-FREE integer sum both engines agree on
    * bitwise (the ratio6/DECIMAL discipline applied to HLL). */
  private val HllScale = 2199023255552L

  /** α₂₅₆ · m² · 2^41 — the full estimator numerator folded to ONE
    * double constant. It is embedded into the oracle SQL via
    * `Double.toString` (shortest round-trip form, which DuckDB's
    * correctly-rounded parse restores bit-exactly), so both engines
    * divide the identical numerator by the identical integer sum. */
  val HllEstScale: Double =
    0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 2199023255552.0

  /** Per-source distinct-token estimate via HyperLogLog (Flajolet et
    * al. 2007) with m = 256 buckets, alongside the exact distinct
    * count and the relative error (the calibration contract).
    *
    * Determinism: bucket = first md5 byte of the token; the register
    * is the leading-zero count (+1) of the NEXT 40 md5 bits. Both are
    * pure integer selections, and the per-bucket max register rides a
    * single `min(suffix)` aggregate — bit-length is monotone, so
    * `max(rho) = 41 - bitlen(min(suffix))` — ONE bigint min per
    * (source, bucket) instead of a per-row register update. The
    * harmonic sum Σ 2^(-reg) is computed as the exact integer
    * Σ 2^(41-reg) (see [[HllScale]]); only the final estimator
    * division and the small-range `ln` correction touch doubles, in
    * literal-identical expressions on both engines.
    *
    * 100 TB shape: tokens collapse map-side to ≤ |sources| × 256 rows
    * (partial-aggregable min), the estimator runs on the bounded
    * sketch. The exact-distinct column is the test-scale calibration
    * twin — production drops it and the corpus-wide distinct shuffle
    * with it. */
  def hllDistinct(docs: DataFrame, sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val m = 256
    graft.functions.Functions.registerAll(docs.sparkSession)
    val tok = docs.select(col(sourceCol).as("source"),
      explode(split(col(textCol), " ")).as("w"))
    // ONE-PASS register build (graft.functions.HllRegs): one md5 + one
    // array-min per token into a task-local 2 KB buffer, partials merge
    // element-wise — replaces the relational build's two md5 substr
    // hashes per token and its O(tokens) (source, bkt) min shuffle.
    // The emitted minima are EXACTLY the relational min(sfx), so the
    // estimator math (and the oracle) are unchanged.
    val regs = tok.groupBy(col("source"))
      .agg(expr("hll_regs(w)").as("rs"))
      .select(col("source"), posexplode(col("rs")).as(Seq("bkt", "msfx")))
      .filter(col("msfx") =!= Long.MaxValue)
      .withColumn("reg", when(col("msfx") === 0, lit(41))
        .otherwise(lit(41) - length(bin(col("msfx")))))
    val sk = regs.groupBy(col("source")).agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(41 - reg AS INT))"))
          .as("s_present"),
        count(lit(1)).as("n_present"))
      .withColumn("v_zero", lit(m.toLong) - col("n_present"))
      .withColumn("s_int",
        col("s_present") + col("v_zero") * lit(HllScale))
    val exact = tok.groupBy(col("source")).agg(
      count(lit(1)).as("n_tokens"),
      countDistinct(col("w")).as("exact_distinct"))
    exact.join(sk, Seq("source"))
      .withColumn("raw", lit(HllEstScale) / col("s_int").cast("double"))
      // small-range (linear counting) correction; ln is the one libm
      // call — 4-dp output rounding absorbs any cross-engine ulp
      .withColumn("est",
        when(col("v_zero") > 0 && col("raw") <= lit(640.0),
          lit(256.0) * log(lit(256.0) / col("v_zero").cast("double")))
        .otherwise(col("raw")))
      .select(col("source"), col("n_tokens"), col("exact_distinct"),
        (round(col("est"), 4) + lit(0.0)).as("hll_est"),
        (round(abs(col("est") - col("exact_distinct").cast("double"))
          / col("exact_distinct").cast("double"), 6) + lit(0.0))
          .as("rel_err"))
      .orderBy(col("source"))
  }

  /** [[hllDistinct]] with the register build SHARDED AND MERGED — the
    * mergeability contract, oracle-checked (q161 shares q138's oracle
    * verbatim): each shard sketches independently (`hll_regs` per
    * (source, shard)), shard register tables combine by element-wise
    * `least` (per-bucket minima of minima = minima of the union —
    * min is associative/commutative), and the merged estimate must
    * equal the single-pass estimate over the union bit for bit. This
    * is THE property a 100 TB deployment leans on: per-partition /
    * per-day / per-datacenter sketches roll up without ever re-reading
    * tokens (the streaming twin `Streams.hllDistinct` is the same
    * merge applied across micro-batches). The exact-distinct
    * calibration columns are computed the normal way — only the
    * register path is sharded. */
  def hllDistinctMerged(docs: DataFrame, shard: Column,
      sourceCol: String = "source", textCol: String = "text"): DataFrame = {
    val m = 256
    graft.functions.Functions.registerAll(docs.sparkSession)
    val tok = docs.select(col(sourceCol).as("source"), shard.as("_sh"),
      explode(split(col(textCol), " ")).as("w"))
    val regsArr = tok.groupBy(col("source"), col("_sh"))
      .agg(expr("hll_regs(w)").as("rs"))
      .groupBy(col("source"))
      .agg(expr(
        s"""aggregate(collect_list(rs),
           |  array_repeat(CAST('${Long.MaxValue}' AS BIGINT), $m),
           |  (acc, x) -> zip_with(acc, x, (a, b) -> least(a, b)))"""
          .stripMargin).as("rs"))
    val regs = regsArr
      .select(col("source"), posexplode(col("rs")).as(Seq("bkt", "msfx")))
      .filter(col("msfx") =!= Long.MaxValue)
      .withColumn("reg", when(col("msfx") === 0, lit(41))
        .otherwise(lit(41) - length(bin(col("msfx")))))
    val sk = regs.groupBy(col("source")).agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(41 - reg AS INT))"))
          .as("s_present"),
        count(lit(1)).as("n_present"))
      .withColumn("v_zero", lit(m.toLong) - col("n_present"))
      .withColumn("s_int",
        col("s_present") + col("v_zero") * lit(HllScale))
    val exact = tok.groupBy(col("source")).agg(
      count(lit(1)).as("n_tokens"),
      countDistinct(col("w")).as("exact_distinct"))
    exact.join(sk, Seq("source"))
      .withColumn("raw", lit(HllEstScale) / col("s_int").cast("double"))
      .withColumn("est",
        when(col("v_zero") > 0 && col("raw") <= lit(640.0),
          lit(256.0) * log(lit(256.0) / col("v_zero").cast("double")))
        .otherwise(col("raw")))
      .select(col("source"), col("n_tokens"), col("exact_distinct"),
        (round(col("est"), 4) + lit(0.0)).as("hll_est"),
        (round(abs(col("est") - col("exact_distinct").cast("double"))
          / col("exact_distinct").cast("double"), 6) + lit(0.0))
          .as("rel_err"))
      .orderBy(col("source"))
  }

  /** Count–Min sketch (Cormode & Muthukrishnan 2005) frequency
    * estimates for the exact top-`k` tokens — `depth` hash rows ×
    * `width` counters, estimate = min over rows, overcount =
    * estimate − exact (never negative: CMS errs one way only).
    *
    * The sketch build explodes each token into `depth` (row, counter)
    * keys; map-side partial aggregation collapses every task's
    * contribution to ≤ depth × width cells before the shuffle, so
    * shuffle volume is O(tasks × sketch), not O(tokens) — the property
    * that makes CMS the 100 TB substitute for a corpus-wide word
    * histogram. The exact histogram + top-k here is the calibration
    * twin (production keeps a heavy-hitter heap beside the sketch);
    * candidates and sketch are both bounded, so the estimate join is
    * broadcast-trivial. */
  def cmsHeavyHitters(docs: DataFrame, depth: Int = 4, width: Int = 1024,
      k: Int = 20, textCol: String = "text"): DataFrame = {
    // ONE-PASS grid build (graft.functions.CmsSketch): per token one
    // md5 + `depth` array increments into a task-local depth×width
    // long grid; partials merge element-wise, so the shuffle is one
    // 32 KB buffer per task. The original relational form exploded
    // `depth` (r, c) rows per token into a grid groupBy — 48M
    // generated rows at sf1 and the whole query's hot path (8.7s →
    // the grid is the identical integer array either way; candidates
    // read it with element_at). Row r's hash stays DISJOINT 8-hex-char
    // substrings of ONE md5 per token (bytes 4r..4r+3).
    require(depth >= 1 && depth * 8 <= 32, s"depth=$depth needs ≤32 hex chars")
    graft.functions.Functions.registerAll(docs.sparkSession)
    val tok = docs.select(explode(split(col(textCol), " ")).as("word"))
    val exact = tok.groupBy(col("word")).agg(count(lit(1)).as("exact_cnt"))
    // exact top-k under a TOTAL order (count desc, word asc) — a
    // TakeOrdered, never a global sort materialization
    val top = exact.orderBy(col("exact_cnt").desc, col("word")).limit(k)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("exact_cnt").desc, col("word")))
        .cast("long"))
    val grid = tok.agg(expr(s"cms_sketch(word, $depth, $width)").as("grid"))
    top.withColumn("h", md5(col("word")))
      .crossJoin(broadcast(grid))
      .withColumn("cms_est", expr(
        s"""array_min(transform(sequence(0, ${depth - 1}), r ->
           |  element_at(grid, CAST(r * $width
           |    + CAST(conv(substring(h, r * 8 + 1, 8), 16, 10) AS BIGINT)
           |      % $width AS INT) + 1)))""".stripMargin))
      .withColumn("overcount", col("cms_est") - col("exact_cnt"))
      .select(col("rank"), col("word"), col("exact_cnt"), col("cms_est"),
        col("overcount"))
      .orderBy(col("rank"))
  }

  /** [[cmsHeavyHitters]] with the grid build SHARDED AND MERGED — CMS
    * counters are add-mergeable, so per-shard grids combine by
    * element-wise `+` and the merged estimates equal the single-pass
    * grid's bit for bit (q162 shares q139's oracle verbatim). The
    * roll-up property's batch proof, beside `Streams.cmsTrack`'s
    * cross-micro-batch form. Exact top-k stays the normal calibration
    * twin — only the grid path is sharded. */
  def cmsHeavyHittersMerged(docs: DataFrame, shard: Column,
      depth: Int = 4, width: Int = 1024, k: Int = 20,
      textCol: String = "text"): DataFrame = {
    require(depth >= 1 && depth * 8 <= 32, s"depth=$depth needs ≤32 hex chars")
    graft.functions.Functions.registerAll(docs.sparkSession)
    val tok = docs.select(shard.as("_sh"),
      explode(split(col(textCol), " ")).as("word"))
    val exact = tok.groupBy(col("word")).agg(count(lit(1)).as("exact_cnt"))
    val top = exact.orderBy(col("exact_cnt").desc, col("word")).limit(k)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("exact_cnt").desc, col("word")))
        .cast("long"))
    val grid = tok.groupBy(col("_sh"))
      .agg(expr(s"cms_sketch(word, $depth, $width)").as("g"))
      .agg(expr(
        s"""aggregate(collect_list(g),
           |  array_repeat(CAST(0 AS BIGINT), ${depth * width}),
           |  (acc, x) -> zip_with(acc, x, (a, b) -> a + b))"""
          .stripMargin).as("grid"))
    top.withColumn("h", md5(col("word")))
      .crossJoin(broadcast(grid))
      .withColumn("cms_est", expr(
        s"""array_min(transform(sequence(0, ${depth - 1}), r ->
           |  element_at(grid, CAST(r * $width
           |    + CAST(conv(substring(h, r * 8 + 1, 8), 16, 10) AS BIGINT)
           |      % $width AS INT) + 1)))""".stripMargin))
      .withColumn("overcount", col("cms_est") - col("exact_cnt"))
      .select(col("rank"), col("word"), col("exact_cnt"), col("cms_est"),
        col("overcount"))
      .orderBy(col("rank"))
  }

  /** The word-`n`-gram generator shared by the Bloom operators —
    * [[TextStats.decontaminate]]'s exact enumeration (offsets
    * 0..min(len−n, 0-floored, 4096), space-joined slices) so the Bloom
    * prefilter and the exact semi-join see the SAME gram stream. */
  private def gramsOf(docs: DataFrame, evalPred: Column, n: Int,
      idCol: String, textCol: String): DataFrame =
    docs.withColumn("ws", split(col(textCol), " "))
      .select(col(idCol), col("ws"), evalPred.as("is_eval"))
      .select(col(idCol), col("is_eval"), explode(expr(
        s"""transform(sequence(0, least(greatest(size(ws) - $n, 0), 4096)),
           |  i -> array_join(slice(ws, i + 1, $n), ' '))""".stripMargin))
        .as("gram"))

  /** The `hashes` Bloom bit positions of a gram: md5 of
    * `"<r>#<gram>"`, first 4 bytes unsigned, mod `bits` — the repo's
    * standard md5-derivation (replayable by `('0x' ||
    * substr(md5(...), 1, 8))::BIGINT % bits`). */
  private def positionsExpr(hashes: Int, bits: Int): String =
    s"""transform(sequence(0, ${hashes - 1}), r ->
       |  CAST(conv(substring(md5(concat(CAST(r AS STRING), '#', gram)),
       |    1, 8), 16, 10) AS BIGINT) % $bits)""".stripMargin

  /** The SET Bloom bit positions of the eval side — ≤ `bits` distinct
    * longs (the benchmark side is bounded by definition), the table an
    * executor-side prefilter broadcasts or a driver builds an
    * [[graft.functions.BloomModelRef]] from. */
  def bloomEvalBits(docs: DataFrame, evalPred: Column, n: Int = 3,
      bits: Int = 65536, hashes: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    gramsOf(docs, evalPred, n, idCol, textCol)
      .filter(col("is_eval"))
      .select(explode(expr(positionsExpr(hashes, bits))).as("p"))
      .distinct()

  /** Bloom-filter benchmark decontamination, relational form: flag
    * every training doc holding ≥1 word-`n`-gram whose `hashes` Bloom
    * positions are ALL set by the eval side's grams — alongside the
    * exact contamination verdict ([[TextStats.decontaminate]]) and the
    * false-positive marker. Bloom can only over-flag (`bloom_hit` ⊇
    * `exact_hit` — no false negatives by construction); the fp column
    * is the measured cost of replacing the exact gram semi-join with a
    * bounded bit set.
    *
    * 100 TB shape: the bit set is ≤ `bits` rows (broadcast); the
    * corpus side is one narrow gram explode + a broadcast semi-join +
    * doc-keyed aggregate — the same discipline as q77, with the eval
    * GRAM set (unbounded vocabulary strings) replaced by a fixed-size
    * integer set. The compiled narrow twin
    * ([[graft.functions.BloomDecontam]]) drops even that explode. */
  def bloomDecontaminate(docs: DataFrame, evalPred: Column, n: Int = 3,
      bits: Int = 65536, hashes: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val grams = gramsOf(docs, evalPred, n, idCol, textCol)
    // the eval gram SET feeds both the bit-position build and the exact
    // verdict below — one eval-bounded pass, materialized once (lazy:
    // the first action pays it, every later consumer reads the blocks)
    val evalGrams = grams.filter(col("is_eval"))
      .select(col("gram")).distinct()
      .localCheckpoint(false)
    val evalBits = evalGrams
      .select(explode(expr(positionsExpr(hashes, bits))).as("p"))
      .distinct()
    // the corpus gram stream runs ONCE: the (doc, gram) pairs whose
    // positions are all set are candidate-bounded, so the EXACT verdict
    // derives from them by one semi-join against the eval gram set —
    // Bloom has no false negatives, so every exactly-shared gram is a
    // candidate (guide §3.2: the filter that already exists pre-filters
    // the exact join's corpus side; previously the exact stage re-ran
    // the full corpus gram explode a second time)
    val candidates = grams.filter(!col("is_eval"))
      .select(col(idCol), col("gram")).distinct()
      .select(col(idCol), col("gram"),
        explode(expr(positionsExpr(hashes, bits))).as("p"))
      .join(broadcast(evalBits), Seq("p"), "left_semi")
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("n_set"))
      .filter(col("n_set") === hashes)
      .select(col(idCol), col("gram"))
      .localCheckpoint(false)
    val bloomDocs = candidates
      .select(col(idCol)).distinct()
      .withColumn("bloom_hit", lit(true))
    val exactDocs = candidates
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("exact_hit", lit(true))
    docs.filter(!evalPred).select(col(idCol))
      .join(bloomDocs, Seq(idCol), "left")
      .join(exactDocs, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("bloom_hit"), lit(false)).as("bloom_hit"),
        coalesce(col("exact_hit"), lit(false)).as("exact_hit"))
      .withColumn("false_pos", col("bloom_hit") && !col("exact_hit"))
      .orderBy(col(idCol))
  }

  /** The 48-bit md5-derived lane salts for [[sourceSimilarity]] —
    * deterministic ("sm:i" tags), so the oracle lists the identical
    * constants. */
  private[graft] def simSalts(lanes: Int): Seq[Long] =
    Seq.tabulate(lanes) { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(s"sm:$i".getBytes("UTF-8"))
      // first 12 hex chars = first 6 bytes, unsigned 48-bit — the exact
      // value of ('0x' || substr(md5('sm:i'), 1, 12))::BIGINT
      ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
        ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
        ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
    }

  /** Source-pair vocabulary similarity: MinHash-estimated Jaccard over
    * each source's token SET beside the exact Jaccard (the q94
    * calibration pattern at source granularity — "which crawls are
    * near-copies of each other" before any doc-level work runs).
    *
    * Per-source signature = `lanes` salted minima over the distinct
    * tokens' 48-bit md5 hashes — pure SELECTIONS riding ONE
    * partial-aggregable groupBy (shuffle ≤ tasks × |sources| × lanes),
    * so the sketch side never holds a vocabulary anywhere. Estimate =
    * matching lanes / lanes (an exact dyadic double — no rounding
    * discipline). The exact intersection join is the test-scale twin;
    * at 100 TB you compare signatures alone: |sources|² pairs × lanes
    * longs, driver-trivial. */
  def sourceSimilarity(docs: DataFrame, lanes: Int = 16,
      sourceCol: String = "source", textCol: String = "text"): DataFrame = {
    val salts = simSalts(lanes)
    val tok = docs.select(col(sourceCol).as("source"),
      explode(split(col(textCol), " ")).as("w")).distinct()
    val h = tok.select(col("source"),
      conv(substring(md5(col("w")), 1, 12), 16, 10).cast("long").as("h48"))
    val sig = h.groupBy(col("source"))
      .agg(count(lit(1)).as("n_tok"),
        salts.zipWithIndex.map { case (s, i) =>
          min(expr(s"h48 ^ ${s}L")).as(s"_m$i") }: _*)
    val a = sig.select(col("source").as("src_a") +: col("n_tok").as("n_a") +:
      salts.indices.map(i => col(s"_m$i").as(s"_a$i")): _*)
    val b = sig.select(col("source").as("src_b") +: col("n_tok").as("n_b") +:
      salts.indices.map(i => col(s"_m$i").as(s"_b$i")): _*)
    val matches = salts.indices
      .map(i => when(col(s"_a$i") === col(s"_b$i"), 1).otherwise(0))
      .reduce(_ + _)
    val inter = tok.select(col("source").as("src_a"), col("w"))
      .join(tok.select(col("source").as("src_b"), col("w")), Seq("w"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("n_match", matches.cast("long"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("est_j",
        col("n_match").cast("double") / lit(lanes.toDouble))
      .withColumn("true_j",
        round(col("n_inter").cast("double")
          / (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 6)
          + lit(0.0))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_inter"), col("n_match"), col("est_j"), col("true_j"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Collect the eval side's Bloom bit set into a packed long array —
    * driver-bounded by construction (≤ `bits` bits = `bits`/64 longs;
    * the eval side is a benchmark, not the corpus) — for
    * [[graft.functions.BloomModelRef]]'s compiled narrow probe. */
  def bloomBitsArray(docs: DataFrame, evalPred: Column, n: Int = 3,
      bits: Int = 65536, hashes: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): Array[Long] = {
    val arr = new Array[Long](bits >> 6)
    bloomEvalBits(docs, evalPred, n, bits, hashes, idCol, textCol)
      .collect().foreach { r =>
        val p = r.getLong(0)
        arr((p >>> 6).toInt) |= 1L << (p & 63)
      }
    arr
  }
}
