package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Text-analysis operators over a document table — language scoring,
  * quality features, token counting, fingerprints. All narrow per-row
  * transforms (plus one doc-level aggregate for shingle fingerprints):
  * embarrassingly parallel at any corpus size.
  */
object TextStats {

  /** Marker-vocabulary voting scores + argmax prediction. `markers` is
    * ordered: earlier entries win score ties. */
  def langScore(docs: DataFrame, markers: Seq[(String, Seq[String])],
      textCol: String = "text"): DataFrame = {
    val scored = markers.foldLeft(docs) { case (df, (name, ws)) =>
      df.withColumn(s"s_$name",
        expr(s"size(filter(split($textCol, ' '), w -> w IN (${ws.map("'" + _ + "'").mkString(",")})))")
          .cast("long"))
    }
    val names = markers.map(_._1)
    val best = greatest(names.map(n => col(s"s_$n")): _*)
    val pred = names.tail.foldLeft(
      when(col(s"s_${names.head}") === best, names.head)) { (acc, n) =>
      acc.when(col(s"s_$n") === best, n)
    }
    scored.withColumn("pred", pred)
  }

  /** Length / punctuation / stopword features + weighted quality. */
  def quality(docs: DataFrame, stopwords: Seq[String],
      textCol: String = "text"): DataFrame = {
    val nWords = size(split(col(textCol), " ")).cast("long")
    val stop = expr(
      s"size(filter(split($textCol, ' '), w -> w IN (${stopwords.map("'" + _ + "'").mkString(",")})))")
      .cast("double")
    val punct = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "[.,!?;:]", ""))).cast("double")
    docs
      .withColumn("n_chars", length(col(textCol)).cast("long"))
      .withColumn("n_words", nWords)
      .withColumn("stop_ratio", round(stop / nWords.cast("double"), 6))
      .withColumn("punct_ratio", round(punct / length(col(textCol)).cast("double"), 6))
      .withColumn("quality", round(
        lit(0.4) * (stop / nWords.cast("double")) +
          lit(0.3) * least(nWords.cast("double") / 100.0, lit(1.0)) +
          lit(0.3) * (lit(1.0) - punct / length(col(textCol)).cast("double")), 6))
  }

  /** Whitespace + regex ("BPE-ish") token counts. The regex scan runs
    * ONCE per row (materialized in a prior projection — Spark does not
    * CSE `regexp_extract_all` across sibling projections, and the regex
    * is the dominant per-row cost here). */
  def tokenCounts(docs: DataFrame, textCol: String = "text",
      tokenPattern: String = "[a-z]+|[0-9]+"): DataFrame =
    docs
      .withColumn("re_tokens",
        size(regexp_extract_all(col(textCol), lit(tokenPattern), lit(0))).cast("long"))
      .withColumn("ws_tokens", size(split(col(textCol), " ")).cast("long"))
      .withColumn("chars_per_token",
        round(length(col(textCol)).cast("double") /
          col("re_tokens").cast("double"), 6))

  /** TF-IDF top-k terms per document: tf = in-doc term count, idf =
    * ln(N/df) over the corpus; the df table is a small broadcastable
    * aggregate, so scoring stays a narrow join at any corpus size. */
  def tfidfTopK(docs: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("w"))
    val tf = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    // document frequency via groupBy (partial aggregation: map-side
    // combine collapses hot stopwords BEFORE the shuffle) + broadcast
    // join back onto tf. A `count() OVER (PARTITION BY w)` window would
    // funnel every occurrence-row of a common word into one task — at
    // corpus scale a stopword partition is billions of rows. The df
    // table is vocabulary-sized, well under broadcast threshold.
    val dfTab = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val withDf = tf.join(broadcast(dfTab), Seq("w"))
    // doc count stays IN the plan (broadcast 1-row aggregate) — no
    // eager Spark job at DataFrame-construction time
    val n = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    val win = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("w"))
    withDf
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 6))
      .withColumn("rank", row_number().over(win).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("w").as("term"),
        col("tf"), col("df"), col("tfidf"))
  }

  /** Corpus n-gram counts (collocations): adjacent word n-tuples per
    * doc built by one array transform (no n-way explode), counted
    * corpus-wide with map-side combine, top-k by count — the n-gram
    * statistics pass of a training pipeline. */
  /** Start positions are capped at 4096 per document — the same shared
    * cross-engine contract as the shingle path (MinHash48.MaxShinglePos
    * mirrored by the oracles' constant `generate_series(1, 4096)`
    * bound); an uncapped Spark side would silently diverge from the
    * oracle on >4096-word documents. */
  private val MaxNgramPos = graft.functions.MinHash48.MaxShinglePos

  def ngramCounts(docs: DataFrame, n: Int, k: Int,
      textCol: String = "text"): DataFrame = {
    require(n >= 2, s"ngram order must be >= 2, got $n")
    val joined = (0 until n).map(o => s"element_at(ws, i + $o)")
      .mkString("concat_ws(' ', ", ", ", ")")
    docs
      .select(expr(s"split($textCol, ' ')").as("ws"))
      .filter(size(col("ws")) >= n)
      .select(explode(expr(
        s"transform(sequence(1, least(size(ws) - ${n - 1}, $MaxNgramPos)), i -> $joined)"))
        .as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(k)
  }

  /** Bigram specialization (the q71 oracle shape). */
  def bigramCounts(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame =
    ngramCounts(docs, 2, k, textCol).withColumnRenamed("ngram", "bigram")

  /** Repetition signals (the Gopher-rule family of pretraining quality
    * filters, Rae et al. 2021): duplicate-word fraction (narrow —
    * array_distinct per row) and top-bigram fraction (per-doc bigram
    * aggregate; doc-keyed, partial-aggregable). High values flag
    * boilerplate/spam for removal before training. */
  def repetition(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      expr(s"split($textCol, ' ')").as("ws"))
    val narrow = base.select(col("doc_id"),
      size(col("ws")).cast("long").as("n_words"),
      round(lit(1.0) - size(array_distinct(col("ws"))).cast("double")
        / size(col("ws")).cast("double"), 6).as("dup_word_frac"))
    val topBigram = base
      .filter(size(col("ws")) >= 2)
      // same 4096-position cap as ngramCounts (shared oracle contract)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, least(size(ws) - 1, $MaxNgramPos)),
           |  i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1)))""".stripMargin))
        .as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(round(max(col("c")).cast("double") / sum(col("c")).cast("double"), 6)
        .as("top_bigram_frac"))
    narrow.join(topBigram, Seq("doc_id"), "left")
      .withColumn("top_bigram_frac", coalesce(col("top_bigram_frac"), lit(0.0)))
  }

  /** Stopword/boilerplate scrub: remove a word set (word-boundary
    * regex), squeeze whitespace, report the token reduction — the
    * cleaning pass between quality scoring and tokenization. Narrow
    * per-row regex; the pattern is a broadcast-free literal. */
  def scrub(docs: DataFrame, stopwords: Seq[String],
      textCol: String = "text"): DataFrame = {
    // words interpolate into a regex alternation: restrict to word
    // characters so no metacharacter can corrupt the pattern (and \b
    // next to punctuation would be ill-defined anyway)
    require(stopwords.nonEmpty && stopwords.forall(_.matches("[A-Za-z0-9_]+")),
      s"stopwords must be non-empty word tokens, got $stopwords")
    val pat = s"\\b(${stopwords.mkString("|")})\\b"
    docs
      .withColumn("n_words_before", size(split(col(textCol), " ")).cast("long"))
      .withColumn("cleaned",
        trim(regexp_replace(regexp_replace(col(textCol), pat, ""), " +", " ")))
      // a fully-scrubbed doc has 0 surviving words, not 1 (split of the
      // empty string yields one empty token on every engine)
      .withColumn("n_words_after",
        when(col("cleaned") === "", lit(0L))
          .otherwise(size(split(col("cleaned"), " ")).cast("long")))
  }

  /** PII scrub: redact emails then phone-shaped digit runs (applied in
    * that order, so a phone pattern can never eat an address's digits
    * first), counting each. Pure narrow per-row regex — the standard
    * pre-training privacy pass. Patterns avoid backreferences and
    * lookaround so Java (Spark) and RE2-family (DuckDB/Go) engines
    * agree byte for byte. */
  def scrubPii(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"
    docs
      .withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(email), lit(0))).cast("long"))
      .withColumn("no_email", regexp_replace(col(textCol), email, "<EMAIL>"))
      .withColumn("n_phones",
        size(regexp_extract_all(col("no_email"), lit(phone), lit(0))).cast("long"))
      .withColumn("cleaned", regexp_replace(col("no_email"), phone, "<PHONE>"))
      .select(col(idCol), col("cleaned"), col("n_emails"), col("n_phones"))
  }

  /** Benchmark decontamination: flag every training document sharing at
    * least `minShared` word n-grams with the evaluation set. The eval
    * gram table is benchmark-bounded (thousands of docs, not billions),
    * so the membership check is a broadcastable semi-join against a
    * DISTINCT gram set; the training side stays one narrow explode +
    * one doc-keyed aggregate. Gram positions cap at 4096 (the shared
    * cross-engine enumeration bound). */
  def decontaminate(docs: DataFrame, evalPred: org.apache.spark.sql.Column,
      n: Int = 3, minShared: Int = 1, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val grams = docs
      .withColumn("ws", split(col(textCol), " "))
      .select(col(idCol), col("ws"), evalPred.as("is_eval"))
      .select(col(idCol), col("is_eval"), explode(expr(
        s"""transform(sequence(0, least(greatest(size(ws) - $n, 0), 4096)),
           |  i -> array_join(slice(ws, i + 1, $n), ' '))""".stripMargin)).as("gram"))
    val evalGrams = grams.filter(col("is_eval")).select(col("gram")).distinct()
    val shared = grams.filter(!col("is_eval"))
      .join(evalGrams, Seq("gram"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_grams"))
    docs.filter(!evalPred).select(col(idCol))
      .join(shared, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"))
      .withColumn("contaminated", col("n_shared_grams") >= minShared)
  }

  /** Intra-document repetition removal (the "drop duplicated lines
    * within a document" quality pass, with fixed `chunkWords`-word
    * chunks standing in for lines — the within-doc counterpart of
    * `Dedup.dedupChunks`' corpus-wide pass): every repeat of a chunk
    * already seen EARLIER IN THE SAME DOC is dropped, first occurrences
    * keep their order. Entirely per-row array algebra — chunk
    * enumeration, first-occurrence filter (`array_position(ch, c) =
    * i + 1`), reassembly — so the plan is FULLY NARROW: no explode, no
    * window, no shuffle of any kind; embarrassingly parallel at any
    * corpus size. Chunk positions cap at 4096 (the shared cross-engine
    * enumeration bound). */
  def dedupWithinDoc(docs: DataFrame, chunkWords: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val k = chunkWords
    docs
      .withColumn("ws", split(col(textCol), " "))
      .withColumn("ch", expr(
        s"""transform(sequence(0, least(int(ceil(size(ws) / CAST($k AS DOUBLE))) - 1, 4096)),
           |  i -> array_join(slice(ws, i * $k + 1, $k), ' '))""".stripMargin))
      .withColumn("kept", expr("filter(ch, (c, i) -> array_position(ch, c) = i + 1)"))
      .select(col(idCol),
        array_join(col("kept"), " ").as("kept_text"),
        size(col("ch")).cast("long").as("n_chunks"),
        (size(col("ch")) - size(col("kept"))).cast("long").as("n_dropped_chunks"))
  }

  /** Unigram language-model quality score: each document's average
    * negative log-probability under a corpus-trained unigram model with
    * a bounded vocabulary (the cheap stand-in for the perplexity filter
    * every pre-training pipeline runs — CCNet uses a real LM, the
    * mechanics are identical). Words outside the top-`vocabSize` vocab
    * score at the OOV floor count of 1 (probability 1/N). Lower
    * `avg_nll` = more stereotypical text; boilerplate scores low, line
    * noise scores high.
    *
    * Scale shape: one corpus pass builds the word histogram (partial-
    * aggregable groupBy), which is localCheckpointed ONCE — it is
    * vocab-bounded, far smaller than the corpus, and both the top-K
    * selection and the total-token count derive from it without
    * re-scanning the corpus. Top-K is `orderBy.limit` (a distributed
    * TakeOrdered, never a single-partition window), the vocab is
    * K-bounded → broadcast joined, and scoring is one narrow pass +
    * one doc-keyed partial aggregate. Per-word NLL terms are rounded
    * to 9 decimals and summed as DECIMAL(18,9) so the per-doc sum is
    * exact and order-independent — bit-identical cross-engine. */
  def lmScore(docs: DataFrame, vocabSize: Int = 4096,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val words = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
    // vocab-bounded histogram, materialized once: serves the top-K AND
    // the total-token count without a second corpus scan (its blocks
    // back the returned plan; ContextCleaner frees them when dropped)
    val hist = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val vocab = hist.orderBy(col("c").desc, col("w")).limit(vocabSize)
    val total = hist.agg(sum(col("c")).as("n_total"))
    words
      .join(broadcast(vocab), Seq("w"), "left")
      .crossJoin(broadcast(total))
      .withColumn("nll",
        round(-log(coalesce(col("c"), lit(1L)).cast("double") /
          col("n_total").cast("double")), 9).cast("decimal(18,9)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        round(sum(col("nll")).cast("double") / count(lit(1)), 6).as("avg_nll"))
  }

  /** Per-document Shannon entropy of the word distribution — the
    * Gopher-style entropy filter: low-entropy documents are dominated
    * by a few repeated words (boilerplate, keyword stuffing, SEO spam),
    * high-entropy documents have diverse vocabulary. Uses the identity
    * H = ln(t) − (Σ c·ln c)/t over per-doc word counts c (total t), so
    * the only logs are per-distinct-word.
    *
    * Scale shape: two doc-keyed partial-aggregable groupBys (word
    * counts, then the entropy reduction) — no windows, no joins, no
    * corpus-wide state. Cross-engine determinism: each ln(c) is rounded
    * to 9 decimals and the c·ln(c) products are summed as exact
    * DECIMALs, so the per-doc sum is order-independent (the lmScore
    * discipline). */
  def wordEntropy(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val cw = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    // the count multiplier must be a NARROW decimal: a LongType operand
    // promotes to DECIMAL(20,0), the product type 18+20+1=39 exceeds
    // Spark's 38-digit cap, and the precision-loss rule silently drops
    // the products to scale 8 — each term loses its 9th decimal, which
    // flipped a 6-dp-midpoint entropy (sf0.1 doc 2600: raw value
    // 3.0731554999…) one ulp above the oracle. DECIMAL(10,0) keeps the
    // product at (29,9): exact, order-free, within the cap.
    cw.groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        sum(round(log(col("c").cast("double")), 9).cast("decimal(18,9)")
          * col("c").cast(org.apache.spark.sql.types.DecimalType(10, 0))).as("s"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        round(round(log(col("n_words").cast("double")), 9)
          - col("s").cast("double") / col("n_words"), 6).as("entropy"))
  }

  /** Per-group length standardization: z-score of `valueCol` against its
    * group's (population) mean/stddev + outlier flag — the per-source
    * length-anomaly screen run before mixing corpora (a source whose
    * docs are 5σ long is usually concatenation junk).
    *
    * Scale shape: the group stats are ONE partial-aggregable groupBy
    * producing a group-bounded table (|sources|, not |docs|) that
    * broadcasts back onto the corpus — no window over the full corpus
    * (a `stddev() OVER (PARTITION BY source)` would shuffle every row
    * to its source's partition: a hot source = a hot partition).
    * Cross-engine determinism: moments are EXACT integer sums, so
    * mean/variance are order-independent; z is one fixed IEEE
    * expression over them, rounded to 6. The sums accumulate in
    * DECIMAL(38,0) — a LongType sum-of-squares silently WRAPS under
    * default (non-ANSI) Spark once Σv² passes 2⁶³ (~1e7 docs of ~1e6
    * chars), while the DuckDB oracle sums in HUGEINT; DECIMAL(18,0)
    * operands keep the product at DECIMAL(37,0), inside Spark's
    * 38-digit precision cap, and the ~1e38 sum bound matches
    * HUGEINT's. */
  def lengthZscore(docs: DataFrame, byCol: String = "source",
      valueCol: String = "n_chars", idCol: String = "doc_id",
      outlierZ: Double = 2.0): DataFrame = {
    val v = col(valueCol).cast("decimal(18,0)")
    val stats = docs.groupBy(col(byCol)).agg(
      count(lit(1)).as("n"),
      sum(v).as("s"),
      sum(v * v).as("s2"))
    val meanV = col("s").cast("double") / col("n").cast("double")
    docs.select(col(idCol), col(byCol), col(valueCol))
      .join(broadcast(stats), Seq(byCol))
      .withColumn("mean_v", meanV)
      .withColumn("var_v",
        col("s2").cast("double") / col("n").cast("double")
          - col("mean_v") * col("mean_v"))
      .withColumn("z", when(col("var_v") > 0,
          round((col(valueCol).cast("double") - col("mean_v"))
            / sqrt(col("var_v")), 6))
        .otherwise(lit(0.0)))
      .select(col(idCol), col(byCol), col(valueCol),
        round(col("mean_v"), 6).as("mean_chars"),
        col("z"),
        (abs(col("z")) >= outlierZ).as("is_outlier"))
  }

  /** Out-of-vocabulary rate per document against the corpus's own
    * top-`vocabSize` word vocabulary — the tokenizer-coverage signal
    * (how much of each doc a fixed vocab fails to cover; docs that are
    * mostly OOV are line noise or the wrong language).
    *
    * Scale shape: the lmScore discipline — histogram via partial-
    * aggregable groupBy, top-K via distributed TakeOrdered (never a
    * single-partition window), K-bounded vocab broadcast back, one
    * doc-keyed aggregate. Ties at the vocab boundary break by word so
    * the vocab set is deterministic cross-engine. */
  def oovRate(docs: DataFrame, vocabSize: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val words = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("w"))
    val vocab = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(vocabSize)
      .select(col("w"), lit(1).as("in_vocab"))
    words.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_words").cast("double"), 6))
  }

  /** Adjacent-character-pair statistics within words — the counting pass
    * of one BPE merge iteration (the pair with the top count is the next
    * merge a tokenizer trainer would pick). Word positions cap at 4096
    * per doc and pair positions at `MaxWordPairPos` per word — the
    * engine-wide enumeration-bound contract shared with the oracles.
    *
    * Scale shape: narrow per-row array transforms (never a char-level
    * explode of the raw text) + one corpus groupBy whose keys are
    * 2-char strings — the map-side combine collapses the stream to at
    * most |alphabet|² partial rows per task before any shuffle; top-k
    * is a distributed TakeOrdered. */
  val MaxWordPairPos = 64
  def bpePairStats(docs: DataFrame, k: Int = 20,
      textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(explode(expr(
        s"slice(split($textCol, ' '), 1, $MaxNgramPos)")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        s"transform(sequence(1, least(length(w) - 1, $MaxWordPairPos)), i -> substr(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)

  /** Text normalization — the canonicalization pass before hashing/
    * dedup (two byte-different renderings of the same content must
    * collapse to one fingerprint): casefold, strip control characters,
    * collapse whitespace runs, trim; reports whether anything changed
    * plus the canonical md5. Pure narrow per-row regex. The Unicode
    * NFC/accent-fold variant lives behind `normalizeUnicode` (a UDF —
    * java.text.Normalizer has no codegen'd builtin), spec-pinned
    * rather than oracle-checked because DuckDB has no NFC builtin. */
  def normalize(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .withColumn("canonical",
        trim(regexp_replace(
          regexp_replace(lower(col(textCol)), "[\\x00-\\x1F]", " "),
          " +", " ")))
      .select(col(idCol), col("canonical"),
        (col("canonical") =!= col(textCol)).as("changed"),
        md5(col("canonical")).as("canonical_hash"))

  /** URL canonicalization ([[graft.functions.UrlNorm]]'s contract:
    * lowercase scheme/host, fragment dropped, default ports dropped,
    * tracking params stripped order-preserving, bare-root `/` dropped,
    * public-suffix-free registered domain) as one compiled per-row
    * expression — the key column every crawl pipeline groups, dedups
    * and caps by before touching content. Fully narrow; malformed
    * URLs yield NULL outputs (count with `url_norm IS NULL`). Pair
    * with [[Corpus.dupProfileBySource]] keyed on `registered_domain`
    * for the per-host dup profile. */
  def urlNormalize(docs: DataFrame, urlCol: String = "url",
      idCol: String = "doc_id"): DataFrame = {
    graft.functions.Functions.registerAll(docs.sparkSession)
    docs.select(col(idCol), col(urlCol),
        expr(s"url_norm($urlCol)").as("u"))
      .select(col(idCol), col(urlCol),
        col("u.url_norm").as("url_norm"), col("u.host").as("host"),
        col("u.registered_domain").as("registered_domain"))
  }

  /** Unicode-deep variant: NFC normalization + accent folding (NFD →
    * strip combining marks) on top of `normalize`'s casefold/whitespace
    * canon. UDF-based (no Spark builtin); narrow. */
  def normalizeUnicode(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val fold = udf { (s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
        .replaceAll("\\p{M}+", "")
    }
    normalize(docs.withColumn(textCol, fold(col(textCol))), idCol, textCol)
  }

  /** Distributed BPE training: `nMerges` iterations of the classic
    * byte-pair-encoding loop — count adjacent symbol pairs corpus-wide
    * (OVERLAPPING occurrences, the standard statistic), pick the top
    * pair (ties break lexicographically so the vocabulary is
    * deterministic), rewrite every word by merging that pair
    * left-to-right non-overlapping — returning the learned merge table
    * (step, left, right, merged, pair_count). `bpePairStats` (q92) is
    * exactly one iteration's counting pass.
    *
    * Scale shape: ONE corpus pass builds the word HISTOGRAM (the
    * standard BPE-trainer representation — pair statistics are
    * identical when each distinct word's pairs are weighted by its
    * count), so every iteration runs over a VOCAB-bounded table, not
    * the corpus: a weighted pair-count groupBy (map-side combined),
    * one TakeOrdered(1), one narrow in-row rewrite (an `aggregate`
    * scan carrying (accumulated, pending) — the sorted-run
    * discipline). The symbol table is localCheckpointed each
    * iteration, so lineage stays one rewrite deep and iteration cost
    * is CONSTANT in `nMerges` (a naive chain re-evaluates i rewrites
    * at iteration i; a corpus-row trainer measured 36s/merge on a
    * 12M-word probe corpus vs sub-second on its 53k-word histogram).
    * Driver state is the k-bounded merge table. */
  def bpeTrain(docs: DataFrame, nMerges: Int = 10,
      textCol: String = "text"): Seq[(Int, String, String, String, Long)] = {
    val (merges, vocab) = bpeTrainVocab(docs, nMerges, textCol)
    vocab.unpersist(false)
    merges
  }

  /** [[bpeTrain]] plus the trained VOCABULARY — the final per-distinct-
    * word symbol table `(w, syms, cnt)` after all merges, which IS the
    * encoding of every corpus word: encoding the training corpus is a
    * vocab join + `size(syms)`, no per-row merge loop (the q150
    * roundtrip path; `bpeEncodeFast` remains the path for text the
    * vocabulary has not seen). The returned frame is localCheckpointed
    * — the caller owns the unpersist. */
  def bpeTrainVocab(docs: DataFrame, nMerges: Int = 10,
      textCol: String = "text"): (Seq[(Int, String, String, String, Long)], DataFrame) = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    // checkpoints are LAZY (round 15, guide §2.4 / VERDICT r14 item 5):
    // each round's pair-count collect MATERIALIZES the pending rewrite
    // in the same job, so a merge costs ONE blocking driver round-trip
    // instead of two (eager-rewrite job + collect job). The superseded
    // table's blocks are freed only AFTER the next table materializes —
    // a lazy checkpoint truncates lineage, so blocks freed early would
    // be unrecoverable, not recomputed.
    var syms = docs.filter(col(textCol).isNotNull)
      .select(explode(expr(s"slice(split($textCol, ' '), 1, $MaxNgramPos)")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), expr("split(w, '')").as("syms"), col("cnt"))
      .localCheckpoint(false)
    var prev: DataFrame = null // superseded table, freed post-materialization
    var fresh = true // syms not yet materialized by any action
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var step = 0
    var done = false
    while (step < nMerges && !done) {
      val top = syms
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
          .as("p"))
        .groupBy(col("p.l"), col("p.r")).agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      fresh = false
      if (prev != null) { prev.unpersist(false); prev = null }
      if (top.isEmpty) done = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val m = l + r
        step += 1
        merges += ((step, l, r, m, n))
        // left-to-right non-overlapping merge: pending symbol + emit
        val next = syms.select(col("w"), expr(
          s"""aggregate(syms,
             |  named_struct('acc', CAST(array() AS ARRAY<STRING>), 'pend', CAST(NULL AS STRING)),
             |  (st, s) -> IF(st.pend IS NULL,
             |    named_struct('acc', st.acc, 'pend', s),
             |    IF(st.pend = ${sqlLit(l)} AND s = ${sqlLit(r)},
             |      named_struct('acc', concat(st.acc, array(${sqlLit(m)})), 'pend', CAST(NULL AS STRING)),
             |      named_struct('acc', concat(st.acc, array(st.pend)), 'pend', s))),
             |  st -> IF(st.pend IS NULL, st.acc, concat(st.acc, array(st.pend))))""".stripMargin)
          .as("syms"), col("cnt"))
          .localCheckpoint(false) // lineage: one rewrite deep, always
        prev = syms
        syms = next
        fresh = true
      }
    }
    if (fresh) {
      // the final rewrite was never pulled through an action: pin it
      // now so the superseded table can be freed and the returned
      // vocab is a self-contained checkpoint (the caller-owns-
      // unpersist contract) — one job per CALL, where the eager form
      // paid one per merge
      syms.count()
    }
    if (prev != null) prev.unpersist(false)
    (merges.toSeq, syms)
  }

  /** Single-quoted SQL string literal with escaping (symbols come from
    * corpus text — they interpolate into the rewrite expression). */
  private def sqlLit(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** BPE encode — tokenize a corpus with a learned merge table (the
    * missing third of the tokenizer story: `bpePairStats` counts →
    * [[bpeTrain]] learns → this applies). Pass
    * `bpeTrain(docs).map(m => (m._2, m._3))` or any fixed (left, right)
    * merge list; merges apply IN TABLE ORDER, exactly the priority
    * semantics of the trainer.
    *
    * Representation: each word expands to space-delimited symbols
    * (`"hello"` → `" h e l l o "`), and merge (l, r → lr) is ONE
    * `replace(s, ' l r ', ' lr ')` — both boundaries of both symbols
    * are delimiter-checked, so a merge can never span symbols or match
    * a symbol prefix. `replace` scans left-to-right and resumes after
    * each replacement on every engine (Java and DuckDB agree), so the
    * segmentation is deterministic and CROSS-ENGINE IDENTICAL — the
    * oracle replays the same chain literally. Output is the token
    * stream as a string (tokens space-joined, words separated by the
    * `</w>` marker) + token count; detokenization is
    * `strip spaces, then marker → space` (round-trip spec-pinned).
    *
    * Scale shape: pure narrow per-row expression chain (|merges|
    * nested codegen'd replaces inside one `transform` lambda), zero
    * shuffles, streams unchanged; words cap at the engine-wide
    * `MaxNgramPos` enumeration bound. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = "concat(' ', regexp_replace(w, '(.)', ' $1'), ' ')"
    val chain = merges.foldLeft(base) { case (acc, (l, r)) =>
      s"replace($acc, ${sqlLit(s" $l $r ")}, ${sqlLit(s" $l$r ")})"
    }
    docs.filter(col(textCol).isNotNull)
      .withColumn("tokens", expr(
        s"array_join(transform(slice(split($textCol, ' '), 1, $MaxNgramPos), " +
          s"w -> trim($chain)), ' </w> ')"))
      .select(col(idCol), col("tokens"),
        size(split(col("tokens"), " ")).cast("long").as("n_tokens"))
  }

  /** BPE encode at production vocabulary scale — bit-identical output
    * to [[bpeEncode]] (BpeTokensSpec pins equality; q101 runs against
    * q100's oracle verbatim) through ONE compiled expression,
    * [[graft.functions.BpeTokens]], instead of |merges| nested
    * `replace` calls. The chain form is the ORACLE-REPLAYABLE
    * formulation and is exact at q100's 8 merges, but a real 32k-merge
    * vocabulary would exceed analyzer/codegen tree depth and rewrite
    * the full document string once per merge; `bpe_tokens` holds the
    * table as a constant reference object (expression size O(1) in
    * |merges|) and encodes each word over a symbol array behind a
    * per-executor word→encoding memo — the `bpeTrain` histogram trick
    * (work per DISTINCT word, 33× measured) without the explode +
    * join-back shuffle a materialized histogram would cost. Fully
    * narrow: zero shuffles, streams unchanged. */
  def bpeEncodeFast(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.BpeTokens.register(docs.sparkSession, merges)
    docs.filter(col(textCol).isNotNull)
      .withColumn("tokens", expr(s"bpe_tokens($textCol)"))
      .select(col(idCol), col("tokens"),
        size(split(col("tokens"), " ")).cast("long").as("n_tokens"))
  }

  /** Composite pretraining quality gate (the Gopher/C4 rule stack as ONE
    * verdict operator): word-count bounds, duplicate-word fraction,
    * top-bigram fraction, and word-entropy floor, combined into a
    * `reason_mask` bitmask (bit set = rule violated; 1=length,
    * 2=dup-word, 4=top-bigram, 8=entropy) and a `keep` verdict — what a
    * pipeline actually materializes before tokenization.
    *
    * Built by composing `repetition` and `wordEntropy` (both doc-keyed
    * partial-aggregable aggregates) with one doc-keyed join — no new
    * shuffle shapes; thresholds compare against the 6-decimal ROUNDED
    * signals both engines already agree on, so a boundary value can
    * never split the engines. */
  def gopherFilter(docs: DataFrame,
      minWords: Long = 20, maxWords: Long = 10000,
      maxDupWordFrac: Double = 0.6, maxTopBigramFrac: Double = 0.06,
      minEntropy: Double = 2.8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val rep = repetition(docs.filter(col(textCol).isNotNull), idCol, textCol)
    val ent = wordEntropy(docs, idCol, textCol)
      .select(col("doc_id"), col("entropy"))
    rep.join(ent, Seq("doc_id"))
      .withColumn("reason_mask",
        when(col("n_words") < minWords || col("n_words") > maxWords, 1L).otherwise(0L)
          + when(col("dup_word_frac") > maxDupWordFrac, 2L).otherwise(0L)
          + when(col("top_bigram_frac") > maxTopBigramFrac, 4L).otherwise(0L)
          + when(col("entropy") < minEntropy, 8L).otherwise(0L))
      .withColumn("keep", col("reason_mask") === 0L)
      .select(col("doc_id"), col("n_words"), col("dup_word_frac"),
        col("top_bigram_frac"), col("entropy"), col("reason_mask"), col("keep"))
  }

  /** The composite quality gate recomputed as PURE PER-ROW work —
    * bit-identical verdicts to `gopherFilter` (q96 runs against q93's
    * exact oracle; NarrowGateSpec pins the equality on random corpora)
    * with ZERO shuffles, so it composes onto Structured Streaming
    * unchanged (`Streams.qualityGate`) and onto batch as an
    * embarrassingly parallel map.
    *
    * The per-row statistics come from ONE compiled Catalyst expression,
    * [[graft.functions.GopherStats]] (`gopher_stats(text)`): word
    * count, distinct count, the exact entropy numerator in integer
    * nanos, top bigram multiplicity, and the capped bigram count, in
    * two hash-map passes of generated-code-callable Java. This replaced
    * the interpreted sorted-run `aggregate`/`array_sort` SQL form
    * (round 5) — higher-order lambdas are interpreted, paying a boxed
    * call per word plus two `array_sort`s per row; the compiled pass
    * measured 3.9× faster at sf0.1 (q96 1.53s → 0.39s min-of-N, now
    * ~3× faster than the relational q93 instead of slower) and keeps
    * the whole gate inside one codegen stage. Oracle parity is
    * preserved by construction: `gopher_stats` returns raw INTEGERS
    * (never pre-rounded doubles) — word/bigram counts plus
    * `ent_nanos` = Σ round(ln(c),9)·c in 10⁻⁹ units, the lossless
    * integer encoding of the DECIMAL(28,9) sum the SQL form
    * accumulated (GopherStatsSpec pins field-for-field equality with
    * that form, including `split(text, ' ')` empty-token semantics and
    * the 4096 bigram-start cap) — and every 6-dp rounding / double
    * division below is the SAME DataFrame expression the relational
    * gate uses, applied to decimals of identical value. Appends the
    * signal/verdict columns; every input column passes through. */
  def gopherFilterNarrow(docs: DataFrame,
      minWords: Long = 20, maxWords: Long = 10000,
      maxDupWordFrac: Double = 0.6, maxTopBigramFrac: Double = 0.06,
      minEntropy: Double = 2.8, textCol: String = "text"): DataFrame = {
    graft.functions.Functions.registerAll(docs.sparkSession)
    docs.filter(col(textCol).isNotNull)
      .withColumn("gs", expr(s"gopher_stats($textCol)"))
      .withColumn("n_words", col("gs.n_words"))
      .withColumn("dup_word_frac",
        round(lit(1.0) - col("gs.n_distinct").cast("double")
          / col("gs.n_words").cast("double"), 6))
      .withColumn("top_bigram_frac",
        when(col("gs.n_bigrams") === 0L, lit(0.0))
          .otherwise(round(col("gs.top_bigram_count").cast("double")
            / col("gs.n_bigrams").cast("double"), 6)))
      // ent_nanos × 10⁻⁹ reconstructs the exact DECIMAL entropy sum;
      // the DECIMAL→DOUBLE cast and the two roundings are verbatim the
      // relational form's final expression (wordEntropy)
      .withColumn("entropy",
        round(round(log(col("n_words").cast("double")), 9)
          - (col("gs.ent_nanos") * lit(BigDecimal("0.000000001")))
              .cast("double") / col("n_words"), 6))
      .withColumn("reason_mask",
        when(col("n_words") < minWords || col("n_words") > maxWords, 1L).otherwise(0L)
          + when(col("dup_word_frac") > maxDupWordFrac, 2L).otherwise(0L)
          + when(col("top_bigram_frac") > maxTopBigramFrac, 4L).otherwise(0L)
          + when(col("entropy") < minEntropy, 8L).otherwise(0L))
      .withColumn("keep", col("reason_mask") === 0L)
      .drop("gs")
  }

  /** Winnowing-style min-shingle + order-insensitive xor fingerprints.
    * Both are pure per-row expressions — minhash48's salt-0 lane for
    * the min shingle hash, xorfp48 for the distinct-word xor — so the
    * whole operator is one narrow select: no explode, no DISTINCT
    * shuffle, no aggregate, no join (the relational xor form is kept in
    * the DuckDB oracle and pinned equal by spec). */
  def fingerprints(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.Functions.registerAll(spark)
    // null text dropped — parity with the relational form + oracle
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
      expr(s"element_at(minhash48($textCol), 1)").as("fp_min_shingle"),
      expr(s"xorfp48($textCol)").as("fp_xor"))
  }

  /** Interpolated bigram-LM quality score — the step past [[lmScore]]'s
    * unigram model toward the CCNet-style perplexity filter: each
    * adjacent word pair scores `-ln(λ·P(w2|w1) + (1-λ)·P(w2))` with
    * λ = 0.5, where the bigram term comes from a TRUNCATED model (the
    * corpus's top-`topBigrams` pairs, context counts summed within the
    * truncated table so the model is self-consistent) and the unigram
    * backoff reuses [[lmScore]]'s top-`vocabSize` vocabulary with the
    * OOV count-1 floor. Pairs outside the bigram model fall back to
    * pure unigram mass (the interpolation never zeroes out), so every
    * position scores and the result is defined for any input. Docs with
    * fewer than two words have no pairs and drop out.
    *
    * Scale shape — the "model is bounded, corpus is not" contract that
    * makes LM filtering viable at 100 TB: both model tables (vocab,
    * bigrams + contexts, total) are top-K-bounded and BROADCAST, the
    * pair generator is narrow (zip of two slices), and the only
    * corpus-keyed shuffles are the two partial-aggregable histograms
    * plus the final doc-keyed rollup. The corpus is never joined
    * against an unbounded side. Cross-engine determinism follows the
    * lmScore discipline: per-pair NLL rounded to 9 dp, summed as exact
    * DECIMAL(18,9) (order-free), mean rounded to 6. */
  def bigramLmScore(docs: DataFrame, vocabSize: Int = 4096,
      topBigrams: Int = 4096, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // scale-gated spread before the corpus explodes (round 15): the
    // sf1 per-job timeline read the scoring pass at 4.1 s on TWO tasks —
    // the one-row-group corpus arrives as 1-2 splits and every
    // explode + partial-aggregate (word histogram, bigram histogram,
    // the scoring join) serializes there, growing linearly with the
    // corpus. No-op under the 2 MB gate (sf0.1 plans byte-identical)
    // and at production split counts — guide §2.5; the q133/q87
    // precedent. This falsifies the round-14 'bounded at any corpus
    // scale' claim for this operator: the BROADCAST BUILDS are
    // model-bounded, but the corpus-side aggregates feeding them are
    // not.
    val d = Par.spreadIfBig(docs.filter(col(textCol).isNotNull))
    val words = d
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
    val hist = words.groupBy(col("w")).agg(count(lit(1)).as("cu"))
      .localCheckpoint(true)
    val vocab = hist.orderBy(col("cu").desc, col("w")).limit(vocabSize)
      .withColumnRenamed("w", "w2")
    val total = hist.agg(sum(col("cu")).as("n_total"))
    val pairs = d
      .select(col(idCol), split(col(textCol), " ").as("a"))
      .select(col(idCol), explode(expr(
        """zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1),
          |         (x, y) -> struct(x AS w1, y AS w2))""".stripMargin)).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val bg = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      .orderBy(col("cb").desc, col("w1"), col("w2")).limit(topBigrams)
      .localCheckpoint(true)
    val ctx = bg.groupBy(col("w1")).agg(sum(col("cb")).as("cctx"))
    pairs
      .join(broadcast(bg), Seq("w1", "w2"), "left")
      .join(broadcast(ctx), Seq("w1"), "left")
      .join(broadcast(vocab), Seq("w2"), "left")
      .crossJoin(broadcast(total))
      .withColumn("nll", round(-log(
        lit(0.5) * coalesce(col("cb").cast("double") / col("cctx").cast("double"),
          lit(0.0)) +
        lit(0.5) * (coalesce(col("cu"), lit(1L)).cast("double") /
          col("n_total").cast("double"))), 9).cast("decimal(18,9)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("nll")).cast("double") / count(lit(1)), 6).as("avg_nll"))
  }

  /** Train the truncated interpolated-LM model [[bigramLmScore]]
    * scores with, as a driver-side [[graft.functions.LmModel]]: the
    * same two histogram jobs with the same fully-tie-broken top-K
    * truncation, collected — both tables are K-bounded, so the collect
    * is model-scale (≤ vocabSize + topBigrams rows), never
    * corpus-scale. */
  def trainLmModel(docs: DataFrame, vocabSize: Int = 4096,
      topBigrams: Int = 4096,
      textCol: String = "text"): graft.functions.LmModel = {
    // same scale-gated spread as bigramLmScore — the two corpus-sized
    // histogram aggregates serialize on the scan's splits otherwise
    val d = Par.spreadIfBig(docs.filter(col(textCol).isNotNull))
    val words = d.select(explode(split(col(textCol), " ")).as("w"))
    val hist = words.groupBy(col("w")).agg(count(lit(1)).as("cu"))
      .localCheckpoint(true)
    val vocab = hist.orderBy(col("cu").desc, col("w")).limit(vocabSize)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val nTotal = hist.agg(sum(col("cu"))).head().getLong(0)
    val bg = d
      .select(split(col(textCol), " ").as("a"))
      .select(explode(expr(
        """zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1),
          |         (x, y) -> struct(x AS w1, y AS w2))""".stripMargin)).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cb"))
      .orderBy(col("cb").desc, col("w1"), col("w2")).limit(topBigrams)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    new graft.functions.LmModel(vocab, bg, nTotal)
  }

  /** Persist an LM model: `path/vocab`, `path/bigrams`, `path/meta`
    * parquet — train once on a reference corpus, score any corpus (or
    * stream) forever after, the CCNet deployment shape. Model tables
    * are K-bounded, so this is metadata-scale I/O. */
  def writeLmModel(spark: SparkSession, model: graft.functions.LmModel,
      path: String): Unit = {
    import spark.implicits._
    model.vocab.toSeq.toDF("w", "cu")
      .write.mode("overwrite").parquet(s"$path/vocab")
    model.bigrams.toIndexedSeq.toDF("w1", "w2", "cb")
      .write.mode("overwrite").parquet(s"$path/bigrams")
    Seq(model.nTotal).toDF("n_total")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Reload a persisted LM model ([[writeLmModel]]). */
  def loadLmModel(spark: SparkSession, path: String): graft.functions.LmModel =
    new graft.functions.LmModel(
      Tables.read(spark, s"$path/vocab")
        .collect().map(r => (r.getString(0), r.getLong(1))),
      Tables.read(spark, s"$path/bigrams")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))),
      Tables.read(spark, s"$path/meta").head().getLong(0))

  /** Score a corpus against a FIXED LM model with the compiled
    * `bigram_lm` expression — the production/streaming twin of
    * [[bigramLmScore]] (which trains and scores in one query): fully
    * narrow, zero shuffles, zero joins; same verdicts bit-for-bit when
    * the model came from [[trainLmModel]] on the same corpus (q119
    * shares q118's oracle verbatim). Docs without a scoreable pair
    * (under two words, or null text) are dropped, matching the
    * relational form's inner pair-explode. */
  def lmScoreNarrow(spark: SparkSession, docs: DataFrame,
      model: graft.functions.LmModel, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    graft.functions.BigramLm.register(spark, model)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), expr(s"bigram_lm($textCol)").as("g"))
      .filter(col("g.n_pairs") > 0)
      .select(col(idCol), col("g.n_pairs").as("n_pairs"),
        col("g.avg_nll").as("avg_nll"))
  }

  /** DSIR-style importance weighting (Data Selection via Importance
    * Resampling): score every raw document by how much its
    * hashed-bigram feature distribution looks like a TARGET subcorpus
    * (`targetPred`, e.g. a trusted high-quality source) relative to the
    * raw pool — the principled replacement for hand-tuned quality
    * thresholds when composing a pretraining mix.
    *
    * Features are bigrams hashed into `buckets` buckets (md5 → first 8
    * hex chars → mod), so BOTH unigram tables are bounded by `buckets`
    * rows regardless of corpus size: the λ table
    * (λ_b = ln p̂_target(b) − ln p̂_raw(b), +1-smoothed, 9-dp DECIMAL)
    * is built from one partial-aggregable conditional count pass and
    * BROADCAST back — the per-doc score is then one narrow join + one
    * doc-keyed sum. `dsir_weight` is the per-feature MEAN log-ratio
    * (length-normalized; exact DECIMAL sum before the one double
    * division). Docs without a bigram feature score 0 with n_feats 0.
    * Target docs are excluded from the output (they are the reference,
    * not candidates). Scale: shuffles are the feature count (bounded
    * `buckets`) and the doc-keyed sum — nothing corpus² anywhere. */
  /** The hashed-bigram feature stream behind DSIR: one row per (doc,
    * bucket) feature occurrence, `is_target` carried. */
  private def dsirFeats(docs: DataFrame,
      targetPred: org.apache.spark.sql.Column, buckets: Int,
      idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), targetPred.as("is_target"),
        split(col(textCol), " ").as("ws"))
      .select(col(idCol), col("is_target"), explode(expr(
        s"""CASE WHEN size(ws) >= 2 THEN
           |  transform(sequence(1, least(size(ws) - 1, $MaxNgramPos)),
           |    i -> CAST(conv(substr(md5(concat_ws(' ', element_at(ws, i),
           |           element_at(ws, i + 1))), 1, 8), 16, 10) AS BIGINT)
           |         % $buckets)
           |ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin)).as("b"))

  /** The λ table: (b, lam DECIMAL(18,9)) for every bucket OBSERVED in
    * the corpus — bounded by `buckets` rows. */
  private def dsirLambda(feats: DataFrame, buckets: Int): DataFrame = {
    val counts = feats.groupBy(col("b")).agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val tot = counts.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    counts.crossJoin(broadcast(tot))
      .select(col("b"), expr(
        s"""CAST(round(ln(CAST(ct + 1 AS DOUBLE) / (nt + $buckets))
           |         - ln(CAST(cr + 1 AS DOUBLE) / (nr + $buckets)), 9)
           |AS DECIMAL(18,9))""".stripMargin).as("lam"),
      col("ct"), col("cr"))
  }

  def dsirWeights(docs: DataFrame, targetPred: org.apache.spark.sql.Column,
      buckets: Int = 1024, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val feats = dsirFeats(docs, targetPred, buckets, idCol, textCol)
    val lam = dsirLambda(feats, buckets).select(col("b"), col("lam"))
    val scored = feats.filter(!col("is_target"))
      .join(broadcast(lam), Seq("b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"), sum(col("lam")).as("s"))
      .select(col(idCol), col("n_feats"),
        round(col("s").cast("double") / col("n_feats"), 6).as("dsir_weight"))
    docs.filter(!targetPred).select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("dsir_weight"), lit(0.0)).as("dsir_weight"))
  }

  /** A trained DSIR model: the dense λ array (index = bucket), scale-9
    * BigDecimals so DECIMAL arithmetic downstream stays exact. Buckets
    * never observed in the training corpus carry the fully-smoothed
    * log-ratio (ct = cr = 0) — only novel stream-time bigrams ever read
    * them. */
  final case class DsirModel(lambda: IndexedSeq[java.math.BigDecimal],
      buckets: Int)

  /** Train a DSIR model: run the λ query ([[dsirWeights]]'s exact
    * table), collect the bucket-bounded result, densify. */
  def trainDsirModel(docs: DataFrame,
      targetPred: org.apache.spark.sql.Column, buckets: Int = 1024,
      idCol: String = "doc_id", textCol: String = "text"): DsirModel = {
    val feats = dsirFeats(docs, targetPred, buckets, idCol, textCol)
    val rows = dsirLambda(feats, buckets).collect()
    val seen = rows.map(r => r.getLong(0).toInt ->
      r.getDecimal(1).setScale(9)).toMap
    val nt = rows.map(_.getLong(2)).sum
    val nr = rows.map(_.getLong(3)).sum
    val unseen = new java.math.BigDecimal(java.lang.Double.toString(
      math.log(1.0 / (nt + buckets)) - math.log(1.0 / (nr + buckets))))
      .setScale(9, java.math.RoundingMode.HALF_UP)
    DsirModel(IndexedSeq.tabulate(buckets)(b =>
      seen.getOrElse(b, unseen)), buckets)
  }

  /** Persist a DSIR model: `path/lambda` (b, lam) + `path/meta`
    * (buckets) parquet — bucket-bounded, metadata-scale I/O. */
  def writeDsirModel(spark: SparkSession, model: DsirModel,
      path: String): Unit = {
    import spark.implicits._
    model.lambda.zipWithIndex
      .map { case (l, b) => (b, new scala.math.BigDecimal(l)) }
      .toDF("b", "lam")
      .write.mode("overwrite").parquet(s"$path/lambda")
    Seq(model.buckets).toDF("buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Reload a persisted DSIR model ([[writeDsirModel]]) — DECIMAL(38,18)
    * round-trips scale-9 values exactly. */
  def loadDsirModel(spark: SparkSession, path: String): DsirModel = {
    val buckets = Tables.read(spark, s"$path/meta").head().getInt(0)
    val byB = Tables.read(spark, s"$path/lambda")
      .collect().map(r => r.getInt(0) -> r.getDecimal(1).setScale(9)).toMap
    DsirModel(IndexedSeq.tabulate(buckets)(byB(_)), buckets)
  }

  /** Score a corpus (or stream — the plan is fully NARROW: no explode,
    * no join, no aggregate) against a FIXED DSIR model: per row, hash
    * each bigram to its bucket and sum the λ array's entries in exact
    * DECIMAL, then the same 6-dp mean as the relational form. On the
    * training corpus the verdicts are bit-identical to [[dsirWeights]]
    * (q126 shares q124's oracle VERBATIM — the q96/q119 oracle-twin
    * pattern): the summed DECIMAL terms are the same values, and
    * DECIMAL addition is order-free, so fusing the explode+join+groupBy
    * into one expression cannot move a single ulp. */
  def dsirScoreNarrow(docs: DataFrame, model: DsirModel,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // compiled per-row scorer (QcScore's argument, measured at sf1:
    // the interpreted HOF fold ran 4x slower than its DuckDB replay —
    // per-bigram concat+md5 through the interpreted string stack).
    // λ is scale-9 decimal; integer-nanos summation is the same exact
    // value, and (double) nanos / 1e9 is the same nearest double as
    // the DECIMAL(28,9) → DOUBLE cast, so the 6-dp mean is unchanged.
    graft.functions.DsirScore.register(docs.sparkSession,
      new graft.functions.DsirModelRef(
        model.lambda.map(_.movePointRight(9).longValueExact()).toArray))
    docs
      .select(col(idCol), col(textCol),
        expr(s"dsir_score($textCol)").as("g"))
      .select(col(idCol),
        coalesce(col("g.n_feats"), lit(0L)).as("n_feats"),
        when(col("g.n_feats").isNotNull && col("g.n_feats") > 0,
          round(col("g.s_nanos").cast("double") / lit(1000000000.0)
            / col("g.n_feats").cast("double"), 6))
          .otherwise(lit(0.0)).as("dsir_weight"))
  }

  /** Contamination-depth ladder: [[decontaminate]] at several n-gram
    * sizes in ONE pass — per raw doc, the count of its n-gram
    * occurrences shared with the eval set at each rung (4/8/16 by
    * default) and `contam_depth` = the longest rung with any overlap.
    * Short-gram overlap is common phrasing; long-gram overlap is
    * verbatim leakage — the ladder separates "mentions the benchmark's
    * vocabulary" from "contains the benchmark".
    *
    * One tagged generator per side ((n, gram) keys, each rung under
    * [[decontaminate]]'s 4096-start cap and short-doc convention), one
    * distinct over the eval side, one semi-join on (n, gram), one
    * conditional-count aggregate — 3 rungs cost one corpus scan, not
    * three. The generator is the compiled
    * [[graft.functions.GramKeys]] expression: grams travel as tagged
    * 64-bit sequence hashes, never as strings — string-equal iff
    * hash-equal (the space-join bijection, see GramKeys scaladoc), so
    * the shared-count outputs match the string-replaying oracle
    * exactly while the explode+shuffle carries longs instead of
    * up-to-16-word strings. */
  def contamLadder(docs: DataFrame, evalPred: org.apache.spark.sql.Column,
      sizes: Seq[Int] = Seq(4, 8, 16), idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(sizes.nonEmpty && sizes == sizes.sorted && sizes.distinct == sizes,
      s"sizes must be distinct ascending, got $sizes")
    graft.functions.GramKeys.register(docs.sparkSession, sizes)
    // NOT spread (round-14 measured negative): the corpus-side gram
    // explode does ride the scan's 1-2 splits, but its ~1 s job at the
    // 50k decade is not CPU-serialization-bound (spread to 34 tasks it
    // still read ~1 s — the stage's wall is the (n,g) shuffle write),
    // and the repartition itself cost +0.4 s net (1.77 → 2.16 s) since
    // BOTH gram references pay the exchange. Same-window stash A/B,
    // min-of-4.
    val grams = docs
      .select(col(idCol), evalPred.as("is_eval"),
        explode(expr(s"gram_keys($textCol)")).as("t"))
      .select(col(idCol), col("is_eval"), col("t.n").as("n"), col("t.h").as("g"))
    val evalGrams = grams.filter(col("is_eval"))
      .select(col("n"), col("g")).distinct()
    val sharedCols = sizes.map(n =>
      sum(when(col("n") === n, 1L).otherwise(0L)).as(s"shared$n"))
    // the eval side is BENCHMARK-bounded (|eval docs| × rungs × the
    // 4096-start cap), never corpus-proportional — broadcast it, so the
    // corpus-side gram stream joins where it is generated instead of
    // shuffling by (n, g). Round-14 measured that exchange as the
    // query's wall (the explode's ~1 s job at the 50k decade was
    // shuffle-WRITE bound — spreading the explode moved nothing); the
    // planner can't see it because post-explode size estimates are
    // inflated, hence the explicit hint (guide §3.1: estimates are
    // often badly wrong after explode — hint when you know a side is
    // bounded; same discipline as the eval-bounded builds in q118/q140).
    // The doc-id aggregate then completes map-side-partial and ships
    // |docs| rows, not the gram stream.
    val shared = grams.filter(!col("is_eval"))
      .join(broadcast(evalGrams), Seq("n", "g"), "left_semi")
      .groupBy(col(idCol))
      .agg(sharedCols.head, sharedCols.tail: _*)
    val depth = sizes.reverse.foldRight(lit(0L)) { (n, acc) =>
      when(col(s"shared$n") > 0, lit(n.toLong)).otherwise(acc)
    }
    docs.filter(!evalPred).select(col(idCol))
      .join(shared, Seq(idCol), "left")
      .select(col(idCol) +: sizes.map(n =>
        coalesce(col(s"shared$n"), lit(0L)).as(s"shared$n")): _*)
      .withColumn("contam_depth", depth)
  }

  /** Winnowing fingerprints (the MOSS document-fingerprint selection):
    * hash every k-gram, slide a w-gram window, keep each window's
    * minimum — guaranteeing any shared run of ≥ w+k-1 tokens between
    * two documents shares at least one selected fingerprint, at ~2/(w+1)
    * the density of the full k-gram set. The plagiarism/near-dup
    * fingerprint with a recall floor, vs [[graft.ext.Dedup]]'s MinHash
    * (probabilistic, fixed-size).
    *
    * Ties and determinism: the comparison key is hash·8192 + position
    * (positions are capped at [[graft.functions.MinHash48.MaxShinglePos]]
    * < 8192), so equal hashes resolve to the LEFTMOST occurrence —
    * a total order both engines replay exactly. Documents with fewer
    * than w k-grams emit nothing (no full window exists). Fully NARROW:
    * per row one transform + windowed array_min + array_distinct, then
    * the explode — no joins, no aggregates, embarrassingly parallel at
    * corpus scale; O(grams·w) work per row with w a small constant. */
  def winnow(docs: DataFrame, k: Int = 3, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && w >= 1, s"k=$k w=$w out of range")
    require(MaxNgramPos < 8192, "position must pack under the 8192 radix")
    // compiled per-row selection (graft.functions.WinnowKeys): even the
    // let-bound SQL form pays interpreted higher-order lambdas for the
    // per-gram md5 and per-window slice/array_min — 51s at sf1 where
    // the compiled loop needs seconds. Same key arithmetic, same
    // distinct-set output; m < w (including null/short docs) yields an
    // empty array the explode drops.
    val winnowKeys = graft.functions.WinnowKeys.register(docs.sparkSession, k, w)
    // scale-gated spread before the compiled selection: a one-row-group
    // corpus arrives in 1-2 splits and the per-row pass serializes
    // there (q133 at the 50k decade: two ~1 s two-task jobs — the
    // range-sort's sampling pass and the sort pass each run the
    // selection); no-op under 2 MB (sf0.1 gate) and at production
    // split counts, and a no-op for winnowCandidates, whose input is
    // already spread
    Par.spreadIfBig(docs.filter(col(textCol).isNotNull))
      .select(col(idCol), explode(expr(s"$winnowKeys($textCol)")).as("key"))
      .select(col(idCol), expr("key % 8192").as("pos"),
        expr("key DIV 8192").as("fp"))
  }

  /** Near-dup candidate pairs from the winnowing inverted index: docs
    * sharing ≥ `minShared` selected fingerprints. [[winnow]]'s guarantee
    * transfers — two docs sharing a long enough run WILL collide here
    * (recall floor), unlike MinHash banding's probabilistic recall; the
    * precision knob is `minShared`. The LSH-candidate discipline
    * applies unchanged: corpus-wide boilerplate fingerprints (df >
    * `maxDf` — headers, licence lines) are dropped from a COUNT
    * aggregate before any posting list materializes, so the self-join
    * is skew-free and per-fp work is bounded at df(df−1)/2 ≤ 45; the
    * pair aggregate is partial-aggregable. Feed the pairs to
    * [[graft.ext.Dedup.verifyCandidates]] / [[graft.ext.Dedup.clusters]]
    * exactly like the MinHash path. */
  def winnowCandidates(docs: DataFrame, k: Int = 3, w: Int = 4,
      maxDf: Int = 10, minShared: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    winnowCandidatesTracked(docs, k, w, maxDf, minShared, idCol, textCol)._1

  /** [[winnowCandidates]] handing back the RDDs behind its fingerprint
    * checkpoint (the [[graft.ext.Dedup.lshCandidatesTracked]] contract):
    * the distinct (doc, fp) table is SPREAD + lazily materialized ONCE —
    * its two consumers (df census, posting join-back) sit under
    * different projections, so ReuseExchange never dedupes them and the
    * winnow fingerprint pass used to run twice per action. Eager
    * pipelines release the blocks once candidates materialize. */
  private[ext] def winnowCandidatesTracked(docs: DataFrame, k: Int = 3,
      w: Int = 4, maxDf: Int = 10, minShared: Int = 2,
      idCol: String = "doc_id", textCol: String = "text")
      : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    // the spread lives inside winnow() (gated there); the checkpoint is
    // NOT scale-gated — the round-15 gating probe measured worse at
    // sf0.1 too (see Dedup.lshCandidatesTracked)
    val (fps, fpRdds) = graft.ext.Dedup.checkpointTracked(
      winnow(docs, k, w, idCol, textCol)
        .select(col(idCol), col("fp")).distinct(), eager = false)
    val small = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
      .select(col("fp"))
    (fps.join(small, Seq("fp")) // drops boilerplate fps pre-collect
      .groupBy(col("fp"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y ->
          |    struct(x AS a_id, y AS b_id))))""".stripMargin)).as("pair"))
      .select(col("pair.a_id"), col("pair.b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared), fpRdds)
  }
}
