package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Hashed linear quality classifier — the fastText-style scorer every
  * production data pipeline runs in front of pretraining ("does this
  * document look like the high-quality reference set?"), expressed
  * Spark-first. Reference scope: LLM-pipeline surface (builder brief) —
  * no PUMLE counterpart.
  *
  * Model = a `buckets`-entry weight table over md5-hashed unigrams plus
  * a bias, in integer MILLI units (3-dp fixed point). Milli weights make
  * the per-document token-weight sum an exact BIGINT — order-free, so
  * the relational (explode + broadcast-join + groupBy) and compiled
  * narrow (one `aggregate` expression, zero shuffles) scorers are
  * bit-identical, and a DuckDB oracle can replay the whole contract:
  * logit = round(sum_milli / (1000·n_tokens) + bias_milli/1000, 9),
  * score = round(sigmoid(logit), 6) — the sigmoid is applied to the
  * ROUNDED logit so both engines feed `exp` the identical double.
  *
  * Scale shape: the weight table is bucket-bounded (256 rows — never
  * corpus-proportional), the relational scorer shuffles once on doc_id,
  * and the narrow scorer streams unchanged (no explode, no join, no
  * aggregate) — the q126 DSIR-twin pattern applied to classification.
  * Training ([[trainQcModel]]) is batch gradient descent: one
  * bucket-bounded gradient aggregation per iteration (the collect is
  * `buckets` rows — k·buckets driver I/O total, independent of corpus
  * size), with the learned weights HALF_UP-quantized to milli on exit —
  * weight quantization as a feature: the deployed model is exactly the
  * persistable integer table the scorers consume.
  */
object Classifier {

  /** Per-document token cap (shared with the shingle/ngram ops): bounds
    * work per row so one pathological document can't own a task. */
  val MaxTokens: Int = graft.functions.MinHash48.MaxShinglePos

  /** Token → bucket: first 8 md5 hex chars mod `buckets` (the DSIR
    * feature-hash contract, unigram flavor). */
  private def bucketSql(tok: String, buckets: Int): String =
    s"CAST(conv(substr(md5($tok), 1, 8), 16, 10) AS BIGINT) % $buckets"

  private def md5Head6(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.take(3).foldLeft(0L)((acc, b) => acc * 256 + (b & 0xff))
  }

  /** A quality-classifier model: integer milli-unit weights (index =
    * bucket) and bias. w_b = weightsMilli(b) / 1000. */
  final case class QcModel(weightsMilli: IndexedSeq[Long], biasMilli: Long,
      buckets: Int) {
    require(weightsMilli.length == buckets,
      s"${weightsMilli.length} weights for $buckets buckets")
  }

  /** The deterministic md5-derived demo model (the PQ fixed-codebook
    * trick, q127): weights in [-1, 1] at 3 dp, bias 0 — lets the full
    * scoring contract be ORACLE-checked end to end (a trained model's
    * FP weights aren't reproducible by an independent engine; a fixed
    * one is replayable from `md5` in pure SQL). */
  def fixedModel(buckets: Int = 256): QcModel =
    QcModel(IndexedSeq.tabulate(buckets)(b =>
      md5Head6(s"qc:$b") % 2001 - 1000), 0L, buckets)

  /** Relational scorer: explode capped tokens, broadcast-join the
    * bucket-bounded weight table, one doc-keyed exact-integer sum.
    * Null-text docs are excluded (they have no feature vector). */
  def qcScore(spark: SparkSession, docs: DataFrame, model: QcModel,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import spark.implicits._
    val wTbl = model.weightsMilli.zipWithIndex
      .map { case (w, b) => (b.toLong, w) }.toDF("b", "w_milli")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as("ws"))
      .select(col(idCol), least(size(col("ws")), lit(MaxTokens))
        .cast("long").as("n_tokens"),
        explode(expr(s"""transform(sequence(1, least(size(ws), $MaxTokens)),
          |  i -> ${bucketSql("element_at(ws, i)", model.buckets)})"""
          .stripMargin)).as("b"))
    toks.join(broadcast(wTbl), Seq("b"))
      .groupBy(col(idCol), col("n_tokens"))
      .agg(sum(col("w_milli")).as("s"))
      .select(Seq(col(idCol), col("n_tokens")) ++ scoreCols(model): _*)
  }

  /** logit/score columns from the exact milli sum `s` and `n_tokens` —
    * ONE spelling shared by both scorers (and mirrored in the oracle):
    * divide the exact integers, add the bias, round to 9 dp, THEN
    * sigmoid and round to 6 dp. */
  private def scoreCols(model: QcModel): Seq[org.apache.spark.sql.Column] = {
    val logit = round(
      col("s").cast("double") / (lit(1000.0) * col("n_tokens").cast("double"))
        + lit(model.biasMilli).cast("double") / lit(1000.0), 9)
    Seq(logit.as("logit"),
      round(lit(1.0) / (lit(1.0) + exp(-logit)), 6).as("score"))
  }

  /** Compiled-narrow scorer: the model rides as a constant reference
    * object inside the [[graft.functions.QcScore]] expression — one
    * tight per-row loop (tokenize, md5-bucket, exact integer sum),
    * zero shuffles, zero joins, streams unchanged. The interpreted SQL
    * fold this replaced was SLOWER than the relational form at sf1
    * (7.6s vs 3.9s / 50k docs): higher-order lambdas interpret per
    * token, and the per-token work is an md5. Exact-integer milli sums
    * keep it bit-identical to [[qcScore]] (q130 shares q129's oracle
    * VERBATIM). */
  def qcScoreNarrow(docs: DataFrame, model: QcModel,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.QcScore.register(docs.sparkSession,
      new graft.functions.QcModelRef(model.weightsMilli.toArray))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), expr(s"qc_score($textCol)").as("g"))
      .select(Seq(col(idCol), col("g.n_tokens").as("n_tokens"),
        col("g.s").as("s")): _*)
      .select(Seq(col(idCol), col("n_tokens")) ++ scoreCols(model): _*)
  }

  /** Persist a model: `path/weights` (b, w_milli) + `path/meta`
    * (bias_milli, buckets) — bucket-bounded, metadata-scale I/O. */
  def writeQcModel(spark: SparkSession, model: QcModel,
      path: String): Unit = {
    import spark.implicits._
    model.weightsMilli.zipWithIndex
      .map { case (w, b) => (b, w) }.toDF("b", "w_milli")
      .write.mode("overwrite").parquet(s"$path/weights")
    Seq((model.biasMilli, model.buckets)).toDF("bias_milli", "buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Reload a persisted model — integers round-trip exactly. */
  def loadQcModel(spark: SparkSession, path: String): QcModel = {
    val meta = Tables.read(spark, s"$path/meta").head()
    val buckets = meta.getInt(1)
    val byB = Tables.read(spark, s"$path/weights")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    QcModel(IndexedSeq.tabulate(buckets)(byB(_)), meta.getLong(0), buckets)
  }

  /** Train by batch gradient descent on the hashed mean-weight logit
    * z = Σ w_{b(t)}/n + bias, y = `labelPred`, log-loss. The cached
    * frame is ONE ROW PER DOC (label, token count, bucket ARRAY —
    * tokens hashed once, text never re-read), and each iteration is a
    * single aggregation job: the per-doc logit folds the bucket array
    * against the current weights as a narrow literal (no doc-keyed
    * shuffle, no join), the residual rides the row into an explode
    * whose sentinel bucket −1 carries the bias gradient, and everything
    * reduces to the bucket grid (`buckets`+1 rows collected — never the
    * corpus). Driver work per iteration is the bounded update. Exit
    * quantizes HALF_UP to milli, yielding the exact-arithmetic
    * [[QcModel]] the scorers and the oracle contract consume. */
  def trainQcModel(spark: SparkSession, docs: DataFrame,
      labelPred: org.apache.spark.sql.Column, buckets: Int = 256,
      iters: Int = 20, lr: Double = 2.0, idCol: String = "doc_id",
      textCol: String = "text"): QcModel = {
    val base = docs.filter(col(textCol).isNotNull)
      .select(labelPred.cast("double").as("y"),
        split(col(textCol), " ").as("ws"))
      .withColumn("n", least(size(col("ws")), lit(MaxTokens)))
      .select(col("y"), col("n"),
        expr(s"""transform(sequence(1, n),
          |  i -> ${bucketSql("element_at(ws, i)", buckets)})"""
          .stripMargin).as("bs"))
      .persist()
    try {
      val nDocs = base.count().toDouble
      var w = Array.fill(buckets)(0.0)
      var bias = 0.0
      var it = 0
      while (it < iters) {
        val grad = base
          .withColumn("wv", typedLit(w.toIndexedSeq))
          .withColumn("p", expr(s"""1.0D / (1.0D + exp(-(
            |  aggregate(bs, 0.0D, (acc, b) ->
            |    acc + element_at(wv, CAST(b AS INT) + 1)) / n + $bias)))"""
            .stripMargin))
          .select(col("p"), col("y"), col("n"),
            explode(expr("concat(bs, array(-1L))")).as("b"))
          .groupBy(col("b"))
          .agg(sum(expr(
            "CASE WHEN b = -1 THEN p - y ELSE (p - y) / n END")).as("g"))
          .collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
        w = Array.tabulate(buckets)(b => w(b) - lr * grad.getOrElse(b, 0.0) / nDocs)
        bias -= lr * grad.getOrElse(-1, 0.0) / nDocs
        it += 1
      }
      def milli(x: Double): Long = new java.math.BigDecimal(x)
        .setScale(3, java.math.RoundingMode.HALF_UP)
        .movePointRight(3).longValueExact()
      QcModel(w.map(milli).toIndexedSeq, milli(bias), buckets)
    } finally { base.unpersist() }
  }

  // ------------------------------------------------------------------
  // Multinomial Naive Bayes (multi-class) — the trained language-ID /
  // domain-attribution classifier (the CCNet-style trained filter
  // beside the heuristic q56 n-gram scorer), and the one classifier
  // family whose TRAINING is itself oracle-checkable: the model is
  // count arithmetic (add-one smoothing over a fully-tie-broken top-K
  // vocabulary), so an independent SQL engine replays the trained
  // model exactly — closing the caveat that forces [[QcModel]]'s
  // oracle onto a fixed demo model (GD-learned FP weights aren't
  // independently reproducible; counts are).
  //
  // Scale shape (the bigramLmScore "model is bounded, corpus is not"
  // contract): the corpus pays ONE token histogram and ONE
  // (label, token) count — both partial-aggregable shuffles; vocab
  // truncation is a TakeOrdered (vocabSize driver rows); everything
  // downstream of the two aggregates is bounded by |vocab|·|labels|
  // and broadcasts. Scoring is one token explode, one broadcast join
  // against the dense model, one doc-keyed rollup. Cross-engine
  // determinism: per-(token, label) log-likelihood and per-label
  // log-prior are round(ln ·, 9) summed as exact DECIMAL(18,9)
  // (order-free), argmax on the exact totals with ascending-label
  // tie-break, final score round(CAST(total AS DOUBLE), 6) — the
  // q118/q80 discipline applied to classification.
  // ------------------------------------------------------------------

  /** The dense trained NB model as frames: `(dense, priors)` —
    * `dense` = one row per (label, token) over the top-`vocabSize`
    * corpus vocabulary (count-desc, token-asc tie-broken): smoothed
    * count `c` and `ll = round(ln((c+1)/(tot_label+V)), 9)` as
    * DECIMAL(18,9); `priors` = one row per label: doc count `n` and
    * `lp = round(ln(n/n_total), 9)`. Tokens outside the vocabulary
    * are excluded from numerator AND denominator (the truncated-vocab
    * multinomial contract); a label whose docs hold no vocab token
    * smooths to 1/V per token. Null text / null label rows train
    * nothing. Both frames are model-scale (≤ vocabSize·|labels| rows;
    * localCheckpointed so the two corpus aggregates run once). */
  private[graft] def nbModelFrames(docs: DataFrame, labelCol: String,
      textCol: String, vocabSize: Int): (DataFrame, DataFrame) = {
    val (dense, priors, _) = nbModelFramesTracked(docs, labelCol, textCol,
      vocabSize)
    (dense, priors)
  }

  /** [[nbModelFrames]] plus the checkpoint RELEASE HANDLE: the model
    * computation pins four MODEL-SCALE checkpointed frames (vocab,
    * counts, the label histogram, priors — KBs each, the q118
    * LM-score precedent) so the two corpus aggregates run exactly
    * once. A caller that consumes the frames eagerly
    * ([[trainNbModel]]'s collect) releases them on exit; the lazy
    * query forms ([[nbModel]] / [[nbClassify]]) return plans that
    * READ these frames, so there the blocks live until RDD GC — the
    * documented cost of the train-in-query oracle shape. */
  private def nbModelFramesTracked(docs: DataFrame, labelCol: String,
      textCol: String, vocabSize: Int)
      : (DataFrame, DataFrame, () => Unit) = {
    require(vocabSize >= 1, s"vocabSize=$vocabSize must be >= 1")
    val blocks = collection.mutable.ArrayBuffer
      .empty[org.apache.spark.rdd.RDD[_]]
    def tracked(df: DataFrame): DataFrame = {
      val (out, b) = Dedup.checkpointTracked(df, eager = true)
      blocks ++= b
      out
    }
    val labeled = docs
      .filter(col(textCol).isNotNull && col(labelCol).isNotNull)
    // scale-gated spread before the corpus explodes (round 15): the
    // sf1 probe read the model's corpus aggregates on TWO tasks — the
    // one-row-group corpus arrives as 1-2 splits and the vocab/count
    // passes serialize there. No-op under the 2 MB gate and at
    // production split counts (guide §2.5, the bigramLmScore fix).
    // Only the EXPLODE feed is spread: the priors' per-label row count
    // over `labeled` is narrow and cheap on any split count, and
    // routing it through the round-robin exchange would shuffle the
    // full text payload for a count (probed: q175/q177 +0.5 s at sf1).
    val words = Par.spreadIfBig(labeled)
      .select(col(labelCol).as("label"),
        explode(split(col(textCol), " ")).as("w"))
    // ONE corpus explode pass (round 15, guide §2.4): the full
    // (label, word) histogram is computed first — word-type × label
    // bounded, far smaller than the corpus — and BOTH model tables
    // derive from it: the vocab truncation re-aggregates it by word
    // (Σ per-label counts ≡ the word histogram, so the fully-tie-broken
    // top-K is unchanged), and the dense counts are its vocab-filtered
    // rows (count-then-filter ≡ the old filter-then-count on a key
    // filter). The round-14 shape exploded the corpus TWICE — once for
    // the vocab histogram, once for the per-label counts — and the sf1
    // probe read each pass serialized on the scan's 2 splits.
    val counts0 = tracked(words.groupBy(col("label"), col("w"))
      .agg(count(lit(1)).as("c")))
    val vocab = tracked(counts0.groupBy(col("w")).agg(sum(col("c")).as("cu"))
      .orderBy(col("cu").desc, col("w")).limit(vocabSize)
      .select(col("w")))
    val counts = tracked(counts0.join(broadcast(vocab), Seq("w")))
    val priors = {
      // |labels| rows, checkpointed: it feeds both the per-label rows
      // and the total, and would otherwise re-scan the corpus twice
      val n = tracked(labeled.groupBy(col(labelCol).as("label"))
        .agg(count(lit(1)).as("n")))
      tracked(n.crossJoin(broadcast(n.agg(sum(col("n")).as("n_total"))))
        .select(col("label"), col("n"),
          round(log(col("n").cast("double") / col("n_total").cast("double")), 9)
            .cast("decimal(18,9)").as("lp")))
    }
    val tot = counts.groupBy(col("label")).agg(sum(col("c")).as("tot"))
    val vsz = vocab.agg(count(lit(1)).as("vsz"))
    val dense = vocab.withColumnRenamed("w", "token")
      .crossJoin(broadcast(priors.select(col("label"))))
      .join(broadcast(counts.withColumnRenamed("w", "token")),
        Seq("label", "token"), "left")
      .join(broadcast(tot), Seq("label"), "left")
      .crossJoin(broadcast(vsz))
      .select(col("label"), col("token"),
        coalesce(col("c"), lit(0L)).as("c"),
        round(log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("tot"), lit(0L)) + col("vsz")).cast("double")), 9)
          .cast("decimal(18,9)").as("ll"))
    (dense, priors,
      () => blocks.foreach(_.unpersist(blocking = false)))
  }

  /** The trained dense NB likelihood table as a query result —
    * (label, token, c, ll) with `ll` emitted as the 9-dp double the
    * DECIMAL holds exactly. This IS the trained model (with
    * [[nbModelFrames]]' priors), and it is oracle-replayable: counts,
    * the fully-tie-broken vocab truncation and round(ln, 9) all
    * re-derive in pure SQL. */
  def nbModel(docs: DataFrame, labelCol: String = "lang",
      textCol: String = "text", vocabSize: Int = 4096): DataFrame = {
    val (dense, _) = nbModelFrames(docs, labelCol, textCol, vocabSize)
    dense.select(col("label"), col("token"), col("c"),
      col("ll").cast("double").as("ll"))
  }

  /** Train-and-classify in one query (the [[graft.ext.TextStats
    * .bigramLmScore]] shape): every non-null-text doc gets the argmax
    * label — (doc_id, pred, score) with score = round(CAST(lp + Σ ll
    * AS DOUBLE), 6) of the WINNING label and ties broken label-asc on
    * the exact DECIMAL totals. OOV tokens score nothing; a doc with no
    * vocab token scores on priors alone (every doc classifies).
    * Production deployments train once and score narrowly instead —
    * [[trainNbModel]] + [[nbClassifyNarrow]], which shares this form's
    * oracle verbatim. */
  def nbClassify(spark: SparkSession, docs: DataFrame,
      labelCol: String = "lang", textCol: String = "text",
      vocabSize: Int = 4096, idCol: String = "doc_id"): DataFrame = {
    val (dense, priors) = nbModelFrames(docs, labelCol, textCol, vocabSize)
    // scale-gated spread before the scoring explode (round 15): the
    // sf1 probe read this pass at 3.2 s on TWO tasks — corpus-sized,
    // not model-bounded (see nbModelFramesTracked). No-op under the
    // 2 MB gate and at production split counts.
    val sums = Par.spreadIfBig(docs.filter(col(textCol).isNotNull))
      .select(col(idCol), explode(split(col(textCol), " ")).as("token"))
      .join(broadcast(dense.select(col("token"), col("label"), col("ll"))),
        Seq("token"))
      .groupBy(col(idCol), col("label")).agg(sum(col("ll")).as("s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("total").desc, col("label"))
    docs.filter(col(textCol).isNotNull).select(col(idCol))
      .crossJoin(broadcast(priors.select(col("label"), col("lp"))))
      .join(sums, Seq(idCol, "label"), "left")
      .withColumn("total",
        col("lp") + coalesce(col("s"), lit(0).cast("decimal(18,9)")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col(idCol), col("label").as("pred"),
        round(col("total").cast("double"), 6).as("score"))
  }

  /** Train a driver-side [[graft.functions.NbModel]] — the same
    * [[nbModelFrames]] tables collected (model-scale: ≤
    * vocabSize·|labels| + |labels| rows, never the corpus), with the
    * DECIMAL(18,9) values carried into exact 10⁻⁹ integer units, so
    * the narrow scorer is bit-identical to the relational one by
    * construction. */
  def trainNbModel(docs: DataFrame, labelCol: String = "lang",
      textCol: String = "text",
      vocabSize: Int = 4096): graft.functions.NbModel = {
    val (dense, priors, release) = nbModelFramesTracked(docs, labelCol,
      textCol, vocabSize)
    try {
      val pRows = priors.select(col("label"), col("lp"))
        .collect().map(r => (r.getString(0),
          r.getDecimal(1).movePointRight(9).longValueExact()))
      val tokRows = dense.select(col("token"), col("label"), col("ll"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getDecimal(2).movePointRight(9).longValueExact()))
      assembleNbModel(pRows, tokRows)
    } finally release() // model collected — the checkpoints can go
  }

  /** UTF-8 BINARY string order — Spark's `orderBy` on strings (code
    * points), NOT Java's `String.compareTo` (UTF-16 code units): the
    * two disagree when one string holds a supplementary-plane char
    * (emoji label) and another a char in [U+E000, U+FFFF], and the
    * argmax tie-break + model lane order must match the relational
    * form's Spark sort exactly. */
  private val utf8Order: Ordering[String] =
    Ordering.comparatorToOrdering(
      (a: String, b: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)))

  /** ONE model-assembly path for trained AND reloaded models (q178's
    * disk ≡ in-memory pin rests on this being shared): labels sort in
    * [[utf8Order]] (the tie-break-critical lane order), vocab likewise,
    * each token's lane row fills by label index. */
  private def assembleNbModel(pRows: Array[(String, Long)],
      tokRows: Array[(String, String, Long)]): graft.functions.NbModel = {
    val sorted = pRows.sortBy(_._1)(utf8Order)
    val labels = sorted.map(_._1)
    val labelIdx = labels.zipWithIndex.toMap
    val byTok = tokRows.groupBy(_._1)
    val vocab = byTok.keys.toArray.sorted(utf8Order)
    val ll = vocab.map { t =>
      val row = new Array[Long](labels.length)
      byTok(t).foreach { case (_, l, n) => row(labelIdx(l)) = n }
      row
    }
    new graft.functions.NbModel(labels, sorted.map(_._2), vocab, ll)
  }

  /** Compiled-narrow NB classification against a FIXED model — the
    * production/streaming twin of [[nbClassify]] (which trains and
    * scores in one query): the dense table rides as a constant
    * reference object inside the [[graft.functions.NbClassify]]
    * expression, one hash lookup per token, exact integer nano sums —
    * fully narrow, zero joins, zero shuffles, streams unchanged.
    * Null-text docs drop (nothing to classify), matching the
    * relational form's filter. */
  def nbClassifyNarrow(spark: SparkSession, docs: DataFrame,
      model: graft.functions.NbModel, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    graft.functions.NbClassify.register(spark, model)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), expr(s"nb_classify($textCol)").as("g"))
      .select(col(idCol), col("g.pred").as("pred"), col("g.score").as("score"))
  }

  /** Persist an NB model: `path/likelihood` (label, token, ll_nanos),
    * `path/priors` (label, lp_nanos) — model-scale parquet; the 10⁻⁹
    * integer units round-trip exactly, so a reloaded model classifies
    * bit-identically (train once on the reference corpus, score every
    * crawl increment and stream after — the CCNet deployment shape). */
  def writeNbModel(spark: SparkSession, model: graft.functions.NbModel,
      path: String): Unit = {
    import spark.implicits._
    val labels = model.labels
    model.vocab.zip(model.llNanos).toIndexedSeq
      .flatMap { case (t, row) => labels.indices.map(l => (labels(l), t, row(l))) }
      .toDF("label", "token", "ll_nanos")
      .write.mode("overwrite").parquet(s"$path/likelihood")
    labels.zip(model.priorNanos).toIndexedSeq.toDF("label", "lp_nanos")
      .write.mode("overwrite").parquet(s"$path/priors")
  }

  /** Reload a persisted NB model ([[writeNbModel]]) — through the same
    * [[assembleNbModel]] path as training, so lane order and tie-break
    * cannot diverge between a trained and a reloaded model. */
  def loadNbModel(spark: SparkSession, path: String): graft.functions.NbModel =
    assembleNbModel(
      Tables.read(spark, s"$path/priors")
        .collect().map(r => (r.getString(0), r.getLong(1))),
      Tables.read(spark, s"$path/likelihood")
        .collect().map(r => (r.getString(1), r.getString(0), r.getLong(2))))

  /** Mean log-loss of a model on a labeled corpus (spec/monitoring
    * helper — one narrow pass + one global agg). */
  def logLoss(docs: DataFrame, model: QcModel,
      labelPred: org.apache.spark.sql.Column,
      idCol: String = "doc_id", textCol: String = "text"): Double = {
    qcScoreNarrow(docs, model, idCol, textCol)
      .join(docs.select(col(idCol), labelPred.cast("double").as("y")),
        Seq(idCol))
      .agg(avg(expr(
        "-(y * ln(greatest(score, 1e-9)) + (1 - y) * ln(greatest(1 - score, 1e-9)))")))
      .head().getDouble(0)
  }
}
