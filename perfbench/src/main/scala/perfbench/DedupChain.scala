package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, TextStats}

/** The one-call corpus dedup chains on a corpus with planted near-dup
  * families: `Dedup.dedupCorpus` (MinHash LSH candidates, part a) and
  * `Dedup.dedupCorpusWinnow` (winnowing candidates, part b), each
  * consumed by a noop write. The traced pass rebuilds both chains from
  * the public stage calls, materializing between stages. */
final class DedupChain(docs: Int = 1500) extends Workload {
  def nominalPassSeconds: Double = 5.0
  private var corpus: Gen.Corpus = _
  /** Ids whose text already belongs to a smaller id: exact dedup keeps
    * the smallest id, so none of these may survive. */
  private var shadowed: Seq[Long] = Nil
  // per chain, from the latest pass: (rows, id digest, shadowed rows)
  private var written = Map.empty[String, (Long, Long, Long)]
  private var staged = Map.empty[String, Option[Seq[Long]]]

  private val chains: Seq[(String, (SparkSession, DataFrame) => DataFrame)] = Seq(
    "lsh" -> ((s, d) => Dedup.dedupCorpus(s, d)),
    "winnow" -> ((s, d) => Dedup.dedupCorpusWinnow(s, d)))

  def prepare(ctx: Ctx): Unit = {
    corpus = Gen.Corpus(ctx.seed, docs)
    val first = collection.mutable.HashMap[String, Long]()
    shadowed = corpus.texts.indices.map(_.toLong).filter(i =>
      first.getOrElseUpdate(corpus.texts(i.toInt), i) != i)
    Gen.once(ctx.inputs) {
      val spark = ctx.spark
      import spark.implicits._
      corpus.texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text").repartition(4).write.parquet(ctx.inputs.resolve("docs").toString)
    }
  }

  private def corpusDf(ctx: Ctx): DataFrame =
    ctx.spark.read.parquet(ctx.inputs.resolve("docs").toString)

  def run(ctx: Ctx, tr: Tracer): Map[String, Double] = tr match {
    case t: Trace => stagedPass(ctx, t)
    case _ => oneCall(ctx)
  }

  private def oneCall(ctx: Ctx): Map[String, Double] = {
    val in = corpusDf(ctx)
    val secs = chains.map { case (chain, f) =>
      ctx.isolate()
      val t0 = System.nanoTime()
      ctx.op(s"$chain one-call chain") {
        val m = NoopSink.observeWrite(f(ctx.spark, in),
          count(lit(1)).as("rows"), bit_xor(xxhash64(col("doc_id"))).as("digest"),
          sum(when(col("doc_id").isin(shadowed: _*), 1L).otherwise(0L)).as("shadowed"))
        def long(k: String): Long = m.get(k).collect { case v: Long => v }.getOrElse(0L)
        written += chain -> ((long("rows"), long("digest"), long("shadowed")))
      }
      (System.nanoTime() - t0) / 1e9
    }
    val Seq(a, b) = secs
    Map("chain_s" -> (a + b), "part_a_s" -> a, "part_b_s" -> b,
      "dedup_lsh_s" -> a, "dedup_winnow_s" -> b)
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

  /** Both chains from their public stages, one span per stage. */
  private def stagedPass(ctx: Ctx, tr: Trace): Map[String, Double] = {
    val spark = ctx.spark
    val in = corpusDf(ctx)
    val out = collection.mutable.Map[String, Double]()
    def count(key: String, df: DataFrame): DataFrame = {
      out(key) = out.getOrElse(key, 0.0) + df.count(); df
    }
    def tail(kept: DataFrame, pairs: DataFrame): Seq[Long] = {
      val confirmed = tr.span("dedup.verify") {
        count("dedup.verified_pairs",
          Dedup.verifyCandidates(spark, pairs, kept, 0.7).localCheckpoint())
      }
      val labels = tr.span("dedup.components") {
        Dedup.clusters(spark, confirmed).localCheckpoint()
      }
      tr.span("dedup.antijoin") {
        ids(kept.join(labels.filter(col("node") =!= col("cluster_id"))
          .select(col("node").as("doc_id")), Seq("doc_id"), "left_anti"))
      }
    }
    ctx.isolate()
    val t0 = System.nanoTime()
    val lshIds = ctx.op("staged LSH chain") {
      val kept = exactStage(tr, in)
      out("dedup.exact_survivors") = kept.count().toDouble
      val cap = Observation("lsh_cap")
      val pairs = tr.span("dedup.lsh") {
        count("dedup.lsh_pairs", Dedup.lshCandidates(spark, kept, capMetrics = Some(cap))
          .select("a_id", "b_id").localCheckpoint())
      }
      out("dedup.lsh_cap_dropped") =
        cap.get.get("dropped_buckets").collect { case v: Long => v.toDouble }.getOrElse(0.0)
      tail(kept, pairs)
    }
    val t1 = System.nanoTime()
    ctx.isolate()
    val t2 = System.nanoTime()
    val winnowIds = ctx.op("staged winnow chain") {
      val kept = exactStage(tr, in)
      val pairs = tr.span("winnow.candidates") {
        count("winnow.pairs", TextStats.winnowCandidates(kept)
          .select("a_id", "b_id").localCheckpoint())
      }
      tail(kept, pairs)
    }
    val t3 = System.nanoTime()
    staged = Map("lsh" -> lshIds, "winnow" -> winnowIds)
    val candidates = out.getOrElse("dedup.lsh_pairs", 0.0) + out.getOrElse("winnow.pairs", 0.0)
    if (candidates > 0)
      out("dedup.verify_ratio") = out.getOrElse("dedup.verified_pairs", 0.0) / candidates
    val a = (t1 - t0) / 1e9
    val b = (t3 - t2) / 1e9
    out ++= Map("chain_s" -> (a + b), "part_a_s" -> a, "part_b_s" -> b,
      "dedup.staged_lsh_wall_s" -> a, "dedup.staged_winnow_wall_s" -> b)
    out.toMap
  }

  /** `Dedup.exact` keeps the smallest id per content hash. */
  private def exactStage(tr: Tracer, in: DataFrame): DataFrame = tr.span("dedup.exact") {
    in.join(Dedup.exact(in).select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .localCheckpoint()
  }

  override def fromTrace(tr: Trace): Map[String, Double] = Map(
    "dedup.components_jobs" -> tr.inclusive("dedup.components").jobs.toDouble,
    "dedup.verify_shuffle_bytes" -> tr.inclusive("dedup.verify").shuffleBytes.toDouble)

  /** One-call survivors: within [families, docs], none shadowed by a
    * smaller id with the same text (so no two share md5(text)), and the
    * same set on every run of this seed. Staged survivors: the one-call
    * chain's set, with distinct MD5s computed here from the texts. */
  def verify(ctx: Ctx): Unit = {
    for ((chain, (rows, digest, shadowedRows)) <- written.toSeq.sortBy(_._1)) {
      ctx.check(s"$chain survivor count within [families, docs]",
        rows >= corpus.families && rows <= docs, s"$rows not in [${corpus.families}, $docs]")
      ctx.check(s"$chain survivors keep no exact duplicate", shadowedRows == 0,
        s"$shadowedRows survivors share text with a smaller id")
      val file = ctx.inputs.resolve(s"survivors-$chain.txt")
      val seen = s"$rows $digest"
      if (!Files.exists(file)) Files.writeString(file, seen)
      ctx.check(s"$chain survivors equal earlier runs of this seed",
        Files.readString(file) == seen, s"got $seen want ${Files.readString(file)}")
    }
    for ((chain, got) <- staged.toSeq.sortBy(_._1)) {
      val kept = got.getOrElse(Nil)
      ctx.check(s"$chain staged survivors equal the one-call chain's",
        got.isDefined && written.get(chain).exists { case (r, d, _) =>
          r == kept.length && d == NoopSink.digest(kept)
        })
      val md5s = kept.map(i => java.security.MessageDigest.getInstance("MD5")
        .digest(corpus.texts(i.toInt).getBytes("UTF-8")).toSeq)
      ctx.check(s"$chain staged survivors have distinct md5(text)",
        md5s.distinct.length == kept.length)
    }
    staged = Map.empty
  }
}
