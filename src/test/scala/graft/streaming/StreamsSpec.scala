package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.pumle.{Pipeline, SparkSpec}

/** Streaming semantics: exactly-once file ingest, watermarked windows,
  * stateful status machine. */
class StreamsSpec extends SparkSpec {

  private val actnumSeq = Seq(1, 1, 1, 0)

  private def writeStates(dir: String, hash: String, nt: Int): Unit = {
    val steps = (0 until nt).map { t =>
      val p = (0 until 4).map(c => 10.0 * t + c).mkString("[", ",", "]")
      val s = (0 until 4).map(c => s"[1.0,${0.1 * c}]").mkString("[", ",", "]")
      s"""{"pressure": $p, "s": $s}"""
    }
    Files.writeString(Paths.get(dir, s"states_unisim_$hash.json"),
      s"""{"states": [${steps.mkString(",")}]}""")
  }

  test("bronze file-stream ingests each sim exactly once (completed.flag analog)") {
    import spark.implicits._
    val bronze = graft.core.TempDir("stream-bronze").toString
    val golden = graft.core.TempDir("stream-golden").toString
    val ckpt = graft.core.TempDir("stream-ckpt").toString
    val actnum = actnumSeq.zipWithIndex
      .map { case (f, i) => (i, f == 1) }.toDF("cell_idx", "active")

    writeStates(bronze, "aaaa0001", 2)
    val q1 = Streams.bronzeIngest(spark, s"$bronze/states_*.json", actnum,
      (2, 2, 1), golden, ckpt)
    q1.awaitTermination()
    val out1 = spark.read.parquet(golden)
    // 3 active cells × 2 timesteps × 3 fields
    assert(out1.count() == 18)

    // second sim lands; restart stream with same checkpoint → only new
    // file processed, no duplicates of the first
    writeStates(bronze, "bbbb0002", 3)
    val q2 = Streams.bronzeIngest(spark, s"$bronze/states_*.json", actnum,
      (2, 2, 1), golden, ckpt)
    q2.awaitTermination()
    val out2 = spark.read.parquet(golden)
    assert(out2.count() == 18 + 27)
    assert(out2.filter(col("sim_hash") === "aaaa0001").count() == 18) // unchanged
  }

  test("streaming near-dup flags: arriving docs matching seen band buckets emit once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val seen = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark engines"))
      .toDF("doc_id", "text")
    val seenBuckets = graft.ext.Dedup.bandBuckets(spark, seen)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    val q = Streams.nearDupFlags(spark, docs, seenBuckets)
      .writeStream.outputMode("append").format("memory").queryName("ndf").start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    mem.addData(
      (10L, "the quick brown fox jumps over the lazy dog", t0), // exact dup of seen 1
      (11L, "entirely novel content nothing like the others", t0)) // fresh
    q.processAllAvailable()
    val flagged = spark.sql("SELECT doc_id FROM ndf").collect().map(_.getLong(0)).toSet
    assert(flagged == Set(10L), s"got $flagged")
    q.stop()
  }

  test("chunkOverlap is stateless-streamable: stream output equals the batch op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = graft.ext.Corpus.chunkOverlap(
        mem.toDF().toDF("doc_id", "text"), width = 3, stride = 2)
      .writeStream.outputMode("append").format("memory").queryName("chk").start()
    val rows = Seq(
      (1L, "a b c d e f g"),
      (2L, "one two"),
      (3L, ""))
    mem.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.sql("SELECT doc_id, chunk_idx, n_words, chunk FROM chk")
      .orderBy("doc_id", "chunk_idx").collect().toSeq
    val batch = graft.ext.Corpus.chunkOverlap(
        rows.toDF("doc_id", "text"), width = 3, stride = 2)
      .select("doc_id", "chunk_idx", "n_words", "chunk")
      .orderBy("doc_id", "chunk_idx").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    q.stop()
  }

  test("streaming DSIR scoring matches the batch scorer on a fixed model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val train = Seq.tabulate(10)(i =>
      (i.toLong, s"alpha beta gamma delta token$i filler${i % 4}", i < 5))
      .toDF("doc_id", "text", "is_t")
    val model = graft.ext.TextStats.trainDsirModel(train, col("is_t"),
      buckets = 128)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.dsirScore(mem.toDF().toDF("doc_id", "text"), model)
      .writeStream.outputMode("append").format("memory")
      .queryName("dsir").start()
    val rows = Seq(
      (20L, "alpha beta gamma delta looks like target"),
      (21L, "xray yankee zulu nothing alike"),
      (22L, "solo"))
    mem.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.sql("SELECT doc_id, n_feats, dsir_weight FROM dsir")
      .orderBy("doc_id").collect().toSeq
    val batch = graft.ext.TextStats.dsirScoreNarrow(
        rows.toDF("doc_id", "text"), model)
      .orderBy("doc_id").collect().toSeq
    assert(streamed == batch)
    assert(streamed.count(_.getLong(1) > 0) == 2)
    q.stop()
  }

  test("streaming CMS tracker equals the batch cms_sketch grid over everything seen") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.Functions.registerAll(spark)
    val watch = Seq("alpha", "beta", "unseen")
    val mem = MemoryStream[(String, String)]
    val q = Streams.cmsTrack(mem.toDF().toDF("source", "text"), watch)
      .writeStream.outputMode("update").format("memory")
      .queryName("cms").start()
    val b1 = Seq(("s0", "alpha beta alpha gamma"), ("s0", "beta alpha"))
    val b2 = Seq(("s0", "alpha delta delta"), ("s1", "beta beta"))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    // memory sink in update mode: keep the LAST row per (source, word)
    val streamed = spark.sql(
        "SELECT source, word, cms_est FROM cms").collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, rows) => k -> rows.last.getLong(2) }
    val batch = (b1 ++ b2).toDF("source", "text")
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("source")).agg(expr("cms_sketch(word, 4, 1024)").as("g"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def est(src: String, w: String): Long = {
      md.reset()
      val h = md.digest(w.getBytes("UTF-8"))
      (0 until 4).map(r =>
        batch(src)(r * 1024 + graft.functions.CmsSketch.cell(h, r, 1024))).min
    }
    for (src <- Seq("s0", "s1"); w <- watch)
      assert(streamed((src, w)) == est(src, w), s"($src, $w)")
    // sanity on the planted counts: alpha seen 4x in s0, never in s1
    assert(streamed(("s0", "alpha")) >= 4 && streamed(("s1", "unseen")) >= 0)
    q.stop()
  }

  test("streaming fixed-grid cluster assignment matches the batch argmin bitwise") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streams.assignFixed(mem.toDF().toDF("vec_id", "embedding"), k = 8)
      .writeStream.outputMode("append").format("memory")
      .queryName("assign").start()
    val rows = Seq.tabulate(20)(i =>
      (i.toLong, Seq.tabulate(64)(d => (((i * 13 + d * 5) % 19) - 9) / 9f)))
    mem.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.sql("SELECT vec_id, centroid FROM assign")
      .orderBy("vec_id").collect().toSeq
    val batch = graft.ext.Similarity.assignFixed(spark,
        rows.toDF("vec_id", "embedding"), k = 8)
      .select(col("vec_id"), col("centroid"))
      .orderBy("vec_id").collect().toSeq
    assert(streamed == batch)
    assert(streamed.map(_.getLong(1)).distinct.size > 1, "degenerate routing")
    q.stop()
  }

  test("streaming winnow fingerprints match the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    // winnow is a stateless narrow generator — it runs on a stream
    // unchanged, the fingerprint-at-arrival half of an incremental
    // near-dup index
    val q = graft.ext.TextStats.winnow(mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("winnow").start()
    val rows = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally different words in this second document here"),
      (3L, "tiny"))
    mem.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.sql("SELECT * FROM winnow")
      .orderBy("doc_id", "pos").collect().toSeq
    val batch = graft.ext.TextStats.winnow(rows.toDF("doc_id", "text"))
      .orderBy("doc_id", "pos").collect().toSeq
    assert(streamed == batch)
    assert(streamed.map(_.getLong(0)).distinct == Seq(1L, 2L))
    q.stop()
  }

  test("streaming pqEnrich replays the batch ivfPqSearch ranking per arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = Seq.tabulate(24) { i =>
      val c = i % 3
      val base = Array(0.05f, 0.05f, 0.05f, 0.05f)
      base(c) = 1.0f + (i / 3) * 0.01f
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val dir = graft.core.TempDir("pqstream").toString
    graft.ext.Similarity.writeIvfPqIndexWith(spark, emb, col("vec_id") < 3,
      graft.ext.Similarity.fixedCodebooks(m = 4, k = 8, subDim = 1), dir)
    val mem = MemoryStream[(Long, Array[Float])]
    val out = Streams.pqEnrich(spark,
      mem.toDF().toDF("vec_id", "embedding"), dir, nProbe = 2, k = 3)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("pqen").start()
    val qvecs = emb.filter(col("vec_id") % 5 === 0)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    // two micro-batches: verdicts are per-arrival
    mem.addData(qvecs.take(2).toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(qvecs.drop(2).toIndexedSeq: _*)
    q.processAllAvailable()
    val got = spark.sql("SELECT * FROM pqen")
      .orderBy("q_id", "rank").collect().toSeq
    val want = graft.ext.Similarity.ivfPqSearch(spark, dir,
        emb.filter(col("vec_id") % 5 === 0), nProbe = 2, topK = 3)
      .orderBy("q_id", "rank").collect().toSeq
    assert(got.nonEmpty)
    assert(got == want)
    q.stop()
  }

  test("streaming IVF intake assigns arriving vectors bit-equal to the batch append") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = Seq.tabulate(24) { i =>
      val c = i % 3
      val base = Array(0.05f, 0.05f, 0.05f, 0.05f)
      base(c) = 1.0f + (i / 3) * 0.01f
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val dir = graft.core.TempDir("ivfstream2").toString
    graft.ext.Similarity.writeIvfIndex(spark, emb.filter(col("vec_id") < 12),
      col("vec_id") < 3, dir, trainIters = 0) // seed contract under test
    val mem = MemoryStream[(Long, Array[Float])]
    val sinkDir = graft.core.TempDir("ivfsink").toString
    val q = Streams.ivfIntake(spark,
        mem.toDF().toDF("vec_id", "embedding"), dir)
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$sinkDir/assigned")
      .option("checkpointLocation", s"$sinkDir/ckpt")
      .partitionBy("centroid_id").start()
    val inc = emb.filter(col("vec_id") >= 12)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    mem.addData(inc.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$sinkDir/assigned")
      .select(col("n_id"), col("centroid_id").cast("long"), col("nn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val batch = graft.ext.Similarity.assignToIndex(spark,
        emb.filter(col("vec_id") >= 12), dir)
      .select(col("n_id"), col("centroid_id"), col("nn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // the sink grew real centroid_id= partitions — pruning stays intact
    assert(new java.io.File(s"$sinkDir/assigned").listFiles()
      .exists(_.getName.startsWith("centroid_id=")))
  }

  test("stream-static winnow dedup against a persisted index equals the batch increment") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the Ext5Spec winnow fixture: planted exact dups, long-run
    // near-dups, boilerplate fps, novel content
    val mkText = (i: Int) => s"alpha bravo charlie delta echo " +
      s"w${i} x${i * 7 % 13} y${i * 11 % 17} z${i * 3 % 5} " +
      s"kilo lima mike november oscar papa quebec"
    val seen = Seq.tabulate(60)(i => (i.toLong, mkText(i))).toDF("doc_id", "text")
    val dir = graft.core.TempDir("winstream").toString
    graft.ext.Dedup.writeWinnowIndex(spark, seen, dir)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val arrivals = Seq.tabulate(10)(i => ((100 + i).toLong, mkText(i * 2), t0)) ++
      Seq((200L, mkText(3) + " tail", t0),
        (201L, "totally novel content here one two three four five six " +
          "seven eight nine ten eleven", t0),
        // shorter than the winnow window: zero fingerprints, kept
        (202L, "tiny doc", t0),
        // null text: no hash, no fingerprints — kept, as in batch
        (203L, null.asInstanceOf[String], t0))
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = Streams.winnowDedup(spark,
        mem.toDF().toDF("doc_id", "text", "ts"), dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("windedup").start()
    // split across two micro-batches: verdicts are per-arrival
    mem.addData(arrivals.take(5): _*)
    q.processAllAvailable()
    mem.addData(arrivals.drop(5): _*)
    q.processAllAvailable()
    val kept = spark.sql("SELECT doc_id FROM windedup")
      .collect().map(_.getLong(0)).toSet
    val batchKept = graft.ext.Dedup.dedupIncrementalWinnowIndexed(spark,
        arrivals.map(a => (a._1, a._2)).toDF("doc_id", "text"), dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == batchKept, s"stream $kept != batch $batchKept")
    assert(kept.contains(201L) && kept.contains(202L))
    assert(kept.contains(203L)) // null text kept in BOTH forms
    assert(!kept.contains(100L)) // exact dup of seen 0 dropped
    q.stop()
  }

  test("streaming histogram quantiles equal the batch histQuantiles over everything seen") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val q = Streams.histQuantiles(mem.toDF().toDF("src", "x"), col("x"),
        "src", lo = 0.0, width = 0.25, bins = 16, ps = Seq(50, 90, 99))
      .writeStream.outputMode("update").format("memory")
      .queryName("histq").start()
    // two micro-batches; includes values beyond the range (clamped into
    // the edge bins) and a group arriving only in batch 2
    val b1 = Seq(("a", 0.1), ("a", 0.6), ("a", 1.7), ("a", 99.0), ("b", 0.3))
    val b2 = Seq(("a", 0.2), ("a", 0.2), ("b", -5.0), ("c", 2.0))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    // latest update per group = the row with the highest running n
    val streamed = spark.sql(
      """SELECT src, n, p50, p90, p99 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY src ORDER BY n DESC)
        |    AS rk FROM histq) WHERE rk = 1""".stripMargin)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val batch = graft.ext.Corpus.histQuantiles(
        (b1 ++ b2).toDF("src", "x"), col("x"), "src",
        lo = 0.0, width = 0.25, bins = 16, ps = Seq(50, 90, 99))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(streamed == batch, s"stream $streamed != batch $batch")
    // clamped top bin: 99.0 lands in bin 15 → edge 16*0.25 = 4.0
    assert(streamed("a")._4 == 4.0)
    q.stop()
  }

  test("histQuantiles drops null values in BOTH forms: stream ≡ batch on null-bearing input") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // pre-fix divergence: batch silently folded the null-bin group into
    // _cum/_n while the stream crashed on HistVal's non-nullable Int —
    // both must simply exclude nulls (a null carries no rank info)
    val rows = Seq(("a", Some(0.1)), ("a", None), ("a", Some(0.6)), ("b", None))
    val mem = MemoryStream[(String, Option[Double])]
    val q = Streams.histQuantiles(mem.toDF().toDF("src", "x"), col("x"),
        "src", lo = 0.0, width = 0.25, bins = 16, ps = Seq(50, 99))
      .writeStream.outputMode("update").format("memory")
      .queryName("histqnull").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.sql(
      """SELECT src, n, p50, p99 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY src ORDER BY n DESC)
        |    AS rk FROM histqnull) WHERE rk = 1""".stripMargin)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val batch = graft.ext.Corpus.histQuantiles(
        rows.toDF("src", "x"), col("x"), "src",
        lo = 0.0, width = 0.25, bins = 16, ps = Seq(50, 99))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(streamed == batch, s"stream $streamed != batch $batch")
    // group a counts only its 2 non-null values; all-null group b is absent
    assert(streamed("a")._1 == 2L && !streamed.contains("b"))
    q.stop()
  }

  test("streaming HLL distinct estimate equals the batch estimator after any batching") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = Seq.tabulate(60)(i =>
      (i.toLong, Seq.tabulate(8)(j => s"tok${(i * 5 + j) % 37}").mkString(" "),
        s"s${i % 2}"))
    val mem = MemoryStream[(Long, String, String)]
    val q = Streams.hllDistinct(
        mem.toDF().toDF("doc_id", "text", "source"))
      .writeStream.outputMode("update").format("memory")
      .queryName("hllstream").start()
    // two micro-batches: registers must MERGE, not reset
    mem.addData(all.take(25): _*)
    q.processAllAvailable()
    mem.addData(all.drop(25): _*)
    q.processAllAvailable()
    // latest update per source = the row with the highest running count
    val streamed = spark.sql(
      """SELECT source, hll_est FROM (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY n_tokens DESC) AS rk FROM hllstream) WHERE rk = 1"""
        .stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val batch = graft.ext.Sketches.hllDistinct(
        all.toDF("doc_id", "text", "source"))
      .collect().map(r =>
        r.getAs[String]("source") -> r.getAs[Double]("hll_est")).toMap
    assert(streamed == batch,
      s"stream $streamed != batch $batch — registers must be max-merged")
    q.stop()
  }

  test("streaming bloom decontamination matches the batch filter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // benchmark corpus → bit set, built ONCE
    val eval = Seq((0L, "alpha beta gamma delta epsilon", "e"))
      .toDF("doc_id", "text", "source")
    val model = new graft.functions.BloomModelRef(
      graft.ext.Sketches.bloomBitsArray(eval, lit(true)))
    val mem = MemoryStream[(Long, String)]
    val q = Streams.bloomDecontam(mem.toDF().toDF("doc_id", "text"), model)
      .writeStream.outputMode("append").format("memory")
      .queryName("bloomdc").start()
    val rows = Seq(
      (20L, "xx beta gamma delta yy"),   // shares a 3-gram → hit
      (21L, "nothing in common at all"),
      (22L, "beta gamma"))               // short-gram edge
    mem.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.sql("SELECT doc_id, bloom_hit FROM bloomdc")
      .orderBy("doc_id").collect().toSeq
    val batch = Streams.bloomDecontam(rows.toDF("doc_id", "text"), model)
      .orderBy("doc_id").collect().toSeq
    assert(streamed == batch)
    assert(streamed.map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      == Map(20L -> true, 21L -> false, 22L -> false))
    q.stop()
  }

  test("streaming quality-classifier scoring matches the batch scorer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val train = Seq.tabulate(12)(i =>
      (i.toLong, if (i % 2 == 0) "clean common prose the and of"
                 else "spam click buy zzz qqq offer", i % 2 == 0))
      .toDF("doc_id", "text", "is_good")
    val model = graft.ext.Classifier.trainQcModel(spark, train,
      col("is_good"), buckets = 64, iters = 5)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.qcScore(mem.toDF().toDF("doc_id", "text"), model)
      .writeStream.outputMode("append").format("memory")
      .queryName("qc").start()
    val rows = Seq((20L, "clean common prose the and"),
      (21L, "spam click buy zzz"), (22L, "unseen vocabulary entirely"))
    mem.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.sql("SELECT * FROM qc").orderBy("doc_id")
      .collect().toSeq
    val batch = graft.ext.Classifier.qcScoreNarrow(
        rows.toDF("doc_id", "text"), model)
      .orderBy("doc_id").collect().toSeq
    assert(streamed == batch)
    assert(streamed.size == 3)
    q.stop()
  }

  test("streaming NB classification matches the batch narrow scorer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val train = Seq.tabulate(20)(i =>
      (i.toLong,
       if (i % 2 == 0) "der die das und aber" else "the and but over under",
       if (i % 2 == 0) "de" else "en"))
      .toDF("doc_id", "text", "lang")
    val model = graft.ext.Classifier.trainNbModel(train, vocabSize = 16)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.nbClassify(mem.toDF().toDF("doc_id", "text"), model)
      .writeStream.outputMode("append").format("memory")
      .queryName("nbc").start()
    val rows = Seq((30L, "der und aber"), (31L, "the but under"),
      (32L, "entirely oov words"))
    mem.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.sql("SELECT * FROM nbc").orderBy("doc_id")
      .collect().toSeq
    val batch = graft.ext.Classifier.nbClassifyNarrow(spark,
        rows.toDF("doc_id", "text"), model)
      .orderBy("doc_id").collect().toSeq
    assert(streamed == batch)
    assert(streamed.map(r => (r.getLong(0), r.getString(1))) ==
      Seq((30L, "de"), (31L, "en"), (32L, "de"))) // 32 = prior tie → label asc
    q.stop()
  }

  test("stream-static persisted-incremental dedup: batch-equivalent keeps, constant state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // seen corpus -> snapshot index via the batch producer (hash + sig +
    // shingles; seen TEXT never consulted again after this line)
    val seen = Seq(
      (1L, "the quick brown fox jumps over the lazy dog every single day"),
      (2L, "completely different text about spark engines and catalyst plans"),
      (3L, "a third seen document with its own unrelated wording entirely"))
      .toDF("doc_id", "text")
    val snapshot = graft.ext.Dedup.incrementalSnapshot(spark, seen)
      .localCheckpoint(true)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val arrivals = Seq(
      // exact dup of seen 1 -> dropped at the hash stage
      (10L, "the quick brown fox jumps over the lazy dog every single day", t0),
      // near-dup of seen 1 (one word changed) -> dropped at the verify stage
      (11L, "the quick brown fox jumps over the lazy cat every single day", t0),
      // fresh content -> kept
      (12L, "entirely novel content nothing like anything in the snapshot", t0),
      // shares a PHRASE with seen 2 (possible bucket hit) but low true
      // jaccard -> kept: the verify stage, not the candidate stage, decides
      (13L, "spark engines and catalyst plans appear here in a much longer and otherwise unrelated document about distributed query execution", t0))
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    // threshold 0.6: doc 11's true char-8-gram jaccard vs seen 1 is
    // ~0.65 (one word of twelve changed) — above 0.6, below the 0.7
    // default, so THIS fixture exercises a verify-stage drop
    val q = Streams.incrementalDedup(spark, docs, snapshot, threshold = 0.6)
      .writeStream.outputMode("append").format("memory").queryName("incdedup").start()
    mem.addData(arrivals: _*)
    // an intra-stream exact duplicate of 12 in a later batch -> dropped by
    // the within-watermark hash state, not the snapshot
    mem.addData((14L, "entirely novel content nothing like anything in the snapshot",
      java.sql.Timestamp.valueOf("2026-01-01 10:00:01")))
    q.processAllAvailable()
    val kept = spark.sql("SELECT doc_id FROM incdedup").collect().map(_.getLong(0)).toSet
    // batch-equivalence pin: the persisted-batch operator on the same
    // (unique-text) arrivals must keep exactly the same ids
    val batchKept = graft.ext.Dedup.dedupIncrementalPersisted(spark,
        arrivals.map(a => (a._1, a._2)).toDF("doc_id", "text"), snapshot,
        threshold = 0.6)
      .collect().map(_.getLong(0)).toSet
    assert(batchKept == Set(12L, 13L), s"batch got $batchKept")
    assert(kept == batchKept, s"stream $kept != batch $batchKept")
    // only ONE stateful operator: the within-stream content-hash dedup
    // (bands left-outer joins + the anti join are stream-static, stateless)
    val prog = q.lastProgress
    assert(prog.stateOperators.length == 1,
      s"expected 1 stateful op, got ${prog.stateOperators.length}")
    q.stop()
  }

  test("stream crawl intake ≡ batch crawlIntake: every stage drops its planted case") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def words(p: String) = (0 until 25).map(i => s"$p$i").mkString(" ")
    val textA = words("alpha"); val textB = words("beta")
    val textC = words("fresh"); val textD = words("delta")
    val nearB = textB.split(" ").init.mkString(" ") + " zzz"
    val junk = Seq.fill(30)("spam").mkString(" ")
    val seen = Seq((1L, textA, "s"), (2L, textB, "s"))
      .toDF("doc_id", "text", "source")
    val snapshot = graft.ext.Dedup.incrementalSnapshot(spark, seen)
      .localCheckpoint(true)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val arrivals = Seq(
      // 10/12 normalize to the SAME URL → the url_norm state keeps 10,
      // which then falls to the exact-vs-seen stage
      (10L, textA, "HTTP://WWW.Example.COM:80/page?utm_source=x&id=1", t0),
      (12L, words("twelve"), "http://www.example.com/page?id=1&fbclid=zz", t0),
      (15L, textC, "https://a.example.org/c1", t0),   // admitted
      (18L, textC, "https://b.example.org/c2", t0),   // exact dup within stream
      (21L, junk, "https://c.example.org/junk", t0),  // gate
      (24L, nearB, "https://d.example.org/near", t0), // near-dup of seen
      (27L, textD, "not a url", t0))                  // url_norm NULL passes
    val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "url", "ts")
    val q = Streams.crawlIntake(spark, docs, snapshot)
      .writeStream.outputMode("append").format("memory")
      .queryName("crawlin").start()
    // one micro-batch per arrival, in id order: the within-stream
    // dedup states keep the FIRST arrival, which this ordering makes
    // exactly the batch form's min-id survivor
    arrivals.foreach { a => mem.addData(a); q.processAllAvailable() }
    val got = spark.sql("SELECT doc_id, url_norm FROM crawlin").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got.keySet == Set(15L, 27L), s"stream admitted ${got.keySet}")
    assert(got(15L).contains("https://a.example.org/c1") && got(27L).isEmpty)
    val batch = graft.ext.Corpus.crawlIntake(spark,
        arrivals.map(a => (a._1, a._2, a._3)).toDF("doc_id", "text", "url"),
        snapshot)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batch == got.keySet, s"stream ${got.keySet} != batch $batch")
    // TWO stateful ops exactly: the url_norm dedup + the content-hash
    // dedup; the gate is narrow, the snapshot joins stream-static
    assert(q.lastProgress.stateOperators.length == 2)
    q.stop()
  }

  test("stream media admission ≡ batch hammingIntakeAdmit; real PNG arm admits/rejects") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // signature level: index holds an 8-member family; arrivals =
    // near-dup of it (reject), a fresh signature (admit), an exact
    // intra-stream dup of the fresh one (watermark state drops it),
    // and a NULL (nothing to compare — drops)
    val seen = Seq.tabulate(8)(i => (i.toLong, 0x1234567812345678L ^ (i % 4).toLong))
      .toDF("doc_id", "packed")
    val dir = graft.core.TempDir("hamadm").toString
    graft.ext.Dedup.writeHammingIndex(spark, seen, dir)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val arrivals = Seq(
      (900L, t0, Some(0x1234567812345679L)), // Hamming 1 of indexed
      (901L, t0, Some(0x7777777777777777L)), // fresh
      (902L, t0, Some(0x7777777777777777L)), // intra-stream exact dup
      (903L, t0, Option.empty[Long]))
    val mem = MemoryStream[(Long, java.sql.Timestamp, Option[Long])]
    val q = Streams.hammingIntakeAdmit(spark,
        mem.toDF().toDF("doc_id", "ts", "packed"), dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("hamadmit").start()
    arrivals.foreach { a => mem.addData(a); q.processAllAvailable() }
    val streamed = spark.sql("SELECT doc_id FROM hamadmit")
      .collect().map(_.getLong(0)).toSet
    // exactly ONE stateful op: the watermarked signature dedup — the
    // index probe is stream-static
    assert(q.lastProgress.stateOperators.length == 1)
    q.stop()
    assert(streamed == Set(901L), s"stream admitted $streamed")
    // batch twin on the same arrivals (id order = arrival order, so
    // first-arrival-wins ≡ min-id-wins)
    val batch = graft.ext.Dedup.hammingIntakeAdmit(spark,
        arrivals.map(a => (a._1, a._3)).toDF("doc_id", "packed"), dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batch == streamed, s"stream $streamed != batch $batch")

    // payload arm: decode-once hash per micro-batch — a resized copy
    // of an indexed image rejects, a fresh pattern admits, junk drops
    def grayImg(w: Int, h: Int)(v: (Int, Int) => Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val g = math.max(0, math.min(255, v(x, y)))
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      img
    }
    def pat(fx: Double, fy: Double, ph: Double) = grayImg(64, 64) { (x, y) =>
      (127.5 * (1 + math.sin(2 * math.Pi *
        ((x + 0.5) / 64 * fx + (y + 0.5) / 64 * fy) + ph))).round.toInt
    }
    def resize(img: java.awt.image.BufferedImage, tw: Int, th: Int) =
      grayImg(tw, th) { (tx, ty) =>
        val (w, h) = (img.getWidth, img.getHeight)
        val (x0, x1) = (tx * w / tw, math.max(tx * w / tw + 1, (tx + 1) * w / tw))
        val (y0, y1) = (ty * h / th, math.max(ty * h / th + 1, (ty + 1) * h / th))
        var acc = 0L; var n = 0
        for (y <- y0 until y1; x <- x0 until x1) { acc += img.getRGB(x, y) & 0xff; n += 1 }
        (acc.toDouble / n).round.toInt
      }
    def enc(img: java.awt.image.BufferedImage): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val p0 = pat(1.0, 0.0, 0.0)
    val imgDir = graft.core.TempDir("imgadm").toString
    graft.multimodal.Multimodal.writeImageHashIndex(spark,
      Seq((100L, enc(p0))).toDF("media_id", "payload"), imgDir)
    val memI = MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
    val qi = Streams.imageIntakeAdmit(spark,
        memI.toDF().toDF("media_id", "ts", "payload"), imgDir)
      .writeStream.outputMode("append").format("memory")
      .queryName("imgadmit").start()
    memI.addData(
      (10L, t0, enc(resize(p0, 48, 48))),        // near-dup of indexed
      (11L, t0, enc(pat(1.0, 2.0, 2.2))),        // fresh
      (12L, t0, "junk".getBytes("UTF-8")))       // undecodable
    qi.processAllAvailable()
    val admitted = spark.sql("SELECT media_id FROM imgadmit")
      .collect().map(_.getLong(0)).toSet
    qi.stop()
    assert(admitted == Set(11L), s"image stream admitted $admitted")
  }

  test("stream pair intake at 128 bits ≡ batch hammingIntake") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the 128-bit admission test's fixture: an 8-member two-long
    // family indexed; arrivals = a near-dup of all eight (combined
    // distance ≤ 3), a fresh pair, its exact dup, a half-NULL signature
    val seen = Seq.tabulate(8)(i => (i.toLong,
        0x1234567812345678L ^ (i % 4).toLong, 0x0F0F00FF11223344L))
      .toDF("doc_id", "lo", "hi")
    val dir = graft.core.TempDir("ham128pairs").toString
    graft.ext.Dedup.writeHammingIndex(spark, seen, dir)
    val arrivals = Seq(
      (900L, Some(0x1234567812345679L), Some(0x0F0F00FF11223345L)),
      (901L, Some(0x7777777777777777L), Some(0x1111111111111111L)),
      (902L, Some(0x7777777777777777L), Some(0x1111111111111111L)),
      (903L, Some(0x9999L), Option.empty[Long]))
    val mem = MemoryStream[(Long, Option[Long], Option[Long])]
    val q = Streams.hammingIntake(spark,
        mem.toDF().toDF("doc_id", "lo", "hi"), dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("ham128pairs").start()
    arrivals.foreach { a => mem.addData(a); q.processAllAvailable() }
    val streamed = spark.sql("SELECT * FROM ham128pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    q.stop()
    val batch = graft.ext.Dedup.hammingIntake(spark,
        arrivals.toDF("doc_id", "lo", "hi"), dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(batch.map(_._2) == (0L until 8L) && batch.forall(_._1 == 900L),
      s"batch $batch")
  }

  test("stream 128-bit media admission ≡ batch hammingIntakeAdmit on (lo, hi); real PNG arm") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // signature level: index = an 8-member two-long family; arrivals =
    // a near-dup (combined distance 2 → reject), a fresh pair (admit),
    // an exact intra-stream dup of it (watermark state drops it), and
    // a half-NULL signature (nothing to compare — drops)
    val seen = Seq.tabulate(8)(i => (i.toLong,
        0x1234567812345678L ^ (i % 4).toLong, 0x0F0F00FF11223344L))
      .toDF("doc_id", "lo", "hi")
    val dir = graft.core.TempDir("ham128adm").toString
    graft.ext.Dedup.writeHammingIndex(spark, seen, dir)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val arrivals = Seq(
      (900L, t0, Some(0x1234567812345679L), Some(0x0F0F00FF11223345L)),
      (901L, t0, Some(0x7777777777777777L), Some(0x1111111111111111L)),
      (902L, t0, Some(0x7777777777777777L), Some(0x1111111111111111L)),
      (903L, t0, Some(0x9999L), Option.empty[Long]))
    val mem = MemoryStream[(Long, java.sql.Timestamp, Option[Long], Option[Long])]
    val q = Streams.hammingIntakeAdmit(spark,
        mem.toDF().toDF("doc_id", "ts", "lo", "hi"), dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("ham128admit").start()
    arrivals.foreach { a => mem.addData(a); q.processAllAvailable() }
    val streamed = spark.sql("SELECT doc_id FROM ham128admit")
      .collect().map(_.getLong(0)).toSet
    // exactly ONE stateful op: the watermarked two-column signature
    // dedup — the index probe is stream-static
    assert(q.lastProgress.stateOperators.length == 1)
    q.stop()
    assert(streamed == Set(901L), s"stream admitted $streamed")
    val batch = graft.ext.Dedup.hammingIntakeAdmit(spark,
        arrivals.map(a => (a._1, a._3, a._4)).toDF("doc_id", "lo", "hi"), dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batch == streamed, s"stream $streamed != batch $batch")

    // payload arm on REAL PNGs — the batch 64-bit test's patterns
    // through the 128-bit dual-hash admission: a box-resized copy of
    // an indexed image rejects (BOTH perceptual tests agree within
    // distance 3), a fresh pattern admits, junk drops
    def grayImg(w: Int, h: Int)(v: (Int, Int) => Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val g = math.max(0, math.min(255, v(x, y)))
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      img
    }
    def pat(fx: Double, fy: Double, ph: Double) = grayImg(64, 64) { (x, y) =>
      (127.5 * (1 + math.sin(2 * math.Pi *
        ((x + 0.5) / 64 * fx + (y + 0.5) / 64 * fy) + ph))).round.toInt
    }
    def resize(img: java.awt.image.BufferedImage, tw: Int, th: Int) =
      grayImg(tw, th) { (tx, ty) =>
        val (w, h) = (img.getWidth, img.getHeight)
        val (x0, x1) = (tx * w / tw, math.max(tx * w / tw + 1, (tx + 1) * w / tw))
        val (y0, y1) = (ty * h / th, math.max(ty * h / th + 1, (ty + 1) * h / th))
        var acc = 0L; var n = 0
        for (y <- y0 until y1; x <- x0 until x1) { acc += img.getRGB(x, y) & 0xff; n += 1 }
        (acc.toDouble / n).round.toInt
      }
    def enc(img: java.awt.image.BufferedImage): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val p0 = pat(1.0, 0.0, 0.0)
    val imgDir = graft.core.TempDir("img128adm").toString
    graft.multimodal.Multimodal.writeImageHashIndex128(spark,
      Seq((100L, enc(p0))).toDF("media_id", "payload"), imgDir)
    val memI = MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
    val qi = Streams.imageIntakeAdmit128(spark,
        memI.toDF().toDF("media_id", "ts", "payload"), imgDir)
      .writeStream.outputMode("append").format("memory")
      .queryName("img128admit").start()
    memI.addData(
      (10L, t0, enc(resize(p0, 48, 48))),        // near-dup of indexed
      (11L, t0, enc(pat(1.0, 2.0, 2.2))),        // fresh
      (12L, t0, "junk".getBytes("UTF-8")))       // undecodable
    qi.processAllAvailable()
    val admitted = spark.sql("SELECT media_id FROM img128admit")
      .collect().map(_.getLong(0)).toSet
    qi.stop()
    assert(admitted == Set(11L), s"image stream admitted $admitted")
    // batch composition twin: Corpus.crawlIntakeMixed128's media arm on
    // the same arrivals equals the stream admits, and the release
    // handle returns the text arm's checkpoint storage
    val beforeRdds = spark.sparkContext.getPersistentRDDs.keySet
    val (docsAdm, mediaAdm, release) = graft.ext.Corpus.crawlIntakeMixed128(
      spark,
      Seq((1L, "http://ex.com/a", "w " * 30 + "unique page text one two three"))
        .toDF("doc_id", "url", "text"),
      graft.ext.Dedup.incrementalSnapshot(spark,
        Seq((2L, "entirely different seen text " * 5)).toDF("doc_id", "text")),
      Seq((10L, enc(resize(p0, 48, 48))), (11L, enc(pat(1.0, 2.0, 2.2))),
        (12L, "junk".getBytes("UTF-8"))).toDF("media_id", "payload"),
      imgDir)
    val mediaBatch = mediaAdm.select("media_id").collect()
      .map(_.getLong(0)).toSet
    assert(mediaBatch == admitted, s"mixed media arm $mediaBatch != stream $admitted")
    // the documented intake LOOP composes as written: append the
    // admitted (media_id, lo, hi) frame through appendImageHashIndex128
    // (the media_id -> doc_id bridge), and the same fresh image now
    // REJECTS on the next increment because the index saw it
    graft.multimodal.Multimodal.appendImageHashIndex128(spark, mediaAdm, imgDir)
    val (secondDf, secondRelease) =
      graft.multimodal.Multimodal.imageIntakeAdmit128Tracked(spark,
        Seq((20L, enc(pat(1.0, 2.0, 2.2)))).toDF("media_id", "payload"),
        imgDir)
    val second = secondDf
      .select("media_id").collect().map(_.getLong(0)).toSet
    secondRelease() // consumed — the decode-once checkpoint can go
    assert(second.isEmpty, s"re-arrival of an appended admit re-admitted: $second")
    docsAdm.collect() // consume the text arm fully, then release
    val beforeRelease = spark.sparkContext.getPersistentRDDs.keySet
    release()
    val leftover = spark.sparkContext.getPersistentRDDs.keySet -- beforeRdds
    // release() returns the GATED INCREMENT's blocks (its contract);
    // the verdict stage's candidate-bounded checkpoint inside
    // dedupIncrementalPersisted stays until RDD GC by documented
    // design — so exactly one block class may remain, and release must
    // have freed something
    assert(leftover.size < (beforeRelease -- beforeRdds).size,
      "crawlIntakeMixed128 release() freed nothing")
    assert(leftover.size <= 1,
      s"crawlIntakeMixed128 left unexpected blocks: $leftover")
  }

  test("static-side caches register per stream build and release on demand") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.core.TempDir("ssidx").toString
    graft.ext.Dedup.writeHammingIndex(spark,
      Seq((1L, 0x1234L), (2L, 0xff00L)).toDF("doc_id", "packed"), dir)
    val before = Streams.staticSideCount
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val q = Streams.hammingIntakeAdmit(spark,
        mem.toDF().toDF("doc_id", "ts", "packed"), dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("ssrel").start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    mem.addData((10L, t0, 0x1234L), (11L, t0, 0x0f0fL))
    q.processAllAvailable()
    // the probe side registered exactly once for the stream's lifetime
    assert(Streams.staticSideCount == before + 1)
    assert(spark.sql("SELECT doc_id FROM ssrel").collect()
      .map(_.getLong(0)).toSeq == Seq(11L)) // 10 = indexed dup, dropped
    q.stop()
    // release returns the storage and empties the registry — the
    // accumulated sides of every stream this suite started so far
    assert(Streams.releaseStaticSides() >= 1)
    assert(Streams.staticSideCount == 0)
    // scoped tracking: two stream builds, releasing the FIRST scope
    // leaves the second stream's caches alone (the multi-stream driver
    // contract — global release would evict both)
    val (p1, rel1) = Streams.trackStaticSides {
      Streams.hammingIntakeAdmit(spark,
        mem.toDF().toDF("doc_id", "ts", "packed"), dir)
    }
    val n1 = Streams.staticSideCount
    assert(n1 >= 1)
    val (p2, _) = Streams.trackStaticSides {
      Streams.hammingIntakeAdmit(spark,
        mem.toDF().toDF("doc_id", "ts", "packed"), dir)
    }
    assert(Streams.staticSideCount == n1 * 2)
    rel1()
    assert(Streams.staticSideCount == n1)
    assert(p1 != null && p2 != null)
    assert(Streams.releaseStaticSides() == n1)
  }

  test("watermarked window aggregation over an event stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val agg = Streams.eventCounts(events, "1 minute", "1 minute")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("evt_counts").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:30")
    mem.addData((ts(0), "click", 1.0), (ts(0), "click", 2.0), (ts(1), "view", 5.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT event_type, n, sum_value FROM evt_counts ORDER BY event_type")
      .collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("click", 2L, 3.0), ("view", 1L, 5.0)))
    q.stop()
  }

  test("watermarked streaming dedup drops duplicate event ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "value")
    val q = Streams.dedupEvents(events)
      .writeStream.outputMode("append").format("memory").queryName("deduped").start()
    val t = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val t2 = java.sql.Timestamp.valueOf("2026-01-01 10:00:01")
    // id 1 duplicates at a DIFFERENT event time — must still dedup
    mem.addData((1L, t, 1.0), (1L, t2, 1.0), (2L, t, 2.0), (2L, t, 2.0), (3L, t, 3.0))
    q.processAllAvailable()
    val n = spark.sql("SELECT count(*) FROM deduped").head().getLong(0)
    assert(n == 3)
    q.stop()
  }

  test("docIntake: streaming dedup + quality gate + split, exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    val gated = Streams.docIntake(docs, stopwords = Seq("the", "a"),
      minQuality = 0.2)
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("intake").start()
    val t = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val t2 = java.sql.Timestamp.valueOf("2026-01-01 10:00:07")
    val good = "the quick brown fox jumps over the lazy dog again and again"
    mem.addData(
      (1L, good, t),
      (2L, good, t2),         // same content, LATER ts → still a dup
      (3L, "zzz!!!???...", t), // punct-heavy, no stopwords → low quality
      (4L, good + " varied", t))
    q.processAllAvailable()
    val rows = spark.sql("SELECT doc_id, split FROM intake ORDER BY doc_id").collect()
    assert(rows.length == 2) // dup dropped, low-quality gated
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 4L) ||
      rows.map(_.getLong(0)).toSeq == Seq(2L, 4L)) // either copy survives
    assert(rows.forall(r => Set("train", "val", "test")(r.getString(1))))
    q.stop()
  }

  test("streaming debounce matches the batch q35 semantics on an in-order stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.DebEvent]
    val q = Streams.debounce(spark, mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("deb_out").start()
    val M = 1000000L // 1s in µs
    // base offset: an event AT the initial zero watermark would be
    // pre-filtered as late (watermark semantics of the TTL-bounded
    // state) — real event times are never epoch 0
    val B = 1000L * M
    // batch 1: burst at B (keep first only), then a >60s gap (keep)
    mem.addData(
      Streams.DebEvent(1L, "click", B, 1L),
      Streams.DebEvent(1L, "click", B + 10L * M, 2L), // 10s after 1 → drop
      Streams.DebEvent(1L, "click", B + 80L * M, 3L), // 70s after 2 → keep
      Streams.DebEvent(1L, "view", B + 5L * M, 4L))   // other type → keep
    q.processAllAvailable()
    // batch 2: gap measured against batch-1 STATE (B+80s): 30s later →
    // drop; 200s later → keep; a cross-batch late event (ts B+50s, before
    // the retained B+110s state) → suppressed, never re-opens the burst
    mem.addData(
      Streams.DebEvent(1L, "click", B + 110L * M, 5L),
      Streams.DebEvent(1L, "click", B + 310L * M, 6L),
      Streams.DebEvent(1L, "click", B + 50L * M, 7L))
    q.processAllAvailable()
    val kept = spark.sql("SELECT event_id FROM deb_out")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L, 6L), s"got $kept")
    q.stop()

    // in-order equivalence vs the batch operator (q35 shape): same
    // events through the lag-window form — identical keeps. The batch
    // query reads ts in ns (DIV 1000), so scale µs → ns.
    val batchDir = graft.core.TempDir("deb-batch").toString
    Seq((1L, "click", B, 1L), (1L, "click", B + 10L * M, 2L),
      (1L, "click", B + 80L * M, 3L), (1L, "view", B + 5L * M, 4L),
      (1L, "click", B + 110L * M, 5L), (1L, "click", B + 310L * M, 6L))
      .toDF("user_id", "event_type", "ts_us", "event_id")
      .withColumn("ts", col("ts_us") * 1000).drop("ts_us")
      .write.mode("overwrite").parquet(s"$batchDir/events.parquet")
    val batchKept = graft.queries.Registry.queries("q35_debounce")(spark, batchDir)
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(batchKept == Set(1L, 3L, 4L, 6L), s"batch got $batchKept")
  }

  test("debounce runs in BATCH execution (watermark node eliminated) with identical keeps") {
    // batch mode strips the watermark node (EliminateEventTimeWatermark),
    // so state.getCurrentWatermarkMs() THROWS — the operator must guard
    // it, not assume a streaming-only caller (this is the claim the
    // timeout-setup comment makes; this test is the proof)
    import spark.implicits._
    val M = 1000000L
    val B = 1000L * M
    val events = Seq(
      Streams.DebEvent(1L, "click", B, 1L),
      Streams.DebEvent(1L, "click", B + 10L * M, 2L),
      Streams.DebEvent(1L, "click", B + 80L * M, 3L),
      Streams.DebEvent(1L, "view", B + 5L * M, 4L),
      Streams.DebEvent(1L, "click", B + 110L * M, 5L),
      Streams.DebEvent(1L, "click", B + 310L * M, 6L)).toDF()
    val kept = Streams.debounce(spark, events)
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(kept == Set(1L, 3L, 4L, 6L), s"got $kept")
  }

  test("streaming as-of: in-batch exact (ties right-first), late clicks never see future values") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.AsofEvent]
    val q = Streams.asofEnrich(spark, mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("asof_out").start()
    // batch 1: purchase@100 then clicks (one at the SAME ts — right sorts first)
    mem.addData(
      Streams.AsofEvent(1L, 100L, 10L, is_left = false, 5.0),
      Streams.AsofEvent(1L, 100L, 11L, is_left = true, 0.1),
      Streams.AsofEvent(1L, 150L, 12L, is_left = true, 0.2),
      Streams.AsofEvent(2L, 90L, 20L, is_left = true, 0.3)) // no purchase yet
    q.processAllAvailable()
    // batch 2: newer purchase arrives WITH an intra-batch late click —
    // per-batch ts ordering still answers the click exactly (5.0, the
    // purchase@100, because the purchase@200 sorts after it)
    mem.addData(
      Streams.AsofEvent(1L, 200L, 13L, is_left = false, 7.0),
      Streams.AsofEvent(1L, 250L, 14L, is_left = true, 0.4),
      Streams.AsofEvent(1L, 120L, 15L, is_left = true, 0.5))
    q.processAllAvailable()
    // batch 3: a CROSS-batch late click older than the retained state —
    // degrades to None (never a future value)
    mem.addData(Streams.AsofEvent(1L, 110L, 16L, is_left = true, 0.6))
    q.processAllAvailable()
    val rows = spark.sql(
        "SELECT event_id, asof_value FROM asof_out ORDER BY event_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows == Map(11L -> Some(5.0), 12L -> Some(5.0), 20L -> None,
      14L -> Some(7.0), 15L -> Some(5.0), 16L -> None))
    q.stop()
  }

  test("mapGroupsWithState applies the status machine, ignoring illegal jumps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.SimEvent]
    val q = Streams.latestStatus(spark, mem.toDF())
      .writeStream.outputMode("update").format("memory").queryName("statuses").start()
    mem.addData(
      Streams.SimEvent("h1", "RUNNING", 1), Streams.SimEvent("h1", "COMPLETED", 2),
      Streams.SimEvent("h2", "COMPLETED", 1)) // illegal from CREATED → ignored
    q.processAllAvailable()
    val rows = spark.sql("SELECT sim_hash, status, transitions FROM statuses ORDER BY sim_hash")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(("h1", "COMPLETED", 2L), ("h2", "CREATED", 0L)))
    q.stop()
  }
}
