package graft.ext

import org.apache.spark.sql.functions._

import graft.pumle.SparkSpec

/** graft.ext.Corpus + the round-6 Similarity additions under
  * parameterizations the oracle gate (q106-q113) doesn't exercise. */
class CorpusSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "a b c d e f g h", "s1", 15L),
      (2L, "a b c d e f g h", "s1", 15L), // exact dup of 1
      (3L, "x y z", "s1", 5L),
      (4L, "one two three four five six seven", "s2", 33L),
      (5L, "", "s2", 0L),
      (6L, "solo", "s3", 4L))
      .toDF("doc_id", "text", "source", "n_chars")
  }

  test("capPerGroupSalted is bit-identical to capPerGroup under any salt count") {
    val order = Seq(col("n_chars").desc, col("doc_id"))
    val plain = Corpus.capPerGroup(docs, "source", order, n = 2)
      .select("doc_id", "source", "rn").orderBy("doc_id").collect().toSeq
    for (salts <- Seq(1, 2, 16)) {
      val salted = Corpus.capPerGroupSalted(docs, "source", order, n = 2,
          salts = salts)
        .select("doc_id", "source", "rn").orderBy("doc_id").collect().toSeq
      assert(salted == plain, s"salts=$salts diverged")
    }
    // the cap actually drops: s1 has 3 docs, 2 survive
    assert(plain.count(_.getString(1) == "s1") == 2)
  }

  test("chunkOverlap: stride=width partitions the doc exactly; tail kept short") {
    val out = Corpus.chunkOverlap(docs.filter(col("doc_id") === 4L),
        width = 3, stride = 3)
      .orderBy("chunk_idx").collect()
    assert(out.map(_.getAs[String]("chunk")).toSeq ==
      Seq("one two three", "four five six", "seven"))
    assert(out.map(_.getAs[Long]("n_words")).toSeq == Seq(3L, 3L, 1L))
    // non-overlapping chunks re-concatenate to the original text
    assert(out.map(_.getAs[String]("chunk")).mkString(" ") ==
      "one two three four five six seven")
  }

  test("chunkOverlap: overlap repeats stride-boundary words; empty text → one empty chunk") {
    val over = Corpus.chunkOverlap(docs.filter(col("doc_id") === 1L),
        width = 4, stride = 2)
      .orderBy("chunk_idx").collect()
    // starts at 0,2,4,6 over 8 words; each chunk ≤ 4 words
    assert(over.map(_.getAs[String]("chunk")).toSeq ==
      Seq("a b c d", "c d e f", "e f g h", "g h"))
    val empty = Corpus.chunkOverlap(docs.filter(col("doc_id") === 5L),
        width = 4, stride = 2).collect()
    assert(empty.length == 1 && empty.head.getAs[String]("chunk") == "")
  }

  test("chunkOverlap (compiled chunk_words) ≡ chunkOverlapRelational on every doc") {
    for ((w, s) <- Seq((3, 3), (4, 2), (32, 24), (2, 5))) {
      val compiled = Corpus.chunkOverlap(docs, width = w, stride = s)
        .orderBy("doc_id", "chunk_idx").collect().toSeq
      val relational = Corpus.chunkOverlapRelational(docs, width = w, stride = s)
        .orderBy("doc_id", "chunk_idx").collect().toSeq
      assert(compiled == relational, s"width=$w stride=$s diverged")
    }
    // null text emits no chunks in either form
    import spark.implicits._
    val withNull = Seq((9L, null: String)).toDF("doc_id", "text")
    assert(Corpus.chunkOverlap(withNull, 4, 2).count() == 0L)
    assert(Corpus.chunkOverlapRelational(withNull, 4, 2).count() == 0L)
  }

  test("lengthBandFilter keeps exactly the rows within the quantile band") {
    // p0..p1.0 keeps everything; a tight band drops the extremes
    assert(Corpus.lengthBandFilter(docs, 0.0, 1.0).count() == docs.count())
    val mid = Corpus.lengthBandFilter(docs, 0.25, 0.75)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    // sorted n_chars: 0,4,5,15,15,33 → band [p25,p75] = [4.25, 15.0]
    assert(mid == Seq(1L, 2L, 3L))
  }

  test("dupProfileBySource: dup ratio is per-source and ratio6-rounded") {
    val rows = Corpus.dupProfileBySource(docs).orderBy("source").collect()
    val s1 = rows.find(_.getString(0) == "s1").get
    assert(s1.getAs[Long]("n_docs") == 3L && s1.getAs[Long]("n_distinct") == 2L)
    assert(s1.getAs[Double]("dup_ratio") == 0.333333) // floor((1·2e6+3)/6)/1e6
    assert(rows.find(_.getString(0) == "s3").get.getAs[Double]("dup_ratio") == 0.0)
  }

  test("snapshot publish + verify: intact ⇒ all ok; changed source flagged; added source flagged") {
    val dir = graft.core.TempDir("snap").toString
    Corpus.writeSnapshot(spark, docs, dir)
    val ok = Corpus.verifySnapshot(spark, dir).collect()
    assert(ok.length == 3 && ok.forall(_.getAs[Boolean]("ok")))
    // republish DATA ONLY (manifest now stale): s1 text changed, s4 new
    import spark.implicits._
    val mutated = docs
      .withColumn("text",
        when(col("doc_id") === 3L, lit("tampered")).otherwise(col("text")))
      .unionByName(Seq((7L, "new doc", "s4", 7L))
        .toDF("doc_id", "text", "source", "n_chars"))
    mutated.write.mode("overwrite").partitionBy("source").parquet(s"$dir/docs")
    val v = Corpus.verifySnapshot(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Boolean]("ok")).toMap
    assert(v == Map("s1" -> false, "s2" -> true, "s3" -> true, "s4" -> false))
  }

  private def vecs = {
    import spark.implicits._
    // 2-d embeddings, two tight clusters on the axes
    Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.8f, 0.05f), 0),
      (3L, Array(0.0f, 1.0f), 1),
      (4L, Array(0.1f, 0.9f), 1),
      (5L, Array(0.05f, 0.8f), 1))
      .toDF("vec_id", "embedding", "label")
  }

  test("meanPool: long-form per-label means match hand computation") {
    val rows = Similarity.meanPool(spark, vecs).orderBy("label", "dim").collect()
    assert(rows.length == 4) // 2 labels × 2 dims
    val m = rows.map(r => (r.getAs[Int]("label"), r.getAs[Long]("dim")) ->
      r.getAs[Double]("mean")).toMap
    assert(math.abs(m((0, 0L)) - 0.9) < 1e-9)       // (1.0+0.9+0.8)/3
    assert(math.abs(m((0, 1L)) - 0.05) < 1e-9)      // (0+0.1+0.05)/3
    assert(math.abs(m((1, 1L)) - 0.9) < 1e-9)
    assert(rows.forall(_.getAs[Long]("n_vecs") == 3L))
  }

  test("knnClassify recovers the cluster label with k=3") {
    val out = Similarity.knnClassify(spark, vecs, col("vec_id") >= 0, k = 3)
      .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Int]("pred_label")).toMap
    // with self excluded, each point's 3-NN holds its 2 cluster-mates +
    // 1 cross vote → majority = own cluster
    assert((0L to 2L).forall(out(_) == 0))
    assert((3L to 5L).forall(out(_) == 1))
  }

  test("annRecall: probing every cell makes IVF exhaustive (recall = 1)") {
    val all = Similarity.annRecall(spark, vecs,
        centroidPred = col("vec_id").isin(0L, 3L),
        queryPred = col("vec_id") % 2 === 0, nProbe = 2, k = 2)
      .collect()
    assert(all.nonEmpty)
    assert(all.forall(_.getAs[Double]("recall") == 1.0))
    assert(all.forall(_.getAs[Long]("hits") == 2L))
    // nProbe=1 can only lose recall, never gain
    val one = Similarity.annRecall(spark, vecs,
        centroidPred = col("vec_id").isin(0L, 3L),
        queryPred = col("vec_id") % 2 === 0, nProbe = 1, k = 2)
      .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("recall")).toMap
    val allMap = all.map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("recall")).toMap
    assert(one.forall { case (q, r) => r <= allMap(q) })
  }

  test("epochOrder: dense permutation == the naive global sort, any partitioning") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val big = (0L until 500L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val r = Corpus.epochOrder(big, seed = 7L, nShards = 8)
    // a dense 0..n-1 permutation
    assert(r.select("rank").as[Long].collect().sorted.toSeq == (0L until 500L))
    // the bucketed two-phase rank IS the one-task global row_number
    val naive = big
      .select(col("doc_id"),
        md5(concat_ws(":", lit(7L), col("doc_id"))).as("h"))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("h"), col("doc_id")))
          .cast("long") - 1)
      .select("doc_id", "rank").as[(Long, Long)].collect().toMap
    val got = r.select("doc_id", "rank").as[(Long, Long)].collect().toMap
    assert(got == naive)
    // partitioning cannot move a single rank
    val reparted = Corpus.epochOrder(big.repartition(13), seed = 7L, nShards = 8)
      .collect().toSet
    assert(reparted == r.collect().toSet)
  }

  test("epochOrder: seed changes the permutation; shards are balanced ±1") {
    import spark.implicits._
    val big = (0L until 500L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val s7 = Corpus.epochOrder(big, 7L).select("doc_id", "rank")
      .as[(Long, Long)].collect().toMap
    val s8 = Corpus.epochOrder(big, 8L).select("doc_id", "rank")
      .as[(Long, Long)].collect().toMap
    assert(s7 != s8, "different seeds must give different permutations")
    val counts = Corpus.epochOrder(big, 7L, nShards = 8)
      .groupBy("shard").count().select("count").as[Long].collect()
    assert(counts.length == 8 && counts.max - counts.min <= 1)
  }

  test("writeEpoch publishes shard dirs with rank-interleaved full rows") {
    import spark.implicits._
    val big = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val dir = graft.core.TempDir("epoch").toString
    Corpus.writeEpoch(big, seed = 7L, nShards = 4, dir)
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(dirs.toSeq == Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    val back = spark.read.parquet(dir)
    // full rows survive; ranks agree with epochOrder; each shard holds
    // exactly the ranks ≡ its id (mod 4) — the interleaved-slice contract
    assert(back.columns.toSet == Set("doc_id", "text", "rank", "shard"))
    val order = Corpus.epochOrder(big, 7L, nShards = 4)
      .select("doc_id", "rank").as[(Long, Long)].collect().toMap
    val rows = back.select("doc_id", "text", "rank", "shard")
      .as[(Long, String, Long, Int)].collect()
    assert(rows.length == 200)
    assert(rows.forall { case (id, txt, rk, sh) =>
      txt == s"doc $id" && order(id) == rk && rk % 4 == sh })
  }

  test("robustLengthOutliers: median/MAD selections, planted outlier flagged") {
    import spark.implicits._
    // source "a": 20 docs of length ~100 (spread 0..19) + one 5000-char
    // monster; source "b": constant length (MAD = 0 → divisor floors at 1)
    val d = (Seq.tabulate(20)(i => (i.toLong, "t", "a", 100L + i)) :+
        (99L, "t", "a", 5000L)) ++
      Seq.tabulate(5)(i => (200L + i, "t", "b", 50L))
    val df = d.toDF("doc_id", "text", "source", "n_chars")
    val got = Corpus.robustLengthOutliers(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // lower median of {100..119, 5000}: 21 values, cum*2 >= 21 at the
    // 11th → 110; MAD over |v-110|: {10,9,...,0,...,9,4890} → median 5
    val r0 = got(0L)
    assert(r0.getAs[Long]("med") == 110L && r0.getAs[Long]("mad") == 5L,
      s"med/mad = ${r0.getAs[Long]("med")}/${r0.getAs[Long]("mad")}")
    assert(got(99L).getAs[Boolean]("outlier"), "5000-char doc must flag")
    // the monster cannot drag the median: inliers stay unflagged
    assert((0L to 19L).forall(i => !got(i).getAs[Boolean]("outlier")))
    // constant-length source: z = (v-med)/max(0,1) = 0 everywhere
    assert((200L to 204L).forall(i =>
      got(i).getAs[Double]("robust_z") == 0.0 && !got(i).getAs[Boolean]("outlier")))
  }

  test("robustLengthOutliers vs q90-style mean z: outlier does not poison the baseline") {
    import spark.implicits._
    // one extreme doc inflates stddev enough that a mean z-score would
    // let a 4x-length doc pass; the MAD baseline still flags it
    val d = Seq.tabulate(50)(i => (i.toLong, "t", "a", 100L)) ++
      Seq((90L, "t", "a", 400L), (91L, "t", "a", 100000L))
    val got = Corpus.robustLengthOutliers(d.toDF("doc_id", "text", "source", "n_chars"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("outlier")).toMap
    assert(got(90L) && got(91L), "both the 4x and the extreme doc must flag")
  }

  test("crawlIntake ≡ the manual stage sequence; every stage drops its planted case") {
    import spark.implicits._
    def words(p: String) = (0 until 25).map(i => s"$p$i").mkString(" ")
    val textA = words("alpha") // seen verbatim
    val textB = words("beta")  // seen; arrival 24 is a near-dup of it
    val textC = words("fresh") // unique, gate-passing
    val textD = words("delta") // unique, gate-passing (malformed-URL doc)
    val nearB = textB.split(" ").init.mkString(" ") + " zzz" // 24/25 words shared
    val junk = Seq.fill(30)("spam").mkString(" ")            // fails dup-word + entropy
    val seen = Seq((1L, textA, "s"), (2L, textB, "s"))
      .toDF("doc_id", "text", "source")
    val arrivals = Seq(
      // 10 and 12 normalize to the SAME URL → stage 1 keeps 10 …
      (10L, textA, "HTTP://WWW.Example.COM:80/page?utm_source=x&id=1"),
      (12L, words("twelve"), "http://www.example.com/page?id=1&fbclid=zz"),
      // … and 10 then falls to the exact-vs-seen verdict in stage 4
      (15L, textC, "https://a.example.org/c1"),   // admitted
      (18L, textC, "https://b.example.org/c2"),   // exact dup WITHIN → stage 2
      (21L, junk, "https://c.example.org/junk"),  // gate → stage 3
      (24L, nearB, "https://d.example.org/near"), // near-dup of seen → stage 4
      (27L, textD, "not a url"))                  // url_norm NULL passes through
      .toDF("doc_id", "text", "url")
    val snapshot = Dedup.incrementalSnapshot(spark, seen).localCheckpoint(true)
    val got = Corpus.crawlIntake(spark, arrivals, snapshot)
    val gotIds = got.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(gotIds == Seq(15L, 27L))
    // url_norm threads through to the output (canonical for 15, NULL for 27)
    val byId = got.collect()
      .map(r => r.getAs[Long]("doc_id") -> Option(r.getAs[String]("url_norm"))).toMap
    assert(byId(15L).contains("https://a.example.org/c1") && byId(27L).isEmpty)
    // the composition ≡ running the four stages one by one
    val normed = TextStats.urlNormalize(arrivals).select("doc_id", "url_norm")
    val keep1 = normed.filter(col("url_norm").isNotNull)
      .groupBy("url_norm").agg(min("doc_id").as("doc_id")).select("doc_id")
      .unionByName(normed.filter(col("url_norm").isNull).select("doc_id"))
    val a1 = arrivals.join(keep1, Seq("doc_id"), "left_semi")
    val a2 = a1.join(
      Dedup.exact(a1).select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val a3 = a2.join(
      TextStats.gopherFilterNarrow(a2).filter(col("keep")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val manual = Dedup.dedupIncrementalPersisted(spark, a3, snapshot)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(manual == gotIds)
  }

  // -- mixed-increment intake fixtures (MultimodalSpec's smooth-pattern
  //    discipline: low-frequency so box-resize preserves hash bits) --
  private def grayImg(w: Int, h: Int)(v: (Int, Int) => Int) = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val g = math.max(0, math.min(255, v(x, y)))
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    img
  }
  private def pattern(fx: Double, fy: Double, phase: Double) =
    grayImg(64, 64) { (x, y) =>
      (127.5 * (1 + math.sin(2 * math.Pi *
        ((x + 0.5) / 64 * fx + (y + 0.5) / 64 * fy) + phase))).round.toInt
    }
  private def enc(img: java.awt.image.BufferedImage,
      fmt: String = "png"): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, baos)
    baos.toByteArray
  }
  private def resizeBox(img: java.awt.image.BufferedImage, tw: Int, th: Int) = {
    val (w, h) = (img.getWidth, img.getHeight)
    grayImg(tw, th) { (tx, ty) =>
      val (x0, x1) = (tx * w / tw, math.max(tx * w / tw + 1, (tx + 1) * w / tw))
      val (y0, y1) = (ty * h / th, math.max(ty * h / th + 1, (ty + 1) * h / th))
      var acc = 0L; var n = 0
      for (y <- y0 until y1; x <- x0 until x1) { acc += img.getRGB(x, y) & 0xff; n += 1 }
      (acc.toDouble / n).round.toInt
    }
  }

  test("crawlIntakeMixed: one call admits a text+media increment ≡ the manual stage sequence") {
    import spark.implicits._
    def words(p: String) = (0 until 25).map(i => s"$p$i").mkString(" ")
    // text arm: one admitted, one exact dup of seen (dropped)
    val seen = Seq((1L, words("alpha"), "s")).toDF("doc_id", "text", "source")
    val snapshot = Dedup.incrementalSnapshot(spark, seen).localCheckpoint(true)
    val arrivals = Seq(
      (10L, words("fresh"), "https://a.example.org/c1"),
      (11L, words("alpha"), "https://b.example.org/c2")) // exact dup of seen
      .toDF("doc_id", "text", "url")
    // media arm: seen index = patterns P0, P1; increment = resized P0
    // copy (near-dup of indexed → drop), fresh P2 (admit), P2 re-encode
    // (identical pixels → identical dHash → within-increment EXACT dup
    // of 11, min id wins), junk (undecodable → drop)
    val p0 = pattern(1.0, 0.0, 0.0)
    val p1 = pattern(2.0, 1.0, 1.1)
    val p2 = pattern(1.0, 2.0, 2.2)
    val idxDir = graft.core.TempDir("miximg").toString
    graft.multimodal.Multimodal.writeImageHashIndex(spark,
      Seq((100L, enc(p0)), (101L, enc(p1))).toDF("media_id", "payload"), idxDir)
    val media = Seq(
      (10L, enc(resizeBox(p0, 48, 48))),
      (11L, enc(p2)),
      (12L, enc(p2, "bmp")), // byte-different container, identical pixels
      (13L, "not an image".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val (gotDocs, gotMedia) = Corpus.crawlIntakeMixed(spark, arrivals,
      snapshot, media, idxDir)
    assert(gotDocs.select("doc_id").collect().map(_.getLong(0)).toSet == Set(10L))
    val mediaIds = gotMedia.collect().map(_.getLong(0)).toSet
    assert(mediaIds == Set(11L), s"media admitted $mediaIds")
    // text arm ≡ crawlIntake verbatim; media arm ≡ the manual stages
    // (hash once → exact within increment → index pair anti-join)
    assert(Corpus.crawlIntake(spark, arrivals, snapshot)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(10L))
    val packed = graft.multimodal.Multimodal.imageHashes(spark, media)
      .filter(col("dhash").isNotNull)
      .select(col("media_id").as("doc_id"), col("dhash").as("packed"))
    val s1 = packed.join(
      packed.groupBy("packed").agg(min("doc_id").as("doc_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val manual = s1.join(
      Dedup.hammingIntake(spark, s1, idxDir).select(col("a_id").as("doc_id"))
        .distinct(), Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    assert(manual == mediaIds)
  }
}
