package graft.ext

import org.apache.spark.sql.functions._

import graft.pumle.SparkSpec

/** Round-6 operator batch: hard negatives, JL random projection,
  * covariance/PCA, cluster split, DSIR, contamination ladder, IVF+PQ.
  * The oracle gate exercises default parameterizations (q120–q125);
  * these specs pin the non-SQL-expressible pieces and the properties
  * the oracles can't see (leakage-freedom, eigen equations, ANN
  * fallback equality). */
class Ext3Spec extends SparkSpec {

  private def emb(n: Int, dims: Int = 8) = {
    import spark.implicits._
    Seq.tabulate(n) { i =>
      (i.toLong, Array.tabulate(dims)(d => ((i * 17 + d * 5) % 11 - 5).toFloat),
        i % 3)
    }.toDF("vec_id", "embedding", "label")
  }

  test("hardNegatives: negatives never share the query's label and rank by cosine") {
    val e = emb(30)
    val got = Similarity.hardNegatives(spark, e, col("vec_id") % 10 === 0, k = 3)
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("q_label") != r.getAs[Long]("n_label"))
      assert(r.getAs[Long]("q_id") != r.getAs[Long]("n_id"))
    }
    // per query: ranks are 1..k and cosine non-increasing in rank
    got.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq == (1L to byRank.length).toSeq)
      val cs = byRank.map(_.getAs[Double]("cosine")).toSeq
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("hardNegatives: label filter only removes same-label rows vs cosineTopK") {
    val e = emb(24)
    // with a label column that is unique per row, hardNegatives on k
    // equals cosineTopK on k (no pair is ever filtered)
    val uniq = e.withColumn("label", col("vec_id"))
    val hn = Similarity.hardNegatives(spark, uniq, col("vec_id") % 5 === 0, k = 4)
      .select("q_id", "rank", "n_id", "cosine").orderBy("q_id", "rank").collect()
    val ct = Similarity.cosineTopK(spark, uniq, col("vec_id") % 5 === 0, k = 4)
      .orderBy("q_id", "rank").collect()
    assert(hn.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      == ct.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq)
  }

  test("rpSign matches the SQL md5-parity spelling") {
    val sqlSigns = spark.sql(
      """SELECT j, d,
        |  CAST(CASE WHEN CAST(conv(substr(md5(concat('rp:', j, ':', d)), 1, 6), 16, 10)
        |       AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END AS DOUBLE) AS s
        |FROM (SELECT explode(sequence(0, 3)) AS j)
        |LATERAL VIEW explode(sequence(0, 7)) t AS d""".stripMargin)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    for (j <- 0 to 3; d <- 0 to 7)
      assert(Similarity.rpSign(j, d) == sqlSigns((j, d)), s"($j,$d)")
  }

  test("randomProject: one-hot vector projects to its sign column / sqrt(outDims)") {
    import spark.implicits._
    val oneHot = Seq((0L, Array.tabulate(8)(d => if (d == 2) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.randomProject(spark, oneHot, outDims = 4, dims = 8)
      .head().getSeq[Double](1)
    val want = Seq.tabulate(4)(j =>
      BigDecimal(Similarity.rpSign(j, 2) / math.sqrt(4.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got == want)
  }

  test("covariance: diagonal equals population variance, symmetric pairs present once") {
    import spark.implicits._
    val data = Seq(
      (1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 6.0f)), (3L, Array(5.0f, 7.0f)))
    val df = data.toDF("vec_id", "embedding")
    val got = EmbedStats.covariance(df, dims = 2).orderBy("i", "j").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keySet == Set((0L, 0L), (0L, 1L), (1L, 1L)))
    def popCov(xs: Seq[Double], ys: Seq[Double]): Double = {
      val n = xs.length
      val mx = xs.sum / n; val my = ys.sum / n
      xs.zip(ys).map { case (a, b) => (a - mx) * (b - my) }.sum / n
    }
    val x = data.map(_._2(0).toDouble); val y = data.map(_._2(1).toDouble)
    assert(math.abs(got((0L, 0L)) - popCov(x, x)) < 1e-6)
    assert(math.abs(got((0L, 1L)) - popCov(x, y)) < 1e-6)
    assert(math.abs(got((1L, 1L)) - popCov(y, y)) < 1e-6)
  }

  test("jacobiEigen: reproduces a known symmetric eigensystem") {
    // [[2,1],[1,2]] has eigenvalues 3 and 1, vectors (1,1)/√2 and (1,-1)/√2
    val (evals, evecs) = EmbedStats.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(evals(0) - 3.0) < 1e-9 && math.abs(evals(1) - 1.0) < 1e-9)
    val s = 1.0 / math.sqrt(2.0)
    assert(evecs(0).zip(Array(s, s)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    assert(evecs(1).zip(Array(s, -s)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }

  test("jacobiEigen: A·v = λ·v and orthonormal vectors on a random symmetric 8×8") {
    val rnd = new scala.util.Random(42)
    val d = 8
    val a = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      val v = rnd.nextDouble() * 2 - 1; a(i)(j) = v; a(j)(i) = v
    }
    val (evals, evecs) = EmbedStats.jacobiEigen(a)
    for (k <- 0 until d) {
      val av = Array.tabulate(d)(i => (0 until d).map(j => a(i)(j) * evecs(k)(j)).sum)
      for (i <- 0 until d)
        assert(math.abs(av(i) - evals(k) * evecs(k)(i)) < 1e-8, s"eigpair $k")
    }
    for (k1 <- 0 until d; k2 <- k1 until d) {
      val dot = (0 until d).map(i => evecs(k1)(i) * evecs(k2)(i)).sum
      assert(math.abs(dot - (if (k1 == k2) 1.0 else 0.0)) < 1e-8)
    }
    // descending eigenvalues
    assert(evals.zip(evals.tail).forall { case (x, y) => x >= y })
  }

  test("pcaProject: top-1 projection has the largest variance, components uncorrelated") {
    val e = emb(40, dims = 8)
    val proj = EmbedStats.pcaProject(spark, e, outDims = 3, dims = 8)
      .collect().map(_.getSeq[Double](1))
    val n = proj.length
    def varOf(k: Int): Double = {
      val xs = proj.map(_(k)); val m = xs.sum / n
      xs.map(x => (x - m) * (x - m)).sum / n
    }
    val vs = (0 until 3).map(varOf)
    assert(vs(0) >= vs(1) - 1e-9 && vs(1) >= vs(2) - 1e-9)
    // PCA components are uncorrelated (covariance ≈ 0)
    for (k1 <- 0 until 3; k2 <- k1 + 1 until 3) {
      val m1 = proj.map(_(k1)).sum / n; val m2 = proj.map(_(k2)).sum / n
      val cov = proj.map(p => (p(k1) - m1) * (p(k2) - m2)).sum / n
      assert(math.abs(cov) < 1e-3, s"components $k1,$k2 correlated: $cov")
    }
  }

  test("clusterSplit: near-duplicates land in the same split, singletons keep own id") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps running"),
      (2L, "the quick brown fox jumps over the lazy dog and keeps running!"),
      (3L, "completely different text about spark engines and catalyst"),
      (4L, "the quick brown fox jumps over the lazy dog and keeps running"))
      .toDF("doc_id", "text")
    val got = Sampling.clusterSplit(spark, docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[String]("split"))).toMap
    assert(got.size == 4)
    // 1, 2, 4 are near/exact dups → same cluster, hence same split
    assert(got(1L)._1 == got(2L)._1 && got(1L)._1 == got(4L)._1)
    assert(got(1L)._2 == got(2L)._2 && got(1L)._2 == got(4L)._2)
    // 3 is a singleton: cluster_id falls back to its own doc_id
    assert(got(3L)._1 == 3L)
  }

  test("dsirWeights: target-like docs outscore dissimilar docs") {
    import spark.implicits._
    val target = Seq.tabulate(20)(i =>
      (100L + i, s"alpha beta gamma delta epsilon zeta token$i", true))
    val likeTarget = Seq.tabulate(5)(i =>
      (200L + i, "alpha beta gamma delta epsilon zeta", false))
    val unlike = Seq.tabulate(5)(i =>
      (300L + i, "xray yankee zulu whiskey victor uniform", false))
    val docs = (target ++ likeTarget ++ unlike)
      .toDF("doc_id", "text", "is_t")
    val got = TextStats.dsirWeights(docs, col("is_t"), buckets = 256)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // no target docs in the output
    assert(got.keySet.forall(id => id >= 200L))
    val likeAvg = likeTarget.map(t => got(t._1)).sum / 5
    val unlikeAvg = unlike.map(t => got(t._1)).sum / 5
    assert(likeAvg > unlikeAvg,
      s"target-like $likeAvg should beat unlike $unlikeAvg")
  }

  test("dsirScoreNarrow: bit-equal to the relational dsirWeights on the training corpus") {
    import spark.implicits._
    val docs = (Seq.tabulate(12)(i =>
        (100L + i, s"alpha beta gamma delta epsilon token$i word${i % 3}", i % 2 == 0)) ++
      Seq((300L, "xray yankee zulu whiskey victor", false),
        (301L, "one", false),          // no bigram feature → 0
        (302L, null.asInstanceOf[String], false))) // null text → 0
      .toDF("doc_id", "text", "is_t")
    val rel = TextStats.dsirWeights(docs, col("is_t"), buckets = 128)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val model = TextStats.trainDsirModel(docs, col("is_t"), buckets = 128)
    val nar = TextStats.dsirScoreNarrow(docs.filter(!col("is_t")), model)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(nar == rel)
    assert(nar.exists(_._2 == 0L)) // the degenerate docs really exercised
  }

  test("DSIR model: parquet round-trip reloads bit-equal λ") {
    import spark.implicits._
    val docs = Seq.tabulate(10)(i =>
      (i.toLong, s"some shared words plus token$i extra$i", i < 4))
      .toDF("doc_id", "text", "is_t")
    val model = TextStats.trainDsirModel(docs, col("is_t"), buckets = 64)
    val dir = graft.core.TempDir("dsir").toString
    TextStats.writeDsirModel(spark, model, dir)
    val back = TextStats.loadDsirModel(spark, dir)
    assert(back.buckets == model.buckets)
    assert(back.lambda == model.lambda)
  }

  test("contamLadder: depth reflects the longest shared rung") {
    import spark.implicits._
    val evalText = (1 to 20).map(i => s"w$i").mkString(" ")
    // doc 1 shares a 16-word window; doc 2 shares 4 words but breaks
    // every 8-window; doc 3 shares nothing
    val doc16 = (1 to 16).map(i => s"w$i").mkString(" ") + " tail tail tail tail"
    val doc4 = "w1 w2 w3 w4 zz w9 w10 w11 w12 yy other words here now"
    val clean = "altogether different content with no overlap at all whatsoever"
    val docs = Seq((0L, evalText), (1L, doc16), (2L, doc4), (3L, clean))
      .toDF("doc_id", "text")
    val got = TextStats.contamLadder(docs, col("doc_id") === 0L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("shared4"), r.getAs[Long]("shared8"),
          r.getAs[Long]("shared16"), r.getAs[Long]("contam_depth"))).toMap
    assert(got(1L)._3 >= 1L && got(1L)._4 == 16L)
    assert(got(2L)._1 >= 1L && got(2L)._2 == 0L && got(2L)._4 == 4L)
    assert(got(3L) == ((0L, 0L, 0L, 0L)))
  }

  test("fixedCodebooks: deterministic, m×k×subDim, values in [-1, 1]") {
    val a = Similarity.fixedCodebooks(m = 3, k = 5, subDim = 7)
    val b = Similarity.fixedCodebooks(m = 3, k = 5, subDim = 7)
    assert(a == b)
    assert(a.length == 3 && a.head.length == 5 && a.head.head.length == 7)
    assert(a.flatten.flatten.forall(x => x >= -1.0 && x <= 1.0))
    // not degenerate: codewords within a subspace differ
    assert(a.head.distinct.length == 5)
  }

  test("pqSearchADC on fixed codebooks: k results per query, distance monotone in rank") {
    val e = emb(40, dims = 8)
    val cbs = Similarity.fixedCodebooks(m = 2, k = 4, subDim = 4)
    val got = Similarity.pqSearchADC(spark, e,
        Similarity.pqEncode(spark, e, cbs), cbs,
        queryPred = col("vec_id") % 13 === 0, topK = 5)
      .collect()
    assert(got.nonEmpty)
    got.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq == (1L to byRank.length).toSeq)
      val ds = byRank.map(_.getAs[Double]("adc_dist2")).toSeq
      assert(ds.zip(ds.tail).forall { case (x, y) => x <= y })
    }
  }

  test("vocabDrift: a vocabulary-shifted source scores higher KL than conforming ones") {
    import spark.implicits._
    val conforming = (0 until 40).flatMap(i => Seq(
      (i.toLong, "srcA", s"alpha beta gamma delta epsilon common${i % 7}"),
      (100L + i, "srcB", s"alpha beta gamma epsilon delta common${i % 7}")))
    val shifted = (0 until 40).map(i =>
      (200L + i, "srcC", s"zulu xray yankee whiskey victor odd${i % 7}"))
    val docs = (conforming ++ shifted).toDF("doc_id", "source", "text")
    val kl = Corpus.vocabDrift(docs, buckets = 256)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(kl.keySet == Set("srcA", "srcB", "srcC"))
    assert(kl("srcC") > kl("srcA") && kl("srcC") > kl("srcB"),
      s"shifted source should dominate: $kl")
  }

  test("ivfPqSearch: nProbe >= cell count degrades to exhaustive ADC (pqSearchIndexed)") {
    val e = emb(32, dims = 8)
    val dir = graft.core.TempDir("ivfpq").toString
    Similarity.writeIvfPqIndex(spark, e,
      centroidPred = col("vec_id") % 8 === 0, seedPred = col("vec_id") < 6,
      dir, m = 2, k = 4, iters = 2, dims = 8)
    val queries = e.filter(col("vec_id") % 11 === 0)
    val full = Similarity.ivfPqSearch(spark, dir, queries, nProbe = 4, topK = 3)
      .select("q_id", "rank", "n_id", "adc_dist2")
      .orderBy("q_id", "rank").collect().toSeq
    val flat = Similarity.pqSearchIndexed(spark, dir, queries, topK = 3)
      .orderBy("q_id", "rank").collect().toSeq
    assert(full.nonEmpty)
    assert(full.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      == flat.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))))
    // nProbe = 1 returns a subset of each query's cells (pruned search
    // still ranks 1..k and only returns candidates from probed cells)
    val pruned = Similarity.ivfPqSearch(spark, dir, queries, nProbe = 1, topK = 3)
      .collect()
    assert(pruned.nonEmpty)
    pruned.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      val cells = rows.map(_.getAs[Long]("centroid_id")).distinct
      assert(cells.length == 1, "nProbe=1 must read exactly one cell per query")
    }
  }

  test("writeIvfPqIndex: codes are partitioned by centroid_id on disk") {
    val e = emb(24, dims = 8)
    val dir = graft.core.TempDir("ivfpq2").toString
    Similarity.writeIvfPqIndex(spark, e,
      centroidPred = col("vec_id") % 12 === 0, seedPred = col("vec_id") < 6,
      dir, m = 2, k = 4, iters = 1, dims = 8)
    val parts = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.getName.startsWith("centroid_id=")).map(_.getName).sorted
    assert(parts.nonEmpty, "expected centroid_id= partition directories")
  }

  test("sqEncode: codes in [0,255], constant dims code 0, err within half a step") {
    import spark.implicits._
    // dim 0 constant, dim 1 spans [0, 10], dim 2 negative range
    val e = Seq.tabulate(12)(i =>
      (i.toLong, Array(7.0f, i.toFloat, -i * 0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.sqEncode(spark, e, dims = 3).collect()
    assert(rows.length == 36)
    rows.foreach { r =>
      val (d, code, err) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(code >= 0 && code <= 255)
      if (d == 0) { assert(code == 0); assert(err == 0.0) }
      // half-quantization-step bound: |x - recon| <= span / 255 / 2
      val span = if (d == 1) 11.0 else if (d == 2) 5.5 else 0.0
      assert(err <= span / 255.0 / 2 + 1e-9, s"d=$d err=$err")
    }
  }

  test("sqEncodeCodes agrees with the exploded sqEncode") {
    val e = emb(15, dims = 8)
    val (mins, maxs) = Similarity.sqMinMax(spark, e, dims = 8)
    val compact = Similarity.sqEncodeCodes(e, mins, maxs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    Similarity.sqEncode(spark, e, dims = 8).collect().foreach { r =>
      assert(compact(r.getLong(0))(r.getLong(1).toInt) == r.getLong(2))
    }
  }

  test("sqSearch: top-1 matches the driver-side argmin in recon space") {
    val e = emb(20, dims = 8)
    val (mins, maxs) = Similarity.sqMinMax(spark, e, dims = 8)
    val recon = Similarity.sqEncodeCodes(e, mins, maxs).collect().map { r =>
      r.getLong(0) -> r.getSeq[Long](1).zipWithIndex.map { case (c, d) =>
        mins(d) + c.toDouble / 255.0 * (maxs(d) - mins(d))
      }
    }.toMap
    val full = e.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val got = Similarity.sqSearch(spark, e, col("vec_id") % 7 === 0,
        topK = 1, dims = 8)
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val q = r.getLong(0)
      val expected = recon.toSeq.filter(_._1 != q).map { case (n, rv) =>
        (full(q).zip(rv).map { case (a, b) => (a - b) * (a - b) }.sum, n)
      }.min
      assert(r.getLong(2) == expected._2,
        s"q=$q got n_id=${r.getLong(2)} want=${expected._2}")
      assert(math.abs(r.getDouble(3) - expected._1) < 1e-6,
        s"q=$q dist2=${r.getDouble(3)} want~${expected._1}")
    }
  }

  test("winnow: shared runs >= w+k-1 tokens always share a fingerprint; short docs emit none") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta" // 6 tokens = w+k-1
    val d = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"$shared completely different tail here now"),
      (3L, "tiny doc"), // fewer than k tokens -> no grams
      (4L, "just five little words here")) // m = 3 < w -> no window
      .toDF("doc_id", "text")
    val fps = TextStats.winnow(d).collect()
      .groupBy(_.getLong(0)).map { case (k2, v) =>
        k2 -> v.map(_.getLong(2)).toSet }
    assert((fps(1L) & fps(2L)).nonEmpty,
      "docs sharing a 6-token run must share a selected fingerprint")
    assert(!fps.contains(3L) && !fps.contains(4L))
  }

  test("winnow: density below the full gram set, positions valid, deterministic") {
    import spark.implicits._
    val d = Seq.tabulate(10)(i =>
      (i.toLong, (0 until 40).map(t => s"tok${(t * (i + 3)) % 17}")
        .mkString(" "))).toDF("doc_id", "text")
    val a = TextStats.winnow(d).collect()
    val b = TextStats.winnow(d).collect()
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      == b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq)
    a.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val nGrams = 40 - 2
      assert(rows.length < nGrams, "winnowing must thin the gram set")
      rows.foreach { r =>
        assert(r.getLong(1) >= 1 && r.getLong(1) <= nGrams) // gram position
        assert(r.getLong(2) >= 0 && r.getLong(2) < (1L << 32)) // 8-hex hash
      }
    }
  }

  test("winnowCandidates: planted near-dups collide, boilerplate fps are capped") {
    import spark.implicits._
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val boiler = "common header line every document carries" // df = all docs
    val d = (Seq(
      (1L, s"$boiler $run one tail"),
      (2L, s"$boiler $run two other tail")) ++ Seq.tabulate(20)(i =>
      (10L + i, s"$boiler unique body number $i with words w${i}a w${i}b")))
      .toDF("doc_id", "text")
    val pairs = TextStats.winnowCandidates(d, maxDf = 10).collect()
    // the two docs sharing the 10-token run must be a candidate pair
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      s"planted pair missing from ${pairs.toSeq}")
    // boilerplate-only doc pairs (22 docs share the header) must NOT
    // explode into 22*21/2 pairs: header fps have df=22 > maxDf
    assert(pairs.length < 20, s"boilerplate not capped: ${pairs.length} pairs")
  }

  test("dedupCorpusWinnow: exact dups collapse, near-dup trio keeps min id, unrelated survive") {
    import spark.implicits._
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma"
    val d = (Seq(
      (1L, s"$run tail one"),
      (2L, s"$run tail two"),         // near-dup of 1 (shared 18-run)
      (3L, s"$run tail one"),         // EXACT dup of 1
      (4L, s"$run tail three")) ++ Seq.tabulate(8)(i =>
      (10L + i, s"unrelated filler document number $i body b${i}x b${i}y b${i}z")))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupCorpusWinnow(spark, d, verifyThreshold = 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(!kept.contains(3L), "exact dup must fall to the hash window")
    assert(kept.contains(1L), "cluster min id survives")
    assert(!kept.contains(2L) && !kept.contains(4L),
      s"near-dups of 1 must drop, kept=$kept")
    (0 until 8).foreach(i => assert(kept.contains(10L + i)))
  }

  test("dedupCorpusWinnow frees its intermediate checkpoints (bounded storage)") {
    import spark.implicits._
    val d = Seq.tabulate(12)(i =>
      (i.toLong, s"document number $i with its own content c${i}a c${i}b"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.dedupCorpusWinnow(spark, d).count()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size <= 1, s"leaked persistent RDDs: $added")
  }

  test("persisted SQ index: search from disk is bit-equal to in-memory sqSearch") {
    val e = emb(24, dims = 8)
    val dir = graft.core.TempDir("sq-index").toString
    Similarity.writeSqIndex(spark, e, dir, dims = 8)
    val queries = e.filter(col("vec_id") % 6 === 0)
    val fromDisk = Similarity.sqSearchIndexed(spark, dir, queries,
        topK = 3, dims = 8)
      .orderBy("q_id", "rank").collect().toSeq
    val inMem = Similarity.sqSearch(spark, e, col("vec_id") % 6 === 0,
        topK = 3, dims = 8)
      .orderBy("q_id", "rank").collect().toSeq
    assert(fromDisk == inMem)
    assert(fromDisk.nonEmpty)
  }

  test("winnow candidates feed the MinHash-path verify and clustering unchanged") {
    import spark.implicits._
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma"
    val d = (Seq(
      (1L, s"$run tail one"),
      (2L, s"$run tail two"),
      (3L, s"$run tail three")) ++ Seq.tabulate(6)(i =>
      (10L + i, s"unrelated filler document number $i body b${i}x b${i}y b${i}z")))
      .toDF("doc_id", "text")
    // the winnow pair generator slots into the same verify + clusters
    // chain as Dedup.lshCandidates — one candidate stack, two recall
    // profiles
    val pairs = TextStats.winnowCandidates(d)
    val verified = Dedup.verifyCandidates(spark, pairs, d, threshold = 0.5)
    val cl = Dedup.clusters(spark,
        verified.select(col("a_id"), col("b_id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L).subsetOf(cl.keySet))
    assert(cl(1L) == 1L && cl(2L) == 1L && cl(3L) == 1L,
      s"near-dup trio must form one cluster, got $cl")
  }

  test("keepBestPerCluster: one survivor per cluster and it is the longest copy") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val d = (Seq(
      (0L, s"$base extra tail words make this one the longest copy"),
      (1L, s"$base extra tail words"),
      (2L, base)) ++ Seq.tabulate(8)(i =>
      (10L + i, s"unrelated document number $i with its own words entirely")))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = Dedup.keepBestPerCluster(spark, d).collect()
    assert(r.length == 11)
    val byCluster = r.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (_, rows) =>
      assert(rows.count(_.getAs[Boolean]("keep")) == 1,
        "exactly one survivor per cluster")
      val kept = rows.find(_.getAs[Boolean]("keep")).get
      assert(rows.forall(x => x.getAs[Long]("n_chars") < kept.getAs[Long]("n_chars")
        || (x.getAs[Long]("n_chars") == kept.getAs[Long]("n_chars")
            && x.getAs[Long]("doc_id") >= kept.getAs[Long]("doc_id"))),
        "survivor must be the longest (id tie-break)")
    }
    // the three near-dups must cluster together with doc 0 kept
    val dupCluster = byCluster.find(_._2.map(_.getAs[Long]("doc_id")).toSet
      .contains(0L)).get._2
    assert(dupCluster.map(_.getAs[Long]("doc_id")).toSet == Set(0L, 1L, 2L))
    assert(dupCluster.find(_.getAs[Boolean]("keep")).get
      .getAs[Long]("doc_id") == 0L)
  }

  test("scoreBins: bit-identical to ntile over (score, id), including ragged splits") {
    import spark.implicits._
    for (n <- Seq(7, 100, 103)) { // n < bins, n % bins == 0, ragged
      val scored = Seq.tabulate(n)(i =>
        (i.toLong, math.rint(1e6 / (1.0 + math.exp((i * 7 % 13) - 6))) / 1e6))
        .toDF("doc_id", "score")
      val got = Corpus.scoreBins(scored, bins = 10)
        .select("doc_id", "bin").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score"), col("doc_id"))
      val want = scored.withColumn("bin", ntile(10).over(w).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("bin")).toMap
      assert(got == want, s"n=$n")
    }
  }
}
