package graft.ext

import org.apache.spark.sql.functions._

import graft.pumle.SparkSpec

/** graft.ext API under NON-default parameterizations (the oracle gate
  * exercises the defaults via q50-q64). */
class ExtApiSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different text about spark engines"),
      (4L, "the quick brown fox jumps over the lazy dog")) // dup of 1
      .toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts") {
    val d = Dedup.exact(docs).orderBy("keep_id").collect()
    assert(d.length == 3)
    assert(d.head.getAs[Long]("keep_id") == 1L && d.head.getAs[Long]("n_copies") == 2L)
  }

  test("lshCandidates with 2 bands finds the near-dup pair") {
    val pairs = Dedup.lshCandidates(spark, docs, bands = 2, maxBucket = 4)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(pairs.contains((1L, 4L))) // identical docs share every band
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup
  }

  test("fast (xxhash64) signatures: deterministic, identical docs agree, schema matches") {
    val slow = Dedup.minhashSignatures(spark, docs).orderBy("doc_id").collect()
    val fast1 = Dedup.minhashSignaturesFast(docs).orderBy("doc_id").collect()
    val fast2 = Dedup.minhashSignaturesFast(docs).orderBy("doc_id").collect()
    assert(fast1.map(_.getSeq[Long](1)).toSeq == fast2.map(_.getSeq[Long](1)).toSeq)
    assert(slow.head.schema.fieldNames.sameElements(fast1.head.schema.fieldNames))
    // identical docs (1 and 4) share the full signature in both variants
    def sig(rows: Array[org.apache.spark.sql.Row], id: Long) =
      rows.find(_.getLong(0) == id).get.getSeq[Long](1)
    assert(sig(fast1, 1L) == sig(fast1, 4L))
    assert(sig(slow, 1L) == sig(slow, 4L))
  }

  test("simhash: identical docs equal, near-dups close, different docs far") {
    def popcount(x: Long) = java.lang.Long.bitCount(x)
    val h = Dedup.simhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(h(1L) == h(4L))
    assert(popcount(h(1L) ^ h(2L)) < popcount(h(1L) ^ h(3L)))
  }

  test("simhash16 expression is bit-identical to the relational form") {
    import spark.implicits._
    val tricky = docs.unionAll(Seq(
      (100L, ""), (101L, "a  b"), (102L, "trailing space "), (103L, "é ü 漢字"),
      (104L, null.asInstanceOf[String])) // null text: BOTH forms drop the doc
      .toDF("doc_id", "text"))
    val e = Dedup.simhash(tricky).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val rel = Dedup.simhashRelational(tricky).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(e == rel)
    assert(!e.exists(_._1 == 104L))
  }

  test("cosineTopK with k=1 returns each query's single best neighbor") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(0f, 0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(spark, emb, col("vec_id").isin(0L, 2L), k = 1)
      .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_id")).toMap
    assert(top == Map(0L -> 1L, 2L -> 3L))
  }

  test("cosineTopKAgainst: off-corpus queries rank corpus vectors; ≡ cosineTopK modulo self") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(0f, 0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    // off-corpus query: a perturbed copy of vec 0 — its nearest corpus
    // vector must be 0 itself, then 1
    val off = Seq((100L, Array(0.99f, 0.02f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.cosineTopKAgainst(spark, emb, off, k = 2)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("n_id")))
    assert(got.toSeq == Seq((1L, 0L), (2L, 1L)))
    // for queries drawn FROM the corpus, Against ranks the query itself
    // first (cosine 1.0 — no self filter: the sides are distinct frames
    // by contract) and then agrees with cosineTopK's list verbatim
    val inQ = emb.filter(col("vec_id").isin(0L, 2L))
    val against = Similarity.cosineTopKAgainst(spark, emb, inQ, k = 3)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("n_id"), r.getAs[Double]("cosine")))
    assert(against.filter(_._2 == 1L).forall(t => t._3 == t._1 && t._4 == 1.0))
    val shifted = against.filter(_._2 > 1L)
      .map(t => (t._1, t._2 - 1L, t._3)).sorted.toSeq
    val plain = Similarity.cosineTopK(spark, emb, col("vec_id").isin(0L, 2L), k = 2)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("n_id"))).sorted.toSeq
    assert(shifted == plain)
  }

  test("cosineTopK/knnGraph rank zero-norm vectors (NaN cosine) FIRST — the DESC window contract") {
    import spark.implicits._
    // vec 9 is the zero vector: cosine(q, 9) = 0/0 = NaN, which
    // ORDER BY cosine DESC — and the DuckDB oracle — ranks first;
    // the negated topk_min path must reproduce that, not drop it
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)), (9L, Array(0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(spark, emb, col("vec_id") === 0L, k = 2)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("n_id"),
        r.getAs[Double]("cosine")))
    assert(top.map(t => (t._1, t._2)).toSeq == Seq((1L, 9L), (2L, 1L)),
      top.mkString(","))
    assert(top(0)._3.isNaN && !top(1)._3.isNaN)
    // knnGraph: every vector's in-cluster neighbor list puts the zero
    // vector first when it shares the cell (and the zero vector's own
    // rows are all-NaN, present, never dropped)
    val g = Similarity.knnGraph(spark, emb, k = 3, centroids = 1, dims = 3)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("b_id"), r.getAs[Double]("cosine")))
    val firstOf = g.filter(_._2 == 1L).map(t => t._1 -> t._3).toMap
    assert(firstOf(0L) == 9L && firstOf(1L) == 9L && firstOf(2L) == 9L, g.mkString(","))
    assert(g.filter(t => t._3 == 9L).forall(_._4.isNaN))
    assert(g.filter(_._1 == 9L).forall(_._4.isNaN)) // zero vec's own rows: NaN, kept
    assert(g.count(_._1 == 9L) == 3)
  }

  test("ivfAssign sends every vector to its nearest centroid") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1f, 0f)), (10L, Array(0f, 1f)), // centroids
      (1L, Array(0.8f, 0.2f)), (11L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val assign = Similarity.ivfAssign(spark, emb, col("vec_id") % 10 === 0)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("centroid_id")).toMap
    assert(assign(1L) == 0L && assign(11L) == 10L)
    assert(assign(0L) == 0L && assign(10L) == 10L) // centroids self-assign
  }

  test("tfidfTopK surfaces discriminative terms, not corpus-wide ones") {
    val top = TextStats.tfidfTopK(docs, k = 2)
      .filter(col("doc_id") === 3L).collect().map(_.getAs[String]("term")).toSet
    // doc 3's distinctive vocabulary ranks; 'the' (df=3/4 docs) must not
    assert(!top.contains("the"))
    assert(top.subsetOf(Set("completely", "different", "text", "about", "spark", "engines")))
  }

  test("clusters labels every component with its minimum doc id") {
    import spark.implicits._
    // two chains and a triangle: {1-2-3}, {10-11}, {20-21-22 triangle}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a_id", "b_id")
    val c = Dedup.clusters(spark, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("clusters frees its intermediate checkpoint blocks (no storage leak)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.clusters(spark, pairs).count()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    // a small graph takes the driver path: its labels are a local
    // relation, so the edge checkpoint is released and nothing remains
    assert(added.isEmpty, s"leaked persistent RDDs: $added")
  }

  test("verifyCandidates (set-based) matches the per-pair jaccard8 expression") {
    import spark.implicits._
    graft.functions.Functions.registerAll(spark)
    val tricky = docs.unionAll(Seq(
      (100L, "short"), (101L, "a  b"), (103L, "é ü 漢字 repeated é ü 漢字"))
      .toDF("doc_id", "text"))
    val pairs = tricky.as("x").crossJoin(tricky.as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"), r.getAs[Double]("jaccard"))
    val viaSets = Dedup.verifyCandidates(spark, pairs, tricky, threshold = 0.0)
      .orderBy("a_id", "b_id").collect().map(key).toSeq
    val viaExpr = pairs
      .join(tricky.select(col("doc_id").as("a_id"), col("text").as("ta")), Seq("a_id"))
      .join(tricky.select(col("doc_id").as("b_id"), col("text").as("tb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), round(expr("jaccard8(ta, tb)"), 6).as("jaccard"))
      .orderBy("a_id", "b_id").collect().map(key).toSeq
    assert(viaSets == viaExpr)
  }

  test("hashSplit is deterministic and near the requested percentages") {
    val big = spark.range(1000).selectExpr("id AS doc_id")
    val counts = Sampling.hashSplit(big).groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 1000)
    assert(counts("train") > 700 && counts("train") < 900) // ~80%
    val a = Sampling.hashSplit(big).select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Sampling.hashSplit(big.repartition(7)).select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b) // partitioning-independent assignment
  }

  test("packSequences bins by cumulative token offset within a shard") {
    import spark.implicits._
    val d = Seq((1L, "s", "a b c"), (2L, "s", "d e"),
      (3L, "s", "f g h i"), (4L, "s", "j"), (9L, "z", "k l m"))
      .toDF("doc_id", "source", "text")
    val p = Sampling.packSequences(d, budget = 5).orderBy("doc_id").collect()
    // shard s tokens: 3,2,4,1 → cum-before 0,3,5,9 → bins 0,0,1,1
    assert(p.map(_.getAs[Long]("bin")).toSeq == Seq(0L, 0L, 1L, 1L, 0L))
    assert(p.map(_.getAs[Long]("offset_in_bin")).toSeq == Seq(0L, 3L, 0L, 4L, 0L))
  }

  test("packSequencesSalted parallelizes one hot shard and keeps the packing valid") {
    import spark.implicits._
    // one giant shard: the base variant would serialize all 200 docs
    // through a single window task
    val hot = (1L to 200L).map(i => (i, "s", "a b c")).toDF("doc_id", "source", "text")
    val p = Sampling.packSequencesSalted(hot, budget = 10, subShards = 4)
    val rows = p.collect()
    assert(rows.length == 200)
    // the salt actually spreads the shard over all 4 sub-windows
    val subs = hot.select(pmod(xxhash64(col("doc_id")), lit(4)).as("sub"))
      .distinct().count()
    assert(subs == 4)
    // token conservation and bin contiguity per shard
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == 600L)
    val bins = rows.map(_.getAs[Long]("bin")).toSet
    assert(bins == (0L until bins.size).toSet, s"bins not contiguous: $bins")
    // greedy start-based binning bounds every bin at budget + doc_len - 1
    val loads = rows.groupBy(_.getAs[Long]("bin"))
      .values.map(_.map(_.getAs[Long]("n_tokens")).sum)
    assert(loads.forall(_ <= 12), s"overfull bin: ${loads.max}")
    assert(rows.forall(_.getAs[Long]("offset_in_bin") < 10))
    // deterministic across runs
    val again = Sampling.packSequencesSalted(hot, budget = 10, subShards = 4)
      .collect().map(_.toSeq).toSet
    assert(again == rows.map(_.toSeq).toSet)
  }

  test("packSequencesSalted with subShards=1 reproduces packSequences exactly") {
    import spark.implicits._
    val d = Seq((1L, "s", "a b c"), (2L, "s", "d e"),
      (3L, "s", "f g h i"), (4L, "s", "j"), (9L, "z", "k l m"))
      .toDF("doc_id", "source", "text")
    val cols = Seq("source", "doc_id", "n_tokens", "bin", "offset_in_bin")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    assert(rows(Sampling.packSequencesSalted(d, budget = 5, subShards = 1))
      == rows(Sampling.packSequences(d, budget = 5)))
  }

  test("ivfTopK with every cell probed equals the exact baseline") {
    import spark.implicits._
    val emb = Seq.tabulate(12)(i =>
      (i.toLong, Array.tabulate(4)(dd => ((i * (dd + 3)) % 7 - 3).toFloat)))
      .toDF("vec_id", "embedding")
    val qp = col("vec_id") === 5
    // row ORDER is not part of the API contract (the rerank's final
    // cell-id rejoin may emit any order — q66 sorts explicitly);
    // compare rank-sorted
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "n_id", "cosine")
        .orderBy(col("q_id"), col("rank")).collect().map(_.toSeq).toSeq
    val exact = rows(Similarity.cosineTopK(spark, emb, qp, k = 3))
    // 2 centroids (0, 6), nProbe=2 → candidate set is the whole corpus
    val ivf = rows(Similarity.ivfTopK(spark, emb,
      col("vec_id") % 6 === 0, qp, nProbe = 2, k = 3))
    assert(ivf == exact)
  }

  test("scrub removes whole words only and squeezes whitespace") {
    import spark.implicits._
    val d = Seq((1L, "a cat sat on a mat")).toDF("doc_id", "text")
    val r = TextStats.scrub(d, Seq("a")).head()
    assert(r.getAs[String]("cleaned") == "cat sat on mat") // 'mat' keeps its a
    assert(r.getAs[Long]("n_words_before") == 6L)
    assert(r.getAs[Long]("n_words_after") == 4L)
  }

  test("xorfp48 expression matches the relational distinct-word xor") {
    import spark.implicits._
    val tricky = docs.unionAll(Seq(
      (100L, ""), (101L, "a  b a"), (102L, "x x x"), (103L, "é ü 漢字 é"))
      .toDF("doc_id", "text"))
    val e = TextStats.fingerprints(spark, tricky).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("fp_xor"))).toSeq
    val rel = tricky
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w")).distinct()
      .groupBy("doc_id")
      .agg(expr("bit_xor(CAST(conv(substr(md5(w), 1, 12), 16, 10) AS BIGINT))").as("fp_xor"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(e == rel)
  }

  test("ngramCounts generalizes: trigrams over a known text") {
    import spark.implicits._
    val d = Seq((1L, "a b c d"), (2L, "a b c")).toDF("doc_id", "text")
    val tri = TextStats.ngramCounts(d, n = 3, k = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tri == Map("a b c" -> 2L, "b c d" -> 1L))
    // docs shorter than n are excluded entirely
    assert(TextStats.ngramCounts(d, n = 4, k = 10).count() == 1) // only doc 1
  }

  test("verifyCandidates evaluates LSH once (checkpointed pairs) and semi-joins the shingle side") {
    val pairs = Dedup.lshCandidates(spark, docs, bands = 2, maxBucket = 4)
    val v = Dedup.verifyCandidates(spark, pairs, docs, threshold = 0.2)
    val p = v.queryExecution.executedPlan.toString
    // the LSH subtree ran exactly once, during the pairs checkpoint — the
    // verify plan itself scans the checkpoint, it contains no LSH at all
    assert(!p.contains("minhash48"), p)
    assert(!p.contains("stack("), p)
    // the shingle-set side is a lazily-checkpointed candidate-bounded
    // frame (computed ONCE for both join directions — round 14): the
    // verify plan reads its blocks, never the corpus itself, and the
    // semi-join to candidate ids lives inside that checkpoint's lineage
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("LocalTableScan"), s"corpus rescanned by verify:\n$p")
    assert(!p.contains("shingles8"), s"shingle pass not shared:\n$p")
    // and the verify result is still correct (identical docs 1,4 at 1.0)
    val got = v.collect().map(r =>
      (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"), r.getAs[Double]("jaccard"))).toSet
    assert(got.contains((1L, 4L, 1.0)))
  }

  test("dedupCorpus near-dup drop join carries no mandatory broadcast hint") {
    val marker = "strategy=broadcast"
    // self-check the marker is what a hinted plan prints
    val hinted = docs.join(broadcast(docs.select(col("doc_id"))), Seq("doc_id"), "left_anti")
    assert(hinted.queryExecution.optimizedPlan.toString.contains(marker))
    // at realistic near-dup rates the drop set is a constant fraction of
    // the corpus — the join must be free to degrade to shuffle (AQE still
    // broadcasts at runtime when the set actually is small)
    val out = Dedup.dedupCorpus(spark, docs, maxBucket = 4)
    assert(!out.queryExecution.optimizedPlan.toString.contains(marker))
  }

  test("lshCandidates capMetrics reports what the mega-bucket cap dropped") {
    import spark.implicits._
    // 12 identical docs → one bucket of 12 per band (capped at maxBucket=4)
    // PLUS a surviving near-dup pair, so the candidate output is non-empty
    // (an all-empty result lets AQE erase the observed subtree — the
    // documented caveat, pinned below via lshCapStats)
    val many = ((1L to 12L).map(i => (i, "the same exact text repeated verbatim here"))
      ++ Seq((100L, "a distinct surviving pair of documents"),
             (101L, "a distinct surviving pair of documents")))
      .toDF("doc_id", "text")
    val obs = org.apache.spark.sql.Observation()
    val out = Dedup.lshCandidates(spark, many, bands = 2, maxBucket = 4,
      capMetrics = Some(obs))
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((100L, 101L))) // mega-bucket capped, pair survives
    val m = obs.get
    assert(m("dropped_buckets") == 2L, m)    // one mega-bucket per band
    assert(m("dropped_doc_slots") == 24L, m) // 12 docs × 2 bands
  }

  test("lshCapStats stays exact even when EVERY bucket is capped") {
    import spark.implicits._
    val many = (1L to 12L).map(i => (i, "the same exact text repeated verbatim here"))
      .toDF("doc_id", "text")
    // the observation path returns empty here (AQE empty-relation erasure);
    // the standalone diagnostic must not
    val r = Dedup.lshCapStats(spark, many, bands = 2, maxBucket = 4).head()
    assert(r.getAs[Long]("dropped_buckets") == 2L)
    assert(r.getAs[Long]("dropped_doc_slots") == 24L)
    assert(r.getAs[Long]("kept_buckets") == 0L)
    assert(r.getAs[Long]("max_bucket_size") == 12L)
  }

  test("simhashNearDup capMetrics reports what the lane-bucket cap dropped") {
    import spark.implicits._
    // 12 identical docs → identical lanes → one mega-bucket per lane
    // (capped at maxBucket=4), PLUS a surviving identical pair so the
    // result is non-empty (same AQE-erasure caveat as lshCandidates)
    val many = ((1L to 12L).map(i => (i, "the same exact text repeated verbatim here"))
      ++ Seq((100L, "a distinct surviving pair of documents"),
             (101L, "a distinct surviving pair of documents")))
      .toDF("doc_id", "text")
    val obs = org.apache.spark.sql.Observation()
    val out = Dedup.simhashNearDup(spark, many, maxBucket = 4,
      capMetrics = Some(obs))
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((100L, 101L))) // mega-buckets capped, pair survives
    val m = obs.get
    assert(m("dropped_buckets") == 4L, m)    // one mega-bucket per lane
    assert(m("dropped_doc_slots") == 48L, m) // 12 docs × 4 lanes
  }

  test("simhashCapStats stays exact even when EVERY bucket is capped") {
    import spark.implicits._
    val many = (1L to 12L).map(i => (i, "the same exact text repeated verbatim here"))
      .toDF("doc_id", "text")
    val r = Dedup.simhashCapStats(spark, many, maxBucket = 4).head()
    assert(r.getAs[Long]("dropped_buckets") == 4L)
    assert(r.getAs[Long]("dropped_doc_slots") == 48L)
    assert(r.getAs[Long]("kept_buckets") == 0L)
    assert(r.getAs[Long]("max_bucket_size") == 12L)
  }

  test("dedupCorpus surfaces the cap observation through the checkpointed pairs") {
    val obs = org.apache.spark.sql.Observation()
    val out = Dedup.dedupCorpus(spark, docs, maxBucket = 4, capMetrics = Some(obs))
    val survivors = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val m = obs.get // completes at the pairs checkpoint, fires exactly once
    assert(m("dropped_buckets") == 0L, m) // nothing capped at this size
    assert(m("dropped_doc_slots") == 0L, m)
    assert(survivors.contains(3L) && !survivors.contains(4L))
  }

  test("dedupCorpus frees its intermediate checkpoints (bounded storage)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.dedupCorpus(spark, docs, maxBucket = 4).count()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    // only the components' label checkpoint may remain; the pairs and
    // verify checkpoints must have been released
    assert(added.size <= 1, s"leaked persistent RDDs: $added")
  }

  test("dedupCorpus verify stage gates near-dup merging by true jaccard") {
    def survivors(t: Double) =
      Dedup.dedupCorpus(spark, docs, maxBucket = 4, verifyThreshold = t)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // threshold 1.0: only byte-identical texts could merge, and those
    // already collapsed in the exact stage → no near-dup drops at all
    assert(survivors(1.0) == Set(1L, 2L, 3L))
    // verification off: the raw LSH candidate graph merges the 1-2
    // near-dup pair directly (the pre-round-4 behavior)
    assert(survivors(0.0) == Set(1L, 3L))
  }

  test("dedupCorpus keeps one survivor per exact/near-dup group") {
    val out = Dedup.dedupCorpus(spark, docs, maxBucket = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 4 = exact dup of 1 (dropped); 2 is a near-dup of 1 (one survivor
    // of that cluster remains); 3 is unique
    assert(out.contains(3L))
    assert(!out.contains(4L))
    assert(out.contains(1L) || out.contains(2L))
    assert(out.size <= 3)
  }

  test("kmeans converges onto two separated blobs from in-blob seeds") {
    import spark.implicits._
    // blob A around (0,0), blob B around (10,10); seeds 0 and 100 are
    // each inside one blob
    val pts = (0L to 4L).map(i => (i, Array(0.1f * i, 0.1f * i))) ++
      (100L to 104L).map(i => (i, Array(10f + 0.1f * (i - 100), 10f + 0.1f * (i - 100))))
    val emb = pts.toDF("vec_id", "embedding")
    val out = Clustering.kmeans(spark, emb,
        seedPred = col("vec_id").isin(0L, 100L), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 4L).forall(out(_) == 0L))
    assert((100L to 104L).forall(out(_) == 100L))
    // every point is assigned exactly once
    assert(out.size == 10)
  }

  test("scrubPii redacts emails before phones and counts both") {
    import spark.implicits._
    val d = Seq(
      (1L, "write alice.smith+tag@mail.example.org or call +44 (0)20 7946-0958 now"),
      (2L, "no personal data in here at all"))
      .toDF("doc_id", "text")
    val r = TextStats.scrubPii(d).orderBy("doc_id").collect()
    assert(r(0).getAs[String]("cleaned") == "write <EMAIL> or call <PHONE> now")
    assert(r(0).getAs[Long]("n_emails") == 1L && r(0).getAs[Long]("n_phones") == 1L)
    assert(r(1).getAs[String]("cleaned") == "no personal data in here at all")
    assert(r(1).getAs[Long]("n_emails") == 0L && r(1).getAs[Long]("n_phones") == 0L)
  }

  test("dedupChunks removes corpus-frequent chunks and reassembles in order") {
    import spark.implicits._
    // "hdr x" is shared boilerplate across all 4 docs (> maxReps=2);
    // doc 4 has a trailing odd one-word chunk that must survive
    val d = Seq((1L, "hdr x a b"), (2L, "hdr x c d"), (3L, "hdr x e f"),
      (4L, "hdr x g h tail")).toDF("doc_id", "text")
    val r = Dedup.dedupChunks(d, chunkWords = 2, maxReps = 2)
      .orderBy("doc_id").collect()
    assert(r.map(_.getAs[String]("kept_text")).toSeq ==
      Seq("a b", "c d", "e f", "g h tail"))
    assert(r.forall(_.getAs[Long]("n_dropped_chunks") == 1L))
    assert(r(3).getAs[Long]("n_chunks") == 3L) // hdr x | g h | tail
  }

  test("dedupChunks size-guard fallback (unhinted join) is value-identical to the broadcast path") {
    import spark.implicits._
    // maxBoilerplateBroadcast = 0 forces the over-bound path: the
    // boilerplate set joins UNHINTED (AQE decides) instead of being
    // force-broadcast — outputs must be identical, because the guard is
    // a driver-safety strategy switch, never a semantics switch
    val d = Seq((1L, "hdr x a b"), (2L, "hdr x c d"), (3L, "hdr x e f"),
      (4L, "hdr x g h tail")).toDF("doc_id", "text")
    val hinted = Dedup.dedupChunks(d, chunkWords = 2, maxReps = 2)
      .orderBy("doc_id").collect()
    val unhinted = Dedup.dedupChunks(d, chunkWords = 2, maxReps = 2,
        maxBoilerplateBroadcast = 0L)
      .orderBy("doc_id").collect()
    assert(hinted.toSeq == unhinted.toSeq)
    assert(unhinted.map(_.getAs[String]("kept_text")).toSeq ==
      Seq("a b", "c d", "e f", "g h tail"))
  }

  test("decontaminate flags training docs sharing eval n-grams") {
    import spark.implicits._
    val d = Seq(
      (50L, "a b c d e"),          // eval doc (pred below)
      (1L, "x y a b c z"),         // shares 3-gram "a b c"
      (2L, "p q r s t u"))         // clean
      .toDF("doc_id", "text")
    val pred = col("doc_id") === 50L
    val r = TextStats.decontaminate(d, pred).orderBy("doc_id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L)) // eval doc excluded
    assert(r(0).getAs[Long]("n_shared_grams") == 1L && r(0).getAs[Boolean]("contaminated"))
    assert(r(1).getAs[Long]("n_shared_grams") == 0L && !r(1).getAs[Boolean]("contaminated"))
    // stricter minShared: one shared gram is no longer enough
    val strict = TextStats.decontaminate(d, pred, minShared = 2)
      .filter(col("doc_id") === 1L).head()
    assert(!strict.getAs[Boolean]("contaminated"))
  }

  test("semanticDedup keeps one survivor per tight cosine group, per cluster") {
    import spark.implicits._
    // blob A: three near-identical directions (0,1,2), one distinct (3);
    // blob B: two near-identical (100,101). Seeds 0 and 100.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.01f)), (2L, Array(0.98f, 0.02f)),
      (3L, Array(0.9f, 0.3f)),
      (100L, Array(0.0f, 1.0f)), (101L, Array(0.01f, 0.99f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(spark, emb,
        seedPred = col("vec_id").isin(0L, 100L), threshold = 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // 1,2 are semantic dups of 0; 101 of 100; 3 shares A's cluster but
    // its cosine to the dup group (~0.95) is below the threshold
    assert(out == Set(0L, 3L, 100L))
  }

  test("weightedSample is deterministic, monotone in weight, and exact at the bounds") {
    import spark.implicits._
    val d = spark.range(2000).selectExpr("id AS doc_id")
    val all = Sampling.weightedSample(d, lit(1.0)).filter(col("keep")).count()
    assert(all == 2000) // weight 1 keeps everything (u < 1 always)
    val none = Sampling.weightedSample(d, lit(0.0)).filter(col("keep")).count()
    assert(none == 0)
    val half = Sampling.weightedSample(d, lit(0.5)).filter(col("keep")).count()
    assert(half > 850 && half < 1150, s"~half expected, got $half")
    // monotone: the weight-0.3 sample is a subset of the weight-0.6 one
    val k3 = Sampling.weightedSample(d, lit(0.3)).filter(col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val k6 = Sampling.weightedSample(d, lit(0.6)).filter(col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(k3.subsetOf(k6))
  }

  test("dedupIncremental drops exact and near matches vs the seen corpus only") {
    import spark.implicits._
    val seen = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark engines"),
      (3L, "a third seen document with its own words"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),  // exact dup of 1
      (11L, "completely different text about flink engines"), // near dup of 2
      (12L, "entirely novel content nothing like the others"),
      (13L, "entirely novel content nothing like the rest"))  // near dup of 12 (also NEW)
      .toDF("doc_id", "text")
    val out = Dedup.dedupIncremental(spark, fresh, seen, maxBucket = 4, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 10 exact-matches seen; 11 near-matches seen; 12 survives; 13 only
    // duplicates a fellow NEW doc — within-snapshot dedup is dedupCorpus'
    // job, so it survives here by contract
    assert(out == Set(12L, 13L))
  }

  test("dedupIncrementalPersisted == dedupIncremental on a planted-dup corpus") {
    import spark.implicits._
    // 40 seen docs + an increment with planted exact/near/new docs
    val rnd = new scala.util.Random(11)
    val seen = (0L until 40L).map(i =>
      (i, Seq.fill(12)("s" + rnd.nextInt(30)).mkString(" "))).toDF("doc_id", "text")
    val seenRows = seen.collect().map(r => (r.getLong(0), r.getString(1)))
    val fresh = (
      seenRows.take(5).map { case (i, t) => (100L + i, t) } ++          // exact dups
      seenRows.slice(5, 10).map { case (i, t) => (200L + i, t + " zz") } ++ // near dups
      (0 until 10).map(i => (300L + i,
        Seq.fill(12)("f" + rnd.nextInt(1000) + "_" + i).mkString(" ")))  // fresh
    ).toSeq.toDF("doc_id", "text")
    val recomputed = Dedup.dedupIncremental(spark, fresh, seen,
        maxBucket = 6, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val snapshot = Dedup.incrementalSnapshot(spark, seen)
    val persisted = Dedup.dedupIncrementalPersisted(spark, fresh, snapshot,
        maxBucket = 6, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(persisted == recomputed, s"persisted $persisted != recomputed $recomputed")
    assert(recomputed.forall(_ >= 300L) && recomputed.size >= 8) // dups dropped
  }

  test("snapshot builders: scale-gated spread fires above the gate and never changes the row set") {
    import spark.implicits._
    // >2 MB ONE-ROW-GROUP parquet arrival (the real hazard shape — a
    // LocalRelation's stats use per-type default sizes and would never
    // clear the gate): over Par.spreadIfBig's 2 MB gate, so the heavy
    // per-row pass must leave the single split; the same corpus
    // arriving already at full parallelism must take the no-op path;
    // both must produce the identical snapshot row set. Distinct
    // tokens keep parquet from dictionary-compressing under the gate.
    val dir = graft.core.TempDir("snap-spread").toString
    (0L until 3000L)
      .map(i => (i, ("doc " + i + " ") +
        (0 until 300).map(j => "w" + (i * 1000 + j)).mkString(" ")))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val one = spark.read.parquet(dir)
    assert(one.rdd.getNumPartitions == 1, "fixture must arrive one-split")
    val par = spark.sparkContext.defaultParallelism
    // on a single-core runner the gate-fired assertion below is
    // vacuously true (1 partition == par) — surface the degenerate
    // runner instead of silently passing (ADVICE r14)
    assert(par > 1, s"defaultParallelism=$par cannot exercise the spread path")
    val preSpread = one.repartition(par)
    for ((name, build) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        "incrementalSnapshot" -> (d => Dedup.incrementalSnapshot(spark, d)),
        "winnowSnapshot" -> (d => Dedup.winnowSnapshot(spark, d)))) {
      val spread = build(one)
      assert(spread.rdd.getNumPartitions == par,
        s"$name: gate did not fire on a >2MB one-split input")
      val noop = build(preSpread)
      assert(noop.rdd.getNumPartitions == par, name)
      assert(spread.collect().map(_.toString).sorted.toSeq ==
        noop.collect().map(_.toString).sorted.toSeq,
        s"$name: spread changed the snapshot row set")
    }
  }

  test("dedupIncrementalPersisted never scans the seen corpus — only the pruned snapshot") {
    import spark.implicits._
    val seenDir = graft.core.TempDir("seen-corpus").toString
    val snapDir = graft.core.TempDir("dedup-snap").toString
    val seen = (0L until 20L).map(i => (i, s"seen document number $i with words"))
      .toDF("doc_id", "text")
    seen.write.mode("overwrite").parquet(seenDir)
    Dedup.writeIncrementalSnapshot(spark, spark.read.parquet(seenDir), snapDir)
    val fresh = Seq((100L, "seen document number 3 with words"),
      (101L, "an entirely new arrival")).toDF("doc_id", "text")
    val out = Dedup.dedupIncrementalPersisted(spark, fresh,
      spark.read.parquet(snapDir))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains(seenDir), s"seen corpus scanned on the increment:\n$plan")
    assert(plan.contains(snapDir), plan)
    // the exact stage reads the snapshot pruned to the hash column alone
    assert(plan.contains("ReadSchema: struct<content_hash:string>"),
      s"exact-stage snapshot scan not column-pruned:\n$plan")
    assert(out.collect().map(_.getLong(0)).toSet == Set(101L))
  }

  test("langScore tie-break follows marker order") {
    import spark.implicits._
    val d = Seq((1L, "x y z")).toDF("doc_id", "text") // all scores 0 → tie
    val p1 = TextStats.langScore(d, Seq("a" -> Seq("q"), "b" -> Seq("w")))
      .head().getAs[String]("pred")
    val p2 = TextStats.langScore(d, Seq("b" -> Seq("w"), "a" -> Seq("q")))
      .head().getAs[String]("pred")
    assert(p1 == "a" && p2 == "b")
  }

  test("joinAsOf matches the brute-force definition, including timestamp ties") {
    import spark.implicits._
    // deterministic pseudo-random streams with repeated keys and ts ties
    val left = spark.range(200).selectExpr(
      "id AS tie", "id % 7 AS k", "(id * 37) % 50 AS ts", "CAST(id AS DOUBLE) AS payload")
    val right = spark.range(150).selectExpr(
      "id + 1000 AS tie", "id % 7 AS k", "(id * 53) % 50 AS ts",
      "CAST(id AS DOUBLE) * 10 AS v")
    val got = AsOf.joinAsOf(left, right, Seq("k"), "ts", "tie", "v", "asof_v")
      .select("k", "ts", "tie", "payload", "asof_v")
    // brute force: every right row at-or-before, keep max by (ts, tie)
    val brute = left.as("l").join(right.as("r"),
        col("l.k") === col("r.k") && col("r.ts") <= col("l.ts"), "left")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("l.tie"))
          .orderBy(col("r.ts").desc_nulls_last, col("r.tie").desc_nulls_last)))
      .filter(col("rn") === 1)
      .select(col("l.k").as("k"), col("l.ts").as("ts"), col("l.tie").as("tie"),
        col("l.payload").as("payload"), col("r.v").as("asof_v"))
    assert(got.count() == 200)
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty,
      "as-of window result diverges from the brute-force range join")
  }

  test("mixResample tempers large sources and keeps the smallest whole") {
    import spark.implicits._
    val d = (0 until 100).map(i => (i.toLong, "sA")) ++
      (100 until 500).map(i => (i.toLong, "sB"))
    val df = d.toDF("doc_id", "source")
    val out = Sampling.mixResample(df, alpha = 0.5)
    val w = out.select("source", "mix_weight").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(w("sA") == 1.0)   // smallest source: keep everything
    assert(w("sB") == 0.5)   // sqrt(100/400)
    val kept = out.filter(col("keep")).groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("sA") == 100L)
    assert(kept("sB") > 140L && kept("sB") < 260L, s"~200 expected, got ${kept("sB")}")
    // alpha = 1: no tempering, every doc keeps
    val all = Sampling.mixResample(df, alpha = 1.0).filter(col("keep")).count()
    assert(all == 500L)
  }

  test("lmScore ranks rare-word docs above common-word docs and floors OOV") {
    import spark.implicits._
    val d = Seq(
      (1L, "common common common common"),
      (2L, "common common rare1 rare2"),
      (3L, "zz1 zz2 zz3 zz4")) // every word OOV at vocabSize=1
      .toDF("doc_id", "text")
    val out = TextStats.lmScore(d, vocabSize = 1).orderBy("doc_id").collect()
    val nll = out.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[java.lang.Double]("avg_nll").doubleValue()).toMap
    assert(out.forall(_.getAs[Long]("n_words") == 4L))
    // only "common" is in-vocab (c=6 of 12); everything else floors at c=1
    assert(nll(1L) < nll(2L) && nll(2L) < nll(3L))
    assert(math.abs(nll(1L) - math.log(12.0 / 6.0)) < 1e-6)
    assert(math.abs(nll(3L) - math.log(12.0)) < 1e-6)
  }

  test("dedupWithinDoc keeps first occurrences in order, drops later repeats") {
    import spark.implicits._
    // chunks of 2 words: "a b" | "c d" | "a b" | "e f" | "a b"
    val d = Seq((1L, "a b c d a b e f a b"), (2L, "x y z")).toDF("doc_id", "text")
    val out = TextStats.dedupWithinDoc(d).orderBy("doc_id").collect()
    assert(out(0).getAs[String]("kept_text") == "a b c d e f")
    assert(out(0).getAs[Long]("n_chunks") == 5L)
    assert(out(0).getAs[Long]("n_dropped_chunks") == 2L)
    assert(out(1).getAs[String]("kept_text") == "x y z") // odd tail chunk kept
    assert(out(1).getAs[Long]("n_dropped_chunks") == 0L)
  }

  test("PQ: zero-quantization-error corpus → ADC ranking equals exact L2 ranking") {
    import spark.implicits._
    // every subspace is exactly one of two prototypes, so trained
    // codebooks reconstruct vectors EXACTLY and ADC distance must equal
    // the true L2² — pinning the whole train→encode→search path
    val p0 = Seq(0f, 0f, 0f, 0f)
    val p1 = Seq(2f, 2f, 2f, 2f)
    val vecs = Seq(
      (0L, p0 ++ p0), (1L, p1 ++ p1), (2L, p0 ++ p1), (3L, p1 ++ p0),
      (4L, p0 ++ p0), (5L, p1 ++ p1))
    val emb = vecs.toDF("vec_id", "embedding")
    val cbs = Similarity.pqCodebooks(spark, emb, col("vec_id") < 2,
      m = 2, k = 2, iters = 2, dims = 8)
    assert(cbs.length == 2 && cbs.forall(_.length == 2))
    val codes = Similarity.pqEncode(spark, emb, cbs)
    val codeRows = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codeRows.values.forall(c => c.length == 2 && c.forall(x => x >= 0 && x < 2)))
    assert(codeRows(0L) == codeRows(4L) && codeRows(1L) == codeRows(5L))
    val got = Similarity.pqSearchADC(spark, emb, codes, cbs,
        queryPred = col("vec_id") === 0L, topK = 5)
      .orderBy(col("rank")).collect()
      .map(r => (r.getAs[Long]("n_id"), r.getAs[Double]("adc_dist2")))
    // exact L2² from vec 0: v4 = 0, v2 = v3 = 16, v1 = v5 = 32; ties by id
    assert(got.toSeq == Seq((4L, 0.0), (2L, 16.0), (3L, 16.0), (1L, 32.0), (5L, 32.0)))
  }

  test("persisted PQ index: search from disk is bit-equal to in-memory ADC") {
    import spark.implicits._
    val emb = Seq.tabulate(24) { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = graft.core.TempDir("pqidx").toString
    Similarity.writePqIndex(spark, emb, seedPred = col("vec_id") < 4,
      dir, m = 2, k = 4, iters = 2, dims = 8)
    // codebooks round-trip parquet exactly (doubles are lossless there)
    val cbs = Similarity.pqCodebooks(spark, emb, col("vec_id") < 4,
      m = 2, k = 4, iters = 2, dims = 8)
    assert(Similarity.loadPqCodebooks(spark, dir) == cbs)
    val queries = emb.filter(col("vec_id") % 7 === 0)
    val fromDisk = Similarity.pqSearchIndexed(spark, dir, queries, topK = 3)
      .orderBy("q_id", "rank").collect().toSeq
    val inMem = Similarity.pqSearchADC(spark, emb,
        Similarity.pqEncode(spark, emb, cbs), cbs,
        queryPred = col("vec_id") % 7 === 0, topK = 3)
      .orderBy("q_id", "rank").collect().toSeq
    assert(fromDisk.nonEmpty)
    assert(fromDisk == inMem)
  }

  test("corpusOverlap: identical sides estimate 1, disjoint vocabularies 0") {
    import spark.implicits._
    val same = (0L until 40L).map(i => (i, s"shared corpus text block number ${i % 5}"))
      .toDF("doc_id", "text")
    val j1 = Dedup.corpusOverlap(spark, same, col("doc_id") % 2 === 0)
      .head().getAs[Double]("j_estimate")
    assert(j1 == 1.0) // both halves carry all 5 texts → identical shingle sets
    val disjoint = ((0L until 20L).map(i => (i, "alpha beta gamma delta epsilon zeta")) ++
      (20L until 40L).map(i => (i, "ichi nii sann yonn gco ruku nana hachi")))
      .toDF("doc_id", "text")
    val j0 = Dedup.corpusOverlap(spark, disjoint, col("doc_id") < 20)
      .head().getAs[Double]("j_estimate")
    assert(j0 == 0.0)
  }

  test("dedupIncrementalExactBloom is identical to the plain anti-join") {
    import spark.implicits._
    val seen = spark.range(500).selectExpr(
      "id AS doc_id", "concat('seen text number ', CAST(id % 300 AS STRING)) AS text")
    val fresh = spark.range(1000, 1400).selectExpr(
      "id AS doc_id", "concat('seen text number ', CAST(id % 400 AS STRING)) AS text")
    // fresh texts are id%400: ids 1100..1199 (texts 300..399) are novel,
    // everything else collides with a seen text (0..299)
    val got = Dedup.dedupIncrementalExactBloom(spark, fresh, seen,
        expectedSeen = 500, fpp = 0.01)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val seenH = seen.select(md5(col("text")).as("content_hash")).distinct()
    val want = fresh.withColumn("content_hash", md5(col("text")))
      .join(seenH, Seq("content_hash"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"bloom path diverges: extra=${got -- want} missing=${want -- got}")
    assert(got == (1100L until 1200L).toSet) // every true dup dropped, novels kept
    // plan shape: the confirm path must never sort-merge (which would
    // shuffle the corpus-sized seen hash set every increment)
    val plan = Dedup.dedupIncrementalExactBloom(spark, fresh, seen,
      expectedSeen = 500).queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    // the probe is a compiled reference-object expression, never a
    // ScalaUDF codegen boundary in the prefilter
    assert(!plan.contains("UDF"), plan)
    assert(plan.contains("bloom_might_contain"), plan)
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id")).toMap

  /** Reference labels: min-label relaxation over the collected edges
    * until nothing changes — slow, obvious, independent of both paths. */
  private def referenceLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    var l = edges.flatMap { case (a, b) => Seq(a -> a, b -> b) }.toMap
    var changed = true
    while (changed) {
      val next = edges.foldLeft(l) { case (m, (a, b)) =>
        val lo = math.min(m(a), m(b)); m.updated(a, lo).updated(b, lo)
      }
      changed = next != l
      l = next
    }
    l
  }

  /** The descriptions of every job `body` submits. */
  private def jobDescriptions(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    scala.jdk.CollectionConverters.IterableHasAsScala(seen).asScala.toSeq
  }

  test("clusters: driver and star paths return the expected labels on every input") {
    import spark.implicits._
    val chain = (0L until 63L).map(i => (i, i + 1))
    // two cliques + pseudo-random edges
    val rand = (0L until 120L).map(i => ((i * 17) % 40, (i * 29) % 40 + (if (i % 2 == 0) 0 else 40)))
      .filter { case (a, b) => a != b }
    val cases = Seq(
      ("63-link chain", chain, (0L to 63L).map(_ -> 0L).toMap),
      ("random graph", rand, referenceLabels(rand)),
      ("duplicate edges", Seq((1L, 2L), (1L, 2L), (2L, 3L), (2L, 3L)),
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L)),
      ("both orientations of one edge", Seq((5L, 7L), (7L, 5L)), Map(5L -> 5L, 7L -> 5L)),
      // a node whose only edge is a self-loop is its own cluster; a
      // self-loop inside a component changes nothing
      ("self-loops", Seq((4L, 4L), (8L, 9L), (9L, 9L)), Map(4L -> 4L, 8L -> 8L, 9L -> 8L)),
      ("empty input", Seq.empty[(Long, Long)], Map.empty[Long, Long]))
    assert(rand.nonEmpty && referenceLabels(rand).values.toSet.size > 1)
    for ((name, edges, expected) <- cases) {
      val pairs = edges.toDF("a_id", "b_id")
      val viaDriver = Dedup.clusters(spark, pairs)
      val viaStar = Dedup.starComponents(pairs)
      assert(viaDriver.schema.map(f => f.name -> f.dataType) ==
        viaStar.schema.map(f => f.name -> f.dataType), name)
      assert(viaDriver.collect().sortBy(_.getLong(0)).toSeq ==
        viaStar.collect().sortBy(_.getLong(0)).toSeq, name)
      assert(labelsOf(viaDriver) == expected, name)
    }
  }

  test("clusters converges on deep chains with its defaults (63 and 100 links)") {
    for (links <- Seq(63, 100)) {
      val chain = spark.range(links).selectExpr("id AS a_id", "id + 1 AS b_id")
      val got = labelsOf(Dedup.clusters(spark, chain))
      assert(got.size == links + 1 && got.values.toSet == Set(0L), s"$links links")
    }
  }

  test("clusters above the driver gate runs the star rounds and labels every pair") {
    val n = Dedup.LocalComponentsMaxEdges + 1
    val pairs = spark.range(n).selectExpr("2 * id AS a_id", "2 * id + 1 AS b_id")
    var out: org.apache.spark.sql.DataFrame = null
    val descs = jobDescriptions {
      out = Dedup.clusters(spark, pairs)
    }
    assert(descs.exists(_.contains("components: star round")), descs)
    assert(!descs.exists(_.contains("components: collect edges")), descs)
    assert(out.count() == 2 * n)
    assert(out.filter(col("cluster_id") =!= col("node") - col("node") % 2).count() == 0)
    // and a small input stays on the driver path: no star round
    val small = jobDescriptions {
      Dedup.clusters(spark, spark.range(10).selectExpr("2 * id AS a_id", "2 * id + 1 AS b_id"))
    }
    assert(small.exists(_.contains("components: collect edges")), small)
    assert(!small.exists(_.contains("components: star round")), small)
  }

  test("dedupCorpus labels its component jobs with the stage and the operator") {
    import spark.implicits._
    // 10 groups × (4 exact copies of variant x + 4 of variant y); the
    // variants share a long body → exact stage keeps x,y per group, the
    // near stage merges them
    val d = (0 until 80).map { i =>
      val g = i / 8
      val tail = if (i % 2 == 0) "x" else "y"
      (i.toLong, s"group $g carries a long shared sentence body used by every variant $tail")
    }.toDF("doc_id", "text")
    var kept = Set.empty[Long]
    val descs = jobDescriptions {
      kept = Dedup.dedupCorpus(spark, d, maxBucket = 8)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(kept.nonEmpty && kept.size < 80)
    assert(descs.exists(s => s.contains("dedupCorpus: verify + components") &&
      s.contains("components:")), descs)
  }

  test("clusters' star path frees its intermediate checkpoint blocks") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val out = Dedup.starComponents(pairs)
    out.count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    // only the blocks backing the returned frame may remain
    assert(leaked.size <= 2, s"leaked checkpoint RDDs: $leaked")
  }

  test("simhash64 lane 0 is bit-identical to simhash16 (incl. edge texts)") {
    import spark.implicits._
    val tricky = docs.unionAll(Seq(
      (100L, ""), (101L, "a  b"), (102L, "trailing space "), (103L, "é ü 漢字"))
      .toDF("doc_id", "text"))
    val l0 = Dedup.simhashLanes(tricky).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).head).toMap
    val h16 = Dedup.simhash(tricky).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(l0 == h16)
    // lanes are independent hashes: not all four equal for a real text
    val lanes1 = Dedup.simhashLanes(tricky).filter(col("doc_id") === 1L)
      .head().getSeq[Long](1)
    assert(lanes1.distinct.size > 1)
  }

  test("simhashNearDup (uncapped) = brute-force Hamming<=maxDist over all pairs") {
    import spark.implicits._
    // 3 exact-copy groups + word-level tweaks + unrelated docs
    val d = (0 until 60).map { i =>
      val txt = i % 10 match {
        case 0 | 1 | 2 => "alpha beta gamma delta epsilon zeta eta theta"
        case 3 | 4     => "alpha beta gamma delta epsilon zeta eta iota"
        case 5         => s"unique text number $i with its own words entirely"
        case _         => s"filler document $i about nothing shared at all $i"
      }
      (i.toLong, txt)
    }.toDF("doc_id", "text")
    val got = Dedup.simhashNearDup(spark, d, maxDist = 3, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the same lanes
    val lanes = Dedup.simhashLanes(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).sortBy(_._1)
    val want = (for {
      (a, la) <- lanes; (b, lb) <- lanes if a < b
      ham = la.zip(lb).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      if ham <= 3
    } yield (a, b)).toSet
    assert(got == want, s"extra=${got -- want} missing=${want -- got}")
    assert(want.nonEmpty) // identical copies guarantee Hamming-0 pairs
  }

  test("bowDedup collapses reordered and re-repeated copies; exact dedup does not") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox"),
      (2L, "fox brown quick the"),           // reordered
      (3L, "the the quick quick brown fox"), // re-repeated
      (4L, "a different document")).toDF("doc_id", "text")
    val bow = Dedup.bowDedup(d).orderBy("keep_id").collect()
    assert(bow.length == 2)
    assert(bow.head.getAs[Long]("keep_id") == 1L)
    assert(bow.head.getAs[Long]("n_docs") == 3L)
    assert(Dedup.exact(d).count() == 4) // byte hash keeps all four apart
  }

  test("dupSpanStats: exact duplicated-span fractions, zero for unique and short docs") {
    import spark.implicits._
    val shared = "one two three four"
    val d = Seq(
      (1L, s"$shared alpha beta"),      // 6 words → 3 spans; 1 duplicated
      (2L, s"$shared gamma delta"),     // 3 spans; 1 duplicated
      (3L, "five six seven eight nine"),// 2 spans; none duplicated
      (4L, "tiny")).toDF("doc_id", "text") // < spanWords → 0 spans
    val got = Dedup.dupSpanStats(d, spanWords = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((3L, 1L, 0.333333)))
    assert(got(2L) == ((3L, 1L, 0.333333)))
    assert(got(3L) == ((2L, 0L, 0.0)))
    assert(got(4L) == ((0L, 0L, 0.0)))
  }

  test("wordEntropy: zero for constant docs, ln(n) for all-distinct docs") {
    import spark.implicits._
    val d = Seq(
      (1L, "same same same same"),  // H = 0
      (2L, "a b c d"),              // H = ln(4)
      (3L, "x x y y")).toDF("doc_id", "text") // H = ln(2)
    val got = TextStats.wordEntropy(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((4L, 1L, 0.0)))
    assert(got(2L)._3 == math.rint(math.log(4) * 1e6) / 1e6)
    assert(got(3L)._3 == math.rint(math.log(2) * 1e6) / 1e6)
    assert(got(2L)._2 == 4L && got(3L)._2 == 2L)
  }

  test("repeatedSpans finds planted cross-doc spans, ignores within-doc-only repeats") {
    import spark.implicits._
    val shared = "one two three four"
    val d = Seq(
      (1L, s"prefix a $shared suffix a"),
      (2L, s"prefix b $shared suffix b"),
      (3L, s"$shared and again $shared"), // within-doc repeat of the shared span
      (4L, "solo solo solo solo solo solo solo solo"), // single-doc repeats only
      (5L, "nothing in common here at all")).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(d, spanWords = 4, minDocs = 2, k = 50)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bySpan = spans.map(t => t._1 -> (t._2, t._3)).toMap
    assert(bySpan.contains(shared))
    assert(bySpan(shared) == (3L, 4L)) // 3 docs; doc 3 contributes 2 occurrences
    // doc 4's internal repeats never cross the minDocs gate
    assert(!spans.exists(_._1.startsWith("solo")))
    // short docs (< spanWords words) contribute nothing and don't crash
    val tiny = Seq((9L, "too short")).toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(tiny, spanWords = 4).count() == 0)
  }

  test("nearDupPairsAnn: planted near-dups found, verify semantics = nearDupPairs, salts/caps behave") {
    import spark.implicits._
    val dims = 64
    val rnd = new scala.util.Random(5)
    // three tight planted clusters (near-dups, cosine ≈ 1) + noise
    def jitter(base: Array[Float], eps: Float) =
      base.zipWithIndex.map { case (x, d) =>
        x + eps * ((d * 7 % 5) - 2) / 1000f }
    val bases = Seq.fill(3)(Array.fill(dims)(rnd.nextFloat() - 0.5f))
    val planted = bases.zipWithIndex.flatMap { case (b, c) =>
      (0 until 4).map(j => ((c * 10 + j).toLong, jitter(b, j.toFloat)))
    }
    val noise = (100 until 140).map(i =>
      (i.toLong, Array.fill(dims)(rnd.nextFloat() - 0.5f)))
    val emb = (planted ++ noise).toDF("vec_id", "embedding")
    val got = Similarity.nearDupPairsAnn(spark, emb,
        samplePred = col("vec_id") % 2 === 0, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).sortBy(t => (t._1, t._2)).toSeq
    // every planted same-cluster (even, larger) pair is found: jitter
    // keeps cosine ≥ 0.9 and the tight cluster lands in ONE grid cell
    val expectPlanted = for {
      c <- 0 until 3; a <- Seq(0, 2); b <- (a + 1) until 4
    } yield ((c * 10 + a).toLong, (c * 10 + b).toLong)
    assert(expectPlanted.forall(p => got.exists(t => (t._1, t._2) == p)),
      s"missing planted pairs: got ${got.map(t => (t._1, t._2))}")
    // verify semantics = nearDupPairs blocked by the SAME assignment:
    // same pairs, same cosines, when the block key is the grid cell
    val assigned = Similarity.assignFixed(spark, emb)
      .select(col("vec_id"), col("embedding"), col("centroid"))
    val viaBlock = Similarity.nearDupPairs(spark,
        spark.createDataFrame(assigned.localCheckpoint(true).rdd, assigned.schema),
        blockCol = "centroid", samplePred = col("vec_id") % 2 === 0,
        threshold = 0.9)
      .select(col("a_id"), col("b_id"), col("centroid"), col("cosine"),
        col("keep_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).sortBy(t => (t._1, t._2)).toSeq
    assert(got == viaBlock)
    // salting is pair-set-invariant
    val salted = Similarity.nearDupPairsAnn(spark, emb,
        samplePred = col("vec_id") % 2 === 0, threshold = 0.9, pairSalts = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).sortBy(t => (t._1, t._2)).toSeq
    assert(salted == got)
    // capped mega-cells emit no pairs, observably
    val obs = org.apache.spark.sql.Observation()
    val capped = Similarity.nearDupPairsAnn(spark, emb,
      samplePred = col("vec_id") % 2 === 0, threshold = 0.9,
      maxCluster = 2, capMetrics = Some(obs))
    assert(capped.count() == 0) // every planted cluster has 4 members
    assert(obs.get("capped_clusters").asInstanceOf[Long] >= 3L)
  }
}
