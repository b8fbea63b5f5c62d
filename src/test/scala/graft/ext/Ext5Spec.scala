package graft.ext

import org.apache.spark.sql.functions._

import graft.pumle.SparkSpec

/** Round-7 curation batch (q146–q149): greedy k-center coreset
  * selection, containment verification, cluster-capped subsampling.
  * The oracle gate proves the default parameterizations against
  * DuckDB; these specs pin the geometric/set contracts the gate can't
  * see — the exact greedy trajectory on a hand-computed instance, the
  * subset⇒containment-1 guarantee, the cap census invariants.
  * (bpeTrain's merge-sequence contract is pinned in TextStats4Spec.)
  */
class Ext5Spec extends SparkSpec {

  private def emb(rows: Seq[(Long, Seq[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("kCenter replays the hand-computed farthest-first trajectory with id tie-breaks") {
    // 1-D points embedded in 2-D: id0@0, id1@10, id2@4, id3@6.
    // seed = id0; farthest = id1 (d²=100); then id2 and id3 both sit
    // at min-dist² 16 → the id tie-break must pick id2; finally id3 at
    // min(36,16,4)=4. With all 4 chosen the residual radius is 0.
    val e = emb(Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(10f, 0f)),
      (2L, Seq(4f, 0f)), (3L, Seq(6f, 0f))))
    val out = Clustering.kCenter(spark, e, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, 0L, 0.0, 0.0), (2L, 1L, 100.0, 0.0),
      (3L, 2L, 16.0, 0.0), (4L, 3L, 4.0, 0.0)))
  }

  test("kCenter: selection distances are non-increasing and bound the radius") {
    val e = emb(Seq.tabulate(40) { i =>
      (i.toLong, Seq.tabulate(4)(d => ((i * 31 + d * 7) % 17 - 8).toFloat))
    })
    val out = Clustering.kCenter(spark, e, k = 6).collect()
    val sel = out.map(_.getDouble(2)).toSeq
    val radius2 = out.head.getDouble(3)
    assert(out.map(_.getLong(1)).distinct.length == 6, "centers must be distinct")
    // greedy invariant: each pick is the CURRENT farthest point, so
    // selection distances can only shrink, and after the last pick the
    // residual radius cannot exceed the last selection distance
    assert(sel.drop(1) == sel.drop(1).sorted.reverse)
    assert(radius2 <= sel.last + 1e-9)
  }

  test("kCenterIncremental: bit-equal trajectory to the literal form") {
    // irregular float coordinates so distances are non-trivial doubles —
    // any fold-order divergence between array_min-over-literals and the
    // persisted least() chain would surface as a raw-bit mismatch
    val e = emb(Seq.tabulate(60) { i =>
      (i.toLong, Seq.tabulate(6)(d =>
        ((i * 37 + d * 13) % 101 - 50) * 0.173f))
    })
    for (k <- Seq(1, 2, 7, 12)) {
      val lit = Clustering.kCenter(spark, e, k).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      val inc = Clustering.kCenterIncremental(spark, e, k).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      assert(lit.toSeq == inc.toSeq, s"k=$k trajectories diverge")
    }
  }

  test("kCenterIncremental releases every superseded checkpoint block") {
    val e = emb(Seq.tabulate(50) { i =>
      (i.toLong, Seq.tabulate(4)(d => ((i * 31 + d * 7) % 17 - 8).toFloat))
    })
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Clustering.kCenterIncremental(spark, e, k = 8).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked checkpoint blocks: $leaked")
  }

  test("hot-centroid guard: mega-cluster excluded from pair work, metrics observable, rest bit-identical") {
    import org.apache.spark.sql.Observation
    // 3000 copies of one point collapse into a single cell (the
    // boilerplate mega-cluster); 40 spread points land elsewhere. The
    // unguarded self-join would put 3000² = 9M pairs in one task — the
    // guard must exclude that cell entirely (never sample it), report
    // it, and leave every other cell's output untouched.
    val mega = Seq.tabulate(3000)(i =>
      ((10000 + i).toLong, Seq.tabulate(8)(d => if (d == 0) 50f else 0f)))
    val spread = Seq.tabulate(40) { i =>
      (i.toLong, Seq.tabulate(8)(d => ((i * 37 + d * 13) % 101 - 50) * 0.9f))
    }
    val e = emb(mega ++ spread)
    val obs = Observation()
    val guarded = Similarity.knnGraph(spark, e, k = 2, centroids = 8,
        dims = 8, maxCluster = 100, capMetrics = Some(obs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val m = obs.get
    assert(m("capped_clusters") == 1L, s"metrics: $m")
    assert(m("capped_members").asInstanceOf[Long] >= 3000L, s"metrics: $m")
    assert(m("max_cluster_size").asInstanceOf[Long] >= 3000L, s"metrics: $m")
    // no capped member appears on either side of the graph
    assert(guarded.forall { case (a, _, b) => a < 10000L && b < 10000L })
    // kept clusters: bit-identical to the unguarded graph restricted to
    // the spread points' cells
    val unguardedSpread = Similarity.knnGraph(
        spark, emb(spread), k = 2, centroids = 8, dims = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // spread points that shared a cell with the mega point lose that
    // cell-mate; all OTHER cells must match exactly
    val megaCell = Similarity.assignFixed(spark, emb(mega.take(1)), 8, 8)
      .select(col("centroid")).head().getLong(0)
    val spreadCells = Similarity.assignFixed(spark, emb(spread), 8, 8)
      .select(col("vec_id"), col("centroid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unaffected = unguardedSpread.filter { case (a, _, _) =>
      spreadCells(a) != megaCell }
    assert(guarded.filter { case (a, _, _) => spreadCells(a) != megaCell }
      == unaffected)

    // semanticDedupFixed: capped cluster's members all SURVIVE
    // (conservative keep-all), metrics flow, spread cells dedup as before
    val obs2 = Observation()
    val surv = Similarity.semanticDedupFixed(spark, e, k = 8,
        threshold = 0.95, dims = 8, maxCluster = 100,
        capMetrics = Some(obs2))
      .collect().map(_.getLong(0)).toSet
    assert(obs2.get("capped_clusters") == 1L)
    assert(mega.map(_._1).forall(surv.contains),
      "capped mega-cluster members must all survive")
  }

  test("cap stats are DEFAULT-ON: cluster_cap_stats observed with no Observation passed") {
    // a first-time knnGraph/semanticDedupFixed caller on a boilerplate-
    // heavy corpus must SEE max_cluster_size before the quadratic pair
    // join costs hours — the named observation fires on the internal
    // checkpoint even when capMetrics is None
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.get("cluster_cap_stats").foreach(seen.add)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val e = emb(Seq.tabulate(40) { i =>
        (i.toLong, Seq.tabulate(8)(d => ((i * 37 + d * 13) % 101 - 50) * 0.9f))
      })
      Similarity.knnGraph(spark, e, k = 2, centroids = 8, dims = 8).collect()
      // listener delivery is async — poll
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!seen.isEmpty, "cluster_cap_stats never observed")
      val m = seen.peek()
      assert(m.getAs[Long]("capped_clusters") == 0L, m.toString)
      assert(m.getAs[Long]("max_cluster_size") >= 1L, m.toString)
    } finally spark.listenerManager.unregister(listener)
  }

  test("kCenter seeds give kmeans perfect blob separation where first-k-id seeds collapse") {
    // 4 well-separated blobs of 10 points; ids 0..9 are ALL in blob 0,
    // so first-k-id seeding starts every center inside one blob (the
    // classic Lloyd failure), while farthest-first picks one seed per
    // blob by construction.
    val blobs = Seq((0f, 0f), (100f, 0f), (0f, 100f), (100f, 100f))
    val pts = for (b <- 0 until 4; i <- 0 until 10)
      yield ((b * 10 + i).toLong,
        Seq(blobs(b)._1 + i * 0.01f, blobs(b)._2))
    val e = emb(pts)
    val picks = Clustering.kCenter(spark, e, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byId = pts.toMap
    val seeds = picks.map { case (rank, id) =>
      (rank, byId(id).map(_.toDouble): Seq[Double]) }.toSeq
    val good = Clustering.kmeansFromCenters(spark, e, seeds, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val naive = Clustering.kmeans(spark, e, col("vec_id") < 4, iters = 3)
      .collect().map(r => r.getDouble(2))
    // every blob lands in exactly one cluster under k-center seeding
    val blobsPerCluster = good.groupBy(_._2)
      .values.map(_.map(_._1 / 10).toSet)
    assert(blobsPerCluster.size == 4 && blobsPerCluster.forall(_.size == 1),
      s"mixed clusters: $blobsPerCluster")
    assert(good.map(_._3).sum < naive.sum,
      "k-center seeding must strictly beat collapsed first-k-id seeding")
  }

  test("containment flags a fully-contained doc with c=1.0 where jaccard stays low") {
    import spark.implicits._
    val short = "the quick brown fox jumps over the lazy dog"
    val long = short + " while twelve boxers drive across the frozen river bank tonight"
    val docs = Seq((1L, long), (2L, short)).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("a_id", "b_id")
    val out = Dedup.containment(spark, pairs, docs, threshold = 0.5).collect()
    assert(out.length == 1)
    val r = out(0)
    // every shingle of the short doc appears in the long one
    assert(r.getAs[Double]("c_ba") == 1.0)
    assert(r.getAs[Long]("n_inter") == r.getAs[Long]("n_b"))
    assert(r.getAs[Double]("c_ab") < 1.0)
    // and the symmetric Jaccard the near-dup gate uses would NOT flag it
    val j = Dedup.verifyCandidates(spark, pairs, docs, threshold = 0.8).count()
    assert(j == 0, "jaccard verification must miss the containment case")
  }

  test("containment drops pairs below threshold in both directions") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel"),
      (2L, "zulu yankee xray whiskey victor uniform tango sierra")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("a_id", "b_id")
    assert(Dedup.containment(spark, pairs, docs, threshold = 0.5).count() == 0)
  }

  test("adaptive pair salting (pairSalts = 0): census-derived count, results bit-identical at any salt") {
    import spark.implicits._
    // derived counts: ceil(maxBlockPairs / TargetPairsPerSalt) in
    // [1, MaxSalts]. samplePred counts the sample side; None = self-join
    // (pair work = c²).
    val one = spark.range(1000000).select(lit(0).as("blk"), col("id"))
    assert(Similarity.deriveSalts(one, "blk", Some(col("id") < 50)) == 12,
      "ceil(50·1e6 / 4Mi) = 12")
    assert(Similarity.deriveSalts(one.limit(0), "blk", None) == 1)
    assert(Similarity.deriveSalts(one, "blk", None) == Similarity.MaxSalts)
    assert(Similarity.deriveSalts(
      spark.range(1000).select(lit(0).as("blk"), col("id")), "blk", None) == 1)
    // equivalence across skew shapes: a mega-cell corpus (everything
    // lands in ~1 cell) and a spread one — derived, manual-16 and
    // unsalted runs must return the SAME rows bit-for-bit
    val mega = emb(Seq.tabulate(300)(i =>
      ((1000 + i).toLong, Seq.tabulate(8)(d => if (d == 0) 50f else (i % 3).toFloat))) ++
      Seq.tabulate(40) { i =>
        (i.toLong, Seq.tabulate(8)(d => ((i * 37 + d * 13) % 101 - 50) * 0.9f))
      })
    val spreadE = emb(Seq.tabulate(120) { i =>
      (i.toLong, Seq.tabulate(8)(d => ((i * 29 + d * 17) % 89 - 44) * 0.7f))
    })
    for (e <- Seq(mega, spreadE)) {
      def dedup(s: Int) = Similarity.semanticDedupFixed(spark, e, k = 8,
        dims = 8, pairSalts = s).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(dedup(0) == dedup(16) && dedup(0) == dedup(1))
      def g(s: Int) = Similarity.knnGraph(spark, e, k = 2, centroids = 8,
          dims = 8, pairSalts = s).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(4)))).sorted.toSeq
      assert(g(0) == g(16) && g(0) == g(1))
      def ann(s: Int) = Similarity.nearDupPairsAnn(spark, e,
          samplePred = col("vec_id") % 3 === 0, threshold = 0.3,
          centroids = 8, dims = 8, pairSalts = s).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(ann(0) == ann(16) && ann(0) == ann(1))
    }
    // caller-label blocking (nothing materialized → census is a scan):
    // one hot label + many small ones
    val labeled = spreadE.withColumn("label",
      when(col("vec_id") < 80, lit(0L)).otherwise(col("vec_id") % 10))
    def ndp(s: Int) = Similarity.nearDupPairs(spark, labeled, "label",
        samplePred = col("vec_id") % 4 === 0, threshold = 0.3, pairSalts = s)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(ndp(0) == ndp(16) && ndp(0) == ndp(1))
  }

  test("hamming index: intake ≡ brute force, append ≡ rebuild, cap drops, stream ≡ batch") {
    import spark.implicits._
    // seen signatures: three 4-bit-noise families around distinct base
    // patterns + one degenerate family (60 copies of one signature —
    // the over-cap bucket)
    def fam(base: Long, n: Int, off: Long) =
      Seq.tabulate(n)(i => ((off + i).toLong, base ^ (i % 4).toLong))
    val seen = fam(0x1234567812345678L, 8, 0) ++
      fam(0x0F0F00FF11223344L, 8, 100) ++
      fam(0x7777000012121212L, 8, 200) ++
      Seq.tabulate(60)(i => ((300 + i).toLong, 0x4242424242424242L))
    val fresh = Seq(
      (900L, 0x1234567812345679L), // 1 bit from family A → pairs
      (901L, 0x0F0F00FF11223347L), // 2 bits from family B → pairs
      (902L, 0x4242424242424240L), // near the DEGENERATE family → capped, no pairs
      (903L, 0x5A5A5A5A5A5A5A5AL)) // far from everything → no pairs
    val seenDf = seen.toDF("doc_id", "packed")
    val freshDf = fresh.toDF("doc_id", "packed")
    val dir = graft.core.TempDir("hamidx").toString
    Dedup.writeHammingIndex(spark, seenDf, dir)
    val got = Dedup.hammingIntake(spark, freshDf, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    // brute force over UNDER-CAP seen buckets: pairs with ≥1 shared
    // 16-bit band and Hamming ≤ 3 (the degenerate family's bucket
    // holds 60 > 10 members in every band → contributes nothing)
    val undercap = seen.filter(_._2 != 0x4242424242424242L)
    val want = (for {
      (a, pa) <- fresh
      (b, pb) <- undercap
      if (0 until 4).exists(i => ((pa >> (i * 16)) & 0xffffL) == ((pb >> (i * 16)) & 0xffffL))
      h = java.lang.Long.bitCount(pa ^ pb)
      if h <= 3
    } yield (a, b, h.toLong)).sorted
    assert(got == want && got.nonEmpty)
    assert(!got.exists(_._1 == 902L) && !got.exists(_._1 == 903L))
    // append ≡ rebuild: same census, same intake verdicts
    val dirApp = graft.core.TempDir("hamapp").toString
    val dirAll = graft.core.TempDir("hamall").toString
    val extra = fam(0x1234567812345678L, 5, 500).toDF("doc_id", "packed")
    Dedup.writeHammingIndex(spark, seenDf, dirApp)
    Dedup.appendHammingIndex(spark, extra, dirApp)
    Dedup.writeHammingIndex(spark, seenDf.unionByName(extra), dirAll)
    def census(p: String) = spark.read.parquet(s"$p/bsize")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(census(dirApp) == census(dirAll))
    // crash recovery: simulate an append that died between the sigs
    // write and the census overwrite (bsize stale at the PRE-append
    // counts) — rebuildHammingCensus recounts to the true census
    val stale = spark.read.parquet(s"$dir/bsize")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      .toDF("band", "bval", "n")
    stale.write.mode("overwrite").parquet(s"$dirApp/bsize")
    assert(census(dirApp) != census(dirAll)) // desynchronized
    Dedup.rebuildHammingCensus(spark, dirApp)
    assert(census(dirApp) == census(dirAll)) // repaired
    def intake(p: String) = Dedup.hammingIntake(spark, freshDf, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(intake(dirApp) == intake(dirAll))
    // derived cap (maxBucket = 0): floor 10 at this tiny index, so
    // verdicts equal the explicit default; the formula itself checked
    // against a hand-written census (10 × ceil(mean occupancy))
    assert(Dedup.deriveHammingCap(spark, dir) == 10)
    assert(Dedup.hammingIntake(spark, freshDf, dir, maxBucket = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq == got)
    val capDir = graft.core.TempDir("hamcap").toString
    Seq((0, 0L, 8000000L)).toDF("band", "bval", "n")
      .write.parquet(s"$capDir/bsize")
    // the width is the sigs schema's: an empty 64-bit signature table
    Seq.empty[(Long, Long)].toDF("doc_id", "packed")
      .write.parquet(s"$capDir/sigs")
    assert(Dedup.deriveHammingCap(spark, capDir) == 310) // 10·ceil(2M/65536)
    // streaming twin ≡ batch on the same index
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = graft.streaming.Streams.hammingIntake(spark,
        mem.toDF().toDF("doc_id", "packed"), dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("hamintake").start()
    mem.addData(fresh.toIndexedSeq: _*)
    q.processAllAvailable()
    val streamed = spark.sql("SELECT * FROM hamintake")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    q.stop()
    assert(streamed == got)
  }

  test("hamming index lifecycle: routed files, compaction idempotent, intake bit-equal") {
    import spark.implicits._
    def fam(base: Long, n: Int, off: Long) =
      Seq.tabulate(n)(i => ((off + i).toLong, base ^ (i % 4).toLong))
    val seen = (fam(0x1234567812345678L, 8, 0) ++
      fam(0x0F0F00FF11223344L, 8, 100)).toDF("doc_id", "packed")
    val fresh = Seq((900L, 0x1234567812345679L),
      (901L, 0x0F0F00FF11223347L)).toDF("doc_id", "packed")
    val dir = graft.core.TempDir("hamlife").toString
    def sigFiles = new java.io.File(s"$dir/sigs").listFiles()
      .count(_.getName.endsWith(".parquet"))
    // fresh build routes to the configured shuffle width (4 here) —
    // bounded regardless of the input's partitioning
    Dedup.writeHammingIndex(spark, seen.repartition(8), dir)
    val built = sigFiles
    assert(built <= 4, s"fresh build not routed: $built files")
    // the census is ONE file (every intake reads it whole)
    assert(new java.io.File(s"$dir/bsize").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    // 10 crawl appends: ~one routed file each (AQE coalesces the
    // increment-bounded doc_id shuffle), never one per upstream task
    for (a <- 0 until 10)
      Dedup.appendHammingIndex(spark,
        fam(0x7777000012121212L ^ (a.toLong << 8), 4, 1000 + a * 10)
          .toDF("doc_id", "packed").repartition(8), dir)
    val fragged = sigFiles
    assert(fragged > 4 && fragged <= built + 10,
      s"appends not routed: $built -> $fragged files")
    def intake = Dedup.hammingIntake(spark, fresh, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val before = intake
    assert(before.nonEmpty)
    // compaction: listing-driven, rewrites once at ≤ maxFiles width,
    // intake bit-equal, second call a no-op (idempotent)
    assert(Dedup.compactHammingIndex(spark, dir, maxFiles = 4)
      == fragged.toLong)
    assert(sigFiles <= 4, s"compaction left $sigFiles files")
    assert(intake == before)
    assert(Dedup.compactHammingIndex(spark, dir, maxFiles = 4) == 0L)
    // census untouched by compaction: rows are bit-preserved
    assert(spark.read.parquet(s"$dir/bsize").agg(sum(col("n"))).head()
      .getLong(0) == (16 + 40) * 4)
  }

  test("hammingNearDup default cap at 64 bits: census-derived, recovers pairs the fixed cap lost") {
    // 70,000 signatures → deriveHammingCap's rule lands at
    // 10·ceil(70000/65536) = 20; a planted 15-member family (base ^
    // low-2-bit noise) fills its band-1..3 buckets with exactly 15
    // members — ABOVE the old fixed default (10), below the derived
    // cap. At cap 10 only within-(i%4)-subgroup pairs survive through
    // band 0's split sub-buckets (the round-11 saturation finding in
    // miniature); the DEFAULT (derived) keeps all C(15,2) = 105.
    val bg = spark.range(0, 69985).select(col("id").as("doc_id"),
      expr("CAST(conv(substring(md5(CAST(id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
        .as("packed"))
    val fam = spark.range(0, 15).select((col("id") + 900000L).as("doc_id"),
      expr(s"${0x3C3C5A5A77881122L}L ^ (id % 4)").as("packed"))
    val packedDf = bg.unionByName(fam)
    def run(cap: Int) = Dedup.hammingNearDup(spark, packedDf, maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val derived = Dedup.hammingNearDup(spark, packedDf) // DEFAULT = derive
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // derived ≡ the well-chosen manual cap the formula prescribes
    assert(derived == run(20))
    // bucket keep-set grows monotonically with the cap → pair subset
    val fixed10 = run(10)
    assert(fixed10.subsetOf(derived))
    def planted(s: Set[(Long, Long, Long)]) = s.count(_._1 >= 900000L)
    assert(planted(derived) == 105) // all C(15,2) pairs, Hamming ≤ 2
    assert(planted(fixed10) == 21)  // within-subgroup only: 3·C(4,2) + C(3,2)
  }

  test("hammingNearDup at 128 bits: brute-force-equal at dist ≤ 3, derived cap, lanes extend simhash64") {
    import spark.implicits._
    graft.functions.Functions.registerAll(spark)
    // lane identity: simhash128's lanes 0–3 are simhash64's exactly
    // (same md5 bytes), so the 128-bit signature EXTENDS the 64-bit
    // one rather than rehashing it
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"), (3L, ""))
      .toDF("doc_id", "text")
    docs.selectExpr("simhash64(text) AS s64", "simhash128(text) AS s128")
      .collect().foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1).take(4))
        assert(r.getSeq[Long](1).length == 8)
      }

    // planted fixture: md5-random background (120 effective bits — no
    // accidental dist ≤ 3 pairs), a 6-member family at pairwise lo
    // distance ≤ 2, and a 40-copy degenerate signature (the
    // solid-color bucket: 40 > derived cap 10 in all four bands)
    val bg = spark.range(0, 2000).select(col("id").as("doc_id"),
      expr("CAST(conv(substring(md5(CAST(id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
        .as("lo"),
      expr("CAST(conv(substring(md5(CAST(id AS STRING)), 17, 15), 16, 10) AS BIGINT)")
        .as("hi"))
    val fam = spark.range(0, 6).select((col("id") + 90000L).as("doc_id"),
      expr(s"${0x1122334455667788L}L ^ (id % 4)").as("lo"),
      lit(0x0123456789abcdefL).as("hi"))
    val deg = spark.range(0, 40).select((col("id") + 95000L).as("doc_id"),
      lit(0x4242L).as("lo"), lit(0x4242L).as("hi"))
    val packed = bg.unionByName(fam).unionByName(deg)

    val got = Dedup.hammingNearDup(spark, packed) // DEFAULT derived cap
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // brute-force truth on the driver (2046 rows), minus the capped
    // degenerate family — banding must find EVERY under-cap pair at
    // dist ≤ 3 (4-band/32-bit pigeonhole), and nothing else survives
    // the exact verify
    val rows = packed.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val truth = (for {
      i <- rows.indices.iterator
      j <- (i + 1) until rows.length
      d = java.lang.Long.bitCount(rows(i)._2 ^ rows(j)._2) +
        java.lang.Long.bitCount(rows(i)._3 ^ rows(j)._3)
      if d <= 3
      if !(rows(i)._2 == 0x4242L && rows(i)._3 == 0x4242L &&
        rows(j)._2 == 0x4242L && rows(j)._3 == 0x4242L)
      a = math.min(rows(i)._1, rows(j)._1)
      b = math.max(rows(i)._1, rows(j)._1)
    } yield (a, b, d.toLong)).toSet
    assert(got == truth)
    assert(got.count(_._1 >= 90000L) == 15) // all C(6,2) planted pairs
    // derived default ≡ the explicit cap its rule prescribes
    // (n = 2046 → greatest(10, 10·ceil(n/2³²)) = 10)
    val explicit = Dedup.hammingNearDup(spark, packed, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(explicit == got)
    // cap drop observable, same contract as the 64-bit form
    val obs = new org.apache.spark.sql.Observation()
    Dedup.hammingNearDup(spark, packed, capMetrics = Some(obs)).count()
    assert(obs.get("dropped_buckets").asInstanceOf[Long] == 4L) // deg × 4 bands
  }

  test("hamming128 index lifecycle: partial census sums true, compaction folds, intake ≡ brute force, admit verdicts") {
    import spark.implicits._
    // the 128-bit hammingNearDup fixture shapes: md5-random background (120
    // effective bits), a 6-member family at pairwise lo-distance ≤ 2,
    // and a 40-copy degenerate signature (over the derived cap 10 in
    // all four bands)
    val bg = spark.range(0, 2000).select(col("id").as("doc_id"),
      expr("CAST(conv(substring(md5(CAST(id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
        .as("lo"),
      expr("CAST(conv(substring(md5(CAST(id AS STRING)), 17, 15), 16, 10) AS BIGINT)")
        .as("hi"))
    val fam = spark.range(0, 6).select((col("id") + 90000L).as("doc_id"),
      expr(s"${0x1122334455667788L}L ^ (id % 4)").as("lo"),
      lit(0x0123456789abcdefL).as("hi"))
    val deg = spark.range(0, 40).select((col("id") + 95000L).as("doc_id"),
      lit(0x4242L).as("lo"), lit(0x4242L).as("hi"))
    val seen = bg.unionByName(fam).unionByName(deg)
    val fresh = Seq(
      (900L, 0x1122334455667789L, 0x0123456789abcdefL), // dist 1 of family
      (901L, 0x4242L, 0x4240L),                         // near DEGENERATE → capped
      (902L, 0x5a5a5a5a5a5a5a5aL, 0x5a5a5a5a5a5a5a5aL)) // far → nothing
      .toDF("doc_id", "lo", "hi")

    // build = write(half) + append(half): the census PARTIALS from two
    // generations must SUM to the true bucket sizes (the
    // aggregate-on-read contract), and verdicts must equal a one-shot
    // build on the union
    val dir = graft.core.TempDir("ham128").toString
    val dirAll = graft.core.TempDir("ham128all").toString
    Dedup.writeHammingIndex(spark, seen.filter(col("doc_id") % 2 === 0), dir)
    Dedup.appendHammingIndex(spark, seen.filter(col("doc_id") % 2 =!= 0), dir)
    Dedup.writeHammingIndex(spark, seen, dirAll)
    def census(p: String) = spark.read.parquet(s"$p/bsize")
      .groupBy(col("band"), col("bval")).agg(sum(col("n")).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(census(dir) == census(dirAll))
    def intake(p: String) = Dedup.hammingIntake(spark, fresh, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val got = intake(dir)
    assert(got == intake(dirAll))

    // brute-force truth: fresh × seen pairs at combined distance ≤ 3,
    // excluding the over-cap degenerate bucket's members
    val freshRows = Seq((900L, 0x1122334455667789L, 0x0123456789abcdefL),
      (901L, 0x4242L, 0x4240L), (902L, 0x5a5a5a5a5a5a5a5aL, 0x5a5a5a5a5a5a5a5aL))
    val seenRows = seen.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = (for {
      (a, la, ha) <- freshRows
      (b, lb, hb) <- seenRows
      if !(lb == 0x4242L && hb == 0x4242L) // capped bucket contributes nothing
      d = java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb)
      if d <= 3
    } yield (a, b, d.toLong)).sorted.toSeq
    assert(got == want && got.nonEmpty)
    assert(got.forall(_._1 == 900L)) // only the family probe pairs
    assert(Dedup.deriveHammingCap(spark, dir) == 10) // floor governs

    // crash recovery: a sigs-append that died before its census append
    // leaves bsize undercounted — rebuild recounts from sigs
    val stale = spark.read.parquet(s"$dirAll/bsize")
      .filter(col("bval") =!= lit(0x4242L)) // drop some buckets
    stale.write.mode("overwrite").parquet(s"$dir/bsize.stale")
    spark.read.parquet(s"$dir/bsize.stale").write.mode("overwrite")
      .parquet(s"$dir/bsize")
    assert(census(dir) != census(dirAll)) // desynchronized
    Dedup.rebuildHammingCensus(spark, dir)
    assert(census(dir) == census(dirAll)) // repaired

    // compaction folds BOTH tables once file listings exceed maxFiles:
    // sigs rewrite at ≤ maxFiles width, census partials folded to one
    // row per bucket — content identical under the read contract,
    // intake bit-equal, second call a no-op
    for (a <- 0 until 6)
      Dedup.appendHammingIndex(spark,
        Seq((5000L + a, 0x1000L + a * 16, 0x2000L)).toDF("doc_id", "lo", "hi"),
        dir)
    def files(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files("sigs") > 4 && files("bsize") > 4)
    val preCensus = census(dir)
    val preIntake = intake(dir)
    assert(Dedup.compactHammingIndex(spark, dir, maxFiles = 4) > 0L)
    assert(files("sigs") <= 4 && files("bsize") <= 4,
      s"compaction left ${files("sigs")}/${files("bsize")} files")
    assert(census(dir) == preCensus)
    assert(intake(dir) == preIntake)
    assert(Dedup.compactHammingIndex(spark, dir, maxFiles = 4) == 0L)

    // admission verdicts: intra-increment exact dup keeps the min id,
    // near-dup of the index rejects, fresh (and capped-bucket-only)
    // arrivals admit, null signatures drop
    val arrivals = Seq(
      (900L, Some(0x1122334455667789L), Some(0x0123456789abcdefL)), // near family → reject
      (902L, Some(0x5a5a5a5a5a5a5a5aL), Some(0x5a5a5a5a5a5a5a5aL)), // fresh → admit
      (903L, Some(0x5a5a5a5a5a5a5a5aL), Some(0x5a5a5a5a5a5a5a5aL)), // intra-dup → drop (902 wins)
      (904L, Some(0x9999L), Option.empty[Long]))                    // null → drop
      .toDF("doc_id", "lo", "hi")
    val admitted = Dedup.hammingIntakeAdmit(spark, arrivals, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(902L), s"admitted $admitted")

    // the 4-band pigeonhole guard: maxDist > 3 is a loud error on every
    // 4-band entry point, never a silent recall hole
    for (bad <- Seq(4, 7)) {
      intercept[IllegalArgumentException](
        Dedup.hammingNearDup(spark, fresh.select(col("doc_id"),
          col("lo").as("packed")), maxDist = bad))
      intercept[IllegalArgumentException](
        Dedup.hammingNearDup(spark, fresh, maxDist = bad))
      intercept[IllegalArgumentException](
        Dedup.hammingIntake(spark, fresh, dir, maxDist = bad))
    }
  }

  test("image hash index: resized copy of an indexed image pairs at intake, junk drops") {
    import spark.implicits._
    // reuse MultimodalSpec's pattern approach inline: indexed corpus =
    // three distinct smooth gradients; intake = a box-resized copy of
    // one + an undecodable payload
    def gray(w: Int, h: Int)(v: (Int, Int) => Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val g = math.max(0, math.min(255, v(x, y)))
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      img
    }
    def pat(w: Int, h: Int, fx: Double, fy: Double, ph: Double) =
      gray(w, h)((x, y) => (127.5 * (1 + math.sin(2 * math.Pi *
        ((x + 0.5) / w * fx + (y + 0.5) / h * fy) + ph))).round.toInt)
    def enc(img: java.awt.image.BufferedImage) = {
      val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", b)
      b.toByteArray
    }
    def resize(img: java.awt.image.BufferedImage, tw: Int, th: Int) =
      gray(tw, th) { (tx, ty) =>
        val (x0, x1) = (tx * img.getWidth / tw,
          math.max(tx * img.getWidth / tw + 1, (tx + 1) * img.getWidth / tw))
        val (y0, y1) = (ty * img.getHeight / th,
          math.max(ty * img.getHeight / th + 1, (ty + 1) * img.getHeight / th))
        var acc = 0L; var n = 0
        for (y <- y0 until y1; x <- x0 until x1) {
          acc += img.getRGB(x, y) & 0xff; n += 1
        }
        (acc.toDouble / n).round.toInt
      }
    val shapes = Seq((1.0, 0.0, 0.0), (2.0, 1.0, 1.1), (1.0, 2.0, 2.2))
    val corpus = shapes.zipWithIndex.map { case ((fx, fy, ph), i) =>
      (i.toLong, enc(pat(64, 64, fx, fy, ph)))
    }.toDF("media_id", "payload")
    val dir = graft.core.TempDir("imgidx").toString
    graft.multimodal.Multimodal.writeImageHashIndex(spark, corpus, dir)
    val arrivals = Seq(
      (100L, enc(resize(pat(64, 64, 2.0, 1.0, 1.1), 48, 48))),
      (101L, "not an image at all".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val pairs = graft.multimodal.Multimodal.imageDupIntake(spark,
        arrivals, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 1L)), s"resized copy must pair: $pairs")
    assert(pairs.forall(_._2 == 1L), s"no cross-pattern pair: $pairs")
    assert(!pairs.exists(_._1 == 101L))
  }

  test("knnGraph: planted twins are mutual top-1 at cosine 1.0; ranks bounded in-cluster") {
    import spark.implicits._
    val e = emb(Seq.tabulate(40) { i =>
      // ids 0 and 1 are identical vectors — must be each other's top-1
      val j = if (i == 1) 0 else i
      (i.toLong, Seq.tabulate(64)(d => (((j * 13 + d * 5) % 19) - 9) / 9f))
    })
    val g = Similarity.knnGraph(spark, e, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    val byA = g.groupBy(_._1)
    byA.foreach { case (_, rows) =>
      assert(rows.length <= 3)
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq)
    }
    assert(byA(0L).find(_._2 == 1L).get._3 == 1L)
    assert(byA(1L).find(_._2 == 1L).get._3 == 0L)
    assert(byA(0L).find(_._2 == 1L).get._4 == 1.0)
  }

  test("labelBalance: single-label source collapses to entropy 0, uniform source to ln k") {
    import spark.implicits._
    val docs = (Seq.tabulate(8)(i => (i.toLong, "some text", "mono")) ++
      Seq.tabulate(8)(i => (8L + i, "some text", "uniform")))
      .toDF("doc_id", "text", "source")
    val labels = (Seq.tabulate(8)(i => (i.toLong, 7)) ++
      Seq.tabulate(8)(i => (8L + i, i % 4))).toDF("doc_id", "label")
    val out = Corpus.labelBalance(docs, labels).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("mono") == ((8L, 1L, 1.0, 0.0)))
    val (n, k, maj, h) = out("uniform")
    assert((n, k, maj) == ((8L, 4L, 0.25)))
    assert(math.abs(h - math.log(4)) < 1e-6, s"entropy $h != ln 4")
  }

  test("compactHammingIndex(128): between-renames crash self-heals on the next call") {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    def crash(dir: String, sub: String): Unit = {
      // simulate dying after rename 1 of 2: live → .old, no tmp swap
      val live = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      val old = new org.apache.hadoop.fs.Path(graft.core.Commit.old(s"$dir/$sub"))
      val fs = live.getFileSystem(hconf)
      assert(fs.rename(live, old))
    }
    // one compaction serves both tables at both widths, so each input
    // crashes its arms between the renames and must heal on the next
    // call with bit-equal intake results
    val sigs64 = Seq((1L, 0x1111L), (2L, 0x2222L)).toDF("doc_id", "packed")
    val probe64 = Seq((9L, 0x1111L)).toDF("doc_id", "packed")
    val sigs128 = Seq((1L, 0x11L, 0x22L), (2L, 0x33L, 0x44L))
      .toDF("doc_id", "lo", "hi")
    val probe128 = Seq((9L, 0x11L, 0x22L)).toDF("doc_id", "lo", "hi")
    for ((name, sigs, probe, arms) <- Seq(
        ("hamheal", sigs64, probe64, Seq("sigs")),
        ("hamheal64census", sigs64, probe64, Seq("bsize")),
        ("hamheal128", sigs128, probe128, Seq("sigs", "bsize")))) {
      val dir = graft.core.TempDir(name).toString
      graft.ext.Dedup.writeHammingIndex(spark, sigs, dir)
      def intake = graft.ext.Dedup.hammingIntake(spark, probe, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val before = intake
      assert(before.map(_._2) == Seq(1L), name)
      arms.foreach(crash(dir, _))
      assert(graft.ext.Dedup.compactHammingIndex(spark, dir,
        maxFiles = 64) == 0L, name)
      for (sub <- arms) {
        assert(new java.io.File(s"$dir/$sub").isDirectory, s"$name/$sub")
        assert(!new java.io.File(graft.core.Commit.old(s"$dir/$sub")).exists, s"$name/$sub")
      }
      assert(intake == before, name)
    }
  }

  test("hamming width from the schema: mismatched increments and ambiguous frames throw before any write") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val d64 = graft.core.TempDir("hamwidth64").toString
    Dedup.writeHammingIndex(spark,
      Seq((1L, 0x1111L), (2L, 0x2222L)).toDF("doc_id", "packed"), d64)
    val d128 = graft.core.TempDir("hamwidth128").toString
    Dedup.writeHammingIndex(spark,
      Seq((1L, 0x11L, 0x22L)).toDF("doc_id", "lo", "hi"), d128)
    def listing(dir: String) = Seq("sigs", "bsize").map(sub =>
      new java.io.File(s"$dir/$sub").listFiles()
        .map(f => (f.getName, f.length)).sorted.toSeq)
    val inc64 = Seq((9L, 0x1111L)).toDF("doc_id", "packed")
    val inc128 = Seq((9L, 0x11L, 0x22L)).toDF("doc_id", "lo", "hi")
    def bothWidths(e: IllegalArgumentException) =
      assert(e.getMessage.contains("64-bit") && e.getMessage.contains("128-bit"),
        e.getMessage)
    // 64-bit index + 128-bit append: throws naming both widths, and
    // neither table's listing changes
    val before64 = listing(d64)
    bothWidths(intercept[IllegalArgumentException](
      Dedup.appendHammingIndex(spark, inc128, d64)))
    assert(listing(d64) == before64)
    // 128-bit index + 64-bit increment: every intake form throws
    val before128 = listing(d128)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val stream64 = mem.toDF().toDF("doc_id", "ts", "packed")
    for (call <- Seq[() => Any](
        () => Dedup.hammingIntake(spark, inc64, d128),
        () => Dedup.hammingIntakeAdmit(spark, inc64, d128),
        () => Dedup.appendHammingIndex(spark, inc64, d128),
        () => graft.streaming.Streams.hammingIntake(spark,
          stream64.select("doc_id", "packed"), d128),
        () => graft.streaming.Streams.hammingIntakeAdmit(spark, stream64, d128)))
      bothWidths(intercept[IllegalArgumentException](call()))
    assert(listing(d128) == before128)
    // a frame with neither column set, half of one, or both throws
    // naming its columns — on the near-dup, build and intake forms
    val empty = graft.core.TempDir("hamwidthbad").toString
    for (bad <- Seq(Seq((1L, 2L)).toDF("doc_id", "sig"),
        Seq((1L, 2L)).toDF("doc_id", "lo"),
        Seq((1L, 2L, 3L, 4L)).toDF("doc_id", "packed", "lo", "hi"))) {
      val cols = bad.columns.mkString("[", ", ", "]")
      for (call <- Seq[() => Any](
          () => Dedup.hammingNearDup(spark, bad),
          () => Dedup.writeHammingIndex(spark, bad, empty),
          () => Dedup.hammingIntake(spark, bad, d64))) {
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains(cols), e.getMessage)
      }
    }
    assert(new java.io.File(empty).list().isEmpty)
  }

  test("dedupCorpusWinnowTracked ≡ untracked; release frees the survivor cache") {
    import spark.implicits._
    // planted near-dups + exact dups so every stage has work
    val base = "the quick brown fox jumps over the lazy dog and then some more words follow here to make twenty plus"
    val docs = (0 until 40).map { i =>
      val t = if (i % 4 == 0) base + " shared tail one two three"
        else if (i % 4 == 1) base + " shared tail one two four"
        else s"unique document $i " + Seq.tabulate(25)(j => s"w$i-$j").mkString(" ")
      (i.toLong, t)
    }.toDF("doc_id", "text")
    val plain = Dedup.dedupCorpusWinnow(spark, docs, maxDf = 30)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (out, release) = Dedup.dedupCorpusWinnowTracked(spark, docs, maxDf = 30)
    val tracked = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tracked == plain)
    release()
    // the survivor cache and the candidate checkpoint are both gone;
    // verify's internal candidate-bounded checkpoint may remain (RDD
    // GC by documented design, as in the incremental form)
    val leftover = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leftover.size <= 1, s"tracked release left blocks: $leftover")
  }

  test("dedupIncrementalWinnow: recall floor vs the persisted index, seen text untouched") {
    import spark.implicits._
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango"
    val seen = Seq((1L, base), (2L, "completely different seen content " +
      "uniform victor whiskey xray yankee zulu one two three four five six"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (30L, base),                         // exact dup → exact stage drops it
      (31L, base + " appended"),           // near-dup sharing a long run → winnow collides, jaccard ≥ 0.7
      (32L, "novel text nothing shared " + // novel → survives
        "seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen"))
      .toDF("doc_id", "text")
    // the snapshot deliberately carries NO text column — surviving the
    // call proves the increment never reads seen text
    val snap = Dedup.winnowSnapshot(spark, seen).localCheckpoint(true)
    assert(!snap.columns.contains("text"))
    val kept = Dedup.dedupIncrementalWinnow(spark, fresh, snap)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(32L), s"got $kept")
  }

  test("dedupIncrementalWinnowIndexed == the in-memory recount form, seen side only scanned") {
    import spark.implicits._
    // a corpus with planted structure: exact dups, long-run near-dups,
    // boilerplate (a fingerprint shared by MANY seen docs — the df cap
    // must behave identically through the persisted fpdf table), novel
    val mkText = (i: Int) => s"alpha bravo charlie delta echo " +
      s"w${i} x${i * 7 % 13} y${i * 11 % 17} z${i * 3 % 5} " +
      s"kilo lima mike november oscar papa quebec"
    val seen = Seq.tabulate(60)(i => (i.toLong, mkText(i))).toDF("doc_id", "text")
    val fresh = (Seq.tabulate(10)(i => ((100 + i).toLong, mkText(i * 2))) ++
      Seq((200L, mkText(3) + " tail"), (201L, "totally novel content here " +
        "one two three four five six seven eight nine ten eleven")))
      .toDF("doc_id", "text")
    val want = Dedup.dedupIncrementalWinnow(spark, fresh,
        Dedup.winnowSnapshot(spark, seen).localCheckpoint(true))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dir = graft.core.TempDir("winidx").toString
    Dedup.writeWinnowIndex(spark, seen, dir)
    val got = Dedup.dedupIncrementalWinnowIndexed(spark, fresh, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"indexed $got != recount $want")
    assert(got.contains(201L)) // novel survives on both paths
    // join-order discipline: the posting join must hold the broadcast
    // hint on the NEW side — the one O(seen) shuffle the in-memory form
    // pays that this variant must not (plan-level: the `fp`-keyed join
    // of `postings` carries a broadcast build side, so the posting scan
    // streams). The remaining exchanges act on increment- or
    // match-bounded tables (new-side distincts, candidate aggregate,
    // verify joins) — textual per-key asserts can't separate those from
    // seen-side shuffles because the unchecked-pointed increment
    // subtree replicates across branches; the decisive evidence is
    // the 10M-index decade measured by a since-retired scale probe
    // (recount form 70.1s/increment; see Dedup.writeWinnowIndex).
    val plan = Dedup.dedupIncrementalWinnowIndexed(spark, fresh, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("winnow index persists (k, w): non-default params round-trip through meta") {
    import spark.implicits._
    val mkText = (i: Int) => s"alpha bravo charlie delta echo " +
      s"w${i} x${i * 7 % 13} y${i * 11 % 17} z${i * 3 % 5} " +
      s"kilo lima mike november oscar papa quebec"
    val seen = Seq.tabulate(60)(i => (i.toLong, mkText(i))).toDF("doc_id", "text")
    val fresh = (Seq.tabulate(10)(i => ((100 + i).toLong, mkText(i * 2))) ++
      Seq((200L, mkText(3) + " tail"), (201L, "totally novel content here " +
        "one two three four five six seven eight nine ten eleven")))
      .toDF("doc_id", "text")
    // build at (k=2, w=3): the increment must fingerprint the new side
    // at the INDEX's params (read from path/meta), not the historical
    // (3, 4) default — a mismatch silently keeps near-duplicates
    val dir = graft.core.TempDir("winidxkw").toString
    Dedup.writeWinnowIndex(spark, seen, dir, k = 2, w = 3)
    assert(Dedup.readWinnowIndexParams(spark, dir) == ((2, 3)))
    val want = Dedup.dedupIncrementalWinnow(spark, fresh,
        Dedup.winnowSnapshot(spark, seen, k = 2, w = 3).localCheckpoint(true),
        k = 2, w = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = Dedup.dedupIncrementalWinnowIndexed(spark, fresh, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"indexed $got != recount-at-(2,3) $want")
    // a missing meta table (pre-meta index) falls back to (3, 4)
    val bare = graft.core.TempDir("winidxbare").toString
    assert(Dedup.readWinnowIndexParams(spark, bare) == ((3, 4)))
  }

  test("mergeWinnowIndexes: merged shard indexes ≡ index built on the union") {
    import spark.implicits._
    val mkText = (i: Int) => s"alpha bravo charlie delta echo " +
      s"w${i} x${i * 7 % 13} y${i * 11 % 17} z${i * 3 % 5} " +
      s"kilo lima mike november oscar papa quebec"
    val seen = Seq.tabulate(60)(i => (i.toLong, mkText(i))).toDF("doc_id", "text")
    val fresh = (Seq.tabulate(10)(i => ((100 + i).toLong, mkText(i * 2))) ++
      Seq((200L, mkText(3) + " tail"), (201L, "totally novel content here " +
        "one two three four five six seven eight nine ten eleven")))
      .toDF("doc_id", "text")
    val root = graft.core.TempDir("winmerge").toString
    // disjoint shards (odd/even), then the metadata-scale merge
    Dedup.writeWinnowIndex(spark, seen.filter(col("doc_id") % 2 === 0), s"$root/a")
    Dedup.writeWinnowIndex(spark, seen.filter(col("doc_id") % 2 =!= 0), s"$root/b")
    Dedup.mergeWinnowIndexes(spark, s"$root/a", s"$root/b", s"$root/m")
    Dedup.writeWinnowIndex(spark, seen, s"$root/full")
    // the merged fpdf is the union index's fpdf, row for row (the df
    // cap therefore behaves identically on any increment)
    def fpdf(p: String) = spark.read.parquet(s"$p/fpdf")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fpdf(s"$root/m") == fpdf(s"$root/full"))
    // increment verdicts bit-equal
    def verdict(p: String) = Dedup.dedupIncrementalWinnowIndexed(spark, fresh, p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(verdict(s"$root/m") == verdict(s"$root/full"))
    assert(verdict(s"$root/m").contains(201L))
    // mismatched (k, w) indexes refuse to merge
    Dedup.writeWinnowIndex(spark, seen.filter(col("doc_id") % 2 === 0),
      s"$root/kw", k = 2, w = 3)
    val e = intercept[IllegalArgumentException] {
      Dedup.mergeWinnowIndexes(spark, s"$root/kw", s"$root/b", s"$root/x")
    }
    assert(e.getMessage.contains("param mismatch"))
  }

  test("mergeWinnowIndexes pruneDf: pruned ≡ unpruned on increment verdicts; tombstones keep chained merges sound") {
    import spark.implicits._
    val mkText = (i: Int) => s"alpha bravo charlie delta echo " +
      s"w${i} x${i * 7 % 13} y${i * 11 % 17} z${i * 3 % 5} " +
      s"kilo lima mike november oscar papa quebec"
    val seen = Seq.tabulate(60)(i => (i.toLong, mkText(i))).toDF("doc_id", "text")
    val fresh = (Seq.tabulate(10)(i => ((100 + i).toLong, mkText(i * 2))) ++
      Seq((200L, mkText(3) + " tail"), (201L, "totally novel content here " +
        "one two three four five six seven eight nine ten eleven")))
      .toDF("doc_id", "text")
    val root = graft.core.TempDir("winprune").toString
    val maxDf = 10
    Dedup.writeWinnowIndex(spark, seen.filter(col("doc_id") % 2 === 0), s"$root/a")
    Dedup.writeWinnowIndex(spark, seen.filter(col("doc_id") % 2 =!= 0), s"$root/b")
    Dedup.mergeWinnowIndexes(spark, s"$root/a", s"$root/b", s"$root/m")
    // the prune branch checkpoints the merged fpdf (referenced by both
    // the fpdf and pruned writes) — its blocks must release before the
    // method returns, not pin distinct-fp-sized storage for the session
    val beforeBlocks = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.mergeWinnowIndexes(spark, s"$root/a", s"$root/b", s"$root/mp",
      pruneDf = maxDf)
    val leakedBlocks = spark.sparkContext.getPersistentRDDs.keySet -- beforeBlocks
    assert(leakedBlocks.isEmpty, s"pruned merge leaked blocks: $leakedBlocks")
    // the boilerplate fps (every doc shares the alpha..quebec frame)
    // actually pruned something, and meta records the cap
    val nFull = spark.read.parquet(s"$root/m/fpdf").count()
    val nPruned = spark.read.parquet(s"$root/mp/fpdf").count()
    assert(nPruned < nFull, s"pruned $nPruned !< full $nFull")
    assert(Dedup.readWinnowPruneDf(spark, s"$root/mp") == maxDf)
    assert(Dedup.readWinnowPruneDf(spark, s"$root/m") == Int.MaxValue)
    // pruned rows are exactly the over-cap ones
    assert(spark.read.parquet(s"$root/mp/fpdf")
      .filter(col("df") > maxDf).count() == 0)
    // increment verdicts bit-equal at maxDf ≤ pruneDf
    def verdict(p: String) = Dedup.dedupIncrementalWinnowIndexed(
        spark, fresh, p, maxDf = maxDf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(verdict(s"$root/mp") == verdict(s"$root/m"))
    // a looser maxDf than the prune cap refuses loudly (batch + stream)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.dedupIncrementalWinnowIndexed(spark, fresh, s"$root/mp",
        maxDf = maxDf + 1)
    }
    assert(e1.getMessage.contains("prune cap"))
    val e2 = intercept[IllegalArgumentException] {
      graft.streaming.Streams.winnowDedup(spark,
        fresh.withColumn("ts", current_timestamp()), s"$root/mp",
        maxDf = maxDf + 1)
    }
    assert(e2.getMessage.contains("prune cap"))
    // CHAINED merge: (a+b pruned) + c must equal (a+b+c one-pass,
    // pruned) on increments — the tombstones stop a boilerplate fp
    // (pruned from mp, present in c with a small df) from
    // re-activating with an undercounted sum
    val extra = Seq.tabulate(20)(i => ((300 + i).toLong, mkText(i * 3)))
      .toDF("doc_id", "text")
    Dedup.writeWinnowIndex(spark, extra, s"$root/c")
    Dedup.mergeWinnowIndexes(spark, s"$root/mp", s"$root/c", s"$root/mpc")
    // one-pass reference over the union, pruned at the same cap
    Dedup.writeWinnowIndex(spark, seen.unionByName(extra), s"$root/abc1")
    Dedup.writeWinnowIndex(spark, seen.limit(0), s"$root/empty")
    Dedup.mergeWinnowIndexes(spark, s"$root/abc1", s"$root/empty",
      s"$root/abcp", pruneDf = maxDf)
    // the chained merge inherits the tightest cap automatically
    assert(Dedup.readWinnowPruneDf(spark, s"$root/mpc") == maxDf)
    assert(verdict(s"$root/mpc") == verdict(s"$root/abcp"))
    // active fp sets agree exactly (not just verdicts on this fixture)
    def activeFps(p: String) = spark.read.parquet(s"$p/fpdf")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(activeFps(s"$root/mpc") == activeFps(s"$root/abcp"))
  }

  test("histQuantiles: edge semantics, one-bin-width error bound, range clamping") {
    import spark.implicits._
    // group a: 100 values 0.0, 0.1, ..., 9.9 → with width 0.5 the p50
    // edge is the smallest bin edge covering rank 50 (value 4.9 → bin 9
    // → edge 5.0); group b: constants land in one bin; group c: values
    // outside [lo, lo+bins·w) clamp to the boundary bins
    val df = (Seq.tabulate(100)(i => ("a", i / 10.0)) ++
      Seq.fill(10)(("b", 2.2)) ++ Seq(("c", -5.0), ("c", 1e9)))
      .toDF("g", "v")
    val out = Corpus.histQuantiles(df, col("v"), "g",
        lo = 0.0, width = 0.5, bins = 16, ps = Seq(50, 99)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    assert(out("a") == ((100L, 5.0, 8.0)),
      s"a: ${out("a")}") // true p50=4.9→edge 5.0; p99=9.8→bin 16 clamped →edge 8.0
    assert(out("b") == ((10L, 2.5, 2.5))) // one bin: every quantile = its edge
    assert(out("c") == ((2L, 0.5, 8.0))) // clamped to first/last bins
    // error bound: each reported edge is within one width above the
    // true quantile for in-range data
    assert(out("a")._2 - 4.9 <= 0.5 + 1e-9)
  }

  test("clusterCap census: contiguous in-cluster ranks, cap respected, all rows kept") {
    val e = emb(Seq.tabulate(120) { i =>
      (i.toLong, Seq.tabulate(64)(d => (((i * 13 + d * 5) % 19) - 9) / 9f))
    })
    val out = Sampling.clusterCap(spark, e, k = 16, cap = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.length == 120, "census reports every row, kept or not")
    out.groupBy(_._2).foreach { case (_, rows) =>
      val ranks = rows.map(_._3).sorted.toSeq
      assert(ranks == (1L to rows.length).toSeq, "ranks contiguous per cluster")
      // rank order must follow vec_id order within the cluster
      assert(rows.sortBy(_._1).map(_._3).toSeq == rows.map(_._3).sorted.toSeq)
      assert(rows.count(_._4) == math.min(3, rows.length))
      rows.foreach { case (_, _, rk, kept) => assert(kept == (rk <= 3)) }
    }
  }
}
