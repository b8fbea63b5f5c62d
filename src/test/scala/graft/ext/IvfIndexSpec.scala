package graft.ext

import org.apache.spark.sql.functions._

import graft.pumle.SparkSpec

/** Persisted IVF index: bit-equality with the inline path and the
  * partition-pruning contract (unprobed cells never read). */
class IvfIndexSpec extends SparkSpec {

  private def emb = {
    import spark.implicits._
    // 3 clusters along axes of a 4-d space, 8 vectors each
    Seq.tabulate(24) { i =>
      val c = i % 3
      val base = Array(0.05f, 0.05f, 0.05f, 0.05f)
      base(c) = 1.0f + (i / 3) * 0.01f
      (i.toLong, base, c)
    }.toDF("vec_id", "embedding", "label")
  }

  test("ivfTopKIndexed returns exactly what inline ivfTopK returns") {
    val dir = graft.core.TempDir("ivfspec").toString
    val centroids = col("vec_id") < 3 // one seed per cluster
    Similarity.writeIvfIndex(spark, emb, centroids, dir, trainIters = 0)
    val indexed = Similarity.ivfTopKIndexed(spark, dir,
        emb.filter(col("vec_id") % 5 === 0), nProbe = 2, k = 3)
      .orderBy("q_id", "rank").collect().toSeq
    val inline = Similarity.ivfTopK(spark, emb,
        centroidPred = centroids, queryPred = col("vec_id") % 5 === 0,
        nProbe = 2, k = 3)
      .orderBy("q_id", "rank").collect().toSeq
    assert(indexed == inline)
    assert(indexed.nonEmpty)
  }

  test("writeIvfIndexWith(seed vectors) ≡ writeIvfIndex; trainIvfCentroids recenters to cell means") {
    import spark.implicits._
    val dirSeed = graft.core.TempDir("ivfw1").toString
    val dirWith = graft.core.TempDir("ivfw2").toString
    val centroids = col("vec_id") < 3
    Similarity.writeIvfIndex(spark, emb, centroids, dirSeed, trainIters = 0)
    // explicit centers = the same three seed vectors → the written
    // index must search bit-identically (norms recomputed, not copied)
    val seedVecs = emb.filter(centroids)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    Similarity.writeIvfIndexWith(spark, emb, seedVecs, dirWith)
    def search(dir: String) = Similarity.ivfTopKIndexed(spark, dir,
        emb.filter(col("vec_id") % 5 === 0), nProbe = 2, k = 3)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        java.lang.Double.doubleToLongBits(r.getDouble(4)))).toSeq
    assert(search(dirSeed) == search(dirWith) && search(dirSeed).nonEmpty)
    // iters = 0 returns the seeds verbatim
    val zero = Similarity.trainIvfCentroids(spark, emb, centroids, iters = 0)
    assert(zero == seedVecs)
    // one iteration: each centroid moves to the MEAN of the members
    // the engine's own (cosine, id) assignment gives it — on this
    // fixture cluster c's members are exactly {i : i % 3 == c}
    val one = Similarity.trainIvfCentroids(spark, emb, centroids, iters = 1)
    val base = emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    (0 until 3).foreach { c =>
      val members = (0 until 24).filter(_ % 3 == c).map(i => base(i.toLong))
      val mean = (0 until 4).map(d => members.map(_(d)).sum / members.length)
      one.find(_._1 == c.toLong).get._2.zip(mean).foreach { case (got, want) =>
        assert(math.abs(got - want) < 1e-12, s"centroid $c dim mean")
      }
    }
    // a trained index is a normal index: search runs and returns k rows
    val dirTr = graft.core.TempDir("ivfw3").toString
    Similarity.writeIvfIndexWith(spark, emb, one, dirTr)
    assert(search(dirTr).nonEmpty)
  }

  test("probe reads are partition-pruned to the probed cells") {
    val dir = graft.core.TempDir("ivfspec2").toString
    Similarity.writeIvfIndex(spark, emb, col("vec_id") < 3, dir, trainIters = 0)
    // a single query vector probing 1 cell: the assigned scan must carry
    // a centroid_id partition filter (pruned at file-listing time)
    val one = Similarity.ivfTopKIndexed(spark, dir,
      emb.filter(col("vec_id") === 6L), nProbe = 1, k = 2)
    val plan = one.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s+", " ").matches("(?s).*PartitionFilters: \\[[^\\]]*centroid_id.*"),
      s"no centroid_id partition filter in:\n$plan")
    // index layout on disk: one directory per cell
    val cells = new java.io.File(s"$dir/assigned").listFiles()
      .filter(_.getName.startsWith("centroid_id=")).map(_.getName).sorted
    assert(cells.toSeq == Seq("centroid_id=0", "centroid_id=1", "centroid_id=2"))
  }

  test("appendIvfIndex: append == full rebuild (assigned rows and search results)") {
    val dirInc = graft.core.TempDir("ivfappA").toString
    val dirFull = graft.core.TempDir("ivfappB").toString
    val centroids = col("vec_id") < 3
    // incremental: build on the first crawl (centroid seeds + ids < 16),
    // then append the rest in TWO increments (appends must compose)
    Similarity.writeIvfIndex(spark, emb.filter(col("vec_id") < 16), centroids, dirInc, trainIters = 0)
    Similarity.appendIvfIndex(spark,
      emb.filter(col("vec_id") >= 16 && col("vec_id") < 20), dirInc)
    Similarity.appendIvfIndex(spark, emb.filter(col("vec_id") >= 20), dirInc)
    // full rebuild over the merged corpus
    Similarity.writeIvfIndex(spark, emb, centroids, dirFull, trainIters = 0)
    // identical cell assignment, row for row
    def rows(d: String) = spark.read.parquet(s"$d/assigned")
      // partition-column inference reads centroid_id back as INT
      .select(col("n_id"), col("centroid_id").cast("long"), col("vn"), col("nn"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Double](2), r.getDouble(3))).sortBy(_._1).toSeq
    assert(rows(dirInc) == rows(dirFull))
    // bit-equal search results on the merged corpus
    val inc = Similarity.ivfTopKIndexed(spark, dirInc,
        emb.filter(col("vec_id") % 5 === 0), nProbe = 2, k = 3)
      .orderBy("q_id", "rank").collect().toSeq
    val full = Similarity.ivfTopKIndexed(spark, dirFull,
        emb.filter(col("vec_id") % 5 === 0), nProbe = 2, k = 3)
      .orderBy("q_id", "rank").collect().toSeq
    assert(inc == full)
    assert(inc.nonEmpty)
  }

  test("compactIvfIndex: fragmented cells → filesPerCell, untouched cells untouched, search bit-equal") {
    import spark.implicits._
    val dir = graft.core.TempDir("ivfcomp").toString
    Similarity.writeIvfIndex(spark, emb, col("vec_id") < 3, dir, trainIters = 0)
    def files(cell: Long) = new java.io.File(s"$dir/assigned/centroid_id=$cell")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    // the routed build writes exactly ONE file per cell (the
    // cell-routing repartition before the partitioned write — without
    // it every write task opens a writer per cell it touches and a
    // fresh build starts out fragmented), so a fresh index has nothing
    // to compact
    assert(Seq(0L, 1L, 2L).forall(files(_).size == 1))
    assert(Similarity.compactIvfIndex(spark, dir) == 0L)
    val cell1Before = files(1L)
    val cell2Before = files(2L)
    // 10 stacked appends, every vector landing in cell 0 (axis-0 heavy)
    for (i <- 0 until 10) {
      val inc = Seq((1000L + i, Array(1.2f, 0.05f, 0.05f, 0.05f), 0))
        .toDF("vec_id", "embedding", "label")
      Similarity.appendIvfIndex(spark, inc, dir)
    }
    assert(files(0L).size >= 10, s"appends should fragment cell 0: ${files(0L)}")
    val queries = emb.filter(col("vec_id") % 5 === 0)
    val before = Similarity.ivfTopKIndexed(spark, dir, queries, nProbe = 2, k = 3)
      .orderBy("q_id", "rank").collect().toSeq
    // compact: only the fragmented cell is rewritten
    assert(Similarity.compactIvfIndex(spark, dir) == 1L)
    assert(files(0L).size == 1)
    assert(files(1L) == cell1Before && files(2L) == cell2Before,
      "untouched cells must keep their exact files")
    val after = Similarity.ivfTopKIndexed(spark, dir, queries, nProbe = 2, k = 3)
      .orderBy("q_id", "rank").collect().toSeq
    assert(after == before && after.nonEmpty)
    // appended vectors are still present and searchable post-compaction
    val cnt = spark.read.parquet(s"$dir/assigned").count()
    assert(cnt == 24L + 10L)
    // idempotent: nothing left to compact
    assert(Similarity.compactIvfIndex(spark, dir) == 0L)
  }

  test("appendIvfIndex assignment is fully narrow (no shuffle, no join)") {
    val dir = graft.core.TempDir("ivfappN").toString
    Similarity.writeIvfIndex(spark, emb.filter(col("vec_id") < 16),
      col("vec_id") < 3, dir, trainIters = 0)
    // replicate the append's assignment plan (the write itself hides the
    // frame): literal centroid array + array_min argmin over the increment
    graft.functions.Functions.registerAll(spark)
    val cents = spark.read.parquet(s"$dir/centroids")
      .select(col("centroid_id"), col("cv"), col("cn"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val plan = Similarity.withVectors(spark, emb.filter(col("vec_id") >= 16))
      .select(col("vec_id").as("n_id"), col("v").as("vn"), col("nrm").as("nn"))
      .withColumn("cents", typedLit(cents))
      .withColumn("centroid_id", expr(
        """array_min(transform(cents, c ->
          |  struct(-round(dot64(vn, c._2) / (nn * c._3), 4) AS negcos,
          |         c._1 AS cid))).cid""".stripMargin))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("streaming annEnrich replays the batch indexed ranking per arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.core.TempDir("ivfstream").toString
    Similarity.writeIvfIndex(spark, emb, col("vec_id") < 3, dir, trainIters = 0)
    val mem = MemoryStream[(Long, Array[Float])]
    val out = graft.streaming.Streams.annEnrich(spark,
      mem.toDF().toDF("vec_id", "embedding"), dir, nProbe = 2, k = 3)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("annen").start()
    val qvecs = emb.filter(col("vec_id") % 5 === 0)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    mem.addData(qvecs.toIndexedSeq: _*)
    q.processAllAvailable()
    val got = spark.sql("SELECT * FROM annen")
      .orderBy("q_id", "rank").collect().toSeq
    val want = Similarity.ivfTopKIndexed(spark, dir,
        emb.filter(col("vec_id") % 5 === 0), nProbe = 2, k = 3)
      .orderBy("q_id", "rank").collect().toSeq
    assert(got.nonEmpty)
    assert(got == want)
    q.stop()
  }

  test("streaming nearDupIntake ≡ an independent batch reference (arrival × indexed cell, 4-dp cosine)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.core.TempDir("ivfndi").toString
    Similarity.writeIvfIndex(spark, emb, col("vec_id") < 3, dir, trainIters = 0)
    // arrivals: near-copies of indexed vectors (must pair), an
    // orthogonal-ish vector (must not), and an id colliding with an
    // indexed row (self-pair excluded)
    val arrivals = Seq(
      (100L, Array(1.02f, 0.05f, 0.05f, 0.05f)),
      (101L, Array(0.05f, 0.98f, 0.05f, 0.05f)),
      (102L, Array(-1.0f, 1.0f, -1.0f, 1.0f)),
      (0L, Array(1.0f, 0.05f, 0.05f, 0.05f)))
    val mem = MemoryStream[(Long, Array[Float])]
    val out = graft.streaming.Streams.nearDupIntake(spark,
      mem.toDF().toDF("vec_id", "embedding"), dir, threshold = 0.9)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ndintake").start()
    mem.addData(arrivals.toIndexedSeq: _*)
    q.processAllAvailable()
    val got = spark.sql("SELECT * FROM ndintake")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)), r.getLong(4)))
      .sorted.toSeq
    q.stop()
    // independent batch reference: every (arrival, indexed) pair where
    // the INDEX's own centroids put both in the same cell and the 4-dp
    // rounded cosine clears the threshold — written from scratch
    // (crossJoin + window-free argmax over the literal centroid table)
    graft.functions.Functions.registerAll(spark)
    val cents = spark.read.parquet(s"$dir/centroids")
      .select(col("centroid_id"), col("cv"), col("cn"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    def assign(df: org.apache.spark.sql.DataFrame) =
      Similarity.withVectors(spark, df)
        .withColumn("cents", typedLit(cents))
        .withColumn("cell", expr(
          """array_min(transform(cents, c ->
            |  struct(-round(dot64(v, c._2) / (nrm * c._3), 4) AS negcos,
            |         c._1 AS cid))).cid""".stripMargin))
        .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val aRef = assign(arrivals.toDF("vec_id", "embedding"))
      .select(col("vec_id").as("a_id"), col("v").as("va"),
        col("nrm").as("na"), col("cell"))
    val bRef = assign(emb.select("vec_id", "embedding"))
      .select(col("vec_id").as("b_id"), col("v").as("vb"),
        col("nrm").as("nb"), col("cell"))
    val want = aRef.join(bRef, Seq("cell"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cosine", round(expr("dot64(va, vb)") / (col("na") * col("nb")), 4))
      .filter(col("cosine") >= 0.9)
      .select(col("a_id"), col("b_id"), col("cell"), col("cosine"),
        least(col("a_id"), col("b_id")).as("keep_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)), r.getLong(4)))
      .sorted.toSeq
    assert(got.nonEmpty)
    assert(got == want)
    assert(got.exists(_._1 == 100L) && !got.exists(_._1 == 102L))
    assert(!got.exists(p => p._1 == 0L && p._2 == 0L)) // self-pair excluded
  }

  test("nearDupIntake maxCluster drops over-cap cells entirely, kept cells bit-identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // skewed corpus: cell 0 hot (18 members), cells 1 and 2 hold 3 each
    val skew = (Seq.tabulate(3) { c =>
      val b = Array(0.05f, 0.05f, 0.05f, 0.05f); b(c) = 1.0f
      (c.toLong, b)
    } ++ Seq.tabulate(17) { i =>
      val b = Array(0.05f, 0.05f, 0.05f, 0.05f); b(0) = 1.0f + (i + 1) * 0.005f
      ((3 + i).toLong, b)
    } ++ Seq.tabulate(4) { i =>
      val c = 1 + (i % 2)
      val b = Array(0.05f, 0.05f, 0.05f, 0.05f); b(c) = 1.0f + (i / 2 + 1) * 0.005f
      ((20 + i).toLong, b)
    }).toDF("vec_id", "embedding")
    val dir = graft.core.TempDir("ivfndcap").toString
    Similarity.writeIvfIndex(spark, skew, col("vec_id") < 3, dir, trainIters = 0)
    val arrivals = Seq(
      (100L, Array(1.02f, 0.05f, 0.05f, 0.05f)),  // lands in the hot cell
      (101L, Array(0.05f, 0.98f, 0.05f, 0.05f)))  // lands in a small cell
    def run(cap: Int) = {
      val mem = MemoryStream[(Long, Array[Float])]
      val q = graft.streaming.Streams.nearDupIntake(spark,
          mem.toDF().toDF("vec_id", "embedding"), dir, threshold = 0.9,
          maxCluster = cap)
        .writeStream.outputMode("append").format("memory")
        .queryName(s"ndcap$cap").start()
      mem.addData(arrivals.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.sql(s"SELECT * FROM ndcap$cap").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)), r.getLong(4)))
        .sorted.toSeq
      q.stop(); got
    }
    val all = run(Int.MaxValue)
    assert(all.exists(_._1 == 100L) && all.exists(_._1 == 101L))
    // the cell census IS the observable the cap is sized from
    val sizes = spark.read.parquet(s"$dir/assigned")
      .groupBy("centroid_id").count().collect()
      .map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap // partition col infers as int
    val cap = sizes.values.min.toInt
    assert(sizes.values.exists(_ > cap)) // the hot cell is over it
    val capped = run(cap)
    // over-cap cells contribute nothing; kept cells verbatim
    assert(capped == all.filter(p => sizes(p._3) <= cap))
    assert(!capped.exists(_._1 == 100L) && capped.exists(_._1 == 101L))
  }

  test("DEFAULT build is the balanced-trained quantizer; seed path only on explicit trainIters = 0") {
    import spark.implicits._
    // default ≡ writeIvfIndexWith(trainIvfCentroidsBalanced(..., 2)):
    // the trained path is what a bare writeIvfIndex call gets
    val dirDef = graft.core.TempDir("ivfdef1").toString
    val dirWith = graft.core.TempDir("ivfdef2").toString
    val centroids = col("vec_id") < 3
    Similarity.writeIvfIndex(spark, emb, centroids, dirDef)
    Similarity.writeIvfIndexWith(spark, emb,
      Similarity.trainIvfCentroidsBalanced(spark, emb, centroids, iters = 2),
      dirWith)
    def search(dir: String) = Similarity.ivfTopKIndexed(spark, dir,
        emb.filter(col("vec_id") % 5 === 0), nProbe = 2, k = 3)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        java.lang.Double.doubleToLongBits(r.getDouble(4)))).toSeq
    assert(search(dirDef) == search(dirWith) && search(dirDef).nonEmpty)
    // balanced fixture (cells 8/8/8, splitFactor 4 → no hot cell):
    // the split pass is a no-op and balanced ≡ plain trained
    assert(Similarity.trainIvfCentroidsBalanced(spark, emb, centroids, 2)
      == Similarity.trainIvfCentroids(spark, emb, centroids, 2))
    // and the default differs from the seed build (the training moved
    // centroids off the seed rows — the r12 audit's whole point)
    val dirSeed = graft.core.TempDir("ivfdef3").toString
    Similarity.writeIvfIndex(spark, emb, centroids, dirSeed, trainIters = 0)
    val seedCents = spark.read.parquet(s"$dirSeed/centroids")
      .select("cv").collect().map(_.getSeq[Double](0)).toSet
    val defCents = spark.read.parquet(s"$dirDef/centroids")
      .select("cv").collect().map(_.getSeq[Double](0)).toSet
    assert(seedCents != defCents)
  }

  test("hot-cell split: balanced training bounds the max cell and keeps every vector assigned") {
    import spark.implicits._
    // 2 seed cells, one of them degenerate-hot: 40 members in a tight
    // blob around axis 0 (two distinguishable sub-lobes), 4 members on
    // axis 1 — mean 22, factor 1.5 → the 40-cell must split
    val skew = (Seq.tabulate(40) { i =>
      val b = Array(0.05f, 0.05f, 0.05f, 0.05f)
      // two sub-lobes inside the hot cell: dims 2/3 offsets alternate
      b(0) = 1.0f; b(2 + i % 2) = 0.3f + (i / 2) * 0.002f
      (i.toLong, b)
    } ++ Seq.tabulate(4) { i =>
      val b = Array(0.05f, 0.05f, 0.05f, 0.05f); b(1) = 1.0f + i * 0.01f
      ((40 + i).toLong, b)
    }).toDF("vec_id", "embedding")
    val seeds = col("vec_id") === 0 || col("vec_id") === 40
    def maxCell(cents: Seq[(Long, Seq[Double])]) = {
      val dir = graft.core.TempDir("ivfsplit").toString
      Similarity.writeIvfIndexWith(spark, skew, cents, dir)
      val sizes = spark.read.parquet(s"$dir/assigned")
        .groupBy("centroid_id").count().collect().map(_.getLong(1))
      (sizes.max, sizes.sum)
    }
    val plain = Similarity.trainIvfCentroids(spark, skew, seeds, 2)
    val balanced = Similarity.trainIvfCentroidsBalanced(spark, skew, seeds, 2,
      splitFactor = 1.5)
    assert(balanced.length == plain.length + 1) // exactly the hot cell split
    // new centroid id allocates past the existing max — no collision
    assert(balanced.map(_._1).distinct.length == balanced.length)
    val (mPlain, nPlain) = maxCell(plain)
    val (mBal, nBal) = maxCell(balanced)
    assert(nBal == nPlain)   // every vector still assigned exactly once
    assert(mBal < mPlain, s"$mBal !< $mPlain") // concentration measurably bounded
  }

  test("null embeddings are excluded from assignment — no Hive default partition ever lands") {
    import spark.implicits._
    val withNulls = emb.unionByName(
      Seq((100L, null.asInstanceOf[Array[Float]], 0),
        (101L, null.asInstanceOf[Array[Float]], 1))
        .toDF("vec_id", "embedding", "label"))
    // in-memory assignment: no NULL centroid_id rows (centroid_topk is
    // null-propagating; an unfiltered plan would emit them)
    val asg = Similarity.ivfAssign(spark, withNulls, col("vec_id") < 3)
    assert(asg.filter(col("centroid_id").isNull).count() == 0)
    assert(asg.count() == 24) // the 24 real vectors, nulls dropped
    // persisted index + append: no __HIVE_DEFAULT_PARTITION__ directory
    // (a NULL partition is invisible to every probe's cell filter)
    val dir = graft.core.TempDir("ivfnull").toString
    Similarity.writeIvfIndex(spark, withNulls, col("vec_id") < 3, dir, trainIters = 0)
    Similarity.appendIvfIndex(spark,
      Seq((102L, null.asInstanceOf[Array[Float]], 2))
        .toDF("vec_id", "embedding", "label"), dir)
    val parts = new java.io.File(s"$dir/assigned").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(parts.forall(_.startsWith("centroid_id=")) &&
      !parts.exists(_.contains("HIVE_DEFAULT")), parts.toString)
    assert(spark.read.parquet(s"$dir/assigned").count() == 24)
  }
}
