package graft.ext

import org.apache.spark.sql.functions._

import graft.pumle.SparkSpec

/** Round-7 sketch family: HLL distinct, Count–Min heavy hitters,
  * Bloom decontamination (relational + compiled narrow), and the
  * fixed-centroid SemDeDup. The oracle gate (q138–q142) proves the
  * default parameterizations against DuckDB; these specs pin the
  * sketch GUARANTEES the oracles can't see (one-sided error,
  * no-false-negatives, narrow ≡ relational on adversarial edges) and
  * the pieces the gate doesn't reach. */
class SketchesSpec extends SparkSpec {

  private def docs(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  private def synth(n: Int): org.apache.spark.sql.DataFrame =
    docs(Seq.tabulate(n) { i =>
      val words = Seq.tabulate(12)(j => s"w${(i * 7 + j * 3) % 97}")
      (i.toLong, words.mkString(" "), s"s${i % 3}")
    })

  test("cms_sketch aggregate equals the relational (r,c) grid cell for cell") {
    import org.apache.spark.sql.functions._
    val d = synth(300)
    graft.functions.Functions.registerAll(spark)
    val tok = d.select(explode(split(col("text"), " ")).as("word"))
    val grid = tok.agg(expr("cms_sketch(word, 4, 1024)"))
      .head().getSeq[Long](0)
    val rel = tok.withColumn("h", md5(col("word")))
      .select(explode(expr("sequence(0, 3)")).as("r"), col("h"))
      .select(col("r"),
        (conv(expr("substring(h, r * 8 + 1, 8)"), 16, 10).cast("long")
          % 1024).as("c"))
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("cnt")).collect()
    val expect = Array.fill(4096)(0L)
    rel.foreach(row =>
      expect(row.getInt(0) * 1024 + row.getLong(1).toInt) = row.getLong(2))
    assert(grid.length == 4096)
    assert(grid.toArray.sameElements(expect),
      "one-pass grid must be bit-identical to the exploded relational grid")
    assert(grid.sum == tok.count() * 4, "every token lands in every row")
  }

  test("hll_regs aggregate equals the relational per-bucket min(sfx)") {
    import org.apache.spark.sql.functions._
    val d = synth(300)
    graft.functions.Functions.registerAll(spark)
    val tok = d.select(explode(split(col("text"), " ")).as("w"))
    val regs = tok.agg(expr("hll_regs(w)")).head().getSeq[Long](0)
    val rel = tok.select(
        conv(substring(md5(col("w")), 1, 2), 16, 10).cast("long").as("bkt"),
        conv(substring(md5(col("w")), 3, 10), 16, 10).cast("long").as("sfx"))
      .groupBy(col("bkt")).agg(min(col("sfx")).as("m")).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    assert(regs.length == 256)
    regs.zipWithIndex.foreach { case (v, b) =>
      assert(v == rel.getOrElse(b, Long.MaxValue),
        s"bucket $b: aggregate $v != relational ${rel.get(b)}")
    }
  }

  test("hllDistinct: estimate lands within HLL's expected error band") {
    // 97 distinct tokens over 3 sources; m=256 gives ~6.5% std error,
    // so 30% is a >4-sigma bound — a register-math bug (wrong bucket
    // width, off-by-one rho, broken integer sum) misses by far more
    val got = Sketches.hllDistinct(synth(200)).collect()
    assert(got.length == 3)
    got.foreach { r =>
      val exact = r.getAs[Long]("exact_distinct").toDouble
      val est = r.getAs[Double]("hll_est")
      assert(est > 0.0)
      assert(math.abs(est - exact) / exact < 0.30,
        s"${r.getAs[String]("source")}: est=$est exact=$exact")
    }
  }

  test("hllDistinct: single-token source exercises the linear-counting branch") {
    val one = docs(Seq((1L, "only", "a")))
    val r = Sketches.hllDistinct(one).collect().head
    assert(r.getAs[Long]("exact_distinct") == 1L)
    // V = 255 empty registers → est = 256·ln(256/255) ≈ 1.002
    assert(math.abs(r.getAs[Double]("hll_est") - 1.0019) < 0.01)
  }

  test("cmsHeavyHitters: estimates are one-sided (est ≥ exact, always)") {
    val got = Sketches.cmsHeavyHitters(synth(300), k = 10).collect()
    assert(got.length == 10)
    assert(got.map(_.getAs[Long]("rank")).toSeq == (1L to 10L))
    got.foreach { r =>
      assert(r.getAs[Long]("cms_est") >= r.getAs[Long]("exact_cnt"),
        s"${r.getAs[String]("word")} under-counted")
      assert(r.getAs[Long]("overcount") ==
        r.getAs[Long]("cms_est") - r.getAs[Long]("exact_cnt"))
    }
    // exact top-k ordering: counts non-increasing in rank
    val cnts = got.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("exact_cnt"))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
  }

  test("bloomDecontaminate: no false negatives; planted overlap flagged") {
    val d = docs(Seq(
      (0L, "alpha beta gamma delta epsilon", "eval"), // eval (doc_id % 2 = 0 pred)
      (1L, "xx beta gamma delta yy", "train"),        // shares 3-gram
      (3L, "completely disjoint token stream here", "train"),
      (5L, "", "train"),                              // empty text edge
      (7L, "short", "train")))                        // < n words edge
    val got = Sketches.bloomDecontaminate(d, col("doc_id") % 2 === 0)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("bloom_hit"), r.getAs[Boolean]("exact_hit"))).toMap
    assert(got(1L) == (true, true), "planted 3-gram overlap must flag both")
    // Bloom ⊇ exact: every exact hit is a bloom hit
    got.values.foreach { case (b, e) => assert(!e || b) }
    // with ~10 eval grams → ≤30 of 65536 bits set, P(fp) < 1e-10: the
    // disjoint docs stay clean
    assert(got(3L) == (false, false))
    assert(got(7L)._2 == false)
  }

  test("bloomDecontaminate: candidate-derived exact_hit ≡ decontaminate's verdict") {
    // the exact verdict is computed FROM the bloom candidate set (no
    // false negatives ⇒ every exactly-shared gram is a candidate) — pin
    // it row-for-row against the independent full gram semi-join on a
    // corpus with organic 3-gram overlap (97-word vocabulary, 60 docs)
    val d = docs(Seq.tabulate(60) { i =>
      // even ids: organic 3-gram overlap (97-word cyclic vocabulary);
      // odd ids: doc-unique tokens — clean by construction
      val words =
        if (i % 2 == 0) Seq.tabulate(12)(j => s"w${(i * 7 + j * 3) % 97}")
        else Seq.tabulate(12)(j => s"u${i}x$j")
      (i.toLong, words.mkString(" "), s"s${i % 3}")
    })
    val evalPred = col("doc_id") % 5 === 0
    val got = Sketches.bloomDecontaminate(d, evalPred)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("bloom_hit"), r.getAs[Boolean]("exact_hit"))).toMap
    val expect = TextStats.decontaminate(d, evalPred)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("contaminated")).toMap
    assert(got.keySet == expect.keySet, "one row per non-eval doc")
    expect.foreach { case (id, exact) =>
      assert(got(id)._2 == exact, s"doc $id: exact_hit ${got(id)._2} != $exact")
      assert(!exact || got(id)._1, s"doc $id: exact hit must be a bloom hit")
    }
    // the synthetic vocabulary overlaps by construction — the pin must
    // exercise both verdicts, not a trivially all-false corpus
    assert(expect.values.exists(identity) && expect.values.exists(!_))
  }

  test("bloom narrow (compiled) ≡ relational on edges: empty, short, null text") {
    import spark.implicits._
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "xx beta gamma delta yy"),
      (3L, null.asInstanceOf[String]),
      (5L, ""),
      (7L, "alpha beta gamma"),  // exact eval prefix gram
      (9L, "beta gamma"))        // 2 words: short-gram edge
      .toDF("doc_id", "text").withColumn("source", lit("s"))
    val evalPred = col("doc_id") % 2 === 0
    val rel = Sketches.bloomDecontaminate(d, evalPred)
      .select("doc_id", "bloom_hit").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    graft.functions.BloomDecontam.register(spark,
      new graft.functions.BloomModelRef(Sketches.bloomBitsArray(d, evalPred)))
    val nar = d.filter(!evalPred)
      .select(col("doc_id"),
        coalesce(expr("bloom_decontam(text)"), lit(false)).as("h"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(rel == nar, s"relational=$rel narrow=$nar")
    assert(nar(7L), "whole-doc gram shared with eval doc must hit")
  }

  test("lengthPercentiles: integer-rank selections on constructed distributions") {
    import spark.implicits._
    val d = (Seq.tabulate(100)(i => (i.toLong, "t", "a", i + 1L)) ++
      Seq.tabulate(10)(i => (200L + i, "t", "b", (i + 1) * 10L)))
      .toDF("doc_id", "text", "source", "n_chars")
    val got = graft.ext.Corpus.lengthPercentiles(d).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("p50"),
          r.getAs[Long]("p90"), r.getAs[Long]("p99"))).toMap
    // a: values 1..100 → pXX = XX exactly (cum·100 ≥ n·p ⟺ v ≥ p)
    assert(got("a") == ((100L, 50L, 90L, 99L)), got("a").toString)
    // b: 10,20,..,100 → p50 = 5th value, p90 = 9th, p99 = 10th (⌈9.9⌉)
    assert(got("b") == ((10L, 50L, 90L, 100L)), got("b").toString)
  }

  test("sourceSimilarity: identical J=1, disjoint J=0, partial overlap exact") {
    val d = docs(
      Seq.tabulate(20)(i => (i.toLong, s"w${i % 10} common${i % 5}", "a")) ++
      Seq.tabulate(20)(i => (100L + i, s"w${i % 10} common${i % 5}", "b")) ++
      Seq.tabulate(20)(i => (200L + i, s"zz${i % 15}", "c")) ++
      Seq.tabulate(20)(i => (300L + i, s"dd${i % 10} common${i % 5}", "d")))
    val got = Sketches.sourceSimilarity(d).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) -> r).toMap
    val ab = got(("a", "b"))
    assert(ab.getAs[Double]("true_j") == 1.0 && ab.getAs[Double]("est_j") == 1.0,
      "identical vocabularies must match on every lane")
    val ac = got(("a", "c"))
    assert(ac.getAs[Double]("true_j") == 0.0)
    assert(ac.getAs[Long]("n_inter") == 0L)
    // a vs d: |A|=|D|=15, ∩ = the 5 common tokens → J = 5/25 = 0.2
    val ad = got(("a", "d"))
    assert(ad.getAs[Long]("n_inter") == 5L && ad.getAs[Double]("true_j") == 0.2,
      s"a∩d=${ad.getAs[Long]("n_inter")} J=${ad.getAs[Double]("true_j")}")
    // est_j is a valid dyadic fraction of lanes
    got.values.foreach { r =>
      val e = r.getAs[Double]("est_j")
      assert(e >= 0.0 && e <= 1.0 && (e * 16).isWhole)
    }
  }

  test("semanticDedupFixed: planted same-direction dup drops, smaller id survives") {
    import spark.implicits._
    // first component carries i directly — without it the (i·31+d·7)
    // mod-19 pattern repeats every 19 ids and creates accidental exact
    // dups (cosine 1.0) that this test would misread as failures
    val base = Seq.tabulate(40) { i =>
      (i.toLong, Array.tabulate(64)(d =>
        if (d == 0) (i + 1).toFloat
        else (((i * 31 + d * 7) % 19) - 9).toFloat))
    }
    // vec 100 = 2× vec 5 (cosine exactly 1.0, same argmin centroid)
    val planted = base :+ (100L, base(5)._2.map(_ * 2.0f))
    val e = planted.toDF("vec_id", "embedding")
    val surv = Similarity.semanticDedupFixed(spark, e, k = 4, threshold = 0.999)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(surv.contains(5L) && !surv.contains(100L),
      s"dup must drop, keeping the smaller id; got $surv")
    // at τ=0.999 nothing else pairs: everyone but the dup survives
    assert(surv.size == 40)
  }

  test("semanticDedupFixed: centroid column is a valid fixed-grid index") {
    import spark.implicits._
    val e = Seq.tabulate(20) { i =>
      (i.toLong, Array.tabulate(64)(d => ((i + d) % 7 - 3).toFloat))
    }.toDF("vec_id", "embedding")
    val got = Similarity.semanticDedupFixed(spark, e, k = 16, threshold = 2.0)
    val cents = got.collect().map(_.getAs[Long]("centroid"))
    assert(cents.forall(c => c >= 0 && c < 16))
    // threshold > 1 ⇒ no pairs ⇒ everyone survives, ordered by vec_id
    assert(got.collect().map(_.getAs[Long]("vec_id")).toSeq == (0L until 20L))
  }
}
