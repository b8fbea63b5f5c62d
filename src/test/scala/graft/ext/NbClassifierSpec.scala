package graft.ext

import org.apache.spark.sql.functions._

import graft.pumle.SparkSpec

/** Multinomial Naive Bayes: the oracle gate (q175–q178) pins train +
  * classify against DuckDB on the real tables; these specs pin what
  * the oracle can't see — hand-computed model values on a fixture
  * small enough to verify by arithmetic, the relational ≡ narrow ≡
  * persisted equivalences on arbitrary corpora, the tie-break, and
  * the OOV/truncation edges. */
class NbClassifierSpec extends SparkSpec {

  private def llNano(c: Long, tot: Long, v: Long): java.math.BigDecimal =
    new java.math.BigDecimal(java.lang.Double.toString(
        math.log((c + 1).toDouble / (tot + v).toDouble)))
      .setScale(9, java.math.RoundingMode.HALF_UP)

  test("nbModel: hand-computed smoothed log-likelihoods on a tiny fixture") {
    import spark.implicits._
    // label a: tokens x x y; label b: tokens y z — vocab {x, y, z}
    val d = Seq((1L, "x x y", "a"), (2L, "y z", "b"))
      .toDF("doc_id", "text", "lang")
    val m = Classifier.nbModel(d, vocabSize = 10)
      .orderBy("label", "token").collect()
    // dense = 2 labels × 3 vocab tokens; tot_a = 3, tot_b = 2, V = 3
    assert(m.length == 6)
    val got = m.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getDouble(3))).toSeq
    def ll(c: Long, tot: Long) = llNano(c, tot, 3).doubleValue()
    assert(got == Seq(
      ("a", "x", 2L, ll(2, 3)), ("a", "y", 1L, ll(1, 3)),
      ("a", "z", 0L, ll(0, 3)),
      ("b", "x", 0L, ll(0, 2)), ("b", "y", 1L, ll(1, 2)),
      ("b", "z", 1L, ll(1, 2))))
  }

  test("nbClassify recovers separable labels and scores prior-only docs") {
    import spark.implicits._
    val docs = Seq.tabulate(30) { i =>
      val a = i % 2 == 0
      val t = if (a) s"alpha beta gamma common" else s"delta epsilon zeta common"
      (i.toLong, t, if (a) "la" else "lb")
    }.toDF("doc_id", "text", "lang")
    val out = Classifier.nbClassify(spark, docs)
      .orderBy("doc_id").collect()
    assert(out.length == 30)
    out.foreach { r =>
      val expect = if (r.getLong(0) % 2 == 0) "la" else "lb"
      assert(r.getString(1) == expect, s"doc ${r.getLong(0)}")
    }
  }

  test("ties break on the ascending label (exact-total argmax)") {
    import spark.implicits._
    // two labels with IDENTICAL token distributions and doc counts:
    // every total ties exactly, so the smaller label must always win
    val d = Seq((1L, "t u", "zz"), (2L, "t u", "aa"),
        (3L, "u t", "zz"), (4L, "u t", "aa"))
      .toDF("doc_id", "text", "lang")
    val out = Classifier.nbClassify(spark, d).collect()
    assert(out.forall(_.getString(1) == "aa"),
      out.map(r => (r.getLong(0), r.getString(1))).mkString(", "))
  }

  test("vocab truncation: OOV tokens score nothing; all-OOV docs take the prior argmax") {
    import spark.implicits._
    // vocabSize 2 keeps the two most frequent tokens {hot, hot2}; doc 5
    // is entirely OOV and doc 6 mixes OOV with a vocab token
    val d = Seq((1L, "hot hot2 rare1", "la"), (2L, "hot hot2", "la"),
        (3L, "hot hot2 rare2", "lb"),
        (5L, "rare1 rare2 rare3", "lb"), (6L, "hot rare3", "lb"))
      .toDF("doc_id", "text", "lang")
    val full = Classifier.nbClassify(spark, d, vocabSize = 2)
      .orderBy("doc_id").collect()
    // doc 5: no vocab token -> totals are the priors alone; "la" has 2
    // docs of 5, "lb" 3 of 5 -> prior argmax = lb
    val d5 = full.find(_.getLong(0) == 5L).get
    assert(d5.getString(1) == "lb")
    // replay the engine's exact hops: round(ln, 9) → DECIMAL → double
    // → round(·, 6)
    val lp9d = new java.math.BigDecimal(
        java.lang.Double.toString(math.log(3.0 / 5.0)))
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(d5.getDouble(2) == new java.math.BigDecimal(
        java.lang.Double.toString(lp9d))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
    // doc 6's score must equal a doc scored on "hot" alone — OOV token
    // contributed nothing: replay with the OOV token deleted
    val replay = Classifier.nbClassify(spark,
        d.withColumn("text", when(col("doc_id") === 6L, lit("hot"))
          .otherwise(col("text"))), vocabSize = 2)
      .orderBy("doc_id").collect()
    assert(full.find(_.getLong(0) == 6L).get.getDouble(2) ==
      replay.find(_.getLong(0) == 6L).get.getDouble(2))
  }

  test("relational ≡ narrow ≡ persisted round-trip, bit-equal") {
    import spark.implicits._
    val docs = Seq.tabulate(40) { i =>
      val l = Seq("en", "de", "fr")(i % 3)
      (i.toLong, s"w${i % 7} w${(i * 3) % 11} shared tail$l tok${i % 4}", l)
    }.toDF("doc_id", "text", "lang")
    val rel = Classifier.nbClassify(spark, docs, vocabSize = 8)
      .orderBy("doc_id").collect().toSeq
    val model = Classifier.trainNbModel(docs, vocabSize = 8)
    val nar = Classifier.nbClassifyNarrow(spark, docs, model)
      .orderBy("doc_id").collect().toSeq
    assert(rel == nar)
    val dir = graft.core.TempDir("nbmodel").toString
    Classifier.writeNbModel(spark, model, dir)
    val loaded = Classifier.loadNbModel(spark, dir)
    assert(loaded.labels.sameElements(model.labels))
    assert(loaded.priorNanos.sameElements(model.priorNanos))
    assert(loaded.vocab.sameElements(model.vocab))
    assert(loaded.llNanos.zip(model.llNanos)
      .forall { case (a, b) => a.sameElements(b) })
    val fromDisk = Classifier.nbClassifyNarrow(spark, docs, loaded)
      .orderBy("doc_id").collect().toSeq
    assert(fromDisk == nar)
  }

  test("zero-label training fails loudly (the relational form returns empty)") {
    import spark.implicits._
    val d = Seq((1L, null.asInstanceOf[String], "la"),
        (2L, "p q", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "lang")
    // relational: empty result, no crash
    assert(Classifier.nbClassify(spark, d).count() == 0L)
    // compiled: a label-less model could only crash per row — training
    // refuses to build one
    val e = intercept[IllegalArgumentException](Classifier.trainNbModel(d))
    assert(e.getMessage.contains("at least one label"))
  }

  test("null text drops from scoring; null label trains nothing but still scores") {
    import spark.implicits._
    val d = Seq((1L, "p q", "la"), (2L, "p p", "lb"),
        (3L, null.asInstanceOf[String], "la"), (4L, "q q", null))
      .toDF("doc_id", "text", "lang")
    val out = Classifier.nbClassify(spark, d).orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L)) // 3 dropped
    // doc 4 (null label) scored against the la/lb model: "q q" is la
    // evidence (q appears only under la)
    assert(out.find(_.getLong(0) == 4L).get.getString(1) == "la")
    // and the trained model saw only docs 1-2: vocab {p, q}, both labels
    val model = Classifier.trainNbModel(d)
    assert(model.labels.sameElements(Array("la", "lb")))
    assert(model.vocab.sorted.sameElements(Array("p", "q")))
  }
}
