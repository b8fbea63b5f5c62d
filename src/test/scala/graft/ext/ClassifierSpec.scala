package graft.ext

import org.apache.spark.sql.functions._

import graft.pumle.SparkSpec

/** Hashed linear quality classifier: the oracle gate (q129/q130) pins
  * the fixed-model scoring contract; these specs pin what the oracle
  * can't see — trainer convergence, persistence, and the exact
  * relational ≡ narrow equivalence on ARBITRARY (trained) models. */
class ClassifierSpec extends SparkSpec {

  private def docs(n: Int) = {
    import spark.implicits._
    // two separable vocabularies: "good" docs draw from one token set,
    // "bad" docs from another, with a little shared filler
    Seq.tabulate(n) { i =>
      val good = i % 2 == 0
      val t = if (good) s"clean prose sentence structure common${i % 5} the and"
              else s"spam buy click now offer${i % 5} zzz qqq"
      (i.toLong, t, good)
    }.toDF("doc_id", "text", "is_good")
  }

  test("fixed model: narrow scorer is bit-equal to the relational scorer") {
    val d = docs(40).drop("is_good")
    val m = Classifier.fixedModel()
    val rel = Classifier.qcScore(spark, d, m).orderBy("doc_id").collect().toSeq
    val nar = Classifier.qcScoreNarrow(d, m).orderBy("doc_id").collect().toSeq
    assert(rel == nar)
    assert(rel.size == 40)
  }

  test("trained model: relational and narrow scorers agree (exact-integer sums)") {
    val d = docs(40)
    val m = Classifier.trainQcModel(spark, d, col("is_good"),
      buckets = 64, iters = 5)
    val rel = Classifier.qcScore(spark, d.drop("is_good"), m)
      .orderBy("doc_id").collect().toSeq
    val nar = Classifier.qcScoreNarrow(d.drop("is_good"), m)
      .orderBy("doc_id").collect().toSeq
    assert(rel == nar)
  }

  test("trainQcModel: log-loss decreases and the classes separate") {
    val d = docs(60)
    val zero = Classifier.QcModel(IndexedSeq.fill(64)(0L), 0L, 64)
    val trained = Classifier.trainQcModel(spark, d, col("is_good"),
      buckets = 64, iters = 20)
    val l0 = Classifier.logLoss(d, zero, col("is_good"))
    val l1 = Classifier.logLoss(d, trained, col("is_good"))
    assert(l1 < l0, s"log-loss did not improve: $l1 >= $l0")
    val scored = Classifier.qcScoreNarrow(d, trained)
      .join(d.select(col("doc_id"), col("is_good")), Seq("doc_id"))
    val Array(gm, bm) = scored.groupBy(col("is_good"))
      .agg(avg(col("score")).as("m")).orderBy(col("is_good").desc)
      .collect().map(_.getDouble(1))
    assert(gm > bm + 0.2,
      s"trained model does not separate: good=$gm bad=$bm")
  }

  test("QcModel parquet round-trip reloads bit-equal and scores identically") {
    val d = docs(20)
    val m = Classifier.trainQcModel(spark, d, col("is_good"),
      buckets = 32, iters = 3)
    val dir = graft.core.TempDir("qc-model").toString
    Classifier.writeQcModel(spark, m, dir)
    val m2 = Classifier.loadQcModel(spark, dir)
    assert(m2 == m)
    val a = Classifier.qcScoreNarrow(d, m).orderBy("doc_id").collect().toSeq
    val b = Classifier.qcScoreNarrow(d, m2).orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("compiled qc_score matches the relational md5 bucketing on edge tokens") {
    import spark.implicits._
    // empty tokens (split keeps them), unicode multibyte, repeated
    // spaces — the compiled tokenizer/hash must agree with the SQL
    // split/md5/conv spelling on all of them
    val d = Seq(
      (1L, ""),
      (2L, "héllo wörld"),
      (3L, "a  b"), // double space -> empty middle token
      (4L, "日本語 テキスト 🙂"),
      (5L, "trailing space ")).toDF("doc_id", "text")
    val m = Classifier.fixedModel()
    val rel = Classifier.qcScore(spark, d, m).orderBy("doc_id").collect().toSeq
    val nar = Classifier.qcScoreNarrow(d, m).orderBy("doc_id").collect().toSeq
    assert(rel == nar)
    assert(rel.size == 5)
  }

  test("token cap: documents beyond MaxTokens score on the capped prefix") {
    import spark.implicits._
    val long = (0 until Classifier.MaxTokens + 500).map(i => s"w$i")
      .mkString(" ")
    val capped = (0 until Classifier.MaxTokens).map(i => s"w$i")
      .mkString(" ")
    val d = Seq((1L, long), (2L, capped)).toDF("doc_id", "text")
    val m = Classifier.fixedModel()
    val r = Classifier.qcScoreNarrow(d, m).orderBy("doc_id").collect()
    assert(r(0).getLong(1) == Classifier.MaxTokens)
    // identical capped token stream -> identical logit/score
    assert(r(0).getDouble(2) == r(1).getDouble(2))
    assert(r(0).getDouble(3) == r(1).getDouble(3))
  }
}
