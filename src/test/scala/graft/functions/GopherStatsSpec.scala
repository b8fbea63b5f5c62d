package graft.functions

import org.apache.spark.sql.functions._

import graft.pumle.SparkSpec

/** `gopher_stats` (the compiled per-row statistics pass behind the
  * narrow quality gate) must agree FIELD-FOR-FIELD with the interpreted
  * sorted-run SQL formulation it replaced — same `split(text, ' ')`
  * empty-token semantics, same 4096 bigram-start cap, same
  * round(ln(c), 9) DECIMAL entropy terms (surfaced as an exact integer
  * nanos sum). */
class GopherStatsSpec extends SparkSpec {

  /** The round-5 interpreted form, verbatim: one sorted-run pass over
    * the words (distinct count + exact DECIMAL(28,9) entropy sum) and
    * one over the capped bigram array (top multiplicity). Kept here as
    * the oracle the compiled expression is pinned against. */
  private val sqlForm =
    """named_struct(
      |  'n_words', CAST(size(ws) AS BIGINT),
      |  'n_distinct', CAST(wstat.nd AS BIGINT),
      |  'ent_nanos', CAST(wstat.s * 1000000000 AS BIGINT),
      |  'top_bigram_count', CAST(CASE WHEN size(bg) = 0 THEN 0 ELSE
      |    aggregate(array_sort(bg),
      |      named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
      |      (acc, b) -> named_struct(
      |        'prev', b,
      |        'run',  IF(acc.prev IS NOT NULL AND b = acc.prev, acc.run + 1, 1),
      |        'best', greatest(acc.best,
      |          IF(acc.prev IS NOT NULL AND b = acc.prev, acc.run + 1, 1))),
      |      acc -> acc.best) END AS BIGINT),
      |  'n_bigrams', CAST(size(bg) AS BIGINT))""".stripMargin

  private def bothForms(docs: org.apache.spark.sql.DataFrame) = {
    Functions.registerAll(spark)
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("wstat", expr(
        """aggregate(array_sort(ws),
          |  named_struct('prev', CAST(NULL AS STRING), 'run', 0,
          |               'nd', 0, 's', CAST(0 AS DECIMAL(28,9))),
          |  (acc, w) -> IF(acc.prev IS NOT NULL AND w = acc.prev,
          |    named_struct('prev', w, 'run', acc.run + 1, 'nd', acc.nd, 's', acc.s),
          |    named_struct('prev', w, 'run', 1, 'nd', acc.nd + 1, 's',
          |      CAST(acc.s + IF(acc.run = 0, CAST(0 AS DECIMAL(29,9)),
          |        CAST(round(ln(CAST(acc.run AS DOUBLE)), 9) AS DECIMAL(18,9)) * acc.run)
          |      AS DECIMAL(28,9)))),
          |  acc -> named_struct('nd', acc.nd,
          |    's', CAST(acc.s + IF(acc.run = 0, CAST(0 AS DECIMAL(29,9)),
          |      CAST(round(ln(CAST(acc.run AS DOUBLE)), 9) AS DECIMAL(18,9)) * acc.run)
          |    AS DECIMAL(28,9))))""".stripMargin))
      .withColumn("bg", expr(
        s"""CASE WHEN size(ws) >= 2 THEN
           |  transform(sequence(1, least(size(ws) - 1, ${GopherStats.MaxBigramStart})),
           |    i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1)))
           |ELSE array() END""".stripMargin))
      .select(col("doc_id"),
        expr("gopher_stats(text)").as("fast"),
        expr(sqlForm).as("slow"))
      .collect()
      .map(r => (r.getLong(0), r.getStruct(1), r.getStruct(2)))
  }

  test("gopher_stats == interpreted sorted-run form on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val docs = (0 until 80).map { i =>
      val vocab = 2 + rnd.nextInt(40)
      val len = 1 + rnd.nextInt(120)
      (i.toLong, Seq.fill(len)("w" + rnd.nextInt(vocab)).mkString(" "))
    }.toDF("doc_id", "text")
    bothForms(docs).foreach { case (id, fast, slow) =>
      assert(fast == slow, s"doc $id: compiled $fast != interpreted $slow")
    }
  }

  test("gopher_stats empty-token split semantics (limit -1) match split(text, ' ')") {
    import spark.implicits._
    // interior + trailing empty tokens are WORDS, exactly as in the SQL
    // split: "a  b " -> [a, "", b, ""], 4 words, 3 distinct, top bigram 1
    val docs = Seq(
      (0L, "a  b "), (1L, ""), (2L, " "), (3L, "solo"),
      (4L, "  "), (5L, " x x "), (6L, "a a  a a")).toDF("doc_id", "text")
    bothForms(docs).foreach { case (id, fast, slow) =>
      assert(fast == slow, s"doc $id: compiled $fast != interpreted $slow")
    }
    val e = docs.filter(col("doc_id") === 0L)
      .select(expr("gopher_stats(text)").as("g")).selectExpr("g.*").head()
    assert(e.getLong(0) == 4L, "n_words")
    assert(e.getLong(1) == 3L, "n_distinct ('' counted once)")
  }

  test("gopher_stats bigram start positions cap at 4096; word stats uncapped") {
    import spark.implicits._
    val docs = Seq((0L, Seq.fill(5000)("w").mkString(" "))).toDF("doc_id", "text")
    val r = docs.select(expr("gopher_stats(text)").as("g")).selectExpr("g.*").head()
    assert(r.getLong(0) == 5000L, "n_words uncapped")
    assert(r.getLong(4) == 4096L, s"n_bigrams capped, got ${r.getLong(4)}")
    assert(r.getLong(3) == 4096L, "top bigram count within the cap")
    // entropy numerator uses the UNCAPPED multiplicity: round(ln(5000),9)*5000
    val expected = new java.math.BigDecimal(
      java.lang.Double.toString(math.log(5000.0)))
      .setScale(9, java.math.RoundingMode.HALF_UP)
      .movePointRight(9).longValueExact() * 5000L
    assert(r.getLong(2) == expected, "ent_nanos = round(ln(c),9)*c in 1e-9 units")
    // cross-check vs the SQL DECIMAL pipeline on the same multiplicity
    val sqlNanos = spark.sql(
      "SELECT CAST(CAST(round(ln(CAST(5000 AS DOUBLE)), 9) AS DECIMAL(18,9)) " +
        "* 5000 * 1000000000 AS BIGINT)").head().getLong(0)
    assert(r.getLong(2) == sqlNanos, "ln-nanos rounding matches the SQL cast")
  }

  test("gopher_stats ln-nanos rounding matches CAST(round(ln(c),9) AS DECIMAL(18,9)) for all small c") {
    // every multiplicity the cache covers plus a tail beyond it
    val cs = (1 to 4096) ++ Seq(4097, 5000, 65536, 1000000)
    val sqlVals = spark.sql(
      s"SELECT c, CAST(CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) " +
        s"* 1000000000 AS BIGINT) FROM VALUES ${cs.map(c => s"($c)").mkString(",")} AS t(c)")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    cs.foreach { c =>
      val doc = Seq.fill(c)("w").mkString(" ")
      // compute() directly — per-c docs through Spark would be slow
      val row = GopherStats.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(doc))
      assert(row.getLong(2) == sqlVals(c) * c,
        s"c=$c: ${row.getLong(2)} != ${sqlVals(c)} * $c")
    }
  }
}
