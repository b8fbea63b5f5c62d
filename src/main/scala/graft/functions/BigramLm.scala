package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `bigram_lm(text)` → `(n_pairs,
  * avg_nll)` under a FIXED interpolated bigram language model — the
  * compiled per-row form of [[graft.ext.TextStats.bigramLmScore]]
  * (λ=0.5 bigram/unigram interpolation, truncated self-consistent
  * bigram table, OOV count-1 floor), the [[GopherStats]] treatment
  * applied to LM perplexity filtering.
  *
  * Why an expression: the relational form explodes every adjacent
  * word pair into a row and runs it through three broadcast joins and
  * a doc-keyed aggregate — the right shape for an ORACLE (every
  * intermediate is SQL-visible) but at intake time it pays a
  * generator, join probes per pair, and a corpus-keyed shuffle. Here
  * the model lives in a constant REFERENCE OBJECT ([[LmModel]],
  * hash-map lookups, O(1) plan size like [[BpeTokens]]'s table) and
  * the whole document scores in one compiled pass — fully narrow, so
  * it composes onto Structured Streaming unchanged (no aggregation =
  * no watermark wait).
  *
  * Bit-parity contract with the relational form (spec-pinned, and
  * q119 shares q118's DuckDB oracle VERBATIM): per-pair
  * `p = 0.5·(cb/cctx | 0) + 0.5·(cu|1)/N` in that exact IEEE
  * evaluation order; `round(-ln p, 9)` via the decimal-string
  * rounding Spark's `round` uses, accumulated in exact 10⁻⁹ integer
  * units (the DECIMAL(18,9) sum, losslessly); the mean re-derives
  * `round(CAST(sum AS DOUBLE)/n, 6)` including the decimal→double
  * hop. Docs with fewer than two words return `(0, null)`. */
case class BigramLm(child: Expression, model: LmModel)
    extends UnaryExpression {

  override def dataType: DataType = BigramLm.schema

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bigram_lm requires a string argument, got ${child.dataType}")
  override def prettyName: String = "bigram_lm"

  override protected def nullSafeEval(input: Any): Any =
    model.score(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("lmModel", model, classOf[LmModel].getName)
    defineCodeGen(ctx, ev, c => s"$m.score($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BigramLm =
    copy(child = newChild)
}

/** The truncated interpolated-LM tables behind [[BigramLm]] — a plain
  * serializable object (`addReferenceObj`), so |vocab| and |bigrams|
  * never touch expression-tree size. Built from a corpus by
  * [[graft.ext.TextStats.trainLmModel]] or reloaded from parquet by
  * [[graft.ext.TextStats.loadLmModel]] — train once, score any corpus
  * or stream. */
final class LmModel(val vocab: Array[(String, Long)],
    val bigrams: Array[(String, String, Long)],
    val nTotal: Long) extends Serializable {

  @transient private lazy val vocabMap: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](vocab.length * 2)
    vocab.foreach { case (w, c) => m.put(w, c) }
    m
  }
  // bigram key = "w1 w2" — words are split on space, so the join is safe
  @transient private lazy val bgMap: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](bigrams.length * 2)
    bigrams.foreach { case (w1, w2, c) => m.put(w1 + " " + w2, c) }
    m
  }
  @transient private lazy val ctxMap: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    bigrams.foreach { case (w1, _, c) =>
      val prev = m.get(w1)
      m.put(w1, if (prev == null) c else prev + c)
    }
    m
  }

  def score(doc: UTF8String): InternalRow = {
    // split(text, ' ') semantics: interior + trailing empty tokens kept
    val words = doc.toString.split(" ", -1)
    val nPairs = words.length - 1
    if (nPairs < 1) return new GenericInternalRow(Array[Any](0L, null))
    var sumNanos = 0L
    var i = 0
    while (i < nPairs) {
      val w1 = words(i)
      val w2 = words(i + 1)
      val cb = bgMap.get(w1 + " " + w2)
      // cctx is defined whenever cb is (ctx sums the bigram table)
      val pb = if (cb == null) 0.0
        else cb.longValue.toDouble / ctxMap.get(w1).longValue.toDouble
      val cu = vocabMap.get(w2)
      val pu = (if (cu == null) 1L else cu.longValue).toDouble / nTotal.toDouble
      sumNanos += BigramLm.nllNanos(0.5 * pb + 0.5 * pu)
      i += 1
    }
    // the SQL form's round(CAST(sum(nll) AS DOUBLE) / n, 6), including
    // the exact DECIMAL(·,9) → double hop before the division
    val sumD = new java.math.BigDecimal(
      java.math.BigInteger.valueOf(sumNanos), 9).doubleValue()
    val avg = new java.math.BigDecimal(
        java.lang.Double.toString(sumD / nPairs.toDouble))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    new GenericInternalRow(Array[Any](nPairs.toLong, avg))
  }
}

object BigramLm {

  val schema: StructType = StructType(Seq(
    StructField("n_pairs", LongType, nullable = false),
    StructField("avg_nll", DoubleType, nullable = true)))

  /** `CAST(round(-ln(p), 9) AS DECIMAL(18,9))` as exact 10⁻⁹ units:
    * decimal-STRING rounding (Spark's `round(double, d)` goes through
    * the canonical string representation, not the exact binary
    * expansion — the [[GopherStats]] lnNanos discipline). */
  def nllNanos(p: Double): Long =
    new java.math.BigDecimal(java.lang.Double.toString(-math.log(p)))
      .setScale(9, java.math.RoundingMode.HALF_UP)
      .movePointRight(9).longValueExact()

  /** Register `bigram_lm` bound to THIS model. Always replaces;
    * analysis is eager, so already-built plans keep the model they
    * captured (the [[BpeTokens.register]] contract). */
  def register(spark: SparkSession, model: LmModel): Unit = {
    Functions.bind(spark, "bigram_lm", 1)(a => BigramLm(a(0), model))
  }
}
