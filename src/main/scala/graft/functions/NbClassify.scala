package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `nb_classify(text)` → `(pred, score)`
  * under a FIXED multinomial Naive Bayes model — the compiled per-row
  * form of [[graft.ext.Classifier.nbClassify]]'s scoring stage (the
  * [[BigramLm]] treatment applied to multi-class classification).
  *
  * Why an expression: the relational scorer explodes every token into
  * a row, amplifies it ×|labels| through the dense-model broadcast
  * join and pays a doc-keyed shuffle — the right shape for an ORACLE
  * (every intermediate is SQL-visible), but at intake time the model
  * is a bounded constant and the verdict is per-row. Here the dense
  * log-likelihood table lives in a constant reference object
  * ([[NbModel]], one hash lookup per token yielding all |labels|
  * lane values) and the whole document classifies in one compiled
  * pass — fully narrow, zero joins, so it composes onto Structured
  * Streaming unchanged.
  *
  * Bit-parity contract with the relational form (spec-pinned; the
  * narrow query shares the relational oracle VERBATIM): per-(token,
  * label) log-likelihood and per-label log-prior are `round(ln ·, 9)`
  * in exact 10⁻⁹ integer units (the DECIMAL(18,9) sum, losslessly —
  * order-free), argmax on the EXACT integer totals with the
  * ascending-label tie-break, and the reported score re-derives
  * `round(CAST(total AS DOUBLE), 6)` including the decimal→double
  * hop. Out-of-vocabulary tokens contribute nothing (the truncated-
  * vocab contract); a doc with no vocab token scores on priors alone.
  * Null text is left to the caller's filter (nullSafeEval). */
case class NbClassify(child: Expression, model: NbModel)
    extends UnaryExpression {

  override def dataType: DataType = NbClassify.schema

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nb_classify requires a string argument, got ${child.dataType}")
  override def prettyName: String = "nb_classify"

  override protected def nullSafeEval(input: Any): Any =
    model.classify(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("nbModel", model, classOf[NbModel].getName)
    defineCodeGen(ctx, ev, c => s"$m.classify($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NbClassify =
    copy(child = newChild)
}

/** The dense truncated-vocab NB tables behind [[NbClassify]] — a plain
  * serializable object (`addReferenceObj`), so |vocab|·|labels| never
  * touches expression-tree size. `labels` MUST be sorted ascending
  * (the tie-break contract); `llNanos(t)` is token t's per-label
  * `round(ln((c+1)/(tot+V)), 9)` row in 10⁻⁹ units, `priorNanos(l)`
  * label l's `round(ln(n_l/n), 9)`. Built by
  * [[graft.ext.Classifier.trainNbModel]] or reloaded by
  * [[graft.ext.Classifier.loadNbModel]] — train once, classify any
  * corpus or stream. */
final class NbModel(val labels: Array[String],
    val priorNanos: Array[Long],
    val vocab: Array[String],
    val llNanos: Array[Array[Long]]) extends Serializable {
  require(labels.nonEmpty,
    "NbModel needs at least one label — training saw no row with both " +
      "a non-null label and non-null text (the relational form returns " +
      "empty there; a label-less compiled model could only crash per row)")
  require(labels.length == priorNanos.length,
    s"${priorNanos.length} priors for ${labels.length} labels")
  require(vocab.length == llNanos.length,
    s"${llNanos.length} likelihood rows for ${vocab.length} vocab tokens")
  require(labels.indices.dropRight(1).forall(i =>
      UTF8String.fromString(labels(i))
        .compareTo(UTF8String.fromString(labels(i + 1))) < 0),
    "labels must be strictly ascending in UTF-8 BINARY order — Spark's " +
      "string sort (code points), not Java's (UTF-16 units): the argmax " +
      "tie-break must match the relational form's orderBy exactly")

  @transient private lazy val tokMap: java.util.HashMap[String, Array[Long]] = {
    val m = new java.util.HashMap[String, Array[Long]](vocab.length * 2)
    var i = 0
    while (i < vocab.length) { m.put(vocab(i), llNanos(i)); i += 1 }
    m
  }

  def classify(doc: UTF8String): InternalRow = {
    // split(text, ' ') semantics: interior + trailing empty tokens kept
    val words = doc.toString.split(" ", -1)
    val totals = priorNanos.clone()
    var i = 0
    while (i < words.length) {
      val row = tokMap.get(words(i))
      if (row != null) {
        var l = 0
        while (l < totals.length) { totals(l) += row(l); l += 1 }
      }
      i += 1
    }
    // argmax on the exact nano totals; first (= ascending-label) wins ties
    var best = 0
    var l = 1
    while (l < totals.length) {
      if (totals(l) > totals(best)) best = l
      l += 1
    }
    // the SQL form's round(CAST(total AS DOUBLE), 6), including the
    // exact DECIMAL(·,9) → double hop (the BigramLm mean discipline)
    val totD = new java.math.BigDecimal(
      java.math.BigInteger.valueOf(totals(best)), 9).doubleValue()
    val score = new java.math.BigDecimal(java.lang.Double.toString(totD))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(labels(best)), score))
  }
}

object NbClassify {

  val schema: StructType = StructType(Seq(
    StructField("pred", StringType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  /** `CAST(round(ln(x), 9) AS DECIMAL(18,9))` as exact 10⁻⁹ units:
    * decimal-STRING rounding (Spark's `round(double, d)` goes through
    * the canonical string representation — the [[BigramLm.nllNanos]]
    * discipline, without the negation). */
  def lnNanos(x: Double): Long =
    new java.math.BigDecimal(java.lang.Double.toString(math.log(x)))
      .setScale(9, java.math.RoundingMode.HALF_UP)
      .movePointRight(9).longValueExact()

  /** Register `nb_classify` bound to THIS model. Always replaces;
    * analysis is eager, so already-built plans keep the model they
    * captured (the [[BigramLm.register]] contract). */
  def register(spark: SparkSession, model: NbModel): Unit = {
    Functions.bind(spark, "nb_classify", 1)(a => NbClassify(a(0), model))
  }
}
