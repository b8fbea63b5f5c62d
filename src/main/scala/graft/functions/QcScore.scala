package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `qc_score(text)` → `(n_tokens, s)` —
  * the hashed-linear-classifier token pass
  * ([[graft.ext.Classifier]]) as ONE compiled per-row call: tokenize,
  * md5-bucket each token, sum the model's integer milli-weights.
  *
  * Why an expression ([[BigramLm]]'s argument): the narrow SQL form
  * folds tokens through a higher-order `aggregate` whose lambda is
  * interpreted per ELEMENT — and the per-token work is an md5 through
  * the string expression stack (concat→substr→conv). At sf1 that
  * interpretation made the "zero-shuffle" narrow scorer SLOWER than
  * the relational explode+join it replaced (7.6s vs 3.9s / 50k docs —
  * codegen'd md5 on exploded rows beat interpreted md5 in a lambda).
  * Here the model is a constant REFERENCE OBJECT ([[QcModelRef]]) and
  * the whole document scores in one tight loop — fully narrow AND
  * compiled, so it streams unchanged.
  *
  * Bit-parity contract (spec-pinned; q130 shares q129's DuckDB oracle
  * VERBATIM): tokens = `split(text, ' ')` semantics (Java split limit
  * −1), capped at [[MinHash48.MaxShinglePos]]; bucket = first 4 md5
  * bytes of the token's UTF-8 as an unsigned 32-bit value
  * (`conv(substr(md5(w),1,8),16,10)`) mod `buckets`; `s` = exact
  * BIGINT sum of milli-weights — order-free, so fusing cannot move a
  * ulp. Null text is null out (UnaryExpression's null-safe default).
  */
case class QcScore(child: Expression, model: QcModelRef)
    extends UnaryExpression {

  override def dataType: DataType = QcScore.schema
  override def prettyName: String = "qc_score"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"qc_score requires a string argument, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    model.score(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("qcModel", model, classOf[QcModelRef].getName)
    defineCodeGen(ctx, ev, c => s"$m.score($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): QcScore =
    copy(child = newChild)
}

object QcScore {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("s", LongType, nullable = false)))

  /** Bind `qc_score` to a model ([[BigramLm.register]]'s pattern —
    * the function is model-specific, so registration replaces any
    * prior binding). */
  def register(spark: org.apache.spark.sql.SparkSession,
      model: QcModelRef): Unit = {
    Functions.bind(spark, "qc_score", 1)(a => QcScore(a(0), model))
  }
}

/** The weight table behind [[QcScore]] — a plain serializable object
  * (`addReferenceObj`), so `buckets` never touches expression-tree
  * size. Wraps [[graft.ext.Classifier.QcModel]]'s milli weights. */
final class QcModelRef(val weightsMilli: Array[Long])
    extends Serializable {

  private val buckets = weightsMilli.length

  @transient private lazy val digest =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  def score(text: UTF8String): InternalRow = {
    val words = text.toString.split(" ", -1)
    val n = math.min(words.length, MinHash48.MaxShinglePos)
    val md = digest.get()
    var s = 0L
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(words(i).getBytes("UTF-8"))
      // first 8 hex chars = first 4 bytes, unsigned 32-bit — the exact
      // value of conv(substr(md5(w), 1, 8), 16, 10)
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      s += weightsMilli((h % buckets).toInt)
      i += 1
    }
    new GenericInternalRow(Array[Any](n.toLong, s))
  }
}
