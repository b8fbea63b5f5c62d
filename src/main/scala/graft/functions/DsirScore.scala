package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `dsir_score(text)` → `(n_feats,
  * s_nanos)` — the DSIR hashed-bigram λ-sum
  * ([[graft.ext.TextStats.dsirScoreNarrow]]) as ONE compiled per-row
  * call: tokenize, md5-bucket each adjacent word pair, sum the model's
  * λ values in exact 10⁻⁹ integer units.
  *
  * Why ([[QcScore]]'s argument, measured on the same corpus): the
  * narrow SQL form's higher-order `aggregate` interprets its lambda
  * per bigram, and each bigram's work is a concat + md5 through the
  * interpreted string stack — at sf1 the "zero-shuffle" scorer ran 4×
  * slower than its DuckDB replay. The model rides as a constant
  * REFERENCE OBJECT ([[DsirModelRef]]); scoring is a tight loop.
  *
  * Bit-parity contract (q126 shares q124's DuckDB oracle VERBATIM):
  * tokens = `split(text, ' ')` (Java split limit −1); features =
  * adjacent pairs `w_i + ' ' + w_{i+1}` for i < min(len−1,
  * [[MinHash48.MaxShinglePos]]), only when len ≥ 2; bucket = first 4
  * md5 bytes of the pair's UTF-8 as an unsigned 32-bit value mod
  * `buckets`; λ values are scale-9 decimals summed as exact integer
  * nanos (order-free), and `(double) nanos / 1e9` is the same nearest
  * double as Spark's DECIMAL(28,9)→DOUBLE cast, so the downstream
  * 6-dp mean is unchanged. */
case class DsirScore(child: Expression, model: DsirModelRef)
    extends UnaryExpression {

  override def dataType: DataType = DsirScore.schema
  override def prettyName: String = "dsir_score"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dsir_score requires a string argument, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    model.score(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("dsirModel", model, classOf[DsirModelRef].getName)
    defineCodeGen(ctx, ev, c => s"$m.score($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): DsirScore =
    copy(child = newChild)
}

object DsirScore {
  val schema: StructType = StructType(Seq(
    StructField("n_feats", LongType, nullable = false),
    StructField("s_nanos", LongType, nullable = false)))

  def register(spark: org.apache.spark.sql.SparkSession,
      model: DsirModelRef): Unit = {
    Functions.bind(spark, "dsir_score", 1)(a => DsirScore(a(0), model))
  }
}

/** The λ table behind [[DsirScore]] in exact 10⁻⁹ integer units —
  * a plain serializable object (`addReferenceObj`). */
final class DsirModelRef(val lambdaNanos: Array[Long])
    extends Serializable {

  private val buckets = lambdaNanos.length

  @transient private lazy val digest =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  def score(text: UTF8String): InternalRow = {
    val words = text.toString.split(" ", -1)
    val n = if (words.length >= 2)
      math.min(words.length - 1, MinHash48.MaxShinglePos) else 0
    val md = digest.get()
    var s = 0L
    var i = 0
    while (i < n) {
      md.reset()
      md.update(words(i).getBytes("UTF-8"))
      md.update(' '.toByte)
      val d = md.digest(words(i + 1).getBytes("UTF-8"))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      s += lambdaNanos((h % buckets).toInt)
      i += 1
    }
    new GenericInternalRow(Array[Any](n.toLong, s))
  }
}
