package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `bloom_decontam(text)` → boolean — the
  * Bloom-filter decontamination probe ([[graft.ext.Sketches
  * .bloomDecontaminate]]) as ONE compiled per-row call: enumerate the
  * doc's word n-grams, test each gram's `hashes` md5-derived bit
  * positions against a fixed bit set, return whether ANY gram has all
  * bits set.
  *
  * Why an expression ([[QcScore]]'s argument): the relational form
  * explodes corpus grams and semi-joins a broadcast position set — a
  * corpus-proportional explode plus a shuffleless-but-real join. Here
  * the bit set is a constant REFERENCE OBJECT ([[BloomModelRef]],
  * `bits/64` longs via `addReferenceObj`) and the whole document
  * probes in one tight loop: fully narrow AND compiled, no explode, no
  * join — the shape that lets decontamination ride inside an existing
  * corpus scan (or a stream) for free. Early-exits on the first
  * hitting gram.
  *
  * Bit-parity contract (spec-pinned; q141 shares q140's oracle CTE
  * chain): grams = [[graft.ext.TextStats.decontaminate]]'s exact
  * enumeration — `split(text, ' ')` (Java limit −1), offsets
  * 0..min(max(len−n, 0), 4096) inclusive, space-joined slices;
  * positions = md5 of `"<r>#<gram>"` UTF-8, first 4 bytes unsigned,
  * mod `bits` — the exact value of
  * `conv(substr(md5(concat(r, '#', gram)), 1, 8), 16, 10) % bits`.
  * Null text is null out (UnaryExpression's null-safe default).
  */
case class BloomDecontam(child: Expression, model: BloomModelRef)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_decontam"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_decontam requires a string argument, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    model.hit(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bloomModel", model,
      classOf[BloomModelRef].getName)
    defineCodeGen(ctx, ev, c => s"$m.hit($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomDecontam =
    copy(child = newChild)
}

object BloomDecontam {
  /** Bind `bloom_decontam` to a bit set ([[QcScore.register]]'s
    * pattern — the function is model-specific, so registration
    * replaces any prior binding). */
  def register(spark: org.apache.spark.sql.SparkSession,
      model: BloomModelRef): Unit = {
    Functions.bind(spark, "bloom_decontam", 1)(a => BloomDecontam(a(0), model))
  }
}

/** The packed bit set behind [[BloomDecontam]] — a plain serializable
  * object (`addReferenceObj`), so the filter size never touches
  * expression-tree size. Build via
  * [[graft.ext.Sketches.bloomBitsArray]]. */
final class BloomModelRef(val bits: Array[Long], val n: Int = 3,
    val hashes: Int = 3) extends Serializable {

  private val mBits = bits.length << 6

  @transient private lazy val digest =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  def hit(text: UTF8String): Boolean = {
    val words = text.toString.split(" ", -1)
    // offsets 0..min(max(len-n, 0), 4096) INCLUSIVE — the shared
    // cross-engine enumeration bound (TextStats.decontaminate)
    val last = math.min(math.max(words.length - n, 0),
      MinHash48.MaxShinglePos)
    val md = digest.get()
    var i = 0
    while (i <= last) {
      val gram = words.slice(i, i + n).mkString(" ")
      var r = 0
      var all = true
      while (r < hashes && all) {
        md.reset()
        val d = md.digest((r.toString + "#" + gram).getBytes("UTF-8"))
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        val p = (h % mBits).toInt
        all = (bits(p >>> 6) & (1L << (p & 63))) != 0
        r += 1
      }
      if (all) return true
      i += 1
    }
    false
  }
}
