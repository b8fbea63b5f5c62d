package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `simhash128(text)` → array<long> of
  * EIGHT independent 16-bit SimHash lanes — [[SimHash64]] widened to
  * the full md5 digest (lane `l` hashes each whitespace word to md5
  * bytes [2l, 2l+1]; 8 lanes × 2 bytes = all 16 digest bytes). Lanes
  * 0–3 are bit-identical to `simhash64(text)` by construction, which
  * is what Ext5Spec pins.
  *
  * Why 128 bits: the 64-bit/4×16-band near-dup machinery stops pruning
  * once the corpus saturates the 2¹⁶-per-band bucket space (mean
  * bucket ≈ n/2¹⁶ — at 20M signatures ~305 members, kept pair volume
  * Σc² in the tens of billions; the 20M run in BENCH_sfe.md gated the
  * corpus-wide row off there). A 128-bit signature carries enough bits for FOUR 32-BIT
  * bands — still pigeonhole-complete for Hamming ≤ 3, but with a 2³²
  * bucket space whose mean occupancy stays below 1 until the corpus
  * passes four billion documents ([[graft.ext.Dedup
  * .hammingNearDup]] on `(doc_id, lo, hi)`). Same single-pass,
  * zero-amplification design as SimHash64: one md5 per word feeds all
  * eight lanes, the plan stays fully narrow, and codegen is a static
  * call.
  */
case class SimHash128(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash128 requires a string argument, got ${child.dataType}")
  override def prettyName: String = "simhash128"

  override protected def nullSafeEval(input: Any): Any =
    SimHash128.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash128.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash128 =
    copy(child = newChild)
}

object SimHash128 {

  val Lanes: Int = 8

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Word split = `split(text, ' ', -1)` (keeps empty tokens), matching
    * SimHash64/SimHash16 and the relational/oracle form. Lane `l`'s
    * 16-bit word hash is md5 bytes [2l, 2l+1] big-endian. */
  def compute(s: UTF8String): ArrayData = {
    val words = s.toString.split(" ", -1)
    val votes = new Array[Int](Lanes * 16)
    val md = digest.get()
    var wi = 0
    while (wi < words.length) {
      md.reset()
      val d = md.digest(words(wi).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var l = 0
      while (l < Lanes) {
        val h = ((d(2 * l) & 0xff) << 8) | (d(2 * l + 1) & 0xff)
        var b = 0
        while (b < 16) {
          if (((h >> b) & 1) == 1) votes(l * 16 + b) += 1
          else votes(l * 16 + b) -= 1
          b += 1
        }
        l += 1
      }
      wi += 1
    }
    val out = new Array[Long](Lanes)
    var l = 0
    while (l < Lanes) {
      var lane = 0L
      var b = 0
      while (b < 16) {
        if (votes(l * 16 + b) >= 0) lane |= (1L << b)
        b += 1
      }
      out(l) = lane
      l += 1
    }
    new GenericArrayData(out)
  }
}
