package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `simhash64(text)` → array<long> of FOUR
  * independent 16-bit SimHash lanes, lane `l` hashing each whitespace
  * word to md5 bytes [2l, 2l+1] (hex chars 4l+1..4l+4). Lane 0 is
  * bit-identical to `simhash16(text)`.
  *
  * Why lanes instead of one 64-bit value: the near-dup SEARCH structure
  * over SimHash is banding (Manku et al., WWW'07 — pigeonhole: any pair
  * within Hamming distance ≤ bands−1 agrees exactly on ≥1 band). A
  * 16-bit hash has only 16 possible values per 4-bit band — degenerate
  * buckets at any real corpus size — while four 16-bit lanes give 65,536
  * buckets per band, which is the classic 64-bit/4-band layout. Keeping
  * the lanes unpacked also sidesteps signed-64 overflow in the oracle
  * (lane values are bounded 0..65535 on both engines) and makes the
  * Hamming distance a sum of per-lane `bit_count(xor)`.
  *
  * Same single-pass, zero-amplification design as SimHash16/MinHash48:
  * one md5 per word feeds all four lanes, the plan stays fully narrow,
  * and codegen is a static call.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires a string argument, got ${child.dataType}")
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {

  val Lanes: Int = 4

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Word split = `split(text, ' ', -1)` (keeps empty tokens), matching
    * SimHash16 and the relational/oracle form. Lane `l`'s 16-bit word
    * hash is md5 bytes [2l, 2l+1] big-endian. */
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
