package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `xorfp48(text)` → order-insensitive
  * document fingerprint = XOR over the DISTINCT whitespace words of the
  * 48-bit md5 prefix (the OP-X1 hash family).
  *
  * Why a custom Expression (same reasoning as MinHash48/SimHash16): the
  * relational form explodes words, dedups them with a per-doc DISTINCT
  * (a shuffle), aggregates the xor (another shuffle), and joins the
  * result back — for what is a pure per-row function of the text. One
  * pass, a per-row word set, zero shuffles.
  */
case class XorFp48(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"xorfp48 requires a string argument, got ${child.dataType}")
  override def prettyName: String = "xorfp48"

  override protected def nullSafeEval(input: Any): Any =
    XorFp48.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.XorFp48.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): XorFp48 =
    copy(child = newChild)
}

object XorFp48 {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** XOR of 48-bit md5 prefixes over the distinct words of
    * `split(text, ' ', -1)` — matches the relational
    * `bit_xor(DISTINCT-words conv(substr(md5(w),1,12),16,10))` form. */
  def compute(s: UTF8String): Long = {
    val words = s.toString.split(" ", -1)
    val seen = new java.util.HashSet[String]()
    val md = digest.get()
    var acc = 0L
    var i = 0
    while (i < words.length) {
      if (seen.add(words(i))) {
        md.reset()
        val d = md.digest(words(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h = 0L
        var b = 0
        while (b < 6) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        acc ^= h
      }
      i += 1
    }
    acc
  }
}
