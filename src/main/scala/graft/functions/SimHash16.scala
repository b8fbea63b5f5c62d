package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `simhash16(text)` → 16-bit SimHash over
  * whitespace words (per-word md5 16-bit prefix votes ±1 per bit
  * position; simhash bit = majority sign).
  *
  * Why a custom Expression (same reasoning as MinHash48): the
  * relational form explodes every word into a row and reduces them
  * back through a 16-sum aggregate — row amplification plus a shuffle
  * for what is a pure per-row function of the text. This computes the
  * hash in ONE pass with zero amplification and keeps the plan fully
  * narrow. Bit-identical to the relational form (and the DuckDB
  * oracle): word split = `split(text, ' ', -1)`, h = first 4 md5 hex
  * chars, vote +1 iff bit set, bit kept iff vote sum >= 0.
  */
case class SimHash16(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash16 requires a string argument, got ${child.dataType}")
  override def prettyName: String = "simhash16"

  override protected def nullSafeEval(input: Any): Any =
    SimHash16.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash16.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(child = newChild)
}

object SimHash16 {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Matches the relational form exactly: Spark's `split(text, ' ')`
    * keeps interior empty tokens (split-with-limit -1), and each word's
    * 16-bit hash is the first two md5 bytes big-endian (= the first 4
    * hex chars). */
  def compute(s: UTF8String): Long = {
    val words = s.toString.split(" ", -1)
    val votes = new Array[Int](16)
    val md = digest.get()
    var wi = 0
    while (wi < words.length) {
      md.reset()
      val d = md.digest(words(wi).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = ((d(0) & 0xff) << 8) | (d(1) & 0xff)
      var b = 0
      while (b < 16) {
        if (((h >> b) & 1) == 1) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      wi += 1
    }
    var out = 0L
    var b = 0
    while (b < 16) {
      if (votes(b) >= 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
