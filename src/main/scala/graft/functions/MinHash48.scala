package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: per-row MinHash signature over char
  * 8-gram shingles — `minhash48(text)` → array<long> of k minima, where
  * h_p(shingle) = (48-bit md5 prefix) XOR salt_p.
  *
  * Why a custom Expression (SURVEY §4 / builder-prompt preference
  * order): the composed-operator form (explode shingles → 8 min
  * aggregates) amplifies each document into hundreds of rows and pays a
  * hash-aggregate just to reduce them back. The signature is a pure
  * per-row function of the text, so a scalar expression computes it in
  * ONE pass with ZERO row amplification and no aggregate at all — the
  * narrow plan Spark can't derive from relational pieces. Codegen stays
  * whole-stage: doGenCode emits a static call (standard pattern for
  * digest-bearing exprs, cf. Spark's own Md5 expression).
  *
  * Same hash family as q51's relational form (md5 48-bit prefix, xor
  * salts, min over the multiset) → identical results, oracle-checkable.
  */
case class MinHash48(child: Expression, salts: Seq[Long])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash48 requires a string argument, got ${child.dataType}")
  override def prettyName: String = "minhash48"

  override protected def nullSafeEval(input: Any): Any =
    MinHash48.compute(input.asInstanceOf[UTF8String], salts.toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltsRef = ctx.addReferenceObj("salts", salts.toArray, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHash48.compute($c, $saltsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHash48 =
    copy(child = newChild)
}

object MinHash48 {

  /** Default permutation salts (48-bit) — shared with
    * graft.queries.ExtQueries so the relational form and the expression
    * form produce identical signatures. */
  val defaultSalts: Seq[Long] = Seq(
    0L, 0x9E3779B97F4AL, 0x3243F6A8885AL, 0x13198A2E0370L,
    0xA4093822299FL, 0x082EFA98EC4EL, 0x452821E638D0L, 0xBE5466CF34E9L)

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  /** Shingling caps at the first 4096 positions — the shared contract
    * across the expression, the relational form, and the DuckDB oracle
    * (bounds per-doc work; documents longer than this contribute their
    * prefix, which is standard for sketch-based dedup). */
  val MaxShinglePos: Int = 4096

  /** THE shingling contract, in one place: char-8-gram shingles at
    * positions 1..min(max(len−7,1), MaxShinglePos), counted in CODE
    * POINTS (matching `substr(text,i,8)` on Spark AND DuckDB — both
    * count code points, not UTF-16 units). Shared by minhash48,
    * jaccard8, and (as SQL) every shingle-based oracle — change it here
    * or nowhere. */
  def foreachShingle(s: UTF8String)(f: String => Unit): Unit = {
    val cps = s.toString.codePoints().toArray
    val len = cps.length
    val nPos = math.min(math.max(len - 7, 1), MaxShinglePos)
    var pos = 0
    while (pos < nPos) {
      val end = math.min(pos + 8, len)
      f(new String(cps, pos, end - pos))
      pos += 1
    }
  }

  /** One pass over the text: md5 each shingle's UTF-8 bytes, take the
    * first 12 hex chars as a 48-bit long, fold min(h XOR salt_p) per
    * permutation. */
  def compute(s: UTF8String, salts: Array[Long]): ArrayData = {
    val mins = Array.fill(salts.length)(Long.MaxValue)
    val md = digest.get()
    foreachShingle(s) { shingle =>
      md.reset()
      val d = md.digest(shingle.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 12 hex chars = first 6 bytes, big-endian
      var h = 0L
      var b = 0
      while (b < 6) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      var p = 0
      while (p < salts.length) {
        val v = h ^ salts(p)
        if (v < mins(p)) mins(p) = v
        p += 1
      }
    }
    new GenericArrayData(mins)
  }

  /** Hex form of the 48-bit hash for a single shingle (test helper —
    * must equal `substr(md5(sh),1,12)`). */
  def hex48(shingle: String): String = {
    val md = digest.get(); md.reset()
    val d = md.digest(shingle.getBytes("UTF-8"))
    val sb = new StringBuilder
    var i = 0
    while (i < 6) {
      sb.append(hexDigits((d(i) >> 4) & 0xf)).append(hexDigits(d(i) & 0xf))
      i += 1
    }
    sb.toString
  }
}
