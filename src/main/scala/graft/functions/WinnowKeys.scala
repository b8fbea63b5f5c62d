package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `winnow_keys(text)` → `array<long>` —
  * the winnowing fingerprint selection
  * ([[graft.ext.TextStats.winnow]]) as ONE compiled per-row call:
  * k-gram hashes, per-w-window minimum of the hash·8192+pos key,
  * distinct selected keys.
  *
  * Why ([[QcScore]]'s argument): even the let-bound SQL form runs its
  * per-gram md5 and per-window slice/array_min through interpreted
  * higher-order lambdas — at sf1 (50k docs) that cost 51s where the
  * DuckDB relational replay needed 8s. A tight loop with a reused
  * digest and a rolling window-min brings the same arithmetic into
  * compiled code.
  *
  * Bit-parity contract (the q133/q136 oracle spelling): tokens =
  * `split(text, ' ')` (Java split limit −1); m = min(max(len−k+1, 0),
  * [[MinHash48.MaxShinglePos]]) grams, positions 1-based; gram hash =
  * first 4 md5 bytes of the space-joined k words' UTF-8 as an
  * unsigned 32-bit value; key = hash·8192 + pos (leftmost-min tie
  * break via the pos term); windows j = 1..m−w+1 each select
  * min(keys[j..j+w−1]); the result is the DISTINCT selected key set
  * (m < w → empty). Null text is null (explode drops it). */
case class WinnowKeys(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_keys"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_keys requires a string argument, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    WinnowKeys.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WinnowKeys.compute($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowKeys =
    copy(child = newChild)
}

object WinnowKeys {

  private val digest =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  def compute(text: UTF8String, k: Int, w: Int): GenericArrayData = {
    val words = text.toString.split(" ", -1)
    val m = math.min(math.max(words.length - (k - 1), 0),
      MinHash48.MaxShinglePos)
    if (m < w) return new GenericArrayData(Array.emptyLongArray)
    val md = digest.get()
    val keys = new Array[Long](m)
    var i = 0
    while (i < m) {
      md.reset()
      var j = 0
      while (j < k) {
        if (j > 0) md.update(' '.toByte)
        md.update(words(i + j).getBytes("UTF-8"))
        j += 1
      }
      val d = md.digest()
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      keys(i) = h * 8192L + (i + 1)
      i += 1
    }
    // per-window min, distinct in first-seen order
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    val nWin = m - w + 1
    while (j < nWin) {
      var mn = keys(j)
      var t = 1
      while (t < w) {
        if (keys(j + t) < mn) mn = keys(j + t)
        t += 1
      }
      seen.add(mn)
      j += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** Bind `winnow_keys` at fixed (k, w) under its own name,
    * `winnow_keys_<k>_<w>`, once per session, and return that name:
    * registering the same (k, w) again keeps the binding, and another
    * (k, w) in the same session gets a binding of its own. */
  def register(spark: org.apache.spark.sql.SparkSession, k: Int,
      w: Int): String = {
    val name = s"winnow_keys_${k}_$w"
    Functions.bind(spark, name, 1, replace = false)(a => WinnowKeys(a(0), k, w))
    name
  }

  /** The distinct winnow fingerprint set of `textCol` at (k, w):
    * [[register]]'s `winnow_keys` with the position term dropped
    * (`key DIV 8192`) — the `fps` column of a winnow index and the new
    * side of every increment against one. */
  def fingerprints(spark: org.apache.spark.sql.SparkSession, k: Int, w: Int,
      textCol: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(
      s"array_distinct(transform(${register(spark, k, w)}($textCol), x -> x DIV 8192))")
}
