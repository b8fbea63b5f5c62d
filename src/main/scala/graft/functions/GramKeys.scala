package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `gram_keys(text)` →
  * `array<struct<n: int, h: bigint>>` — the tagged multi-size word
  * n-gram generator behind [[graft.ext.TextStats.contamLadder]] as ONE
  * compiled per-row call: for each rung size `n`, the 64-bit hash of
  * every n-gram start position (under the shared 4096-start cap and
  * the short-doc convention), tagged with its rung.
  *
  * Why ([[WinnowKeys]]'s argument): the interpreted form builds each
  * gram as an `array_join(slice(ws, i+1, n), ' ')` STRING — at sf1
  * that is ~90M string allocations through interpreted higher-order
  * lambdas per ladder pass (2.51× the DuckDB replay). Here a gram
  * costs O(1) after an O(words) prefix pass: per-word FNV-1a hashes,
  * a polynomial prefix (`P[i+1] = P[i]·B + wh[i]`), and
  * `h = P[end] − P[start]·B^len` — no string ever materializes and
  * the loop stays inside whole-stage codegen.
  *
  * Equivalence contract with the gram-string form (the oracle still
  * replays strings): words come from `split(text, ' ')` (Java limit
  * −1), which yields space-free tokens, so `array_join(..., ' ')` is
  * a BIJECTION between word sequences and gram strings — two grams
  * are string-equal iff they are sequence-equal, and the polynomial
  * sequence hash preserves exactly that relation (modulo 64-bit
  * collisions, ~1e-7 at 10⁶ distinct grams). Rung enumeration is the
  * shared convention: starts `0..min(max(len−n, 0), cap)` inclusive —
  * one clipped whole-doc gram when the doc is shorter than the rung.
  * Null text is null (explode drops it). */
case class GramKeys(child: Expression, sizes: Seq[Int], cap: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("n", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "gram_keys"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gram_keys requires a string argument, got ${child.dataType}")

  @transient private lazy val ref = new GramKeysRef(sizes.toArray, cap)

  override protected def nullSafeEval(input: Any): Any =
    ref.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("gramKeys", ref, classOf[GramKeysRef].getName)
    defineCodeGen(ctx, ev, c => s"$r.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): GramKeys =
    copy(child = newChild)
}

object GramKeys {

  /** Bind `gram_keys` at fixed rung sizes + start cap — parameter-
    * specific, so registration replaces any prior binding. */
  def register(spark: org.apache.spark.sql.SparkSession, sizes: Seq[Int],
      cap: Int = 4096): Unit = {
    Functions.bind(spark, "gram_keys", 1)(a => GramKeys(a(0), sizes, cap))
  }
}

/** The per-rung generator behind [[GramKeys]] — a plain serializable
  * object (`addReferenceObj`), precomputing the B-power table once per
  * expression instance instead of per row. */
final class GramKeysRef(val sizes: Array[Int], val cap: Int)
    extends Serializable {
  require(sizes.nonEmpty && sizes.sameElements(sizes.sorted) &&
    sizes.distinct.length == sizes.length,
    s"sizes must be distinct ascending, got ${sizes.mkString(",")}")

  // FNV-1a 64 constants double as the polynomial base (odd, so the
  // multiply is invertible mod 2^64 — no systematic collisions).
  private val FnvOffset = 0xcbf29ce484222325L
  private val FnvPrime = 0x100000001b3L

  // B^0..B^maxN for the O(1) windowed-hash subtraction
  private val pow: Array[Long] = {
    val p = new Array[Long](sizes.last + 1)
    p(0) = 1L
    var i = 1
    while (i < p.length) { p(i) = p(i - 1) * FnvPrime; i += 1 }
    p
  }

  private def fnv(bytes: Array[Byte]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) {
      h ^= bytes(i) & 0xffL
      h *= FnvPrime
      i += 1
    }
    h
  }

  def compute(text: UTF8String): GenericArrayData = {
    val words = text.toString.split(" ", -1)
    val L = words.length
    // per-word hashes + polynomial prefix P[i+1] = P[i]*B + wh[i]
    val prefix = new Array[Long](L + 1)
    var i = 0
    while (i < L) {
      prefix(i + 1) = prefix(i) * FnvPrime + fnv(words(i).getBytes("UTF-8"))
      i += 1
    }
    var total = 0
    var s = 0
    while (s < sizes.length) {
      total += math.min(math.max(L - sizes(s), 0), cap) + 1
      s += 1
    }
    val out = new Array[Any](total)
    var o = 0
    s = 0
    while (s < sizes.length) {
      val n = sizes(s)
      val lastStart = math.min(math.max(L - n, 0), cap)
      var st = 0
      while (st <= lastStart) {
        val end = math.min(st + n, L)
        // sequence hash of words[st, end) — length folded in so a
        // clipped gram can't alias a full one within its rung
        val h = (prefix(end) - prefix(st) * pow(end - st)) ^ (end - st).toLong
        out(o) = InternalRow(n, h)
        o += 1
        st += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }
}
