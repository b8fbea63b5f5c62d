package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `gopher_stats(text)` → the per-row
  * INTEGER statistics behind the composite Gopher quality gate, in one
  * compiled pass: word count, distinct-word count, the exact entropy
  * numerator (Σ round(ln(c),9)·c over word multiplicities, in 10⁻⁹
  * units — a lossless integer encoding of the DECIMAL(28,9) sum the
  * SQL formulation accumulates), the highest bigram multiplicity, and
  * the bigram count.
  *
  * Why a custom Expression (the SimHash16 reasoning, compounded):
  * Spark's higher-order `aggregate`/`transform` lambdas are
  * INTERPRETED — the sorted-run SQL form of the narrow gate pays an
  * allocation-heavy boxed lambda call per word AND an `array_sort`
  * per signal per row. This replaces all of it with two hash-map
  * passes of compiled Java. Returning raw integers (never rounded
  * doubles) keeps oracle parity trivial: the 6-dp roundings and
  * divisions stay in DataFrame-land, bit-identical to the relational
  * gate's expressions.
  *
  * Split semantics match `split(text, ' ')` (Java split limit -1,
  * interior+trailing empty tokens kept); bigram START positions cap at
  * the engine-wide 4096 enumeration bound (MinHash48.MaxShinglePos),
  * exactly like the SQL form's `least(size(ws)-1, 4096)`; the
  * word-level statistics are uncapped, as in the SQL form.
  */
case class GopherStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = GopherStats.schema

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gopher_stats requires a string argument, got ${child.dataType}")
  override def prettyName: String = "gopher_stats"

  override protected def nullSafeEval(input: Any): Any =
    GopherStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GopherStats.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): GopherStats =
    copy(child = newChild)
}

object GopherStats {

  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("ent_nanos", LongType, nullable = false),
    StructField("top_bigram_count", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false)))

  /** Bigram start positions cap — the engine-wide enumeration bound
    * shared with the SQL/oracle forms. */
  val MaxBigramStart: Int = MinHash48.MaxShinglePos

  /** round(ln(c), 6+3) in 10⁻⁹ units, HALF_UP — the exact unscaled
    * value of the SQL form's `CAST(round(ln(c), 9) AS DECIMAL(18,9))`.
    * Cached for the common small multiplicities. */
  private val lnNanosCache: Array[Long] =
    Array.tabulate(4097)(c => if (c == 0) 0L else lnNanosExact(c))

  private def lnNanosExact(c: Int): Long =
    new java.math.BigDecimal(java.lang.Double.toString(math.log(c.toDouble)))
      .setScale(9, java.math.RoundingMode.HALF_UP)
      .movePointRight(9).longValueExact()

  private def lnNanos(c: Int): Long =
    if (c < lnNanosCache.length) lnNanosCache(c) else lnNanosExact(c)

  def compute(s: UTF8String): InternalRow = {
    val words = s.toString.split(" ", -1)
    val n = words.length
    // word multiplicities → distinct count + exact entropy numerator
    val wm = new java.util.HashMap[String, Int](math.max(16, n * 2))
    var i = 0
    while (i < n) {
      wm.merge(words(i), 1, (a, b) => a + b)
      i += 1
    }
    var entNanos = 0L
    val it = wm.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      if (c > 1) entNanos += lnNanos(c) * c // ln(1)=0 contributes nothing
    }
    // bigram multiplicities over capped start positions → top count
    val nBg = if (n >= 2) math.min(n - 1, MaxBigramStart) else 0
    var best = 0
    if (nBg > 0) {
      val bm = new java.util.HashMap[String, Int](math.max(16, nBg * 2))
      var j = 0
      while (j < nBg) {
        val c = bm.merge(words(j) + " " + words(j + 1), 1, (a, b) => a + b)
        if (c > best) best = c
        j += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, wm.size().toLong, entNanos, best.toLong, nBg.toLong))
  }
}
