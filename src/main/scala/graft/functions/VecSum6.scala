package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Custom Catalyst aggregate: `vec_sum6(v)` — element-wise exact-
  * decimal vector sum of an `array<float|double>` column in ONE
  * compiled accumulation pass, returned as
  * `[s6_0, …, s6_{d−1}, n]` (`array<bigint>`): per-dimension sums of
  * the 6-dp-rounded terms in exact micro-units, plus the non-null row
  * count in the last slot.
  *
  * Why a TypedImperativeAggregate ([[CovMoments]]'s argument): the
  * declarative mean-pool explodes (row × dims) entries through an
  * interpreted `transform` + posexplode and shuffles the multiplied-
  * out stream into a (label, dim) aggregate — a ×dims row
  * amplification that kept q109 at ~7× of the DuckDB replay at 10×
  * vectors even after scan spreading. Here each input row folds its
  * dims terms into a flat long[] buffer where it is scanned; partials
  * merge map-side and the exchange carries ONE buffer per (group ×
  * task), so the explode happens AFTER aggregation on |groups| rows.
  *
  * Exactness contract (the q109 oracle spelling): term =
  * `round(CAST(x AS DOUBLE), 6)` — Spark's double round, i.e.
  * HALF_UP on the shortest decimal representation
  * (`BigDecimal.valueOf`) — carried as the exact integer micro-unit
  * value (`·10⁶`, `longValueExact`), so per-dimension sums are
  * order-free integers identical to the exact-DECIMAL(18,6) sum both
  * engines compute. Dimensionality is taken from the first non-null
  * row (groups of empty input return `[0]`); rows must agree on it.
  * A micro-unit long overflows at ~9.2·10¹² unit-scale rows per
  * group — beyond any real corpus, and `longValueExact`/addExact
  * would throw rather than wrap. */
case class VecSum6(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_sum6"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_sum6 requires array<float|double>, got $t")
  }

  private val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // layout: [n, s6_0, …, s6_{d−1}]; the empty buffer is length 1
  // (count only) until the first row fixes d
  override def createAggregationBuffer(): Array[Long] = Array(0L)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = children.head.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val x = if (isFloat) arr.toFloatArray().map(_.toDouble)
      else arr.toDoubleArray()
    val b = if (buf.length == 1 && buf(0) == 0L) new Array[Long](x.length + 1)
      else buf
    require(b.length == x.length + 1,
      s"vec_sum6: row has ${x.length} dims, group has ${b.length - 1}")
    var i = 0
    while (i < x.length) {
      b(i + 1) = Math.addExact(b(i + 1),
        java.math.BigDecimal.valueOf(x(i))
          .setScale(6, java.math.RoundingMode.HALF_UP)
          .movePointRight(6).longValueExact())
      i += 1
    }
    b(0) += 1
    b
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    if (other.length == 1 && other(0) == 0L) return buf
    if (buf.length == 1 && buf(0) == 0L) return other.clone()
    require(buf.length == other.length,
      s"vec_sum6: merging ${buf.length - 1}-dim and ${other.length - 1}-dim groups")
    var i = 0
    while (i < buf.length) {
      buf(i) = Math.addExact(buf(i), other(i))
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    // output order [sums…, n]: posexplode over a leading slice keeps
    // dim indexes 0-based without an offset dance
    val d = buf.length - 1
    val out = new Array[Long](buf.length)
    System.arraycopy(buf, 1, out, 0, d)
    out(d) = buf(0)
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): VecSum6 =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VecSum6 =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecSum6 =
    copy(child = newChildren.head)
}
