package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst aggregate: `cms_sketch(word)` — the whole
  * depth×width Count–Min counter grid in ONE accumulation pass,
  * returned as a flat `array<long>` (row-major, cell `r·width + c`).
  *
  * Why a TypedImperativeAggregate: the declarative formulation
  * explodes `depth` rows per token (one per hash row) and shuffles
  * O(tokens·depth) `(r, c)` keys into the grid groupBy — at sf1 that
  * is 48M generated rows and the dominant cost of q139 (8.7s; this
  * pass replaces it with one md5 + 4 array increments per token and a
  * shuffle of ONE 32 KB buffer per task). Same trick as
  * [[CovMoments]]: the sketch is a fixed-size commutative monoid, so
  * partials merge element-wise and the result is EXACTLY the grid the
  * relational form produces — all integer counts, no rounding
  * discipline, oracle unchanged.
  *
  * Hash contract (the cross-engine discipline): row `r`'s counter for
  * a token is bytes `4r..4r+3` of ONE md5 over the token's UTF-8
  * bytes, read big-endian unsigned, mod `width` — byte-identical to
  * the oracle's `('0x' || substr(md5(word), r*8+1, 8))::BIGINT %
  * width` and to the relational form's `conv(substring(h, r*8+1, 8),
  * 16, 10) % width`. `depth·8 ≤ 32` hex chars bounds depth at 4.
  */
case class CmsSketch(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(depth >= 1 && depth * 8 <= 32, s"depth=$depth needs <=32 hex chars")
  require(width >= 1, s"width=$width")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cms_sketch"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cms_sketch requires a string argument, got $t")
  }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val md = CmsSketch.digest.get()
      md.reset()
      val h = md.digest(v.asInstanceOf[UTF8String].getBytes)
      var r = 0
      while (r < depth) {
        buf(r * width + CmsSketch.cell(h, r, width)) += 1L
        r += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

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

  override def withNewMutableAggBufferOffset(o: Int): CmsSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsSketch =
    copy(child = newChildren.head)
}

object CmsSketch {

  private[graft] val digest =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Row `r`'s counter index for an md5 digest: bytes 4r..4r+3
    * big-endian unsigned mod `width` — == hex chars r·8+1..r·8+8 of
    * the hex rendering (`('0x' || substr(md5(w), r*8+1, 8))::BIGINT %
    * width`). Shared by the aggregate and the streaming tracker so
    * their cells can never diverge. */
  @inline def cell(h: Array[Byte], r: Int, width: Int): Int = {
    val u = ((h(4 * r) & 0xffL) << 24) | ((h(4 * r + 1) & 0xffL) << 16) |
      ((h(4 * r + 2) & 0xffL) << 8) | (h(4 * r + 3) & 0xffL)
    (u % width).toInt
  }
}
