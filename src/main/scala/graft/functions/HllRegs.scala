package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst aggregate: `hll_regs(word)` — the 256-bucket
  * HyperLogLog register table (per-bucket MIN 40-bit md5 suffix) in
  * ONE accumulation pass, returned as `array<long>` indexed by bucket
  * (`Long.MaxValue` = bucket never hit).
  *
  * Why: the relational register build hashes each token TWICE
  * (separate `substr(md5(w),..)` calls for bucket and suffix) and
  * shuffles an O(tokens) `(source, bkt)` min aggregate. Here each
  * token costs one md5 + one array min into a task-local 2 KB buffer;
  * partials merge element-wise (min is the register monoid —
  * [[graft.streaming.Streams.hllDistinct]] exploits the same
  * property), and the emitted minima are EXACTLY the relational
  * `min(sfx)` values, so the estimator math downstream — and the
  * oracle — are unchanged.
  *
  * Hash contract: bucket = md5 byte 0 (hex chars 1–2), suffix =
  * bytes 1..5 big-endian unsigned (hex chars 3–12) — byte-identical
  * to `('0x' || substr(md5(w), 1, 2))::BIGINT` /
  * `('0x' || substr(md5(w), 3, 10))::BIGINT`.
  */
case class HllRegs(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hll_regs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hll_regs requires a string argument, got $t")
  }

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(256)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val md = CmsSketch.digest.get()
      md.reset()
      val h = md.digest(v.asInstanceOf[UTF8String].getBytes)
      val bkt = h(0) & 0xff
      val sfx = ((h(1) & 0xffL) << 32) | ((h(2) & 0xffL) << 24) |
        ((h(3) & 0xffL) << 16) | ((h(4) & 0xffL) << 8) | (h(5) & 0xffL)
      if (sfx < buf(bkt)) buf(bkt) = sfx
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 256) {
      if (other(i) < buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(256 * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](256)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): HllRegs =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllRegs =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllRegs =
    copy(child = newChildren.head)
}
