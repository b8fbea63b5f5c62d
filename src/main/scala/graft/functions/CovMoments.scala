package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Custom Catalyst aggregate: `cov_moments(v)` — the whole centered
  * covariance matrix of an `array<double>` column in ONE compiled
  * accumulation pass, returned as the upper triangle (row-major
  * (i,j), i ≤ j) of 6-dp-rounded doubles.
  *
  * Why a TypedImperativeAggregate: the declarative formulation explodes
  * d(d+1)/2 pair terms per row through an INTERPRETED higher-order
  * lambda (boxed struct + DECIMAL allocation per term) and shuffles the
  * multiplied-out rows — measured 7.7s at sf0.1 where this pass runs in
  * ~0.2s. Here each input row does d(d+1)/2 + d fused multiply-
  * truncate-accumulate steps into a flat long[] buffer; partials merge
  * per partition (map-side combine — the shuffle carries ONE buffer per
  * task regardless of corpus size), exactly mllib's d² moment shape but
  * DataFrame-native and oracle-exact.
  *
  * Exactness contract (the cross-engine discipline): each term is
  * TRUNCATED to integer nanos — `(long)(x·10⁹)` here,
  * `CAST(trunc(x * 1000000000.0) AS BIGINT)` in DuckDB; both truncate
  * toward zero on the identical IEEE product, so every term is the
  * same integer on both engines and integer sums are order-free.
  * Accumulation is 128-bit (two-limb) so no corpus size can overflow
  * silently. The final per-pair double math mirrors the oracle's
  * spelling operation for operation:
  * `round((sxy/1e9 − (si/1e9)·(sj/1e9)/n)/n, 6)` with HALF_UP on the
  * shortest decimal repr (Spark `round`'s semantics).
  */
case class CovMoments(
    child: Expression,
    dims: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val nPairs = dims * (dims + 1) / 2
  // layout: [0, 2·nPairs) pair sums as (lo, hi) limb pairs;
  // then 2·dims dim-sum limb pairs; last slot = row count
  private val bufLen = 2 * nPairs + 2 * dims + 1

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "cov_moments"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cov_moments requires array<double>, got $t")
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bufLen)

  /** 128-bit two's-complement accumulate: buf[k]:buf[k+1] (lo:hi) +=
    * sign-extended term. */
  @inline private def add128(buf: Array[Long], k: Int, term: Long): Unit = {
    val lo = buf(k)
    val nlo = lo + term
    // unsigned carry out of the low limb
    val carry = ((lo & term) | ((lo | term) & ~nlo)) >>> 63
    buf(k) = nlo
    buf(k + 1) += (term >> 63) + carry
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val x = arr.toDoubleArray()
      require(x.length >= dims, s"embedding has ${x.length} dims, need $dims")
      var k = 0
      var i = 0
      while (i < dims) {
        val xi = x(i)
        var j = i
        while (j < dims) {
          add128(buf, 2 * k, (xi * x(j) * 1e9).toLong)
          k += 1
          j += 1
        }
        add128(buf, 2 * nPairs + 2 * i, (xi * 1e9).toLong)
        i += 1
      }
      buf(bufLen - 1) += 1
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var k = 0
    while (k < bufLen - 1) {
      // add other's 128-bit limb pair into buf's
      val lo = buf(k)
      val olo = other(k)
      val nlo = lo + olo
      val carry = ((lo & olo) | ((lo | olo) & ~nlo)) >>> 63
      buf(k) = nlo
      buf(k + 1) += other(k + 1) + carry
      k += 2
    }
    buf(bufLen - 1) += other(bufLen - 1)
    buf
  }

  private def toDouble(buf: Array[Long], k: Int): Double = {
    val hi = buf(k + 1)
    val lo = buf(k)
    // exact 128-bit value → correctly-rounded double (BigInteger is
    // correctly rounded in doubleValue)
    java.math.BigInteger.valueOf(hi).shiftLeft(64)
      .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo)))
      .doubleValue()
  }

  override def eval(buf: Array[Long]): Any = {
    val n = buf(bufLen - 1).toDouble
    val out = new Array[Double](nPairs)
    if (n > 0) {
      val si = Array.tabulate(dims)(i =>
        toDouble(buf, 2 * nPairs + 2 * i) / 1e9)
      var k = 0
      var i = 0
      while (i < dims) {
        var j = i
        while (j < dims) {
          val sxy = toDouble(buf, 2 * k) / 1e9
          val cov = (sxy - si(i) * si(j) / n) / n
          out(k) = new java.math.BigDecimal(java.lang.Double.toString(cov))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          k += 1
          j += 1
        }
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(bufLen * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bufLen)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): CovMoments =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CovMoments =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CovMoments =
    copy(child = newChildren.head)
}
