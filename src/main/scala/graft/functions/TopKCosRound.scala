package graft.functions

import java.math.{BigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `topk_cos_round(raw_cos, id, k, scale)` — the DESCENDING-cosine
  * top-k with lazy boundary rounding: bit-identical buffer contents to
  * the `topk_min(negcos, id, k)` form where
  * `negcos = NaN→−Inf sentinel, else −(round(raw, scale) + 0.0)`, but
  * the exact BigDecimal rounding is paid only at the top-k boundary
  * ([[TopKMinRound]]'s margin discipline on the negated axis).
  *
  * Why: every cosine rerank (`cosineTopK`, `knnGraph`, the IVF probed
  * reranks) rounds per PAIR before the bounded aggregate — on
  * knnGraph's Σ cᵢ² pair stream the `round(,4)` costs ~15× the dot
  * product it follows. The skip rule: with a full buffer whose worst
  * buffered score is `kth = −(round(c_kth) + 0.0)`, an incoming raw
  * cosine with `raw + margin < −kth` has `round(raw) < −kth` strictly
  * (margin = 0.6·quantum + 4·ulp ≥ the rounding displacement bound),
  * so its buffered value `−round(raw) > kth` and the insert would
  * reject it regardless of ids — skipping the round changes nothing.
  * NaN raw (zero-norm vectors) inserts the −Inf sentinel directly —
  * ranks FIRST, the DESC-window NaN contract, no rounding involved.
  * Null raw/id rows carry no candidate (TopKMin's contract). Output
  * rows are (score = buffered negcos, id) — consumers keep their
  * existing `−score` / sentinel-restore projection verbatim.
  * TopKCosRoundSpec pins equality against the sentinel + negate +
  * round + topk_min form on planted 4-dp ties, zero-norm NaNs,
  * +0.0-boundary cosines and shuffled arrival orders. */
case class TopKCosRound(
    score: Expression,
    id: Expression,
    k: Int,
    scale: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKMin.Buf] {

  require(k >= 1, s"k=$k must be >= 1")
  require(scale >= 0 && scale <= 15, s"scale=$scale out of range")

  private val quantum: Double = math.pow(10.0, -scale)

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "topk_cos_round"

  override def checkInputDataTypes(): TypeCheckResult =
    (score.dataType, id.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"topk_cos_round requires (double, bigint), got ($s, $i)")
    }

  private def roundS(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else BigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP)
      .doubleValue()

  override def createAggregationBuffer(): TopKMin.Buf = new TopKMin.Buf(k)

  override def update(buf: TopKMin.Buf, input: InternalRow): TopKMin.Buf = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      val raw = s.asInstanceOf[Double]
      val nid = i.asInstanceOf[Long]
      if (java.lang.Double.isNaN(raw)) {
        // zero-norm sentinel: −Inf ranks first (the DESC NaN contract)
        buf.insert(Double.NegativeInfinity, nid)
      } else {
        var skip = false
        if (buf.n == k) {
          val kth = buf.scores(k - 1)
          // kth = −Inf only when the buffer is all sentinels — then
          // −kth = +Inf and any numeric raw skips, exactly as the
          // insert would reject a numeric against k first-ranked NaNs
          skip = raw + (0.6 * quantum + 4.0 * Math.ulp(raw)) < -kth
        }
        if (!skip) buf.insert(-(roundS(raw) + 0.0), nid)
      }
    }
    buf
  }

  // merge/eval/serialize operate on buffered (negated, rounded)
  // entries — TopKMin's forms verbatim
  override def merge(buf: TopKMin.Buf, other: TopKMin.Buf): TopKMin.Buf = {
    var i = 0
    while (i < other.n) { buf.insert(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKMin.Buf): Any = {
    val rows = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) {
      rows(i) = InternalRow(buf.scores(i), buf.ids(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKMin.Buf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + buf.n * 16)
    bb.putInt(buf.k).putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putDouble(buf.scores(i)).putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKMin.Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new TopKMin.Buf(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      val s = bb.getDouble(); val id = bb.getLong()
      buf.scores(i) = s; buf.ids(i) = id
      i += 1
    }
    buf.n = n
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKCosRound =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKCosRound =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKCosRound =
    copy(score = newChildren(0), id = newChildren(1))
}
