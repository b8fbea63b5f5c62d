package graft.functions

import java.math.{BigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `topk_min_round(raw, id, k, scale)` — bit-identical verdicts to
  * `topk_min(round(raw, scale), id, k)` with the exact decimal rounding
  * paid only at the BOUNDARY of the top k, not per candidate.
  *
  * Why: the ADC search hot loops (`sqSearch`, `pqSearchADC`,
  * `ivfPqSearch`) rank `(round(dist2, 6), n_id)` over a |queries|·n
  * candidate stream. Spark's `round` on doubles goes through
  * `BigDecimal.valueOf`, which STRINGIFIES — ~2 µs/pair·core, the
  * single dominant cost of the relational ADC baselines at the
  * 200k-vector decade (q132 59.7s / q127 31.2s), paid on every pair
  * for a verdict that only k of them survive.
  *
  * The skip rule ([[CentroidTopK]]'s boundary-margin discipline,
  * restated for a streaming ≤k buffer): rounding moves a double by at
  * most half a quantum plus representation slack —
  * `|round_s(x) − x| ≤ 0.5·10⁻ˢ + 1.5·ulp(x)` (BigDecimal.valueOf is
  * the shortest decimal repr, within ulp(x)/2 of x; setScale moves
  * ≤ 0.5 quantum in exact decimal arithmetic; doubleValue adds
  * ≤ ulp(x)). So once the buffer holds k entries, an incoming raw
  * score with `raw − margin > kth` (kth = the buffer's worst ROUNDED
  * score, margin = 0.6 quantum + 4 ulp ≥ the bound above) has
  * `round_s(raw) > kth` strictly and the insert would reject it —
  * skipping the round changes nothing. Everything else rounds exactly
  * and inserts through [[TopKMin.Buf]] verbatim, so order, tie-breaks
  * (ascending id on equal ROUNDED score), NaN placement
  * (`Double.compare` total order — last), null-skipping, and merge
  * semantics are [[TopKMin]]'s by construction, not by analogy.
  * TopKMinRoundSpec pins equality against the round-then-topk_min form
  * with planted scale-s ties straddling the boundary.
  *
  * The buffer stays ≤ k entries (no margin-band accumulation): a
  * degenerate plateau of near-equal raw scores — exactly the shape a
  * near-duplicate corpus feeds an ADC rerank — costs rounding calls,
  * never memory. Rounds paid per group ≈ k + successful inserts +
  * boundary near-misses (O(k log n) on shuffled input), vs n before.
  */
case class TopKMinRound(
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
  override def prettyName: String = "topk_min_round"

  override def checkInputDataTypes(): TypeCheckResult =
    (score.dataType, id.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"topk_min_round requires (double, bigint), got ($s, $i)")
    }

  /** Spark `round(x, scale)` on doubles: NaN/Inf pass through, else
    * decimal HALF_UP on the shortest string repr (never −0.0). */
  private def roundS(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else BigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP)
      .doubleValue()

  override def createAggregationBuffer(): TopKMin.Buf = new TopKMin.Buf(k)

  override def update(buf: TopKMin.Buf, input: InternalRow): TopKMin.Buf = {
    val s = score.eval(input)
    val i = id.eval(input)
    // null score/id rows carry no candidate (TopKMin's contract)
    if (s != null && i != null) {
      val raw = s.asInstanceOf[Double]
      var skip = false
      if (buf.n == k && !java.lang.Double.isNaN(raw)) {
        val kth = buf.scores(k - 1)
        // kth NaN ⇒ any numeric candidate wins — never skip;
        // margin covers 0.5 quantum + decimal↔binary slack (see doc)
        skip = !java.lang.Double.isNaN(kth) &&
          raw - (0.6 * quantum + 4.0 * Math.ulp(raw)) > kth
      }
      if (!skip) buf.insert(roundS(raw), i.asInstanceOf[Long])
    }
    buf
  }

  // merge/eval/serialize operate on already-ROUNDED buffer entries —
  // TopKMin's forms verbatim
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

  override def withNewMutableAggBufferOffset(o: Int): TopKMinRound =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKMinRound =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKMinRound =
    copy(score = newChildren(0), id = newChildren(1))
}
