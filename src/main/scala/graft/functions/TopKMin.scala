package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded per-group top-k as a buffer: the k lexicographically
  * SMALLEST `(score, id)` pairs, kept in a ≤k-entry sorted insertion
  * buffer — returned as `array<struct<score double, id bigint>>`
  * ascending.
  *
  * Why a TypedImperativeAggregate: `row_number() OVER (PARTITION BY g
  * ORDER BY score, id) <= k` shuffles and SORTS every candidate row —
  * on the ANN search and kNN-graph shapes that is the entire pair
  * explosion (|queries|·n or Σ cᵢ² rows) through an exchange just to
  * keep k of each group (measured: the q153 kNN graph at 10× vectors
  * spent 112s, almost all of it the 25M-row rank window). With a
  * bounded buffer the pair stream folds WHERE IT IS GENERATED
  * (map-side partial aggregation — each group's pairs are co-located
  * by the blocking join, so partials collapse before the exchange) and
  * the shuffle carries ≤ groups × k entries. Per-group TakeOrdered,
  * exactly.
  *
  * Ordering contract: `java.lang.Double.compare` on score (the total
  * order Spark's SortOrder uses on doubles — −0.0 < 0.0, NaN last),
  * id ascending as the tie-break — identical verdicts to an ASCENDING
  * rank window on the same `(score, id)` stream, so every consumer's
  * oracle is unchanged. Descending ranks (cosine) negate the score:
  * inputs are `+0.0`-normalized upstream, so negation is order-exact
  * and `-(-0.0)` restores `+0.0` on the way out — but negation
  * INVERTS NaN placement (a DESC window ranks NaN first; negated-
  * ascending ranks it last), so descending consumers must map NaN to
  * a `−Infinity` sentinel before negating and restore it after (see
  * `Similarity.cosineTopK` / `knnGraph` — zero-norm vectors produce
  * NaN cosines).
  */
case class TopKMin(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKMin.Buf] {

  require(k >= 1, s"k=$k must be >= 1")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "topk_min"

  override def checkInputDataTypes(): TypeCheckResult =
    (score.dataType, id.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"topk_min requires (double, bigint), got ($s, $i)")
    }

  override def createAggregationBuffer(): TopKMin.Buf = new TopKMin.Buf(k)

  override def update(buf: TopKMin.Buf, input: InternalRow): TopKMin.Buf = {
    val s = score.eval(input)
    val i = id.eval(input)
    // null score/id rows carry no candidate — skipped, exactly as the
    // rank window's NULLS-LAST ordering keeps them out of the top k
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

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

  override def withNewMutableAggBufferOffset(o: Int): TopKMin =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKMin =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKMin =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKMin {

  /** ≤k-entry sorted insertion buffer: parallel arrays ordered by
    * (score via Double.compare, id). Inserts past capacity that are
    * not better than the current worst reject in O(1); accepted
    * inserts binary-search the position and shift — k is small by
    * contract (a rank cutoff), so the shift is a few cache lines. */
  final class Buf(val k: Int) {
    val scores = new Array[Double](k)
    val ids = new Array[Long](k)
    var n = 0

    def insert(s: Double, id: Long): Unit = {
      if (n == k) {
        val c = java.lang.Double.compare(s, scores(n - 1))
        if (c > 0 || (c == 0 && id >= ids(n - 1))) return
      }
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val c = java.lang.Double.compare(scores(mid), s)
        if (c < 0 || (c == 0 && ids(mid) < id)) lo = mid + 1 else hi = mid
      }
      val last = if (n == k) k - 1 else n
      var i = last
      while (i > lo) { scores(i) = scores(i - 1); ids(i) = ids(i - 1); i -= 1 }
      scores(lo) = s
      ids(lo) = id
      if (n < k) n += 1
    }
  }
}
