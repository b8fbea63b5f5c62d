package graft.functions

import java.math.{BigDecimal, RoundingMode}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `adc_topk_multi(codes, n_id)` — the WHOLE exhaustive ADC search
  * (every query × every candidate, top-k per query) as ONE global
  * TypedImperativeAggregate over a single narrow scan of the code
  * table, with the query batch's distance tables riding a broadcast
  * ([[QueryAdcModelRef]]).
  *
  * Why: the relational form — `codes.crossJoin(broadcast(queries))`
  * → project `adc_sum_flat` → per-query top-k — is correct and
  * broadcast-shaped, but pays the JOIN MACHINERY per pair: a
  * BroadcastNestedLoopJoin output row, a projection, and an
  * ObjectHashAggregate probe for every (query, candidate) pair. At
  * the 200k-vector decade that is 412M materialized rows for q132's
  * 64-lookup flat fold — measured ~4 µs/pair·core, ~20× the cost of
  * the arithmetic itself. Here the pair loop never leaves the
  * aggregate's update: each code row folds against ALL query tables
  * in one cache-linear pass (the tables are query-major in one flat
  * primitive array), updating per-query ≤k insertion buffers. The
  * plan is scan → partial agg → single-row exchange → explode: zero
  * joins, zero row amplification, and the exchange carries
  * |queries|·k entries per task — the only shape whose exhaustive-
  * baseline cost at 100 TB is the arithmetic itself.
  *
  * Ranking contract (exactly the relational form's, per query):
  * `(round(dist, scale) ASC, n_id ASC)`, where dist is
  * [[AdcSumFlat.compute]]'s sequential index-order fold. The exact
  * decimal rounding is LAZY ([[TopKMinRound]]'s skip-margin proof):
  * a candidate with `dist − (0.6·quantum + 4·ulp) > kth-rounded`
  * cannot round into the top k and skips the BigDecimal. Because
  * every table entry is a SQUARE (≥ 0) and decimal HALF_UP rounding
  * is monotone (fl(+) over non-negative terms never decreases the
  * acc), the same test applied to a PARTIAL sum is already
  * conclusive — the fold early-abandons a hopeless candidate
  * mid-loop (checked every 16 terms), which no per-pair expression
  * could do. The mid-fold margin's ulp term uses the query's
  * FULL-sum upper bound ([[QueryAdcTables.maxSum]]), not the partial
  * acc: `ulp(maxSum) ≥ ulp(kth)` for ANY table magnitude, so the
  * margin provably covers kth's own decimal-to-double displacement
  * without leaning on the subtler `abandon ⟹ kth < partial ⟹
  * ulp(kth) ≤ ulp(partial)` chain — and costs nothing (ulp(maxSum)
  * ≪ quantum for every in-repo table builder; the post-fold skip
  * keeps `ulp(acc)`, exact because there acc IS the final sum). Malformed rows (null/out-of-range code, wrong arity)
  * contribute no candidate — the `adc_sum_flat → NULL → topk_min
  * skips` behavior of the form this replaces. A candidate row whose
  * `n_id` equals a query's id is skipped for that query only (the
  * `q_id =!= n_id` pair filter). AdcTopKMultiSpec pins bit-equality
  * against the crossJoin + round + topk_min form on planted
  * boundary ties, NaN tables, self-pairs and malformed codes.
  *
  * Bounded-query contract ([[graft.ext.Similarity.cosineTopK]]'s):
  * the query batch collects to the driver and broadcasts — it is a
  * query BATCH by construction, never a corpus. */
case class AdcTopKMulti(
    codes: Expression,
    id: Expression,
    model: QueryAdcModelRef,
    k: Int,
    scale: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[AdcTopKMulti.MultiBuf] {

  require(k >= 1, s"k=$k must be >= 1")
  require(scale >= 0 && scale <= 15, s"scale=$scale out of range")

  private val quantum: Double = math.pow(10.0, -scale)

  override def children: Seq[Expression] = Seq(codes, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("q_id", LongType, nullable = false),
      StructField("rank", LongType, nullable = false),
      StructField("n_id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "adc_topk_multi"

  override def checkInputDataTypes(): TypeCheckResult =
    (codes.dataType, id.dataType) match {
      case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case (c, i) => TypeCheckResult.TypeCheckFailure(
        s"adc_topk_multi requires (array<bigint>, bigint), got ($c, $i)")
    }

  private def roundS(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else BigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP)
      .doubleValue()

  override def createAggregationBuffer(): AdcTopKMulti.MultiBuf =
    new AdcTopKMulti.MultiBuf(model.tables.qIds.length, k)

  override def update(buf: AdcTopKMulti.MultiBuf,
      input: InternalRow): AdcTopKMulti.MultiBuf = {
    val c = codes.eval(input)
    val i = id.eval(input)
    if (c == null || i == null) return buf
    val arr = c.asInstanceOf[ArrayData]
    val nid = i.asInstanceOf[Long]
    val t = model.tables
    val m = t.m
    val cells = t.cells
    // validate + unpack once per ROW (the old form validated per pair)
    if (arr.numElements() != m) return buf
    if (buf.pendOffs == null) {
      buf.pendOffs = new Array[Int](AdcTopKMulti.Batch * m)
      buf.pendIds = new Array[Long](AdcTopKMulti.Batch)
    }
    val at = buf.pendN * m
    var d = 0
    while (d < m) {
      if (arr.isNullAt(d)) return buf
      val cd = arr.getLong(d)
      if (cd < 0 || cd >= cells) return buf
      buf.pendOffs(at + d) = (d * cells + cd.toInt) // pre-strided
      d += 1
    }
    buf.pendIds(buf.pendN) = nid
    buf.pendN += 1
    if (buf.pendN == AdcTopKMulti.Batch) flush(buf)
    buf
  }

  /** Drain the pending row batch, QUERY-MAJOR: the pair loop's hot
    * operand is the query's m·cells-double table, so sweeping a block
    * of rows per query keeps that table L1-resident while the row-major
    * sweep (the per-row update it replaces) touched every query's table
    * per row — at the 200k decade the tables total ~270 MB and the
    * row-major order was memory-latency-bound, not arithmetic-bound.
    * Order of insertions changes; verdicts don't (the top-k by
    * (rounded, id) is order-free, and skips/abandons only ever drop
    * provably-hopeless candidates). */
  private def flush(buf: AdcTopKMulti.MultiBuf): Unit = {
    val t = model.tables
    val m = t.m
    val stride = m * t.cells
    val nQ = t.qIds.length
    val nRows = buf.pendN
    if (nRows == 0) return
    var qi = 0
    while (qi < nQ) {
      val off = qi * stride
      val qid = t.qIds(qi)
      // abandon margin from the query's FULL-sum upper bound:
      // ulp(t.maxSum(qi)) ≥ ulp(kth) at any table magnitude (kth is a
      // rounded final sum, final sums fold below maxSum), so the
      // margin covers kth's decimal→double displacement uniformly —
      // see the class doc. NaN/Inf bound ⇒ NaN/Inf margin ⇒ the
      // compare is false ⇒ abandonment disabled for that query only.
      val mfold = 0.6 * quantum + 4.0 * Math.ulp(t.maxSum(qi))
      var r = 0
      while (r < nRows) {
        val nid = buf.pendIds(r)
        if (qid != nid) { // the q_id =!= n_id pair filter
          val base = r * m
          val full = buf.ns(qi) == k
          val kth = if (full) buf.kth(qi) else Double.NaN
          // abandon bound: conclusive on PARTIAL sums (entries ≥ 0,
          // decimal rounding monotone — see class doc)
          val abandon = full && !java.lang.Double.isNaN(kth)
          var acc = 0.0
          var s = 0
          var dead = false
          while (s < m && !dead) {
            acc += t.flat(off + buf.pendOffs(base + s))
            s += 1
            if (abandon && (s & 15) == 0 && acc - mfold > kth)
              dead = true
          }
          if (!dead) {
            val skip = abandon &&
              acc - (0.6 * quantum + 4.0 * Math.ulp(acc)) > kth
            if (!skip) buf.insert(qi, roundS(acc), nid)
          }
        }
        r += 1
      }
      qi += 1
    }
    buf.pendN = 0
  }

  override def merge(buf: AdcTopKMulti.MultiBuf,
      other: AdcTopKMulti.MultiBuf): AdcTopKMulti.MultiBuf = {
    flush(buf)
    flush(other)
    var qi = 0
    while (qi < buf.nQ) {
      val base = qi * buf.k
      var j = 0
      while (j < other.ns(qi)) {
        buf.insert(qi, other.scores(base + j), other.ids(base + j))
        j += 1
      }
      qi += 1
    }
    buf
  }

  override def eval(buf: AdcTopKMulti.MultiBuf): Any = {
    flush(buf)
    val t = model.tables
    var total = 0
    var qi = 0
    while (qi < buf.nQ) { total += buf.ns(qi); qi += 1 }
    val rows = new Array[Any](total)
    var at = 0
    qi = 0
    while (qi < buf.nQ) {
      val base = qi * buf.k
      var j = 0
      while (j < buf.ns(qi)) {
        rows(at) = InternalRow(t.qIds(qi), (j + 1).toLong,
          buf.ids(base + j), buf.scores(base + j))
        at += 1
        j += 1
      }
      qi += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: AdcTopKMulti.MultiBuf): Array[Byte] = {
    flush(buf)
    var total = 0
    var qi = 0
    while (qi < buf.nQ) { total += buf.ns(qi); qi += 1 }
    val bb = java.nio.ByteBuffer.allocate(8 + buf.nQ * 4 + total * 16)
    bb.putInt(buf.nQ).putInt(buf.k)
    qi = 0
    while (qi < buf.nQ) {
      val base = qi * buf.k
      bb.putInt(buf.ns(qi))
      var j = 0
      while (j < buf.ns(qi)) {
        bb.putDouble(buf.scores(base + j)).putLong(buf.ids(base + j))
        j += 1
      }
      qi += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): AdcTopKMulti.MultiBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val nQ = bb.getInt()
    val kk = bb.getInt()
    val buf = new AdcTopKMulti.MultiBuf(nQ, kk)
    var qi = 0
    while (qi < nQ) {
      val n = bb.getInt()
      val base = qi * kk
      var j = 0
      while (j < n) {
        buf.scores(base + j) = bb.getDouble()
        buf.ids(base + j) = bb.getLong()
        j += 1
      }
      buf.ns(qi) = n
      qi += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): AdcTopKMulti =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): AdcTopKMulti =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AdcTopKMulti =
    copy(codes = newChildren(0), id = newChildren(1))
}

object AdcTopKMulti {

  /** Per-query ≤k insertion buffers over one flat pair of arrays —
    * [[TopKMin.Buf]]'s ordering ((score via Double.compare, id)
    * ascending) per k-wide segment. Entries hold ROUNDED scores. */
  /** Row batch drained query-major by the blocked flush — see
    * [[AdcTopKMulti]]. 256 rows × m offsets ≈ 64 KB at m = 64: the
    * streamed operand fits L2 while each query's table owns L1. */
  val Batch = 256

  final class MultiBuf(val nQ: Int, val k: Int) {
    val scores = new Array[Double](nQ * k)
    val ids = new Array[Long](nQ * k)
    val ns = new Array[Int](nQ)
    // pending blocked-sweep batch (scratch — flushed before any
    // serialize/eval/merge, never part of the logical state)
    var pendOffs: Array[Int] = null
    var pendIds: Array[Long] = null
    var pendN = 0

    /** The qi-th buffer's worst (kth) rounded score — only meaningful
      * when `ns(qi) == k`. */
    def kth(qi: Int): Double = scores(qi * k + ns(qi) - 1)

    def insert(qi: Int, s: Double, id: Long): Unit = {
      val base = qi * k
      val n = ns(qi)
      if (n == k) {
        val c = java.lang.Double.compare(s, scores(base + n - 1))
        if (c > 0 || (c == 0 && id >= ids(base + n - 1))) return
      }
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val c = java.lang.Double.compare(scores(base + mid), s)
        if (c < 0 || (c == 0 && ids(base + mid) < id)) lo = mid + 1 else hi = mid
      }
      val last = if (n == k) k - 1 else n
      var i = last
      while (i > lo) {
        scores(base + i) = scores(base + i - 1)
        ids(base + i) = ids(base + i - 1)
        i -= 1
      }
      scores(base + lo) = s
      ids(base + lo) = id
      if (n < k) ns(qi) = n + 1
    }
  }

  /** Bind `adc_topk_multi(codes, n_id, k, scale)` to a query-table
    * model (model-specific registration, [[CentroidTopK.register]]'s
    * pattern — binding resolves at analysis time). */
  def register(spark: org.apache.spark.sql.SparkSession,
      model: QueryAdcModelRef): Unit = {
    Functions.bind(spark, "adc_topk_multi", 4)(a =>
      AdcTopKMulti(AdcSum.coerceCodes(a(0)), a(1), model, a.int(2), a.int(3)))
  }
}

/** The query batch's ADC distance tables behind [[AdcTopKMulti]] —
  * query-major flat layout (`flat[qi·m·cells + s·cells + c]` = the
  * distance contribution of code `c` in slot `s` for query `qi`),
  * ids sorted ascending for deterministic output order. Rides a
  * Spark BROADCAST, not task serialization: the tables are
  * |queries|·m·cells doubles (≈270 MB at the 200k decade's n/97
  * batch), which torrent-broadcast ships once per executor — a
  * task-serialized reference object would re-ship and re-deserialize
  * them per task ([[CentroidTopK]] can afford that; this cannot). */
final class QueryAdcModelRef(
    bc: Broadcast[QueryAdcTables]) extends Serializable {
  def tables: QueryAdcTables = bc.value
}

final class QueryAdcTables(val qIds: Array[Long], val flat: Array[Double],
    val m: Int, val cells: Int) extends Serializable {
  require(qIds.length.toLong * m * cells == flat.length,
    s"shape mismatch: ${qIds.length} queries × $m×$cells vs ${flat.length}")
  locally {
    var i = 1
    while (i < qIds.length) {
      require(qIds(i - 1) < qIds(i), "query ids must be sorted ascending")
      i += 1
    }
  }

  /** Per-query upper bound on the COMPUTED full ADC sum: the
    * index-order FP fold of each slot's max entry. fl(+) is monotone
    * in both operands, so any candidate's computed fold is ≤ this
    * fold, hence `ulp(maxSum(qi)) ≥ ulp(any final acc)` — the ulp the
    * mid-fold early-abandon margin must use (the PARTIAL acc's ulp
    * can undershoot the final sum's for large-magnitude tables; see
    * [[AdcTopKMulti]]'s abandon note). NaN/Inf entries propagate to a
    * NaN/Inf bound, whose margin disables abandonment for that query
    * only — the post-fold skip still applies. */
  val maxSum: Array[Double] = {
    val out = new Array[Double](qIds.length)
    val stride = m * cells
    var qi = 0
    while (qi < qIds.length) {
      var acc = 0.0
      var s = 0
      while (s < m) {
        var mx = Double.NegativeInfinity
        var c = 0
        while (c < cells) {
          mx = Math.max(mx, flat(qi * stride + s * cells + c))
          c += 1
        }
        acc += mx
        s += 1
      }
      out(qi) = acc
      qi += 1
    }
    out
  }
}
