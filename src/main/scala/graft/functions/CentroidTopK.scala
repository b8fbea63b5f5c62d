package graft.functions

import java.math.{BigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Custom Catalyst expression: `centroid_topk(v, nrm, k)` →
  * `array<struct<centroid_id bigint, cos double>>` — the k best
  * centroids for one vector by `(round(cos, 4) DESC, centroid_id ASC)`
  * against a centroid matrix carried as a constant REFERENCE OBJECT
  * ([[CentroidModelRef]], the [[BloomDecontam]] discipline).
  *
  * Why an expression: every IVF assignment and probe in the engine is
  * "rank a bounded centroid table against each row". The relational
  * form — `crossJoin(broadcast(cents))` + a rank window — materializes
  * corpus × centroids rows and SHUFFLES them to sort each row's
  * partition: at a 200k-vector / 4,000-centroid decade that exchange
  * carries 800M rows for an argmax whose answer is one id per row
  * (measured 58.6s on q66; the interpreted `array_min(transform(...))`
  * HOF alternative avoids the shuffle but pays a per-element closure —
  * the round-8 measurement had it 5× slower than the codegen'd join at
  * hundreds of centroids). Here the matrix rides next to the plan, the
  * dot loop is one JIT'd flat-array pass per row, and the operator is
  * fully NARROW: zero shuffle, zero join, no row amplification — the
  * only shape whose index-build cost at 100 TB is a single scan.
  *
  * Ranking contract (the exact semantics of the window form
  * `row_number() OVER (ORDER BY round(dot64(v,cv)/(nrm*cn), 4) DESC,
  * centroid_id)` and of `ivfAssign`'s lexicographic argmin):
  *  - cosine = `round(dot64(v, cv) / (nrm * cn), 4)` — the same
  *    sequential index-order dot fold ([[Dot64.compute]]) and the same
  *    `BigDecimal.valueOf(x).setScale(4, HALF_UP)` rounding Spark's
  *    `round` applies to doubles (never emits −0.0);
  *  - ties at 4 dp break to the SMALLER centroid id;
  *  - a zero norm product has no defined cosine: NaN, ranked FIRST —
  *    `Double.compare`'s total order under DESC, the `cosineTopK`
  *    zero-norm discipline (the window form under ANSI would instead
  *    throw on the double division; spec-pinned divergence).
  *
  * Rounding cost: `BigDecimal.valueOf` stringifies — per-pair exact
  * rounding is the dominant cost at matrix scale (it is ALSO what the
  * window form paid, on top of its exchange). Rounding is monotone, so
  * the exact decision only needs the boundary: one raw-double pass
  * ranks all centroids, and only candidates within one-and-a-bit
  * 4 dp quanta (1.2e−4 > 1e−4 + two half-quantum contractions) of the
  * kth raw score can reach the rounded top k — those few are rounded
  * exactly and re-ranked. Candidates below the margin cannot round
  * into a tie with the kth value (a > 1e−4 raw gap survives two
  * ≤ 0.5e−4 rounding contractions), so verdicts are identical to
  * rounding everything (CentroidTopKSpec pins it against the window
  * form, planted 4 dp ties and zero norms included).
  */
case class CentroidTopK(vec: Expression, nrm: Expression,
    model: CentroidModelRef, k: Int) extends BinaryExpression {

  require(k >= 1, s"k=$k must be >= 1")

  override def left: Expression = vec
  override def right: Expression = nrm
  override def prettyName: String = "centroid_topk"

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("centroid_id", LongType, nullable = false),
      StructField("cos", DoubleType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, nrm.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (v, n) => TypeCheckResult.TypeCheckFailure(
        s"centroid_topk requires (array<double>, double), got ($v, $n)")
    }

  override protected def nullSafeEval(v: Any, n: Any): Any =
    model.topK(v.asInstanceOf[ArrayData], n.asInstanceOf[Double], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centroidModel", model,
      classOf[CentroidModelRef].getName)
    defineCodeGen(ctx, ev, (v, n) => s"$m.topK($v, $n, $k)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidTopK =
    copy(vec = newLeft, nrm = newRight)
}

object CentroidTopK {
  /** Bind `centroid_topk(v, nrm, k)` to a centroid set (model-specific
    * registration, [[BloomDecontam.register]]'s pattern — binding
    * resolves at DataFrame analysis time, so re-registration never
    * disturbs an already-built plan). */
  def register(spark: org.apache.spark.sql.SparkSession,
      model: CentroidModelRef): Unit = {
    Functions.bind(spark, "centroid_topk", 3)(a => CentroidTopK(a(0), a(1), model, a.int(2)))
  }
}

/** Custom Catalyst expression: `centroid_min_d2(v)` → double — the
  * minimum squared L2 distance from one vector to the model's
  * centroids, the exact arithmetic of the interpreted form
  * `array_min(transform(cb, cw -> dot64(v,v) - 2*dot64(v,cw)
  * + dot64(cw,cw)))`: per centroid the same three sequential dot
  * folds combined in the same order (v·v and cw·cw are deterministic
  * per operand, so hoisting them out of the loop moves no bits), and
  * the min taken in `Double.compare`'s total order (NaN greatest —
  * `array_min`'s ordering). One compiled narrow call replaces
  * |centroids| interpreted lambda closures × three interpreted dot64
  * invocations per row (q155's distance-profile pass: ~48 interpreted
  * calls/row → one). */
case class CentroidMinD2(vec: Expression, model: CentroidModelRef)
    extends UnaryExpression {

  override def child: Expression = vec
  override def prettyName: String = "centroid_min_d2"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = vec.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"centroid_min_d2 requires array<double>, got $t")
  }

  override protected def nullSafeEval(v: Any): Any =
    model.minD2(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centroidModel", model,
      classOf[CentroidModelRef].getName)
    defineCodeGen(ctx, ev, v => s"$m.minD2($v)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): CentroidMinD2 = copy(vec = newChild)
}

object CentroidMinD2 {
  def register(spark: org.apache.spark.sql.SparkSession,
      model: CentroidModelRef): Unit = {
    Functions.bind(spark, "centroid_min_d2", 1)(a => CentroidMinD2(a(0), model))
  }
}

/** The centroid matrix behind [[CentroidTopK]] / [[CentroidMinD2]] —
  * a plain serializable object (`addReferenceObj`), so the centroid
  * count never touches expression-tree size (the `typedLit` literal
  * form re-serializes the matrix into every plan fragment that
  * references the column). Centroids are stored sorted by id; the
  * matrix is one flat row-major double array (cache-linear inner
  * loop). `norms(i)` is `sqrt(dot64(cv, cv))` as built by the caller;
  * `selfDot(i)` is the raw `dot64(cv, cv)` fold for the d2 form.
  *
  * Bounded-model contract: this collects the CENTROID table (k-means
  * k / quantizer size — metadata-scale by construction), never a
  * corpus. */
final class CentroidModelRef(val ids: Array[Long], val flat: Array[Double],
    val norms: Array[Double], val dims: Int) extends Serializable {

  require(ids.length == norms.length &&
    ids.length.toLong * dims == flat.length,
    s"shape mismatch: ${ids.length} ids, ${norms.length} norms, " +
      s"${flat.length} values, dims=$dims")
  require(ids.length > 0, "empty centroid set")
  private val nC = ids.length

  @transient private lazy val scratch =
    new ThreadLocal[Array[Double]] {
      override def initialValue(): Array[Double] = new Array[Double](nC)
    }

  /** `dot64(cv, cv)` per centroid, precomputed at build (same
    * sequential fold as [[Dot64.compute]] over the stored values). */
  @transient private lazy val selfDot: Array[Double] = {
    val out = new Array[Double](nC)
    var i = 0
    while (i < nC) {
      var acc = 0.0
      var d = 0
      val off = i * dims
      while (d < dims) { acc += flat(off + d) * flat(off + d); d += 1 }
      out(i) = acc
      i += 1
    }
    out
  }

  private def rawDot(v: ArrayData, i: Int): Double = {
    val n = math.min(v.numElements(), dims)
    val off = i * dims
    var acc = 0.0
    var d = 0
    while (d < n) { acc += v.getDouble(d) * flat(off + d); d += 1 }
    acc
  }

  /** Spark `round(x, 4)` on doubles: NaN/Inf pass through, else
    * decimal HALF_UP on the shortest string repr (never −0.0). */
  private def round4(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else BigDecimal.valueOf(x).setScale(4, RoundingMode.HALF_UP).doubleValue()

  def topK(v: ArrayData, nrm: Double, k: Int): GenericArrayData = {
    val kk = math.min(k, nC)
    val raw = scratch.get()
    // pass 1: raw cosines + the kth-largest raw score (NaN ranks
    // first: Double.compare's total order has NaN greatest)
    val kthBuf = new Array[Double](kk)
    var kn = 0
    var i = 0
    while (i < nC) {
      val denom = nrm * norms(i)
      val c =
        if (denom == 0.0) Double.NaN
        else rawDot(v, i) / denom
      raw(i) = c
      // descending insertion of raw into kthBuf (size kk)
      if (kn < kk || java.lang.Double.compare(c, kthBuf(kn - 1)) > 0) {
        var lo = 0
        var hi = kn
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (java.lang.Double.compare(kthBuf(mid), c) >= 0) lo = mid + 1
          else hi = mid
        }
        val last = if (kn == kk) kk - 1 else kn
        var j = last
        while (j > lo) { kthBuf(j) = kthBuf(j - 1); j -= 1 }
        kthBuf(lo) = c
        if (kn < kk) kn += 1
      }
      i += 1
    }
    val kthRaw = kthBuf(kn - 1)
    // margin: > one 4 dp quantum + two half-quantum rounding
    // contractions — below it a raw score cannot round into a tie
    // with the kth rounded value
    val thresh = kthRaw - 1.2e-4
    // pass 2: exact-round the boundary candidates, rank by
    // (rounded DESC via Double.compare, id ASC); iteration is in
    // id order (ids sorted at build), so strict insertion keeps the
    // smaller id on ties
    val selCos = new Array[Double](kk)
    val selId = new Array[Long](kk)
    var sn = 0
    i = 0
    while (i < nC) {
      val r = raw(i)
      // NaN candidates always qualify (rank first); numeric ones
      // must clear the margin (NaN threshold ⇒ ≥ kk NaNs ⇒ only
      // NaNs can reach the top k, and NaN >= NaN is false)
      if (java.lang.Double.isNaN(r) || r >= thresh) {
        val c = round4(r)
        val id = ids(i)
        if (sn < kk ||
            java.lang.Double.compare(c, selCos(sn - 1)) > 0) {
          var lo = 0
          var hi = sn
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            // >= keeps insertion AFTER equal cosines: iteration is in
            // ascending id order, so the earlier (smaller) id wins
            if (java.lang.Double.compare(selCos(mid), c) >= 0) lo = mid + 1
            else hi = mid
          }
          val last = if (sn == kk) kk - 1 else sn
          var j = last
          while (j > lo) {
            selCos(j) = selCos(j - 1); selId(j) = selId(j - 1); j -= 1
          }
          selCos(lo) = c
          selId(lo) = id
          if (sn < kk) sn += 1
        }
      }
      i += 1
    }
    val rows = new Array[Any](sn)
    i = 0
    while (i < sn) { rows(i) = InternalRow(selId(i), selCos(i)); i += 1 }
    new GenericArrayData(rows)
  }

  def minD2(v: ArrayData): Double = {
    // v·v once (the interpreted form recomputes it per centroid to
    // the same value — deterministic fold, hoisting moves no bits)
    val n = math.min(v.numElements(), dims)
    var vv = 0.0
    var d = 0
    while (d < n) { vv += v.getDouble(d) * v.getDouble(d); d += 1 }
    var best = Double.NaN
    var first = true
    var i = 0
    while (i < nC) {
      val d2 = vv - 2.0 * rawDot(v, i) + selfDot(i)
      if (first || java.lang.Double.compare(d2, best) < 0) {
        best = d2; first = false
      }
      i += 1
    }
    best
  }
}

object CentroidModelRef {
  /** Build from (centroid_id, vector, norm) rows — sorts by id,
    * flattens row-major. */
  def apply(rows: Seq[(Long, Seq[Double], Double)]): CentroidModelRef = {
    val sorted = rows.sortBy(_._1)
    val dims = sorted.head._2.length
    val flat = new Array[Double](sorted.length * dims)
    sorted.zipWithIndex.foreach { case ((_, v, _), i) =>
      require(v.length == dims, s"ragged centroid dims: ${v.length} vs $dims")
      var d = 0
      while (d < dims) { flat(i * dims + d) = v(d); d += 1 }
    }
    new CentroidModelRef(sorted.map(_._1).toArray, flat,
      sorted.map(_._3).toArray, dims)
  }

  /** Collect a (centroid_id, cv, cn) frame into a model — the bounded
    * centroid-table collect shared by every IVF call site. */
  def collect(df: org.apache.spark.sql.DataFrame): CentroidModelRef =
    apply(df.collect().toSeq.map(r =>
      (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))))
}
