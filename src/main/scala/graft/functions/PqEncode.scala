package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Custom Catalyst expression: `pq_encode(v)` → `array<int>` — every
  * vector compressed to its nearest codeword per subspace against a
  * codebook carried as a reference object ([[SqEncode]]'s discipline;
  * the codebook is m·k·subDim doubles — a few KB, task-shippable).
  *
  * Why: the interpreted HOF form (`transform(sequence(0, m−1), s →
  * array_min(transform(cb[s], (cw, ci) → struct(fold, ci))).code)`)
  * pays a closure per CODEWORD ELEMENT per row plus a struct
  * allocation per codeword — m·k·subDim interpreted ops/row, which at
  * the 200k-vector decade was the dominant cost of q127's corpus
  * encode (the search itself is fused — [[AdcTopKMulti]]). Here the
  * argmin is one flat compiled loop per row, inside whole-stage
  * codegen.
  *
  * Exact contract of the HOF form (PqEncodeSpec pins bit-equality):
  *  - dist2 per codeword = the sequential index-order fold
  *    Σ_d (v[s·subDim+d] − cw[d])², identical IEEE arithmetic;
  *  - argmin by (dist2 via Double.compare ASC, code ASC) — the
  *    `array_min` struct ordering; all-NaN subspaces (a NaN element
  *    infects every codeword's fold equally) tie down to code 0;
  *  - a subspace whose slice is short or contains a NULL element
  *    yields NULL dist2 for every codeword, and `array_min`'s
  *    nulls-first struct ordering picks code 0 — replicated as an
  *    explicit code-0 shortcut;
  *  - null input → NULL output — a DELIBERATE divergence from the HOF
  *    form, whose outer `transform(sequence(...))` didn't null-check v
  *    and folded a null vector to code 0 per subspace: a garbage
  *    all-zeros point that every ADC search would rank as a real
  *    candidate. Null codes rows are skipped by every consumer
  *    ([[AdcTopKMulti]], `adc_sum_flat`) — the ivfAssign
  *    null-embedding discipline (spec-pinned divergence). */
case class PqEncode(child: Expression, model: PqModelRef)
    extends UnaryExpression {

  override def prettyName: String = "pq_encode"
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires array<double>, got $t")
  }

  override protected def nullSafeEval(v: Any): Any =
    model.encode(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("pqModel", model, classOf[PqModelRef].getName)
    defineCodeGen(ctx, ev, v => s"$m.encode($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

object PqEncode {
  /** Bind `pq_encode(v)` to a codebook set (model-specific
    * registration, [[SqEncode.register]]'s pattern). */
  def register(spark: org.apache.spark.sql.SparkSession,
      model: PqModelRef): Unit = {
    Functions.bind(spark, "pq_encode", 1)(a => PqEncode(a(0), model))
  }
}

/** The codebook matrix behind [[PqEncode]] — flat row-major
  * `flat[(s·k + ci)·subDim + d]`. */
final class PqModelRef(val flat: Array[Double], val m: Int, val k: Int,
    val subDim: Int) extends Serializable {

  require(m.toLong * k * subDim == flat.length,
    s"shape mismatch: $m×$k×$subDim vs ${flat.length}")

  def encode(v: ArrayData): GenericArrayData = {
    val n = v.numElements()
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      val off = s * subDim
      // short slice / null element → NULL dist2 for every codeword →
      // array_min's nulls-first pick = code 0 (see class doc)
      var broken = off + subDim > n
      var d = 0
      while (!broken && d < subDim) {
        if (v.isNullAt(off + d)) broken = true
        d += 1
      }
      if (broken) out(s) = 0
      else {
        var bestD = Double.NaN
        var bestC = 0
        var ci = 0
        while (ci < k) {
          val cw = (s * k + ci) * subDim
          var acc = 0.0
          var dd = 0
          while (dd < subDim) {
            val diff = v.getDouble(off + dd) - flat(cw + dd)
            acc += diff * diff
            dd += 1
          }
          // strict < keeps the smaller code on ties (ci ascending) —
          // Double.compare's total order, NaN greatest
          if (ci == 0 || java.lang.Double.compare(acc, bestD) < 0) {
            bestD = acc; bestC = ci
          }
          ci += 1
        }
        out(s) = bestC
      }
      s += 1
    }
    new GenericArrayData(out)
  }
}

object PqModelRef {
  def apply(codebooks: Seq[Seq[Seq[Double]]]): PqModelRef = {
    val m = codebooks.length
    val k = codebooks.head.length
    val subDim = codebooks.head.head.length
    val flat = new Array[Double](m * k * subDim)
    var s = 0
    while (s < m) {
      require(codebooks(s).length == k, "ragged codebook")
      var ci = 0
      while (ci < k) {
        val cw = codebooks(s)(ci)
        require(cw.length == subDim, "ragged codeword")
        var d = 0
        while (d < subDim) {
          flat((s * k + ci) * subDim + d) = cw(d)
          d += 1
        }
        ci += 1
      }
      s += 1
    }
    new PqModelRef(flat, m, k, subDim)
  }
}
