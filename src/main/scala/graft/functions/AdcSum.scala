package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Custom Catalyst expression: `adc_sum(tbl, codes)` — the
  * asymmetric-distance (ADC) table fold shared by PQ and
  * scalar-quantization search: Σ_i tbl[i][codes[i]], a sequential
  * left-to-right fold in index order with a double accumulator — the
  * exact arithmetic of
  * `aggregate(zip_with(tbl, codes, (t,c) -> element_at(t, c+1)),
  * 0D, (acc,z) -> acc+z)` and of the oracle's
  * `list_sum(list(... ORDER BY ...))` replay, so parity is preserved.
  *
  * Why ([[Dot64]]'s argument): higher-order functions interpret a
  * lambda per ELEMENT; the ADC fold sits on the O(candidates × dims)
  * hot loop of every search, and at dims=64 the interpreted form
  * dominated the whole query (q132 measured 4.8s interpreted vs ~1s
  * compiled at sf0.1). A tight primitive loop in a codegen'd static
  * call keeps the stage inside whole-stage codegen.
  */
case class AdcSum(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_sum"

  // NULL on malformed input (length mismatch, null/out-of-range code)
  // even when both children are non-null — see [[AdcSum.compute]].
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(LongType, _)) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"adc_sum requires (array<array<double>>, array<bigint>), got " +
        s"${left.dataType}, ${right.dataType}")
  }

  override protected def nullSafeEval(t: Any, c: Any): Any =
    AdcSum.compute(t.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, c) => s"""
      |java.lang.Double ${ev.value}_r = graft.functions.AdcSum.compute($t, $c);
      |if (${ev.value}_r == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = ${ev.value}_r.doubleValue(); }
      |""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcSum =
    copy(left = newLeft, right = newRight)
}

object AdcSum {

  /** Σ tbl[i][codes[i]] over the rows, index order. Returns NULL (the
    * contract of the `aggregate(zip_with(tbl, codes, (t,c) ->
    * element_at(t, c+1)), ...)` form this replaced) on ANY malformed
    * input: table/code length mismatch (zip_with pads the shorter side
    * with nulls), a null table row or code element, or a code outside
    * `[0, row length)` (element_at out-of-range is NULL). The internal
    * encoder paths always produce well-formed codes, but `adc_sum` is
    * registered session-wide — arbitrary user SQL must get NULL, not
    * an unchecked UnsafeArrayData read. */
  def compute(tbl: ArrayData, codes: ArrayData): java.lang.Double = {
    val n = tbl.numElements()
    if (codes.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (tbl.isNullAt(i) || codes.isNullAt(i)) return null
      val row = tbl.getArray(i)
      val code = codes.getLong(i)
      if (code < 0 || code >= row.numElements() || row.isNullAt(code.toInt))
        return null
      acc += row.getDouble(code.toInt)
      i += 1
    }
    acc
  }

  /** Widen int-typed code arrays to the bigint the fold expects
    * (shared by both fold variants' SQL builders). */
  def coerceCodes(e: Expression): Expression = e.dataType match {
    case ArrayType(LongType, _) => e
    case ArrayType(_, n) =>
      org.apache.spark.sql.catalyst.expressions.Cast(e, ArrayType(LongType, n))
    case _ => e
  }
}

/** `adc_sum_flat(flat_tbl, codes, width)` — [[AdcSum]]'s fold over a
  * FLATTENED distance table: `Σ_i flat[i·width + codes[i]]`, the
  * identical doubles added in the identical index order as
  * `adc_sum(tbl, codes)` on `tbl` with uniform `width`-length rows
  * (`flatten(tbl)` concatenates rows in order, so
  * `flat[i·width + c] = tbl[i][c]` positionally — oracle-neutral by
  * construction).
  *
  * Why it exists ([[AdcSum]] is already compiled): the nested form's
  * hot loop calls `tbl.getArray(i)` per DIMENSION per PAIR — on
  * UnsafeArrayData that ALLOCATES a view object each call, and the ADC
  * scan contract is |queries|·n pairs × dims lookups (the 200k-vector
  * decade: 412M pairs × 64 dims ≈ 26B view allocations dominating
  * q132's 119s). The flat table is one primitive double array per
  * query row: the fold is `width`-strided `getDouble` lookups, zero
  * per-element allocation, and the broadcast row stays cache-linear.
  *
  * NULL contract (AdcSum's, restated for the flat layout): NULL when
  * `flat` is not exactly `codes.length × width` long (the uniform-rows
  * precondition — ragged tables must use `adc_sum`), when any code is
  * null or outside `[0, width)`, or when the addressed element is
  * null. */
case class AdcSumFlat(left: Expression, right: Expression, width: Int)
    extends BinaryExpression {

  require(width >= 1, s"width=$width must be >= 1")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_sum_flat"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (t, c) => TypeCheckResult.TypeCheckFailure(
        s"adc_sum_flat requires (array<double>, array<bigint>), got $t, $c")
    }

  override protected def nullSafeEval(t: Any, c: Any): Any =
    AdcSumFlat.compute(t.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, c) => s"""
      |java.lang.Double ${ev.value}_r =
      |  graft.functions.AdcSumFlat.compute($t, $c, $width);
      |if (${ev.value}_r == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = ${ev.value}_r.doubleValue(); }
      |""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcSumFlat =
    copy(left = newLeft, right = newRight)
}

object AdcSumFlat {

  def compute(flat: ArrayData, codes: ArrayData, width: Int): java.lang.Double = {
    val n = codes.numElements()
    if (flat.numElements() != n.toLong * width) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (codes.isNullAt(i)) return null
      val code = codes.getLong(i)
      if (code < 0 || code >= width) return null
      val at = i * width + code.toInt
      if (flat.isNullAt(at)) return null
      acc += flat.getDouble(at)
      i += 1
    }
    acc
  }
}
