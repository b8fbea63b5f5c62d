package graft.functions

import java.math.{BigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType}

/** `round_ge(x, t, s)` ⟺ `round(x, s) >= t` with the exact decimal
  * rounding paid only at the boundary — the threshold-filter sibling
  * of [[TopKMinRound]]'s skip margin.
  *
  * Why: the near-dup pair filters (`semanticDedupFixed`,
  * `nearDupPairs`, `nearDupPairsAnn`) evaluate
  * `round(dot64(a, b) / (na·nb), 4) >= threshold` per PAIR — and the
  * BigDecimal stringification inside Spark's `round` costs ~15× the
  * 64-dim dot product it follows, so the threshold compare dominated
  * the whole Σ cᵢ² pair scan. Decision rule (margin = 0.6 quantum +
  * 4 ulp ≥ the |round_s(x) − x| ≤ 0.5·10⁻ˢ + 1.5·ulp(x) bound):
  *  - `x − margin ≥ t` ⇒ `round_s(x) > t` ⇒ true;
  *  - `x + margin < t` ⇒ `round_s(x) < t` ⇒ false;
  *  - otherwise round exactly and compare — identical verdicts to
  *    rounding every pair, by construction (RoundGeSpec sweeps planted
  *    values straddling both boundaries at several scales).
  * NaN input falls through both margin tests to the exact compare:
  * `NaN >= t` is false, exactly as `round(NaN, s) >= t` evaluates.
  * Null in → null out ([[UnaryExpression]] null-propagation), the
  * verdict `round(null) >= t` gives. */
case class RoundGe(child: Expression, threshold: Double, scale: Int)
    extends UnaryExpression {

  require(scale >= 0 && scale <= 15, s"scale=$scale out of range")
  require(!threshold.isNaN, "threshold must not be NaN")

  override def prettyName: String = "round_ge"
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"round_ge requires double, got $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    RoundGe.compute(input.asInstanceOf[Double], threshold, scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x =>
      s"graft.functions.RoundGe.compute($x, $threshold, $scale)")

  override protected def withNewChildInternal(newChild: Expression): RoundGe =
    copy(child = newChild)
}

object RoundGe {

  /** A constant threshold argument as a double, whichever numeric
    * literal type the call used. */
  def threshold(v: Any): Double = v match {
    case d: java.lang.Double => d.doubleValue()
    case d: java.math.BigDecimal => d.doubleValue()
    case o: Any => o.toString.toDouble
  }

  def compute(x: Double, t: Double, scale: Int): Boolean = {
    val q = math.pow(10.0, -scale)
    val m = 0.6 * q + 4.0 * Math.ulp(x)
    if (x - m >= t) true
    else if (x + m < t) false
    else {
      val r =
        if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
        else BigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP)
          .doubleValue()
      r >= t
    }
  }
}
