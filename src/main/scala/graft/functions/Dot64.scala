package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Custom Catalyst expression: `dot64(a, b)` — dot product of two
  * double arrays as a sequential left-to-right fold (index order,
  * double accumulator — the exact arithmetic of
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,z) -> acc+z)` and
  * of DuckDB's `list_dot_product`, so oracle parity is preserved).
  *
  * Why: Spark's higher-order functions are interpreted per element
  * (lambda closure per item); over the O(pairs × dims) inner loop of
  * similarity search that interpretation dominates. A tight primitive
  * loop in a codegen'd static call keeps the whole stage compiled.
  *
  * `strict = true` is the [[graft.plans.DotProductRewrite]] target:
  * it preserves the higher-order form's NULL contract on MALFORMED
  * input — `zip_with` pads a length mismatch with nulls and a null
  * product nulls the whole fold, so the strict variant returns NULL on
  * any length mismatch or null element where the default (used by the
  * engine's own well-formed internal paths) folds over min(len). The
  * [[AdcSum]] lesson: a rewrite must never change what user SQL
  * returns, only how fast it returns it. */
case class Dot64(left: Expression, right: Expression,
    strict: Boolean = false) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot64"
  override def nullable: Boolean = strict || super.nullable

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot64 requires array<double> args, got ${left.dataType}, ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (strict)
      Dot64.computeStrict(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      Dot64.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (strict)
      nullSafeCodeGen(ctx, ev, (a, b) => s"""
        |java.lang.Double ${ev.value}_r = graft.functions.Dot64.computeStrict($a, $b);
        |if (${ev.value}_r == null) { ${ev.isNull} = true; }
        |else { ${ev.value} = ${ev.value}_r.doubleValue(); }
        |""".stripMargin)
    else
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Dot64.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dot64 =
    copy(left = newLeft, right = newRight)
}

object Dot64 {

  /** Sequential fold in index order over min(len) elements. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** The fold with `aggregate(zip_with(...))`'s malformed-input
    * contract: NULL on length mismatch (zip_with pads the shorter
    * array with nulls — one null product nulls the sum) or on any null
    * element. Same arithmetic as [[compute]] on well-formed input. */
  def computeStrict(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** `dot64(a, b)` with numeric-array coercion: SQL literals like
    * `array(1.0, 2.0)` are decimal arrays under ANSI — cast any
    * array<numeric> input to array<double> (matching the implicit-cast
    * behavior of built-in numeric functions). */
  def coerced(left: Expression, right: Expression): Dot64 = {
    def coerce(e: Expression): Expression = e.dataType match {
      case ArrayType(DoubleType, _) => e
      case ArrayType(_, n) =>
        org.apache.spark.sql.catalyst.expressions.Cast(e, ArrayType(DoubleType, n))
      case _ => e // let checkInputDataTypes report it
    }
    Dot64(coerce(left), coerce(right))
  }
}
