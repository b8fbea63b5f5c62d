package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Custom Catalyst expression: `sq_encode(v)` → `array<bigint>` — the
  * int8 scalar-quantization encode against a per-dimension (min, max)
  * model carried as a constant REFERENCE OBJECT ([[SqModelRef]], the
  * [[CentroidTopK]] discipline).
  *
  * Why an expression: the interpreted form —
  * `transform(sequence(1, dims), d -> CASE WHEN mx=mn THEN 0L ELSE
  * CAST(least(greatest(floor((x−mn)/(mx−mn)·255+0.5), 0), 255) AS
  * BIGINT) END)` with two `element_at` model lookups per dimension —
  * pays an interpreted closure per DIMENSION per row on the encode
  * pass of every SQ search/index build (≈25s of q132's 72s at the
  * 200k-vector decade). Here the model rides next to the plan and the
  * encode is one JIT'd flat-array loop per row.
  *
  * Arithmetic contract (bit-exact with the SQL form, SqEncodeSpec):
  * per dimension `code = CASE mx=mn → 0; else CAST(least(greatest(
  * floor((x−mn)/(mx−mn)·255.0+0.5), 0.0), 255.0) AS BIGINT)` — the
  * same double ops in the same order; `greatest`/`least` use Spark's
  * total order (NaN greatest), so a NaN x clamps to 255 exactly as
  * the SQL form does. A null element encodes to 0 — the null
  * propagates through the arithmetic into `greatest(NULL, 0.0)`,
  * and Spark's greatest/least SKIP nulls, so the clamp floor wins
  * (SqEncodeSpec pins it against the SQL form). A vector SHORTER
  * than the model throws, as ANSI `element_at(v, d)` does on an
  * invalid index. */
case class SqEncode(vec: Expression, model: SqModelRef)
    extends UnaryExpression {

  override def child: Expression = vec
  override def prettyName: String = "sq_encode"
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = vec.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sq_encode requires array<double>, got $t")
  }

  override protected def nullSafeEval(v: Any): Any =
    model.encode(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("sqModel", model, classOf[SqModelRef].getName)
    defineCodeGen(ctx, ev, v => s"$m.encode($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): SqEncode =
    copy(vec = newChild)
}

object SqEncode {
  /** Bind `sq_encode(v)` to a (mins, maxs) model (model-specific
    * registration — binding resolves at analysis time, so
    * re-registration never disturbs an already-built plan). */
  def register(spark: org.apache.spark.sql.SparkSession,
      model: SqModelRef): Unit = {
    Functions.bind(spark, "sq_encode", 1)(a => SqEncode(a(0), model))
  }
}

/** The per-dimension (min, max) quantization model behind
  * [[SqEncode]] — dims-scale by construction (one row per dimension,
  * never corpus-proportional). */
final class SqModelRef(val mins: Array[Double], val maxs: Array[Double])
    extends Serializable {

  require(mins.length == maxs.length,
    s"model shape mismatch: ${mins.length} mins, ${maxs.length} maxs")
  private val dims = mins.length

  def encode(v: ArrayData): GenericArrayData = {
    require(v.numElements() >= dims,
      s"sq_encode: vector has ${v.numElements()} elements, model has $dims")
    val out = new Array[Any](dims)
    var d = 0
    while (d < dims) {
      val mn = mins(d)
      val mx = maxs(d)
      out(d) =
        if (mx == mn) java.lang.Long.valueOf(0L)
        // null element: the null reaches greatest(NULL, 0.0), which
        // SKIPS nulls → 0.0 → least → 0 (the SQL form's verdict)
        else if (v.isNullAt(d)) java.lang.Long.valueOf(0L)
        else {
          val r = math.floor((v.getDouble(d) - mn) / (mx - mn) * 255.0 + 0.5)
          // greatest(r, 0.0) / least(·, 255.0) in Spark's total order
          // (NaN greatest): NaN survives greatest, then least picks 255
          val g = if (java.lang.Double.compare(r, 0.0) > 0) r else 0.0
          val l = if (java.lang.Double.compare(g, 255.0) < 0) g else 255.0
          java.lang.Long.valueOf(l.toLong)
        }
      d += 1
    }
    new GenericArrayData(out)
  }
}
