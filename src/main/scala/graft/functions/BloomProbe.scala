package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `bloom_might_contain(hash)` → boolean —
  * a membership probe of a string column against a pre-built Spark
  * [[org.apache.spark.util.sketch.BloomFilter]], as a compiled
  * reference-object expression ([[BloomDecontam]]'s pattern).
  *
  * Why an expression: the `udf((h: String) => bf.mightContainString)`
  * form it replaces breaks whole-stage codegen at the probe (a
  * ScalaUDF boundary: per-row UTF8String→String conversion + boxed
  * call) in exactly the narrow prefilter position where the probe
  * should ride an existing scan for free
  * ([[graft.ext.Dedup.dedupIncrementalExactBloom]]). Here the filter
  * is a constant reference object (`addReferenceObj` — filter size
  * never touches expression-tree size) probed via
  * `mightContainBinary` on the value's UTF-8 bytes, which is
  * BYTE-IDENTICAL to `mightContainString` on the decoded string
  * (both hash the UTF-8 encoding). Null input is null out (dropped
  * by a filter — same verdict as the old udf's `false`). */
case class BloomProbe(child: Expression, model: BloomFilterRef)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain requires a string argument, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    model.mightContain(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bloomFilter", model,
      classOf[BloomFilterRef].getName)
    defineCodeGen(ctx, ev, c => s"$m.mightContain($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomProbe =
    copy(child = newChild)
}

object BloomProbe {
  /** Bind `bloom_might_contain` to a filter ([[BloomDecontam
    * .register]]'s pattern — model-specific, so registration replaces
    * any prior binding). */
  def register(spark: org.apache.spark.sql.SparkSession,
      model: BloomFilterRef): Unit = {
    Functions.bind(spark, "bloom_might_contain", 1)(a => BloomProbe(a(0), model))
  }
}

/** Serializable wrapper carrying the sketch for [[BloomProbe]]
  * (`addReferenceObj` needs a stable class name; the probe needs the
  * UTF8String-native entry point). */
final class BloomFilterRef(val bf: org.apache.spark.util.sketch.BloomFilter)
    extends Serializable {
  def mightContain(s: UTF8String): Boolean = bf.mightContainBinary(s.getBytes)
}
