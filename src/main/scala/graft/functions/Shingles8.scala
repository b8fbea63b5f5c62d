package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `shingles8(text)` → array<string> of the
  * DISTINCT char-8-gram shingles of the text (first-occurrence order),
  * under the one shared shingling contract (MinHash48.foreachShingle).
  *
  * Purpose: precompute each document's shingle SET once, so the verify
  * stage of dedup (exact Jaccard over LSH candidate pairs) can score a
  * pair with builtin array ops instead of re-shingling both texts per
  * pair (`jaccard8`). A doc in an LSH bucket of size m appears in up to
  * bands×(m−1) pairs — at the 4096-shingle cap that is ~36× redundant
  * shingle extraction per document; materializing the set makes the
  * per-doc cost O(shingles) exactly once, candidate-bounded.
  *
  * jaccard8(a,b) == |∩|/|∪| over shingles8(a)/shingles8(b) by
  * construction (same contract); pinned by ExprEquivalenceSpec.
  */
case class Shingles8(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles8"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingles8 requires a string argument, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    Shingles8.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Shingles8.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Shingles8 =
    copy(child = newChild)
}

object Shingles8 {

  def compute(s: UTF8String): ArrayData = {
    val set = new java.util.LinkedHashSet[String]()
    MinHash48.foreachShingle(s)(sh => { set.add(sh); () })
    val out = new Array[Any](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }
}
