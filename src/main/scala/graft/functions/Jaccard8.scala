package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `jaccard8(a, b)` → exact Jaccard
  * similarity of the two texts' char-8-gram shingle SETS (the verify
  * stage after LSH candidate generation).
  *
  * Shares the shingling contract of minhash48 / the q51-53 oracles:
  * positions 1..min(max(len−7,1), 4096) counted in CODE POINTS, distinct
  * shingles. The relational form joins two exploded shingle sets per
  * pair (two shuffles over pair×shingle rows); this computes each pair
  * in one narrow call once the texts are joined on — candidate-bounded,
  * not corpus-bounded.
  */
case class Jaccard8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard8"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaccard8 requires string args, got ${left.dataType}, ${right.dataType}")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Jaccard8.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Jaccard8.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Jaccard8 =
    copy(left = newLeft, right = newRight)
}

object Jaccard8 {

  /** Distinct shingles via the ONE shared shingling contract
    * (MinHash48.foreachShingle). */
  private def shingleSet(s: UTF8String): java.util.HashSet[String] = {
    val set = new java.util.HashSet[String]()
    MinHash48.foreachShingle(s)(sh => { set.add(sh); () })
    set
  }

  def compute(a: UTF8String, b: UTF8String): Double = {
    val sa = shingleSet(a)
    val sb = shingleSet(b)
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    val union = sa.size + sb.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }
}
