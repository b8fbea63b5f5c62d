package graft.functions

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.SPARK_VERSION
import org.apache.spark.sql.{AnalysisException, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.IntegerType

/** Every custom Catalyst function the engine ships, declared once.
  *
  * [[table]] holds each parameter-free function: its name, its
  * `ExpressionInfo` and its builder. [[inject]] puts the table into a
  * session's extensions ([[graft.plans.GraftExtensions]]) and
  * [[registerAll]] into a running session's registry; every engine
  * session gets both through [[graft.Engine.session]], and each operator
  * calls [[registerAll]] itself, so library users need neither unless
  * they write raw `spark.sql(...)` against the function names.
  *
  * Model-bound functions (`centroid_topk`, `pq_encode`, `bpe_tokens`, …)
  * need their model to build, so they have no table entry: each
  * object's `register(spark, model…)` binds its model through [[bind]].
  * This file is the only one that touches the function registry. */
object Functions {

  /** One function: what `injectFunction` takes and `registerFunction`
    * stores. */
  final case class Fn(id: FunctionIdentifier, info: ExpressionInfo,
      builder: FunctionRegistry.FunctionBuilder)

  /** A call's arguments as the analyzer hands them to a builder, after
    * the argument count is checked. Integer parameters (k, scale,
    * width, …) must be constants and are read through [[int]]. */
  final class Args private[Functions] (name: String, children: Seq[Expression]) {

    def apply(i: Int): Expression = children(i)

    /** Argument `i` (0-based) evaluated once at analysis; it must be a
      * non-null constant. `sqlType` names the expected type in the
      * error. */
    def constant(i: Int, sqlType: String): Any = {
      val e = children(i)
      if (!e.foldable) throw mismatch("NON_FOLDABLE_INPUT",
        "inputName" -> s"${ordinal(i)} parameter", "inputType" -> s"\"$sqlType\"",
        "inputExpr" -> s"\"${e.sql}\"")
      val v = e.eval()
      if (v == null) throw mismatch("UNEXPECTED_NULL", "exprName" -> s"${ordinal(i)} parameter")
      v
    }

    /** Argument `i` (0-based) as a constant INT. */
    def int(i: Int): Int = {
      val e = children(i)
      if (e.dataType != IntegerType) throw mismatch("UNEXPECTED_INPUT_TYPE",
        "paramIndex" -> ordinal(i), "requiredType" -> "\"INT\"",
        "inputSql" -> s"\"${e.sql}\"", "inputType" -> s"\"${e.dataType.sql}\"")
      constant(i, "INT").asInstanceOf[Int]
    }

    private def ordinal(i: Int): String =
      Seq("first", "second", "third", "fourth").lift(i).getOrElse(s"${i + 1}th")

    private def mismatch(subClass: String, params: (String, String)*) =
      new AnalysisException(s"DATATYPE_MISMATCH.$subClass", Map(
        "sqlExpr" -> s"\"$name(${children.map(_.sql).mkString(", ")})\"") ++ params)
  }

  /** A function of `arity` arguments named `name`, built by `build`;
    * a call with another argument count fails analysis the way Spark's
    * own functions do (`WRONG_NUM_ARGS`). */
  private def fn[T <: Expression: ClassTag](name: String, arity: Int)(build: Args => T): Fn =
    Fn(FunctionIdentifier(name), new ExpressionInfo(classTag[T].runtimeClass.getName, name),
      children => {
        if (children.length != arity)
          throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
            "functionName" -> s"`$name`", "expectedNum" -> arity.toString,
            "actualNum" -> children.length.toString,
            "docroot" -> s"https://spark.apache.org/docs/$SPARK_VERSION"))
        build(new Args(name, children))
      })

  val table: Seq[Fn] = Seq(
    fn[MinHash48]("minhash48", 1)(a => MinHash48(a(0), MinHash48.defaultSalts)),
    fn[Shingles8]("shingles8", 1)(a => Shingles8(a(0))),
    fn[Jaccard8]("jaccard8", 2)(a => Jaccard8(a(0), a(1))),
    fn[Dot64]("dot64", 2)(a => Dot64.coerced(a(0), a(1))),
    fn[SimHash16]("simhash16", 1)(a => SimHash16(a(0))),
    fn[SimHash64]("simhash64", 1)(a => SimHash64(a(0))),
    fn[SimHash128]("simhash128", 1)(a => SimHash128(a(0))),
    fn[XorFp48]("xorfp48", 1)(a => XorFp48(a(0))),
    fn[GopherStats]("gopher_stats", 1)(a => GopherStats(a(0))),
    fn[CovMoments]("cov_moments", 2)(a => CovMoments(a(0), a.int(1))),
    fn[CmsSketch]("cms_sketch", 3)(a => CmsSketch(a(0), a.int(1), a.int(2))),
    fn[HllRegs]("hll_regs", 1)(a => HllRegs(a(0))),
    fn[AdcSum]("adc_sum", 2)(a => AdcSum(a(0), AdcSum.coerceCodes(a(1)))),
    fn[AdcSumFlat]("adc_sum_flat", 3)(a =>
      AdcSumFlat(a(0), AdcSum.coerceCodes(a(1)), a.int(2))),
    fn[TopKMin]("topk_min", 3)(a => TopKMin(a(0), a(1), a.int(2))),
    fn[TopKMinRound]("topk_min_round", 4)(a =>
      TopKMinRound(a(0), a(1), a.int(2), a.int(3))),
    fn[TopKCosRound]("topk_cos_round", 4)(a =>
      TopKCosRound(a(0), a(1), a.int(2), a.int(3))),
    fn[RoundGe]("round_ge", 3)(a => RoundGe(a(0), RoundGe.threshold(a.constant(1, "DOUBLE")),
      a.int(2))),
    fn[UrlNorm]("url_norm", 1)(a => UrlNorm(a(0))),
    fn[VecSum6]("vec_sum6", 1)(a => VecSum6(a(0))))

  /** Register every [[table]] function the session lacks. A function
    * already present (injected by the extensions, or registered by an
    * earlier call) is left as it is, so repeated calls replace nothing
    * and log no `replaced a previously registered function` WARN. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    for (f <- table if !reg.functionExists(f.id)) reg.registerFunction(f.id, f.info, f.builder)
  }

  /** Inject every [[table]] function into sessions built with `ext`. */
  def inject(ext: SparkSessionExtensions): Unit =
    table.foreach(f => ext.injectFunction((f.id, f.info, f.builder)))

  /** Bind a model-bound function: register `name` with a builder that
    * captures the caller's model. Analysis is eager, so a plan built
    * after this call keeps this binding when `name` is bound again.
    * With `replace = false` an existing binding of `name` is kept. */
  private[functions] def bind[T <: Expression: ClassTag](spark: SparkSession, name: String,
      arity: Int, replace: Boolean = true)(build: Args => T): Unit = {
    val reg = spark.sessionState.functionRegistry
    val f = fn[T](name, arity)(build)
    if (replace || !reg.functionExists(f.id)) reg.registerFunction(f.id, f.info, f.builder)
  }
}
