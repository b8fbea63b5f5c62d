package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Functions

/** The extensions class must give a fresh session every function of
  * [[Functions.table]] with no explicit registration call. */
class GraftExtensionsSpec extends AnyFunSuite {

  /** One SQL call per [[Functions.table]] entry. */
  private val calls: Map[String, String] = Map(
    "minhash48" -> "minhash48('the quick brown fox')",
    "shingles8" -> "shingles8('a b c d e f g h i')",
    "jaccard8" -> "jaccard8('a b c d e f g h i', 'a b c d e f g h i')",
    "dot64" -> "dot64(array(1.0d), array(2.0d))",
    "simhash16" -> "simhash16('a b')",
    "simhash64" -> "simhash64('a b')",
    "simhash128" -> "simhash128('a b')",
    "xorfp48" -> "xorfp48('a b')",
    "gopher_stats" -> "gopher_stats('a b c')",
    "cov_moments" -> "cov_moments(array(1.0d, 2.0d), 2)",
    "cms_sketch" -> "cms_sketch('a', 2, 8)",
    "hll_regs" -> "hll_regs('a')",
    "adc_sum" -> "adc_sum(array(array(1.0d, 2.0d)), array(1L))",
    "adc_sum_flat" -> "adc_sum_flat(array(1.0d, 2.0d), array(1L), 2)",
    "topk_min" -> "topk_min(0.5d, 1L, 3)",
    "topk_min_round" -> "topk_min_round(0.5d, 1L, 3, 6)",
    "topk_cos_round" -> "topk_cos_round(0.5d, 1L, 3, 6)",
    "round_ge" -> "round_ge(0.5d, 0.4, 2)",
    "url_norm" -> "url_norm('http://example.com/a')",
    "vec_sum6" -> "vec_sum6(array(1.0d, 2.0d))")

  private val tableNames = Functions.table.map(_.id.funcName).toSet

  /** The function names a session resolves beyond Spark's built-ins. */
  private def added(spark: SparkSession): Set[String] = {
    val builtin = FunctionRegistry.builtin.listFunction().toSet
    spark.sessionState.functionRegistry.listFunction().filterNot(builtin)
      .map(_.funcName).toSet
  }

  private def evalAll(spark: SparkSession): Unit = {
    assert(calls.keySet == tableNames, "one SQL call per table entry")
    for ((name, call) <- calls)
      assert(spark.sql(s"SELECT $call").head() != null, s"$name did not evaluate")
  }

  test("spark.sql.extensions injects minhash48 into new sessions") {
    // getOrCreate returns any existing default session (which pre-dates
    // the extensions config) — clear first, restore after, so the
    // shared test session stays usable for other suites.
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions exercises the injector directly; the
      // `spark.sql.extensions=graft.plans.GraftExtensions` config path
      // uses the same class but only applies on a FRESH SparkContext
      // (static conf), which a shared test JVM cannot provide.
      val spark = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new GraftExtensions())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val r = spark.sql("SELECT minhash48('the quick brown fox') AS sig")
        .head().getSeq[Long](0)
      assert(r.length == 8)
      assert(r.forall(_ != Long.MaxValue))
      // deterministic across invocations
      val r2 = spark.sql("SELECT minhash48('the quick brown fox') AS sig")
        .head().getSeq[Long](0)
      assert(r == r2)
      // every table function resolves in pure SQL with no register
      // call, and the extension adds exactly the table's names
      assert(added(spark) == tableNames)
      evalAll(spark)
      // a session without the extension resolves the same names after
      // Functions.registerAll
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val plain = SparkSession.builder()
        .master("local[2]")
        .appName("graft-register-test")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      assert(added(plain).isEmpty)
      Functions.registerAll(plain)
      assert(added(plain) == tableNames)
      evalAll(plain)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      // Restore ACTIVE as well as default: parquet schema inference
      // consults SQLConf.get (thread-local active session) — leaving
      // active unset made later suites resolve nanos timestamps as
      // TIMESTAMP_NTZ (nanosAsLong lives in the shared session's conf),
      // an order-dependent flake.
      prior.foreach { s =>
        SparkSession.setDefaultSession(s)
        SparkSession.setActiveSession(s)
      }
    }
  }

  // Each input builds a fresh session on the shared SparkContext: the
  // injector alone, and the engine's session factory. Functions
  // .registerAll adds no optimizer rule, so a rewrite that fires in the
  // factory's session proves the factory installed the extensions.
  private val rewriteInputs: Seq[(String, () => SparkSession)] = Seq(
    "" -> (() => SparkSession.builder()
      .master("local[2]")
      .appName("graft-rewrite-test")
      .withExtensions(new GraftExtensions())
      .config("spark.ui.enabled", "false")
      .getOrCreate()),
    " (Engine.session)" -> (() => graft.Engine.session()))

  for ((suffix, fresh) <- rewriteInputs)
  test(s"DotProductRewrite: HOF dot-product idiom compiles to dot64, semantics intact$suffix") {
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val spark = fresh()
      val hof = "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, z) -> acc + z)"
      def q(sql: String) = spark.sql(sql)
      // RUNTIME arrays (derived from the range attribute) — literal
      // arrays would be constant-folded before the user-rule batch and
      // the rewrite would have nothing to do (correctly so)
      spark.range(4).selectExpr(
        """CASE WHEN id = 0 THEN array(1.0D, 2.0D, 3.0D)
          |     WHEN id = 1 THEN array(1.0D, 2.0D)
          |     WHEN id = 2 THEN array(1.0D, CAST(NULL AS DOUBLE))
          |     ELSE CAST(NULL AS ARRAY<DOUBLE>) END AS a""".stripMargin,
        """CASE WHEN id = 0 THEN array(4.0D, 5.0D, 6.0D)
          |     WHEN id = 1 THEN array(1.0D)
          |     ELSE array(1.0D, 2.0D) END AS b""".stripMargin,
        "id").createOrReplaceTempView("vecs")

      // the rewrite fires: optimized plan carries dot64, not the HOF
      val df = q(s"SELECT id, $hof AS d FROM vecs ORDER BY id")
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("dot64"), s"rewrite did not fire:\n$opt")
      assert(!opt.contains("aggregate("), opt)
      val rows = df.collect()
      assert(rows(0).getDouble(1) == 32.0)
      // NULL contract preserved through the rewrite: length mismatch,
      // null element, null array
      assert(rows(1).isNullAt(1), "length mismatch must stay NULL")
      assert(rows(2).isNullAt(1), "null element must stay NULL")
      assert(rows(3).isNullAt(1), "null array must stay NULL")

      // commuted operands match too (IEEE * and + are commutative)
      val com = q("SELECT aggregate(zip_with(a, b, (x, y) -> y * x), 0D, " +
        "(acc, z) -> z + acc) AS d FROM vecs WHERE id = 0")
      assert(com.queryExecution.optimizedPlan.toString.contains("dot64"))
      assert(com.head().getDouble(0) == 32.0)

      // non-matching shapes are left alone: nonzero seed, non-product lambda
      for (sql <- Seq(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 1.0D, (acc, z) -> acc + z)",
        "aggregate(zip_with(a, b, (x, y) -> x + y), 0D, (acc, z) -> acc + z)")) {
        val p = q(s"SELECT $sql AS d FROM vecs WHERE id = 0")
        assert(!p.queryExecution.optimizedPlan.toString.contains("dot64"),
          s"must not rewrite: $sql")
      }
      // and the non-matching seed still evaluates correctly (1 + dot)
      assert(q("SELECT aggregate(zip_with(a, b, (x, y) -> x * y), 1.0D, " +
        "(acc, z) -> acc + z) AS d FROM vecs WHERE id = 0")
        .head().getDouble(0) == 33.0)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach { s =>
        SparkSession.setDefaultSession(s)
        SparkSession.setActiveSession(s)
      }
    }
  }
}
