package graft.functions

import org.apache.spark.sql.AnalysisException

import graft.pumle.SparkSpec

/** [[Functions.registerAll]] installs each parameter-free function
  * once: a second call replaces nothing (and logs no `replaced a
  * previously registered function` WARN). The table's builders check
  * the argument count and the integer constants before building. */
class FunctionsSpec extends SparkSpec {

  test("registerAll twice keeps the same builder for every function") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    val builtin = reg.listFunction().toSet
    Functions.registerAll(s)
    val added = reg.listFunction().filterNot(builtin)
    assert(added.map(_.funcName).toSet.contains("url_norm"), added)
    // a non-capturing builder lambda is one cached object, so builder
    // identity alone cannot see a replacement; every registration also
    // stores a fresh ExpressionInfo, and that identity can
    def entries = added.map(id =>
      id.funcName -> (reg.lookupFunctionBuilder(id).get, reg.lookupFunction(id).get)).toMap
    val first = entries
    Functions.registerAll(s)
    val second = entries
    for ((name, (builder, info)) <- first) {
      assert(builder eq second(name)._1, s"$name builder was replaced")
      assert(info eq second(name)._2, s"$name was re-registered")
    }
  }

  // A call with the wrong argument count, or with a column, a bigint or
  // a NULL where an integer constant belongs, fails analysis with an
  // error naming the function and the argument; none of them may reach
  // an expression's constructor or its evaluation.
  private val badCalls: Seq[(String, String, Seq[String])] = Seq(
    ("no argument", "SELECT simhash16()",
      Seq("`simhash16`", "requires 1 parameters", "actual number is 0")),
    ("an extra argument", "SELECT simhash16('a b', 'zzz')",
      Seq("`simhash16`", "requires 1 parameters", "actual number is 2")),
    ("a column for an integer constant",
      "SELECT cov_moments(v, d) FROM VALUES (array(1.0d, 2.0d), 2) AS t(v, d)",
      Seq("cov_moments(", "second parameter", "foldable")),
    ("a bigint for an integer constant",
      "SELECT cov_moments(v, 2L) FROM VALUES (array(1.0d, 2.0d)) AS t(v)",
      Seq("cov_moments(", "second parameter", "INT", "BIGINT")),
    ("a NULL for an integer constant",
      "SELECT topk_min(0.5d, 1L, CAST(NULL AS INT))",
      Seq("topk_min(", "third parameter", "must not be null")))

  for ((what, sql, parts) <- badCalls)
  test(s"a call with $what fails analysis naming the function and the argument") {
    val s = spark.newSession()
    Functions.registerAll(s)
    val e = intercept[AnalysisException](s.sql(sql).collect())
    for (p <- parts) assert(e.getMessage.contains(p), e.getMessage)
  }
}
