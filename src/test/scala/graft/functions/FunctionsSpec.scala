package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.pumle.SparkSpec

/** [[Functions.registerAll]] installs each parameter-free function
  * once: a second call replaces nothing (and logs no `replaced a
  * previously registered function` WARN). */
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
}
