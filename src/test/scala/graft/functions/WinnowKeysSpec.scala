package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.pumle.SparkSpec

/** `winnow_keys` binds once per (k, w): registering the same
  * parameters again keeps the binding, and two parameter pairs in one
  * session each fingerprint by their own. */
class WinnowKeysSpec extends SparkSpec {

  private val text = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo"

  test("registering the same (k, w) twice keeps the binding") {
    val reg = spark.sessionState.functionRegistry
    val name = WinnowKeys.register(spark, 3, 4)
    val info = reg.lookupFunction(FunctionIdentifier(name))
    assert(info.isDefined)
    assert(WinnowKeys.register(spark, 3, 4) == name)
    assert(reg.lookupFunction(FunctionIdentifier(name)).exists(_ eq info.get))
  }

  test("two (k, w) in one session fingerprint by their own parameters") {
    import spark.implicits._
    val df = Seq(text).toDF("text")
    def fps(k: Int, w: Int) = df.select(WinnowKeys.fingerprints(spark, k, w, "text"))
      .head().getSeq[Long](0).toSet
    def want(k: Int, w: Int) = WinnowKeys.compute(UTF8String.fromString(text), k, w)
      .toLongArray().map(_ / 8192).toSet
    val (a, b) = (fps(3, 4), fps(2, 3))
    assert(a == want(3, 4))
    assert(b == want(2, 3))
    assert(a != b)
    // the first binding still answers by its own parameters
    assert(fps(3, 4) == want(3, 4))
    assert(df.select(expr(s"${WinnowKeys.register(spark, 2, 3)}(text)")).head()
      .getSeq[Long](0) == WinnowKeys.compute(UTF8String.fromString(text), 2, 3)
      .toLongArray().toSeq)
  }
}
