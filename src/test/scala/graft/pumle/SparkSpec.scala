package graft.pumle

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite JVM fork). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def beforeAll(): Unit = {
    // Pin the shared session as BOTH default and active before any test
    // runs: suites that build their own sessions (GraftExtensionsSpec)
    // can leave the thread-local active session unset, and code paths
    // that read SQLConf.get (parquet nanosAsLong, ANSI flags) would
    // silently fall back to a conf-free default.
    SparkSession.setDefaultSession(spark)
    SparkSession.setActiveSession(spark)
  }
  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  // No GraftExtensions and no Functions.registerAll here: an operator
  // that forgets to register the functions it uses must fail its spec.
  lazy val session: SparkSession = graft.Engine.builder(4)
    .appName("graft-tests")
    .config("spark.sql.warehouse.dir", graft.core.TempDir("graft-wh").toString)
    .getOrCreate()
}
