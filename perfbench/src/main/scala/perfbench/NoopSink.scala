package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.expressions.XXH64

/** The timed sink: a noop write that consumes every column, with
  * aggregates observed on the way, so outputs can be checked without
  * running the chain a second time. */
object NoopSink {
  /** Noop-write `df` and return the observed aggregates by name. */
  def observeWrite(df: DataFrame, aggs: Column*): Map[String, Any] = {
    val obs = Observation()
    df.observe(obs, aggs.head, aggs.tail: _*).write.format("noop").mode("overwrite").save()
    obs.get
  }

  /** The harness-side twin of `bit_xor(xxhash64(id))` over long ids. */
  def digest(ids: Seq[Long]): Long = ids.foldLeft(0L)((acc, i) => acc ^ XXH64.hashLong(i, 42L))
}
