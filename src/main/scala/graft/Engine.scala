package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The one place an engine-owned SparkSession is configured. Mains take
  * [[session]]; specs take [[builder]] so that an operator which forgets
  * to register its own functions still fails there. */
object Engine {
  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cores]` with one shuffle partition per core, UTC session
    * time, parquet TIMESTAMP(NANOS) read as raw nanos LONG (ns-exact,
    * the order DuckDB sees; Spark has no native type for it), UI off. */
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      // The TypedImperativeAggregates (topk_min, vec_sum6, sketches)
      // keep SMALL bounded buffers, but Spark's ObjectHashAggregate
      // falls back to SORT-BASED aggregation once a task sees more
      // than this many groups (default 128 — sized for big buffers).
      // The rerank shapes group by query/source id, so the default
      // silently SORTED the entire pair stream: raising it measured
      // q127 48.0→32.1s and q132 66.3→52.7s at the 200k-vector
      // decade. 131072 keys × ≤~300 B topk buffer ≈ ≤40 MB per task
      // worst case.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 131072)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** [[builder]] on [[cpus]] cores plus [[GraftExtensions]] (the functions and the
    * dot-product rewrite, in SQL too) and every parameter-free function
    * registered up front, so a query written as raw SQL does not depend
    * on which operator ran first. */
  def session(): SparkSession = {
    val spark = builder(cpus).withExtensions(new GraftExtensions()).getOrCreate()
    graft.functions.Functions.registerAll(spark)
    spark
  }
}
