package graft.ext

import org.apache.spark.sql.DataFrame

/** Scan-parallelism guard shared by the text/dedup operators (the
  * [[Similarity]] `spread` discipline, factored out): spread a narrow
  * scan across the session's full parallelism when the source arrived
  * in fewer splits. A single parquet row group is unsplittable, so a
  * small corpus scans as ONE task and every heavy per-row expression
  * chained on it (minhash48, shingles8, winnow_keys, simhash64)
  * serializes on that task — measured at the sf0.1 bench as 0.3–1.3 s
  * single-task jobs inside q65/q72/q94/q97/q152 while 31 cores idled.
  * The round-robin repartition moves each row once, BEFORE the
  * expensive expression multiplies its cost; at production scale the
  * scan already arrives in many splits and this is a no-op (the guard
  * keeps it scale-adaptive — never a constant tuned for local mode). */
private[graft] object Par {
  def spread(df: DataFrame): DataFrame = {
    // streaming frames have no driver-inspectable rdd (the probe below
    // throws UnsupportedOperationChecker); their micro-batches arrive
    // already split by the source — pass through untouched
    if (df.isStreaming) return df
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** The scale gate shared by [[spreadIfBig]] and the lazy signature
    * checkpoints: the optimizer's size estimate of `df` clears
    * `minBytes`. Below the bar, a round-robin exchange (or a persist of
    * the derived signature table) costs more than the single-task pass
    * it would save — measured at the sf0.1 bench both ways (spread:
    * q52 +0.12 s, q171 +0.63 s; checkpoint: q52 0.77→0.97 s,
    * q85 0.56→0.79 s) — while one decade up the duplicated/serialized
    * corpus pass is seconds and either remedy wins. Streaming frames
    * report not-big: their micro-batches arrive already split and a
    * driver-side rdd probe is illegal on them anyway. */
  def isBig(df: DataFrame, minBytes: Long = 2L << 20): Boolean =
    !df.isStreaming &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes > minBytes

  /** [[spread]] gated on [[isBig]]: only worth a round-robin exchange
    * when the under-split input actually holds enough work to amortize
    * one. 2 MB keeps sf0.1-class fixtures on the no-shuffle path and
    * fires from the sf1-class decade upward; at production scale the
    * scan arrives in many splits and neither form does anything.
    * Callers whose input is a candidate-bounded semi-join (verify sets)
    * use the unconditional [[spread]] — their per-row expressions are
    * heavy enough that the exchange won at sf0.1 already, and join
    * stats under-estimate. The size gate runs FIRST: the partition
    * probe (`df.rdd`) forces physical planning of the subtree, so on
    * the common small-fixture path the cheaper stats check short-
    * circuits it (the suite is driver-latency bound at sf0.1). */
  def spreadIfBig(df: DataFrame, minBytes: Long = 2L << 20): DataFrame = {
    if (!isBig(df, minBytes)) return df
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** Run `body` with a job description (guide §1.5) so the eager jobs a
    * pipeline fires during CONSTRUCTION (checkpoints, component rounds,
    * broadcast builds — which capture thread-locals) are attributable
    * in the UI and in Bench's per-job records instead of surfacing as
    * anonymous futures.
    * A caller's description is kept as a prefix (`"outer / inner"`), so
    * a pipeline stage's label reaches the jobs its inner operators
    * fire, and it is restored on exit. */
  def labeled[T](df: DataFrame, desc: String)(body: => T): T = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(if (prev == null) desc else s"$prev / $desc")
    try body finally sc.setJobDescription(prev)
  }
}
