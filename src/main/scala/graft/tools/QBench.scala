package graft.tools

/** Focused single-query timer — Bench's protocol (noop sink, cache
  * isolation, min-of-N) applied to just the queries named on the
  * command line, for micro-iterating on one plan without paying the
  * full-suite wall time. `sbt "runMain graft.tools.QBench q93_quality_gate
  * q96_quality_gate_narrow"`. */
object QBench {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q93_quality_gate", "q96_quality_gate_narrow")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = graft.Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    names.foreach { name =>
      val fn = graft.queries.Registry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      // warm-up run, then timed min-of-N with cache isolation (Bench's
      // protocol) so numbers are comparable with bench.json
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val times = (1 to runs).map { _ =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[qbench] $name%-28s min=${times.min}%.3fs runs=$times")
    }
    spark.stop()
  }
}
