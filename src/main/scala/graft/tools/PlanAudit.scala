package graft.tools

/** Physical-plan census over every registered query: counts of
  * exchanges (shuffles), join strategies, generators, and scans per
  * query — the ".explain and iterate" discipline as a tool. Run at
  * sf0.001 (plan shape is data-independent here).
  *
  * Run: sbt "runMain graft.tools.PlanAudit [sfDir]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    println(f"${"query"}%-28s shf bex bhj smj bnlj gen agg")
    graft.queries.Registry.all.sortBy(_.name).foreach { q =>
      try {
        val p = q.fn(spark, sfDir).queryExecution.executedPlan.toString
        def n(pat: String) = pat.r.findAllIn(p).length
        // shf = true shuffles only; bex = broadcast exchanges
        val shuffles = n("Exchange hashpartitioning") + n("Exchange rangepartitioning") +
          n("Exchange SinglePartition")
        println(f"${q.name}%-28s $shuffles%2d  ${n("BroadcastExchange")}%2d  " +
          f"${n("BroadcastHashJoin")}%2d  ${n("SortMergeJoin")}%2d  " +
          f"${n("BroadcastNestedLoopJoin")}%2d  ${n("Generate")}%2d  ${n("HashAggregate")}%2d")
      } catch {
        case e: Throwable => println(f"${q.name}%-28s ERROR ${e.getMessage.take(60)}")
      }
    }
    spark.stop()
  }
}
