package graft.tools

/** Physical-plan census over every registered query: counts of
  * exchanges (shuffles), join strategies, generators, and scans per
  * query — the ".explain and iterate" discipline as a tool. Run at
  * sf0.001 (plan shape is data-independent here).
  *
  * The last column hashes each query's executed plan with expression
  * ids, plan ids, RDD ids, object hash codes and temp-dir paths
  * masked, so two builds print the same hash for a query whose plan
  * they build alike: run it on both sides of a refactor and diff the
  * output.
  *
  * Run: sbt "runMain graft.tools.PlanAudit [sfDir]"
  */
object PlanAudit {

  private val tmp = java.util.regex.Pattern.quote(
    new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalPath)

  /** `plan` with the ids, object hash codes (`Model@1f2e3d`) and paths
    * that differ between identical runs replaced by fixed tokens. */
  private def masked(plan: String): String = plan
    .replaceAll("#\\d+L?", "#x")
    .replaceAll("plan_id=\\d+", "plan_id=x")
    .replaceAll("RDD\\[\\d+\\]", "RDD[x]")
    .replaceAll("(?<=[\\w$])@[0-9a-f]{1,8}\\b", "@x")
    .replaceAll(s"(file:)?$tmp/[^\\s,\\]\\)]*", "<tmp>")

  /** First 10 hex digits of the SHA-1 of [[masked]]`(plan)`. */
  private def planHash(plan: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(masked(plan).getBytes("UTF-8"))
      .take(5).map(b => f"${b & 0xff}%02x").mkString

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    println(f"${"query"}%-28s shf bex bhj smj bnlj gen agg plan")
    graft.queries.Registry.all.sortBy(_.name).foreach { q =>
      try {
        val p = q.fn(spark, sfDir).queryExecution.executedPlan.toString
        def n(pat: String) = pat.r.findAllIn(p).length
        // shf = true shuffles only; bex = broadcast exchanges
        val shuffles = n("Exchange hashpartitioning") + n("Exchange rangepartitioning") +
          n("Exchange SinglePartition")
        println(f"${q.name}%-28s $shuffles%2d  ${n("BroadcastExchange")}%2d  " +
          f"${n("BroadcastHashJoin")}%2d  ${n("SortMergeJoin")}%2d  " +
          f"${n("BroadcastNestedLoopJoin")}%2d  ${n("Generate")}%2d  ${n("HashAggregate")}%2d  " +
          planHash(p))
      } catch {
        case e: Throwable => println(f"${q.name}%-28s ERROR ${e.getMessage.take(60)}")
      }
    }
    spark.stop()
  }
}
