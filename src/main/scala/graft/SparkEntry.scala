package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Registry.queries
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.Registry.oracleSql
  /** The queries both mains run, sorted by name: those whose name starts
    * with one of the comma-separated prefixes in `only`
    * (`SPARK_GRAFT_ONLY=q93_,q96_`), or all of them when it is unset or
    * blank. A prefix that selects nothing throws, naming every such
    * prefix, so a typo fails the run instead of silently timing or
    * dumping fewer queries. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries.toSeq.sortBy(_._1)
    val prefixes = only.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val unmatched = prefixes.filterNot(p => all.exists(_._1.startsWith(p)))
    require(unmatched.isEmpty,
      s"SPARK_GRAFT_ONLY: no query name starts with ${unmatched.mkString(", ")}")
    if (prefixes.isEmpty) all
    else all.filter { case (n, _) => prefixes.exists(n.startsWith) }
  }
}
