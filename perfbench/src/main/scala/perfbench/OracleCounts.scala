package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Expected row counts per query, recorded once with DuckDB by
  * `perfbench/tools/oracle_counts.py`; never taken from Spark. */
object OracleCounts {
  def load(p: Path): Map[String, Long] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    root.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
  }

  /** `OracleSql <out.json>`: dump every query's oracle SQL for the tool. */
  def main(args: Array[String]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    graft.queries.Registry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    Files.writeString(Paths.get(args(0)), m.writerWithDefaultPrettyPrinter().writeValueAsString(node))
  }
}

/** `WholeRegistry --root . --seed <n> --seconds <s> --trace <0|1>`: the
  * query_suite run over every query of the registry, each row count
  * checked against the oracle counts. It takes about 160 s cold on 4
  * cores, more than a benchmark run holds; a traced run also names any
  * span that leaves stray jobs behind. */
object WholeRegistry {
  def main(argv: Array[String]): Unit =
    Main.run(Main.parseArgs(argv), "query_suite",
      new QuerySuite(graft.queries.Registry.all.map(_.name.takeWhile(_ != '_'))))
}
