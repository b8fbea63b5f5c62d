package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit}

import graft.queries.Registry

/** The oracle-checked query surface: a fixed slice of
  * `SparkEntry.queries` ([[QuerySuite.Queries]]), each once after cache
  * isolation. The job-serial rows run first (part a), then the rest
  * (part b), each group in a seed-shuffled order. The groups keep their
  * places because the first queries of a JVM pay its cold costs; a
  * shuffle across groups moved those costs between the parts. A query's
  * wall is its function call (which may run eager jobs) plus a noop
  * write of its result. */
final class QuerySuite(queries: Seq[String] = QuerySuite.Queries) extends Workload {
  def nominalPassSeconds: Double = 10.0
  private val sf = "sf0.01"
  private var order = Seq.empty[String]
  private var expected = Map.empty[String, Long]
  private var rows = Map.empty[String, Long]

  def prepare(ctx: Ctx): Unit = {
    val names = queries.map(n => Registry.all.map(_.name).find(_.startsWith(n + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no query $n")))
    val r = new Gen.Rng(ctx.seed ^ 0x5E7L)
    order = names.map(n => (!serial(n), r.nextLong(), n)).sortBy(x => (x._1, x._2)).map(_._3)
    expected = OracleCounts.load(ctx.data.resolve(s"oracle_counts_$sf.json"))
  }

  private def serial(name: String): Boolean =
    QuerySuite.Watched.exists(w => name.startsWith(w + "_"))

  private def dir(ctx: Ctx) = ctx.data.resolve(sf).toString

  override def warmUp(ctx: Ctx): Unit =
    ctx.op("warm-up query") { ctx.consume(Registry.byName("q01_pricing_summary").fn(ctx.spark, dir(ctx))) }

  def run(ctx: Ctx, tr: Tracer): Map[String, Double] = {
    var construct = 0.0
    var execute = 0.0
    var serialRows = 0.0
    val got = collection.mutable.Map[String, Long]()
    for (name <- order) {
      val q = Registry.byName(name)
      ctx.isolate()
      val t0 = System.nanoTime()
      val df: Option[DataFrame] = ctx.op(s"$name construct") {
        tr.span(s"suite.$name.construct") { q.fn(ctx.spark, dir(ctx)) }
      }
      val t1 = System.nanoTime()
      df.foreach(d => ctx.op(s"$name execute") {
        tr.span(s"suite.$name.execute") {
          got(name) = NoopSink.observeWrite(d, count(lit(1)).as("rows"))
            .get("rows").fold(0L)(_.asInstanceOf[Long])
        }
      })
      val t2 = System.nanoTime()
      construct += (t1 - t0) / 1e9
      execute += (t2 - t1) / 1e9
      Main.log(f"$name ${(t1 - t0) / 1e9}%.3f + ${(t2 - t1) / 1e9}%.3f s")
      perQuery(name) = (t2 - t0) / 1e9
      if (serial(name)) serialRows += (t2 - t0) / 1e9
    }
    rows = got.toMap
    val all = construct + execute
    Map("chain_s" -> all, "part_a_s" -> serialRows, "part_b_s" -> (all - serialRows),
      "suite_s" -> (construct + execute), "suite.construct_s" -> construct,
      "suite.execute_s" -> execute) ++
      QuerySuite.Watched.map(n => s"suite.${n}_s" -> perQuery.getOrElse(longName(n), 0.0))
  }

  private val perQuery = collection.mutable.Map[String, Double]()
  private def longName(short: String): String =
    order.find(_.startsWith(short + "_")).getOrElse(short)

  override def fromTrace(tr: Trace): Map[String, Double] =
    QuerySuite.Watched.map { n =>
      val full = longName(n)
      s"suite.${n}_jobs" -> (tr.inclusive(s"suite.$full.construct").jobs +
        tr.inclusive(s"suite.$full.execute").jobs).toDouble
    }.toMap

  def verify(ctx: Ctx): Unit =
    for (name <- order) {
      val want = expected.get(name)
      ctx.check(s"$name rows", want.isDefined && rows.get(name) == want,
        s"got ${rows.get(name)} want $want")
    }
}

object QuerySuite {
  /** The most job-serial rows, timed on their own in the traced run. */
  val Watched: Seq[String] = Seq("q102", "q142")

  /** The whole registry takes about 160 s cold on 4 cores, more than a
    * run can hold. The suite is the two job-serial rows plus twelve
    * light queries across the families: relational checks, JSON
    * properties, sweep, catalog, physics, corpus overlap, BPE pairs,
    * dup profile, quality score, winnowing, sketches and 128-bit
    * simhash. (q104 and q137 are `dedupCorpus` and `dedupCorpusWinnow`
    * on the sf0.01 documents; the dedup_chain workload times those
    * calls directly.) */
  val Queries: Seq[String] = Watched ++ Seq("q13", "q19", "q22", "q29", "q43", "q82", "q92",
    "q113", "q129", "q133", "q139", "q171")
}
