package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared state of one benchmark run: the session, where inputs and
  * outputs live, and the operation / failure tally the result line
  * reports. */
final class Ctx(val spark: SparkSession, val seed: Long, val inputs: Path,
    val out: Path, val data: Path) {
  var attempted = 0L
  var failed = 0L

  /** One counted operation: a throw is a failure with its cause. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    }
  }

  /** One counted output check. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) fail(s"check $name failed $detail")
  }

  /** Count a failure and report its cause on standard error. */
  def fail(cause: String): Unit = {
    failed += 1
    Main.log(s"FAILED: ${cause.replace('\n', ' ').take(400)}")
  }

  def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Drop cached relations and persisted RDDs between operations. */
  def isolate(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** One workload: inputs made once per seed, then passes of the user's
  * chain. */
trait Workload {
  /** The length of one timed pass on a 4-core host. A run makes
    * round(--seconds / this) passes, at least one: a fixed count, so
    * that no run gets an extra, already warmer pass that would pull its
    * median below the others'. */
  def nominalPassSeconds: Double
  /** Build the inputs for this seed under `ctx.inputs` (untimed). */
  def prepare(ctx: Ctx): Unit
  /** One pass of the chain with its layer calls inside `tr`'s spans.
    * Returns `chain_s`, `part_a_s` and `part_b_s`, the workload's own
    * end-to-end timers, and any per-layer counts it measured. */
  def run(ctx: Ctx, tr: Tracer): Map[String, Double]
  /** Check the outputs the last pass left behind. */
  def verify(ctx: Ctx): Unit
  /** The untimed pass that loads classes and compiles code before the
    * timed passes; a whole checked pass by default. */
  def warmUp(ctx: Ctx): Unit = { run(ctx, NoTrace); verify(ctx) }
  /** Per-layer values read off a finished trace (job counts, shuffle
    * bytes of one span, ...). */
  def fromTrace(tr: Trace): Map[String, Double] = Map.empty
}

object Main {
  val Cores = 4

  val workloads: Map[String, () => Workload] = Map(
    "medallion" -> (() => new Medallion),
    "dedup_chain" -> (() => new DedupChain),
    "query_suite" -> (() => new QuerySuite),
    "sweep_catalog" -> (() => new SweepCatalog))

  def session(root: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 131072)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", root.resolve(".bench_build/warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Functions.registerAll(spark)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  private val t00 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t00) / 1e9}%7.2f s] $msg")

  def parseArgs(argv: Array[String]): Map[String, String] =
    argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val wname = args("workload")
    val wl = workloads.getOrElse(wname,
      throw new IllegalArgumentException(s"unknown workload $wname"))()
    run(args, wname, wl)
  }

  /** One run of `wl` as `--seed`, `--seconds` and `--trace` say; prints
    * the result line. */
  def run(args: Map[String, String], wname: String, wl: Workload): Unit = {
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traceOn = args("trace") == "1"
    val root = Paths.get(args.getOrElse("root", ".")).toAbsolutePath.normalize

    // set-up, several times; the last session is kept
    val setups = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 1 to 3) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(root)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val build = root.resolve(".bench_build")
    val ctx = new Ctx(spark, seed,
      build.resolve(s"inputs/$wname/seed-$seed"), build.resolve(s"work/$wname"),
      root.resolve("perfbench/data"))
    deleteTree(ctx.out)
    Files.createDirectories(ctx.out)
    log(setups.map(x => f"$x%.3f").mkString("set-up ", ", ", " s"))
    wl.prepare(ctx)
    log("inputs ready")

    val metrics = mutable.LinkedHashMap[String, Double]()
    wl.warmUp(ctx)
    log("warm-up done")
    if (!traceOn) {
      val passes = mutable.ArrayBuffer[Map[String, Double]]()
      val count = math.max(1, math.round(seconds / wl.nominalPassSeconds).toInt)
      while (passes.length < count) {
        val a0 = Heap.allocated
        val m = wl.run(ctx, NoTrace) + ("heap_alloc_mb" -> (Heap.allocated - a0) / 1048576.0)
        wl.verify(ctx)
        passes += m
        log(m.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.3f" }.mkString("pass: ", " ", ""))
      }
      metrics("setup_s") = median(setups.toSeq)
      for (k <- Seq("chain_s", "part_a_s", "part_b_s", "heap_alloc_mb"))
        metrics(k) = median(passes.map(_(k)).toSeq)
    } else {
      // untraced, traced, untraced: passes still speed up as the JIT
      // warms, so the overhead is taken against the untraced pass after
      // (the warmer one, so the overhead errs high)
      val before = wl.run(ctx, NoTrace)
      wl.verify(ctx)
      val tr = new Trace(spark.sparkContext, s"$wname/seed-$seed")
      tr.start()
      Heap.on = true
      val layer = wl.run(ctx, tr)
      Heap.on = false
      tr.stop()
      wl.verify(ctx)
      val plain = wl.run(ctx, NoTrace)
      wl.verify(ctx)
      // the traced pass gives counts; its timers yield to the untraced
      // pass's, which are the one-call figures
      val values = mutable.Map[String, Double]() ++ layer ++ plain
      values --= Seq("chain_s", "part_a_s", "part_b_s")
      tr.spanNames.filter(n => PerLayer.names.contains(n + "_s"))
        .foreach(n => values(n + "_s") = tr.seconds(n))
      values ++= wl.fromTrace(tr) ++ tr.totals(Cores)
      values("jvm.peak_heap_mb") = Heap.peakMb
      // the same timed region on both sides
      values("trace.overhead_s") = layer("chain_s") - plain("chain_s")
      PerLayer.names.foreach(n => metrics(n) = values.getOrElse(n, 0.0))
      tr.writeSpans(build.resolve(s"traces/$wname-seed-$seed.jsonl"))
      tr.strayReport.foreach { case (n, c) =>
        log(s"stray jobs: $c submitted after span '$n' closed")
      }
      val unknown = values.keySet -- PerLayer.names
      require(unknown.isEmpty, s"unlisted per-layer values: ${unknown.mkString(",")}")
      log(f"traced chain ${layer("chain_s")}%.3f s, untraced ${before("chain_s")}%.3f and " +
        f"${plain("chain_s")}%.3f s")
    }
    spark.stop()

    val body = metrics.map { case (k, v) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) "0" else v.toString},"unit":"${PerLayer.unit(k)}"}"""
    }.mkString(",")
    println(s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":{$body}}""")
  }
}

/** Heap figures: bytes allocated by all threads so far, and the highest
  * heap occupancy after a collection while `on` is set. */
object Heap {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools: Set[String] = {
    val b = Set.newBuilder[String]
    ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP) b += p.getName
    }
    b.result()
  }
  @volatile var on = false
  @volatile private var peak = 0L

  def allocated: Long = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean].getTotalThreadAllocatedBytes

  def peakMb: Double = {
    // a pass too short to collect reads the current occupancy
    if (peak == 0L) peak = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak / 1048576.0
  }

  ManagementFactory.getGarbageCollectorMXBeans.forEach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            var used = 0L
            info.getGcInfo.getMemoryUsageAfterGc.forEach { (pool, u) =>
              if (heapPools(pool)) used += u.getUsed
            }
            if (used > peak) peak = used
          }
      }, null, null)
    case _ => ()
  }
}
