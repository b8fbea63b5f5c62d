package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Where a workload puts its layer boundaries. The timed runs use
  * [[NoTrace]]; the traced run uses a [[Trace]]. */
trait Tracer {
  def span[T](name: String)(body: => T): T
}

object NoTrace extends Tracer {
  def span[T](name: String)(body: => T): T = body
}

/** Spans kept in memory, plus a listener that attributes Spark jobs,
  * tasks, shuffle and spill to the span whose job group submitted them.
  * Each span sets the job group `perfbench-span-<id>` for its body; a
  * job that starts after its span has closed is a stray job. */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, startMs: Long,
      startNs: Long, var endMs: Long = -1L, var endNs: Long = -1L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final class Counts {
    var jobs = 0L; var tasks = 0L; var busyMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
    def add(o: Counts): Unit = {
      jobs += o.jobs; tasks += o.tasks; busyMs += o.busyMs
      shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    }
  }
  final case class Job(spanId: Int, startMs: Long, var endMs: Long = -1L)
}

final class Trace(sc: SparkContext, val runId: String) extends Tracer {
  import Trace._

  private val GroupPrefix = "perfbench-span-"
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private val own = mutable.Map[Int, Counts]() // span id → its own work
  private val jobs = mutable.Map[Int, Job]()
  private val stageSpan = mutable.Map[Int, Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val spanId =
        if (group.startsWith(GroupPrefix)) group.stripPrefix(GroupPrefix).toInt else 0
      jobs(e.jobId) = Job(spanId, e.time)
      e.stageIds.foreach(stageSpan(_) = spanId)
      counts(spanId).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val c = counts(stageSpan.getOrElse(e.stageId, 0))
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.busyMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  private object lock
  private def counts(id: Int): Counts = own.getOrElseUpdate(id, new Counts)

  private var startMs = 0L
  private var startNs = 0L
  private var endNs = 0L

  def start(): Unit = {
    sc.addSparkListener(listener)
    startMs = System.currentTimeMillis(); startNs = System.nanoTime()
  }

  /** Close the traced region and wait for every listener event. */
  def stop(): Unit = {
    endNs = System.nanoTime()
    org.apache.spark.BenchAccess.drainListeners(sc)
    sc.removeSparkListener(listener)
  }

  def span[T](name: String)(body: => T): T = {
    val s = lock.synchronized {
      val s = Span(spans.length + 1, name, open.headOption.getOrElse(0),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      s
    }
    open = s.id :: open
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(GroupPrefix + s.id, name)
    try body
    finally {
      lock.synchronized { s.endMs = System.currentTimeMillis(); s.endNs = System.nanoTime() }
      open = open.tail
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  def wallSeconds: Double = (endNs - startNs) / 1e9

  def spanNames: Seq[String] = spans.map(_.name).distinct.toSeq

  /** Seconds summed over every span with this name. */
  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** Counts of every span with this name, children included. */
  def inclusive(name: String): Counts = {
    val out = new Counts
    spans.filter(_.name == name).foreach(s => subtree(s.id).foreach(id => own.get(id).foreach(out.add)))
    out
  }

  private def subtree(id: Int): Seq[Int] =
    id +: spans.filter(_.parent == id).flatMap(c => subtree(c.id)).toSeq

  private def strays: Seq[(Int, Job)] = jobs.toSeq.collect {
    case (jid, j) if j.spanId > 0 && {
      val s = spans(j.spanId - 1); s.endMs >= 0 && j.startMs > s.endMs
    } => (jid, j)
  }

  /** Whole-run Spark totals: jobs, tasks, busy time, shuffle, spill,
    * core use over `cores`, driver gap (wall outside every job) and
    * stray jobs. */
  def totals(cores: Int): Map[String, Double] = {
    val all = new Counts
    own.values.foreach(all.add)
    val intervals = jobs.values.toSeq.filter(_.endMs >= 0)
      .map(j => (math.max(j.startMs, startMs), j.endMs)).sortBy(_._1)
    var covered = 0L; var reach = Long.MinValue
    intervals.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    val wall = wallSeconds
    Map(
      "spark.jobs" -> all.jobs.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.task_busy_s" -> all.busyMs / 1e3,
      "spark.core_use" -> all.busyMs / 1e3 / (wall * cores),
      "spark.shuffle_bytes" -> all.shuffleBytes.toDouble,
      "spark.spill_bytes" -> all.spillBytes.toDouble,
      "spark.driver_gap_s" -> math.max(0.0, wall - covered / 1e3),
      "spark.stray_jobs" -> strays.length.toDouble)
  }

  /** Span names that submitted a job after they closed, with counts. */
  def strayReport: Seq[(String, Int)] =
    strays.groupBy(_._2.spanId).toSeq
      .map { case (id, js) => (spans(id - 1).name, js.length) }.sortBy(-_._2)

  /** Every span as JSON lines: name, parent, times, self time and the
    * work attributed to it; each carries the run identifier. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val strayBySpan = strays.groupBy(_._2.spanId).map { case (k, v) => k -> v.length }
    val lines = spans.map { s =>
      val children = spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L; var reach = Long.MinValue
      children.foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
      val c = own.getOrElse(s.id, new Counts)
      f"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_s":${s.seconds}%.6f,""" +
        f""""self_s":${(s.endNs - s.startNs - covered) / 1e9}%.6f,"jobs":${c.jobs},""" +
        f""""tasks":${c.tasks},"busy_s":${c.busyMs / 1e3}%.3f,""" +
        f""""shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes},""" +
        f""""stray_jobs":${strayBySpan.getOrElse(s.id, 0)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
