package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.pumle.SparkSpec

/** The query selection both mains share and Bench's per-shot job
  * records. */
class BenchSpec extends SparkSpec {

  test("every registered query name selects exactly that one query") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val wrong = names.filter(n => SparkEntry.selected(Some(n)).map(_._1) != Seq(n))
    assert(wrong.isEmpty, s"names that select other queries too: ${wrong.mkString(", ")}")
    assert(SparkEntry.selected(None).map(_._1) == names)
    assert(SparkEntry.selected(Some(" , ")).map(_._1) == names)
    assert(SparkEntry.selected(Some("q93_,q96_")).map(_._1) ==
      Seq("q93_quality_gate", "q96_quality_gate_narrow"))
  }

  test("a prefix list with prefixes that match nothing throws, naming them") {
    val e = intercept[IllegalArgumentException](SparkEntry.selected(Some("q93_, nope_,zz9")))
    assert(e.getMessage.contains("nope_, zz9"), e.getMessage)
    assert(!e.getMessage.contains("q93_"), e.getMessage)
  }

  test("Bench attributes to a shot exactly the jobs the drained listener saw") {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    val all = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(e.jobId -> Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val log = new Bench.JobLog
    sc.addSparkListener(log)
    sc.addSparkListener(all)
    val row =
      try {
        val r = Bench.measure(spark, "/root/testdata/sf0.001", 1, log)(
          "q65_dedup_clusters", SparkEntry.queries("q65_dedup_clusters"))
        ListenerAccess.drain(sc)
        r
      } finally {
        sc.removeSparkListener(all)
        sc.removeSparkListener(log)
      }
    val jobs = seen.asScala.toSeq.sortBy(_._1)
    assert(row.seconds > 0 && row.jobs.nonEmpty)
    assert(row.jobs.map(_.id) == jobs.map(_._1))
    assert(row.jobs.forall(j => j.seconds >= 0 && j.tasks > 0))
    // a labeled job's record carries its Par.labeled description verbatim
    val labeled = jobs.filter(_._2.nonEmpty)
    assert(labeled.nonEmpty)
    labeled.foreach { case (id, desc) =>
      assert(row.jobs.find(_.id == id).map(_.description).contains(desc))
    }
    assert(labeled.map(_._2).distinct ==
      Seq("components: edge input", "components: collect edges"))
    // an unlabeled job's description lists its stage names sorted, so
    // two runs of one plan record the same text
    val unlabeled = row.jobs.filterNot(j => labeled.exists(_._1 == j.id))
    assert(unlabeled.nonEmpty)
    unlabeled.foreach { j =>
      val parts = j.description.split(" \\| ").toSeq
      assert(parts == parts.sorted, j.description)
    }
  }
}
