package graft.ext

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Shingles8
import graft.pumle.SparkSpec

/** The verify stage's verdict at its threshold, and the winnow index
  * reads: a pair whose Jaccard equals the threshold is a near-dup in
  * every form, and an increment against a written index starts no
  * schema-inference job. */
class DedupVerifySpec extends SparkSpec {

  /** `a` and `b` = `a` plus exactly as many new 8-char shingles as `a`
    * has: sh(a) ⊂ sh(b) and |sh(b)| = 2·|sh(a)|, so their Jaccard is
    * 1/2, exactly 0.5 as a plain double and as a 6-dp ratio. `b` keeps
    * `a`'s twelve words, so the two share every winnow window of `a`. */
  private val (a, b) = {
    val a = Seq("amber", "birch", "cedar", "delta", "ember", "fjord", "grove",
      "heron", "indigo", "juniper", "kestrel", "lumen").mkString(" ")
    val tail = " marble nectar osprey pepper quartz raven saffron tundra " +
      "umber violet walnut xenon yarrow zephyr"
    (a, a + tail.take(a.length - 7))
  }

  private def shingles(t: String): Set[String] =
    Shingles8.compute(UTF8String.fromString(t)).toObjectArray(
      org.apache.spark.sql.types.StringType).map(_.toString).toSet

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  private val above = Math.nextUp(0.5)

  test("the fixture pair's Jaccard is exactly 0.5") {
    val (sa, sb) = (shingles(a), shingles(b))
    assert(sa.subsetOf(sb) && sb.size == 2 * sa.size, s"${sa.size} ${sb.size}")
  }

  test("a pair at the threshold is dropped by the winnow increment and its indexed form") {
    import spark.implicits._
    val seen = Seq((1L, a)).toDF("doc_id", "text")
    val fresh = Seq((2L, b)).toDF("doc_id", "text")
    val snap = Dedup.winnowSnapshot(spark, seen).localCheckpoint(true)
    val dir = graft.core.TempDir("winbound").toString
    Dedup.writeWinnowIndex(spark, seen, dir)
    def kept(t: Double) = (
      ids(Dedup.dedupIncrementalWinnow(spark, fresh, snap, threshold = t)),
      ids(Dedup.dedupIncrementalWinnowIndexed(spark, fresh, dir, threshold = t)))
    assert(kept(0.5) == ((Set.empty[Long], Set.empty[Long])))
    assert(kept(above) == ((Set(2L), Set(2L))))
  }

  test("a pair at the threshold merges in dedupCorpusWinnow") {
    import spark.implicits._
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    assert(ids(Dedup.dedupCorpusWinnow(spark, docs, verifyThreshold = 0.5)) == Set(1L))
    assert(ids(Dedup.dedupCorpusWinnow(spark, docs, verifyThreshold = above)) == Set(1L, 2L))
  }

  test("an increment against a written winnow index starts no schema-inference job") {
    import spark.implicits._
    val dir = graft.core.TempDir("winread").toString
    Dedup.writeWinnowIndex(spark, Seq((1L, a)).toDF("doc_id", "text"), dir)
    val fresh = Seq((2L, b), (3L, "nothing in common with the index")).toDF("doc_id", "text")
    val sc = spark.sparkContext
    ListenerAccess.drain(sc)
    // a job without a description names its stages' call sites; an
    // inference read is `parquet at <File>.scala:<line>`
    val described = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        described.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.map(_.name).mkString(" | ")))
    }
    sc.addSparkListener(l)
    try {
      assert(ids(Dedup.dedupIncrementalWinnowIndexed(spark, fresh, dir,
        threshold = 0.5)) == Set(3L))
      ListenerAccess.drain(sc)
    } finally sc.removeSparkListener(l)
    val jobs = described.asScala.toSeq
    assert(jobs.nonEmpty)
    assert(!jobs.exists(_.contains("parquet at")), jobs.mkString("\n"))
  }
}
