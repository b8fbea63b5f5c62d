package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB timeline of a registry query — the empirical side of guide
  * §1.1 for queries whose cost is in EAGER internal stages (index
  * builds, iterative components, checkpoints) that a final-plan
  * `explain` cannot show: attach a listener, run the query once
  * warm, print every Spark job's wall + description in order.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.JobTime q116_ivf_indexed"
  */
object JobTime {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobTime <query name>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val rows = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Double, Int, String)]())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          // stage names carry the call sites when job properties don't
          // (observed empty on this Spark 4.1 local build): the result
          // stage plus the distinct upstream sites tell which operator
          // the job materializes
          .getOrElse(js.stageInfos.map(_.name.takeWhile(_ != '\n'))
            .distinct.mkString(" | "))
        starts.put(js.jobId, (System.nanoTime(), desc,
          js.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, desc, nTasks) =>
          rows.add((je.jobId, (System.nanoTime() - t0) / 1e9, nTasks, desc))
        }
      }
    })
    args.foreach { name =>
      val fn = graft.queries.Registry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      // warm-up (JIT/codegen/footers), then the measured pass
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      rows.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain listener events before reading the rows (the bus is
      // private; a short sleep suffices for a local diagnostic tool)
      Thread.sleep(300)
      println(f"===== $name wall=$wall%.3fs jobs=${rows.size} =====")
      rows.forEach { case (id, s, nTasks, desc) =>
        println(f"  job $id%3d $s%7.3fs tasks=$nTasks%4d  ${desc.take(90)}")
      }
    }
    spark.stop()
  }
}
