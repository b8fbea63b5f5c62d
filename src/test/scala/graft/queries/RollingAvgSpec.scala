package graft.queries

import org.apache.spark.sql.functions._

import graft.pumle.SparkSpec

/** q34 rolling-frame window and q35 debounce vs brute-force per-key
  * computations. */
class RollingAvgSpec extends SparkSpec {

  test("q35 debounce keeps exactly the first event of each >60s-gap burst") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // per-key gaps 0..179s straddle the 60s horizon → both branches fire
    val rows = (0 until 400).map { i =>
      (i.toLong, (i % 5).toLong, if (i % 2 == 0) "click" else "view",
        rnd.nextInt(180).toLong * 1000000L) // gap in µs
    }
    // cumulative per-key µs timestamps from the gaps
    val byKey = rows.groupBy(r => (r._2, r._3)).flatMap { case (_, evs) =>
      var tUs = 0L
      evs.sortBy(_._1).map { e => tUs += e._4; (e._1, e._2, e._3, tUs) }
    }.toSeq
    val dir = graft.core.TempDir("debounce").toString
    byKey.toDF("event_id", "user_id", "event_type", "ts_us")
      .withColumn("ts", col("ts_us") * 1000) // ns column; engine DIVs by 1000
      .drop("ts_us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = Registry.queries("q35_debounce")(spark, dir).collect()
      .map(_.getAs[Long]("event_id")).toSet

    val want = byKey.groupBy(r => (r._2, r._3)).values.flatMap { evs =>
      val ordered = evs.sortBy(e => (e._4, e._1))
      var lastUs = Long.MinValue
      ordered.flatMap { e =>
        val keep = lastUs == Long.MinValue || e._4 - lastUs > 60000000L
        lastUs = e._4
        if (keep) Some(e._1) else None
      }
    }.toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("q34 rolling avg equals the brute-force 3-event trailing mean") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (0 until 300).map { i =>
      (i.toLong, (i % 7).toLong, rnd.nextLong(1000000L), rnd.nextDouble() * 100)
    } // (event_id, user_id, ts, value)
    val dir = graft.core.TempDir("rolling").toString
    rows.toDF("event_id", "user_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = Registry.queries("q34_rolling_avg")(spark, dir).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Long]("n_in_frame"), r.getAs[Double]("rolling_avg"))).toMap

    rows.groupBy(_._2).foreach { case (_, evs) =>
      val ordered = evs.sortBy(e => (e._3, e._1))
      ordered.zipWithIndex.foreach { case (e, i) =>
        val frame = ordered.slice(math.max(0, i - 2), i + 1)
        // mirror the engine's decimal discipline: per-term 6-dp rounding
        val sum = frame.map(x => BigDecimal(x._4).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
        val want = BigDecimal(sum.toDouble / frame.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val (n, avg) = got(e._1)
        assert(n == frame.size, s"frame size for event ${e._1}")
        assert(math.abs(avg - want) < 1e-9, s"event ${e._1}: got $avg want $want")
      }
    }
  }
}
