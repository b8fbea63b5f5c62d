package graft.pumle

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end bronze → silver → golden → tabular on the FIXTURES.md §A
  * synthetic case: 3×2×2 grid (12 cells), cells 5 and 11 inactive,
  * 3 timesteps — every expected value hand-computable. */
class PipelineSpec extends SparkSpec {

  private val I = 3; private val J = 2; private val K = 2
  private val actnum = Seq(1, 1, 1, 1, 1, 0, 1, 1, 1, 1, 1, 0)
  private val hash = "deadbeef"
  private val nCells = 12

  // State arrays are indexed by GLOBAL F-order cell id (the reference
  // gathers `pressure[active_indices]`, sim_results_parser.py:303).
  // pressure[cell][t] = 100*t + cell; s = [1 - 0.01*cell*t, 0.01*cell*t]
  private def statesJson: String = {
    val steps = (0 until 3).map { t =>
      val p = (0 until nCells).map(c => 100.0 * t + c).mkString("[", ",", "]")
      val s = (0 until nCells)
        .map(c => s"[${1.0 - 0.01 * c * t},${0.01 * c * t}]")
        .mkString("[", ",", "]")
      s"""{"pressure": $p, "s": $s}"""
    }
    s"""{"states": [${steps.mkString(",")}]}"""
  }

  private lazy val dir: String = {
    val d = graft.core.TempDir("graft-fix").toString
    Files.writeString(Paths.get(d, s"states_unisim_$hash.json"), statesJson)
    Files.writeString(Paths.get(d, s"grdecl_unisim_$hash.json"),
      s"""{"actnum": [${actnum.mkString(",")}]}""")
    Files.writeString(Paths.get(d, "g_unisim.json"), """{"dims": [3, 2, 2]}""")
    d
  }

  test("bronze readers accept the solver's BARE jsonencode arrays (OP-S2)") {
    // the real solver writes bare top-level arrays (jsonencode(states),
    // co2lab3DPUMLE.m:517-559) and case_name may contain underscores
    val d = graft.core.TempDir("graft-bare").toString
    val bareStates = (0 until 2).map { t =>
      val p = (0 until 12).map(c => 10.0 * t + c).mkString("[", ",", "]")
      val s = (0 until 12).map(c => s"[1.0,${0.01 * c}]").mkString("[", ",", "]")
      s"""{"pressure": $p, "s": $s}"""
    }.mkString("[", ",", "]")
    Files.writeString(Paths.get(d, "states_unisim_1d_cafe1234.json"), bareStates)
    Files.writeString(Paths.get(d, "grdecl_unisim_1d_cafe1234.json"),
      s"[${actnum.mkString(",")}]")
    Files.writeString(Paths.get(d, "g_unisim_1d_cafe1234.json"), "[3, 2, 2]")
    val st = Pipeline.readBronzeStates(spark, s"$d/states_unisim_1d_cafe1234.json")
    assert(st.select(col("sim_hash")).head().getString(0) == "cafe1234")
    val an = Pipeline.readActnum(spark, s"$d/grdecl_unisim_1d_cafe1234.json")
    assert(an.filter(col("active")).count() == 10)
    assert(Pipeline.readDims(spark, s"$d/g_unisim_1d_cafe1234.json") == ((3, 2, 2)))
    assert(Pipeline.silver(st, an).count() == 20) // 10 active × 2 t
  }

  test("bronze readers parse states/actnum/dims with explicit schemas (OP-S2/V2)") {
    val st = Pipeline.readBronzeStates(spark, s"$dir/states_unisim_$hash.json")
    assert(st.count() == 1)
    assert(st.select(col("sim_hash")).head().getString(0) == hash)
    val an = Pipeline.readActnum(spark, s"$dir/grdecl_unisim_$hash.json")
    assert(an.count() == 12)
    assert(an.filter(col("active")).count() == 10) // OP-A1
    assert(Pipeline.readDims(spark, s"$dir/g_unisim.json") == ((3, 2, 2)))
  }

  test("silver gathers active cells only (OP-F1/F3/J3)") {
    val st = Pipeline.readBronzeStates(spark, s"$dir/states_unisim_$hash.json")
    val an = Pipeline.readActnum(spark, s"$dir/grdecl_unisim_$hash.json")
    val silver = Pipeline.silver(st, an)
    // 10 active cells × 3 timesteps (cells 5 and 11 gathered out)
    assert(silver.count() == 30)
    assert(silver.filter(col("cell_idx").isin(5, 11)).count() == 0)
    val r = silver.filter(col("t") === 2 && col("cell_idx") === 4).head()
    assert(r.getAs[Double]("pressure") == 204.0) // 100*2 + 4
    assert(r.getAs[Double]("sg") == 0.08)        // 0.01*4*2
  }

  test("golden long form delinearizes F-order (OP-X7/X8) and QA stats match") {
    val st = Pipeline.readBronzeStates(spark, s"$dir/states_unisim_$hash.json")
    val an = Pipeline.readActnum(spark, s"$dir/grdecl_unisim_$hash.json")
    val g = Pipeline.golden(Pipeline.silver(st, an), (I, J, K))
    assert(g.count() == 90) // 30 silver rows × 3 fields
    // cell 4 in F-order on 3×2×2 = (i=1, j=1, k=0)
    val r = g.filter(col("field") === "pressure" && col("t") === 0 &&
      col("i") === 1 && col("j") === 1 && col("k") === 0).head()
    assert(r.getAs[Double]("value") == 4.0)
    val qa = Pipeline.describeGolden(g)
      .filter(col("field") === "pressure").head()
    assert(qa.getAs[Double]("min_value") == 0.0)
    assert(qa.getAs[Double]("max_value") == 210.0) // t=2, cell 10 (highest active)
    assert(qa.getAs[Long]("n_values") == 30)
    assert(qa.getAs[Long]("n_timesteps") == 3)
  }

  test("tabular export keeps nonzero cells in (sim,t,x,y,z,value) form (OP-X9/F5)") {
    import spark.implicits._
    val st = Pipeline.readBronzeStates(spark, s"$dir/states_unisim_$hash.json")
    val an = Pipeline.readActnum(spark, s"$dir/grdecl_unisim_$hash.json")
    val g = Pipeline.golden(Pipeline.silver(st, an), (I, J, K))
    val simIds = Seq((hash, 1)).toDF("sim_hash", "sim_id")
    val tab = Pipeline.tabular(g, "gas_saturation", simIds)
    // sg = 0.01*cell*t: zero when t=0 or cell=0 → 9 active nonzero
    // cells (1..4, 6..10) × 2 steps
    assert(tab.count() == 18)
    val row = tab.filter(col("timestamp") === 1 && col("x") === 1 &&
      col("y") === 0 && col("z") === 0).head()
    assert(row.getAs[Double]("values") == 0.01) // cell 1, t 1
    assert(tab.columns.toSeq ==
      Seq("simulation", "timestamp", "x", "y", "z", "values"))
  }

  test("dense F-order export fills inactive cells with NaN (OP-X8)") {
    val st = Pipeline.readBronzeStates(spark, s"$dir/states_unisim_$hash.json")
    val an = Pipeline.readActnum(spark, s"$dir/grdecl_unisim_$hash.json")
    val g = Pipeline.golden(Pipeline.silver(st, an), (I, J, K))
    val (data, nt) = Pipeline.denseField(g, hash, "pressure", (I, J, K))
    assert(nt == 3)
    assert(data.length == 36)
    assert(data(4) == 4.0)                 // t0, cell 4
    assert(data(12 + 3) == 103.0)          // t1, cell 3
    assert(data(5).isNaN && data(11).isNaN) // inactive cells 5, 11
    assert(data.count(_.isNaN) == 6)       // 2 inactive × 3 timesteps
  }

  test("empty-states fail-fast (OP-V2) and drop diagnostics (OP-A5/F2)") {
    val st = Pipeline.readBronzeStates(spark, s"$dir/states_unisim_$hash.json")
    val an = Pipeline.readActnum(spark, s"$dir/grdecl_unisim_$hash.json")
    Pipeline.requireNonEmptyStates(st) // ok
    // truncated state arrays (length 9 < max active index 10): active
    // cells 9 and 10 positions beyond array drop out of the gather
    val emptyDir = graft.core.TempDir("graft-empty").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(emptyDir, "states_unisim_ffff0000.json"),
      """{"states": []}""")
    val empty = Pipeline.readBronzeStates(spark, s"$emptyDir/states_unisim_ffff0000.json")
    intercept[IllegalArgumentException] { Pipeline.requireNonEmptyStates(empty) }
    val stats = Pipeline.gatherDropStats(st, an).head()
    assert(stats.getAs[Long]("n_timesteps") == 3)
    assert(stats.getAs[Long]("n_active") == 10)
    assert(stats.getAs[Long]("max_dropped_per_t") == 0) // full-length arrays
  }

  test("golden partitioned write + partition-pruned read (SURVEY §4)") {
    val st = Pipeline.readBronzeStates(spark, s"$dir/states_unisim_$hash.json")
    val an = Pipeline.readActnum(spark, s"$dir/grdecl_unisim_$hash.json")
    val g = Pipeline.golden(Pipeline.silver(st, an), (I, J, K))
    val out = graft.core.TempDir("graft-golden").toString
    Pipeline.writeGolden(g, out)
    assert(new java.io.File(s"$out/sim_hash=$hash").isDirectory)
    val back = spark.read.parquet(out).filter(col("sim_hash") === hash)
    assert(back.count() == 90)
  }

  test("golden table bucketed by t prunes buckets on a t filter") {
    val st = Pipeline.readBronzeStates(spark, s"$dir/states_unisim_$hash.json")
    val an = Pipeline.readActnum(spark, s"$dir/grdecl_unisim_$hash.json")
    val g = Pipeline.golden(Pipeline.silver(st, an), (I, J, K))
    Pipeline.writeGoldenTable(g, "golden_b", nBuckets = 4)
    try {
      // AQE's DisableUnnecessaryBucketedScan turns bucketed reads off
      // for filter-only plans (no distribution consumer) — pin it on to
      // observe the bucket pruning itself.
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val q = spark.table("golden_b").filter(col("t") === 1)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 4"), plan)
      assert(q.count() == 30)
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS golden_b")
    }
  }

  test("bronze cache: second consumer reads InMemoryRelation (lru_cache analog)") {
    val states = Pipeline.readBronzeStatesCached(spark, s"$dir/states_unisim_$hash.json")
    try {
      val an = Pipeline.readActnum(spark, s"$dir/grdecl_unisim_$hash.json")
      Pipeline.gatherDropStats(states, an).collect() // consumer 1 fills the cache
      val plan = Pipeline.silver(states, an).queryExecution.optimizedPlan.toString
      assert(plan.contains("InMemoryRelation"), s"silver rescans bronze:\n$plan")
      assert(Pipeline.silver(states, an).count() == 30)
    } finally states.unpersist()
  }

  test("silverObserved reports gather metrics without a second scan (OP-A5)") {
    val st = Pipeline.readBronzeStates(spark, s"$dir/states_unisim_$hash.json")
    val an = Pipeline.readActnum(spark, s"$dir/grdecl_unisim_$hash.json")
    val (df, obs) = Pipeline.silverObserved(st, an)
    df.write.mode("overwrite")
      .parquet(graft.core.TempDir("graft-obs").toString + "/out")
    val m = obs.get
    assert(m("rows_gathered") == 30L)
    assert(m("distinct_sims") == 1L)
  }
}
