package graft.pumle

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** End-to-end pipeline drive (SURVEY §3 entry points A+B+C) on a
  * synthetic solver run: sweep generation → catalog → staging .mat
  * hand-off → (synthesized bronze, standing in for the external MRST
  * solver) → silver → golden → QA → tabular CSV + npy + zarr exports.
  *
  * Run: sbt "runMain graft.pumle.PumleDemo /tmp/pumle_demo"
  */
object PumleDemo {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("/tmp/pumle_demo")
    val spark = graft.Engine.session()
    spark.sparkContext.setLogLevel("WARN")

    // --- Entry point A: config → sweep → catalog → staging ---
    val base = Map[String, Any](
      "pres_ref" -> 35.0, "temp_ref" -> 95.15, "cp_rock" -> 4e-05,
      "srw" -> 0.11, "src" -> 0.21, "pe" -> 5.0, "XNaCl" -> 0.1,
      "rho_h2o" -> 1000.0)
    Config.validateLimits(base)
    val variants = Sweep.generateVariations(base, Seq("pe", "srw"), 0.5)
    println(s"[demo] sweep: ${variants.length} variants, hashes " +
      variants.map(_.simHash).mkString(","))

    val catalogPath = s"$root/catalog"
    val cat0 = Catalog.read(spark, catalogPath)
    val cat1 = Catalog.upsert(cat0, Catalog.rowsFor(spark, variants))
    Catalog.write(cat1, catalogPath)
    val catalog = Catalog.read(spark, catalogPath)
    Catalog.registerView(spark, catalog)
    println(s"[demo] catalog rows: ${catalog.count()}")

    // staging writes run on executors, one task per variant (SURVEY
    // §3.1 redesign: control crosses the boundary at foreachPartition).
    // The full INI config rides along: one .mat per section per sim —
    // the solver loads ALL of them (co2lab3DPUMLE.m:34-44).
    val baseCfg = Config.parseIni(
      s"""[Paths]
         |pumle_root = $root
         |pumle_results = data_lake/bronze
         |[Pre-Processing]
         |case_name = demo
         |file_basename = db_sim
         |model_name = DEMO-GRID
         |[Grid]
         |file_path = grid
         |repair_flag = True
         |[Fluid]
         |pres_ref = 35
         |temp_ref = 95.15
         |cp_rock = 4e-5
         |srw = 0.11
         |src = 0.21
         |pe = 5
         |xnacl = 0.1
         |rho_h2o = 1000
         |[Initial Conditions]
         |sw_0 = 1.0
         |[Boundary Conditions]
         |type = pressure
         |[Wells]
         |co2_inj = 1.5e8
         |[Schedule]
         |injection_time = 1
         |migration_time = 1
         |injection_timesteps = 100
         |injection_rampup_dt_initial = 0.1
         |migration_timesteps = 10
         |[EXECUTION]
         |octave = /usr/bin/octave
         |mrst_root = /opt/mrst
         |[SimNums]
         |sim_id = 1
         |""".stripMargin)
    Solver.writeStaging(spark, variants, s"$root/staging", baseCfg)
    val stagingDirs = new java.io.File(s"$root/staging").list()
    val matsPerDir = new java.io.File(
      s"$root/staging/${stagingDirs.head}").list().count(_.endsWith(".mat"))
    println(s"[demo] staging dirs: ${stagingDirs.length} " +
      s"($matsPerDir section .mat files each)")

    // --- External solver boundary: synthesize bronze for 2 variants ---
    val dims = (3, 2, 2)
    val bronzeDir = s"$root/bronze"
    Files.createDirectories(Paths.get(bronzeDir))
    val actnum = Seq(1, 1, 1, 1, 1, 0, 1, 1, 1, 1, 1, 0)
    variants.take(2).foreach { v =>
      val steps = (0 until 4).map { t =>
        val p = (0 until 12).map(c => 100.0 * t + c).mkString("[", ",", "]")
        val s = (0 until 12).map(c => s"[${1.0 - 0.005 * c * t},${0.005 * c * t}]")
          .mkString("[", ",", "]")
        s"""{"pressure": $p, "s": $s}"""
      }
      Files.writeString(Paths.get(bronzeDir, s"states_unisim_${v.simHash}.json"),
        s"""{"states": [${steps.mkString(",")}]}""")
      Files.writeString(Paths.get(bronzeDir, s"grdecl_unisim_${v.simHash}.json"),
        s"""{"actnum": [${actnum.mkString(",")}]}""")
    }
    Files.writeString(Paths.get(bronzeDir, "g_unisim.json"), """{"dims": [3, 2, 2]}""")

    // --- Entry point B: bronze → silver → golden (+ QA) ---
    // cached: QA (gatherDropStats) and the silver path both consume the
    // same bronze parse (the lru_cache analog, SURVEY §2.8)
    val states = Pipeline.readBronzeStatesCached(spark, s"$bronzeDir/states_unisim_*.json")
    val an = Pipeline.readActnum(spark,
      s"$bronzeDir/grdecl_unisim_${variants.head.simHash}.json")
    Pipeline.gatherDropStats(states, an).show(truncate = false)
    val golden = Pipeline.golden(Pipeline.silver(states, an), dims)
    Pipeline.writeGolden(golden, s"$root/golden")
    states.unpersist()
    val g = spark.read.parquet(s"$root/golden")
    println(s"[demo] golden rows: ${g.count()} " +
      s"(${g.select("sim_hash").distinct().count()} sims)")
    Pipeline.describeGolden(g).orderBy("sim_hash", "field").show(truncate = false)

    // --- Entry point C: tabular + dense exports ---
    import spark.implicits._
    val simIds = variants.map(v => (v.simHash, v.simId)).toDF("sim_hash", "sim_id")
    val tab = Pipeline.tabular(g, "gas_saturation", simIds)
    Pipeline.writeTabularCsv(tab, s"$root/tabular")
    println(s"[demo] tabular rows: ${tab.count()}")

    val h = variants.head.simHash
    val (dense, nt) = Pipeline.denseField(g, h, "pressure", dims)
    val npyPath = s"$root/pressure_${PyJson.filenameString(variants.head.params)}.npy"
    Npy.write(npyPath, dense, Seq(dims._1, dims._2, dims._3, nt))
    println(s"[demo] npy: $npyPath (${new java.io.File(npyPath).length()} bytes)")

    Zarr.writeByTimestep(
      g.filter(col("sim_hash") === h && col("field") === "pressure")
        .select(col("t"),
          (col("i") + lit(dims._1) * (col("j") + lit(dims._2) * col("k"))).as("cell_idx"),
          col("value")),
      dims, nt, s"$root/pressure.zarr")
    println(s"[demo] zarr chunks: " +
      new java.io.File(s"$root/pressure.zarr").list().count(_ != ".zarray"))

    // catalog status progression for the two "solved" sims — re-runs
    // skip already-completed ones (the completed.flag semantics,
    // simulation.cpp:16-20)
    val fresh = catalog
      .filter(col("status") === Catalog.Status.Created &&
        col("sim_hash").isin(variants.take(2).map(_.simHash): _*))
      .select("sim_hash").collect().map(_.getString(0)).toSeq
    println(s"[demo] sims to run: ${fresh.length} (others skipped as completed)")
    val done =
      if (fresh.isEmpty) catalog
      else Catalog.setStatus(
        Catalog.setStatus(catalog, fresh, Catalog.Status.Running),
        fresh, Catalog.Status.Completed)
    Catalog.write(done, catalogPath)
    // the swap invalidated the old file listing — re-read + re-register
    spark.catalog.refreshByPath(catalogPath)
    Catalog.registerView(spark, Catalog.read(spark, catalogPath))
    spark.sql("SELECT sim_hash, sim_id, status FROM simulations ORDER BY sim_id")
      .show(5, truncate = false)
    // --- Streaming leg: same bronze dir through the checkpointed file
    // stream into a second golden path (exactly-once per sim) ---
    val sq = graft.streaming.Streams.bronzeIngest(
      spark, s"$bronzeDir/states_unisim_*.json",
      Pipeline.readActnum(spark, s"$bronzeDir/grdecl_unisim_${variants.head.simHash}.json"),
      dims, s"$root/golden_streamed", s"$root/stream_ckpt")
    sq.awaitTermination()
    val streamed = spark.read.parquet(s"$root/golden_streamed")
    println(s"[demo] streamed golden rows: ${streamed.count()}")

    println("[demo] OK")
    spark.stop()
  }

  private val Npy = graft.pumle.export.Npy
  private val Zarr = graft.pumle.export.Zarr
}
