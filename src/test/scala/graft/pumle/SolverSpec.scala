package graft.pumle

import java.nio.file.{Files, Paths}

import org.apache.spark.ListenerAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Entry-point-A machinery with a mock external solver (a shell script
  * standing in for the Octave/MRST boundary — the reference's
  * `octave --eval co2lab3DPUMLE(...)` per staging dir). */
class SolverSpec extends SparkSpec {

  private def variants = Seq(
    Sweep.Variant(1, "aaaa0001", Map("pe" -> 5.0, "srw" -> 0.11)),
    Sweep.Variant(2, "bbbb0002", Map("pe" -> 6.0, "srw" -> 0.11)),
    Sweep.Variant(3, "cccc0003", Map("pe" -> 7.0, "srw" -> 0.11)))

  private def mockSolver(dir: String, failHash: Option[String]): String = {
    val script = Paths.get(dir, "mock_solver.sh")
    val failCheck = failHash.map(h => s"""case "$$1" in *$h*) exit 3;; esac""").getOrElse("")
    Files.writeString(script,
      s"""#!/bin/sh
         |$failCheck
         |echo '{"states": [{"pressure": [1.0], "s": [[1.0, 0.0]]}]}' > "$$1/states_out.json"
         |exit 0
         |""".stripMargin)
    script.toFile.setExecutable(true)
    script.toString
  }

  test("distributed staging write produces the reference layout") {
    val root = graft.core.TempDir("solver-stage").toString
    val dirs = Solver.writeStaging(spark, variants, root)
    assert(dirs.toSet.map((d: String) => new java.io.File(d).getName) ==
      Set("staging_aaaa0001", "staging_bbbb0002", "staging_cccc0003"))
    dirs.foreach { d =>
      val hash = d.split("staging_").last
      assert(new java.io.File(d, s"Fluid_$hash.mat").length() > 128)
      assert(new java.io.File(d, s"SimNums_$hash.mat").length() > 128)
    }
  }

  test("full-config staging writes one .mat per schema section (solver contract)") {
    val root = graft.core.TempDir("solver-fullcfg").toString
    val base = Config.parseIni(
      """[Paths]
        |pumle_root = /tmp/x
        |pumle_results = data_lake/bronze
        |[Pre-Processing]
        |case_name = t
        |file_basename = db
        |model_name = M
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
    val dirs = Solver.writeStaging(spark, variants.take(1), root, base)
    val files = new java.io.File(dirs.head).list().toSet
    val h = "aaaa0001"
    // the 10 files co2lab3DPUMLE.m:34-44 loads, sanitized names (OP-X6)
    assert(files == Set(
      s"Paths_$h.mat", s"PreProcessing_$h.mat", s"Grid_$h.mat",
      s"Fluid_$h.mat", s"InitialConditions_$h.mat",
      s"BoundaryConditions_$h.mat", s"Wells_$h.mat", s"Schedule_$h.mat",
      s"EXECUTION_$h.mat", s"SimNums_$h.mat"))
    // Fluid carries the VARIANT's values over the base's (pe: 5 → 5.0 base,
    // variant pe=5.0/srw=0.11 — use a distinct value to see the override)
    val sections = Solver.sectionsFor(base, Sweep.Variant(7, h, Map("pe" -> 9.9)))
    val fluid = sections.find(_._1 == "Fluid").get._2.toMap
    assert(fluid("pe") == 9.9 && fluid("srw") == 0.11) // override + passthrough
    val simNums = sections.find(_._1 == "SimNums").get._2
    assert(simNums.contains("sim_id" -> 7.0)) // float section → double
    assert(simNums.contains("sim_hash" -> h))
    assert(simNums.contains("staging_folder" -> s"staging_$h"))
  }

  test("dispatch runs one process per dir, writes completed.flag, skips on rerun") {
    val root = graft.core.TempDir("solver-run").toString
    val dirs = Solver.writeStaging(spark, variants, root)
    val cmd = Seq("/bin/sh", mockSolver(root, None))
    val r1 = Solver.dispatch(spark, dirs, cmd)
    assert(r1.forall(r => r.exitCode == 0 && !r.skipped))
    dirs.foreach { d =>
      assert(new java.io.File(d, "completed.flag").exists)
      assert(new java.io.File(d, "states_out.json").exists)
    }
    val r2 = Solver.dispatch(spark, dirs, cmd)
    assert(r2.forall(_.skipped)) // completed.flag semantics
  }

  test("runSimulations drives catalog CREATED→RUNNING→COMPLETED/FAILED, and retries FAILED sims") {
    val root = graft.core.TempDir("solver-full").toString
    val cmd = Seq("/bin/sh", mockSolver(root, failHash = Some("bbbb0002")))
    val (cat, results) = Solver.runSimulations(
      spark, Catalog.empty(spark), variants, root, cmd)
    assert(results.count(_.exitCode == 0) == 2)
    val statuses = cat.select("sim_hash", "status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(statuses("aaaa0001") == "COMPLETED")
    assert(statuses("bbbb0002") == "FAILED")
    assert(statuses("cccc0003") == "COMPLETED")

    // retry with a now-working solver: completed sims skip via flag,
    // the FAILED one re-queues (FAILED→CREATED→RUNNING→COMPLETED)
    val cmdOk = Seq("/bin/sh", mockSolver(root, failHash = None))
    val (cat2, results2) = Solver.runSimulations(spark, cat, variants, root, cmdOk)
    assert(results2.count(_.skipped) == 2)
    val statuses2 = cat2.select("sim_hash", "status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(statuses2("bbbb0002") == "COMPLETED")
    assert(statuses2("aaaa0001") == "COMPLETED")
  }

  private def statusOf(cat: DataFrame): Map[String, String] =
    cat.select("sim_hash", "status").collect().map(r => r.getString(0) -> r.getString(1)).toMap

  /** Runs `body` and counts the Spark jobs it submits. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) seen.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val out = body
      ListenerAccess.drain(sc)
      (out, seen.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a solver that cannot start fails each sim, not the job") {
    val root = graft.core.TempDir("solver-missing").toString
    val cmd = Seq(Paths.get(root, "no-such-solver").toString)
    val dirs = Solver.writeStaging(spark, variants, root)
    val results = Solver.dispatch(spark, dirs, cmd)
    assert(results.map(_.stagingDir).toSet == dirs.toSet)
    assert(results.forall(r => r.exitCode != 0 && !r.skipped))
    dirs.foreach(d => assert(!new java.io.File(d, "completed.flag").exists))
    val (cat, _) = Solver.runSimulations(spark, Catalog.empty(spark), variants, root, cmd)
    assert(statusOf(cat) == variants.map(_.simHash -> Catalog.Status.Failed).toMap)
  }

  test("runSimulations moves statuses in one read and one projection") {
    val root = graft.core.TempDir("solver-jobs").toString
    val cmd = Seq("/bin/sh", mockSolver(root, failHash = Some("bbbb0002")))
    Catalog.write(Catalog.upsert(Catalog.empty(spark), Catalog.rowsFor(spark, variants)), s"$root/catalog")
    val committed = Catalog.read(spark, s"$root/catalog")
    val ((cat, _), jobs) = jobsOf(Solver.runSimulations(spark, committed, variants, root, cmd))
    // staging, dispatch, and the status read (its upsert's broadcast
    // and result); a validated setStatus chained per step made it 12
    assert(jobs == 4)
    assert(statusOf(cat) == Map("aaaa0001" -> "COMPLETED", "bbbb0002" -> "FAILED", "cccc0003" -> "COMPLETED"))
  }

  test("runSimulations rejects an illegal walk: a fresh run of a RUNNING sim") {
    val root = graft.core.TempDir("solver-running").toString
    val cmd = Seq("/bin/sh", mockSolver(root, failHash = None))
    val cat = Catalog.setStatus(
      Catalog.upsert(Catalog.empty(spark), Catalog.rowsFor(spark, variants)),
      Seq("cccc0003"), Catalog.Status.Running)
    val e = intercept[IllegalArgumentException] {
      Solver.runSimulations(spark, cat, variants, root, cmd)
    }
    assert(e.getMessage.contains("RUNNING -> RUNNING"))
  }
}
