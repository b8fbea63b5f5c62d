package perfbench

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pumle.{Catalog, Config, Solver, Sweep}
import graft.pumle.Catalog.Status

/** Entry point A's bookkeeping: a sweep of 5 Fluid parameters goes into
  * an empty catalog, the first `dispatched` variants run through a
  * stand-in solver twice (the second time successes skip on
  * `completed.flag` and planted failures re-queue and fail again), the
  * rest are moved CREATED → RUNNING → COMPLETED, and a status census
  * runs through the `simulations` SQL view. Part a is the catalog work
  * (sweep, upserts, status moves, commits, census); part b is the two
  * solver runs. */
final class SweepCatalog(delta: Double = 0.25, dispatched: Int = 100) extends Workload {
  def nominalPassSeconds: Double = 3.3
  private val base = Config.parseIni(Gen.baseIni)
  private var failing = Set.empty[String]
  private var variantCount = 0
  private var census = Map.empty[String, Long]
  private var traced = false

  def prepare(ctx: Ctx): Unit = {
    val variants = Sweep.generateVariations(base.fluid, Gen.Varied, delta)
    variantCount = variants.length
    // a seeded ~6% of the dispatched hashes fail
    val r = new Gen.Rng(ctx.seed ^ 0x501FL)
    failing = variants.take(dispatched).map(_.simHash).filter(_ => r.nextInt(100) < 6).toSet
    Gen.once(ctx.inputs)(Gen.writeSolver(ctx.inputs.resolve("solver.sh"), failing.toSeq.sorted))
  }

  def run(ctx: Ctx, tr: Tracer): Map[String, Double] = {
    val spark = ctx.spark
    val catalogPath = ctx.out.resolve("catalog").toString
    val staging = ctx.out.resolve("staging")
    Main.deleteTree(ctx.out.resolve("catalog")); Main.deleteTree(staging)
    Files.createDirectories(staging)
    ctx.isolate()
    val cmd = solverCmd(ctx)
    val out = collection.mutable.Map[String, Double]()
    traced = tr.isInstanceOf[Trace]
    var solverNs = 0L
    def solver[T](body: => T): T = {
      val t = System.nanoTime()
      try body finally solverNs += System.nanoTime() - t
    }
    def commit(cat: DataFrame): DataFrame = {
      tr.span("catalog.commit") { Catalog.write(cat, catalogPath) }
      Catalog.read(spark, catalogPath)
    }

    val t0 = System.nanoTime()
    ctx.op("sweep catalog cycle") {
      val variants = tr.span("sweep.generate") {
        Sweep.generateVariations(base.fluid, Gen.Varied, delta)
      }
      val first = variants.take(dispatched)
      var cat = commit(tr.span("catalog.upsert") {
        Catalog.upsert(Catalog.empty(spark), Catalog.rowsFor(spark, variants))
      })
      for (round <- 1 to 2) {
        cat = tr match {
          case t: Trace => solver(stagedRun(ctx, t, cat, first, staging.toString, cmd, out))
          case _ => solver(Solver.runSimulations(spark, cat, first, staging.toString, cmd, base)._1)
        }
        cat = commit(cat)
      }
      val rest = variants.drop(dispatched).map(_.simHash)
      tr match {
        case _: Trace =>
          out("catalog.status_plan_bytes") = Catalog.setStatus(cat, rest, Status.Running)
            .queryExecution.optimizedPlan.toString.length.toDouble
        case _ =>
      }
      cat = tr.span("catalog.set_status") {
        Catalog.setStatus(Catalog.setStatus(cat, rest, Status.Running), rest, Status.Completed)
      }
      cat = commit(cat)
      census = tr.span("catalog.census") {
        Catalog.registerView(spark, cat)
        spark.sql("SELECT status, count(*) AS n FROM simulations GROUP BY status")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    }
    val t1 = System.nanoTime()
    val all = (t1 - t0) / 1e9
    val b = solverNs / 1e9
    out ++= Map("chain_s" -> all, "part_a_s" -> (all - b), "part_b_s" -> b,
      "catalog_cycle_s" -> all)
    out.toMap
  }

  private def solverCmd(ctx: Ctx): Seq[String] = Seq(ctx.inputs.resolve("solver.sh").toString)

  /** `Solver.runSimulations` rebuilt from its public steps, one span
    * each, so that the traced run can time them; [[crossCheck]] holds it
    * to the program's own. */
  private def stagedRun(ctx: Ctx, tr: Tracer, catalog: DataFrame, variants: Seq[Sweep.Variant],
      staging: String, cmd: Seq[String], out: collection.mutable.Map[String, Double]): DataFrame = {
    val spark = ctx.spark
    val cat1 = tr.span("catalog.upsert") {
      Catalog.upsert(catalog, Catalog.rowsFor(spark, variants))
    }
    val dirs = tr.span("solver.staging") { Solver.writeStaging(spark, variants, staging, base) }
    out("solver.staged_files") = out.getOrElse("solver.staged_files", 0.0) +
      dirs.map(d => Option(new java.io.File(d).list()).map(_.count(_.endsWith(".mat"))).getOrElse(0)).sum
    val results = tr.span("solver.dispatch") { Solver.dispatch(spark, dirs, cmd) }
    def add(k: String, n: Int): Unit = out(k) = out.getOrElse(k, 0.0) + n
    add("solver.runs", results.count(!_.skipped))
    add("solver.skipped", results.count(_.skipped))
    add("solver.failed", results.count(r => !r.skipped && r.exitCode != 0))
    val byHash = results.map(r => r.stagingDir.split("staging_").last -> r).toMap
    val fresh = variants.filter(v => byHash.get(v.simHash).exists(!_.skipped))
    val (ok, bad) = fresh.partition(v => byHash(v.simHash).exitCode == 0)
    val freshHashes = fresh.map(_.simHash)
    tr.span("catalog.set_status") {
      var cat = cat1
      val requeue = cat.filter(col("status") === Status.Failed && col("sim_hash").isin(freshHashes: _*))
        .select("sim_hash").collect().map(_.getString(0)).toSeq
      if (requeue.nonEmpty) cat = Catalog.setStatus(cat, requeue, Status.Created)
      if (fresh.nonEmpty) cat = Catalog.setStatus(cat, freshHashes, Status.Running)
      if (ok.nonEmpty) cat = Catalog.setStatus(cat, ok.map(_.simHash), Status.Completed)
      if (bad.nonEmpty) cat = Catalog.setStatus(cat, bad.map(_.simHash), Status.Failed)
      cat
    }
  }

  def verify(ctx: Ctx): Unit = {
    val want = Map(Status.Completed -> (variantCount - failing.size).toLong,
      Status.Failed -> failing.size.toLong).filter(_._2 > 0)
    ctx.check("catalog census", census == want, s"got $census want $want")
    val flags = Option(ctx.out.resolve("staging").toFile.listFiles).toSeq.flatten
      .count(d => new java.io.File(d, "completed.flag").exists)
    ctx.check("completed.flag per success", flags == dispatched - failing.size,
      s"got $flags want ${dispatched - failing.size}")
    if (traced) crossCheck(ctx)
  }

  /** Replays the cycle's two solver rounds from the same fresh catalog,
    * once through [[stagedRun]] and once through
    * `Solver.runSimulations`, each in its own staging directory, and
    * checks that both catalogs hold the same (sim_hash, status) after
    * each round. */
  private def crossCheck(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val variants = Sweep.generateVariations(base.fluid, Gen.Varied, delta)
    val first = variants.take(dispatched)
    val dirs = Seq("staged", "program").map(n => ctx.out.resolve(s"cross-check/$n"))
    dirs.foreach { d => Main.deleteTree(d); Files.createDirectories(d) }
    def statuses(cat: DataFrame): Set[(String, String)] =
      cat.select("sim_hash", "status").collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val start = Catalog.upsert(Catalog.empty(spark), Catalog.rowsFor(spark, variants))
    var staged = start
    var program = start
    for (round <- 1 to 2) ctx.op(s"solver round $round cross-check") {
      staged = stagedRun(ctx, NoTrace, staged, first, dirs(0).toString, solverCmd(ctx),
        collection.mutable.Map[String, Double]())
      program = Solver.runSimulations(spark, program, first, dirs(1).toString, solverCmd(ctx), base)._1
      val (a, b) = (statuses(staged), statuses(program))
      ctx.check(s"solver round $round: staged run matches Solver.runSimulations", a == b,
        s"${(a -- b).size} rows only in the staged run, ${(b -- a).size} only in the program's")
    }
  }
}
