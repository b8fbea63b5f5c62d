package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.pumle.Pipeline
import graft.pumle.export.{Npy, Zarr}

/** The product's own data path, run as entry points B and C run it:
  * bronze JSON → non-empty check → drop stats → silver → golden on disk
  * (part a), then golden → QA → tabular CSV → npy + zarr per sim
  * (part b). */
final class Medallion(sims: Int = 4, steps: Int = 2) extends Workload {
  def nominalPassSeconds: Double = 5.0
  private var u: Gen.Unisim = _
  private lazy val expectedRows = u.goldenRows
  private lazy val expectedTabular = u.nonzeroSg

  def prepare(ctx: Ctx): Unit = {
    u = Gen.Unisim(ctx.seed, sims, steps)
    Gen.once(ctx.inputs)(u.write(ctx.inputs))
  }

  private def goldenDir(ctx: Ctx) = ctx.out.resolve("golden")
  private def exportDir(ctx: Ctx) = ctx.out.resolve("exports")

  def run(ctx: Ctx, tr: Tracer): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    ctx.isolate()
    Main.deleteTree(goldenDir(ctx)); Main.deleteTree(exportDir(ctx))
    Files.createDirectories(exportDir(ctx))
    val in = ctx.inputs
    val out = collection.mutable.Map[String, Double]()

    val t0 = System.nanoTime()
    ctx.op("medallion bronze_to_golden") {
      val dims = Pipeline.readDims(spark, in.resolve(s"g_${u.caseName}.json").toString)
      val actnum = Pipeline.readActnum(spark,
        in.resolve(s"grdecl_${u.caseName}_${u.hashes(0)}.json").toString)
      val states = tr.span("pipeline.bronze_parse") {
        val s = Pipeline.readBronzeStatesCached(spark,
          in.resolve(s"states/states_${u.caseName}_*.json").toString)
        Pipeline.requireNonEmptyStates(s)
        s
      }
      val drops = tr.span("pipeline.drop_stats") {
        Pipeline.gatherDropStats(states, actnum).collect()
      }
      dropsSeen = drops.map(r => r.getAs[String]("sim_hash") -> r.getAs[Long]("max_dropped_per_t")).toMap
      tr.span("pipeline.golden_write") {
        val (silver, obs) = Pipeline.silverObserved(states, actnum)
        Pipeline.writeGolden(Pipeline.golden(silver, dims), goldenDir(ctx).toString)
        val m = obs.get
        out("pipeline.golden_rows") = m("rows_gathered").asInstanceOf[Long] * 3.0
        out("pipeline.null_saturation_rows") = m("null_saturation_rows").asInstanceOf[Long].toDouble
      }
      states.unpersist(blocking = true)
    }
    val t1 = System.nanoTime()
    ctx.op("medallion golden_to_exports") {
      val dims = u.dims
      val golden = spark.read.parquet(goldenDir(ctx).toString)
      tr.span("pipeline.qa") { qaRows = Pipeline.describeGolden(golden).collect().length }
      tr.span("pipeline.tabular") {
        val ids = u.hashes.zipWithIndex.map { case (h, i) => (h, i + 1) }.toDF("sim_hash", "sim_id")
        Pipeline.writeTabularCsv(Pipeline.tabular(golden, "gas_saturation", ids),
          exportDir(ctx).resolve("tabular").toString)
      }
      for (h <- u.hashes) {
        val (dense, nt) = tr.span("export.dense") {
          Pipeline.denseField(golden, h, "pressure", dims)
        }
        tr.span("export.npy") {
          Npy.write(exportDir(ctx).resolve(s"pressure_$h.npy").toString, dense,
            Seq(dims._1, dims._2, dims._3, nt))
        }
        tr.span("export.zarr") {
          Zarr.writeByTimestep(
            golden.filter(col("sim_hash") === h && col("field") === "pressure")
              .select(col("t"),
                (col("i") + lit(dims._1) * (col("j") + lit(dims._2) * col("k"))).as("cell_idx"),
                col("value")),
            dims, nt, exportDir(ctx).resolve(s"pressure_$h.zarr").toString)
        }
      }
    }
    val t2 = System.nanoTime()
    val a = (t1 - t0) / 1e9
    val b = (t2 - t1) / 1e9
    out ++= Map("chain_s" -> (a + b), "part_a_s" -> a, "part_b_s" -> b,
      "bronze_to_golden_s" -> a, "golden_to_exports_s" -> b)
    if (tr.isInstanceOf[Trace]) {
      out("pipeline.bronze_files") = sims.toDouble
      out("pipeline.golden_bytes") = treeBytes(goldenDir(ctx)).toDouble
      out("pipeline.tabular_rows") = csvRows(exportDir(ctx).resolve("tabular")).toDouble
    }
    out.toMap
  }

  private var dropsSeen = Map.empty[String, Long]
  private var qaRows = 0

  override def fromTrace(tr: Trace): Map[String, Double] =
    Map("pipeline.bronze_parse_tasks" -> tr.inclusive("pipeline.bronze_parse").tasks.toDouble)

  private def treeBytes(p: Path): Long = {
    val w = Files.walk(p)
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally w.close()
  }

  private def files(p: Path, suffix: String): Seq[Path] = {
    val w = Files.list(p)
    try w.iterator().asScala.filter(_.getFileName.toString.endsWith(suffix)).toSeq.sorted
    finally w.close()
  }

  /** Data rows of a CSV directory: every line minus one header per part. */
  private def csvRows(dir: Path): Long = files(dir, ".csv").map { f =>
    val r = Files.newBufferedReader(f)
    try { var n = -1L; while (r.readLine() != null) n += 1; math.max(n, 0L) }
    finally r.close()
  }.sum

  /** NPY v1 header → shape, read here rather than through the program. */
  private def npyShape(p: Path): (Seq[Int], Int) = {
    val in = new java.io.DataInputStream(Files.newInputStream(p))
    try {
      val pre = new Array[Byte](10); in.readFully(pre)
      val len = (pre(8) & 0xff) | ((pre(9) & 0xff) << 8)
      val hdr = new Array[Byte](len); in.readFully(hdr)
      val dict = new String(hdr, "ASCII")
      val shape = "'shape': \\(([^)]*)\\)".r.findFirstMatchIn(dict).get.group(1)
        .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
      (shape, 10 + len)
    } finally in.close()
  }

  def verify(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val (ii, jj, kk) = u.dims
    val golden = spark.read.parquet(goldenDir(ctx).toString)
    val rows = golden.count()
    ctx.check("golden rows", rows == expectedRows, s"got $rows want $expectedRows")

    // sampled values against the generator's formula, per field
    val r = new Gen.Rng(ctx.seed + 99)
    val samples = (0 until 60).map { _ =>
      val s = r.nextInt(sims); val t = r.nextInt(steps)
      var idx = r.nextInt(u.stateLen(s))
      while (!u.active(idx)) idx = (idx + 1) % u.stateLen(s)
      (u.hashes(s), t, idx % ii, (idx / ii) % jj, idx / (ii * jj), s, idx)
    }
    import spark.implicits._
    val want = samples.map { case (h, t, i, j, k, _, _) => (h, t, i, j, k) }
      .toDF("sim_hash", "t", "i", "j", "k")
    val got = golden.join(want, Seq("sim_hash", "t", "i", "j", "k"))
      .select("sim_hash", "t", "i", "j", "k", "field", "value").collect()
      .map(x => ((x.getString(0), x.getInt(1), x.getInt(2), x.getInt(3), x.getInt(4), x.getString(5)),
        x.getDouble(6))).toMap
    val bad = samples.flatMap { case (h, t, i, j, k, s, idx) =>
      Seq("pressure" -> u.pressure(s, t, idx), "water_saturation" -> u.sw(s, t, idx),
        "gas_saturation" -> u.sg(s, t, idx)).collect {
        case (f, v) if !got.get((h, t, i, j, k, f)).contains(v) => s"$h/$t/$idx/$f"
      }
    }
    ctx.check("golden sampled values", bad.isEmpty, bad.take(5).mkString(","))

    val drops = u.hashes.map(h => dropsSeen.getOrElse(h, -1L))
    ctx.check("drop stats", drops.init.forall(_ == 0L) && drops.last == u.ShortBy,
      drops.mkString(","))
    ctx.check("qa rows", qaRows == sims * 3, s"got $qaRows")

    val tab = csvRows(exportDir(ctx).resolve("tabular"))
    ctx.check("tabular rows", tab == expectedTabular, s"got $tab want $expectedTabular")

    for (s <- 0 until sims) {
      val h = u.hashes(s)
      val npy = exportDir(ctx).resolve(s"pressure_$h.npy")
      val (shape, off) = npyShape(npy)
      val cells = ii * jj * kk
      ctx.check("npy shape", shape == Seq(ii, jj, kk, steps) &&
        Files.size(npy) == off + 8L * cells * steps, s"$h $shape")
      // one value in Fortran order: cell idx at step t sits at idx + cells*t
      val idx = (0 until u.stateLen(s)).find(u.active).get
      val t = steps - 1
      val buf = java.nio.ByteBuffer.wrap(Files.readAllBytes(npy))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      ctx.check("npy value", buf.getDouble(off + 8 * (idx + cells * t)) == u.pressure(s, t, idx))
      val zarr = exportDir(ctx).resolve(s"pressure_$h.zarr")
      val meta = Files.readString(zarr.resolve(".zarray")).replaceAll("\\s", "")
      val chunks = files(zarr, "").filter(_.getFileName.toString.startsWith("0.0.0."))
      ctx.check("zarr shape", meta.contains(s""""shape":[$ii,$jj,$kk,$steps]""") &&
        chunks.length == steps && chunks.forall(Files.size(_) == 8L * cells), s"$h $meta")
    }
  }
}
