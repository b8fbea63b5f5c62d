package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.file.{Files, Path}

/** Seeded input generators. Every value the program reads is a pure
  * function of the seed, so the output checks can recompute what the
  * program should have produced without trusting it. */
object Gen {

  /** splitmix64: small, fast, and the same stream on every JVM. */
  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  }

  /** Write `path` once: the marker file says a previous run finished it. */
  def once(dir: Path)(make: => Unit): Unit = {
    val done = dir.resolve(".done")
    if (!Files.exists(done)) {
      Main.deleteTree(dir)
      Files.createDirectories(dir)
      make
      Files.writeString(done, "ok\n")
    }
  }

  def writer(p: Path): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), "UTF-8"), 1 << 20)

  // ---------------------------------------------------------------- UNISIM

  /** A UNISIM-shape bronze set: the UNISIM-I-D grid (81×58×20), an
    * ACTNUM mask with about 82% active cells, and `sims` states files in
    * the solver's bare-array form. The last sim's state arrays are
    * shorter than the active-cell count, so the drop path runs. */
  final case class Unisim(seed: Long, sims: Int, steps: Int) {
    val dims: (Int, Int, Int) = (81, 58, 20)
    val cells: Int = dims._1 * dims._2 * dims._3
    val ShortBy = 4000
    val caseName = "unisim"
    val hashes: IndexedSeq[String] = {
      val r = new Rng(seed ^ 0x5157L)
      (0 until sims).map(_ => f"${r.nextLong() & 0xffffffffL}%08x")
    }
    val active: Array[Boolean] = {
      val r = new Rng(seed * 31 + 7)
      Array.fill(cells)(r.nextDouble() < 0.82)
    }
    val activeCells: Int = active.count(identity)
    /** Full-grid state arrays, except the last sim's, which stop
      * `ShortBy` short of the active-cell count. */
    def stateLen(sim: Int): Int = if (sim == sims - 1) activeCells - ShortBy else cells

    def pressure(sim: Int, t: Int, idx: Int): Double =
      200.0 + java.lang.Math.floorMod(idx * 7919L + t * 131L + sim * 17L + seed, 1000L) / 10.0
    /** Gas saturation in hundredths; zero for about one cell in 100. */
    def sgHundredths(sim: Int, t: Int, idx: Int): Int =
      java.lang.Math.floorMod(idx * 104729L + t * 7L + sim * 3L + seed, 100L).toInt
    def sg(sim: Int, t: Int, idx: Int): Double = sgHundredths(sim, t, idx) / 100.0
    def sw(sim: Int, t: Int, idx: Int): Double = (100 - sgHundredths(sim, t, idx)) / 100.0

    /** Active cells that the sim's state arrays reach. */
    def gathered(sim: Int): Int = (0 until stateLen(sim)).count(active(_))
    def goldenRows: Long = (0 until sims).map(s => gathered(s).toLong * steps * 3).sum
    def nonzeroSg: Long = (0 until sims).map { s =>
      (0 until steps).map(t =>
        (0 until stateLen(s)).count(i => active(i) && sgHundredths(s, t, i) != 0).toLong).sum
    }.sum

    def write(dir: Path): Unit = {
      Files.writeString(dir.resolve(s"g_$caseName.json"),
        s"[${dims._1},${dims._2},${dims._3}]")
      val g = writer(dir.resolve(s"grdecl_${caseName}_${hashes(0)}.json"))
      try {
        g.write('[')
        var i = 0
        while (i < cells) { if (i > 0) g.write(','); g.write(if (active(i)) '1' else '0'); i += 1 }
        g.write(']')
      } finally g.close()
      Files.createDirectories(dir.resolve("states"))
      for (s <- 0 until sims) {
        val w = writer(dir.resolve(s"states/states_${caseName}_${hashes(s)}.json"))
        try {
          w.write('[')
          for (t <- 0 until steps) {
            if (t > 0) w.write(',')
            w.write("{\"pressure\":[")
            var i = 0
            while (i < stateLen(s)) {
              if (i > 0) w.write(',')
              w.write(java.lang.Double.toString(pressure(s, t, i)))
              i += 1
            }
            w.write("],\"s\":[")
            i = 0
            while (i < stateLen(s)) {
              if (i > 0) w.write(',')
              w.write('['); w.write(java.lang.Double.toString(sw(s, t, i)))
              w.write(','); w.write(java.lang.Double.toString(sg(s, t, i))); w.write(']')
              i += 1
            }
            w.write("]}")
          }
          w.write(']')
        } finally w.close()
      }
    }
  }

  // ---------------------------------------------------------------- corpus

  /** A near-dup corpus with planted families. Each family is a base
    * document of ~50 words drawn from a large vocabulary, plus 0-7
    * members that each differ from the base in two word positions;
    * families therefore have 1-8 docs, below the default LSH bucket and
    * winnow df caps of 10. One member in 12 is instead an exact copy of
    * the doc before it (about 6% of the docs). Doc ids are shuffled so
    * families are not contiguous. */
  final case class Corpus(seed: Long, docs: Int) {
    val WordsPerDoc = 50
    lazy val (texts: Array[String], families: Int) = {
      val r = new Rng(seed ^ 0xD0C5L)
      val vocab = Array.fill(200000) {
        val n = 3 + r.nextInt(6)
        new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
      }
      def word(): String = vocab(r.nextInt(vocab.length))
      val out = new Array[String](docs)
      var n = 0; var fam = 0
      while (n < docs) {
        val base = Array.fill(WordsPerDoc)(word())
        out(n) = base.mkString(" "); n += 1; fam += 1
        val members = math.min(r.nextInt(8), docs - n)
        for (_ <- 0 until members) {
          if (r.nextInt(100) < 8) {
            out(n) = out(n - 1) // an exact copy
          } else {
            val m = base.clone()
            m(r.nextInt(WordsPerDoc)) = word(); m(r.nextInt(WordsPerDoc)) = word()
            out(n) = m.mkString(" ")
          }
          n += 1
        }
      }
      // a seeded permutation of positions → doc ids
      val perm = Array.range(0, docs)
      for (i <- docs - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
      }
      val shuffled = new Array[String](docs)
      for (i <- 0 until docs) shuffled(perm(i)) = out(i)
      (shuffled, fam)
    }
  }

  // ---------------------------------------------------------------- sweep

  /** The full INI base (all ten sections the solver contract loads);
    * five Fluid parameters are varied. */
  val Varied: Seq[String] = Seq("pres_ref", "temp_ref", "srw", "pe", "rho_h2o")

  val baseIni: String =
    """[Paths]
      |PUMLE_ROOT = pumle
      |PUMLE_RESULTS = pumle/results
      |[Pre-Processing]
      |case_name = unisim
      |file_basename = UNISIM_I_D_ECLIPSE
      |model_name = unisim-1-d
      |[Grid]
      |file_path = data/unisim/UNISIM_I_D_ECLIPSE.DATA
      |repair_flag = true
      |[Fluid]
      |pres_ref = 15.0
      |temp_ref = 70.0
      |cp_rock = 4.35e-5
      |srw = 0.27
      |src = 0.2
      |pe = 5.0
      |XNaCl = 0.1
      |rho_h2o = 1000.0
      |[Initial Conditions]
      |sw_0 = 1.0
      |[Boundary Conditions]
      |type = pressure
      |[Wells]
      |CO2_inj = 1.5e6
      |[Schedule]
      |injection_time = 10
      |migration_time = 50
      |injection_timesteps = 10
      |migration_timesteps = 14
      |injection_rampup_dt_initial = 0.1
      |[EXECUTION]
      |octave = octave
      |mrst_root = mrst
      |[SimNums]
      |sim_id = 0
      |""".stripMargin

  /** A stand-in solver: `solver.sh <staging dir>` exits 1 for the
    * planted failures (matched on the dir's hash suffix), 0 otherwise. */
  def writeSolver(path: Path, failing: Seq[String]): Unit = {
    val cases = if (failing.isEmpty) "" else
      failing.map(h => s"*staging_$h").mkString("  ", "|", ") exit 1 ;;\n")
    Files.writeString(path,
      s"""#!/bin/sh
         |case "$$1" in
         |$cases  *) exit 0 ;;
         |esac
         |""".stripMargin)
    path.toFile.setExecutable(true)
  }
}
