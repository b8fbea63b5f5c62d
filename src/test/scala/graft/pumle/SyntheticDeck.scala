package graft.pumle

import java.nio.file.{Files, Path}

/** A deck directory the deck specs run against: the real UNISIM-I-D
  * decks when present, or [[SyntheticDeck]]. `values` holds the
  * expected per-keyword values when the deck's own generator knows
  * them (the synthetic deck); the real decks have only spot values. */
case class TestDeck(suffix: String, available: () => Boolean, dir: () => String,
    values: Option[Map[String, Vector[Double]]])

object TestDeck {
  private val realDir = "/root/reference/benchmark/unisim-1-d"
  val real = TestDeck("", () => new java.io.File(s"$realDir/PETRO_0.INC").canRead,
    () => realDir, None)
  val synthetic = TestDeck(" [synthetic deck]", () => true, () => SyntheticDeck.dir,
    Some(SyntheticDeck.values))
  /** Every deck spec registers once per deck. */
  val all: Seq[TestDeck] = Seq(synthetic, real)
}

/** A UNISIM-shape property deck written by the tests themselves: an
  * 81×58×20 grid (93,960 values per keyword) in F-order, with `n*v`
  * run-length runs, `--` comment lines and trailing comments, dead
  * (zero) cells, one file holding five keywords (`PETRO_0.INC`: PORO,
  * NTG, PERMX, PERMY, PERMZ) and one SO file (`SO.INC`). Like the real
  * deck, PORO opens with `53*0.00 0.18` and SO with `53*0 0.83`.
  * Expected values are the generator's own tokens read as doubles. */
object SyntheticDeck {
  val (nx, ny, nz) = (81, 58, 20)
  val cells: Int = nx * ny * nz

  /** Dead cells: the first 53 of the grid, and two pinched-out corners. */
  private def active(i: Int, j: Int, k: Int): Boolean =
    !(k == 0 && j == 0 && i < 53) && i + j >= 12 && !(i > 70 && j > 45)

  /** One keyword's tokens in F-order (i fastest). Live values change
    * every 9 cells in i and 6 in j, so runs are long enough to encode. */
  private def field(dead: String)(live: (Int, Int, Int) => String): Vector[String] =
    Vector.tabulate(cells) { c =>
      val (i, j, k) = (c % nx, c / nx % ny, c / (nx * ny))
      if (active(i, j, k)) live(i, j, k) else dead
    }

  private def band(i: Int, j: Int, k: Int, m: Int): Int = i / 9 + j / 6 + m * k

  private def hundredths(h: Int): String = BigDecimal(h, 2).toString

  private val permx = field("0")((i, j, k) => (50 * (1 + band(i, j, k, 1) % 40)).toString)

  val petro: Seq[(String, Vector[String])] = Seq(
    "PORO" -> field("0.00")((i, j, k) => hundredths(13 + band(i, j, k, 3) % 17)),
    "NTG" -> field("0.00")((i, j, k) => hundredths(60 + band(i, j, k, 2) % 41)),
    "PERMX" -> permx,
    "PERMY" -> permx,
    "PERMZ" -> permx.map(t => if (t == "0") t else (t.toInt / 10).toString))

  val so: Vector[String] = field("0")((i, j, k) => hundredths(78 + band(i, j, k, 2) % 18))

  val values: Map[String, Vector[Double]] =
    (petro :+ ("SO" -> so)).map { case (kw, toks) => kw -> toks.map(_.toDouble) }.toMap

  /** Run-length encoded deck text: eight tokens per line, a comment
    * line before each keyword and a trailing comment every 40 lines. */
  private def deckText(keywords: Seq[(String, Vector[String])]): String = {
    val sb = new StringBuilder
    for ((kw, toks) <- keywords) {
      sb ++= s"-- synthetic $kw, ${nx}x${ny}x$nz F-order\n$kw\n"
      val runs = Vector.newBuilder[String]
      var p = 0
      while (p < toks.length) {
        var q = p
        while (q < toks.length && toks(q) == toks(p)) q += 1
        runs += (if (q - p > 1) s"${q - p}*${toks(p)}" else toks(p))
        p = q
      }
      val lines = runs.result().grouped(8).map(_.mkString(" ")).toVector
      lines.zipWithIndex.foreach { case (line, n) =>
        sb ++= line
        if (n == lines.length - 1) sb ++= " /"
        else if (n % 40 == 39) sb ++= s" -- line $n"
        sb += '\n'
      }
    }
    sb.toString
  }

  /** The deck directory, written once per JVM and deleted at exit. */
  lazy val dir: String = {
    val d: Path = graft.core.TempDir("graft-deck")
    Files.writeString(d.resolve("PETRO_0.INC"), deckText(petro))
    Files.writeString(d.resolve("SO.INC"), deckText(Seq("SO" -> so)))
    d.toString
  }
}
