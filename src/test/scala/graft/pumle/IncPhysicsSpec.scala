package graft.pumle

import org.apache.spark.sql.functions._

/** OP-S10 INC RLE reader against a synthetic UNISIM-shape deck and,
  * where present, the REAL reference decks (read-only at
  * /root/reference/benchmark/unisim-1-d); plus OP-X13/X14/X15 physics. */
class IncPhysicsSpec extends SparkSpec {

  test("RLE token expansion") {
    assert(IncReader.expandToken("53*0.00") == ((53, 0.0)))
    assert(IncReader.expandToken("0.18") == ((1, 0.18)))
    assert(IncReader.expandToken("3*2") == ((3, 2.0)))
  }

  test("parseText on a synthetic deck") {
    val m = IncReader.parseText(
      """PORO
        |53*0.00 0.18 2*0.5
        |0.25 /
        |PERMX
        |-- a comment
        |4*100.0 /
        |""".stripMargin)
    assert(m("PORO") == Vector.fill(53)(0.0) ++ Vector(0.18, 0.5, 0.5, 0.25))
    assert(m("PERMX") == Vector.fill(4)(100.0))
  }

  for (deck <- TestDeck.all)
  test(s"UNISIM-I-D decks expand to 93,960 values per keyword (81×58×20)${deck.suffix}") {
    assume(deck.available(), "reference decks not present")
    val deckDir = deck.dir()
    val petro = IncReader.parseText(
      scala.io.Source.fromFile(s"$deckDir/PETRO_0.INC").mkString)
    for (kw <- Seq("PORO", "NTG", "PERMX", "PERMY", "PERMZ")) {
      assert(petro(kw).length == 93960, s"$kw: ${petro(kw).length}")
    }
    // PETRO_0.INC:2 starts 53*0.00 0.18 ...
    assert(petro("PORO").take(54) == Vector.fill(53)(0.0) :+ 0.18)
    val so = IncReader.parseText(
      scala.io.Source.fromFile(s"$deckDir/SO.INC").mkString)
    assert(so("SO").length == 93960)
    assert(so("SO")(53) == 0.83) // SO.INC:2 starts 53*0 0.83
    deck.values.foreach { exp =>
      for (kw <- Seq("PORO", "NTG", "PERMX", "PERMY", "PERMZ")) assert(petro(kw) == exp(kw), kw)
      assert(so("SO") == exp("SO"))
    }
  }

  for (deck <- TestDeck.all)
  test(s"distributed INC scan yields (keyword, cell_idx, value) rows${deck.suffix}") {
    assume(deck.available(), "reference decks not present")
    val deckDir = deck.dir()
    val df = IncReader.read(spark, s"$deckDir/SO.INC", "SO")
    assert(df.count() == 93960)
    assert(df.filter(col("cell_idx") === 53).head().getAs[Double]("value") == 0.83)
    deck.values.foreach { exp =>
      val got = df.orderBy("cell_idx").collect()
      assert(got.map(_.getAs[Int]("cell_idx")).toSeq == (0 until 93960))
      assert(got.map(_.getAs[Double]("value")).toVector == exp("SO"))
    }
  }

  for (deck <- TestDeck.all)
  test(s"deck-driven active mask feeds the gather join (OP-S10 → F1 → J3)${deck.suffix}") {
    assume(deck.available(), "reference decks not present")
    val deckDir = deck.dir()
    import spark.implicits._
    val poro = IncReader.read(spark, s"$deckDir/PETRO_0.INC", "PORO")
    val actnum = poro.select(col("cell_idx"), (col("value") > 0).as("active"))
    val nActive = actnum.filter(col("active")).count()
    assert(nActive > 0 && nActive < 93960) // UNISIM has genuinely dead cells
    // synthetic per-cell state over the full grid; gather keeps actives
    val states = spark.range(93960).select(
      col("id").cast("int").as("cell_idx"), (col("id") % 97).cast("double").as("p"))
    val gathered = states.join(
      broadcast(actnum.filter(col("active")).select("cell_idx")), Seq("cell_idx"))
    assert(gathered.count() == nActive)
    deck.values.foreach(exp => assert(nActive == exp("PORO").count(_ > 0)))
  }

  test("S3 key layout matches the reference scheme (OP-S9, arrays.py:288)") {
    import graft.pumle.export.S3Layout
    assert(S3Layout.goldenKey("pressure_pe_5p00e00.npy") ==
      "consolidated/pressure_pe_5p00e00/pressure_pe_5p00e00.npy")
    assert(S3Layout.uri("my-bucket", "a.zarr") == "s3a://my-bucket/consolidated/a/a.zarr")
  }

  test("rock-property floor clamp (OP-F7/A6): poro[poro < minpos] = 1e-3") {
    import spark.implicits._
    val poro = Seq(0.0, 0.18, 0.005, 0.0, 0.25).toDF("poro")
    val minpos = poro.agg(min(when(col("poro") > 0, col("poro")))).head().getDouble(0)
    assert(minpos == 0.005)
    val floored = poro.select(
      when(col("poro") < minpos, 1e-3).otherwise(col("poro")).as("poro"))
    assert(floored.filter(col("poro") === 1e-3).count() == 2)
  }

  test("brine density/viscosity expressions produce reference-shaped values") {
    import spark.implicits._
    val df = Seq((60.0, 333.15, 0.1)).toDF("temp_c", "temp_k", "xnacl")
      .select(
        Physics.rhoNaClRef(col("temp_c")).as("rho_nacl"),
        Physics.rhoBrine(lit(1000.0), col("temp_c"), col("xnacl")).as("rho_brine"),
        Physics.relativeViscosity(col("temp_k"), col("xnacl")).as("mu_rel"))
    val r = df.head()
    val rhoNacl = 58443.0 / (23.772 + 0.018639 * 60.0 - 1.9687e-6 * 60.0 * 60.0)
    assert(math.abs(r.getDouble(0) - rhoNacl) < 1e-9)
    assert(r.getDouble(1) > 1000.0 && r.getDouble(1) < 1300.0) // salt raises density
    assert(r.getDouble(2) > 1.0 && r.getDouble(2) < 3.0) // brine more viscous (~2× at 6 molal)
  }

  test("rampup schedule: MRST ramp dt0/2^[8 8 7..1], constant plateau, remainder") {
    val sched = Physics.schedule(injTime = 1.0, dt0 = 0.1, migTime = 2.0, migSteps = 10)
    val inj = sched.filter(_._1 == 1).map(_._2)
    val mig = sched.filter(_._1 == 2).map(_._2)
    assert(math.abs(inj.sum - 1.0) < 1e-12)
    // ramp-UP from small steps: first entry repeated, then doubling to dt0/2
    assert(inj.take(3) == Vector(0.1 / 256, 0.1 / 256, 0.1 / 128))
    assert(inj(8) == 0.1 / 2)
    // plateau of constant dt0 steps, then at most one remainder step
    val plateau = inj.drop(9)
    assert(plateau.init.forall(_ == 0.1) && plateau.last <= 0.1 + 1e-12)
    assert(mig.length == 10 && mig.forall(_ == 0.2))
    // truncation branch: dt0 > T keeps only ramp entries with cumsum < T
    val tInj = Physics.schedule(injTime = 1.0, dt0 = 1.5, migTime = 1.0, migSteps = 2)
      .filter(_._1 == 1).map(_._2)
    assert(math.abs(tInj.sum - 1.0) < 1e-12)
    assert(tInj.length == 9) // 8 kept ramp entries (cumsum<1) + remainder
  }
}
