package graft.sources

import org.apache.spark.sql.functions._

import graft.pumle.{IncReader, SparkSpec, TestDeck}

/** The `grdecl` DataSource V2 format against a synthetic UNISIM-shape
  * deck and, where present, the REAL reference decks (read-only at
  * /root/reference/benchmark/unisim-1-d): equality with the IncReader
  * RDD path and with the synthetic deck's own values, keyword
  * filtering, and pushed column pruning. */
class GrdeclSourceSpec extends SparkSpec {

  for (deck <- TestDeck.all)
  test(s"format(grdecl) matches IncReader.read value-for-value${deck.suffix}") {
    assume(deck.available())
    val deckDir = deck.dir()
    val v2 = spark.read.format("grdecl")
      .option("keyword", "SO")
      .load(s"$deckDir/SO.INC")
      .select("keyword", "cell_idx", "value")
      .orderBy("cell_idx")
      .collect()
    val rdd = IncReader.read(spark, s"$deckDir/SO.INC", "SO")
      .orderBy("cell_idx").collect()
    assert(v2.length == rdd.length && v2.length == 93960)
    assert(v2.map(_.getDouble(2)).toSeq == rdd.map(_.getDouble(2)).toSeq)
    deck.values.foreach(exp => assert(v2.map(_.getDouble(2)).toVector == exp("SO")))
  }

  for (deck <- TestDeck.all)
  test(s"multi-keyword file: all keywords scanned, option(keyword) filters${deck.suffix}") {
    assume(deck.available())
    val deckDir = deck.dir()
    val all = spark.read.format("grdecl").load(s"$deckDir/PETRO_0.INC")
    val kws = all.select("keyword").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(kws.contains("PORO") && kws.size >= 2)
    val poro = spark.read.format("grdecl").option("keyword", "PORO")
      .load(s"$deckDir/PETRO_0.INC")
    assert(poro.select("keyword").distinct().count() == 1)
    assert(poro.count() == 93960)
    // cell_idx is dense 0..n-1 per keyword
    assert(poro.agg(min("cell_idx"), max("cell_idx")).head() ==
      org.apache.spark.sql.Row(0L, 93959L))
    deck.values.foreach { exp =>
      assert(kws == Seq("NTG", "PERMX", "PERMY", "PERMZ", "PORO"))
      assert(poro.orderBy("cell_idx").select("value").collect().map(_.getDouble(0))
        .toVector == exp("PORO"))
    }
  }

  for (deck <- TestDeck.all)
  test(s"directory load: one partition per file; column pruning reaches the scan${deck.suffix}") {
    assume(deck.available())
    val deckDir = deck.dir()
    val df = spark.read.format("grdecl").option("keyword", "PORO").load(deckDir)
    // the dir holds several .INC files; partitions = files
    assert(df.rdd.getNumPartitions == GrdeclSource.listFiles(deckDir).size)
    val pruned = df.select("value")
    // pushed pruning: the V2 scan's readSchema is value-only
    val scanLine = pruned.queryExecution.executedPlan.toString()
    assert(scanLine.contains("BatchScan"))
    assert(pruned.schema.fieldNames.toSeq == Seq("value"))
    assert(pruned.count() == 93960)
    // and values agree with the parser on a spot file
    val sum2 = spark.read.format("grdecl").option("keyword", "PORO")
      .load(s"$deckDir/PETRO_0.INC")
      .agg(round(sum("value"), 4)).head().getDouble(0)
    val exp = IncReader.parseText(
      scala.io.Source.fromFile(s"$deckDir/PETRO_0.INC").mkString)("PORO").sum
    assert(math.abs(sum2 - exp) < 1e-3)
    deck.values.foreach { v =>
      assert(df.rdd.getNumPartitions == 2)
      assert(math.abs(sum2 - v("PORO").sum) < 1e-3)
    }
  }
}
