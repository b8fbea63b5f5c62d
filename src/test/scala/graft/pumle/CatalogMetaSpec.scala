package graft.pumle

import org.apache.spark.sql.functions._

/** OP-S8/J2/V6 catalog semantics and OP-X4/V1 metadata validation. */
class CatalogMetaSpec extends SparkSpec {

  private def variants = Seq(
    Sweep.Variant(1, "aaaa1111", Map("pe" -> 5.0)),
    Sweep.Variant(2, "bbbb2222", Map("pe" -> 6.0)))

  test("catalog upsert is idempotent (INSERT OR IGNORE, OP-J2)") {
    val cat0 = Catalog.empty(spark)
    val rows = Catalog.rowsFor(spark, variants)
    val cat1 = Catalog.upsert(cat0, rows)
    assert(cat1.count() == 2)
    val cat2 = Catalog.upsert(cat1, rows) // re-insert: all ignored
    assert(cat2.count() == 2)
    val more = Catalog.rowsFor(spark, variants :+ Sweep.Variant(3, "cccc3333", Map("pe" -> 7.0)))
    assert(Catalog.upsert(cat2, more).count() == 3)
  }

  test("status transitions follow the state machine (OP-V6)") {
    val cat = Catalog.upsert(Catalog.empty(spark), Catalog.rowsFor(spark, variants))
    val running = Catalog.setStatus(cat, Seq("aaaa1111"), Catalog.Status.Running)
    assert(running.filter(col("sim_hash") === "aaaa1111" &&
      col("status") === "RUNNING").count() == 1)
    val done = Catalog.setStatus(
      running.filter(col("sim_hash") === "aaaa1111"),
      Seq("aaaa1111"), Catalog.Status.Completed)
    assert(done.head().getAs[String]("status") == "COMPLETED")
    // CREATED -> COMPLETED is illegal (must pass through RUNNING)
    intercept[IllegalArgumentException] {
      Catalog.setStatus(cat, Seq("bbbb2222"), Catalog.Status.Completed)
    }
    intercept[IllegalArgumentException] {
      Catalog.setStatus(cat, Seq("aaaa1111"), "NONSENSE")
    }
  }

  test("setStatus validates duplicate and unknown hashes, and moves only its hashes") {
    val three = variants :+ Sweep.Variant(3, "cccc3333", Map("pe" -> 7.0))
    val cat = Catalog.upsert(Catalog.empty(spark), Catalog.rowsFor(spark, three))
    def statusOf(df: org.apache.spark.sql.DataFrame) =
      df.select("sim_hash", "status").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // a hash listed twice and one not in the catalog
    val running = Catalog.setStatus(cat, Seq("aaaa1111", "aaaa1111", "zzzz9999"), Catalog.Status.Running)
    assert(statusOf(running) ==
      Map("aaaa1111" -> "RUNNING", "bbbb2222" -> "CREATED", "cccc3333" -> "CREATED"))
    assert(running.count() == 3)
    // only unknown hashes: nothing to validate, nothing moves
    assert(statusOf(Catalog.setStatus(cat, Seq("zzzz9999"), Catalog.Status.Completed)) == statusOf(cat))
    val done = Catalog.setStatus(running, Seq("aaaa1111", "aaaa1111"), Catalog.Status.Completed)
    assert(statusOf(done) ==
      Map("aaaa1111" -> "COMPLETED", "bbbb2222" -> "CREATED", "cccc3333" -> "CREATED"))
    val e = intercept[IllegalArgumentException] {
      Catalog.setStatus(done, Seq("aaaa1111", "bbbb2222", "zzzz9999"), Catalog.Status.Completed)
    }
    assert(e.getMessage == "requirement failed: illegal transition COMPLETED -> COMPLETED, CREATED -> COMPLETED")
  }

  test("catalog commit swaps through .old, and read recovers from .old alone") {
    val dir = graft.core.TempDir("catalog-commit")
    val path = dir.resolve("catalog").toString
    def hashes(df: org.apache.spark.sql.DataFrame) = df.select("sim_hash").collect().map(_.getString(0)).toSet
    Catalog.write(Catalog.upsert(Catalog.empty(spark), Catalog.rowsFor(spark, variants)), path)
    Catalog.write(Catalog.setStatus(Catalog.read(spark, path), Seq("aaaa1111"), Catalog.Status.Running), path)
    assert(dir.toFile.list().toSet == Set("catalog"))
    // a crash between the two renames leaves only <path>.old
    assert(new java.io.File(path).renameTo(new java.io.File(graft.core.Commit.old(path))))
    val recovered = Catalog.read(spark, path)
    assert(hashes(recovered) == Set("aaaa1111", "bbbb2222"))
    assert(recovered.filter(col("status") === "RUNNING").count() == 1)
    // the next commit restores the live copy and drops .old
    Catalog.write(Catalog.upsert(recovered,
      Catalog.rowsFor(spark, Seq(Sweep.Variant(3, "cccc3333", Map("pe" -> 7.0))))), path)
    assert(dir.toFile.list().toSet == Set("catalog"))
    assert(hashes(Catalog.read(spark, path)) == Set("aaaa1111", "bbbb2222", "cccc3333"))
  }

  test("catalog serves the CLI's verbatim SQL (main.py:129)") {
    val cat = Catalog.upsert(Catalog.empty(spark), Catalog.rowsFor(spark, variants))
    Catalog.registerView(spark, cat)
    val out = spark.sql(
      "SELECT sim_hash, sim_id, fluid_params, status FROM simulations")
    assert(out.count() == 2)
    assert(out.filter(col("fluid_params").contains("\"pe\": 5.0")).count() == 1)
  }

  test("metadata frame flattens section__param and validates (OP-X4/V1)") {
    val ini = Config.parseIni(
      """[Fluid]
        |pres_ref = 35
        |temp_ref = 95.15
        |cp_rock = 4e-5
        |srw = 0.11
        |src = 0.21
        |pe = 5
        |XNaCl = 0.1
        |rho_h2o = 1000
        |[Initial Conditions]
        |sw_0 = 1.0
        |[Wells]
        |CO2_inj = 1.5e8
        |""".stripMargin)
    val meta = Metadata.frame(spark, Seq(ini), Seq(1))
    assert(meta.columns.contains("fluid__pres_ref"))
    assert(meta.columns.contains("initial_conditions__sw_0"))
    assert(Metadata.violations(meta).count() == 0)
    Metadata.validate(meta) // no throw
    // break a range: srw outside [0,1]
    val bad = Metadata.frame(spark,
      Seq(ini.updated("Fluid", "srw", 1.5)), Seq(2))
    val v = Metadata.violations(bad).collect()
    assert(v.map(_.getString(1)).toSet == Set("srw_unit"))
    intercept[IllegalArgumentException] { Metadata.validate(bad) }
  }

  test("INI parse applies schema casts (OP-S1/X5) and hash contract") {
    val cfg = Config.parseIni(
      """# comment
        |[Fluid]
        |pres_ref = 35
        |pe = 5
        |xnacl = 0.05
        |[Grid]
        |repair_flag = true
        |file_path = benchmark/unisim-1-d
        |[SimNums]
        |sim_id = 1
        |""".stripMargin)
    assert(cfg("Fluid")("pres_ref") == 35.0)
    // configparser option names are case-insensitive; the dict carries
    // the SCHEMA spelling (XNaCl), which is what gets hashed
    assert(cfg("Fluid")("XNaCl") == 0.05)
    assert(cfg("Grid")("repair_flag") == true)
    assert(cfg("Grid")("file_path") == "benchmark/unisim-1-d")
    assert(cfg("SimNums")("sim_id") == 1.0)
    // hash over Fluid only, matching python oracle behavior
    assert(cfg.simHash ==
      PyJson.paramHash(Map("pres_ref" -> 35.0, "pe" -> 5.0, "XNaCl" -> 0.05)))
  }

  test("physical limit validation fails fast (OP-V5)") {
    Config.validateLimits(Map("pres_ref" -> 35.0, "srw" -> 0.11))
    intercept[IllegalArgumentException] {
      Config.validateLimits(Map("pres_ref" -> 500.0))
    }
  }
}
