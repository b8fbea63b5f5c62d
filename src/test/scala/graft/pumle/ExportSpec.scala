package graft.pumle

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.pumle.export.{Mat5, Npy, S3Layout, Zarr}

/** OP-S4/S5/S6 sinks: npy byte-golden vs numpy, MAT-5 structural walk,
  * zarr chunk round-trip. */
class ExportSpec extends SparkSpec {

  private lazy val oracle = JsonMethods.parse(
    scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/numpy_oracle.json"), "UTF-8").mkString)

  test("npy bytes are byte-identical to np.save for an F-order 4D array") {
    val JString(hex) = (oracle \ "npy_hex"): @unchecked
    val expected = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val flat = (oracle \ "npy_flat_F").asInstanceOf[JArray].arr.map {
      case JDouble(d) => d
      case JInt(i)    => i.toDouble
      case JNull      => Double.NaN
      case other      => fail(s"$other")
    }.toArray
    val mine = Npy.toBytes(flat, Seq(3, 2, 2, 2), fortran = true)
    assert(mine.length == expected.length,
      s"length ${mine.length} != ${expected.length}")
    assert(mine.sameElements(expected))
  }

  test("npy round-trip read") {
    val data = Array(1.0, 2.0, Double.NaN, 4.0, 5.0, 6.0)
    val bytes = Npy.toBytes(data, Seq(3, 2))
    val (back, shape, fortran) = Npy.read(bytes)
    assert(shape == Seq(3, 2) && fortran)
    assert(back(0) == 1.0 && back(2).isNaN && back(5) == 6.0)
  }

  test("MAT-5 file structure: header, endian marker, aligned miMATRIX walk") {
    val bytes = Mat5.fileBytes(Seq(
      "Fluid" -> Seq("pres_ref" -> 35.0, "temp_ref" -> 95.15, "name" -> "co2")))
    assert(new String(bytes, 0, 19, "ASCII").startsWith("MATLAB 5.0 MAT-file"))
    assert(bytes(126) == 'I'.toByte && bytes(127) == 'M'.toByte)
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.position(128)
    val tpe = buf.getInt(); val len = buf.getInt()
    assert(tpe == 14, s"first element must be miMATRIX, got $tpe") // miMATRIX
    assert(len % 8 == 0 && 128 + 8 + len == bytes.length)
    // walk sub-elements: arrayFlags(miUINT32), dims(miINT32), name(miINT8)
    assert(buf.getInt() == 6); assert(buf.getInt() == 8)
    buf.getLong() // flags: class mxSTRUCT
    assert(buf.getInt() == 5); assert(buf.getInt() == 8)
    assert(buf.getInt() == 1 && buf.getInt() == 1) // 1×1 struct
    assert(buf.getInt() == 1) // miINT8 name
    val nameLen = buf.getInt()
    val nm = new Array[Byte](nameLen); buf.get(nm)
    assert(new String(nm, "ASCII") == "Fluid")
  }

  test("MAT-5 savemat layout: one top-level named variable per param") {
    // scipy savemat(file, {'pres_ref': 35.0, 'name': 'co2'}) writes each
    // key as its own variable — load() must see temp.pres_ref directly
    // (co2lab3DPUMLE.m:34-44), NOT temp.<Section>.<param>.
    val bytes = Mat5.fileBytesVars(Seq("pres_ref" -> 35.0, "name" -> "co2"))
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.position(128)
    // first variable: miMATRIX, class mxDOUBLE (6), 1x1, named pres_ref
    assert(buf.getInt() == 14); buf.getInt()
    assert(buf.getInt() == 6); assert(buf.getInt() == 8)
    assert((buf.getInt() & 0xff) == 6); buf.getInt() // mxDOUBLE class
    assert(buf.getInt() == 5); assert(buf.getInt() == 8)
    assert(buf.getInt() == 1 && buf.getInt() == 1)
    assert(buf.getInt() == 1) // miINT8 name tag
    val n1 = buf.getInt(); val nm1 = new Array[Byte](n1); buf.get(nm1)
    assert(new String(nm1, "ASCII") == "pres_ref")
    // skip name padding, then the 1x1 double payload
    buf.position(buf.position() + (8 - n1 % 8) % 8)
    assert(buf.getInt() == 9); assert(buf.getInt() == 8)
    assert(buf.getDouble() == 35.0)
    // second variable: mxCHAR named name
    assert(buf.getInt() == 14)
  }

  test("MAT-5 staging layout: <Section>_<hash>.mat with sanitized names (OP-X6)") {
    val dir = graft.core.TempDir("graft-mat").toString
    val files = Mat5.writeStaging(dir, "abc12345",
      Seq("Pre-Processing" -> Seq("case_name" -> "unisim"),
        "Fluid" -> Seq("pe" -> 5.0)))
    assert(files.map(f => new java.io.File(f).getName) ==
      Seq("PreProcessing_abc12345.mat", "Fluid_abc12345.mat"))
    assert(files.forall(f => new java.io.File(f).length() > 128))
  }

  test("npy distributed scan round-trips the dense golden export") {
    val nt = 2; val ncells = 12
    // NaN at every 5th index (inactive/missing cells)
    val dense = Array.tabulate(ncells * nt)(i =>
      if (i % 5 == 0) Double.NaN else i.toDouble)
    val p = graft.core.TempDir("npy-scan")
      .resolve("pressure.npy").toString
    Npy.write(p, dense, Seq(3, 2, 2, nt))
    val (df, shape, fortran) = Npy.scan(spark, p)
    assert(shape == Seq(3, 2, 2, nt) && fortran)
    val vals = df.orderBy("idx").collect()
    assert(vals.length == 24)
    assert(vals(0).getDouble(1).isNaN && vals(1).getDouble(1) == 1.0)
    // long form drops the NaN fill: 24 - 5 (idx 0,5,10,15,20)
    val long = Npy.scanGolden(spark, p)
    assert(long.count() == 19)
    // F-order delinearization: flat idx 13 → t=1, cell 1 → (i,j,k)=(1,0,0)
    val r = long.where("value = 13.0").head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) == ((1, 1, 0, 0)))
  }

  test("npy scan: multi-block ranges read sequentially without seek drift") {
    // 1000 values, 4 range-splits, 64-element blocks → every range spans
    // several blocks and block boundaries never align with range bounds
    val data = Array.tabulate(1000)(_.toDouble * 1.5)
    val p = graft.core.TempDir("npy-blocks")
      .resolve("b.npy").toString
    Npy.write(p, data, Seq(1000))
    val (df, shape, _) = Npy.scan(spark, p, splits = 4, blockElems = 64)
    assert(shape == Seq(1000))
    val got = df.orderBy("idx").collect().map(_.getDouble(1))
    assert(got.length == 1000)
    assert(got.zipWithIndex.forall { case (v, i) => v == i * 1.5 })
  }

  test("zarr distributed scan reads back what writeByTimestep wrote") {
    import spark.implicits._
    val rows = Seq((0, 0, 1.5), (0, 3, 2.5), (1, 1, 7.0)).toDF("t", "cell_idx", "value")
    val dir = graft.core.TempDir("graft-zarr-scan").toString
    Zarr.writeByTimestep(rows, (2, 2, 1), 2, dir)
    val back = Zarr.scan(spark, dir)
    assert(back.count() == 8) // 2 chunks × 4 cells, NaN fill kept
    val m = back.where("NOT isnan(value)").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(m == Map((0, 0) -> 1.5, (0, 3) -> 2.5, (1, 1) -> 7.0))
  }

  test("S3 publish layout goes through the Hadoop FileSystem API (OP-S9)") {
    val tmp = graft.core.TempDir("s3pub")
    val src = tmp.resolve("pressure_cfg.npy")
    java.nio.file.Files.write(src, Array[Byte](1, 2, 3))
    // file:// stands in for s3a:// — same FileSystem resolution path
    val root = tmp.resolve("bucket").toUri.toString.stripSuffix("/")
    val dst = S3Layout.publish(spark, src.toString, root)
    assert(dst.endsWith("consolidated/pressure_cfg/pressure_cfg.npy"))
    val hp = new org.apache.hadoop.fs.Path(dst)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(hp) && fs.getFileStatus(hp).getLen == 3)
    assert(S3Layout.uri("b", "x.npy") == "s3a://b/consolidated/x/x.npy")
    // list + fetch complete the reference's CloudStorage surface
    assert(S3Layout.list(spark, root) ==
      Seq("consolidated/pressure_cfg/pressure_cfg.npy"))
    val back = tmp.resolve("back.npy").toString
    S3Layout.fetch(spark, root, "pressure_cfg.npy", back)
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(back)).sameElements(Array[Byte](1, 2, 3)))
  }

  test("zarr: one chunk per timestep written by parallel tasks, NaN fill") {
    import spark.implicits._
    val rows = Seq(
      (0, 0, 1.5), (0, 3, 2.5), // t=0
      (1, 1, 7.0)               // t=1
    ).toDF("t", "cell_idx", "value")
    val dir = graft.core.TempDir("graft-zarr").toString
    Zarr.writeByTimestep(rows, (2, 2, 1), 2, dir)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, ".zarray")), "UTF-8")
    assert(meta.contains("\"zarr_format\": 2") && meta.contains("\"order\": \"F\""))
    val c0 = Zarr.readChunk(dir, 0, 4)
    assert(c0(0) == 1.5 && c0(3) == 2.5 && c0(1).isNaN && c0(2).isNaN)
    val c1 = Zarr.readChunk(dir, 1, 4)
    assert(c1(1) == 7.0 && c1(0).isNaN)
  }
}
