package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet test tables (TESTDATA.md).
  *
  * All engine queries take an `sfDir` (e.g. `/root/testdata/sf0.01`) and
  * read one parquet file per table. Filters/projections applied on top of
  * these reads are pushed into the parquet scan by Catalyst (verified via
  * `.explain("formatted")` — `PushedFilters` / `ReadSchema`).
  *
  * A load starts no Spark job. `spark.read.parquet(path)` infers the
  * schema with a one-task job that reads a single footer, one job per
  * load of every query built on these tables (168 jobs of a full sf0.1
  * `graft.Bench` run). [[load]] reads the same footer on the driver and
  * hands the schema to `spark.read.schema(...)`. The conversion is
  * Spark's own (`ParquetFileFormat.readSchemaFromFooter` with the
  * session's converter settings: the stored Spark schema when present,
  * else `nanosAsLong`, binary-as-string, int96 and NTZ inference exactly
  * as inference applies them), so schema and plans are those of
  * `spark.read.parquet`. The footer is read on every load, never
  * cached, so a file rewritten in place is read with its new schema.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val (file, df) = open(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df, file) else df
  }

  /** The parquet file or flat directory at `path`, read like [[load]]:
    * no Spark job. A partitioned table is refused. */
  def read(spark: SparkSession, path: String): DataFrame = open(spark, path)._2

  /** [[read]] of the committed copy of the table at `path`
    * ([[Commit.committed]]), or None when there is none. */
  def readIfPresent(spark: SparkSession, path: String): Option[DataFrame] =
    Commit.committed(spark, path).map(read(spark, _))

  private def open(spark: SparkSession, path: String): (FileStatus, DataFrame) = {
    val (file, schema) = footerSchema(spark, path)
    file -> spark.read.schema(schema).parquet(path)
  }

  /** The file whose footer Spark's (non-merging) inference reads, and
    * its Spark schema. A directory table (a Spark-written
    * `events.parquet/`) uses its first data file in name order,
    * skipping `_`- and `.`-prefixed names (`_SUCCESS`, `.crc`), the
    * file inference picks. No table is partitioned, so a directory
    * holding directories is refused rather than half-read. */
  private[core] def footerSchema(spark: SparkSession, path: String): (FileStatus, StructType) = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val top = fs.getFileStatus(p)
    val file =
      if (top.isFile) top
      else {
        val entries = fs.listStatus(p).filterNot { s =>
          val n = s.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        val nested = entries.filter(_.isDirectory)
        require(nested.isEmpty,
          s"table $path is a nested layout (${nested.map(_.getPath.getName).sorted.mkString(", ")}); " +
            "Tables reads a parquet file or a flat directory of parquet files")
        entries.minByOption(_.getPath.toString).getOrElse(
          throw new IllegalArgumentException(s"table $path holds no data file"))
      }
    val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
    file -> ParquetFileFormat.readSchemaFromFooter(
      footer, new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The engine's `events.ts` contract is EPOCH NANOS AS LONG (every
    * consumer derives micros via `ts DIV 1000`, matching the oracle's
    * `epoch_us(ts)`). The driver's generator has shipped the column two
    * ways across rounds: nanosecond parquet timestamps (read as LONG
    * under `nanosAsLong`) and microsecond TIMESTAMP_NTZ. Accept both —
    * an NTZ wall-clock is interpreted in the session timezone (pinned
    * UTC by Bench/Verify/specs), so `unix_micros(CAST(ts AS TIMESTAMP))
    * * 1000` is the same instant the legacy nanos column encoded. */
  private def normalizeEventTs(df: DataFrame, file: FileStatus): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        longTsScale(df, file) match {
          case 1L => df
          case k => df.withColumn("ts",
            org.apache.spark.sql.functions.col("ts") *
              org.apache.spark.sql.functions.lit(k))
        }
      case None => df
      case Some(_) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) * 1000L"))
    }

  /** A LongType `ts` is USUALLY nanos-as-long (the parquet
    * TIMESTAMP(NANOS) read under `nanosAsLong`) — but the generator's
    * schema has already shifted twice across rounds, and a plain BIGINT
    * epoch-MICROS column would otherwise pass through silently with
    * every consumer's `ts DIV 1000` off by 1000×. Magnitude-check ONE
    * row: epoch micros for any date 1973–5138 land in [1e14, 1e17),
    * three decades no nanos value occupies (real epoch nanos ≥ ~1.5e18;
    * the specs' synthetic near-zero-epoch nanos fixtures stay ≤ ~1e13).
    * Only that unambiguous micros band rescales — millis/seconds
    * magnitudes are NOT auto-scaled, because hours-scale synthetic
    * nanos are numerically indistinguishable from epoch millis.
    * Cached per footer file, keyed by its path, length and modification
    * time — one tiny first-row job per file version, not per query; a
    * file rewritten in place in the other unit is checked again. */
  private val tsScaleCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), java.lang.Long]()

  private def longTsScale(df: DataFrame, file: FileStatus): Long =
    tsScaleCache.computeIfAbsent(
      (file.getPath.toString, file.getLen, file.getModificationTime), _ => {
      import org.apache.spark.sql.functions.col
      val first = df.select(col("ts")).filter(col("ts").isNotNull).head(1)
      val micros = first.nonEmpty && {
        val v = math.abs(first(0).getLong(0))
        v >= 100000000000000L && v < 100000000000000000L
      }
      if (micros) {
        System.err.println(
          s"[graft] ${file.getPath}: LongType ts magnitude is epoch MICROS, not " +
            "nanos - scaling to nanos (x1000)")
        1000L
      } else 1L
    })

  /** Register every table as a temp view so the full star schema is
    * queryable through `spark.sql` (the engine's SQL surface). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      if (new java.io.File(s"$dir/$n.parquet").exists)
        load(spark, dir, n).createOrReplaceTempView(n)
    }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
