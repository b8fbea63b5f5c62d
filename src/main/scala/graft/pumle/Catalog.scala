package graft.pumle

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Commit, Tables}

/** Simulation catalog (OP-S8/J2/V6) — the reference's SQLite
  * `simulations` table (/root/reference/src/pumle/db.py:15-23) as a
  * parquet-backed Spark table with the same DDL shape:
  * `(sim_hash PK, sim_id, fluid_params, status, created_at)`.
  *
  *  - `INSERT OR IGNORE` (db.py:25-28) = left-anti-join append — the
  *    engine's idempotent-upsert primitive; at scale it is one shuffle
  *    on the (uniform) hash key.
  *  - Status enum + transitions (db.py:43-47, pumle.py:248-262) are
  *    enforced engine-side; invalid transitions throw (OP-V6).
  *  - The CLI's raw SQL (`main.py:129`) runs verbatim via a registered
  *    temp view.
  */
object Catalog {

  object Status {
    val Created = "CREATED"
    val Running = "RUNNING"
    val Completed = "COMPLETED"
    val Failed = "FAILED"
    val all: Set[String] = Set(Created, Running, Completed, Failed)
    /** Legal transitions (pumle.py:248-262; terminal states sink). */
    val transitions: Map[String, Set[String]] = Map(
      Created -> Set(Running, Failed),
      Running -> Set(Completed, Failed),
      Completed -> Set.empty,
      Failed -> Set(Created) // re-queue after failure
    )
  }

  def empty(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Int, String, String, java.sql.Timestamp)]
      .toDF("sim_hash", "sim_id", "fluid_params", "status", "created_at")
  }

  /** The committed catalog at `path` ([[graft.core.Tables.readIfPresent]]);
    * [[empty]] when none is there. */
  def read(spark: SparkSession, path: String): DataFrame =
    Tables.readIfPresent(spark, path).getOrElse(empty(spark))

  /** Rows for a set of sweep variants, fluid_params serialized with the
    * reference's canonical JSON (db.py stores `str(dict)`; we store the
    * canonical form our hash is computed from, parseable with
    * `from_json`). */
  def rowsFor(spark: SparkSession, variants: Seq[Sweep.Variant]): DataFrame = {
    import spark.implicits._
    variants.map(v => (v.simHash, v.simId, PyJson.canonicalJson(v.params), Status.Created))
      .toDF("sim_hash", "sim_id", "fluid_params", "status")
      .withColumn("created_at", current_timestamp())
  }

  /** INSERT OR IGNORE: append only sim_hashes not already present. */
  def upsert(existing: DataFrame, incoming: DataFrame): DataFrame =
    existing.unionByName(
      incoming.join(existing.select("sim_hash"), Seq("sim_hash"), "left_anti"))

  /** Validated status transition for a set of hashes (OP-V6). Throws on
    * an illegal transition like the reference's guard (db.py:144-145).
    *
    * Validation is eager and one job with no shuffle: each partition
    * reduces the matching rows to its distinct `status` values and the
    * driver merges them, where `distinct().collect()` ran a shuffle and
    * two jobs. The move itself is lazy: one projection, not a join
    * ([[applyStatus]] says why). */
  def setStatus(catalog: DataFrame, hashes: Seq[String], to: String): DataFrame = {
    require(Status.all.contains(to), s"invalid status: $to")
    val froms = catalog
      .filter(col("sim_hash").isin(hashes: _*))
      .select(col("status")).as(Encoders.STRING)
      .mapPartitions(_.toSet.iterator)(Encoders.STRING)
      .collect().distinct
    requireLegal(froms.map(_ -> to).toSeq)
    applyStatus(catalog, Map(to -> hashes))
  }

  /** Throws `IllegalArgumentException` naming every illegal
    * `from -> to` step. */
  private[pumle] def requireLegal(steps: Seq[(String, String)]): Unit = {
    val illegal = steps.distinct.filterNot { case (from, to) => Status.transitions(from).contains(to) }
    require(illegal.isEmpty,
      s"illegal transition ${illegal.sorted.map { case (from, to) => s"$from -> $to" }.mkString(", ")}")
  }

  /** Unvalidated move of each hash set to its target status, in one
    * projection: one `when(sim_hash isin …)` branch per target. A
    * broadcast join against a `(sim_hash, to)` frame measured worse on
    * the sweep_catalog benchmark: every stacked join adds a broadcast
    * job to each later action (a solver round's status jobs went from
    * 10 to 16, a commit's from 2 to 5, and the catalog work slowed from
    * ~1.9 s to ~2.4 s). */
  private[pumle] def applyStatus(catalog: DataFrame, moves: Map[String, Seq[String]]): DataFrame =
    moves.filter(_._2.nonEmpty).toSeq.sortBy(_._1) match {
      case Seq() => catalog
      case (to, hs) +: rest =>
        val h = col("sim_hash")
        val status = rest.foldLeft(when(h.isin(hs: _*), lit(to))) {
          case (c, (t, more)) => c.when(h.isin(more: _*), lit(t))
        }
        catalog.withColumn("status", status.otherwise(col("status")))
    }

  /** Commits `catalog` at `path` through [[graft.core.Commit.replace]],
    * whose staged write may read the current catalog (upsert is lazy). */
  def write(catalog: DataFrame, path: String): Unit =
    Commit.replace(catalog.sparkSession, path)(catalog.write.parquet(_))

  /** Register for verbatim SQL (`SELECT sim_hash, sim_id, fluid_params,
    * status FROM simulations` — main.py:129). */
  def registerView(spark: SparkSession, catalog: DataFrame): Unit =
    catalog.createOrReplaceTempView("simulations")
}
