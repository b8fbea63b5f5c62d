package perfbench

/** Every per-layer metric a traced run prints, in order. A metric that
  * belongs to another workload's layers reads 0. */
object PerLayer {
  val names: Seq[String] = Seq(
    // medallion
    "bronze_to_golden_s", "golden_to_exports_s",
    "pipeline.bronze_parse_s", "pipeline.bronze_parse_tasks", "pipeline.bronze_files",
    "pipeline.drop_stats_s", "pipeline.golden_write_s", "pipeline.golden_rows",
    "pipeline.golden_bytes", "pipeline.null_saturation_rows", "pipeline.qa_s",
    "pipeline.tabular_s", "pipeline.tabular_rows",
    "export.dense_s", "export.npy_s", "export.zarr_s",
    // dedup_chain
    "dedup_lsh_s", "dedup_winnow_s", "dedup.staged_lsh_wall_s", "dedup.staged_winnow_wall_s",
    "dedup.exact_s", "dedup.exact_survivors", "dedup.lsh_s", "dedup.lsh_pairs",
    "dedup.lsh_cap_dropped", "winnow.candidates_s", "winnow.pairs",
    "dedup.verify_s", "dedup.verified_pairs", "dedup.verify_ratio",
    "dedup.verify_shuffle_bytes", "dedup.components_s", "dedup.components_jobs",
    "dedup.antijoin_s",
    // query_suite
    "suite_s", "suite.construct_s", "suite.execute_s",
    "suite.q102_s", "suite.q142_s",
    "suite.q102_jobs", "suite.q142_jobs",
    // sweep_catalog
    "catalog_cycle_s", "sweep.generate_s", "catalog.upsert_s", "catalog.commit_s",
    "catalog.census_s", "catalog.set_status_s", "catalog.status_plan_bytes",
    "solver.staging_s", "solver.staged_files", "solver.dispatch_s", "solver.runs",
    "solver.skipped", "solver.failed",
    // every workload
    "spark.jobs", "spark.tasks", "spark.task_busy_s", "spark.core_use",
    "spark.shuffle_bytes", "spark.spill_bytes", "spark.driver_gap_s", "spark.stray_jobs",
    "jvm.peak_heap_mb", "trace.overhead_s")

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("_use") || name.endsWith("_ratio")) "ratio"
    else "count"
}
