package perfbench

/** Metric names and units. Every run prints the full set for its mode:
  * a layer the workload does not exercise reads 0. */
object Layers {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_wall_s" -> "s",
    "op_cpu_s" -> "s",
    "heap_peak_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "pipeline.pass_s" -> "s",
    "pipeline.scan_s" -> "s",
    "pipeline.scan_cpu_s" -> "s",
    "pipeline.kernel_stage_s" -> "s",
    "pipeline.kernel_stage_cpu_s" -> "s",
    "pipeline.kernel_task_max_s" -> "s",
    "pipeline.fold_s" -> "s",
    "pipeline.fold_cpu_s" -> "s",
    "pipeline.tiers_hash_s" -> "s",
    "pipeline.core_idle_frac" -> "fraction",
    "pipeline.shuffle_bytes" -> "bytes",
    "pipeline.gc_s" -> "s",
    "ingest.cache_build_s" -> "s",
    "ingest.write_s" -> "s",
    "ingest.blobs_s" -> "s",
    "ingest.readback_s" -> "s",
    "ingest.bytes_written" -> "bytes",
    "ingest.stored_bytes_per_row" -> "bytes/row",
    "kernel.series" -> "count",
    "kernel.points" -> "count",
    "kernel.cps" -> "count",
    "kernel.segment_s" -> "s",
    "kernel.suss_s" -> "s",
    "kernel.knn_s" -> "s",
    "kernel.ensemble_s" -> "s",
    "kernel.validate_s" -> "s",
    "kernel.recurse_s" -> "s",
    "kernel.ns_per_point" -> "ns",
    "queries.total_s" -> "s",
    "queries.p90_s" -> "s",
    "queries.driver_s" -> "s",
    "queries.job_s" -> "s",
    "queries.task_cpu_s" -> "s",
    "queries.jobs" -> "count",
    "queries.stages" -> "count",
    "queries.tasks" -> "count",
    "queries.shuffle_bytes" -> "bytes",
    "queries.spill_bytes" -> "bytes",
    "queries.gc_s" -> "s",
    "queries.cold_minus_warm_s" -> "s",
    "queries.cross_query_cache_hits" -> "count",
    "spark.cached_rdds_end" -> "count",
    "spark.cached_mb_end" -> "MB",
    "trace.overhead_s" -> "s") ++
    DriverQueries.Names.map(n => s"q.${n}_s" -> "s")

  private val units = (EndToEnd ++ PerLayer).toMap

  /** Starts `m` with every metric of the run's mode at 0. */
  def init(m: Metrics, traced: Boolean): Unit =
    (if (traced) PerLayer else EndToEnd).foreach { case (n, u) => m.put(n, 0.0, u) }

  /** Sets a metric the run's mode reports; others are dropped. */
  def set(m: Metrics, name: String, value: Double): Unit =
    if (m.get(name).isDefined) m.put(name, value, units(name))

  /** Spark's cached RDDs at the end of the timed section. */
  def cacheState(ctx: Ctx): Unit = {
    val sc = ctx.spark.sparkContext
    set(ctx.metrics, "spark.cached_rdds_end", sc.getPersistentRDDs.size)
    set(ctx.metrics, "spark.cached_mb_end",
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0))
  }
}
