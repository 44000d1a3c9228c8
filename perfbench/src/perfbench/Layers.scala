package perfbench

/** Every per-layer metric the traced runs print, with its unit. Each
  * workload prints all of them; a layer a workload never enters reads 0.
  * The end-to-end metric each should move is listed in perfbench/README.md. */
object Layers {
  val http: Seq[(String, String)] = Seq(
    "api.route_ms" -> "ms", "api.render_ms" -> "ms", "api.reply_bytes" -> "B",
    "api.ack_count_ms" -> "ms", "api.http_ms" -> "ms",
    "api.write_p50_ms" -> "ms", "api.write_p90_ms" -> "ms",
    "api.read_p50_ms" -> "ms", "api.read_p90_ms" -> "ms",
    "api.last_p50_ms" -> "ms", "api.scan_p50_ms" -> "ms", "api.delete_p50_ms" -> "ms",
    "api.points_per_s" -> "1/s",
    "ingest.parse_ms_per_kpoint" -> "ms",
    "tiered.checkpoint_ms" -> "ms", "tiered.checkpoint_jobs" -> "count",
    "tiered.qualify_ms" -> "ms", "tiered.mem_tasks" -> "count",
    "tiered.mem_only_frac" -> "ratio", "tiered.spills" -> "count",
    "tiered.forced_flushes" -> "count", "tiered.delete_ms" -> "ms",
    "tiered.buffered_points" -> "count",
    "versioned.chain_len" -> "count", "versioned.data_dirs" -> "count",
    "versioned.files" -> "count", "versioned.bytes" -> "B",
    "versioned.bytes_per_point" -> "B", "versioned.manifest_list_ms" -> "ms",
    "versioned.write_ms" -> "ms", "versioned.listing_ms" -> "ms",
    "versioned.paths_listed" -> "count", "versioned.files_read" -> "count",
    "versioned.bytes_read" -> "B", "versioned.rows_scanned_per_row_out" -> "ratio",
    "spark.jobs_per_read" -> "count", "spark.jobs_per_write" -> "count",
    "spark.jobs_per_delete" -> "count",
    "spark.stages_per_read" -> "count", "spark.stages_per_write" -> "count",
    "spark.stages_per_delete" -> "count",
    "spark.tasks_per_read" -> "count", "spark.tasks_per_write" -> "count",
    "spark.tasks_per_delete" -> "count",
    "spark.plan_ms" -> "ms", "spark.task_ms" -> "ms", "spark.sched_delay_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.shuffle_bytes" -> "B", "spark.driver_ms" -> "ms",
    "host.cpu_cal_s" -> "s", "host.fsync_ms" -> "ms",
    "trace.overhead_pct" -> "%")

  /** The batch slice's layers (operators.*, streaming.*) and the same host
    * context. */
  val batch: Seq[(String, String)] =
    Batch.Slice.map(_._2).distinct.map(f => s"batch.${f}_s" -> "s") ++ Seq(
    "batch.tasks" -> "count", "batch.sched_delay_share" -> "ratio",
    "batch.plan_ms" -> "ms", "batch.shuffle_bytes" -> "B", "batch.spill_bytes" -> "B",
    "host.cpu_cal_s" -> "s", "host.fsync_ms" -> "ms",
    "trace.overhead_pct" -> "%")

  /** Every per-layer metric, as BENCHMARK.json lists them. */
  val all: Seq[(String, String)] = (http ++ batch).distinct

  /** Every per-layer metric, taking measured values and 0 for the rest:
    * a traced run of any workload prints them all. */
  def complete(measured: Map[String, Double]): Seq[Metric] = {
    val list = all
    val unknown = measured.keySet -- list.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    list.map { case (n, u) => Metric(n, measured.getOrElse(n, 0.0), u) }
  }
}
