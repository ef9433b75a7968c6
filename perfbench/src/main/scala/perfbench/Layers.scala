package perfbench

/** The per-layer metrics a traced run prints, with units and the direction
  * an improvement moves them. A layer a workload does not exercise reads 0
  * there (e.g. `rest.*` on live_ticks), which is itself the prediction "no
  * change" for that workload. */
object Layers {
  val All: Seq[(String, String, String)] = Seq(
    ("ws.backlog_rows_max", "rows", "lower"),
    ("ws.latest_offset_ms_p50", "ms", "lower"),
    ("gen.late_ms_max", "ms", "lower"),
    ("stream.batches", "count", "lower"),
    ("stream.batch_rows_p50", "rows", "lower"),
    ("stream.trigger_ms_p50", "ms", "lower"),
    ("stream.trigger_ms_p95", "ms", "lower"),
    ("stream.planning_ms_p50", "ms", "lower"),
    ("stream.offset_commit_ms_p50", "ms", "lower"),
    ("transform.rows_in", "rows", "lower"),
    ("transform.rows_dropped", "rows", "lower"),
    ("transform.s", "s", "lower"),
    ("rest.requests", "count", "lower"),
    ("rest.s", "s", "lower"),
    ("rest.bytes", "B", "lower"),
    ("store.upsert_s_p50", "s", "lower"),
    ("store.upsert_s_p95", "s", "lower"),
    ("store.touched_s", "s", "lower"),
    ("store.merge_s", "s", "lower"),
    ("store.stats_s", "s", "lower"),
    ("store.stage_write_s", "s", "lower"),
    ("store.unlabelled_jobs_s", "s", "lower"),
    ("store.driver_s", "s", "lower"),
    ("store.jobs_per_upsert", "count", "lower"),
    ("store.tasks_per_upsert", "count", "lower"),
    ("store.task_s_per_upsert", "s", "lower"),
    ("store.shuffle_mb_per_upsert", "MiB", "lower"),
    ("store.exact_dups", "count", "lower"),
    ("store.version_conflicts", "count", "lower"),
    ("store.written_rows", "count", "lower"),
    ("store.written_per_input", "ratio", "higher"),
    ("store.files", "count", "lower"),
    ("tablelog.commits_live", "count", "lower"),
    ("store.compact_s", "s", "lower"),
    ("store.bulk_load_s", "s", "lower"),
    ("store.bulk_jobs", "count", "lower"),
  ) ++ Reads.Classes.map(c => (s"read.${c}_s_p50", "s", "lower")) ++ Seq(
    ("read.jobs_per_request", "count", "lower"),
    ("read.rows_scanned_per_row_returned", "ratio", "lower"),
    ("read.bytes_per_request", "B", "lower"),
    ("analytics.ohlc_s_p50", "s", "lower"),
    ("analytics.twap_s_p50", "s", "lower"),
    ("analytics.asof_s_p50", "s", "lower"),
    ("analytics.m4_s_p50", "s", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("jvm.gc_pause_max_ms", "ms", "lower"),
    ("jvm.peak_rss_mb", "MiB", "lower"),
    ("trace.traced_primary_s", "s", "lower"),
    ("trace.untraced_primary_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"))

  /** `m` in the canonical order, with every layer it lacks at 0. */
  def complete(m: Metrics): Metrics = {
    val out = new Metrics
    All.foreach { case (n, u, _) => out.put(n, m.get(n).getOrElse(0.0), u) }
    out
  }
}
