package perfbench

/** Every per-layer metric a traced run prints, with its unit. A metric that
  * a workload does not reach reads 0 on it.
  */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "failed_share" -> "ratio",
    "trace.overhead_pct" -> "%",
    "trace.spans" -> "count",
    "trace.op_self_share" -> "ratio",
    // sources: PollSource / HttpPoller and the feed
    "sources.poll.latest_offset_ms" -> "ms",
    "sources.poll.requests" -> "count",
    "sources.poll.bytes" -> "B",
    "feed.handler_p95_ms" -> "ms",
    // sources: PartitionedStore and the streaming sink's store
    "sources.store.files" -> "count",
    "sources.store.bytes" -> "B",
    "sources.store.bytes_per_row" -> "B/row",
    "sources.store.files_read_per_call" -> "count",
    "sources.store.bytes_read_per_call" -> "B",
    "sources.store.partitions_read_per_call" -> "count",
    "sources.store.append_files" -> "count",
    // streaming: StreamingIndicators
    "streaming.batches" -> "count",
    "streaming.rows_per_batch" -> "rows",
    "streaming.rows_per_s" -> "rows/s",
    "streaming.planning_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_us_per_row" -> "us",
    "streaming.dedup.state_rows" -> "rows",
    "streaming.dedup.state_bytes" -> "B",
    "streaming.dedup.commit_ms" -> "ms",
    "streaming.dedup.dropped_rows" -> "rows",
    "streaming.dedup.kept_ratio" -> "ratio",
    "streaming.indicators.state_rows" -> "rows",
    "streaming.indicators.state_bytes" -> "B",
    "streaming.indicators.commit_ms" -> "ms",
    "streaming.late_dropped_rows" -> "rows",
    // api: StockApi and the panel SQL
    "api.aggregate_ms" -> "ms",
    "api.summarize_ms" -> "ms",
    "api.summarize_multiple_ms" -> "ms",
    "api.panel_ms" -> "ms",
    "api.append_ms" -> "ms",
    "api.plan_ms" -> "ms",
    "api.exec_ms" -> "ms",
    "api.rows_scanned_per_call" -> "rows",
    // ops / functions: registry entries
    "ops.tail_s" -> "s",
    "ops.ann_s" -> "s"
  ) ++ (Analytics.TailTier ++ Analytics.AnnTier).flatMap { e =>
    Seq(s"ops.$e.s" -> "s", s"ops.$e.construct_s" -> "s", s"ops.$e.jobs" -> "count")
  } ++ Seq(
    // engine
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.shuffle_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "spark.task_skew" -> "ratio",
    "jvm.gc_ms" -> "ms",
    "jvm.heap_peak_mb" -> "MB")
}
