package graft.perfbench

/** A reported metric; `moves` names the end-to-end metric and workload a
  * per-layer metric is expected to move.
  */
final case class Metric(name: String, unit: String, better: String, moves: String = "")

/** Every metric the benchmark reports. `BENCHMARK.json` lists the same
  * names and units (a test keeps the two in step).
  */
object Metrics {
  val endToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s", "lower"),
    Metric("op_p50_s", "s", "lower"),
    Metric("op_tail_s", "s", "lower"),
    Metric("rows_per_s", "rows/s", "higher"),
    Metric("success_rate", "fraction", "higher"),
    Metric("peak_rss_mb", "MB", "lower"))

  private val etl = "etl_customers"
  private val events = "events_ingest"
  private val corpus = "corpus_curation"

  val perLayer: Seq[Metric] = Seq(
    Metric("sessions.start_s", "s", "lower", "setup_s, all workloads"),
    Metric("sessions.warmup_s", "s", "lower", "setup_s, all workloads"),
    Metric("sessions.trace_overhead_s", "s", "lower", "none: op_p50_s traced minus untraced"),
    Metric("sessions.speedup_vs_1core", "ratio", "higher", "op_p50_s, the traced run's workload"),
    Metric("pipeline.produce_s", "s", "lower", s"op_p50_s and rows_per_s, $etl"),
    Metric("pipeline.produce_busy", "fraction", "higher", s"op_p50_s and rows_per_s, $etl"),
    Metric("pipeline.consume_s", "s", "lower", s"op_p50_s and rows_per_s, $etl"),
    Metric("pipeline.consume_busy", "fraction", "higher", s"op_p50_s and rows_per_s, $etl"),
    Metric("pipeline.upload_s", "s", "lower", s"op_p50_s and rows_per_s, $etl"),
    Metric("pipeline.upload_busy", "fraction", "higher", s"op_p50_s and rows_per_s, $etl"),
    Metric("pipeline.topic_bytes", "bytes", "lower", s"op_p50_s and rows_per_s, $etl"),
    Metric("pipeline.sink_bytes", "bytes", "lower", s"op_p50_s and rows_per_s, $etl"),
    Metric("pipeline.export_bytes", "bytes", "lower", s"op_p50_s and rows_per_s, $etl"),
    Metric("pipeline.consume_microbatches", "count", "lower", s"op_p50_s and rows_per_s, $etl"),
    Metric("pipeline.task_attempts_per_task", "ratio", "lower", s"op_tail_s and success_rate, $etl"),
    Metric("pipeline.upsert_s", "s", "lower", s"op_p50_s, op_tail_s and rows_per_s, $events"),
    Metric("pipeline.store_rows", "count", "lower", s"op_p50_s, op_tail_s and rows_per_s, $events"),
    Metric("pipeline.upsert_rewrite_ratio", "ratio", "lower", s"op_p50_s, op_tail_s and rows_per_s, $events"),
    Metric("pipeline.shuffle_bytes", "bytes", "lower", s"op_tail_s and peak_rss_mb, $etl"),
    Metric("pipeline.spill_bytes", "bytes", "lower", s"op_tail_s and peak_rss_mb, $etl"),
    Metric("pipeline.gc_s", "s", "lower", s"op_tail_s and peak_rss_mb, $etl"),
    Metric("streaming.drain_s", "s", "lower", s"op_p50_s and op_tail_s, $events"),
    Metric("streaming.microbatches_per_tick", "count", "lower", s"op_p50_s and op_tail_s, $events"),
    Metric("streaming.input_rows", "count", "lower", s"op_p50_s and op_tail_s, $events"),
    Metric("streaming.dup_dropped_rows", "count", "higher", s"op_p50_s and op_tail_s, $events"),
    Metric("streaming.late_dropped_rows", "count", "lower", s"op_p50_s and op_tail_s, $events"),
    Metric("streaming.state_rows", "count", "lower", s"op_p50_s and op_tail_s, $events"),
    Metric("streaming.state_commit_s", "s", "lower", s"op_p50_s and op_tail_s, $events"),
    Metric("streaming.wal_commit_s", "s", "lower", s"op_p50_s and op_tail_s, $events"),
    Metric("streaming.state_bytes", "bytes", "lower", s"peak_rss_mb, $events"),
    Metric("streaming.shuffle_bytes", "bytes", "lower", s"op_tail_s and peak_rss_mb, $events"),
    Metric("streaming.spill_bytes", "bytes", "lower", s"op_tail_s and peak_rss_mb, $events"),
    Metric("streaming.gc_s", "s", "lower", s"op_tail_s and peak_rss_mb, $events"),
  ) ++ CorpusCuration.Queries.map(q =>
    Metric(s"queries.${q}_s", "s", "lower", s"op_p50_s, op_tail_s and rows_per_s, $corpus")
  ) ++ Seq(
    Metric("queries.memo_builds", "count", "lower", s"op_p50_s, op_tail_s, rows_per_s and peak_rss_mb, $corpus"),
    Metric("queries.memo_build_s", "s", "lower", s"op_p50_s, op_tail_s, rows_per_s and peak_rss_mb, $corpus"),
    Metric("queries.shuffle_bytes", "bytes", "lower", s"op_tail_s and peak_rss_mb, $corpus"),
    Metric("queries.spill_bytes", "bytes", "lower", s"op_tail_s and peak_rss_mb, $corpus"),
    Metric("queries.gc_s", "s", "lower", s"op_tail_s and peak_rss_mb, $corpus"),
    Metric("functions.shingle_hash_s", "s", "lower", s"op_p50_s, $corpus"),
    Metric("functions.quality_score_s", "s", "lower", s"op_p50_s, $corpus"),
    Metric("functions.dot_fold_s", "s", "lower", s"op_p50_s, $corpus"),
    Metric("functions.topk_pairs_s", "s", "lower", s"op_p50_s, $corpus"),
  )

  val units: Map[String, String] = (endToEnd ++ perLayer).map(m => m.name -> m.unit).toMap
}
