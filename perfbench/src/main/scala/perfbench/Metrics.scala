package perfbench

/** The per-layer metric names and units the traced run reports, grouped by
  * the layer (module) they measure. A workload that never calls a layer
  * reports 0 for that layer's metrics. */
object Metrics {
  val perLayer: Seq[(String, String)] = Seq(
    // sources: the PCAP decoder behind spark.read.format("pcap")
    "sources.decode_s" -> "s",
    "sources.packets_decoded" -> "count",
    "sources.bytes_read" -> "bytes",
    // operators: per-flow sequencing (lag IAT)
    "operators.sequence_s" -> "s",
    // functions: the KPI aggregate
    "functions.kpi_agg_s" -> "s",
    "functions.agg_rows_in" -> "count",
    "functions.expand_ratio" -> "ratio",
    // streaming: micro-batch drains
    "streaming.add_batch_ms_p50" -> "ms",
    "streaming.planning_ms_p50" -> "ms",
    "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.state_commit_ms_p50" -> "ms",
    "streaming.state_rows" -> "count",
    "streaming.state_mem_bytes" -> "bytes",
    "streaming.rows_updated" -> "count",
    "streaming.batches" -> "count",
    "streaming.sink_collect_s" -> "s",
    // ml: feature series, VAR, residual windows, GRU/TFT training
    "ml.feature_series_s" -> "s",
    "ml.var_fit_s" -> "s",
    "ml.windows_s" -> "s",
    "ml.gru_fit_s" -> "s",
    "ml.tft_fit_s" -> "s",
    "ml.score_s" -> "s",
    "ml.epochs" -> "count",
    "ml.epoch_ms" -> "ms",
    "ml.grad_jobs" -> "count",
    "ml.samples_per_s" -> "1/s",
    "ml.rmse_var" -> "rmse",
    "ml.rmse_hybrid" -> "rmse",
    "ml.rmse_hybrid_gru" -> "rmse",
    // functions.expr: MinHash-LSH dedup and exact cosine top-k kernels
    "functions.expr.shingle_minhash_s" -> "s",
    "functions.expr.lsh_candidates" -> "count",
    "functions.expr.verified_pairs" -> "count",
    "functions.expr.candidate_precision" -> "ratio",
    "functions.expr.verify_s" -> "s",
    "functions.expr.topk_s" -> "s",
    "functions.expr.dedup_recall" -> "ratio",
    "functions.expr.dedup_precision" -> "ratio",
    // engine: the Spark runtime beneath every layer
    "engine.jobs" -> "count",
    "engine.tasks" -> "count",
    "engine.executor_cpu_ms" -> "ms",
    "engine.gc_ms" -> "ms",
    "engine.shuffle_write_bytes" -> "bytes",
    "engine.shuffle_read_bytes" -> "bytes",
    "engine.fetch_wait_ms" -> "ms",
    "engine.spill_bytes" -> "bytes",
    "engine.task_skew" -> "ratio",
    "engine.sched_overhead_s" -> "s",
    "engine.parallel_speedup" -> "ratio",
    // the trace itself and the host
    "trace.overhead_pct" -> "%",
    "trace.layer_share" -> "ratio",
    "host.steal_ticks" -> "count",
    "host.jit_warmup_s" -> "s",
    "host.jit_compile_ms" -> "ms")
}
