package chessbench

/** Every metric the result line carries, with its unit. BENCHMARK.json
  * lists the same names; the runner refuses a result whose names differ
  * from it. The artifact also keeps values that are not declared here:
  * the visual tail (with its percentile and sample count),
  * `spark.fetch_wait_s`, which is always 0 in local mode, and
  * `spark.gc_s`, which reads exactly 0 in cycles that run no GC.
  */
object Metrics {
  import ChessBench.{EtlCallSites, StreamPhases, Visuals}

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "ingest_games_per_s" -> "games/s",
    "fresh_p50_s" -> "s",
    "stream_fresh_p50_s" -> "s",
    "visual_mean_s" -> "s",
    "peak_rss_mb" -> "MB")

  val perLayer: Seq[(String, String)] =
    Seq("etl.fetch_calls" -> "count", "etl.fetch_s" -> "s", "etl.fetch_bytes" -> "bytes") ++
      EtlCallSites.map(c => s"etl.job_s.$c" -> "s") ++
      Seq("etl.jobs_per_user" -> "count", "etl.driver_gap_s" -> "s",
          "etl.dedup_yield" -> "ratio", "etl.store_files" -> "count",
          "etl.output_bytes" -> "bytes") ++
      Visuals.map(v => s"semantic.visual_s.$v" -> "s") ++
      Seq("semantic.jobs_per_visual" -> "count", "semantic.input_bytes" -> "bytes",
          "semantic.driver_gap_s" -> "s",
          "streaming.batches" -> "count", "streaming.batch_s" -> "s",
          "streaming.rows_per_batch" -> "count") ++
      StreamPhases.map(p => s"streaming.phase_ms.$p" -> "ms") ++
      Seq("streaming.dashboard_batch_s" -> "s", "streaming.state_bytes" -> "bytes",
          "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
          "spark.failed_tasks" -> "count", "spark.executor_run_s" -> "s",
          "spark.executor_cpu_s" -> "s",
          "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
          "spark.spill_bytes" -> "bytes",
          "spark.input_bytes" -> "bytes", "spark.driver_gap_s" -> "s",
          "spark.planning_s" -> "s", "spark.sql_actions" -> "count")

  val units: Map[String, String] = (endToEnd ++ perLayer).toMap
}
