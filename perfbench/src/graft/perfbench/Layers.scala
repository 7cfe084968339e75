package graft.perfbench

/** The metric names and units every run emits; BENCHMARK.json lists the same. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ok_ratio" -> "ratio", "heap_live_mb" -> "MB",
    "op_p50_ms" -> "ms", "ops_per_s" -> "1/s")

  val perLayer: Seq[(String, String)] = Seq(
    "streaming.batches" -> "count",
    "streaming.batch_input_rows_p50" -> "rows",
    "streaming.trigger_ms_p50" -> "ms",
    "streaming.trigger_ms_p95" -> "ms",
    "streaming.latest_offset_ms_p50" -> "ms",
    "streaming.get_batch_ms_p50" -> "ms",
    "streaming.query_planning_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms",
    "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.commit_offsets_ms_p50" -> "ms",
    "streaming.phase_share_p50" -> "ratio",
    "streaming.aggregate_ms_p50" -> "ms",
    "streaming.upsert_ms_p50" -> "ms",
    "streaming.add_batch_split_share_p50" -> "ratio",
    "streaming.upsert_days_p50" -> "count",
    "streaming.upsert_rows_written_p50" -> "rows",
    "streaming.state_rows" -> "rows",
    "streaming.state_memory_bytes" -> "bytes",
    "streaming.backlog_rows_end" -> "rows",
    "streaming.freshness_p95_ms" -> "ms",
    "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.job_wall_ms_per_op" -> "ms",
    "spark.task_run_ms_per_op" -> "ms",
    "spark.shuffle_write_bytes_per_op" -> "bytes",
    "spark.spill_bytes_per_op" -> "bytes",
    "spark.files_read_per_op" -> "count",
    "spark.bytes_read_per_op" -> "bytes",
    "serving.view_ms_p50" -> "ms",
    "serving.http_overhead_ms_p50" -> "ms",
    "serving.queue_ms_p50" -> "ms",
    "operators.history_plan_ms_p50" -> "ms",
    "operators.history_exec_ms_p50" -> "ms",
    "operators.snapshot_plan_ms_p50" -> "ms",
    "operators.snapshot_exec_ms_p50" -> "ms",
    "operators.result_rows_p50" -> "rows",
    "operators.bm25_ms_p50" -> "ms",
    "operators.ivfpq_ms_p50" -> "ms",
    "operators.rrf_ms_p50" -> "ms",
    "operators.generation_resolve_ms_p50" -> "ms",
    "operators.ann_recall_at_k" -> "ratio",
    "geo.cover_ms_p50" -> "ms",
    "geo.cover_hashes_p50" -> "count",
    "sources.table_files" -> "count",
    "sources.table_rows" -> "rows",
    "sources.day_partition_rows_p50" -> "rows",
    "requests.history_p50_ms" -> "ms",
    "requests.snapshot_p50_ms" -> "ms",
    "requests.lexical_p50_ms" -> "ms",
    "requests.ann_p50_ms" -> "ms",
    "requests.hybrid_p50_ms" -> "ms",
    "host.generator_late_ms_max" -> "ms",
    "tracing.overhead_share" -> "ratio")
}

object Layers {
  private def p50(name: String): Double = Stats.nanToZero(Stats.median(Trace.ms(name)))

  /** Per-layer numbers of the serving path, from the direct-call spans. */
  def serve(ctx: Ctx, r: Report, table: String): Unit = {
    Seq("serving.view", "operators.history_plan", "operators.history_exec",
      "operators.snapshot_plan", "operators.snapshot_exec", "geo.cover")
      .foreach(n => r.put(s"${n}_ms_p50", p50(n), "ms"))
    r.put("geo.cover_hashes_p50", Stats.nanToZero(Stats.median(Trace.recorded("geo.cover_hashes"))), "count")
    r.put("operators.result_rows_p50", Stats.nanToZero(Stats.median(Trace.recorded("operators.result_rows"))), "rows")
    TempApi.sourceMetrics(ctx.spark, table, r)
  }

  /** Per-layer numbers of the retrieval path. */
  def retrieve(r: Report): Unit =
    Seq("operators.bm25", "operators.ivfpq", "operators.rrf", "operators.generation_resolve")
      .foreach(n => r.put(s"${n}_ms_p50", p50(n), "ms"))

  /**
   * Close the report: an untraced run emits exactly the end-to-end metrics
   * (every one must be a positive, finite number, else the run is not
   * correct); a traced run emits exactly the per-layer metrics, with 0 for a
   * layer the workload never reaches.
   */
  def finish(ctx: Ctx, r: Report): Unit = {
    val keep =
      if (ctx.trace) Metrics.perLayer
      else {
        r.put("heap_live_mb", Heap.liveMb(), "MB")
        r.put("ok_ratio", if (r.attempted == 0) 0.0 else 1.0 - r.failed.toDouble / r.attempted, "ratio")
        Metrics.endToEnd
      }
    val values = keep.map { case (n, unit) =>
      val v = r.metrics.get(n).map(_._1).getOrElse(Double.NaN)
      val finite = !v.isNaN && !v.isInfinite
      if (!ctx.trace && !(finite && v > 0)) r.fail(s"metric $n is not a positive number: $v")
      (n, if (finite) v else 0.0, unit)
    }
    r.metrics.clear()
    values.foreach { case (n, v, unit) => r.put(n, v, unit) }
  }
}
