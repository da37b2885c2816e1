package graftbench

/** Every per-layer metric the traced run prints, with its unit. A layer a
  * workload does not exercise reads 0 there: no commits on `analytics`
  * is itself the measurement. Counts, bytes and times are means per
  * operation of the workload (a query, a trigger, a store operation)
  * unless the name says otherwise. */
object Layers {
  val families: Seq[String] = Seq("er", "graph", "dedup", "ann", "text",
    "curation", "agg", "join", "window", "quality", "other")

  val selfLayers: Seq[String] = Seq("client", "SparkEntry", "exec", "stream",
    "store", "door", "dml", "maint")

  val overheadOf: Seq[String] = Seq("ops_per_s", "latency_p50_ms", "latency_p80_ms")

  val metrics: Seq[(String, String)] = Seq(
    "entry.build_ms" -> "ms", "driver.gap_ms" -> "ms",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_cpu_ms" -> "ms", "exec.shuffle_write_bytes" -> "B",
    "exec.shuffle_read_bytes" -> "B", "exec.spill_bytes" -> "B", "exec.busy_share" -> "ratio",
    "sources.input_bytes" -> "B", "sources.input_records" -> "count") ++
    families.map(f => s"operators.task_cpu_ms.$f" -> "ms") ++ Seq(
    "codegen.compile_ms" -> "ms", "codegen.compiles" -> "count",
    "stream.triggers" -> "count", "stream.rows_per_trigger" -> "count",
    "stream.trigger_p50_ms" -> "ms", "stream.trigger_p90_ms" -> "ms",
    "stream.overhead_ms" -> "ms", "stream.lag_files" -> "count",
    "parse.kept_ratio" -> "ratio", "gen.late_ms" -> "ms",
    "store.commit_p50_ms" -> "ms", "store.commit_p90_ms" -> "ms",
    "store.commit_jobs" -> "count", "store.commit_stages" -> "count",
    "store.commit_gap_ms" -> "ms", "store.files_written" -> "count",
    "store.bytes_written" -> "B", "store.write_amp" -> "ratio",
    "store.buckets_rewritten_share" -> "ratio", "store.space_amp" -> "ratio",
    "door.point_read_ms" -> "ms", "door.scan_ms" -> "ms", "door.time_travel_ms" -> "ms",
    "door.cdc_poll_ms" -> "ms", "door.records_per_result" -> "ratio",
    "dml.insert_ms" -> "ms", "dml.update_ms" -> "ms", "dml.delete_ms" -> "ms",
    "dml.merge_ms" -> "ms",
    "maint.passes" -> "count", "maint.ms" -> "ms", "maint.bytes_rewritten" -> "B",
    "store.files_live" -> "count",
    "jvm.gc_ms" -> "ms",
    "client.suite_s" -> "s", "client.read_p50_ms" -> "ms", "client.read_p80_ms" -> "ms",
    "client.write_p50_ms" -> "ms", "client.write_p80_ms" -> "ms") ++
    selfLayers.map(l => s"self_ms.$l" -> "ms") ++
    overheadOf.map(m => s"trace_overhead.$m" -> (if (m == "ops_per_s") "1/s" else "ms"))

  /** Fills the traced result with exactly the metrics in `metrics`, 0
    * where the workload left one unset. */
  def emit(r: Result, values: collection.Map[String, Double]): Unit = {
    val unknown = values.keySet.toSet -- metrics.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    r.metrics.clear()
    metrics.foreach { case (k, u) => r.put(k, values.getOrElse(k, 0.0), u) }
  }
}
