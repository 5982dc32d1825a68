package graftbench

/** Per-layer metrics of a traced phase, from the spans the workloads
  * recorded around each layer call. Times and counts are per operation
  * of the phase; a layer that did no work reads 0.
  */
object Layers {
  private val MB = 1024.0 * 1024.0

  def metrics(spans: Seq[Span], p: Phase, cores: Int): Map[String, Double] = {
    val n = math.max(1, p.ops.size).toDouble
    def named(name: String): Seq[Span] = spans.filter(_.name == name)
    def secs(name: String): Double = named(name).map(_.seconds).sum / n
    def stat(name: String)(f: SpanStats => Long): Double = named(name).map(s => f(s.stats).toDouble).sum
    def counter(name: String, key: String): Double = named(name).flatMap(_.counters.get(key)).sum
    def maxCounter(name: String, key: String): Double = (0.0 +: named(name).flatMap(_.counters.get(key))).max

    val planS = stat("ops.exec")(_.planMs) / 1000.0
    val execWall = named("ops.exec").map(_.seconds).sum
    val taskRunS = stat("ops.exec")(_.taskRunMs) / 1000.0
    val carriedBytes = counter("sink.write", "input_bytes")
    val sinkBytes = stat("sink.write")(_.outputBytes)
    val batchSpans = Seq("streaming.batch", "sink.write")
    Map(
      "ops.construct_s" -> secs("ops.construct"),
      "ops.construct_jobs" -> stat("ops.construct")(_.jobs) / n,
      "ops.plan_s" -> planS / n,
      "ops.exec_s" -> (execWall - planS) / n,
      "ops.exec_jobs" -> stat("ops.exec")(_.jobs) / n,
      "ops.exec_stages" -> stat("ops.exec")(_.stages) / n,
      "ops.exec_tasks" -> stat("ops.exec")(_.tasks) / n,
      "ops.task_run_s" -> taskRunS / n,
      "ops.task_cpu_s" -> stat("ops.exec")(_.taskCpuNs) / 1e9 / n,
      "ops.sched_delay_s" -> stat("ops.exec")(_.schedDelayMs) / 1000.0 / n,
      "ops.gc_s" -> stat("ops.exec")(_.gcMs) / 1000.0 / n,
      "ops.scan_mb" -> stat("ops.exec")(_.inputBytes) / MB / n,
      "ops.shuffle_read_mb" -> stat("ops.exec")(_.shuffleReadBytes) / MB / n,
      "ops.shuffle_write_mb" -> stat("ops.exec")(_.shuffleWriteBytes) / MB / n,
      "ops.spill_mb" -> stat("ops.exec")(_.spillBytes) / MB / n,
      "ops.slot_util" -> (if (execWall > 0) taskRunS / (execWall * cores) else 0.0),
      "ops.pinned_peak_mb" -> maxCounter("op", "pinned_mb"),
      "ops.pins_left" -> p.pinsLeft.sum / n,
      "sources.scan_s" -> secs("sources.scan"),
      "sources.files" -> counter("sources.scan", "files") / n,
      "sources.rows" -> counter("sources.scan", "rows") / n,
      "sink.write_s" -> secs("sink.write"),
      "sink.partitions" -> counter("sink.write", "partitions") / n,
      "sink.files_written" -> counter("sink.write", "files") / n,
      "sink.write_mb" -> sinkBytes / MB / n,
      "sink.write_amp" -> (if (carriedBytes > 0) sinkBytes / carriedBytes else 0.0),
      "sink.read_s" -> secs("sink.read"),
      "sink.gate_s" -> secs("sink.gate"),
      "sink.compact_s" -> secs("sink.compact"),
      "sink.vacuum_s" -> secs("sink.vacuum"),
      "sink.runs_removed" -> counter("sink.vacuum", "removed") / n,
      "state.upsert_s" -> secs("state.upsert"),
      "state.snapshot_s" -> secs("state.snapshot"),
      "state.observe_s" -> secs("state.observe"),
      "state.control_s" -> secs("state.control"),
      "state.ledger_files" -> maxCounter("op", "ledger_files"),
      "warehouse.reconcile_s" -> secs("warehouse.reconcile"),
      "warehouse.publish_s" -> secs("warehouse.publish"),
      "warehouse.replaced_partitions" -> counter("warehouse.reconcile", "replaced") / n,
      "warehouse.serve_s" -> secs("warehouse.serve"),
      "streaming.batch_s" -> secs("streaming.batch"),
      // from StreamingQueryProgress; Lifecycle.layerExtras fills these in
      "streaming.add_batch_s" -> 0.0,
      "streaming.commit_s" -> 0.0,
      "streaming.state_rows" -> 0.0,
      "streaming.state_mb" -> 0.0,
      "streaming.state_commit_s" -> 0.0,
      "streaming.stages_per_batch" ->
        (if (named("streaming.batch").isEmpty) 0.0 else batchSpans.map(stat(_)(_.stages)).sum / n),
    )
  }
}
