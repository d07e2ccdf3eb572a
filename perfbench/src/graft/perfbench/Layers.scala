package graft.perfbench

/** The per-layer metric set both workloads report from a traced run, and
  * the trace detail written to the sidecar. A write is one micro-batch
  * (`cdc_replica`) or one drop (`curation_ingest`); a read is one snapshot
  * probe or one `searchTopk` serve; a unit is an event or a document. The
  * per-store timings (`CdcStream.apply_ms`, `IncrementalNearDup.ingest_ms`
  * and the rest) are in the sidecar's `layers`, measured in every run.
  *
  * Which end-to-end metric each one should move:
  *  - `store.write_ms`, `spark.jobs_per_write`, `spark.tasks_per_write`,
  *    `spark.driver_ms_per_write`, `spark.executor_ms_per_write`,
  *    `spark.shuffle_bytes_per_write` → `latency_p50_ms`,
  *    `throughput_per_s` (at these batch sizes a write op is mostly job
  *    scheduling and driver work, so job and driver counts lead);
  *  - `spark.jobs_per_read`, `spark.driver_ms_per_read`,
  *    `BucketState.segments_max` → `read_p50_ms` (read amplification);
  *  - `storage.write_bytes_per_unit` → `throughput_per_s`;
  *  - `spark.cpu_saturation` (executor time ÷ cores × write wall) says
  *    whether overlapping more work could help at all;
  *  - `tracing.span_coverage` is the share of the timed region the spans
  *    account for.
  */
object Layers {

  def summarize(trace: Tracer.Trace, start: Double, end: Double, cpus: Int,
                units: Double, unitName: String, segmentsMax: Int)
      : (Map[String, (Double, String)], Map[String, Any]) = {
    val t = trace.copy(spans = trace.spans.filter(s => s.start >= start && s.end <= end),
      jobs = trace.jobs.filter(j => j.start >= start && j.start < end))
    val writes = t.perOp("write")
    val reads = t.perOp("read")
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val storeMs = t.spans.filter(s => s.op.startsWith("write:") && s.name.contains('.') &&
        !s.name.startsWith("spark."))
      .groupBy(_.op).values.map(_.map(_.ms).sum).toSeq
    val writeWall = writes.map(_.wallMs).sum
    val perLayer = Map[String, (Double, String)](
      "store.write_ms" -> (med(storeMs), "ms"),
      "spark.jobs_per_write" -> (med(writes.map(_.jobs.toDouble)), "count"),
      "spark.tasks_per_write" -> (med(writes.map(_.tasks.toDouble)), "count"),
      "spark.driver_ms_per_write" -> (med(writes.map(_.driverMs)), "ms"),
      "spark.executor_ms_per_write" -> (med(writes.map(_.executorMs.toDouble)), "ms"),
      "spark.shuffle_bytes_per_write" -> (med(writes.map(_.shuffleBytes.toDouble)), "bytes"),
      "spark.jobs_per_read" -> (med(reads.map(_.jobs.toDouble)), "count"),
      "spark.driver_ms_per_read" -> (med(reads.map(_.driverMs)), "ms"),
      "spark.cpu_saturation" ->
        (writes.map(_.executorMs.toDouble).sum / (cpus * writeWall), "ratio"),
      "storage.write_bytes_per_unit" -> (t.jobs.map(_.outputBytes).sum / units, "bytes"),
      "BucketState.segments_max" -> (segmentsMax.toDouble, "count"),
      "tracing.span_coverage" -> (t.coverage(start, end), "ratio"))
    def opJson(w: Tracer.OpWork) = Map("wall_ms" -> w.wallMs, "driver_ms" -> w.driverMs,
      "jobs" -> w.jobs, "tasks" -> w.tasks, "executor_ms" -> w.executorMs,
      "shuffle_bytes" -> w.shuffleBytes, "spill_bytes" -> w.spillBytes,
      "output_bytes" -> w.outputBytes)
    val sidecar = Map[String, Any](
      "trace" -> Map(
        "unit" -> unitName,
        "timed_window_ms" -> (end - start),
        "span_coverage" -> t.coverage(start, end),
        "spill_bytes_per_write" -> med(writes.map(_.spillBytes.toDouble)),
        "by_module" -> t.byModule.map { case (m, w) => m -> (opJson(w) - "driver_ms") },
        "by_span_name" -> t.work.groupBy(_.span.name).map { case (n, ws) =>
          n -> Map("count" -> ws.length,
            "median_ms" -> med(ws.map(_.span.ms)),
            "total_ms" -> ws.map(_.span.ms).sum,
            "driver_ms" -> ws.map(_.driverMs).sum,
            "jobs" -> ws.map(_.jobs.length).sum,
            "executor_ms" -> ws.flatMap(_.jobs).map(_.executorMs).sum)
        },
        "spans" -> t.work.map(w => Map("name" -> w.span.name, "op" -> w.span.op,
          "start_ms" -> (w.span.start - start), "ms" -> w.span.ms,
          "jobs" -> w.jobs.length, "driver_ms" -> w.driverMs,
          "executor_ms" -> w.jobs.map(_.executorMs).sum))))
    (perLayer, sidecar)
  }
}
