package graftbench

import java.io.File

/** Per-layer metrics from the traced window, plus the latency figures of
  * the untraced window that only some workloads have. Every workload
  * reports every name; a layer a workload does not reach reads 0. */
object Layers {

  /** What the listeners attributed to one op, reduced to numbers. */
  final case class OpLayers(op: OpRec, driverMs: Double, jobMs: Double, jobs: Int, stages: Int,
      tasks: Int, runMs: Double, cpuMs: Double, delayMs: Double, gcMs: Double, inputBytes: Long,
      recordsRead: Long, shuffleBytes: Long, spillBytes: Long, sqlMs: Map[String, Double],
      batches: Int, streamMs: Map[String, Double], stateCommitMs: Double, stateInstances: Double)

  def reduce(a: Attributed): OpLayers = {
    val o = a.op
    val iv = a.jobs.map(j => (j.startMs, if (j.endMs.isNaN) j.startMs else j.endMs))
    val sqlMs = a.phases.groupBy(_.name).map { case (k, ps) => k -> ps.map(p => p.endMs - p.startMs).sum }
    val dur = a.batches.flatMap(_.durations.toSeq).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2.toDouble).sum }
    OpLayers(o,
      driverMs = o.ms - Stats.unionLength(Stats.clip(iv, o.startMs, o.endMs)),
      jobMs = Stats.unionLength(iv), jobs = a.jobs.size, stages = a.jobs.map(_.stages).sum,
      tasks = a.jobs.map(_.tasks).sum, runMs = a.jobs.map(_.runMs).sum, cpuMs = a.jobs.map(_.cpuMs).sum,
      delayMs = a.jobs.map(_.delayMs).sum, gcMs = a.jobs.map(_.gcMs).sum,
      inputBytes = a.jobs.map(_.inputBytes).sum, recordsRead = a.jobs.map(_.recordsRead).sum,
      shuffleBytes = a.jobs.map(_.shuffleBytes).sum, spillBytes = a.jobs.map(_.spillBytes).sum,
      sqlMs = sqlMs, batches = a.batches.size, streamMs = dur,
      stateCommitMs = a.batches.map(_.stateCommitMs).sum.toDouble,
      stateInstances = a.batches.map(_.stateInstances).sum.toDouble)
  }

  private val CommitClasses = Set("append", "delete", "upsert")
  private val InspectClasses = Set("manifest2json", "files_table")

  def compute(w: Workload, tracer: Tracer, plain: Main.Window, traced: Main.Window,
      extras: Map[String, Metric], cores: Int, traceDir: File, heapMb: Double): Map[String, Metric] = {
    val attributed = tracer.attribute(traced.ops)
    val ls = attributed.map(reduce)
    def mean(f: OpLayers => Double): Double = if (ls.isEmpty) 0.0 else ls.map(f).sum / ls.size
    val streamOps = ls.filter(_.batches > 0)
    def streamMean(f: OpLayers => Double): Double =
      if (streamOps.isEmpty) 0.0 else streamOps.map(f).sum / streamOps.size
    def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den
    def p90(classes: Set[String]): Double =
      Stats.tailPercentile(plain.ops.filter(o => classes(o.cls)).map(_.ms), 0.9).getOrElse(0.0)
    def p50(classes: Set[String]): Double = Main.classP50(plain.ops, classes)
    val reads = ls.filter(_.op.modelRows > 0)
    val writes = ls.filter(_.op.rowsWritten > 0)

    val metrics = Map(
      "sources.driver_ms" -> Metric(mean(_.driverMs), "ms"),
      "sources.fs_bytes_read" -> Metric(mean(_.op.fsBytesRead.toDouble), "bytes"),
      "sources.live_row_ratio" -> Metric(ratio(reads.map(_.op.modelRows).sum.toDouble,
        reads.map(_.recordsRead).sum.toDouble), "ratio"),
      "sources.bytes_written_per_row" -> Metric(ratio(writes.map(_.op.bytesWritten).sum.toDouble,
        writes.map(_.op.rowsWritten).sum.toDouble), "bytes"),
      "sql.analysis_ms" -> Metric(mean(_.sqlMs.getOrElse("analysis", 0.0)), "ms"),
      "sql.optimization_ms" -> Metric(mean(_.sqlMs.getOrElse("optimization", 0.0)), "ms"),
      "sql.planning_ms" -> Metric(mean(_.sqlMs.getOrElse("planning", 0.0)), "ms"),
      "spark.jobs" -> Metric(mean(_.jobs.toDouble), "count"),
      "spark.stages" -> Metric(mean(_.stages.toDouble), "count"),
      "spark.tasks" -> Metric(mean(_.tasks.toDouble), "count"),
      "spark.job_ms" -> Metric(mean(_.jobMs), "ms"),
      "spark.executor_run_ms" -> Metric(mean(_.runMs), "ms"),
      "spark.executor_cpu_ms" -> Metric(mean(_.cpuMs), "ms"),
      "spark.scheduler_delay_ms" -> Metric(mean(_.delayMs), "ms"),
      "spark.gc_ms" -> Metric(mean(_.gcMs), "ms"),
      "spark.input_bytes" -> Metric(mean(_.inputBytes.toDouble), "bytes"),
      "spark.shuffle_bytes" -> Metric(mean(_.shuffleBytes.toDouble), "bytes"),
      "spark.spill_bytes" -> Metric(mean(_.spillBytes.toDouble), "bytes"),
      "spark.core_busy" -> Metric(ratio(ls.map(_.runMs).sum, ls.map(_.jobMs).sum * cores), "ratio"),
      "streaming.batches" -> Metric(streamMean(_.batches.toDouble), "count"),
      "streaming.trigger_ms" -> Metric(streamMean(_.streamMs.getOrElse("triggerExecution", 0.0)), "ms"),
      "streaming.add_batch_ms" -> Metric(streamMean(_.streamMs.getOrElse("addBatch", 0.0)), "ms"),
      "streaming.wal_ms" -> Metric(streamMean(l => l.streamMs.getOrElse("walCommit", 0.0) +
        l.streamMs.getOrElse("commitOffsets", 0.0)), "ms"),
      "streaming.planning_ms" -> Metric(streamMean(_.streamMs.getOrElse("queryPlanning", 0.0)), "ms"),
      "streaming.state_commit_ms" -> Metric(streamMean(_.stateCommitMs), "ms"),
      "streaming.state_instances" -> Metric(streamMean(_.stateInstances), "count"),
      "bench.trace_overhead" -> Metric(1 - traced.opsPerS / plain.opsPerS, "ratio"),
      "bench.query_p90_ms" -> Metric(p90(w.queryClasses), "ms"),
      "bench.commit_p50_ms" -> Metric(p50(CommitClasses), "ms"),
      "bench.commit_p90_ms" -> Metric(p90(CommitClasses), "ms"),
      "bench.inspect_p50_ms" -> Metric(p50(InspectClasses), "ms"),
      "bench.stream_p50_ms" -> Metric(p50(Pipeline.StreamEntries.toSet), "ms"),
      "bench.fail_ratio" -> Metric(ratio(plain.ops.count(!_.ok), plain.ops.size), "ratio"),
      "bench.heap_mb" -> Metric(heapMb, "MB"))
    val zeros = Defaults.map { case (k, u) => k -> Metric(0.0, u) }.toMap
    val all = zeros ++ metrics ++ extras
    writeTrace(w, attributed, ls, all, traceDir)
    all
  }

  /** Metrics only some workloads measure, with their units. */
  val Defaults: Seq[(String, String)] = Seq(
    "iceberg.metadata_parse_ms" -> "ms", "iceberg.manifest_list_ms" -> "ms",
    "iceberg.manifest_decode_ms" -> "ms", "iceberg.files_table_ms" -> "ms",
    "iceberg.append_ms" -> "ms", "iceberg.delete_ms" -> "ms", "iceberg.upsert_ms" -> "ms",
    "iceberg.compact_ms" -> "ms", "iceberg.commit_attempts" -> "count",
    "iceberg.manifests_live" -> "count", "iceberg.data_files_live" -> "count",
    "iceberg.delete_files_live" -> "count", "cli.manifest2json_ms" -> "ms", "cli.json_bytes" -> "bytes",
    "bench.space_amp" -> "ratio") ++
    Pipeline.Entries.map(e => s"operators.${e}_ms" -> "ms")

  private def writeTrace(w: Workload, as: Seq[Attributed], ls: Seq[OpLayers],
      metrics: Map[String, Metric], dir: File): Unit = {
    val spans = Spans.build(as)
    val self = Spans.selfTimes(spans)
    val selfByKind = spans.groupBy(_.kind).map { case (k, ss) => k -> ss.map(s => self(s.id)).sum }
    val perClass = ls.groupBy(_.op.cls).map { case (cls, xs) =>
      def med(f: OpLayers => Double) = Stats.median(xs.map(f))
      cls -> Map(
        "ops" -> xs.size, "wall_ms_p50" -> med(_.op.ms), "driver_ms_p50" -> med(_.driverMs),
        "job_ms_p50" -> med(_.jobMs), "sql_ms_p50" -> med(_.sqlMs.values.sum),
        "jobs_p50" -> med(_.jobs.toDouble), "tasks_p50" -> med(_.tasks.toDouble),
        "fs_bytes_read_p50" -> med(_.op.fsBytesRead.toDouble),
        // driver plus job time over wall time: 1 when the job intervals all fall inside the op
        "accounted_p50" -> med(l => (l.driverMs + l.jobMs) / l.op.ms))
    }
    val summary = Json.obj(Seq(
      "workload" -> w.name,
      "self_ms_by_kind" -> selfByKind,
      "per_class" -> perClass,
      "metrics" -> metrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) }))
    Spans.write(dir, spans, summary)
    perClass.get("lookup_key").foreach(c =>
      Main.log(s"lookup_key: (driver_ms + job_ms) / wall p50 = ${c("accounted_p50")}"))
  }
}
