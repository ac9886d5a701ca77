package graftbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it, with its tasks' metrics summed. */
final class JobRec(val group: String, val startMs: Double) {
  var endMs: Double = Double.NaN
  var stages = 0
  var tasks = 0
  var runMs, cpuMs, gcMs, delayMs = 0.0
  var inputBytes, recordsRead, shuffleBytes, spillBytes = 0L
}

final case class PhaseRec(name: String, startMs: Double, endMs: Double)

final case class BatchRec(runId: String, startMs: Double, durations: Map[String, Long],
    stateCommitMs: Long, stateInstances: Long)

/** A timed op as the harness ran it. The graft call runs from `startMs` to
  * `callEndMs`; the op goes on to `endMs` while its result is checked. */
final case class OpRec(id: Long, cls: String, desc: String, call: String,
    startMs: Double, endMs: Double, callEndMs: Double, ok: Boolean,
    fsBytesRead: Long = 0, bytesWritten: Long = 0, rowsWritten: Long = 0,
    modelRows: Long = 0) {
  def ms: Double = endMs - startMs
}

/** Everything the listeners attributed to one op. */
final case class Attributed(op: OpRec, jobs: Seq[JobRec], phases: Seq[PhaseRec], batches: Seq[BatchRec])

final case class Span(op: Long, id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double)

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as the listener events' `System.currentTimeMillis` stamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Bytes read through Hadoop FileSystems, summed over every scheme. The
  * local filesystem counts no read operations, so bytes are the counter. */
object FsStats {
  def bytesRead(): Long = FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum
}

/** Listens to Spark's public listener APIs while the traced window runs and
  * links each event to the op that caused it: jobs by the job group the
  * harness sets per op, streaming batches by the run id the op started,
  * Catalyst phases by the op whose interval holds them. */
final class Tracer(spark: SparkSession) {
  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val phases = mutable.ArrayBuffer.empty[PhaseRec]
  private val batches = mutable.ArrayBuffer.empty[BatchRec]
  private val runOp = mutable.Map.empty[String, Long]
  @volatile var currentOp: Long = -1L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val j = new JobRec(group.getOrElse(""), e.time.toDouble)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        val info = e.taskInfo
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuMs += m.executorCpuTime / 1e6
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.recordsRead += m.inputMetrics.recordsRead
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        j.delayMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        if (name != "parsing") phases += PhaseRec(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    // delivered synchronously on the thread that starts the query
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lock.synchronized { runOp(e.runId.toString) = currentOp }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val rec = BatchRec(p.runId.toString, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.commitTimeMs).sum, p.stateOperators.map(_.numStateStoreInstances).sum)
      lock.synchronized { batches += rec }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every job seen has ended and no event arrived for half a
    * second, then detaches the listeners. */
  def stop(): Unit = {
    def state = lock.synchronized((jobs.size, jobs.values.count(_.endMs.isNaN), phases.size, batches.size))
    var last = state
    var quiet = 0
    val deadline = System.currentTimeMillis() + 20000
    while (quiet < 5 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val now = state
      quiet = if (now == last && now._2 == 0) quiet + 1 else 0
      last = now
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def attribute(ops: Seq[OpRec]): Seq[Attributed] = lock.synchronized {
    ops.map { o =>
      val opRuns = runOp.collect { case (run, id) if id == o.id => run }.toSet
      val js = jobs.values.filter(j => j.group == s"op-${o.id}" || opRuns(j.group)).toSeq
      val ps = phases.filter(p => p.startMs >= o.startMs && p.startMs <= o.endMs).toSeq
      val bs = batches.filter(b => opRuns(b.runId)).toSeq
      Attributed(o, js, ps, bs)
    }
  }
}

/** Builds the span tree of the traced window and its self-time summary. */
object Spans {

  def build(as: Seq[Attributed]): Seq[Span] = {
    var next = 0L
    def id(): Long = { next += 1; next }
    as.flatMap { a =>
      val o = a.op
      val opSpan = Span(o.id, id(), 0L, "op", o.cls, o.startMs, o.endMs)
      val call = Span(o.id, id(), opSpan.id, "call", o.call, o.startMs, o.callEndMs)
      val children =
        a.phases.map(p => Span(o.id, id(), call.id, "sql." + p.name, p.name, p.startMs, p.endMs)) ++
          a.jobs.map(j => Span(o.id, id(), call.id, "spark.job", j.group, j.startMs, j.endMs)) ++
          a.batches.map(b => Span(o.id, id(), call.id, "stream.batch", b.runId, b.startMs,
            b.startMs + b.durations.getOrElse("triggerExecution", 0L)))
      opSpan +: call +: children
    }
  }

  /** A span's duration minus the part of it its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cover = kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      s.id -> ((s.endMs - s.startMs) - Stats.unionLength(Stats.clip(cover, s.startMs, s.endMs)))
    }.toMap
  }

  def write(dir: File, spans: Seq[Span], summary: String): Unit = {
    dir.mkdirs()
    val w = new PrintWriter(new File(dir, "spans.jsonl"), "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("op" -> s.op, "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    } finally w.close()
    val ws = new PrintWriter(new File(dir, "summary.json"), "UTF-8")
    try ws.println(summary) finally ws.close()
  }
}
