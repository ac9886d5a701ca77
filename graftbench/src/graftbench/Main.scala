package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload: set-up, checks, and a closed-loop timed window driven
  * by one client thread. With `--trace 1` it runs the untraced window, then
  * the same op sequence again with the listeners attached, and reports the
  * per-layer metrics; otherwise it reports the end-to-end metrics.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --data DIR --bench-dir DIR --trace-dir DIR --result FILE
  */
object Main {

  final case class Window(ops: Seq[OpRec], seconds: Double) {
    def opsPerS: Double = ops.size / seconds
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = new File(a("work"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.Sessions.local("graftbench", cores.toString)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000
    val w: Workload = a("workload") match {
      case "meta_plan" => new MetaPlan(spark, seed, work)
      case "mor_cdc" => new MorCdc(spark, seed, work)
      case "pipeline" => new Pipeline(spark, new File(a("data")), work, new File(a("bench-dir")))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val builds = (0 until w.setupReps).map(rep => timedS(w.build(rep)))
      val warmS = timedS(w.warmUp())
      val setupS = sessionS + Stats.median(builds) + warmS
      log(f"session ${sessionS}%.2f s, fixture ${builds.map(s => f"$s%.2f").mkString(" ")} s, warm-up $warmS%.2f s")
      val checkStart = Clock.nowMs
      val checks = w.verify()
      checks.foreach { case (k, v) => log(s"check $k: $v") }
      if (checks.nonEmpty) log(f"checks took ${(Clock.nowMs - checkStart) / 1000}%.2f s")

      val plain = window(spark, w, seconds, None)
      val heapMb = heapAfterGc()
      describe("untraced", plain)
      val failedChecks = checks.count(_._2 != "PASS")
      val (metrics, windows, sameSequence) =
        if (!traced) (endToEnd(w, plain, setupS), Seq(plain), true)
        else {
          val extras = w.layerExtras(plain.ops)
          if (w.stateful) { w.build(w.setupReps); w.warmUp() }
          val tracer = new Tracer(spark)
          tracer.start()
          val tw = window(spark, w, seconds, Some(tracer))
          tracer.stop()
          describe("traced", tw)
          val n = math.min(plain.ops.size, tw.ops.size)
          val same = plain.ops.take(n).map(_.desc) == tw.ops.take(n).map(_.desc)
          log(s"traced and untraced windows run the same first $n ops: $same")
          val layers = Layers.compute(w, tracer, plain, tw, extras, cores,
            new File(a("trace-dir")), heapMb)
          (layers, Seq(plain, tw), same)
        }
      val attempted = windows.map(_.ops.size).sum
      val failed = windows.map(_.ops.count(!_.ok)).sum
      val correct = failed == 0 && failedChecks == 0 && sameSequence
      val result = Json.obj(Seq(
        "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
        "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, m) =>
          k -> Map("value" -> m.value, "unit" -> m.unit) }.toMap))
      val out = new java.io.PrintWriter(new File(a("result")), "UTF-8")
      try out.println(result) finally out.close()
    } finally {
      w.cleanup()
      spark.stop()
    }
  }

  private def timedS(f: => Unit): Double = { val t = Clock.nowMs; f; (Clock.nowMs - t) / 1000 }

  def log(s: String): Unit = System.err.println(s"[graftbench] $s")

  private def describe(label: String, win: Window): Unit = {
    val byCls = win.ops.groupBy(_.cls).toSeq.sortBy(_._1).map { case (c, os) =>
      f"$c x${os.size} p50 ${Stats.median(os.map(_.ms))}%.1f ms" }
    log(f"$label window: ${win.ops.size} ops in ${win.seconds}%.2f s, ${win.ops.count(!_.ok)} failed; " +
      byCls.mkString(", "))
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(win.ops.map(_.desc).mkString("\n").getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    log(s"$label op sequence sha256/8 $digest")
  }

  /** The closed loop: one op after another for the rounds `seconds` stands
    * for (see [[Workload.nominalRoundS]]), and on to the end of a round
    * while a fixed-point measurement is still due. Untimed work between ops
    * (fixed-point measurements, and in the traced window the file-system
    * probes) is subtracted from the window. */
  def window(spark: SparkSession, w: Workload, seconds: Double, tracer: Option[Tracer]): Window = {
    val recs = mutable.ArrayBuffer.empty[OpRec]
    val t0 = Clock.nowMs
    var paused = 0.0
    def elapsedS = (Clock.nowMs - t0 - paused) / 1000
    val ops = math.max(1L, math.round(seconds / w.nominalRoundS)) * w.roundSize
    var i = 0
    while ((i < ops || i % w.roundSize != 0 || !w.windowComplete) && elapsedS < 10 * seconds) {
      val op = w.op(i)
      val id = i + 1L
      val p0 = Clock.nowMs
      val bytes0 = if (tracer.isDefined) op.tableDir.map(d => FileTree.treeBytes(new File(d))).getOrElse(0L) else 0L
      val fs0 = if (tracer.isDefined) FsStats.bytesRead() else 0L
      tracer.foreach { t =>
        t.currentOp = id
        spark.sparkContext.setJobGroup(s"op-$id", op.cls, interruptOnCancel = false)
      }
      paused += Clock.nowMs - p0
      val start = Clock.nowMs
      val res = scala.util.Try(op.run())
      val callEnd = Clock.nowMs
      val ok = res.flatMap(r => scala.util.Try(op.check(r))).recover { case e =>
        log(s"op ${op.desc} failed: $e"); false }.get
      val end = Clock.nowMs
      if (!ok && res.isSuccess) log(s"op ${op.desc} returned a wrong result")
      val p1 = Clock.nowMs
      var rec = OpRec(id, op.cls, op.desc, op.call, start, end, callEnd, ok,
        rowsWritten = op.rowsWritten, modelRows = op.modelRows)
      tracer.foreach { _ =>
        spark.sparkContext.clearJobGroup()
        val bytes1 = op.tableDir.map(d => FileTree.treeBytes(new File(d))).getOrElse(0L)
        rec = rec.copy(fsBytesRead = FsStats.bytesRead() - fs0, bytesWritten = bytes1 - bytes0)
      }
      recs += rec
      w.afterOp(i)
      paused += Clock.nowMs - p1
      i += 1
    }
    Window(recs.toSeq, elapsedS)
  }

  private def heapAfterGc(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The mean over the given op classes of each class's median latency. A
    * median of the pooled ops would fall between two classes' latencies
    * and jump with either. */
  def classP50(ops: Seq[OpRec], classes: Set[String]): Double = {
    val meds = ops.filter(o => classes(o.cls)).groupBy(_.cls).values.map(os => Stats.median(os.map(_.ms)))
    if (meds.isEmpty) 0.0 else meds.sum / meds.size
  }

  def endToEnd(w: Workload, win: Window, setupS: Double): Map[String, Metric] = Map(
    "setup_s" -> Metric(setupS, "s"),
    "ops_per_s" -> Metric(win.opsPerS, "ops/s"),
    "query_p50_ms" -> Metric(classP50(win.ops, w.queryClasses), "ms"),
    "aux_p50_ms" -> Metric(classP50(win.ops, w.auxClasses), "ms"))
}
