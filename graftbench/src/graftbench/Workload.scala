package graftbench

/** One op of a workload's sequence. `run` is the graft call, `check` says
  * whether its result is right. `desc` names the op and its parameters; two
  * runs of one seed produce the same descs in the same order. */
final case class Op(cls: String, desc: String, call: String, run: () => Any, check: Any => Boolean,
    tableDir: Option[String] = None, rowsWritten: Long = 0, modelRows: Long = 0)

/** A metric value with its unit. */
final case class Metric(value: Double, unit: String)

trait Workload {
  def name: String
  /** How many times the fixture is built; `setup_s` takes the median. */
  def setupReps: Int
  /** Op classes whose latency is `query_p50_ms`. */
  def queryClasses: Set[String]
  /** Op classes whose latency is `aux_p50_ms`. */
  def auxClasses: Set[String]
  /** A timed window holds a whole number of rounds, so every window holds
    * the same op mix. */
  def roundSize: Int
  /** About how long a round took when the benchmark was defined. A window
    * runs the number of rounds that is nearest to `--seconds` at that speed,
    * so every run does the same work whether the host is fast or slow. */
  def nominalRoundS: Double
  /** Whether ops change the fixture, so a second window needs a fresh one. */
  def stateful: Boolean
  /** Builds a fresh fixture. */
  def build(rep: Int): Unit
  /** Runs the ops that fill caches and finish lazy set-up before timing. */
  def warmUp(): Unit
  /** The `i`-th op of the timed sequence on the current fixture. */
  def op(i: Int): Op
  /** False while a fixed-point measurement is still due; the timed window
    * runs on until it is true. */
  def windowComplete: Boolean = true
  /** Untimed work after op `i`, such as a measurement taken at a fixed point. */
  def afterOp(i: Int): Unit = ()
  /** Checks run once between set-up and the timed window: name -> "PASS" or why not. */
  def verify(): Map[String, String] = Map.empty
  /** Per-layer measurements taken after the untraced window, given its ops:
    * graft called directly on the fixture, and fixed-point figures such as
    * space amplification. */
  def layerExtras(ops: Seq[OpRec]): Map[String, Metric] = Map.empty
  def cleanup(): Unit = ()
}

object FileTree {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Bytes of every file under `f`. */
  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeBytes).sum
    else if (f.isFile) f.length
    else 0L
}
