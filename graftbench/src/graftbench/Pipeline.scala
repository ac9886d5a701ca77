package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** pipeline: graft's operator entries over seeded star-schema tables, in a
  * fixed round-robin. Graft metadata planning is nearly absent; Spark jobs,
  * shuffles, codegen, the graft.functions kernels and the streaming state
  * stores carry the time. The warm-up is the first call of each entry; its
  * result is checked against the entry's DuckDB oracle once, and every
  * timed result must then match that result's fingerprint. */
final class Pipeline(spark: SparkSession, data: File, work: File, benchDir: File) extends Workload {
  import Pipeline._

  val name = "pipeline"
  val setupReps = 1
  val queryClasses: Set[String] = BatchEntries.toSet
  val auxClasses: Set[String] = StreamEntries.toSet
  val roundSize: Int = Entries.size
  val nominalRoundS = 5.0
  val stateful = false

  private var first: Map[String, (Array[Row], StructType)] = Map.empty
  private var verdict: Map[String, String] = Map.empty

  private def call(entry: String): Array[Row] =
    SparkEntry.queries(entry)(spark, data.getAbsolutePath).collect()

  /** The inputs come generated; there is no fixture to build. */
  def build(rep: Int): Unit = ()

  /** Each entry's first call, whose result the checks keep, then one more
    * round so the timed window starts on compiled code. */
  def warmUp(): Unit = {
    first = Entries.map { e =>
      val df = SparkEntry.queries(e)(spark, data.getAbsolutePath)
      e -> (df.collect(), df.schema)
    }.toMap
    Entries.foreach(call)
  }

  def op(i: Int): Op = {
    val entry = Entries(i % Entries.size)
    lazy val want = Stats.fingerprint(first(entry)._1.toSeq)
    Op(entry, entry, s"SparkEntry.queries($entry)", () => call(entry),
      { case rows: Array[Row] => verdict.get(entry).contains("PASS") && Stats.fingerprint(rows.toSeq) == want })
  }

  /** Writes each entry's first result and its oracle SQL, and has the DuckDB
    * oracle compare them. */
  override def verify(): Map[String, String] = {
    val out = new File(work, "first")
    FileTree.deleteTree(out)
    out.mkdirs()
    val sql = Entries.map(e => e -> SparkEntry.oracleSql(e)).toMap
    val w = new java.io.PrintWriter(new File(out, "oracle_sql.json"), "UTF-8")
    try w.print(Json.value(sql)) finally w.close()
    Entries.foreach { e =>
      val (rows, schema) = first(e)
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(new File(out, e).getAbsolutePath)
    }
    val verdictFile = new File(work, "oracle_verdict.json")
    val p = new ProcessBuilder("python3", new File(benchDir, "oracle.py").getAbsolutePath,
      data.getAbsolutePath, out.getAbsolutePath, verdictFile.getAbsolutePath)
      .redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.INHERIT).start()
    if (!p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS)) { p.destroyForcibly(); p.waitFor() }
    val parsed: Map[String, String] =
      if (!verdictFile.isFile) Map.empty
      else {
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(verdictFile)
        node.fieldNames().asScala.map(k => k -> node.get(k).asText).toMap
      }
    verdict = Entries.map(e => e -> parsed.getOrElse(e, "no oracle verdict")).toMap
    verdict
  }

  override def layerExtras(ops: Seq[OpRec]): Map[String, Metric] =
    Entries.map { e =>
      val xs = ops.filter(_.cls == e).map(_.ms)
      s"operators.${e}_ms" -> Metric(if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
    }.toMap
}

object Pipeline {
  val BatchEntries: Vector[String] = Vector(
    "q05_multi_join", "q51_topk_per_key", "d03_minhash_dedup")
  val StreamEntries: Vector[String] = Vector("st01_stream_hourly", "st04_stream_interval_join")
  val Entries: Vector[String] = BatchEntries ++ StreamEntries
}
