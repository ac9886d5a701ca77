package graftbench

import java.io.{ByteArrayOutputStream, File, PrintStream}

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cli.ManifestToJsonTool
import graft.iceberg._

/** meta_plan: point and partition lookups on a table of many small
  * partitions, where decoding manifests dominates and Spark runs one tiny
  * task. Partition `p` holds the keys [base(p), base(p) + Rows), with base a
  * seeded permutation, and `v = (k * 7919 + seed) mod 100003`. */
final class MetaPlan(spark: SparkSession, seed: Long, work: File) extends Workload {
  import MetaPlan._

  val name = "meta_plan"
  val setupReps = 3
  val queryClasses = Set("lookup_key", "lookup_part")
  val auxClasses = Set("manifest2json", "files_table")
  val roundSize: Int = Block.size
  val nominalRoundS = 3.5
  val stateful = false

  private val perm = new Random(seed).shuffle((0 until Partitions).toVector)
  private def base(p: Int): Long = perm(p).toLong * Rows
  private def v(k: Long): Long = Math.floorMod(k * 7919 + seed, 100003L)
  private def partOf(k: Long): Int = perm.indexOf((k / Rows).toInt)

  private var dir: File = _
  private var metaPath: String = _
  private var manifests: Vector[String] = Vector.empty
  private val mapper = new ObjectMapper()
  private val jsonBytes = scala.collection.mutable.ArrayBuffer.empty[Long]

  def build(rep: Int): Unit = {
    if (dir != null) FileTree.deleteTree(dir)
    dir = new File(work, s"meta-$rep")
    val tableDir = dir.getAbsolutePath
    GraftTable.create(tableDir, IcebergSchema(0, Seq(
      IcebergField(1, "k", required = false, "long"),
      IcebergField(2, "part", required = false, "int"),
      IcebergField(3, "v", required = false, "long"))),
      tableUuid = new java.util.UUID(seed, rep.toLong).toString, timestampMs = 1700000000000L,
      spec = PartitionSpec(0, Seq(PartitionField("part", "identity", 2, 1000))))
    val part = (col("id") / Rows).cast("int")
    val k = element_at(typedLit(perm.map(_.toLong * Rows)), part + 1) + col("id") % Rows
    GraftTable.append(spark, tableDir, spark.range(Partitions.toLong * Rows)
      .select(k.as("k"), part.as("part"))
      .withColumn("v", pmod(col("k") * 7919 + seed, lit(100003L))))
    metaPath = GraftTable.latestMetadataPath(tableDir)
    val meta = TableMetadata.parseFile(metaPath)
    manifests = ManifestListReader.read(meta.currentSnapshot.get.manifestList.get)
      .map(_.path).sorted.toVector
  }

  /** One round drawn from a stream the timed window never uses. */
  def warmUp(): Unit = {
    val warm = new Random(seed ^ 0x5eed)
    Block.foreach { cls =>
      val o = make(cls, warm)
      require(o.check(o.run()), s"warm-up ${o.desc} failed")
    }
  }

  def op(i: Int): Op = {
    val rnd = new Random(seed * 1000003L + i / Block.size)
    val round = rnd.shuffle(Block)
    val cls = round(i % Block.size)
    make(cls, new Random(seed * 1000003L + i))
  }

  private def table = spark.read.format("graft-table").option("metadata", metaPath).load()

  private def make(cls: String, rnd: Random): Op = cls match {
    case "lookup_key" =>
      val key = rnd.nextLong(Partitions.toLong * Rows)
      Op(cls, s"lookup_key k=$key", "format(graft-table).filter(k).collect",
        () => table.filter(col("k") === key).collect(),
        { case rows: Array[org.apache.spark.sql.Row] =>
          rows.length == 1 && rows(0).getAs[Long]("v") == v(key) &&
            rows(0).getAs[Int]("part") == partOf(key)
        })
    case "lookup_part" =>
      val p = rnd.nextInt(Partitions)
      val want = (0 until Rows).map(j => v(base(p) + j)).sum
      Op(cls, s"lookup_part part=$p", "format(graft-table).filter(part).agg.collect",
        () => table.filter(col("part") === p).agg(sum("v"), count(lit(1))).collect(),
        { case Array(r: org.apache.spark.sql.Row) => r.getLong(0) == want && r.getLong(1) == Rows })
    case "manifest2json" =>
      val m = manifests(rnd.nextInt(manifests.size))
      Op(cls, s"manifest2json ${new File(m).getName}", "ManifestToJsonTool.run",
        () => {
          val out = new ByteArrayOutputStream()
          val err = new ByteArrayOutputStream()
          val code = new ManifestToJsonTool().run(spark, System.in, new PrintStream(out),
            new PrintStream(err), Seq(m, metaPath))
          (code, out.toString("UTF-8"))
        },
        { case (code: Int, json: String) =>
          jsonBytes += json.length.toLong
          val ok = code == 0 && scala.util.Try(manifestOk(json)).getOrElse(false)
          if (!ok) Main.log(s"unexpected manifest2json output: ${json.take(2000)}")
          ok
        })
    case "files_table" =>
      Op(cls, "files_table", "MetadataTables.allFiles.count",
        () => MetadataTables.allFiles(spark, TableMetadata.parseFile(metaPath)).count(),
        { case n: Long => n == Partitions })
  }

  /** One entry whose decoded bounds pin one partition (field 2) and span
    * exactly that partition's keys (field 1). Bounds render as
    * `value:<v>;type:<t>`. */
  private def manifestOk(json: String): Boolean = {
    val entries = mapper.readTree(json)
    val df = entries.get(0).get("data_file")
    def bound(side: String, field: Int): Long =
      df.get(side).get(field.toString).asText.split(";")(0).stripPrefix("value:").toLong
    val p = bound("lower_bounds", 2).toInt
    entries.size == 1 && bound("upper_bounds", 2) == p &&
      bound("lower_bounds", 1) == base(p) && bound("upper_bounds", 1) == base(p) + Rows - 1
  }

  override def layerExtras(ops: Seq[OpRec]): Map[String, Metric] = {
    val meta = TableMetadata.parseFile(metaPath)
    val list = meta.currentSnapshot.get.manifestList.get
    def timed[A](f: => A): Double = { val t = Clock.nowMs; f; Clock.nowMs - t }
    val cli = ops.filter(_.cls == "manifest2json").map(_.ms)
    Map(
      "iceberg.metadata_parse_ms" -> Metric(Stats.median((1 to 20).map(_ => timed(TableMetadata.parseFile(metaPath)))), "ms"),
      "iceberg.manifest_list_ms" -> Metric(Stats.median((1 to 20).map(_ => timed(ManifestListReader.read(list)))), "ms"),
      "iceberg.manifest_decode_ms" -> Metric(Stats.median(manifests.map(m => timed(ManifestWriter.read(m)))), "ms"),
      "iceberg.files_table_ms" -> Metric(Stats.median((1 to 5).map(_ =>
        timed(MetadataTables.allFiles(spark, TableMetadata.parseFile(metaPath)).count()))), "ms"),
      "cli.manifest2json_ms" -> Metric(if (cli.isEmpty) 0.0 else Stats.median(cli), "ms"),
      "cli.json_bytes" -> Metric(if (jsonBytes.isEmpty) 0.0 else jsonBytes.sum.toDouble / jsonBytes.size, "bytes"),
      "iceberg.manifests_live" -> Metric(manifests.size.toDouble, "count"),
      "iceberg.data_files_live" -> Metric(Partitions.toDouble, "count"),
      "bench.space_amp" -> Metric(SpaceAmp.of(spark, dir, table.orderBy("k")), "ratio"))
  }

  override def cleanup(): Unit = if (dir != null) FileTree.deleteTree(dir)
}

object MetaPlan {
  val Partitions = 100
  val Rows = 400
  /** One round: 70% key lookups, 15% partition sums, 10% manifest dumps,
    * 5% files-table scans, shuffled per round by the seed. */
  val Block: Vector[String] = Vector.fill(14)("lookup_key") ++ Vector.fill(3)("lookup_part") ++
    Vector.fill(2)("manifest2json") ++ Vector("files_table")
}

/** Bytes under a table directory over the bytes of its live rows written
  * once as one plain parquet file. */
object SpaceAmp {
  def of(spark: SparkSession, tableDir: File, live: org.apache.spark.sql.DataFrame): Double = {
    val plain = new File(tableDir.getParentFile, tableDir.getName + "-plain")
    FileTree.deleteTree(plain)
    live.coalesce(1).write.parquet(plain.getAbsolutePath)
    val bytes = Option(plain.listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).map(_.length).sum
    FileTree.deleteTree(plain)
    FileTree.treeBytes(tableDir).toDouble / bytes
  }
}
