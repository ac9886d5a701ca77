package graftbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.iceberg._

/** mor_cdc: writes beside reads on one unpartitioned v2 table. Each cycle
  * appends new ids, position-deletes `id % 1000 = d`, upserts existing ids
  * (equality deletes), then reads the whole table and a key range; every
  * `CompactEvery`-th cycle also compacts. A [[LiveModel]] checks every read
  * exactly. Cycles below `WarmCycles` are the warm-up. */
final class MorCdc(spark: SparkSession, seed: Long, work: File) extends Workload {
  import MorCdc._

  val name = "mor_cdc"
  val setupReps = 3
  val queryClasses = Set("read_full", "read_range")
  val auxClasses = Set("append", "delete", "upsert")
  val roundSize: Int = CompactEvery * OpsPerCycle + 1
  val nominalRoundS = 8.5
  val stateful = true

  private var dir: File = _
  private var model = new LiveModel
  private var nextId = 0L
  private var pending: Iterator[Op] = Iterator.empty
  private var cycle = 0
  private val deleteOrder = new Random(seed).shuffle((0 until 1000).toVector)
  val attempts: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer.empty
  private var fixedPoint = Map.empty[String, Metric]

  private def tableDir = dir.getAbsolutePath
  private def table: DataFrame = spark.read.format("graft-table")
    .option("metadata", GraftTable.latestMetadataPath(tableDir)).load()

  private def rows(ids: DataFrame, grp: Int): DataFrame = ids.select(
    col("id"), lit(grp).as("grp"), (col("id") * 0.25).as("v"),
    concat(lit("note-"), col("id"), lit("-"), lit(grp)).as("s"))

  def build(rep: Int): Unit = {
    if (dir != null) FileTree.deleteTree(dir)
    dir = new File(work, s"mor-$rep")
    GraftTable.create(tableDir, IcebergSchema(0, Seq(
      IcebergField(1, "id", required = false, "long"),
      IcebergField(2, "grp", required = false, "int"),
      IcebergField(3, "v", required = false, "double"),
      IcebergField(4, "s", required = false, "string"))),
      tableUuid = new java.util.UUID(seed, rep.toLong).toString, timestampMs = 1700000000000L)
    model = new LiveModel
    GraftTable.append(spark, tableDir, rows(spark.range(BaseRows).toDF, 0))
    model.put(0L until BaseRows, 0)
    nextId = BaseRows
    attempts.clear()
    cycle = 0
    pending = Iterator.empty
    fixedPoint = Map.empty
  }

  /** The first `WarmCycles` cycles, which run every op class. */
  def warmUp(): Unit = {
    (0 until WarmCycles).foreach(c => cycleOps(c).foreach { o =>
      require(o.check(o.run()), s"warm-up ${o.desc} failed")
    })
    cycle = WarmCycles
  }

  def op(i: Int): Op = {
    if (!pending.hasNext) { pending = cycleOps(cycle); cycle += 1 }
    pending.next()
  }

  /** The ops of cycle `c`, each made just before it runs so it sees the
    * model as the previous op left it. */
  private def cycleOps(c: Int): Iterator[Op] = {
    val rnd = new Random(seed * 7919L + c)
    val makers: Seq[() => Op] = Seq(
      () => {
        val (lo, hi) = (nextId, nextId + AppendRows)
        val grp = 100 + c
        Op("append", s"append ids=[$lo,$hi) grp=$grp", "GraftTable.append",
          () => GraftTable.append(spark, tableDir, rows(spark.range(lo, hi).toDF, grp)),
          commit(() => { model.put(lo until hi, grp); nextId = hi }),
          tableDir = Some(tableDir), rowsWritten = hi - lo)
      },
      () => {
        val d = deleteOrder(c % 1000)
        val gone = model.liveIds.count(_ % 1000 == d)
        Op("delete", s"deleteWhere id%1000=$d", "GraftTable.deleteWhere",
          () => GraftTable.deleteWhere(spark, tableDir, col("id") % 1000 === d),
          commit(() => model.deleteMod(1000, d)),
          tableDir = Some(tableDir), rowsWritten = gone.toLong)
      },
      () => {
        val live = model.liveIds
        val ids = rnd.shuffle(live.toIndexedSeq).take(UpsertRows).sorted
        val grp = 1000 + c
        Op("upsert", s"upsert n=${ids.size} first=${ids.head} grp=$grp", "GraftTable.upsert",
          () => GraftTable.upsert(spark, tableDir,
            rows(spark.createDataFrame(ids.map(Tuple1(_))).toDF("id"), grp), Seq("id")),
          commit(() => model.put(ids, grp)),
          tableDir = Some(tableDir), rowsWritten = ids.size.toLong)
      },
      () => {
        val want = model.full
        Op("read_full", "read_full", "format(graft-table).agg.collect",
          () => table.agg(count(lit(1)), sum("v"), max("id"), sum("grp")).collect(),
          { case Array(r: Row) =>
            (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)) == want },
          modelRows = want._1)
      },
      () => {
        val lo = rnd.nextLong(nextId - RangeRows)
        val want = model.range(lo, lo + RangeRows)
        Op("read_range", s"read_range [$lo,${lo + RangeRows})", "format(graft-table).filter(id).agg.collect",
          () => table.filter(col("id") >= lo && col("id") < lo + RangeRows)
            .agg(count(lit(1)), coalesce(sum("v"), lit(0.0)), coalesce(sum("grp"), lit(0L))).collect(),
          { case Array(r: Row) => (r.getLong(0), r.getDouble(1), r.getLong(2)) == want })
      }) ++
      (if (c % CompactEvery == 0) Seq(() =>
        Op("compact", "compact", "GraftTable.compact",
          () => GraftTable.compact(spark, tableDir), commit(() => ()),
          tableDir = Some(tableDir)))
      else Nil)
    makers.iterator.map(_())
  }

  private def commit(apply: () => Unit): Any => Boolean = {
    case r: OptimisticCommit.CommitResult =>
      attempts += r.attempts
      apply()
      true
    case _ => false
  }

  /** Space amplification and the live file counts are taken once, after
    * cycle `SpaceCycle`, whatever the speed of the run. */
  override def afterOp(i: Int): Unit =
    if (fixedPoint.isEmpty && cycle == SpaceCycle + 1 && !pending.hasNext) {
      val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(tableDir))
      val infos = ManifestListReader.read(meta.currentSnapshot.get.manifestList.get)
      val entries = infos.flatMap(i => ManifestWriter.read(i.path)).filter(_.status != 2)
      fixedPoint = Map(
        "bench.space_amp" -> Metric(SpaceAmp.of(spark, dir, table.orderBy("id")), "ratio"),
        "iceberg.manifests_live" -> Metric(infos.size.toDouble, "count"),
        "iceberg.data_files_live" -> Metric(entries.count(_.content == 0).toDouble, "count"),
        "iceberg.delete_files_live" -> Metric(entries.count(_.content != 0).toDouble, "count"))
    }

  override def windowComplete: Boolean = fixedPoint.nonEmpty

  override def layerExtras(ops: Seq[OpRec]): Map[String, Metric] = {
    def p50(cls: String): Metric = {
      val xs = ops.filter(_.cls == cls).map(_.ms)
      Metric(if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
    }
    fixedPoint ++ Map(
      "iceberg.append_ms" -> p50("append"),
      "iceberg.delete_ms" -> p50("delete"),
      "iceberg.upsert_ms" -> p50("upsert"),
      "iceberg.compact_ms" -> p50("compact"),
      "iceberg.commit_attempts" -> Metric(if (attempts.isEmpty) 0.0 else attempts.sum.toDouble / attempts.size, "count"))
  }

  override def cleanup(): Unit = if (dir != null) FileTree.deleteTree(dir)
}

object MorCdc {
  val BaseRows = 50000L
  val AppendRows: Long = BaseRows / 100
  val UpsertRows = 500
  val RangeRows = 1000L
  val OpsPerCycle = 5
  val CompactEvery = 3
  val WarmCycles = 3
  val SpaceCycle = 5
}
