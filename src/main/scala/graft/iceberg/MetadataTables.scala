package graft.iceberg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.BoundDecode

/** Iceberg metadata tables as DataFrames — the analytics surface over the
  * table-metadata document + manifest scans, modeled on Iceberg's public
  * metadata-table set (`snapshots`, `history`, `refs`, `manifests`, `files`,
  * `partitions`). The reference exposes none of these (it prints raw JSON);
  * they are the natural Spark-first shape of its data model (SURVEY.md §2.2
  * "Iceberg table ops").
  *
  * The document-derived tables are driver-built (`createDataFrame` over a
  * KB-sized document — broadcastable dimension tables in any join). `files`
  * runs the distributed manifest scan.
  */
object MetadataTables {

  def snapshots(spark: SparkSession, meta: TableMetadata): DataFrame = {
    import spark.implicits._
    meta.snapshots.map(s => (s.snapshotId, s.parentSnapshotId, s.timestampMs,
      s.operation, s.manifestList, s.schemaId, s.summary))
      .toDF("snapshot_id", "parent_id", "committed_at_ms", "operation",
        "manifest_list", "schema_id", "summary")
  }

  def history(spark: SparkSession, meta: TableMetadata): DataFrame = {
    import spark.implicits._
    meta.snapshotLog.map(e => (e.timestampMs, e.snapshotId,
      meta.currentSnapshotId.contains(e.snapshotId)))
      .toDF("made_current_at_ms", "snapshot_id", "is_current")
  }

  /** The `metadata_log_entries` table: lineage of superseded metadata
    * documents (populated by MetadataWriter commits/rollbacks). */
  def metadataLog(spark: SparkSession, meta: TableMetadata): DataFrame = {
    import spark.implicits._
    meta.metadataLog.map(e => (e.timestampMs, e.metadataFile))
      .toDF("superseded_at_ms", "metadata_file")
  }

  def refs(spark: SparkSession, meta: TableMetadata): DataFrame = {
    import spark.implicits._
    meta.refs.map(r => (r.name, r.refType, r.snapshotId,
        r.maxRefAgeMs, r.minSnapshotsToKeep, r.maxSnapshotAgeMs))
      .toDF("name", "type", "snapshot_id",
        "max_reference_age_in_ms", "min_snapshots_to_keep", "max_snapshot_age_in_ms")
  }

  /** Iceberg's `all_manifests`: every manifest reachable from ANY
    * snapshot, one row per (snapshot, manifest) pair — the history-wide
    * view expiry planning and debugging read. KB-scale list reads only;
    * a snapshot without a list contributes nothing. */
  def allManifests(spark: SparkSession, meta: TableMetadata): DataFrame = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    meta.snapshots.flatMap(s => s.manifestList.toSeq.flatMap(ManifestListReader.read(_, conf))
        .map(i => (s.snapshotId, i.path, i.length, i.content, i.specId,
          i.addedSnapshotId, i.sequenceNumber)))
      .toDF("reference_snapshot_id", "path", "length", "content", "partition_spec_id",
        "added_snapshot_id", "sequence_number")
  }

  /** Iceberg's `all_files`: every live file entry in ANY snapshot, with
    * the referencing snapshot id — a file live in N snapshots appears N
    * times (Iceberg's contract; DISTINCT path for the unique set).
    * Manifests open CONCURRENTLY across the whole history. */
  def allFiles(spark: SparkSession, meta: TableMetadata): DataFrame = {
    import spark.implicits._
    // one conf for the pass, resolved on this thread (ManifestWriter.read)
    val conf = spark.sessionState.newHadoopConf()
    val perSnap = meta.snapshots.flatMap(s => s.manifestList.toSeq
      .flatMap(ManifestListReader.read(_, conf)).map(i => (s.snapshotId, i)))
    Par.inParallel(perSnap) { case (sid, i) =>
      ManifestWriter.read(i.path, conf).filter(_.status != 2).map(e =>
        (sid, e.content, e.filePath, e.recordCount, e.fileSizeInBytes,
          e.sequenceNumber.getOrElse(i.sequenceNumber)))
    }.flatten
      .toDF("reference_snapshot_id", "content", "file_path", "record_count",
        "file_size_in_bytes", "sequence_number")
  }

  /** Iceberg's `partitions` inspection table: one row per live partition
    * tuple with file/record counts — what a platform team reads to spot
    * skewed or stale partitions. Tuples come from the manifest-list
    * field-507 summaries (a summary whose lower == upper for every spec
    * field pins its manifest to ONE tuple — the layout every graft
    * partitioned write produces, one manifest per tuple file); manifests
    * whose summary is absent or spans tuples aggregate under a null
    * partition (conservative, like pre-partition-evolution files).
    * Record counts are entry-level — the manifests open CONCURRENTLY
    * (KB-scale each, Par) and the result stays driver-side LocalScan
    * scale like every other metadata table. */
  /** A manifest's single partition tuple, decoded from its field-507
    * summary — defined only when every summary field pins one value
    * (lower == upper, no nulls), which the engine's own partitioned
    * writers guarantee (one manifest per tuple). */
  private[iceberg] def partitionTuple(meta: TableMetadata,
      i: ManifestListReader.ManifestFileInfo): Option[String] = for {
    spec <- meta.partitionSpecs.find(_.specId == i.specId)
    if spec.fields.nonEmpty
    sums <- i.summaries
    if sums.size == spec.fields.size
    parts <- Some(spec.fields.zip(sums)).filter(_.forall { case (pf, s) =>
      !s.containsNull && s.lower.exists(_.nonEmpty) &&
        s.lower.map(_.toSeq) == s.upper.map(_.toSeq)
    })
    decoded <- scala.util.Try(parts.map { case (pf, s) =>
      val srcType = IcebergTypes.fromString(meta.fieldTypes(pf.sourceId))
      val t = ScanPlanning.transformResultType(pf.transform, srcType)
        .getOrElse(throw new IllegalArgumentException(pf.transform))
      s"${pf.name}=${SingleValueCodec.decode(t, s.lower.get)}"
    }).toOption
  } yield decoded.mkString("{", ", ", "}")

  def partitions(spark: SparkSession, meta: TableMetadata): DataFrame = {
    import spark.implicits._
    // a REGISTERED partition-statistics file for the CURRENT snapshot
    // serves the table with ZERO manifest opens — the point of
    // compute_partition_stats at 10⁵ manifests; a stale or absent
    // registration falls back to the live manifest sweep
    meta.currentSnapshotId
      .flatMap(id => meta.partitionStatistics.find(_.snapshotId == id)) match {
      case Some(f) =>
        // cast to the sweep route's exact schema (file_count is long
        // there; the file stores the spec's int)
        return ParquetFiles.read(spark, Seq(f.path))
          .select(org.apache.spark.sql.functions.col("partition"),
            org.apache.spark.sql.functions.col("spec_id"),
            org.apache.spark.sql.functions.col("data_file_count")
              .cast("long").as("file_count"),
            org.apache.spark.sql.functions.col("data_record_count")
              .cast("long").as("record_count"))
      case None => ()
    }
    val conf = spark.sessionState.newHadoopConf()
    val infos = meta.currentSnapshot.flatMap(_.manifestList).toSeq
      .flatMap(ManifestListReader.read(_, conf)).filter(_.content == 0)
    val rows = Par.inParallel(infos)(i => (i, ManifestWriter.read(i.path, conf)))
      .map { case (i, es) =>
        val live = es.filter(e => e.status != 2 && e.content == 0)
        (partitionTuple(meta, i), i.specId, live.size.toLong, live.map(_.recordCount).sum)
      }
      .groupBy(r => (r._1, r._2)).toSeq
      .map { case ((tuple, specId), rs) =>
        (tuple, specId, rs.map(_._3).sum, rs.map(_._4).sum) }
    rows.toDF("partition", "spec_id", "file_count", "record_count")
  }

  /** One decoded bound pair of the `readable_metrics` column. */
  final case class ReadableMetric(lower_bound: String, upper_bound: String)

  private def entryRows(spark: SparkSession, meta: TableMetadata, snaps: Seq[Snapshot])
      : Seq[(Long, Int, Long, Long, Int, String, String, Long, Long,
        Map[String, ReadableMetric], Option[String], Option[Long], Option[Long])] = {
    val types = meta.fieldTypes
    val names = meta.currentSchema.fields.map(f => f.id -> f.name).toMap
    def metric(e: ManifestWriter.EntryData): Map[String, ReadableMetric] =
      names.keySet.intersect(e.lowerBounds.keySet ++ e.upperBounds.keySet).toSeq
        .sortBy(identity).flatMap { id =>
          def dec(b: Option[Array[Byte]]): Option[String] = for {
            bytes <- b.filter(_.nonEmpty)
            t <- IcebergTypes.fromStringOpt(types(id))
            v <- scala.util.Try(SingleValueCodec.decode(t, bytes)).toOption
          } yield v.toString
          val lo = dec(e.lowerBounds.get(id))
          val hi = dec(e.upperBounds.get(id))
          if (lo.isEmpty && hi.isEmpty) None
          else Some(names(id) -> ReadableMetric(lo.orNull, hi.orNull))
        }.toMap
    val conf = spark.sessionState.newHadoopConf()
    val perSnap = snaps.flatMap(s => s.manifestList.toSeq
      .flatMap(ManifestListReader.read(_, conf)).map(i => (s.snapshotId, i)))
    Par.inParallel(perSnap) { case (sid, i) =>
      ManifestWriter.read(i.path, conf).map(e =>
        (sid, e.status, e.snapshotId, e.sequenceNumber.getOrElse(i.sequenceNumber),
          e.content, e.filePath, e.fileFormat, e.recordCount, e.fileSizeInBytes,
          metric(e), e.referencedDataFile, e.contentOffset, e.contentSizeInBytes))
    }.flatten
  }

  /** Iceberg's `entries` inspection table: one row per manifest entry of
    * the CURRENT snapshot — INCLUDING the DELETED tombstones scans drop —
    * with status, the entry's own snapshot id, its resolved (inherited)
    * sequence number, and the decoded `readable_metrics` bounds. This is
    * the reference's own record shape (one JSON object per manifest_entry,
    * `ManifestFileReadTool.java:144-157`) served relationally — the first
    * table an operator opens when debugging a commit. KB-scale concurrent
    * manifest reads, like every other metadata table. */
  def entries(spark: SparkSession, meta: TableMetadata): DataFrame = {
    import spark.implicits._
    entryRows(spark, meta, meta.currentSnapshot.toSeq)
      .map { case (_, st, sid, seq, c, p, ff, rc, fs, m, rdf, co, cs) =>
        (st, sid, seq, c, p, ff, rc, fs, m, rdf, co, cs) }
      .toDF("status", "snapshot_id", "sequence_number", "content", "file_path",
        "file_format", "record_count", "file_size_in_bytes", "readable_metrics",
        "referenced_data_file", "content_offset", "content_size_in_bytes")
  }

  /** `all_entries`: the [[entries]] shape across EVERY snapshot, with the
    * referencing snapshot id first (an entry live in N snapshots appears
    * N times — Iceberg's contract). */
  def allEntries(spark: SparkSession, meta: TableMetadata): DataFrame = {
    import spark.implicits._
    entryRows(spark, meta, meta.snapshots)
      .toDF("reference_snapshot_id", "status", "snapshot_id", "sequence_number",
        "content", "file_path", "file_format", "record_count",
        "file_size_in_bytes", "readable_metrics",
        "referenced_data_file", "content_offset", "content_size_in_bytes")
  }

  def schemaFields(spark: SparkSession, meta: TableMetadata): DataFrame = {
    import spark.implicits._
    (meta.topLevelSchema.toSeq ++ meta.schemas)
      .distinctBy(_.schemaId)
      .flatMap(s => s.fields.map(f => (s.schemaId, f.id, f.name, f.required, f.fieldType)))
      .toDF("schema_id", "field_id", "name", "required", "type")
  }

  def partitionSpecs(spark: SparkSession, meta: TableMetadata): DataFrame = {
    import spark.implicits._
    meta.partitionSpecs
      .flatMap(s => s.fields.map(f => (s.specId, f.fieldId, f.name, f.transform, f.sourceId)))
      .toDF("spec_id", "field_id", "name", "transform", "source_id")
  }

  /** The `files` metadata table: one row per data file across the given
    * manifests, with decoded bound statistics. */
  def files(spark: SparkSession, meta: TableMetadata, manifestPaths: Seq[String]): DataFrame = {
    val entries = ManifestReader.entries(spark, manifestPaths)
    BoundDecode.withDecodedBounds(entries, meta.fieldTypes)
      .select(
        col("status"),
        col("snapshot_id"),
        col("data_file.file_path").as("file_path"),
        col("data_file.file_format").as("file_format"),
        col("data_file.partition").as("partition"),
        col("data_file.record_count").as("record_count"),
        col("data_file.file_size_in_bytes").as("file_size_in_bytes"),
        col("data_file.column_sizes").as("column_sizes"),
        col("data_file.value_counts").as("value_counts"),
        col("data_file.null_value_counts").as("null_value_counts"),
        col("data_file.nan_value_counts").as("nan_value_counts"),
        col("data_file.lower_bounds").as("lower_bounds"),
        col("data_file.upper_bounds").as("upper_bounds"),
        col("data_file.split_offsets").as("split_offsets"),
        col("data_file.sort_order_id").as("sort_order_id"))
  }

  /** The `manifests` metadata table: one row per manifest file, read from
    * a snapshot's manifest-list Avro (itself just another Avro container —
    * the generic reader handles it). */
  def manifests(spark: SparkSession, manifestListPath: String): DataFrame =
    ManifestReader.entries(spark, Seq(manifestListPath))

  /** All data files reachable from a snapshot: manifest-list → manifest
    * paths (driver-side collect of a KB-scale list) → distributed manifest
    * scan. This is Iceberg's two-level planning chain; at 100 TB the fan-out
    * is thousands of manifests → one task each. */
  def filesForSnapshot(spark: SparkSession, meta: TableMetadata, snapshot: Snapshot): DataFrame = {
    val listPath = snapshot.manifestList.getOrElse(
      throw new IllegalArgumentException(s"snapshot ${snapshot.snapshotId} has no manifest-list"))
    val manifestPaths = manifests(spark, listPath)
      .select(col("manifest_path")).collect().map(_.getString(0)).toSeq
    files(spark, meta, manifestPaths)
  }

  /** Per-partition rollup of the files table. */
  def partitions(spark: SparkSession, meta: TableMetadata, manifestPaths: Seq[String]): DataFrame =
    files(spark, meta, manifestPaths)
      .groupBy(col("partition"))
      .agg(
        count(lit(1)).as("file_count"),
        sum(col("record_count")).as("record_count"),
        sum(col("file_size_in_bytes")).as("total_size_in_bytes"))
}
