package graft.cli

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}
import java.time.{Instant, LocalDate, LocalDateTime}
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.functions.BoundDecode
import graft.iceberg._
import graft.iceberg.IcebergTypes._
import graft.operators.IcebergQueries

/** `manifest2json` decodes in the Spark driver; its output must stay
  * byte-identical to the Spark route it replaced —
  * `ManifestReader.entries` → `BoundDecode.withDecodedBounds` → `toJSON`
  * collect, framed the same way — on v1, v2 and v3 manifests, data and
  * delete manifests, every primitive bound type, a dropped column, and
  * every option. */
class ManifestToJsonParitySpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  /** The tool's output as the Spark route renders it. */
  private def sparkRoute(manifest: String, metadata: String,
      readerSchema: Option[String] = None, head: Long = Long.MaxValue,
      pretty: Boolean = false): String = {
    val meta = TableMetadata.parseFile(metadata)
    val entries = ManifestReader.entries(spark, Seq(manifest), readerSchema)
    val limited = if (head == Long.MaxValue) entries else entries.limit(head.toInt)
    val jsons = BoundDecode.withDecodedBounds(limited, meta.fieldTypes).toJSON.collect()
    val sb = new StringBuilder("[\n")
    jsons.zipWithIndex.foreach { case (j, i) =>
      sb ++= (if (pretty) mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsString(mapper.readTree(j)) else j)
      sb ++= (if (i < jsons.length - 1) ",\n" else "\n")
    }
    (sb ++= "]\n").toString
  }

  private def tool(args: Seq[String], stdin: Array[Byte] = Array.empty): (Int, String, String) = {
    val out = new ByteArrayOutputStream()
    val err = new ByteArrayOutputStream()
    val rc = new ManifestToJsonTool().run(spark, new ByteArrayInputStream(stdin),
      new PrintStream(out, true, "UTF-8"), new PrintStream(err, true, "UTF-8"), args)
    (rc, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  private def assertParity(manifest: String, metadata: String): Unit = {
    val (rc, out, err) = tool(Seq(manifest, metadata))
    assert(rc == 0, err)
    assert(out == sparkRoute(manifest, metadata), s"parity broke on $manifest")
  }

  private def tmpDir(p: String): String = Files.createTempDirectory(p).toString

  private def listed(metadataPath: String): Seq[ManifestListReader.ManifestFileInfo] =
    TableMetadata.parseFile(metadataPath).currentSnapshot.toSeq
      .flatMap(s => ManifestListReader.read(s.manifestList.get))

  /** Every primitive type with a single-value serialization, v3-only
    * nanosecond timestamps included. */
  private val primitives: Seq[(IcebergType, Int => Any)] = Seq(
    TBoolean -> (i => i % 2 == 0),
    TInt -> (i => -i * 1000),
    TLong -> (i => Long.MaxValue - i),
    TFloat -> (i => if (i == 3) Float.NaN else i * 1.25f),
    TDouble -> (i => -i / 3.0),
    TDate -> (i => LocalDate.of(2024, 2, 28).plusDays(i)),
    TTime -> (i => i * 3600L * 1000000L),
    TTimestamp -> (i => LocalDateTime.of(2024, 1, 1, 0, 0).plusSeconds(i * 7919L)),
    TTimestamptz -> (i => Instant.ofEpochSecond(1700000000L + i, i * 1000L)),
    TTimestampNs -> (i => 1700000000123456789L + i),
    TTimestamptzNs -> (i => 1700000000987654321L - i),
    TString -> (i => s"naïve \"quoted\" ☃ $i"),
    TUuid -> (i => new java.util.UUID(i.toLong, -i.toLong)),
    TFixed(4) -> (i => Array[Byte](i.toByte, 0, -1, 127)),
    TBinary -> (i => Array.fill[Byte](i % 5)(0x5a)),
    TDecimal(12, 2) -> (i => new java.math.BigDecimal(s"-${i}123.45")),
    TDecimal(38, 10) -> (i => new java.math.BigDecimal(s"${i}1234567890123.0123456789")))

  /** A v3 table declaring every primitive, and one hand-written manifest
    * of 12 entries bounding all of them plus field 99, which the schema
    * does not hold (a dropped column, rendered type:unknown). */
  private lazy val typed: (String, String) = {
    val dir = tmpDir("graft-m2j-types")
    val metaPath = GraftTable.create(dir, IcebergSchema(0, primitives.zipWithIndex.map {
        case ((t, _), i) => IcebergField(i + 1, s"c$i", required = false, t.name) }),
      tableUuid = "00000000-0000-0000-0000-00000000f00d", timestampMs = 1700000000000L,
      formatVersion = 3)
    def bounds(e: Int): Map[Int, Array[Byte]] =
      primitives.zipWithIndex.map { case ((t, v), i) =>
        (i + 1) -> SingleValueCodec.encode(t, v(e)) }.toMap +
        (99 -> Array[Byte](0x7f, e.toByte))
    val manifest = s"$dir/typed-m0.avro"
    ManifestWriter.write(manifest, (0 until 12).map(e => ManifestWriter.EntryData(
      status = e % 3, snapshotId = 42L + e, filePath = s"$dir/data/f-$e.parquet",
      recordCount = 10L * e, fileSizeInBytes = 1000L + e,
      lowerBounds = if (e == 5) Map.empty else bounds(e),
      upperBounds = if (e == 5) Map.empty else bounds(e + 1),
      content = if (e == 11) 2 else 0,
      sequenceNumber = if (e % 2 == 0) Some(e.toLong) else None,
      nullValueCounts = Map(1 -> e.toLong, 2 -> 0L))))
    (manifest, metaPath)
  }

  /** An engine table with data, equality-delete and position-delete
    * (v2) or deletion-vector (v3) manifests. */
  private def engineTable(formatVersion: Int): (Seq[String], String) = {
    val dir = tmpDir(s"graft-m2j-v$formatVersion")
    GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "k", required = false, "long"),
        IcebergField(2, "name", required = false, "string"),
        IcebergField(3, "d", required = false, "date"),
        IcebergField(4, "m", required = false, "decimal(12,2)"))),
      tableUuid = s"00000000-0000-0000-0000-00000000000$formatVersion",
      timestampMs = 1700000000000L, formatVersion = formatVersion)
    def rows(from: Long, to: Long) = spark.range(from, to).select(
      col("id").as("k"), concat(lit("n-"), col("id")).as("name"),
      date_add(lit(LocalDate.of(2024, 1, 1)), col("id").cast("int")).as("d"),
      (col("id") / 4).cast("decimal(12,2)").as("m"))
    GraftTable.append(spark, dir, rows(0, 20))
    GraftTable.append(spark, dir, rows(20, 30))
    GraftTable.deleteWhere(spark, dir, col("k") === 3)
    if (formatVersion == 2) GraftTable.upsert(spark, dir, rows(25, 27), Seq("k"))
    val metaPath = GraftTable.latestMetadataPath(dir)
    val infos = listed(metaPath)
    assert(infos.exists(_.content == 0) && infos.exists(_.content == 1))
    (infos.map(_.path).distinct.sorted, metaPath)
  }

  private lazy val v2 = engineTable(2)
  private lazy val v3 = engineTable(3)

  /** A v1 manifest in the shape reference Iceberg writers produce
    * (FIXTURES.md §2): partition struct, count maps, key_metadata,
    * split_offsets, sort_order_id, no content or sequence fields. */
  private lazy val v1: (String, String) = {
    val dir = tmpDir("graft-m2j-v1")
    val metaPath = GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "id", required = false, "long"),
        IcebergField(2, "data", required = false, "string"))),
      tableUuid = "00000000-0000-0000-0000-0000000000a1", timestampMs = 1700000000000L)
    def kv(k: Int, v: Int, vt: String) =
      s"""["null", {"type": "array", "logicalType": "map", "items": {"type": "record",
         |"name": "k${k}_v$v", "fields": [{"name": "key", "type": "int", "field-id": $k},
         |{"name": "value", "type": "$vt", "field-id": $v}]}}]""".stripMargin
    val schema = new Schema.Parser().parse(
      s"""{"type": "record", "name": "manifest_entry", "fields": [
         |{"name": "status", "type": "int", "field-id": 0},
         |{"name": "snapshot_id", "type": ["null", "long"], "default": null, "field-id": 1},
         |{"name": "data_file", "field-id": 2, "type": {"type": "record", "name": "r2", "fields": [
         |  {"name": "file_path", "type": "string", "field-id": 100},
         |  {"name": "file_format", "type": "string", "field-id": 101},
         |  {"name": "partition", "field-id": 102, "type": {"type": "record", "name": "r102",
         |    "fields": [{"name": "data", "type": ["null", "string"], "default": null,
         |    "field-id": 1000}]}},
         |  {"name": "record_count", "type": "long", "field-id": 103},
         |  {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
         |  {"name": "block_size_in_bytes", "type": "long", "field-id": 105},
         |  {"name": "column_sizes", "type": ${kv(117, 118, "long")}, "default": null, "field-id": 108},
         |  {"name": "value_counts", "type": ${kv(119, 120, "long")}, "default": null, "field-id": 109},
         |  {"name": "null_value_counts", "type": ${kv(121, 122, "long")}, "default": null, "field-id": 110},
         |  {"name": "nan_value_counts", "type": ${kv(138, 139, "long")}, "default": null, "field-id": 137},
         |  {"name": "lower_bounds", "type": ${kv(126, 127, "bytes")}, "default": null, "field-id": 125},
         |  {"name": "upper_bounds", "type": ${kv(129, 130, "bytes")}, "default": null, "field-id": 128},
         |  {"name": "key_metadata", "type": ["null", "bytes"], "default": null, "field-id": 131},
         |  {"name": "split_offsets", "type": ["null", {"type": "array", "items": "long",
         |    "element-id": 133}], "default": null, "field-id": 132},
         |  {"name": "sort_order_id", "type": ["null", "int"], "default": null, "field-id": 140}
         |]}}]}""".stripMargin)
    val dfSchema = schema.getField("data_file").schema()
    def mapOf(field: String, m: Seq[(Int, Any)]): GenericData.Array[GenericRecord] = {
      val arr = dfSchema.getField(field).schema().getTypes.get(1)
      val out = new GenericData.Array[GenericRecord](arr,
        java.util.Collections.emptyList[GenericRecord]())
      m.foreach { case (k, v) =>
        val r = new GenericData.Record(arr.getElementType)
        r.put("key", k)
        r.put("value", v match {
          case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
          case o => o
        })
        out.add(r)
      }
      out
    }
    val manifest = s"$dir/v1-m0.avro"
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
    w.setMeta("format-version", "1")
    w.create(schema, new java.io.File(manifest))
    Seq(1L -> "a", 2L -> "b", 3L -> null).foreach { case (id, data) =>
      val part = new GenericData.Record(dfSchema.getField("partition").schema())
      part.put("data", data)
      val df = new GenericData.Record(dfSchema)
      df.put("file_path", s"$dir/data/data=$data/0000$id.parquet")
      df.put("file_format", "PARQUET")
      df.put("partition", part)
      df.put("record_count", id)
      df.put("file_size_in_bytes", 650L + id)
      df.put("block_size_in_bytes", 67108864L)
      df.put("column_sizes", mapOf("column_sizes", Seq(1 -> 52L, 2 -> 51L)))
      df.put("value_counts", mapOf("value_counts", Seq(1 -> 1L, 2 -> 1L)))
      df.put("null_value_counts", mapOf("null_value_counts",
        Seq(1 -> 0L, 2 -> (if (data == null) 1L else 0L))))
      df.put("nan_value_counts", mapOf("nan_value_counts", Nil))
      val lo = Seq(1 -> SingleValueCodec.encode(TLong, id)) ++
        Option(data).map(d => 2 -> d.getBytes("UTF-8"))
      df.put("lower_bounds", mapOf("lower_bounds", lo))
      df.put("upper_bounds", if (id == 2L) null else mapOf("upper_bounds", lo))
      df.put("split_offsets", java.util.Arrays.asList(4L: java.lang.Long))
      df.put("sort_order_id", 0)
      val e = new GenericData.Record(schema)
      e.put("status", 1)
      e.put("snapshot_id", 8115727803695877401L)
      e.put("data_file", df)
      w.append(e)
    }
    w.close()
    (manifest, metaPath)
  }

  test("v1 foreign-shape manifest: byte-identical to the Spark route") {
    assertParity(v1._1, v1._2)
    assert(tool(Seq(v1._1, v1._2))._2.contains("\"split_offsets\":[4]"))
  }

  test("v2 data, equality-delete and position-delete manifests: byte-identical") {
    val (manifests, metaPath) = v2
    val contents = listed(metaPath).map(i => i.path -> i.content).toMap
    assert(contents.values.toSet == Set(0, 1))
    val entryContents = manifests.flatMap(ManifestWriter.read(_).map(_.content)).toSet
    assert(entryContents == Set(0, 1, 2), entryContents)
    manifests.foreach(assertParity(_, metaPath))
  }

  test("v3 data and deletion-vector manifests: byte-identical") {
    val (manifests, metaPath) = v3
    assert(manifests.flatMap(ManifestWriter.read(_)).exists(_.fileFormat == "PUFFIN"))
    manifests.foreach(assertParity(_, metaPath))
  }

  test("every primitive bound type and a dropped column id: byte-identical") {
    val (manifest, metaPath) = typed
    assertParity(manifest, metaPath)
    val out = tool(Seq(manifest, metaPath))._2
    assert(out.contains("\"99\":\"value:7f00;type:unknown\""))
    primitives.foreach { case (t, _) => assert(out.contains(s";type:${t.name}\""), t.name) }
  }

  test("the reference fixture manifest: byte-identical") {
    assume(Files.exists(Paths.get(IcebergQueries.FixtureManifest)),
      s"${IcebergQueries.FixtureManifest} is not present")
    assertParity(IcebergQueries.FixtureManifest, IcebergQueries.FixtureMetadata)
  }

  test("--head, --head=0, --head N, --pretty: byte-identical") {
    val (m, meta) = typed
    def check(args: Seq[String], head: Long, pretty: Boolean = false): Unit = {
      val (rc, out, err) = tool(args :+ m :+ meta)
      assert(rc == 0, err)
      assert(out == sparkRoute(m, meta, head = head, pretty = pretty), args.mkString(" "))
    }
    check(Seq("--head"), 10L)
    check(Seq("--head=0"), 0L)
    check(Seq("--head", "3"), 3L)
    check(Seq("--head=100"), 100L)
    check(Seq("--pretty"), Long.MaxValue, pretty = true)
    check(Seq("--pretty", "--head=1"), 1L, pretty = true)
    assert(tool(Seq("--head=0", m, meta))._2 == "[\n]\n")
  }

  test("--reader-schema and --reader-schema-file projections: byte-identical") {
    val (manifests, metaPath) = v2
    val m = manifests.head
    val writer = ManifestReader.avroSchema(m)
    val projected = AvroConversions.pruneAvroSchema(writer, StructType.fromDDL(
      "status INT, data_file STRUCT<file_path: STRING, " +
        "lower_bounds: MAP<INT, BINARY>, upper_bounds: MAP<INT, BINARY>>")).toString
    val (rc, out, err) = tool(Seq("--reader-schema", projected, m, metaPath))
    assert(rc == 0, err)
    assert(out == sparkRoute(m, metaPath, readerSchema = Some(projected)))
    assert(!out.contains("record_count") && out.contains("lower_bounds"))
    val file = Files.createTempFile("graft-m2j-rs", ".avsc")
    Files.writeString(file, projected)
    val (rc2, out2, _) = tool(Seq("--head=1", "--reader-schema-file", file.toString, m, metaPath))
    assert(rc2 == 0 && out2 == sparkRoute(m, metaPath, readerSchema = Some(projected), head = 1L))
    // a projection without the bounds has nothing to decode: both routes refuse
    val statusOnly = AvroConversions.pruneAvroSchema(writer, StructType.fromDDL("status INT")).toString
    assert(scala.util.Try(sparkRoute(m, metaPath, readerSchema = Some(statusOnly))).isFailure)
    val (rc3, _, err3) = tool(Seq("--reader-schema", statusOnly, m, metaPath))
    assert(rc3 == 1 && err3.startsWith("manifest2json: "), err3)
  }

  test("stdin '-' renders what the file path renders") {
    val (m, meta) = typed
    val (rc, out, err) = tool(Seq("-", meta), Files.readAllBytes(Paths.get(m)))
    assert(rc == 0, err)
    assert(out == sparkRoute(m, meta))
  }

  test("the tool launches no Spark job") {
    // force every fixture before listening: building them runs jobs
    val fixtures = Seq(typed, v1, (v2._1.head, v2._2), (v3._1.last, v3._2))
    val jobs = new AtomicInteger
    val sentinel = "manifest2json-parity-sentinel"
    @volatile var sentinelSeen = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(p =>
            sentinel == p.getProperty("spark.job.description"))) sentinelSeen = true
        else jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      fixtures.foreach { case (m, meta) =>
        assert(tool(Seq(m, meta))._1 == 0)
        assert(tool(Seq("--pretty", "--head=2", m, meta))._1 == 0)
      }
      assert(tool(Seq("-", typed._2), Files.readAllBytes(Paths.get(typed._1)))._1 == 0)
      // listener events arrive in order: once the sentinel job's start is
      // seen, every job the tool could have started has been counted
      spark.sparkContext.setJobDescription(sentinel)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen)
      assert(jobs.get() == 0, s"manifest2json launched ${jobs.get()} job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
