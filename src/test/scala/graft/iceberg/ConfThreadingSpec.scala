package graft.iceberg

import java.net.URI

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** A local filesystem registered under a custom scheme — resolvable ONLY
  * through a Hadoop conf that carries `fs.graftest.impl`. Any open that
  * builds a fresh default `Configuration` instead of threading the
  * session's conf fails with "No FileSystem for scheme: graftest", which
  * is exactly the s3a://-credentials failure mode shrunk to a unit test. */
class GraftTestFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("graftest:///")
  override def getScheme: String = "graftest"
}

/** A local filesystem under the `graftcount` scheme that counts every
  * open per path — registered only through the SESSION conf
  * (`spark.conf.set`), so it pins both how often a planning pass opens
  * metadata and that the session conf reaches the pool threads that
  * open it. */
class CountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("graftcount:///")
  override def getScheme: String = "graftcount"
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CountingFileSystem.opens.merge(f.toUri.getPath, 1, (a, b) => a + b)
    super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  val opens = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}

class ConfThreadingSpec extends SparkSpec {

  private def withTestFs[A](body: => A): A = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftest.impl", classOf[GraftTestFileSystem].getName)
    // defeat the FileSystem instance cache: every get() must construct the
    // FS from ITS OWN conf, so an un-threaded default conf cannot ride on
    // an instance some earlier threaded call already cached
    hc.set("fs.graftest.impl.disable.cache", "true")
    try body
    finally { hc.unset("fs.graftest.impl"); hc.unset("fs.graftest.impl.disable.cache") }
  }

  test("SerializableHadoopConf round-trips custom keys through Java serialization") {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("graft.test.marker", "42")
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(new SerializableHadoopConf(conf)); oos.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[SerializableHadoopConf]
    assert(back.value.get("graft.test.marker") == "42")
  }

  test("DSv2 manifest scan opens files through the session Hadoop conf") {
    withTestFs {
      val dir = java.nio.file.Files.createTempDirectory("graft-conf").toString
      val p = s"$dir/m0.avro"
      ManifestWriter.write(p, Seq(ManifestWriter.EntryData(
        status = 1, snapshotId = 7L, filePath = "data-0.parquet",
        recordCount = 3L, fileSizeInBytes = 99L,
        lowerBounds = Map.empty, upperBounds = Map.empty)))
      // scheme only resolvable via the session conf: infer, plan, and the
      // serialized executor-side open must all thread it
      val rows = spark.read.format("graft-manifest")
        .load(s"graftest://$p")
        .select(col("data_file.file_path"), col("data_file.record_count"))
        .collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("data-0.parquet", 3L)))
    }
  }

  test("ManifestReader.entries task closures carry the session Hadoop conf") {
    withTestFs {
      val dir = java.nio.file.Files.createTempDirectory("graft-conf2").toString
      val p = s"$dir/m0.avro"
      ManifestWriter.write(p, Seq(ManifestWriter.EntryData(
        status = 1, snapshotId = 7L, filePath = "data-1.parquet",
        recordCount = 5L, fileSizeInBytes = 99L,
        lowerBounds = Map.empty, upperBounds = Map.empty)))
      val n = ManifestReader.entries(spark, Seq(s"graftest://$p")).count()
      assert(n == 1L)
    }
  }

  test("a graft-table point lookup opens the manifest list once and each " +
      "surviving manifest once, through the session conf") {
    val dir = java.nio.file.Files.createTempDirectory("graft-count").toString
    GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "k", required = false, "long"),
        IcebergField(2, "part", required = false, "int"),
        IcebergField(3, "v", required = false, "long"))),
      tableUuid = "00000000-0000-0000-0000-0000000c0de5", timestampMs = 1700000000000L,
      spec = PartitionSpec(0, Seq(PartitionField("part", "identity", 2, 1000))))
    GraftTable.append(spark, dir, spark.range(40).select(col("id").as("k"),
      (col("id") % 4).cast("int").as("part"), (col("id") * 10).as("v")))
    // the same snapshot, its list and manifests addressed as graftcount://
    val metaPath = GraftTable.latestMetadataPath(dir)
    val list = TableMetadata.parseFile(metaPath).currentSnapshot.get.manifestList.get
    val countedList = s"$dir/counted-list.avro"
    val manifests = {
      import org.apache.avro.file.{DataFileStream, DataFileWriter}
      import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
      val in = new java.io.FileInputStream(list)
      val rs = new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]())
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](rs.getSchema))
      w.create(rs.getSchema, new java.io.File(countedList))
      val paths = Seq.newBuilder[String]
      try rs.forEach { r =>
        val p = r.get("manifest_path").toString
        paths += p
        r.put("manifest_path", s"graftcount://$p")
        w.append(r)
      } finally { w.close(); rs.close() }
      paths.result()
    }
    assert(manifests.size == 4, "one manifest per partition tuple")
    val countedMeta = s"$dir/counted-meta.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(countedMeta),
      java.nio.file.Files.readString(java.nio.file.Paths.get(metaPath))
        .replace(s"\"$list\"", s"\"graftcount://$countedList\""))
    spark.conf.set("fs.graftcount.impl", classOf[CountingFileSystem].getName)
    spark.conf.set("fs.graftcount.impl.disable.cache", "true")
    try {
      CountingFileSystem.opens.clear()
      val rows = spark.read.format("graft-table").option("metadata", countedMeta).load()
        .filter(col("part") === 2 && col("k") === 22L).collect()
      assert(rows.map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"))).toSeq == Seq((22L, 220L)))
      import scala.jdk.CollectionConverters._
      val opened = CountingFileSystem.opens.asScala.toMap.map { case (p, n) => p -> n.intValue }
      assert(opened.get(countedList).contains(1), s"manifest-list opens: $opened")
      val surviving = manifests.filter(opened.contains)
      assert(surviving.size == 1, s"partition pruning keeps one manifest: $opened")
      assert(surviving.forall(opened(_) == 1), s"manifest opens: $opened")
    } finally {
      spark.conf.unset("fs.graftcount.impl")
      spark.conf.unset("fs.graftcount.impl.disable.cache")
    }
  }

  test("equality-delete footer schemas convert under the session's SQL " +
      "conf when the read runs on a thread with no active session") {
    val dir = java.nio.file.Files.createTempDirectory("graft-footer-conf").toString
    GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "k", required = false, "long"),
        IcebergField(2, "v", required = false, "long"))),
      tableUuid = "00000000-0000-0000-0000-0000000f00e2", timestampMs = 1700000000000L)
    GraftTable.append(spark, dir, spark.range(10).select(col("id").as("k"), col("id").as("v")))
    GraftTable.upsert(spark, dir,
      spark.range(3, 5).select(col("id").as("k"), (col("id") + 100).as("v")), Seq("k"))
    // the equality-delete file as an external writer lays it out: no
    // Spark row metadata in the footer, and the key as an INT64 annotated
    // TIMESTAMP(NANOS) — which reads as a long only under the session's
    // spark.sql.legacy.parquet.nanosAsLong (Sessions sets it; the default
    // conf refuses the type)
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val metaPath = GraftTable.latestMetadataPath(dir)
    val eqFile = TableMetadata.parseFile(metaPath).currentSnapshot.toSeq
      .flatMap(s => ManifestListReader.read(s.manifestList.get))
      .flatMap(i => ManifestWriter.read(i.path)).find(_.content == 2).get.filePath
    java.nio.file.Files.delete(java.nio.file.Paths.get(eqFile))
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message eq { optional int64 k (TIMESTAMP(NANOS,false)) = 1; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(eqFile)).withType(schema).build()
    try Seq(3L, 4L).foreach { k =>
      w.write(new org.apache.parquet.example.data.simple.SimpleGroup(schema).append("k", k))
    } finally w.close()
    var rows: Seq[(Long, Long)] = Nil
    var failure: Option[Throwable] = None
    val t = new Thread(() => try {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      rows = GraftTable.read(spark, metaPath).collect().toSeq
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("v")))
    } catch { case e: Throwable => failure = Some(e) })
    t.start(); t.join()
    failure.foreach(throw _)
    assert(rows.sorted == (0L until 10L).map(k => (k, if (k == 3 || k == 4) k + 100 else k)))
  }
}
