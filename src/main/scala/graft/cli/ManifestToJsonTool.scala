package graft.cli

import java.io.{BufferedInputStream, CharArrayWriter, InputStream, PrintStream}
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.Schema
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types.{BinaryType, IntegerType, MapType, StringType, StructType}

import graft.functions.BoundDecode
import graft.iceberg.{AvroConversions, HadoopConfs, IcebergType, TableMetadata}

/** `manifest2json`: decode an Iceberg manifest Avro file to JSON with typed
  * bound statistics — the reference's one registered tool
  * (/root/reference/src/main/java/dev/liliwei/iceberg/tool/ManifestFileReadTool.java:89-161).
  *
  * Option semantics preserved: `--pretty`, `--head[=X]` (bare `--head`
  * defaults to 10, ManifestFileReadTool.java:52; negative rejected, :67-69),
  * `--reader-schema <json>`, `--reader-schema-file <path>`.
  *
  * One manifest is KB-scale, so the decode runs in the Spark driver and
  * launches no Spark job: a `DataFileStream` over the container (its own
  * header schema as the writer schema, resolved onto `--reader-schema`
  * when given) stops after `--head` records; each entry converts through
  * the same Avro→Row mapping the distributed [[graft.iceberg.ManifestReader]]
  * uses, its bounds decode with the kernel `decode_bounds` runs
  * ([[BoundDecode.decodeMapData]]), and rows render with the JSON generator
  * `Dataset.toJSON` uses — the output is byte-identical to a
  * `ManifestReader.entries` → `BoundDecode.withDecodedBounds` → `toJSON`
  * collect (pinned by ManifestToJsonParitySpec).
  *
  * Documented deviations (SURVEY.md §7 "output parity decisions"):
  *   - always-valid JSON — the reference emits a trailing comma when
  *     `--head` stops mid-file (bug, ManifestFileReadTool.java:149-153);
  *   - nullable values are printed plainly, not as Avro `{"long": v}` union
  *     wrappers (IcebergEncoder.java:293-303).
  */
class ManifestToJsonTool extends Tool {
  val name = "manifest2json"
  val shortDescription =
    "Dumps an Iceberg manifest Avro file as JSON, one record per line, with decoded bound statistics"

  private lazy val mapper = new ObjectMapper()

  override def run(spark: SparkSession, in: InputStream, out: PrintStream,
      err: PrintStream, args: Seq[String]): Int =
    try runChecked(spark, in, out, err, args)
    catch {
      // graceful failure on bad inputs (missing/corrupt files): message +
      // rc=1, never a stack trace on the user's console
      case e: Exception =>
        err.println(s"manifest2json: ${e.getMessage}")
        1
    }

  private def runChecked(spark: SparkSession, in: InputStream, out: PrintStream,
      err: PrintStream, args: Seq[String]): Int = {
    var pretty = false
    var head = Long.MaxValue
    var readerSchema: Option[String] = None
    val positional = scala.collection.mutable.Buffer[String]()

    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--pretty" => pretty = true
        case h if h == "--head" || h.startsWith("--head=") =>
          val inlined = if (h.startsWith("--head=")) Some(h.drop("--head=".length)) else None
          // Bare --head: an optional count may follow positionally; if the
          // next token is non-numeric it falls back to a positional arg
          // (reference head-count semantics, ManifestFileReadTool.java:54-76).
          val next = inlined.orElse(
            args.lift(i + 1).filter(_.matches("-?\\d+")).map { v => i += 1; v })
          head = next.map(_.toLong).getOrElse(10L)
          if (head < 0) { err.println(s"Invalid head count: $head"); return 1 }
        case "--reader-schema" =>
          i += 1; readerSchema = args.lift(i)
        case "--reader-schema-file" =>
          i += 1
          readerSchema = args.lift(i).map(p =>
            new String(Files.readAllBytes(Paths.get(p)), java.nio.charset.StandardCharsets.UTF_8))
        case other => positional += other
      }
      i += 1
    }

    if (positional.size < 2) {
      err.println("Usage: manifest2json [--pretty] [--head[=X]] [--reader-schema[-file] S] <manifest.avro> <metadata.json>")
      return 1
    }
    val Seq(manifestArg, metadataPath) = positional.take(2).toSeq

    val meta = TableMetadata.parseFile(metadataPath)
    // "-" reads the manifest from stdin (parity with the reference's
    // Util.fileOrStdin)
    val jsons =
      if (manifestArg == "-") ManifestToJsonTool.render(spark, in, meta, readerSchema, head)
      else {
        val p = new Path(manifestArg)
        val file = HadoopConfs.fileSystemFor(p, spark.sessionState.newHadoopConf()).open(p)
        try ManifestToJsonTool.render(spark, file, meta, readerSchema, head)
        finally file.close()
      }

    out.println("[")
    jsons.zipWithIndex.foreach { case (j, idx) =>
      val rendered =
        if (pretty) mapper.writerWithDefaultPrettyPrinter().writeValueAsString(mapper.readTree(j))
        else j
      out.print(rendered)
      out.println(if (idx < jsons.length - 1) "," else "")
    }
    out.println("]")
    out.flush()
    0
  }
}

object ManifestToJsonTool {

  /** The first `head` entries of the manifest container on `in`, one
    * compact JSON object each, with `data_file.lower_bounds` /
    * `upper_bounds` rendered as `value:<v>;type:<t>` strings. Leaves
    * `in` open: the caller owns it. */
  def render(spark: SparkSession, in: InputStream, meta: TableMetadata,
      readerSchemaJson: Option[String], head: Long): Seq[String] = {
    val readerSchema = readerSchemaJson.map(new Schema.Parser().parse)
    val stream = new DataFileStream[GenericRecord](new BufferedInputStream(in),
      new GenericDatumReader[GenericRecord](null: Schema, readerSchema.orNull))
    // records resolve to the reader schema; without one it is the header's
    val schema = readerSchema.getOrElse(stream.getSchema)
    val struct = AvroConversions.toStructType(schema)
    val (outSchema, decode) = boundsDecoder(struct, BoundDecode.dictOf(meta.fieldTypes))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(struct)
    val buf = new CharArrayWriter()
    val write = GraftSqlShim.jsonWriter(spark, outSchema, buf)
    val out = Vector.newBuilder[String]
    var n = 0L
    while (n < head && stream.hasNext) {
      write(decode(toCatalyst(AvroConversions.toRow(schema, stream.next()))
        .asInstanceOf[InternalRow]))
      out += buf.toString
      buf.reset()
      n += 1
    }
    out.result()
  }

  /** The row form of `BoundDecode.withDecodedBounds`: the output schema,
    * and a rewrite replacing both bound maps inside `data_file` in place
    * by their decoded renderings (a null `data_file` stays null). */
  private def boundsDecoder(struct: StructType, dict: Map[Int, IcebergType])
      : (StructType, InternalRow => InternalRow) = {
    def missing = new IllegalArgumentException("decode_bounds needs " +
      s"data_file.lower_bounds and data_file.upper_bounds, got ${struct.catalogString}")
    def indexOf(t: StructType, name: String): Int =
      Some(t.fieldNames.indexOf(name)).filter(_ >= 0).getOrElse(throw missing)
    val dfIdx = indexOf(struct, "data_file")
    val dfType = struct.fields(dfIdx).dataType match {
      case t: StructType => t
      case _ => throw missing
    }
    val boundIdx = Seq("lower_bounds", "upper_bounds").map { b =>
      val i = indexOf(dfType, b)
      dfType.fields(i).dataType match {
        case MapType(IntegerType, BinaryType, _) => i
        case other => throw new IllegalArgumentException(
          s"decode_bounds requires map<int,binary>, got ${other.catalogString}")
      }
    }
    val decodedType = StructType(dfType.fields.zipWithIndex.map { case (f, i) =>
      if (boundIdx.contains(i)) f.copy(dataType = MapType(IntegerType, StringType, false))
      else f
    })
    val outSchema = StructType(struct.fields.updated(dfIdx,
      struct.fields(dfIdx).copy(dataType = decodedType)))
    (outSchema, row =>
      if (row.isNullAt(dfIdx)) row
      else {
        val df = row.getStruct(dfIdx, dfType.length).toSeq(dfType).toArray
        boundIdx.foreach(i => df(i) = BoundDecode.decodeMapData(dict, df(i).asInstanceOf[MapData]))
        val outer = row.toSeq(struct).toArray
        outer(dfIdx) = new GenericInternalRow(df)
        new GenericInternalRow(outer)
      })
  }
}
