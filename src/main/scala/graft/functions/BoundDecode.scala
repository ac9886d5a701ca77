package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.iceberg.{IcebergType, IcebergTypes, SingleValueCodec}

/** The reference's signature operator: decode the binary
  * `lower_bounds`/`upper_bounds` statistic blobs into typed, human-readable
  * values by joining each bound's column-id key against the table schema
  * (/root/reference/src/main/java/dev/liliwei/iceberg/tool/IcebergDatumWriter.java:84-95,149-160,194-202).
  *
  * Semantically a broadcast hash join (bound entries ⋈ schema on field-id)
  * followed by a type-dispatched decode. The id→type dictionary is tiny
  * (one entry per column), so it travels in the function closure — Spark
  * broadcasts task binaries, making this the degenerate-broadcast-join plan
  * the reference hand-rolls.
  *
  * Robustness over the reference: a column id missing from the current
  * schema (dropped column) yields `value:<hex>;type:unknown` instead of an
  * NPE (reference quirk 3, SURVEY.md §2.1), and decoding keys off the map
  * field itself, not the Avro record name "r2" (quirk 2).
  */
/** decode_bounds(map<int,binary>) → map<int,string>: the codegen'd form of
  * the reference's bound decoding (IcebergDatumWriter.java:149-160,194-202).
  * The parsed id→type dictionary is a constructor argument — it serializes
  * with the plan and is referenced directly from generated code via
  * `addReferenceObj` (no UDF closure, no per-row dictionary lookup cost
  * beyond the hash probe). */
case class DecodeBoundsExpr(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    dict: Map[Int, IcebergType])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._

  override def dataType: DataType = MapType(IntegerType, StringType, valueContainsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "decode_bounds"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case MapType(IntegerType, BinaryType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"decode_bounds requires map<int,binary>, got ${other.catalogString}")
    }

  override protected def nullSafeEval(v: Any): Any =
    BoundDecode.decodeMapData(dict, v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val dictRef = ctx.addReferenceObj("boundDict", dict, "scala.collection.immutable.Map")
    defineCodeGen(ctx, ev, c => s"graft.functions.BoundDecode.decodeMapData($dictRef, $c)")
  }

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression): DecodeBoundsExpr = copy(child = c)
}

object BoundDecode {

  /** The per-entry kernel: one bound's `value:<v>;type:<t>` rendering,
    * or `value:<hex>;type:unknown` for an id the dict does not hold. */
  def renderBound(dict: Map[Int, IcebergType], id: Int, bytes: Array[Byte]): String =
    dict.get(id) match {
      case Some(t) => SingleValueCodec.render(t, bytes)
      case None =>
        val hex = if (bytes == null) "" else bytes.map("%02x".format(_)).mkString
        s"value:$hex;type:unknown"
    }

  /** Decode every entry of a map<int, binary> against the id→type dict —
    * what the expression's interpreted and codegen paths and the
    * `manifest2json` renderer in the Spark driver all run. */
  def decodeMapData(
      dict: Map[Int, IcebergType],
      m: org.apache.spark.sql.catalyst.util.MapData): org.apache.spark.sql.catalyst.util.MapData = {
    if (m == null) return null
    val n = m.numElements()
    val keys = m.keyArray()
    val values = m.valueArray()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val id = keys.getInt(i)
      val bytes = if (values.isNullAt(i)) null else values.getBinary(i)
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(renderBound(dict, id, bytes))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      keys, new org.apache.spark.sql.catalyst.util.GenericArrayData(out))
  }

  /** Serialize/parse the id→type dictionary through a string literal —
    * the public-registry route for attaching non-column config to a
    * custom expression (Column-from-Expression constructors are
    * private[sql] in Spark 4). Types never contain ';' or '='. */
  def dictToString(idToType: Map[Int, String]): String =
    idToType.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(";")

  /** The dict a [[decodeBounds]] column decodes with: the id→type
    * strings through the same literal round trip, so an unparseable type
    * renders as `type:unknown` on every route. */
  def dictOf(idToType: Map[Int, String]): Map[Int, IcebergType] =
    dictFromString(dictToString(idToType))

  def dictFromString(s: String): Map[Int, IcebergType] =
    if (s.isEmpty) Map.empty
    else s.split(';').toSeq.flatMap { kv =>
      val Array(k, v) = kv.split("=", 2)
      IcebergTypes.fromStringOpt(v).map(k.toInt -> _)
    }.toMap

  @volatile private var registered = Set.empty[org.apache.spark.sql.SparkSession]

  def register(spark: org.apache.spark.sql.SparkSession): Unit = synchronized {
    if (registered.contains(spark)) return
    spark.sessionState.functionRegistry.createOrReplaceTempFunction("graft_decode_bounds",
      es => {
        val dictStr = es(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(s, _) => String.valueOf(s)
          case other => throw new IllegalArgumentException(s"dict must be a string literal, got $other")
        }
        DecodeBoundsExpr(es.head, dictFromString(dictStr))
      }, "built-in")
    registered += spark
  }

  /** Decoded rendering `value:<v>;type:<t>` for every entry of a
    * map<int, binary> bounds column — a native codegen'd expression; the
    * id→type dictionary rides along inside the plan (the degenerate
    * broadcast join of SURVEY.md §2.1 O9). */
  def decodeBounds(spark: org.apache.spark.sql.SparkSession, c: Column,
      idToType: Map[Int, String]): Column = {
    register(spark)
    call_function("graft_decode_bounds", c, lit(dictToString(idToType)))
  }

  /** One decoded bound as its natural string value (no render wrapper) —
    * feed for stats-based pruning casts. */
  def decodeOneUdf(idToType: Map[Int, String]) = {
    val parsed = idToType.view.mapValues(IcebergTypes.fromStringOpt).toMap
    udf { (m: Map[Int, Array[Byte]], id: Int) =>
      if (m == null) null
      else m.get(id).flatMap { bytes =>
        parsed.get(id).flatten.map(t => String.valueOf(SingleValueCodec.decode(t, bytes)))
      }.orNull
    }
  }

  /** Rewrites a manifest-entries DataFrame so `data_file.lower_bounds` /
    * `data_file.upper_bounds` carry decoded renderings. */
  def withDecodedBounds(entries: DataFrame, idToType: Map[Int, String]): DataFrame = {
    val spark = entries.sparkSession
    entries.withColumn("data_file",
      col("data_file")
        .withField("lower_bounds", decodeBounds(spark, col("data_file.lower_bounds"), idToType))
        .withField("upper_bounds", decodeBounds(spark, col("data_file.upper_bounds"), idToType)))
  }

  def decodedBound(idToType: Map[Int, String], boundsCol: Column, fieldId: Int): Column =
    decodeOneUdf(idToType)(boundsCol, lit(fieldId))
}
