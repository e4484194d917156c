package graft.schema

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, CharConversionException,
  ObjectInputStream, ObjectOutputStream}
import java.nio.charset.MalformedInputException
import com.fasterxml.jackson.core.{JsonFactory, JsonProcessingException}
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExprUtils, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JsonInferSchema}
import org.apache.spark.sql.catalyst.json.graftbridge.JsonBridge
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.PermissiveMode
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** JSON Schema (Draft 4 subset: `type` unions, `properties`, `items`,
  * `format`, bounds) → Spark `StructType`, plus the `__`-separated
  * flattened-name walk.
  *
  * Type mapping follows the reference's *physical* behavior (SURVEY.md
  * §1.2): Arrow infers int64/float64/utf8 from Python values, so `integer`
  * → LongType, `number` → DoubleType, `string` (any `format`) → StringType
  * — date-time strings are deliberately NOT parsed (reference keeps them
  * as strings, FIXTURES.md §1). Objects recurse; arrays are leaves that the
  * flatten step stringifies (reference utils.py:61,107-110).
  */
object JsonSchemaConverter {

  /** Non-null JSON-Schema type names of a property node ("null" removed). */
  def typeNames(prop: JsonNode): Seq[String] = Option(prop.get("type")) match {
    case None => Seq.empty
    case Some(t) if t.isTextual => Seq(t.asText())
    case Some(t) if t.isArray => t.elements().asScala.map(_.asText()).toSeq.filter(_ != "null")
    case _ => Seq.empty
  }

  private def leafType(prop: JsonNode, decimalForMultipleOf: Boolean): DataType =
    typeNames(prop) match {
    case ts if ts.contains("object") =>
      toStructType(prop, decimalForMultipleOf) // nested object
    case ts if ts.contains("array") =>
      ArrayType(Option(prop.get("items"))
        .map(leafType(_, decimalForMultipleOf)).getOrElse(StringType))
    case ts if ts.contains("string") => StringType
    case ts if ts.contains("integer") => LongType
    case ts if ts.contains("number") =>
      // legacy L2 (reference __init__.py:76-82): `multipleOf` numbers are
      // coerced to exact decimals so step validation isn't float-fuzzy
      if (decimalForMultipleOf && prop.has("multipleOf")) DecimalType(38, 18)
      else DoubleType
    case ts if ts.contains("boolean") => BooleanType
    case _ => StringType // no/unknown type: reference warns and passes through
  }

  /** Schema node (an `object` with `properties`) → StructType. All fields
    * nullable: the reference's corpus uses `["null", X]` unions throughout
    * and missing keys are filled with null at write (reference
    * __init__.py:163-168). */
  def toStructType(schema: JsonNode, decimalForMultipleOf: Boolean = false): StructType = {
    val props = Option(schema.get("properties"))
    // .toSeq BEFORE .map: properties() is a (insertion-ordered) Set and a
    // Set.map would scramble field order.
    StructType(props.toSeq.flatMap(_.properties().asScala.toSeq.map { e =>
      StructField(e.getKey, leafType(e.getValue, decimalForMultipleOf), nullable = true)
    }))
  }

  /** Flattened column-name walk over a schema's `properties`, mirroring
    * reference utils.py:65-111: recurse only into `object`, arrays and
    * untyped fields are leaves. */
  def flattenSchema(properties: JsonNode, parentKey: String = "", sep: String = "__"): Seq[String] =
    if (properties == null) Seq.empty
    else properties.properties().asScala.toSeq.flatMap { e =>
      val k = e.getKey
      val v = e.getValue
      val newKey = if (parentKey.isEmpty) k else parentKey + sep + k
      if (typeNames(v).contains("object"))
        flattenSchema(v.get("properties"), newKey, sep)
      else Seq(newKey)
    }

  /** §1.4 union-schema inference as an aggregate: the record schema
    * `spark.read.json` infers from `rec` (a record's JSON text), null
    * payloads excluded (a RECORD without a `record` key is a protocol
    * error flagged by validation). Every record counts, as the reference
    * unions EVERY record's fields into the batch schema (§1.4). Evaluates
    * to the schema's JSON; [[inferredSchema]] reads it back. */
  def inferRecords(rec: Column): Column =
    ColumnBridge.column(InferRecordSchema(ColumnBridge.expression(rec)).toAggregateExpression())

  /** The schema an [[inferRecords]] value spells, checked the way
    * `spark.read.json` checks an inferred schema: a corrupt-record field
    * that is not a nullable string is an error. */
  def inferredSchema(json: String): StructType = {
    val st = DataType.fromJson(json).asInstanceOf[StructType]
    ExprUtils.verifyColumnNameOfCorruptRecord(st, SQLConf.get.columnNameOfCorruptRecord)
    st
  }

  /** Merge an inferred record schema into the declared one: declared leaf
    * types win; fields only present in the data (e.g. `_sdc_deleted_at`,
    * reference §1.4) are appended in name order for determinism. */
  def mergeSchemas(declared: StructType, inferred: StructType): StructType = {
    val declaredNames = declared.fieldNames.toSet
    val extras = inferred.fields.filter(f => !declaredNames.contains(f.name)).sortBy(_.name)
    val merged = declared.fields.map { df =>
      (df.dataType, inferred.fields.find(_.name == df.name).map(_.dataType)) match {
        case (d: StructType, Some(i: StructType)) => df.copy(dataType = mergeSchemas(d, i))
        case _ => df
      }
    }
    StructType(merged ++ extras.map(_.copy(nullable = true)))
  }
}

/** The schema inference of `spark.read.json` over a Dataset of JSON
  * strings, as one aggregate, so that inference can share a grouped scan
  * with validation. It is built from the same public pieces: per record
  * `JsonInferSchema.inferField` (a parse error or a non-object root
  * yields the corrupt-record field, as in PERMISSIVE mode), the types
  * merged with `compatibleRootType`, the root folded into an empty struct
  * and `canonicalizeType` applied last. The buffer is the running merge
  * of the records seen, None before the first.
  *
  * `timeZoneId` and `corruptColumn` are the session's at construction,
  * the inputs of the `JSONOptions` that `spark.read.json` builds. */
case class InferRecordSchema(
    rec: Expression,
    timeZoneId: String = SQLConf.get.sessionLocalTimeZone,
    corruptColumn: String = SQLConf.get.columnNameOfCorruptRecord,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Option[DataType]] with UnaryLike[Expression] {

  override def child: Expression = rec
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "infer_record_schema"

  @transient private lazy val options = new JSONOptions(Map.empty[String, String], timeZoneId, corruptColumn)
  @transient private lazy val inferrer = new JsonInferSchema(options)
  @transient private lazy val factory: JsonFactory = options.buildJsonFactory()
  @transient private lazy val merger = JsonInferSchema.compatibleRootType(corruptColumn, PermissiveMode)
  @transient private lazy val corrupt: DataType =
    StructType(Seq(StructField(corruptColumn, StringType, nullable = true)))

  private def inferOne(json: UTF8String): DataType = {
    val p = CreateJacksonParser.utf8String(factory, json)
    try { p.nextToken(); inferrer.inferField(p) }
    catch {
      case _: RuntimeException | _: JsonProcessingException | _: MalformedInputException |
           _: CharConversionException => corrupt
    } finally p.close()
  }

  override def createAggregationBuffer(): Option[DataType] = None

  private def add(buffer: Option[DataType], t: DataType): Option[DataType] =
    Some(buffer.fold(t)(merger(_, t)))

  override def update(buffer: Option[DataType], input: InternalRow): Option[DataType] = {
    val json = rec.eval(input).asInstanceOf[UTF8String]
    if (json == null) buffer else add(buffer, inferOne(json))
  }

  override def merge(buffer: Option[DataType], input: Option[DataType]): Option[DataType] =
    input.fold(buffer)(add(buffer, _))

  override def eval(buffer: Option[DataType]): Any = {
    val root = buffer.fold[DataType](StructType(Nil))(merger(StructType(Nil), _))
    val st = JsonBridge.canonicalizeType(inferrer, root, options).collectFirst { case s: StructType => s }
    UTF8String.fromString(st.getOrElse(StructType(Nil)).json)
  }

  override def serialize(buffer: Option[DataType]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(buffer.orNull)
    out.close()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Option[DataType] =
    Option(new ObjectInputStream(new ByteArrayInputStream(bytes)).readObject().asInstanceOf[DataType])

  override def withNewMutableAggBufferOffset(n: Int): InferRecordSchema = copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): InferRecordSchema = copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): InferRecordSchema = copy(rec = c)
}
