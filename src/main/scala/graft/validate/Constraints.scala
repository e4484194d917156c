package graft.validate

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.schema.JsonSchemaConverter.typeNames
import scala.jdk.CollectionConverters._

/** JSON-Schema (Draft 4) record validation.
  *
  * The reference validates every RECORD with `Draft4Validator.validate`
  * (reference __init__.py:231,241) — a per-row Python interpreter call.
  * Here the keywords compile once per stream ([[compile]]) and each record
  * is checked by one Catalyst expression, [[ValidateRecord]], whose
  * generated code is a single call into the Scala kernel in
  * `RecordValidator.scala` (SURVEY.md §2.2 P5). Per record the kernel
  * reads the typed values `from_json` already produced and walks the raw
  * JSON once with Jackson's streaming parser for what only the raw text
  * knows: key presence and token kinds. Why not plain Column expressions:
  * a `coalesce` of one `when` per keyword compiles to a single generated
  * method that grows with the schema (34 KB on a 25-leaf schema), over
  * HotSpot's 8,000-byte limit for JIT compilation, so every record would
  * be validated by the bytecode interpreter (`ValidationJitSizeSpec`).
  *
  * Keyword coverage (Draft-4 semantics as implemented by the `jsonschema`
  * library the reference uses):
  *  - `type` — structural: `from_json` yields null for a cell whose raw
  *    JSON is present but uncoercible, so "raw present AND parsed null"
  *    ⇔ wrong type; a string-only field additionally rejects a non-string
  *    token, which `from_json` would coerce into the string slot;
  *  - `minimum` / `maximum`, with Draft-4 BOOLEAN `exclusiveMinimum` /
  *    `exclusiveMaximum` modifiers (Draft 6 made them numbers — the
  *    reference pins Draft 4), exact in Decimal(38,18) when the value fits
  *    and in double beyond it;
  *  - `multipleOf` — an exact Decimal(38,18) remainder, not float mod,
  *    closing the reference's legacy float→decimal intent (L2,
  *    __init__.py:76-82); double `pmod` outside decimal range;
  *  - `maxLength` / `minLength` / `pattern` (unanchored, like Python
  *    `re.search`) — on STRING instances only;
  *  - `enum` — SQL `IN` over the literal values;
  *  - `required` — key PRESENCE in the raw JSON object: a present-but-null
  *    key satisfies `required` in Draft 4, so a parsed-null test would be
  *    wrong; only the raw text knows presence.
  */
object Constraints {

  final case class LeafConstraint(
      path: Seq[String],           // nested field path in the parsed struct
      jsonPath: String,            // $.a.b for get_json_object on the raw record
      minimum: Option[BigDecimal],
      maximum: Option[BigDecimal],
      exclusiveMinimum: Boolean,
      exclusiveMaximum: Boolean,
      multipleOf: Option[BigDecimal],
      maxLength: Option[Int],
      minLength: Option[Int],
      pattern: Option[String],
      enumVals: Option[Seq[Any]],
      declaredTypes: Seq[String]) {
    def flatName: String = path.mkString("__")
  }

  /** `required` is an OBJECT-level keyword (a list of child names); the
    * check is key presence inside the parent's raw JSON object. */
  final case class RequiredConstraint(parentPath: Seq[String], key: String) {
    def flatName: String = (parentPath :+ key).mkString("__")
  }

  final case class CompiledConstraints(
      leaves: Seq[LeafConstraint],
      required: Seq[RequiredConstraint])

  private def enumValue(n: JsonNode): Any =
    if (n.isTextual) n.asText()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else n.toString

  /** Walk a schema's properties, collecting leaf + required constraints.
    * Arrays are leaves (never recursed), mirroring the flatten walk. */
  def compile(schema: JsonNode, parent: Seq[String] = Seq.empty): CompiledConstraints = {
    val required: Seq[RequiredConstraint] = Option(schema.get("required")).toSeq
      .filter(_.isArray)
      .flatMap(r => (0 until r.size()).map(i => RequiredConstraint(parent, r.get(i).asText())))
    val props = Option(schema.get("properties"))
    val children = props.toSeq.flatMap(_.properties().asScala.toSeq.map { e =>
      val (k, v) = (e.getKey, e.getValue)
      val path = parent :+ k
      if (typeNames(v).contains("object")) compile(v, path)
      else CompiledConstraints(Seq(LeafConstraint(
        path = path,
        jsonPath = "$." + path.mkString("."),
        minimum = Option(v.get("minimum")).map(n => BigDecimal(n.asText())),
        maximum = Option(v.get("maximum")).map(n => BigDecimal(n.asText())),
        exclusiveMinimum = Option(v.get("exclusiveMinimum")).exists(_.asBoolean(false)),
        exclusiveMaximum = Option(v.get("exclusiveMaximum")).exists(_.asBoolean(false)),
        multipleOf = Option(v.get("multipleOf")).map(n => BigDecimal(n.asText())),
        maxLength = Option(v.get("maxLength")).map(_.asInt()),
        minLength = Option(v.get("minLength")).map(_.asInt()),
        pattern = Option(v.get("pattern")).map(_.asText()),
        enumVals = Option(v.get("enum")).filter(_.isArray)
          .map(a => (0 until a.size()).map(i => enumValue(a.get(i)))),
        declaredTypes = typeNames(v))), Seq.empty)
    })
    CompiledConstraints(
      children.flatMap(_.leaves),
      required ++ children.flatMap(_.required))
  }

  /** A column evaluating to the first violation message for the row, or
    * null if the row is valid. `root` is the parsed struct column, `raw`
    * the original record-JSON string column. A null `raw` — a RECORD
    * envelope with no `record` key — is itself a protocol violation (the
    * reference crashes on the missing key, __init__.py:216): flagging it
    * here surfaces a Singer error instead of an opaque downstream
    * json-inference failure, and without it every keyword check is
    * vacuous on the null payload.
    *
    * Checks run in this order and the first failure is the message:
    * missing `record`; `required` in `cc.required` order; then per leaf
    * type, string type, minimum, maximum, multipleOf, maxLength,
    * minLength, pattern, enum. */
  def violation(cc: CompiledConstraints, root: Column, raw: Column): Column =
    ColumnBridge.column(ValidateRecord(
      ColumnBridge.expression(root), ColumnBridge.expression(raw), cc))

  /** Strict mode (reference behavior), as an aggregate: of the rows it
    * sees, the violation `v` (a [[violation]] column) of the lowest-`idx`
    * violating record, the record the reference's line loop aborts at;
    * null when every row is valid. Grouped by epoch, it checks every
    * epoch of a run in one query. */
  def firstViolation(v: Column, idx: Column): Column = min_by(v, when(v.isNotNull, idx))
}
