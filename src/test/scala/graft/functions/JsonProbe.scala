package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Instance-level JSON type probe for Draft-4 validation, used by the
  * Column-tree reference spelling of the validator
  * (`graft.validate.ReferenceConstraints`); the shipped kernel reads the
  * same token kinds during its single walk of the record.
  *
  * `from_json` COERCES mismatched tokens into declared-string fields (the
  * number 123 parses into a string slot as "123", objects render to their
  * JSON text), and `get_json_object` strips quotes — so neither can tell
  * the JSON string "123" from the JSON number 123. Draft 4 needs that
  * distinction: string keywords (pattern/minLength/maxLength) apply only
  * to STRING instances, and a non-string instance in a string-declared
  * field is a type violation.
  *
  * This expression streams the raw record with Jackson and early-exits at
  * the dotted path — the same cost class as the `get_json_object` calls
  * already in the validation projection, unlike `try_parse_json` which
  * materializes the whole record as a variant per gated leaf (measured 2×
  * on ingest_validate at sf0.1, because conditional arms are excluded
  * from whole-stage-codegen subexpression elimination).
  *
  * Returns TRUE if the cell at `path` is a JSON string, FALSE for any
  * other present value token (number/boolean/null/object/array), NULL if
  * the path is absent or the record is not a JSON object — keyword checks
  * built on it stay vacuous exactly when Draft 4 says they are.
  */
case class JsonCellIsString(child: Expression, path: Seq[String])
    extends UnaryExpression {
  private val pathArr: Array[String] = path.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if path.nonEmpty => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"expected string input and a non-empty path, got ${child.dataType}")
  }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val raw = child.eval(input)
    if (raw == null) null
    else JsonCellIsString.probe(raw.asInstanceOf[UTF8String], pathArr)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pathRef = ctx.addReferenceObj("path", pathArr, "java.lang.String[]")
    val childGen = child.genCode(ctx)
    val probed = ctx.freshName("probed")
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = true;
      boolean ${ev.value} = false;
      if (!${childGen.isNull}) {
        java.lang.Boolean $probed =
          graft.functions.JsonCellIsString.probe(${childGen.value}, $pathRef);
        if ($probed != null) {
          ${ev.isNull} = false;
          ${ev.value} = $probed.booleanValue();
        }
      }""")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object JsonCellIsString {
  private val factory = new JsonFactory()

  /** Streaming walk to the dotted path; see class doc for the contract.
    * Duplicate keys resolve to the FIRST occurrence (like
    * `get_json_object`); an intermediate non-object makes the path
    * absent. */
  def probe(raw: UTF8String, path: Array[String]): java.lang.Boolean = {
    var p: JsonParser = null
    try {
      p = factory.createParser(raw.getBytes)
      if (p.nextToken() != JsonToken.START_OBJECT) return null
      var i = 0
      while (i < path.length) {
        // cursor is on START_OBJECT of the level holding path(i)
        var found = false
        var t = p.nextToken()
        while (!found && t == JsonToken.FIELD_NAME) {
          val name = p.currentName()
          t = p.nextToken() // move onto the value token
          if (name == path(i)) found = true
          else {
            if (t == JsonToken.START_OBJECT || t == JsonToken.START_ARRAY)
              p.skipChildren()
            t = p.nextToken()
          }
        }
        if (!found) return null
        if (i == path.length - 1)
          return java.lang.Boolean.valueOf(p.currentToken() == JsonToken.VALUE_STRING)
        if (p.currentToken() != JsonToken.START_OBJECT) return null
        i += 1
      }
      null // unreachable: path is non-empty
    } catch {
      // JacksonException extends IOException in Jackson 2.x, so it must
      // be listed first (after IOException it is unreachable)
      case _: com.fasterxml.jackson.core.JacksonException => null
      case _: java.io.IOException => null
    } finally {
      if (p != null) p.close()
    }
  }

  def jsonCellIsString(raw: Column, path: Seq[String]): Column =
    ColumnBridge.column(JsonCellIsString(ColumnBridge.expression(raw), path))
}
