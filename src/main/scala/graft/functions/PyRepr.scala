package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Python `str(list)` rendering for flattened array columns.
  *
  * The reference stringifies any list value with Python's `str()`
  * (reference utils.py:61): `['10', '11']` → the 12-char string
  * `"['10', '11']"`. This reproduces that rendering: single-quoted strings
  * (double-quoted when the text contains `'` but no `"`), `True`/`False`/
  * `None`, floats with `.0` for integral values, dicts as `{'k': v}`.
  *
  * Implementation: the column is first serialized with the codegen'd
  * `to_json` (handles any nested ArrayType/StructType uniformly), then
  * [[PyReprJson]] — a codegen `UnaryExpression` — re-renders the JSON text
  * in Python style via [[PyRepr.renderJson]], a single-pass recursive-
  * descent rewrite with no intermediate tree. This keeps the whole flatten
  * select-list inside WholeStageCodegen; the previous Scala-UDF version
  * broke the codegen span and paid a Jackson tree parse plus the UDF
  * encoder boundary per cell. PyReprSpec cross-checks it against an
  * independently derived Jackson-tree rendering.
  */
object PyRepr {
  /** Python repr of a string literal. */
  def reprString(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    appendReprString(sb, s)
    sb.toString
  }

  private def appendReprString(sb: java.lang.StringBuilder, s: String): Unit = {
    val quote = if (s.contains("'") && !s.contains("\"")) '"' else '\''
    sb.append(quote)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case c if c == quote => sb.append('\\').append(c)
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append(quote)
    ()
  }

  /** Python repr of a double, mirroring CPython `float_repr`: shortest
    * round-trip digits (Java's `Double.toString` supplies them), decimal
    * notation while the decimal exponent is in [-4, 16), e-notation with a
    * signed >=2-digit exponent outside. Java's OWN notation switch differs
    * — it goes exponential below 1e-3 and at 1e7 — so the digits are
    * re-rendered under Python's thresholds (round-2 ADVICE: [1e-4,1e-3)
    * and [1e7,1e16) previously came out as E-notation). */
  def reprDouble(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinity) { if (d > 0) "inf" else "-inf" }
    else if (d == 0.0) { if (1.0 / d < 0) "-0.0" else "0.0" }
    else {
      val neg = if (d < 0) "-" else ""
      val bd = new java.math.BigDecimal(java.lang.Double.toString(Math.abs(d)))
        .stripTrailingZeros()
      val digits = bd.unscaledValue.toString
      val exp10 = digits.length - 1 - bd.scale // decimal exponent of the leading digit
      if (exp10 >= -4 && exp10 < 16) {
        if (d == Math.rint(d)) s"$neg${Math.abs(d).toLong}.0" // integral: 1.0, 1e15 -> ...000.0
        else neg + bd.toPlainString
      } else {
        val mant = if (digits.length == 1) digits
                   else s"${digits.head}.${digits.tail}"
        val sign = if (exp10 < 0) "-" else "+"
        f"$neg${mant}e$sign${Math.abs(exp10)}%02d"
      }
    }

  /** JSON text → Python-repr string, in one recursive-descent pass with no
    * tree. Accepts exactly the JSON `to_json` emits (standard escapes incl.
    * `\\uXXXX`, no comments); integers pass through digit-for-digit (so
    * values beyond int64 stay exact, as Python's arbitrary-precision `str`
    * would render them). */
  def renderJson(json: String): String = {
    if (json == null) return null
    val sb = new java.lang.StringBuilder(json.length + 8)
    var i = 0
    val n = json.length

    def fail(what: String): Nothing =
      throw new IllegalArgumentException(s"malformed JSON ($what at offset $i): $json")
    def skipWs(): Unit = {
      while (i < n && { val c = json.charAt(i)
        c == ' ' || c == '\t' || c == '\n' || c == '\r' }) i += 1
    }
    // JSON string starting at the opening quote → decoded text; advances i
    // past the closing quote.
    def decodeString(): String = {
      if (json.charAt(i) != '"') fail("expected string")
      i += 1
      val out = new java.lang.StringBuilder()
      while (i < n && json.charAt(i) != '"') {
        val c = json.charAt(i)
        if (c == '\\') {
          if (i + 1 >= n) fail("truncated escape")
          json.charAt(i + 1) match {
            case '"' => out.append('"'); i += 2
            case '\\' => out.append('\\'); i += 2
            case '/' => out.append('/'); i += 2
            case 'b' => out.append('\b'); i += 2
            case 'f' => out.append('\f'); i += 2
            case 'n' => out.append('\n'); i += 2
            case 'r' => out.append('\r'); i += 2
            case 't' => out.append('\t'); i += 2
            case 'u' =>
              if (i + 6 > n) fail("truncated \\u escape")
              out.append(Integer.parseInt(json.substring(i + 2, i + 6), 16).toChar)
              i += 6
            case other => fail(s"bad escape \\$other")
          }
        } else { out.append(c); i += 1 }
      }
      if (i >= n) fail("unterminated string")
      i += 1 // closing quote
      out.toString
    }
    def value(): Unit = {
      skipWs()
      if (i >= n) fail("empty value")
      json.charAt(i) match {
        case '"' => appendReprString(sb, decodeString())
        case '[' =>
          i += 1; sb.append('[')
          skipWs()
          var first = true
          while (i < n && json.charAt(i) != ']') {
            if (!first) { if (json.charAt(i) != ',') fail("expected ','"); i += 1; sb.append(", ") }
            value(); skipWs(); first = false
          }
          if (i >= n) fail("unterminated array")
          i += 1; sb.append(']')
        case '{' =>
          i += 1; sb.append('{')
          skipWs()
          var first = true
          while (i < n && json.charAt(i) != '}') {
            if (!first) { if (json.charAt(i) != ',') fail("expected ','"); i += 1; sb.append(", "); skipWs() }
            appendReprString(sb, decodeString())
            sb.append(": ")
            skipWs()
            if (i >= n || json.charAt(i) != ':') fail("expected ':'")
            i += 1
            value(); skipWs(); first = false
          }
          if (i >= n) fail("unterminated object")
          i += 1; sb.append('}')
        case 't' =>
          if (!json.startsWith("true", i)) fail("bad literal")
          sb.append("True"); i += 4
        case 'f' =>
          if (!json.startsWith("false", i)) fail("bad literal")
          sb.append("False"); i += 5
        case 'n' =>
          if (!json.startsWith("null", i)) fail("bad literal")
          sb.append("None"); i += 4
        case c if c == '-' || (c >= '0' && c <= '9') =>
          val start = i
          var isFloat = false
          while (i < n && { val ch = json.charAt(i)
            val num = ch == '-' || ch == '+' || (ch >= '0' && ch <= '9') ||
              ch == '.' || ch == 'e' || ch == 'E'
            if (num && (ch == '.' || ch == 'e' || ch == 'E')) isFloat = true
            num }) i += 1
          val tok = json.substring(start, i)
          if (isFloat) sb.append(reprDouble(java.lang.Double.parseDouble(tok)))
          else if (tok == "-0") sb.append('0') // Python int(-0) renders "0"
          else sb.append(tok)
        case other => fail(s"unexpected '$other'")
      }
    }
    value()
    skipWs()
    if (i != n) fail("trailing content")
    sb.toString
  }

  /** JSON text of an array/object cell → its Python-repr string. */
  def jsonToPyRepr(json: String): String = renderJson(json)

  /** Codegen entry point (called from [[PyReprJson]]'s generated code via
    * this object's static forwarder). */
  def renderJsonUtf8(u: UTF8String): UTF8String =
    UTF8String.fromString(renderJson(u.toString))

  /** Column transform: array/struct column → Python-repr string column.
    * Null cells stay null (a missing field is absent, not "None"). */
  def pyRepr(c: Column): Column =
    ColumnBridge.column(PyReprJson(ColumnBridge.expression(to_json(c))))
}

/** JSON text → Python-repr text as a native codegen expression: the
  * generated code is a direct static call, so the surrounding flatten
  * projection stays one WholeStageCodegen span (a Scala UDF here forced a
  * codegen break plus per-row encoder round-trips — SURVEY §4.3 #2's
  * scheduled upgrade). */
case class PyReprJson(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expected string input, got $t")
  }
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    PyRepr.renderJsonUtf8(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PyRepr.renderJsonUtf8($c);")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
