package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class PyReprSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  /** Jackson-tree rendering, the reference formulation: the independent
    * oracle the single-pass [[PyRepr.renderJson]] is cross-checked
    * against on generated JSON. */
  private def renderNode(n: JsonNode): String =
    if (n == null || n.isNull) "None"
    else if (n.isTextual) PyRepr.reprString(n.asText())
    else if (n.isBoolean) { if (n.asBoolean()) "True" else "False" }
    else if (n.isIntegralNumber) n.asLong().toString
    else if (n.isFloatingPointNumber) PyRepr.reprDouble(n.asDouble())
    else if (n.isArray) n.elements().asScala.map(renderNode).mkString("[", ", ", "]")
    else if (n.isObject)
      n.properties().asScala.toSeq // toSeq first: keep insertion order
        .map(e => PyRepr.reprString(e.getKey) + ": " + renderNode(e.getValue))
        .mkString("{", ", ", "}")
    else n.toString

  private def jsonToPyReprViaTree(json: String): String =
    if (json == null) null else renderNode(mapper.readTree(json))

  test("golden: list of digit strings renders like Python str(list)") {
    // reference utils.py:36-53 docstring: ['10', '11'] -> "['10', '11']"
    assert(PyRepr.jsonToPyRepr("""["10", "11"]""") == "['10', '11']")
  }
  test("ints, floats, bools, nulls") {
    assert(PyRepr.jsonToPyRepr("""[10, 11]""") == "[10, 11]")
    assert(PyRepr.jsonToPyRepr("""[1.0, 2.5]""") == "[1.0, 2.5]")
    assert(PyRepr.jsonToPyRepr("""[true, false, null]""") == "[True, False, None]")
  }
  test("nested objects render as dicts") {
    assert(PyRepr.jsonToPyRepr("""[{"a": 1, "b": "x"}]""") == "[{'a': 1, 'b': 'x'}]")
  }
  test("string quoting follows Python repr rules") {
    assert(PyRepr.reprString("it's") == "\"it's\"")
    assert(PyRepr.reprString("both ' and \"") == "'both \\' and \"'")
    assert(PyRepr.reprString("plain") == "'plain'")
  }
  test("null cell stays null") {
    assert(PyRepr.jsonToPyRepr(null) == null)
  }

  test("JSON escapes decode before Python re-escaping") {
    assert(PyRepr.jsonToPyRepr("""["a\nb", "q\"t", "uA"]""") ==
      "['a\\nb', 'q\"t', 'uA']")
    // \u-escaped quote participates in the quote-choice rule
    assert(PyRepr.jsonToPyRepr("""["it's"]""") == "[\"it's\"]")
  }

  test("single-pass renderer agrees with the Jackson-tree oracle") {
    val cases = Seq(
      """["10", "11"]""",
      """[10, -11, 0, -0]""",
      """[1.0, 2.5, -0.0001, 1e16, 1.23e-5]""",
      """[true, false, null]""",
      """[{"a": 1, "b": "x"}, {"c": [1, [2, {"d": null}]]}]""",
      """{"k": "it's", "both": "' and \""}""",
      """[]""",
      """{}""",
      """["tab\tnl\nq\"bs\\"]""",
      """[ 1 , [ 2 ,  3 ] , { "a" : 4 } ]""")
    cases.foreach { j =>
      assert(PyRepr.renderJson(j) == jsonToPyReprViaTree(j), s"for $j")
    }
  }

  test("malformed JSON raises") {
    Seq("""[1,""", """{"a" 1}""", """[1 2]""", """tru""", """[1],""").foreach { j =>
      intercept[IllegalArgumentException] { PyRepr.renderJson(j) }
    }
  }

  test("doubles match CPython repr across the notation-switch boundaries") {
    // Ground truth from CPython repr(). Java's Double.toString switches to
    // E-notation below 1e-3 and at 1e7; Python switches at 1e-4 and 1e16.
    val cases: Seq[(Double, String)] = Seq(
      0.0001 -> "0.0001",                // Java: "1.0E-4"
      0.000123 -> "0.000123",            // Java: "1.23E-4"
      1.23e-05 -> "1.23e-05",
      1e-05 -> "1e-05",
      12345678.9 -> "12345678.9",        // Java: "1.23456789E7"
      123456789.125 -> "123456789.125",
      9999999.5 -> "9999999.5",
      1e15 -> "1000000000000000.0",
      1234567890123456.0 -> "1234567890123456.0",
      1e16 -> "1e+16",
      1.5e16 -> "1.5e+16",
      1e17 -> "1e+17",
      0.1 -> "0.1",
      0.3 -> "0.3",
      0.001 -> "0.001",
      0.00012345678901234567 -> "0.00012345678901234567",
      -0.0001 -> "-0.0001",
      -1.5e-07 -> "-1.5e-07",
      2.5e-10 -> "2.5e-10",
      -0.0 -> "-0.0",
      1e100 -> "1e+100",
      7.006492321624085e-46 -> "7.006492321624085e-46")
    cases.foreach { case (d, expected) =>
      assert(PyRepr.reprDouble(d) == expected, s"for $d")
    }
  }
}
