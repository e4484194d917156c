package graft.validate

import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec
import graft.model.Singer
import graft.schema.JsonSchemaConverter
import graft.validate.Constraints.CompiledConstraints

/** Differential property spec: the validation kernel behind
  * [[Constraints.violation]] must return exactly the message of the
  * Column-tree spelling in [[ReferenceConstraints]], null included, over
  * generated Draft-4 schemas and records. Every comparison runs the kernel
  * twice, through whole-stage codegen (an RDD-backed relation) and
  * interpreted (a local relation the optimizer evaluates while planning). */
class KernelDifferentialSpec extends SparkSpec {

  // --- a tiny JSON model, so generated records can hold duplicate keys,
  // --- verbatim number text and malformed tails
  private sealed trait J
  private final case class Obj(fields: Seq[(String, J)]) extends J
  private final case class Arr(items: Seq[J]) extends J
  private final case class Str(s: String) extends J
  private final case class Num(text: String) extends J
  private case object Null extends J
  private final case class Bool(b: Boolean) extends J

  private def quote(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    }.mkString("\"", "", "\"")

  private def render(j: J): String = j match {
    case Obj(fs) => fs.map { case (k, v) => s"${quote(k)}: ${render(v)}" }.mkString("{", ", ", "}")
    case Arr(xs) => xs.map(render).mkString("[", ", ", "]")
    case Str(s) => quote(s)
    case Num(t) => t
    case Null => "null"
    case Bool(b) => b.toString
  }

  private def strs(xs: String*): Arr = Arr(xs.map(Str))
  private def nums(xs: String*): Arr = Arr(xs.map(Num))

  // --- schema generator: nested objects, `required` on every level,
  // --- every keyword on every leaf kind, homogeneous and mixed enums

  private val names = Seq("a", "b", "c", "id", "name", "v")

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def maybe(r: Random, p: Double)(kv: => (String, J)): Seq[(String, J)] =
    if (r.nextDouble() < p) Seq(kv) else Nil

  private def objectSchema(r: Random, depth: Int): Obj = {
    val props = r.shuffle(names).take(1 + r.nextInt(4))
    val required = props.filter(_ => r.nextBoolean()) ++
      (if (r.nextInt(5) == 0) Seq("zz") else Nil)
    Obj(Seq("type" -> pick(r, Seq(Str("object"), strs("null", "object"))),
      "properties" -> Obj(props.map(k => k -> propertySchema(r, depth)))) ++
      (if (required.nonEmpty) Seq("required" -> strs(required: _*)) else Nil))
  }

  private def propertySchema(r: Random, depth: Int): J = r.nextInt(12) match {
    case 0 | 1 if depth < 2 => objectSchema(r, depth + 1)
    case 0 | 1 | 2 | 3 => Obj(
      Seq("type" -> pick(r, Seq(Str("integer"), strs("null", "integer"), strs("null", "integer", "string")))) ++
      maybe(r, 0.4)("minimum" -> Num(pick(r, Seq("-5", "0", "3", "9007199254740992")))) ++
      maybe(r, 0.4)("maximum" -> Num(pick(r, Seq("5", "40", "100", "9007199254740992")))) ++
      maybe(r, 0.3)("exclusiveMinimum" -> Bool(r.nextBoolean())) ++
      maybe(r, 0.3)("exclusiveMaximum" -> Bool(r.nextBoolean())) ++
      maybe(r, 0.3)("multipleOf" -> Num(pick(r, Seq("1", "3", "100", "0.5")))) ++
      maybe(r, 0.25)("enum" -> pick(r, Seq(nums("1", "2", "3"), nums("7", "40", "9007199254740993"),
        nums("7", "40"), Arr(Seq(Num("1"), Num("2.5"))), Arr(Seq(Num("1"), Str("2")))))))
    case 4 | 5 => Obj(
      Seq("type" -> pick(r, Seq(Str("number"), strs("null", "number")))) ++
      maybe(r, 0.4)("minimum" -> Num(pick(r, Seq("0", "10", "-100", "0.5")))) ++
      maybe(r, 0.4)("maximum" -> Num(pick(r, Seq("100", "1000.25", "9007199254740992")))) ++
      maybe(r, 0.3)("exclusiveMinimum" -> Bool(r.nextBoolean())) ++
      maybe(r, 0.3)("exclusiveMaximum" -> Bool(r.nextBoolean())) ++
      maybe(r, 0.4)("multipleOf" -> Num(pick(r, Seq("0.01", "0.1", "0.5", "3")))) ++
      maybe(r, 0.2)("enum" -> pick(r, Seq(nums("1.5", "2", "0.3"), Arr(Seq(Num("1.5"), Num("2")))))))
    case 6 | 7 | 8 => Obj(
      Seq("type" -> pick(r, Seq(Str("string"), strs("null", "string"), strs("null", "string", "integer")))) ++
      maybe(r, 0.3)("maxLength" -> Num((2 + r.nextInt(4)).toString)) ++
      maybe(r, 0.3)("minLength" -> Num((1 + r.nextInt(3)).toString)) ++
      maybe(r, 0.3)("pattern" -> Str(pick(r, Seq("^[a-z]+$", "b+", "^[0-9-]+$", "x")))) ++
      maybe(r, 0.3)("enum" -> pick(r, Seq(strs("red", "green", "123"), strs("ab", "abc"),
        strs("bbb", "XY"), Arr(Seq(Str("red"), Null)), Arr(Seq(Str("a"), Num("1"), Bool(true), Null))))))
    case 9 => Obj(Seq("type" -> strs("null", "boolean")) ++
      maybe(r, 0.3)("enum" -> Arr(Seq(Bool(true)))))
    case 10 => Obj(Seq("type" -> strs("null", "array")) ++
      maybe(r, 0.5)("items" -> Obj(Seq("type" -> Str("integer")))) ++
      maybe(r, 0.3)("maxLength" -> Num("2")))
    case _ => Obj(maybe(r, 0.5)("maxLength" -> Num("3")) ++ maybe(r, 0.3)("pattern" -> Str("^a")))
  }

  // --- record generator: any JSON kind at any position, absent and
  // --- duplicate keys, numbers past Decimal(38,18) and 2^53

  private val scalars: Seq[J] = Seq(
    Null, Num("0"), Num("3"), Num("7"), Num("9"), Num("10"), Num("-4"), Num("40"), Num("100"),
    Num("9007199254740992"), Num("9007199254740993"), Num("12345678901234567890"),
    Num("100000000000000000000"), Num("1e20"), Num("1e21"), Num("-1e21"), Num("1.0E25"),
    Num("0.3"), Num("0.35"), Num("65.51"), Num("1.5"), Num("2.0"), Num("1e-30"), Num("1000.25"),
    Str("abc"), Str("ab"), Str("red"), Str("XY"), Str("123"), Str(""), Str("bbb"), Str("a-1"),
    Str("héllo"), Str("%s"), Str("{\"x\": 1}"), Str("{\"zz\": 1}"), Str("2"), Str("1.5"),
    Bool(true), Bool(false), Obj(Seq("x" -> Num("1"))), Obj(Nil), Arr(Seq(Num("1"), Num("2"))), Arr(Nil))

  private def record(r: Random, schema: Obj): J = {
    val props = schema.fields.collectFirst { case ("properties", Obj(ps)) => ps }.getOrElse(Nil)
    val present = props.flatMap { case (k, s) =>
      if (r.nextInt(6) == 0) Nil // absent
      else Seq(k -> (s match {
        case o: Obj if o.fields.exists(_._1 == "properties") && r.nextInt(4) != 0 => record(r, o)
        case _ => pick(r, scalars)
      }))
    }
    val extra = if (r.nextInt(8) == 0) Seq("zz" -> pick(r, scalars)) else Nil
    val fields = r.shuffle(present ++ extra)
    // duplicate keys: get_json_object, from_json and the first-occurrence
    // token probe each resolve them their own way
    val dup = if (fields.nonEmpty && r.nextInt(5) == 0) {
      val (k, v) = pick(r, fields)
      val other = if (r.nextBoolean()) Null else pick(r, scalars)
      if (r.nextBoolean()) Seq(k -> other) ++ fields else fields :+ (k -> v) :+ (k -> other)
    } else fields
    Obj(dup)
  }

  /** Raw texts for one schema: object records, plus the payloads a RECORD
    * can carry after get_json_object unquotes a string `record`. */
  private def raws(r: Random, schema: Obj, n: Int): Seq[String] =
    (0 until n).map(_ => render(record(r, schema))) ++ Seq(
      null, "5", "\"abc\"", "abc", "[1, 2]", "[{\"a\": 1}]", "null", "{}", "",
      "{\"a\": 1, oops", "{\"a\": \"x\"} trailing", render(record(r, schema)) + " {}")

  // --- running both spellings

  private type Outcome = Either[String, Seq[String]]

  private def run(cc: CompiledConstraints, st: StructType, texts: Seq[String], local: Boolean,
                  v: (CompiledConstraints, Column, Column) => Column): Outcome = {
    import spark.implicits._
    val rows = texts.zipWithIndex.map { case (t, i) => (i, t) }
    val df: DataFrame =
      if (local) rows.toDF("i", "raw")
      else spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromTuple), 3),
        StructType(Seq(StructField("i", IntegerType), StructField("raw", StringType))))
    try {
      Right(df.select(col("i"), col("raw"), from_json(col("raw"), st).as("r"))
        .select(col("i"), v(cc, col("r"), col("raw")).as("v"))
        .collect().sortBy(_.getInt(0)).map(_.getString(1)).toSeq)
    } catch {
      case NonFatal(e) =>
        var c: Throwable = e
        while (c.getCause != null) c = c.getCause
        Left(c.getClass.getSimpleName)
    }
  }

  /** Compare kernel and reference on one schema; returns the reference's
    * outcome for extra assertions. */
  private def agree(schemaJson: String, texts: Seq[String], decimalForMultipleOf: Boolean = false): Outcome = {
    val node = Singer.parseJson(schemaJson)
    val cc = Constraints.compile(node)
    val st = JsonSchemaConverter.toStructType(node, decimalForMultipleOf)
    val expected = run(cc, st, texts, local = false, ReferenceConstraints.violation)
    for (local <- Seq(false, true)) {
      val got = run(cc, st, texts, local, Constraints.violation)
      (expected, got) match {
        case (Right(e), Right(g)) =>
          e.zip(g).zip(texts).foreach { case ((ev, gv), t) =>
            assert(gv == ev, s"\nschema: $schemaJson\nrecord: $t\nlocal=$local")
          }
        case _ =>
          assert(got == expected, s"\nschema: $schemaJson\nlocal=$local")
      }
    }
    expected
  }

  test("kernel == Column reference over generated schemas and records") {
    val outcomes = (0 until 40).map { seed =>
      val r = new Random(seed)
      val schema = objectSchema(r, 0)
      agree(render(schema), raws(r, schema, 30))
    }
    // the generator must exercise messages, not only whole-query errors
    assert(outcomes.count(_.isRight) >= 30)
    assert(outcomes.flatMap(_.toOption.toSeq.flatten).count(_ != null) >= 600)
  }

  test("decimal_for_multiple_of schemas: Decimal(38,18) leaves agree too") {
    (100 until 120).foreach { seed =>
      val r = new Random(seed)
      val schema = objectSchema(r, 0)
      agree(render(schema), raws(r, schema, 30), decimalForMultipleOf = true)
    }
  }

  test("numbers past Decimal(38,18) and 2^53 + 1 under every numeric keyword") {
    val values = Seq("9007199254740993", "9007199254740992", "-9007199254740993", "1e20", "1e21",
      "-1e21", "99999999999999999999", "100000000000000000000", "12345678901234567890.5",
      "1e-30", "0.30000000000000004", "1.0E25")
    for {
      t <- Seq("integer", "number")
      kw <- Seq(""""maximum": 9007199254740992""", """"minimum": -9007199254740992""",
        """"maximum": 100, "exclusiveMaximum": true""", """"multipleOf": 0.5""",
        """"multipleOf": 3""", """"enum": [9007199254740993, 1]""")
    } {
      val s = s"""{"properties": {"n": {"type": ["null", "$t"], $kw}}}"""
      agree(s, values.map(v => s"""{"n": $v}"""))
      agree(s, values.map(v => s"""{"n": $v}"""), decimalForMultipleOf = true)
    }
  }

  test("required: nested parents, scalar/array/string parents and duplicate keys") {
    val s = """{"required": ["id", "p"], "properties": {"id": {"type": "integer"},
              |"p": {"type": ["null", "object"], "required": ["x", "y"],
              |  "properties": {"x": {"type": ["null", "integer"]},
              |    "q": {"type": ["null", "object"], "required": ["z"], "properties": {}}}}}}"""
      .stripMargin.replace("\n", " ")
    val texts = Seq(
      """{"id": 1, "p": {"x": 1, "y": null}}""", """{"id": 1, "p": {"x": 1}}""",
      """{"id": 1, "p": null}""", """{"id": 1, "p": 5}""", """{"id": 1, "p": [1]}""",
      """{"id": 1, "p": "{\"x\": 1}"}""", """{"id": 1, "p": "{\"x\": 1, \"y\": 2}"}""",
      """{"id": 1, "p": null, "p": {"x": 1}}""", """{"id": 1, "p": {"x": 1, "y": 2}, "p": {}}""",
      """{"id": 1, "p": {"x": 1, "y": 2, "q": {}}}""", """{"id": 1, "p": {"x": 1, "y": 2, "q": {"z": 0}}}""",
      """{"id": 1, "p": {"x": 1, "y": 2, "q": {"z": 0}, "q": {}}}""", """{"p": {"x": 1, "y": 2}}""",
      """{"id": 1, "id": 2, "p": {"y": 1, "x": 1}}""", """[{"id": 1}]""", "7", null)
    assert(agree(s, texts) == Right(Seq(
      null, "'y' is a required property", null, null, null,
      // get_json_object unquotes a string parent and json_object_keys
      // then reads the object its text holds
      "'y' is a required property", null,
      // duplicates: the first non-null parent is the one whose keys count;
      // from_json keeps the last, so x reads null while its raw is 1
      "'y' is a required property", "p__x: 1 is not of type 'integer'",
      "'z' is a required property", null, null, "'id' is a required property", null,
      null, null, "Message is missing required key 'record'")))
  }

  test("string-declared fields: non-string instances and mixed-type enums") {
    val values = Seq("123", "\"123\"", "1.5", "true", "null", "{\"x\": 1}", "[1]", "\"red\"", "\"a\"", "\"1\"")
    for (kw <- Seq("", """, "pattern": "^[a-z]+$", "maxLength": 2""", """, "enum": ["a", 1, true, null]""",
                   """, "enum": ["red", null]""")) {
      for (t <- Seq(""""string"""", """["null", "string"]""", """["null", "string", "integer"]""")) {
        val s = s"""{"properties": {"v": {"type": $t$kw}}}"""
        agree(s, values.map(v => s"""{"v": $v}""") :+ """{"v": "x", "v": 5}""" :+ """{"v": 5, "v": "x"}""")
      }
    }
    // mixed enums on numeric and boolean leaves coerce (or fail) the same way
    for (t <- Seq("integer", "number", "boolean"); e <- Seq("""[1, "2"]""", """[1, 2.5]""", """["a", true]""")) {
      val s = s"""{"properties": {"v": {"type": ["null", "$t"], "enum": $e}}}"""
      agree(s, Seq("1", "2", "2.5", "true", "null", "\"2\"").map(v => s"""{"v": $v}"""))
    }
  }

  test("JsonCellIsString cases: string, non-string and absent cells") {
    // the probe the Column spelling needs for Draft 4's string keywords,
    // exercised through the kernel's one walk (scalar values, digit-only
    // strings, objects and arrays at a nested leaf)
    val valueGen: Gen[(String, Boolean)] = Gen.oneOf(
      Gen.chooseNum(-100000L, 100000L).map(n => (n.toString, false)),
      Gen.chooseNum(-1e6, 1e6).map(d => (d.toString, false)),
      Gen.oneOf("true", "false").map(v => (v, false)),
      Gen.alphaNumStr.map(s => (s"\"$s\"", true)),
      Gen.chooseNum(0L, 999L).map(n => (s"\"$n\"", true)),
      Gen.const(("{\"x\": 1}", false)),
      Gen.const(("[1, 2]", false)))
    val s = """{"properties": {"a": {"type": "object", "properties": {
              |"b": {"type": ["null", "string"], "maxLength": 1000}}}, "c": {"type": "integer"}}}"""
      .stripMargin.replace("\n", " ")
    val samples = (0 until 40).flatMap(i => valueGen(Gen.Parameters.default, Seed(i.toLong)))
    val texts = samples.flatMap { case (v, _) =>
      Seq(s"""{"a": {"b": $v}, "c": 1}""", s"""{"other": $v}""", """{"a": 5}""", "not json at all")
    }
    val got = agree(s, texts).toOption.get
    samples.zip(got.grouped(4).toSeq).foreach { case ((v, isStr), Seq(present, absent, scalarParent, invalid)) =>
      if (isStr) assert(present == null, v)
      else assert(present == s"a__b: $v is not of type 'string'" ||
        present.startsWith("a__b: ") && present.endsWith(" is not of type 'string'"), v)
      assert(absent == null && scalarParent == null && invalid == null, v)
    }
  }
}
