package graft.validate

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeFormatter,
  CodeGenerator, CodegenContext, GenerateUnsafeProjection}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.SparkSpec
import graft.model.{Singer, TargetConfig}
import graft.pipeline.IngestCore
import graft.schema.JsonSchemaConverter
import graft.validate.Constraints.CompiledConstraints

/** HotSpot does not JIT-compile a method of more than 8,000 bytes of
  * bytecode (`-XX:-DontCompileHugeMethods` is off by default), so a
  * validation plan whose generated code holds such a method validates
  * every record in the bytecode interpreter. This spec compiles the
  * whole-stage code of the strict-mode validation plan for wide schemas
  * and bounds the largest generated method. */
class ValidationJitSizeSpec extends SparkSpec {

  private val HugeMethodLimit = 8000

  private def nullable(t: String, kw: String = ""): String =
    s"""{"type": ["null", "$t"]${if (kw.isEmpty) "" else ", " + kw}}"""

  /** The benchmark's customers stream (v2): 25 leaves, `required`,
    * patterns, an enum, bounds and multipleOf. */
  private val customers: String = {
    val props = Seq(
      "c_custkey" -> """{"type": "integer"}""",
      "c_name" -> nullable("string", """"maxLength": 32"""),
      "c_nationkey" -> nullable("integer", """"minimum": 0"""),
      "c_acctbal" -> nullable("number"),
      "c_mktsegment" -> nullable("string"),
      "c_phone" -> nullable("string", """"pattern": "^[0-9-]+$""""),
      "c_email" -> nullable("string", """"maxLength": 64"""),
      "c_address" -> nullable("string"),
      "c_city" -> nullable("string"),
      "c_postal" -> nullable("string", """"pattern": "^[0-9]{5}$""""),
      "c_signup" -> nullable("string", """"format": "date-time""""),
      "c_tier" -> nullable("string", """"enum": ["bronze", "silver", "gold", "platinum"]"""),
      "c_credit_limit" -> nullable("number", """"minimum": 0"""),
      "c_active" -> nullable("boolean"),
      "c_n_orders" -> nullable("integer", """"minimum": 0"""),
      "c_last_order" -> nullable("string", """"format": "date-time""""),
      "c_channel" -> nullable("string"),
      "c_opt_in" -> nullable("boolean"),
      "c_region" -> nullable("integer"),
      "c_balance_bucket" -> nullable("integer", """"multipleOf": 100"""),
      "c_comment" -> nullable("string", """"maxLength": 80"""),
      "c_score" -> nullable("number"),
      "c_birth_year" -> nullable("integer", """"minimum": 1900, "maximum": 2010"""),
      "c_language" -> nullable("string"),
      "c_loyalty_points" -> nullable("integer", """"minimum": 0"""))
    props.map { case (k, v) => s""""$k": $v""" }
      .mkString("""{"type": "object", "required": ["c_custkey"], "properties": {""", ", ", "}}")
  }

  /** 40 leaves over two nesting levels, every keyword on every leaf of
    * its kind, `required` at each level. */
  private val everyKeyword: String = {
    def leaves(prefix: String): Seq[String] = (0 until 10).flatMap { i =>
      Seq(
        s""""${prefix}i$i": ${nullable("integer", """"minimum": 0, "maximum": 100, "exclusiveMaximum": true, "multipleOf": 3, "enum": [3, 6, 9]""")}""",
        s""""${prefix}n$i": ${nullable("number", """"minimum": -1.5, "maximum": 1000.25, "multipleOf": 0.01""")}""",
        s""""${prefix}s$i": ${nullable("string", """"minLength": 1, "maxLength": 8, "pattern": "^[a-z]+$", "enum": ["red", "green"]""")}""")
    }.take(20)
    val inner = leaves("in_").mkString(", ")
    s"""{"type": "object", "required": ["i0", "nested"], "properties": {${leaves("").mkString(", ")},
       | "nested": {"type": ["null", "object"], "required": ["in_i0"], "properties": {$inner}}}}"""
      .stripMargin.replace("\n", " ")
  }

  /** The largest method, in bytes of bytecode, of the whole-stage code
    * of a strict-validation plan (first violating row) for
    * `schemaJson`, validated by `v`.
    *
    * `from_json` is a CodegenFallback expression, and an operator that
    * evaluates one never joins a whole-stage stage: the Column spelling
    * parsed in a projection of its own (it reads the struct many times)
    * and compiled its `coalesce` in the stage above it, the kernel's
    * single read lets the optimizer fold the parse into a filter that
    * Spark compiles as a standalone predicate. So the plan here starts
    * from an already-parsed struct column, and the validation expression
    * is compiled the way it was in production at its largest: inlined
    * into one whole-stage method. */
  private def maxMethodBytes(schemaJson: String,
                             v: (CompiledConstraints, Column, Column) => Column): Int = {
    val node = Singer.parseJson(schemaJson)
    val st = JsonSchemaConverter.toStructType(node)
    val parsed = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row("{}", null)), 1),
      StructType(Seq(StructField("rec", StringType), StructField("r", st))))
    val plan = parsed
      .select(v(Constraints.compile(node), col("r"), col("rec")).as("v"))
      .filter(col("v").isNotNull).limit(1)
      .queryExecution.executedPlan
    val stages = plan.collect { case w: WholeStageCodegenExec => w }
    assert(stages.exists(_.find(_.expressions.exists(_.exists(e =>
      e.isInstanceOf[ValidateRecord] || e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Coalesce]))).isDefined),
      s"validation is not whole-stage compiled in\n$plan")
    stages.map(w => CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize).max
  }

  for ((name, schema) <- Seq("customers (25 leaves)" -> customers, "40 leaves, every keyword" -> everyKeyword)) {
    test(s"validation plan for $name: every generated method is JIT-compilable") {
      val bytes = maxMethodBytes(schema, Constraints.violation)
      info(s"largest generated method: $bytes bytes")
      assert(bytes < HugeMethodLimit, s"largest generated method is $bytes bytes")
    }
  }

  test("the measurement sees the limit: the Column-tree spelling exceeds it") {
    val bytes = maxMethodBytes(customers, ReferenceConstraints.violation)
    info(s"largest generated method: $bytes bytes")
    assert(bytes > HugeMethodLimit, s"largest generated method is $bytes bytes")
  }

  /** The largest method of the code Spark generates for `exprs` as a
    * standalone projection over `input`: `GenerateUnsafeProjection`'s
    * class, as `ProjectExec` compiles it outside whole-stage codegen. */
  private def projectionMethodBytes(plan: ProjectExec): Int = {
    val ctx = new CodegenContext
    val bound = plan.projectList.map(e => BindReferences.bindReference(e: Expression, plan.child.output))
    val eval = GenerateUnsafeProjection.createCode(ctx, bound, conf.subexpressionEliminationEnabled)
    val body =
      s"""public java.lang.Object generate(Object[] references) {
         |  return new SpecificUnsafeProjection(references);
         |}
         |class SpecificUnsafeProjection extends ${classOf[UnsafeProjection].getName} {
         |  private Object[] references;
         |  ${ctx.declareMutableStates()}
         |  public SpecificUnsafeProjection(Object[] references) {
         |    this.references = references;
         |    ${ctx.initMutableStates()}
         |  }
         |  public void initialize(int partitionIndex) { ${ctx.initPartition()} }
         |  public java.lang.Object apply(java.lang.Object row) { return apply((InternalRow) row); }
         |  public UnsafeRow apply(InternalRow ${ctx.INPUT_ROW}) {
         |    ${eval.code}
         |    return ${eval.value};
         |  }
         |  ${ctx.declareAddedFunctions()}
         |}""".stripMargin
    CodeGenerator.compile(CodeFormatter.stripOverlappingComments(
      new CodeAndComment(body, ctx.getPlaceHolderToComments())))._2.maxMethodCodeSize
  }

  private def conf = spark.sessionState.conf

  /** Whole-stage stages and the projections outside them, with their
    * largest generated method. */
  private def generated(plan: SparkPlan): Seq[(SparkPlan, Int)] = plan match {
    case w: WholeStageCodegenExec => Seq(w -> CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize)
    case p: ProjectExec => (p -> projectionMethodBytes(p)) +: generated(p.child)
    case other => other.children.flatMap(generated)
  }

  for (n <- Seq(20, 100)) {
    test(s"fused phase-1 plan over a $n-epoch batch: every generated method is JIT-compilable") {
      import spark.implicits._
      // Four streams, n / 4 schema epochs each, the two wide schemas in turn.
      val lines = (0 until n).flatMap { k =>
        val s = s"s${k % 4}"
        Seq(s"""{"type": "SCHEMA", "stream": "$s", "schema": ${if (k % 2 == 0) customers else everyKeyword}, "key_properties": []}""",
          s"""{"type": "RECORD", "stream": "$s", "record": {"c_custkey": $k, "i0": 3, "nested": {"in_i0": 3}}}""")
      }
      val typed = IngestCore.envelope(spark.sparkContext.parallelize(lines, 1).toDF("value")).localCheckpoint()
      val epochs = IngestCore.epochs(IngestCore.controlPlane(typed), Map.empty)
      assert(epochs.size == n)
      val declared = epochs.map(e => JsonSchemaConverter.toStructType(e.schema.schema))
      val key = "spark.sql.adaptive.enabled"
      val aqe = conf.getConfString(key)
      spark.conf.set(key, "false") // the plan as compiled, not AQE's initial plan
      val plan = try IngestCore.phaseOne(IngestCore.records(typed), epochs, declared, TargetConfig())
        .get.queryExecution.executedPlan finally spark.conf.set(key, aqe)
      val sizes = generated(plan)
      assert(sizes.exists(_._1.exists(_.expressions.exists(_.exists(_.isInstanceOf[ValidateRecord])))),
        s"no measured node validates in\n$plan")
      info(sizes.map { case (p, b) => s"${p.nodeName} $b" }.mkString("largest method per node: ", ", ", ""))
      val bytes = sizes.map(_._2).max
      assert(bytes < HugeMethodLimit, s"largest generated method is $bytes bytes")
    }
  }
}
