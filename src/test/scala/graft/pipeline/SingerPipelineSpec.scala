package graft.pipeline

import java.nio.file.Files
import graft.SparkSpec
import graft.model.TargetConfig

/** Golden end-to-end pipeline spec, replicating the *shape* of the
  * reference's three-stream corpus (FIXTURES.md §1) with real read-back
  * assertions — the reference's own output assertion is a stub
  * (tests/integration/test_target_s3_parquet.py:36-39). */
class SingerPipelineSpec extends SparkSpec {

  private val intSchema =
    """{"minimum": -2147483648, "maximum": 2147483647, "type": ["null", "integer"]}"""
  private def schemaMsg(stream: String, extra: String = "") =
    s"""{"type": "SCHEMA", "stream": "$stream", "schema": {"properties": {
       |"pk": $intSchema, "v_str": {"maxLength": 16, "type": ["null", "string"]},
       |"v_int": $intSchema$extra}, "type": "object"}, "key_properties": ["pk"]}"""
      .stripMargin.replace("\n", " ")

  private val corpus: Seq[String] = Seq(
    """{"type": "STATE", "value": {"currently_syncing": "alpha"}}""",
    schemaMsg("alpha"),
    """{"type": "ACTIVATE_VERSION", "stream": "alpha", "version": 1}""",
    """{"type": "RECORD", "stream": "alpha", "record": {"pk": 1, "v_str": "1", "v_int": 1}, "version": 1, "time_extracted": "2024-05-01T00:00:00.000000Z"}""",
    schemaMsg("beta", """, "v_date": {"format": "date-time", "type": ["null", "string"]}"""),
    """{"type": "RECORD", "stream": "beta", "record": {"pk": 1, "v_str": "a", "v_int": 5, "v_date": "2019-02-01T15:12:45.000000Z", "_sdc_deleted_at": "2019-02-12T01:10:10.000000Z"}}""",
    """{"type": "RECORD", "stream": "beta", "record": {"pk": 2, "v_str": "b", "v_int": 6, "v_date": "2019-02-10T02:00:00.000000Z"}}""",
    schemaMsg("gamma",
      """, "nest": {"type": ["null", "object"], "properties": {
        |"inner": {"type": ["null", "integer"]},
        |"tags": {"type": ["null", "array"], "items": {"type": ["null", "string"]}}}}"""
        .stripMargin.replace("\n", " ")),
    """{"type": "RECORD", "stream": "gamma", "record": {"pk": 10, "v_str": "x", "v_int": 7, "nest": {"inner": 3, "tags": ["10", "11"]}}}""",
    """{"type": "STATE", "value": {"currently_syncing": null, "bookmarks": {"alpha": {"done": true}}}}""",
  )

  private def writeCorpus(lines: Seq[String]): String = {
    val f = Files.createTempFile("corpus", ".jsonl")
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }
  private def outDir(): String = Files.createTempDirectory("graft-out").toString

  test("three-stream golden run: content, flatten, passthrough, state") {
    val out = outDir()
    val res = SingerPipeline.run(spark, writeCorpus(corpus), out,
      TargetConfig(), clock = () => "T0")

    assert(res.outputs.map(_.stream) == Seq("alpha", "beta", "gamma"))
    assert(res.keyProperties("alpha") == Seq("pk"))

    val alpha = spark.read.parquet(s"$out/alpha-T0.parquet")
    assert(alpha.columns.toSeq == Seq("pk", "v_str", "v_int"))
    assert(alpha.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      == Seq((1L, "1", 1L)))

    // _sdc_deleted_at is in no schema but must survive (union-schema §1.4)
    val beta = spark.read.parquet(s"$out/beta-T0.parquet")
    assert(beta.columns.contains("_sdc_deleted_at"))
    val byPk = beta.collect().map(r => r.getAs[Long]("pk") -> r.getAs[String]("_sdc_deleted_at")).toMap
    assert(byPk(1L) == "2019-02-12T01:10:10.000000Z" && byPk(2L) == null)

    // nested flatten with __ names; array rendered as Python repr
    val gamma = spark.read.parquet(s"$out/gamma-T0.parquet")
    assert(gamma.columns.toSeq.contains("nest__inner") && gamma.columns.toSeq.contains("nest__tags"))
    val g = gamma.collect().head
    assert(g.getAs[Long]("nest__inner") == 3L)
    assert(g.getAs[String]("nest__tags") == "['10', '11']")

    // final STATE follows all records -> emitted (P8)
    assert(res.state.exists(_.contains("\"bookmarks\"")))
  }

  test("unknown-type messages are echoed to stderr like the reference (L6)") {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(buf, true, "UTF-8")) {
      SingerPipeline.run(spark, writeCorpus(corpus), outDir(),
        TargetConfig(), clock = () => "T0")
    }
    val err = buf.toString("UTF-8")
    // per-message echo carries the type AND the payload (__init__.py:246-251)
    assert(err.contains("Unknown message type ACTIVATE_VERSION"))
    assert(err.contains(""""version": 1"""))
  }

  test("unknown-type echo is capped; exact total still reported") {
    val many = Seq(schemaMsg("alpha")) ++
      (1 to 8).map(i => s"""{"type": "BOGUS_TYPE", "stream": "alpha", "n": $i}""") ++
      Seq("""{"type": "RECORD", "stream": "alpha", "record": {"pk": 1, "v_str": "s", "v_int": 2}}""")
    val buf = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(buf, true, "UTF-8")) {
      SingerPipeline.run(spark, writeCorpus(many), outDir(),
        TargetConfig(), clock = () => "T0")
    }
    val err = buf.toString("UTF-8")
    val echoed = err.linesIterator.count(_.contains("Unknown message type BOGUS_TYPE"))
    assert(echoed == IngestCore.unknownSampleN)
    assert(err.contains(s"8 unknown-type message(s) total; first ${IngestCore.unknownSampleN} shown"))
    // the first-in-file-order sample, not an arbitrary subset
    assert(err.contains(""""n": 1"""))
  }

  test("state resets to None when a RECORD follows the last STATE (P8)") {
    val lines = Seq(
      """{"type": "STATE", "value": {"bookmarks": {"alpha": 1}}}""",
      schemaMsg("alpha"),
      """{"type": "RECORD", "stream": "alpha", "record": {"pk": 1, "v_str": "s", "v_int": 2}}""")
    val res = SingerPipeline.run(spark, writeCorpus(lines), outDir(),
      TargetConfig(), clock = () => "T0")
    assert(res.state.isEmpty)
  }

  test("invalid JSON line fails with the reference's message") {
    val lines = Seq(schemaMsg("alpha"), "THIS IS NOT JSON")
    val e = intercept[RuntimeException] {
      SingerPipeline.run(spark, writeCorpus(lines), outDir(), TargetConfig())
    }
    assert(e.getMessage.startsWith("Unable to parse:"))
  }

  test("record before schema fails with the reference's message") {
    val lines = Seq(
      schemaMsg("alpha"),
      """{"type": "RECORD", "stream": "beta", "record": {"pk": 1}}""")
    val e = intercept[IllegalArgumentException] {
      SingerPipeline.run(spark, writeCorpus(lines), outDir(), TargetConfig())
    }
    assert(e.getMessage ==
      "A record for stream beta was encountered before a corresponding schema")
  }

  test("constraint violation aborts in strict mode (Draft4 subset)") {
    val lines = Seq(
      schemaMsg("alpha"),
      """{"type": "RECORD", "stream": "alpha", "record": {"pk": 1, "v_str": "this string is far too long for maxLength", "v_int": 1}}""")
    val e = intercept[IllegalArgumentException] {
      SingerPipeline.run(spark, writeCorpus(lines), outDir(), TargetConfig())
    }
    assert(e.getMessage.contains("v_str") && e.getMessage.contains("too long"))
  }

  test("every epoch is validated against its own schema, across streams and re-emits") {
    val strict = schemaMsg("alpha").replace("\"maxLength\": 16", "\"maxLength\": 2")
    def rec(stream: String, v: String) =
      s"""{"type": "RECORD", "stream": "$stream", "record": {"pk": 1, "v_str": "$v", "v_int": 1}}"""
    def run(lines: String*) =
      SingerPipeline.run(spark, writeCorpus(lines), outDir(), TargetConfig())
    // beta's stricter schema governs beta's record, not alpha's looser one
    val other = intercept[IllegalArgumentException](run(
      schemaMsg("alpha"), rec("alpha", "abcdef"), strict.replace("alpha", "beta"), rec("beta", "abcdef")))
    assert(other.getMessage.contains("stream beta") && other.getMessage.contains("too long"), other)
    // a re-emitted stricter schema governs only the records after it
    run(schemaMsg("alpha"), rec("alpha", "abcdef"), strict, rec("alpha", "ab"))
    val later = intercept[IllegalArgumentException](run(
      schemaMsg("alpha"), rec("alpha", "abcdef"), strict, rec("alpha", "abcdef")))
    assert(later.getMessage.contains("too long"), later)
  }

  test("of several failures the first in (stream, epoch) order is raised, inference before validation") {
    // enum on an array leaf: the validator cannot compile (an analysis error).
    val uncompilable = schemaMsg("beta",
      """, "tags": {"type": ["null", "array"], "items": {"type": "integer"}, "enum": [[1]]}""")
    val tooLong = """{"type": "RECORD", "stream": "alpha", "record": {"pk": 1, "v_str": "this string is far too long for maxLength", "v_int": 1}}"""
    val beta = """{"type": "RECORD", "stream": "beta", "record": {"pk": 2, "tags": [1]}}"""
    def failure(lines: String*): Throwable = {
      val out = outDir()
      val e = intercept[Exception](SingerPipeline.run(spark, writeCorpus(lines), out, TargetConfig()))
      assert(Files.list(java.nio.file.Paths.get(out)).count() == 0, "a failed run wrote output")
      e
    }
    val first = failure(schemaMsg("alpha"), uncompilable, beta, tooLong)
    assert(first.isInstanceOf[IllegalArgumentException] && first.getMessage.contains("too long"), first)
    val compile = failure(schemaMsg("alpha"), uncompilable, beta)
    assert(compile.isInstanceOf[org.apache.spark.sql.AnalysisException], compile)
    // A corrupt-record field that is not a string fails inference, which
    // is reported before the same epoch's violation.
    val inference = failure(schemaMsg("alpha"), tooLong,
      """{"type": "RECORD", "stream": "alpha", "record": {"pk": 3, "_corrupt_record": 5}}""")
    assert(inference.isInstanceOf[org.apache.spark.sql.AnalysisException] &&
      inference.getMessage.contains("_corrupt_record"), inference)
  }

  test("type violation detected (string where integer declared)") {
    val lines = Seq(
      schemaMsg("alpha"),
      """{"type": "RECORD", "stream": "alpha", "record": {"pk": "not-an-int", "v_str": "s", "v_int": 1}}""")
    val e = intercept[IllegalArgumentException] {
      SingerPipeline.run(spark, writeCorpus(lines), outDir(), TargetConfig())
    }
    assert(e.getMessage.contains("pk"))
  }

  test("zero-record run emits last state and writes nothing (fixes X4 crash)") {
    val lines = Seq(schemaMsg("alpha"),
      """{"type": "STATE", "value": {"done": true}}""")
    val res = SingerPipeline.run(spark, writeCorpus(lines), outDir(), TargetConfig())
    assert(res.outputs.isEmpty && res.state.contains("""{"done":true}"""))
  }

  test("gzip compression actually compresses (fixes S9) and names the key") {
    val out = outDir()
    val res = SingerPipeline.run(spark, writeCorpus(corpus), out,
      TargetConfig(compression = Some("GZIP")), clock = () => "T1")
    val alphaPath = res.outputs.find(_.stream == "alpha").get.path
    assert(alphaPath.endsWith("alpha-T1.gz.parquet"))
    val parts = new java.io.File(alphaPath).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty && parts.forall(_.getName.contains(".gz.")))
  }

  test("metadata columns added when configured (L1)") {
    val out = outDir()
    SingerPipeline.run(spark, writeCorpus(corpus), out,
      TargetConfig(addMetadataColumns = true), clock = () => "T2")
    val alpha = spark.read.parquet(s"$out/alpha-T2.parquet")
    assert(alpha.columns.contains("_sdc_extracted_at") && alpha.columns.contains("_sdc_batched_at"))
    val r = alpha.collect().head
    assert(r.getAs[String]("_sdc_extracted_at") == "2024-05-01T00:00:00.000000Z")
    assert(r.getAs[String]("_sdc_batched_at") == "T2")
  }

  test("re-emitted SCHEMA reshapes subsequent records (positional last-wins, P3)") {
    val out = outDir()
    val lines = Seq(
      schemaMsg("alpha"),
      """{"type": "RECORD", "stream": "alpha", "record": {"pk": 1, "v_str": "a", "v_int": 1}}""",
      // schema evolution: the tap re-emits with an extra declared column
      schemaMsg("alpha", """, "v_new": {"type": ["null", "string"]}"""),
      """{"type": "RECORD", "stream": "alpha", "record": {"pk": 2, "v_str": "b", "v_int": 2, "v_new": "n"}}""")
    // inferExtraFields=false so shapes come from the DECLARED schemas only:
    // under the old first-wins registration v_new would be dropped entirely.
    SingerPipeline.run(spark, writeCorpus(lines), out,
      TargetConfig(inferExtraFields = false), clock = () => "T4")
    val df = spark.read.option("mergeSchema", "true").parquet(s"$out/alpha-T4.parquet")
    assert(df.count() == 2)
    val byPk = df.collect().map(r => r.getAs[Long]("pk") -> r.getAs[String]("v_new")).toMap
    assert(byPk(1L) == null) // record 1 was shaped by schema v1 (no v_new)
    assert(byPk(2L) == "n")  // record 2 by the re-emitted v2
  }

  test("streams_in_separate_folder writes one folder per stream (X2 spark-native)") {
    val out = outDir()
    val res = SingerPipeline.run(spark, writeCorpus(corpus), out,
      TargetConfig(streamsInSeparateFolder = true), clock = () => "T3")
    assert(res.outputs.map(_.path).toSet ==
      Set(s"$out/alpha", s"$out/beta", s"$out/gamma"))
  }

  test("the first bad line in file order is reported: violations and unparseable lines") {
    // Every record violates maxLength with its own text; the reference
    // aborts at the first, so the message must name record 1.
    val violating = Seq(schemaMsg("alpha")) ++ (1 to 30).map(i =>
      f"""{"type": "RECORD", "stream": "alpha", "record": {"pk": $i, "v_str": "too-long-value-number-$i%02d", "v_int": 1}}""")
    val e = intercept[IllegalArgumentException] {
      SingerPipeline.run(spark, writeCorpus(violating), outDir(), TargetConfig())
    }
    assert(e.getMessage.contains("too-long-value-number-01"), e.getMessage)
    // The earlier unparseable line sorts after the later one.
    val unparseable = Seq(schemaMsg("alpha"), "zzz not json", "aaa not json")
    val u = intercept[RuntimeException] {
      SingerPipeline.run(spark, writeCorpus(unparseable), outDir(), TargetConfig())
    }
    assert(u.getMessage == "Unable to parse:\nzzz not json")
  }

  test("an invalid record in any stream writes nothing: earlier output untouched") {
    val out = outDir()
    val valid = Seq(schemaMsg("alpha"), schemaMsg("beta"),
      """{"type": "RECORD", "stream": "alpha", "record": {"pk": 1, "v_str": "a", "v_int": 1}}""",
      """{"type": "RECORD", "stream": "beta", "record": {"pk": 1, "v_str": "b", "v_int": 1}}""")
    SingerPipeline.run(spark, writeCorpus(valid), out, TargetConfig(), clock = () => "P")
    def files(): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(out)).iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
    }
    val before = files()
    assert(before.keys.exists(_.contains("alpha-P.parquet")))
    // beta sorts after alpha: a sequential validate-then-write loop
    // would already have replaced alpha's files when beta fails.
    val invalid = valid :+
      """{"type": "RECORD", "stream": "beta", "record": {"pk": 2, "v_str": "this string is far too long for maxLength", "v_int": 1}}"""
    val e = intercept[IllegalArgumentException] {
      SingerPipeline.run(spark, writeCorpus(invalid), out, TargetConfig(), clock = () => "P")
    }
    assert(e.getMessage.startsWith("Record validation failed for stream beta"))
    assert(files() == before)
    // Both streams invalid: the first in stream order is reported.
    val both = invalid :+
      """{"type": "RECORD", "stream": "alpha", "record": {"pk": 2, "v_str": "1", "v_int": "not-an-int"}}"""
    val b = intercept[IllegalArgumentException] {
      SingerPipeline.run(spark, writeCorpus(both), out, TargetConfig(), clock = () => "P")
    }
    assert(b.getMessage.startsWith("Record validation failed for stream alpha"))
    assert(files() == before)
  }

  test("a multi-file directory is read in file-name order (SCHEMA in the smallest, first file)") {
    val dir = Files.createTempDirectory("graft-in")
    def rec(i: Int) =
      s"""{"type": "RECORD", "stream": "alpha", "record": {"pk": $i, "v_str": "s$i", "v_int": $i}}"""
    // Spark packs files into partitions largest first: b, c, then a.
    Files.writeString(dir.resolve("a.jsonl"), schemaMsg("alpha") + "\n")
    Files.writeString(dir.resolve("b.jsonl"), (1 to 60).map(rec).mkString("\n") + "\n")
    Files.writeString(dir.resolve("c.jsonl"), ((61 to 80).map(rec) :+
      """{"type": "STATE", "value": {"bookmarks": {"alpha": 80}}}""").mkString("\n"))
    val out = outDir()
    val res = SingerPipeline.run(spark, dir.toString, out,
      TargetConfig(streamsInSeparateFolder = true))
    assert(res.outputs.map(o => (o.stream, o.rows)) == Seq(("alpha", 80L)))
    assert(spark.read.parquet(s"$out/alpha").count() == 80)
    assert(res.state.contains("""{"bookmarks":{"alpha":80}}"""))
  }
}
