package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.model.TargetConfig

class StreamingIngestSpec extends SparkSpec {

  private val schemaLine =
    """{"type": "SCHEMA", "stream": "s1", "schema": {"properties": {
      |"pk": {"type": ["null", "integer"]},
      |"v": {"maxLength": 8, "type": ["null", "string"]}}, "type": "object"},
      |"key_properties": ["pk"]}""".stripMargin.replace("\n", " ")

  test("streaming ingest: micro-batches append per-stream parquet; registry persists across batches") {
    val in = Files.createTempDirectory("stream-in")
    val out = Files.createTempDirectory("stream-out").toString
    val cp = Files.createTempDirectory("stream-cp").toString
    val ingest = new StreamingIngest(spark, out,
      TargetConfig(streamsInSeparateFolder = true))

    // batch 1: schema + 2 records + trailing state
    Files.writeString(in.resolve("b1.jsonl"), Seq(
      schemaLine,
      """{"type": "RECORD", "stream": "s1", "record": {"pk": 1, "v": "a"}}""",
      """{"type": "RECORD", "stream": "s1", "record": {"pk": 2, "v": "b"}}""",
      """{"type": "STATE", "value": {"bookmarks": {"s1": 2}}}""").mkString("\n"))
    val q1 = ingest.start(in.toString, cp)
    q1.awaitTermination()
    assert(spark.read.parquet(s"$out/s1").count() == 2)
    assert(ingest.emittedState.contains("""{"bookmarks":{"s1":2}}"""))

    // batch 2: records only — schema registry must persist, state resets
    Files.writeString(in.resolve("b2.jsonl"),
      """{"type": "RECORD", "stream": "s1", "record": {"pk": 3, "v": "c"}}""")
    val q2 = ingest.start(in.toString, cp)
    q2.awaitTermination()
    assert(spark.read.parquet(s"$out/s1").count() == 3)
    assert(ingest.emittedState.isEmpty) // P8: record after last STATE
  }

  test("streaming: SCHEMA after its RECORD in one batch fails (in-batch order check)") {
    val in = Files.createTempDirectory("stream-in3")
    val out = Files.createTempDirectory("stream-out3").toString
    val cp = Files.createTempDirectory("stream-cp3").toString
    Files.writeString(in.resolve("b1.jsonl"), Seq(
      """{"type": "RECORD", "stream": "s1", "record": {"pk": 1, "v": "a"}}""",
      schemaLine).mkString("\n"))
    val ingest = new StreamingIngest(spark, out, TargetConfig())
    val q = ingest.start(in.toString, cp)
    val e = intercept[Exception] { q.awaitTermination() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(
      _.contains("A record for stream s1 was encountered before a corresponding schema")))

    // Crash-resume retry of the SAME batch must fail IDENTICALLY: the
    // failing attempt must not have persisted the batch's SCHEMA (else
    // the retry finds it registered, skips the order check, and the
    // protocol error silently vanishes).
    val ingest2 = new StreamingIngest(spark, out, TargetConfig())
    val q2 = ingest2.start(in.toString, cp)
    val e2 = intercept[Exception] { q2.awaitTermination() }
    assert(messages(e2).exists(
      _.contains("A record for stream s1 was encountered before a corresponding schema")))
  }

  test("streaming: re-emitted SCHEMA reshapes records, in-batch and across batches") {
    val in = Files.createTempDirectory("stream-in4")
    val out = Files.createTempDirectory("stream-out4").toString
    val cp = Files.createTempDirectory("stream-cp4").toString
    val v2 =
      """{"type": "SCHEMA", "stream": "s1", "schema": {"properties": {
        |"pk": {"type": ["null", "integer"]},
        |"v": {"maxLength": 8, "type": ["null", "string"]},
        |"v_new": {"type": ["null", "string"]}}, "type": "object"},
        |"key_properties": ["pk"]}""".stripMargin.replace("\n", " ")
    // inferExtraFields off: this test pins the declared-schema reshaping
    // (record 1's v_new is DROPPED because v1 doesn't declare it) — §1.4
    // passthrough would keep it; that behavior has its own test below.
    val ingest = new StreamingIngest(spark, out,
      TargetConfig(streamsInSeparateFolder = true, inferExtraFields = false))

    // batch 1: v1 record, then an in-batch re-emit to v2 and a v2 record
    Files.writeString(in.resolve("b1.jsonl"), Seq(
      schemaLine,
      """{"type": "RECORD", "stream": "s1", "record": {"pk": 1, "v": "a", "v_new": "dropped"}}""",
      v2,
      """{"type": "RECORD", "stream": "s1", "record": {"pk": 2, "v": "b", "v_new": "kept"}}""").mkString("\n"))
    ingest.start(in.toString, cp).awaitTermination()
    // batch 2: registry must now hold v2 (last wins), shaping this record
    Files.writeString(in.resolve("b2.jsonl"),
      """{"type": "RECORD", "stream": "s1", "record": {"pk": 3, "v": "c", "v_new": "persisted"}}""")
    ingest.start(in.toString, cp).awaitTermination()

    val df = spark.read.option("mergeSchema", "true").parquet(s"$out/s1")
    val byPk = df.collect().map(r => r.getAs[Long]("pk") -> r.getAs[String]("v_new")).toMap
    assert(byPk == Map(1L -> null, 2L -> "kept", 3L -> "persisted"))
  }

  test("streaming: metadata columns added when configured (L1 parity with batch)") {
    val in = Files.createTempDirectory("stream-in5")
    val out = Files.createTempDirectory("stream-out5").toString
    val cp = Files.createTempDirectory("stream-cp5").toString
    val ingest = new StreamingIngest(spark, out,
      TargetConfig(streamsInSeparateFolder = true, addMetadataColumns = true),
      clock = () => "20260101_000000-000000")
    Files.writeString(in.resolve("b1.jsonl"), Seq(
      schemaLine,
      """{"type": "RECORD", "stream": "s1", "record": {"pk": 1, "v": "a"}, "time_extracted": "2026-01-01T00:00:00Z"}""").mkString("\n"))
    ingest.start(in.toString, cp).awaitTermination()
    val row = spark.read.parquet(s"$out/s1").collect().head
    assert(row.getAs[String]("_sdc_extracted_at") == "2026-01-01T00:00:00Z")
    assert(row.getAs[String]("_sdc_batched_at") == "20260101_000000-000000")
  }

  test("streaming: extra record fields survive when infer_extra_fields (§1.4 parity)") {
    val in = Files.createTempDirectory("stream-in6")
    val out = Files.createTempDirectory("stream-out6").toString
    val cp = Files.createTempDirectory("stream-cp6").toString
    val ingest = new StreamingIngest(spark, out,
      TargetConfig(streamsInSeparateFolder = true)) // inferExtraFields defaults true
    Files.writeString(in.resolve("b1.jsonl"), Seq(
      schemaLine,
      """{"type": "RECORD", "stream": "s1", "record": {"pk": 1, "v": "a", "undeclared": "kept"}}""").mkString("\n"))
    ingest.start(in.toString, cp).awaitTermination()
    val row = spark.read.parquet(s"$out/s1").collect().head
    assert(row.getAs[String]("undeclared") == "kept")
  }

  test("streaming: RECORD without a 'record' key is a Singer protocol error") {
    val in = Files.createTempDirectory("stream-in9")
    val out = Files.createTempDirectory("stream-out9").toString
    val cp = Files.createTempDirectory("stream-cp9").toString
    Files.writeString(in.resolve("b1.jsonl"), Seq(
      schemaLine,
      """{"type": "RECORD", "stream": "s1"}""").mkString("\n"))
    val ingest = new StreamingIngest(spark, out, TargetConfig())
    val q = ingest.start(in.toString, cp)
    val e = intercept[Exception] { q.awaitTermination() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("Message is missing required key 'record'")))
  }

  test("streaming: naming_convention + s3_key_prefix shape the output key (S8/L3 parity)") {
    val in = Files.createTempDirectory("stream-in7")
    val out = Files.createTempDirectory("stream-out7").toString
    val cp = Files.createTempDirectory("stream-cp7").toString
    val ingest = new StreamingIngest(spark, out,
      TargetConfig(s3KeyPrefix = "pfx-",
        namingConvention = Some("exports/{stream}-{date}.parquet")),
      clock = () => "20260101_000000-000000")
    Files.writeString(in.resolve("b1.jsonl"), Seq(
      schemaLine,
      """{"type": "RECORD", "stream": "s1", "record": {"pk": 1, "v": "a"}}""").mkString("\n"))
    ingest.start(in.toString, cp).awaitTermination()
    // prefix inserted after the template's last '/', same pin as NamingSpec
    val expected = s"$out/exports/pfx-s1-20260101.parquet"
    assert(spark.read.parquet(expected).count() == 1)
  }

  /** Runs the live loop over `in` on another thread, as graft.Main runs
    * it on its own; the future completes once the loop returns. */
  private def loop(ingest: StreamingIngest, in: java.io.InputStream): Future[Unit] =
    Future(ingest.runStdin(in))(ExecutionContext.global)

  test("live stdin: unbounded pipe, incremental batches before EOF") {
    val out = Files.createTempDirectory("live-out").toString
    val pipeIn = new java.io.PipedInputStream(1 << 16)
    val writer = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(new java.io.PipedOutputStream(pipeIn),
        java.nio.charset.StandardCharsets.UTF_8), true)
    val ingest = new StreamingIngest(spark, out, TargetConfig(streamsInSeparateFolder = true))
    val run = loop(ingest, pipeIn)
    try {
      // A read may meet a write in progress, whose output is not there yet.
      def settle(cond: => Boolean): Unit = {
        def holds = scala.util.Try(cond).getOrElse(false)
        val end = System.currentTimeMillis + 30000
        while (!holds && System.currentTimeMillis < end) Thread.sleep(50)
        assert(holds)
      }
      // wave 1: schema + 2 records, while the pipe stays OPEN — the loop
      // batches whatever has arrived.
      writer.println(schemaLine)
      writer.println("""{"type": "RECORD", "stream": "s1", "record": {"pk": 1, "v": "a"}}""")
      writer.println("""{"type": "RECORD", "stream": "s1", "record": {"pk": 2, "v": "b"}}""")
      settle(spark.read.parquet(s"$out/s1").count() == 2)
      // wave 2: a LATER record + trailing state — a genuinely
      // incremental batch against the same registry.
      writer.println("""{"type": "RECORD", "stream": "s1", "record": {"pk": 3, "v": "c"}}""")
      writer.println("""{"type": "STATE", "value": {"bookmarks": {"s1": 3}}}""")
      settle(spark.read.parquet(s"$out/s1").count() == 3 &&
        ingest.emittedState.contains("""{"bookmarks":{"s1":3}}"""))
    } finally writer.close()
    Await.result(run, 2.minutes)
    // Every row exactly once.
    val pks = spark.read.parquet(s"$out/s1").collect()
      .map(r => r.getAs[Long]("pk")).sorted.toSeq
    assert(pks == Seq(1L, 2L, 3L))
  }

  test("streaming: record for unknown stream fails the batch") {
    val in = Files.createTempDirectory("stream-in2")
    val out = Files.createTempDirectory("stream-out2").toString
    val cp = Files.createTempDirectory("stream-cp2").toString
    Files.writeString(in.resolve("b1.jsonl"),
      """{"type": "RECORD", "stream": "nope", "record": {"pk": 1}}""")
    val ingest = new StreamingIngest(spark, out, TargetConfig())
    val q = ingest.start(in.toString, cp)
    val e = intercept[Exception] { q.awaitTermination() }
    assert(e.getMessage.contains("nope") ||
      Option(e.getCause).exists(_.getMessage.contains("nope")))
  }

  private def lines(ls: String*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(ls, 1).toDF("value")
  }

  private def rec(stream: String, pk: Int, v: String = "ok") =
    s"""{"type": "RECORD", "stream": "$stream", "record": {"pk": $pk, "v": "$v"}}"""

  test("without strict validation, constraints Java cannot compile do not stop a run, a micro-batch or a restart") {
    // A Python-style named group and a non-numeric minimum: neither
    // compiles, and neither matters unless records are validated.
    val odd = """{"type": "SCHEMA", "stream": "s1", "schema": {"properties": {
      |"pk": {"type": ["null", "integer"], "minimum": "low"},
      |"v": {"pattern": "(?P<y>\\d{4})", "type": ["null", "string"]}}, "type": "object"},
      |"key_properties": ["pk"]}""".stripMargin.replace("\n", " ")
    val config = TargetConfig(strictValidation = false, streamsInSeparateFolder = true)
    val f = Files.createTempFile("odd-run", ".jsonl")
    Files.writeString(f, Seq(odd, rec("s1", 1), rec("s1", 2)).mkString("\n"))
    val runOut = Files.createTempDirectory("odd-run").toString
    graft.pipeline.SingerPipeline.run(spark, f.toString, runOut, config)
    assert(spark.read.parquet(s"$runOut/s1").count() == 2)
    // s1's SCHEMA arrives in a batch where only s2 has records; it is
    // registered and persisted, and a restarted ingest reloads it.
    val out = Files.createTempDirectory("odd-stream").toString
    val ingest = new StreamingIngest(spark, out, config)
    ingest.processBatch(lines(schemaLine.replace("\"s1\"", "\"s2\""), odd, rec("s2", 1)))
    ingest.processBatch(lines(rec("s1", 1), rec("s2", 2)))
    new StreamingIngest(spark, out, config).processBatch(lines(rec("s1", 2)))
    assert(spark.read.parquet(s"$out/s1").count() == 2)
    assert(spark.read.parquet(s"$out/s2").count() == 2)
  }

  test("streaming: a partial registry temp file left by a crash beside a good registry still reloads the good schema") {
    val out = Files.createTempDirectory("stream-registry").toString
    val config = TargetConfig(streamsInSeparateFolder = true)
    new StreamingIngest(spark, out, config).processBatch(lines(schemaLine, rec("s1", 1)))
    // A re-emitted SCHEMA persists over the entry it replaces.
    new StreamingIngest(spark, out, config).processBatch(lines(schemaLine, rec("s1", 2)))
    val registry = java.nio.file.Paths.get(out, "_graft_registry")
    assert(Files.readString(registry.resolve("s1.json")) == schemaLine)
    // A crash while persisting s1's schema again leaves a partial temporary file.
    Files.writeString(registry.resolve("s1.json.tmp"), schemaLine.take(20))
    new StreamingIngest(spark, out, config).processBatch(lines(rec("s1", 3)))
    assert(spark.read.parquet(s"$out/s1").count() == 3)
  }

  test("streaming: chunk files of different sizes are read in name order (SCHEMA in the smallest, first chunk)") {
    val in = Files.createTempDirectory("stream-in10")
    val out = Files.createTempDirectory("stream-out10").toString
    val cp = Files.createTempDirectory("stream-cp10").toString
    // Spark packs files into partitions largest first: chunk 1, 2, then 0.
    Files.writeString(in.resolve("chunk-00000000.jsonl"), schemaLine + "\n")
    Files.writeString(in.resolve("chunk-00000001.jsonl"),
      (1 to 60).map(rec("s1", _)).mkString("\n") + "\n")
    Files.writeString(in.resolve("chunk-00000002.jsonl"), ((61 to 80).map(rec("s1", _)) :+
      """{"type": "STATE", "value": {"bookmarks": {"s1": 80}}}""").mkString("\n"))
    val ingest = new StreamingIngest(spark, out, TargetConfig(streamsInSeparateFolder = true))
    ingest.start(in.toString, cp).awaitTermination()
    assert(spark.read.parquet(s"$out/s1").count() == 80)
    assert(ingest.emittedState.contains("""{"bookmarks":{"s1":80}}"""))
  }

  test("streaming: unknown-type messages are echoed like the batch path (L6 parity)") {
    val ingest = new StreamingIngest(spark, Files.createTempDirectory("stream-out11").toString,
      TargetConfig(streamsInSeparateFolder = true))
    val buf = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(buf, true, "UTF-8")) {
      ingest.processBatch(lines(schemaLine,
        """{"type": "ACTIVATE_VERSION", "stream": "s1", "version": 7}""",
        rec("s1", 1),
        """{"type": "ACTIVATE_VERSION", "stream": "s1", "version": 8}"""))
    }
    val err = buf.toString("UTF-8")
    assert(err.linesIterator.count(_.contains("Unknown message type ACTIVATE_VERSION")) == 2)
    assert(err.contains(""""version": 7""") && err.contains(""""version": 8"""))
  }

  test("streaming: a micro-batch with an invalid record appends nothing to any stream") {
    val out = Files.createTempDirectory("stream-out12").toString
    val ingest = new StreamingIngest(spark, out, TargetConfig(streamsInSeparateFolder = true))
    val batch = lines(schemaLine, schemaLine.replace("\"s1\"", "\"s2\""),
      rec("s1", 1), rec("s2", 1), rec("s2", 2, "far too long for maxLength"))
    // Twice: the restarted query's retry of the batch must not duplicate rows.
    (0 to 1).foreach { _ =>
      val e = intercept[IllegalArgumentException](ingest.processBatch(batch))
      assert(e.getMessage.startsWith("Record validation failed for stream s2"))
    }
    assert(!new java.io.File(s"$out/s1").exists && !new java.io.File(s"$out/s2").exists)
  }

  test("streaming: the first unparseable line of a batch is reported") {
    val ingest = new StreamingIngest(spark, Files.createTempDirectory("stream-out13").toString)
    // Eight unparseable lines; the first also sorts last.
    val bad = (1 to 8).map(i => s"${('z' - i + 1).toChar} not json, line $i")
    val e = intercept[RuntimeException](ingest.processBatch(
      lines(schemaLine +: bad.flatMap(b => Seq(rec("s1", b.length), b)): _*)))
    assert(e.getMessage == "Unable to parse:\nz not json, line 1")
  }

  test("streaming: the bookmark folds across batches (records clear it, an empty batch keeps it)") {
    val ingest = new StreamingIngest(spark, Files.createTempDirectory("stream-out14").toString,
      TargetConfig(streamsInSeparateFolder = true))
    def state(n: Int) = s"""{"type": "STATE", "value": {"bookmarks": {"s1": $n}}}"""
    val out = new java.io.ByteArrayOutputStream()
    def batch(ls: String*): Option[String] = {
      Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        ingest.processBatch(lines(ls: _*))
      }
      ingest.emittedState
    }
    assert(batch(schemaLine, rec("s1", 1), state(1)).contains("""{"bookmarks":{"s1":1}}"""))
    assert(batch(rec("s1", 2)).isEmpty) // records after the last STATE clear it
    assert(batch().isEmpty)             // a batch with neither keeps it cleared
    assert(batch(state(2)).contains("""{"bookmarks":{"s1":2}}"""))
    // stdout carries exactly the bookmark of each batch that has one
    assert(out.toString("UTF-8").linesIterator.toSeq ==
      Seq("""{"bookmarks":{"s1":1}}""", """{"bookmarks":{"s1":2}}"""))
  }

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))

  private def bytesOf(ls: Seq[String]): Array[Byte] = ls.mkString("", "\n", "\n").getBytes("UTF-8")

  test("live stdin: a read error after some lines fails the loop instead of passing for EOF") {
    val out = Files.createTempDirectory("live-out2").toString
    // Two lines, then the pipe breaks.
    val failing = new java.io.InputStream {
      private val head = new java.io.ByteArrayInputStream(bytesOf(Seq(schemaLine, rec("s1", 1))))
      override def read(): Int = {
        val b = head.read()
        if (b >= 0) b else throw new java.io.IOException("pipe broke")
      }
    }
    val run = loop(new StreamingIngest(spark, out, TargetConfig()), failing)
    val e = intercept[Exception](Await.result(run, 2.minutes))
    assert(messages(e).exists(_.contains("pipe broke")), messages(e))
  }

  /** Run the live loop over `in` to its end, like graft.Main. */
  private def runLive(in: java.io.InputStream, out: String): Unit =
    new StreamingIngest(spark, out, TargetConfig(streamsInSeparateFolder = true)).runStdin(in)

  /** A pipe a writer thread fills with `ls` once `delayMs` has passed,
    * then closes. */
  private def latePipe(ls: Seq[String], delayMs: Long): java.io.InputStream = {
    val in = new java.io.PipedInputStream(1 << 16)
    val out = new java.io.PipedOutputStream(in)
    val t = new Thread(() => {
      Thread.sleep(delayMs)
      try out.write(bytesOf(ls)) finally out.close()
    })
    t.setDaemon(true)
    t.start()
    in
  }

  test("live stdin: a second live stream in one JVM ingests its whole pipe") {
    val first = Files.createTempDirectory("live-first").toString
    runLive(new java.io.ByteArrayInputStream(bytesOf(Seq(schemaLine, rec("s1", 1)))), first)
    val second = Files.createTempDirectory("live-second").toString
    runLive(latePipe(schemaLine +: (1 to 20).map(rec("s1", _)), delayMs = 1000), second)
    assert(spark.read.parquet(s"$first/s1").count() == 1)
    assert(spark.read.parquet(s"$second/s1").count() == 20)
  }

  test("live stdin: a stream stopped before its EOF does not end the next stream's input") {
    // The first stream's pipe stays open: its first batch fails (a record
    // of an unknown stream), which stops its reader before the tap closes.
    val openIn = new java.io.PipedInputStream(1 << 16)
    val openOut = new java.io.PipedOutputStream(openIn)
    openOut.write(bytesOf(Seq(schemaLine, rec("nope", 1))))
    openOut.flush()
    val e = intercept[Exception](runLive(openIn, Files.createTempDirectory("live-open").toString))
    assert(messages(e).exists(_.contains("nope")), messages(e))
    // Its reader is gone: the first tap can no longer write.
    intercept[java.io.IOException] { openOut.write(bytesOf(Seq(rec("s1", 2)))); openOut.flush() }
    val out = Files.createTempDirectory("live-next").toString
    runLive(latePipe(schemaLine +: (1 to 20).map(rec("s1", _)), delayMs = 500), out)
    assert(spark.read.parquet(s"$out/s1").count() == 20)
  }

  // A warm batch reads the stdin lines in its first job only (the
  // control plane fills the envelope's checkpoint), then runs phase 1
  // and one write per stream.
  test("live stdin: each batch reads its lines once, and a warm two-stream batch runs at most 4 jobs, each labelled with its layer and batch") {
    val out = Files.createTempDirectory("live-rows").toString
    val jobs = new ConcurrentLinkedQueue[(String, String)]() // (batch, layer)
    val reads = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val stageBatch = new java.util.concurrent.ConcurrentHashMap[Integer, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val batch = Option(e.properties).map(_.getProperty(StreamingIngest.BatchKey)).orNull
        jobs.add((batch, Option(e.properties).map(_.getProperty("graft.layer")).orNull))
        if (batch != null) e.stageIds.foreach(stageBatch.put(_, batch))
      }
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "StdinBatchRDD"))
          Option(stageBatch.get(e.stageInfo.stageId))
            .foreach(b => reads.merge(b, 1, (a: Integer, c: Integer) => a + c))
    }
    val pages = (0 until 5).map(p =>
      (1 to 15).flatMap(i => Seq(rec("s1", 100 * p + i), rec("s2", 100 * p + i))) :+
        s"""{"type": "STATE", "value": {"page": $p}}""")
    val schemas = Seq(schemaLine, schemaLine.replace("\"s1\"", "\"s2\""))
    val in = new java.io.PipedInputStream(1 << 20)
    val pipe = new java.io.PipedOutputStream(in)
    // The tap writes each page at once, after the last one's bookmark is
    // out: the loop takes each page whole, as a batch of its own.
    val stdout = new java.io.ByteArrayOutputStream()
    def printed(p: Int) = stdout.synchronized(stdout.toString("UTF-8")).contains(s"""{"page":$p}""")
    val tap = new Thread(() => try pages.zipWithIndex.foreach { case (page, p) =>
      val end = System.currentTimeMillis + 60000
      while (p > 0 && !printed(p - 1) && System.currentTimeMillis < end) Thread.sleep(10)
      pipe.write(bytesOf(if (p == 0) schemas ++ page else page))
      pipe.flush()
    } finally pipe.close())
    tap.setDaemon(true)
    org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      tap.start()
      Console.withOut(new java.io.PrintStream(stdout, true, "UTF-8"))(runLive(in, out))
    } finally {
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val all = jobs.asScala.toSeq
    val perBatch = all.groupBy(_._1).view.mapValues(_.size).toMap
    info(perBatch.toSeq.sortBy(_._1.toInt).map { case (b, n) =>
      s"batch $b: $n jobs, ${reads.getOrDefault(b, 0)} stdin reads" }.mkString("; "))
    assert(all.nonEmpty && all.forall { case (b, l) => b != null && l != null }, all)
    assert(perBatch.keySet.forall(b => reads.getOrDefault(b, 0) == 1), reads)
    assert(spark.read.parquet(s"$out/s1").count() == 75 && spark.read.parquet(s"$out/s2").count() == 75)
    assert(stdout.toString("UTF-8").linesIterator.toSeq.last == """{"page":4}""")
    assert(perBatch.size == pages.size, perBatch)
    // Every batch after the one that registered the schemas is warm.
    perBatch.filter(_._1 != "0").foreach { case (b, n) => assert(n <= 4, s"batch $b: $n jobs") }
  }

  test("live stdin: a bookmark prints only after its batch's writes, and a failing batch appends nothing and prints none") {
    val dir = Files.createTempDirectory("live-fail").toString
    def state(n: Int) = s"""{"type": "STATE", "value": {"n": $n}}"""
    // Each line printed, with the rows on disk when it was printed.
    val printed = ArrayBuffer.empty[(String, Long)]
    val stdout = new java.io.PrintStream(new java.io.ByteArrayOutputStream(), true, "UTF-8") {
      override def println(x: String): Unit = printed += x -> spark.read.parquet(s"$dir/s1").count()
    }
    val ingest = new StreamingIngest(spark, dir, TargetConfig(streamsInSeparateFolder = true))
    Console.withOut(stdout) {
      ingest.runStdin(new java.io.ByteArrayInputStream(
        bytesOf(Seq(schemaLine, rec("s1", 1), rec("s1", 2), state(1)))))
      assert(printed.toSeq == Seq("""{"n":1}""" -> 2L))
      val e = intercept[IllegalArgumentException](ingest.runStdin(new java.io.ByteArrayInputStream(
        bytesOf(Seq(rec("s1", 3, "far too long for maxLength"), state(2))))))
      assert(e.getMessage.startsWith("Record validation failed for stream s1"))
    }
    assert(printed.toSeq == Seq("""{"n":1}""" -> 2L))
    assert(spark.read.parquet(s"$dir/s1").count() == 2)
  }

  private def capLine(i: Int) = f"line-$i%05d" // 11 bytes with its newline

  /** A pipe that a tap thread fills with `ls` and then closes; the tap
    * stops early if the pipe's reading end closes. */
  private def tapInto(ls: Seq[String]): (java.io.InputStream, Thread) = {
    val in = new java.io.PipedInputStream(1 << 10)
    val out = new java.io.PipedOutputStream(in)
    val tap = new Thread(() =>
      try out.write(bytesOf(ls))
      catch { case _: java.io.IOException => () } finally out.close())
    tap.setDaemon(true)
    tap.start()
    (in, tap)
  }

  /** Waits until `feed`'s reader has settled: its input ended, or the
    * next line would pass `cap`. */
  private def settled(feed: StdinFeed, cap: Long): Unit = {
    val end = System.currentTimeMillis + 30000
    while (!feed.readerDone && feed.bufferedBytes + 11 <= cap && System.currentTimeMillis < end)
      Thread.sleep(1)
  }

  /** Every batch `feed` hands out, to the end of its input. */
  private def batches(feed: StdinFeed)(before: => Unit): Seq[(Array[String], Long)] =
    Iterator.continually { before; feed.take() }.takeWhile(_.nonEmpty).flatten.toSeq

  test("live stdin: at its byte cap the reader blocks the tap until the driver takes the buffer, and every line arrives once, in order") {
    val n = 2000 // 22,000 bytes against a 110-byte cap
    val all = (1 to n).map(capLine)
    val (in, tap) = tapInto(all)
    val feed = new StdinFeed(in, capBytes = 110)
    try {
      // Before any take: ten lines fill the cap, and the reader stops.
      settled(feed, 110)
      Thread.sleep(300)
      assert(feed.bufferedBytes == 110)
      assert(tap.isAlive) // the pipe pushes back on the tap
      val got = batches(feed)(())
      got.foreach { case (lines, bytes) =>
        assert(bytes == lines.map(_.getBytes("UTF-8").length + 1L).sum)
        assert(bytes <= 110, bytes)
      }
      assert(got.flatMap(_._1) == all)
    } finally feed.stop()
  }

  test("live stdin: a line larger than the byte cap passes") {
    val big = "x" * 500
    val feed = new StdinFeed(new java.io.ByteArrayInputStream(
      bytesOf(Seq(big, capLine(1), capLine(2)))), capBytes = 110)
    try {
      val got = batches(feed)(())
      assert(got.head._1.toSeq == Seq(big) && got.head._2 == 501) // an empty buffer takes it whole
      assert(got.flatMap(_._1) == Seq(big, capLine(1), capLine(2)))
    } finally feed.stop()
  }

  test("live stdin: stop() ends a reader blocked at the byte cap") {
    val (in, _) = tapInto((1 to 2000).map(capLine))
    val feed = new StdinFeed(in, capBytes = 110)
    settled(feed, 110)
    assert(feed.bufferedBytes == 110)
    feed.stop()
    val end = System.currentTimeMillis + 10000
    while (!feed.readerDone && System.currentTimeMillis < end) Thread.sleep(5)
    assert(feed.readerDone)
  }

  // The loop takes a batch while the last one runs; a settled reader
  // stands in for a batch that runs long enough for it to fill the cap.
  test("live stdin: a backlog over the byte cap runs as cap-sized batches, with no one-line batch but the last") {
    val n = 2000 // 22,000 bytes against a 2 KB cap
    val cap = 2048L
    val all = (1 to n).map(capLine)
    val (in, _) = tapInto(all)
    val feed = new StdinFeed(in, capBytes = cap)
    try {
      val got = batches(feed)(settled(feed, cap))
      val sizes = got.map(_._1.length)
      info(sizes.mkString("lines per batch: ", ",", ""))
      assert(got.flatMap(_._1) == all)
      assert(!sizes.init.contains(1), sizes)
      assert(got.init.forall(_._2 > cap - 11), got.map(_._2)) // full: one more line would not fit
      assert(got.forall(_._2 <= cap), got.map(_._2))
    } finally feed.stop()
  }
}
