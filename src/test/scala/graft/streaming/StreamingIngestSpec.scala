package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryProgress}
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

  test("live stdin DSv2 source: unbounded pipe, incremental micro-batches before EOF") {
    val out = Files.createTempDirectory("live-out").toString
    val cp = Files.createTempDirectory("live-cp").toString
    val pipeIn = new java.io.PipedInputStream(1 << 16)
    val writer = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(new java.io.PipedOutputStream(pipeIn),
        java.nio.charset.StandardCharsets.UTF_8), true)
    try {
      val ingest = new StreamingIngest(spark, out,
        TargetConfig(streamsInSeparateFolder = true))
      val q = ingest.startLive(cp, new StdinFeed(pipeIn))
      def settle(cond: => Boolean): Unit = {
        val end = System.currentTimeMillis + 30000
        while (!cond && System.currentTimeMillis < end) {
          q.processAllAvailable(); Thread.sleep(50)
        }
        assert(cond)
      }
      // wave 1: schema + 2 records, while the pipe stays OPEN — the
      // source batches whatever has arrived.
      writer.println(schemaLine)
      writer.println("""{"type": "RECORD", "stream": "s1", "record": {"pk": 1, "v": "a"}}""")
      writer.println("""{"type": "RECORD", "stream": "s1", "record": {"pk": 2, "v": "b"}}""")
      settle(new java.io.File(s"$out/s1").exists &&
        spark.read.parquet(s"$out/s1").count() == 2)
      // wave 2: a LATER record + trailing state — a genuinely
      // incremental micro-batch against the same registry.
      writer.println("""{"type": "RECORD", "stream": "s1", "record": {"pk": 3, "v": "c"}}""")
      writer.println("""{"type": "STATE", "value": {"bookmarks": {"s1": 3}}}""")
      settle(spark.read.parquet(s"$out/s1").count() == 3 &&
        ingest.emittedState.contains("""{"bookmarks":{"s1":3}}"""))
      q.stop()
      // Every row exactly once (StreamingIngest's core is shared with the
      // landing-directory path; this pins the stdin source end to end).
      val pks = spark.read.parquet(s"$out/s1").collect()
        .map(r => r.getAs[Long]("pk")).sorted.toSeq
      assert(pks == Seq(1L, 2L, 3L))
    } finally writer.close()
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

  test("live stdin: a read error after some lines fails drainAtEof instead of passing for EOF") {
    val out = Files.createTempDirectory("live-out2").toString
    val cp = Files.createTempDirectory("live-cp2").toString
    // Two lines, then the pipe breaks.
    val failing = new java.io.InputStream {
      private val head = new java.io.ByteArrayInputStream(
        (Seq(schemaLine, rec("s1", 1)).mkString("\n") + "\n").getBytes("UTF-8"))
      override def read(): Int = {
        val b = head.read()
        if (b >= 0) b else throw new java.io.IOException("pipe broke")
      }
    }
    val feed = new StdinFeed(failing)
    val q = new StreamingIngest(spark, out, TargetConfig()).startLive(cp, feed)
    try {
      val drain = Future(StreamingIngest.drainAtEof(q, feed.eofReached, pollMs = 10))(
        ExecutionContext.global)
      val e = intercept[Exception](Await.result(drain, 2.minutes))
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("pipe broke")))
    } finally q.stop()
  }

  /** Start a live stream over `in`, drain it at EOF like graft.Main, and
    * return the query's progress. */
  private def drainLive(in: java.io.InputStream, out: String): Seq[StreamingQueryProgress] = {
    val feed = new StdinFeed(in)
    val q = new StreamingIngest(spark, out, TargetConfig(streamsInSeparateFolder = true))
      .startLive(Files.createTempDirectory("live-cp").toString, feed)
    try StreamingIngest.drainAtEof(q, feed.eofReached, pollMs = 10)
    finally q.stop()
    q.recentProgress.toSeq
  }

  /** A pipe a writer thread fills with `ls` once `delayMs` has passed,
    * then closes. */
  private def latePipe(ls: Seq[String], delayMs: Long): java.io.InputStream = {
    val in = new java.io.PipedInputStream(1 << 16)
    val out = new java.io.PipedOutputStream(in)
    val t = new Thread(() => {
      Thread.sleep(delayMs)
      try out.write(ls.mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    })
    t.setDaemon(true)
    t.start()
    in
  }

  test("live stdin: a second live stream in one JVM ingests its whole pipe") {
    val first = Files.createTempDirectory("live-first").toString
    drainLive(new java.io.ByteArrayInputStream(
      (Seq(schemaLine, rec("s1", 1)).mkString("\n") + "\n").getBytes("UTF-8")), first)
    val second = Files.createTempDirectory("live-second").toString
    drainLive(latePipe(schemaLine +: (1 to 20).map(rec("s1", _)), delayMs = 1000), second)
    assert(spark.read.parquet(s"$second/s1").count() == 20)
  }

  test("live stdin: a stream stopped before its EOF does not end the next stream's input") {
    // The first stream's pipe stays open: its reader is still blocked
    // when the query stops, and ends only once the second stream runs.
    val openIn = new java.io.PipedInputStream(1 << 16)
    val openOut = new java.io.PipedOutputStream(openIn)
    openOut.write((Seq(schemaLine, rec("s1", 1)).mkString("", "\n", "\n")).getBytes("UTF-8"))
    openOut.flush()
    val first = new StdinFeed(openIn)
    val q1 = new StreamingIngest(spark, Files.createTempDirectory("live-open").toString,
      TargetConfig(streamsInSeparateFolder = true))
      .startLive(Files.createTempDirectory("live-cp").toString, first)
    q1.processAllAvailable()
    q1.stop()
    val (in, out) = (new java.io.PipedInputStream(1 << 16), Files.createTempDirectory("live-next"))
    val pipe = new java.io.PipedOutputStream(in)
    val second = new StdinFeed(in)
    val q2 = new StreamingIngest(spark, out.toString, TargetConfig(streamsInSeparateFolder = true))
      .startLive(Files.createTempDirectory("live-cp").toString, second)
    try {
      openOut.close() // the first stream's reader now reaches its end
      val end = System.currentTimeMillis + 10000
      while (!first.eofReached && System.currentTimeMillis < end) Thread.sleep(10)
      assert(first.eofReached && !second.eofReached)
      pipe.write((schemaLine +: (1 to 20).map(rec("s1", _))).mkString("", "\n", "\n").getBytes("UTF-8"))
      pipe.close()
      StreamingIngest.drainAtEof(q2, second.eofReached, pollMs = 10)
    } finally q2.stop()
    assert(spark.read.parquet(s"$out/s1").count() == 20)
  }

  test("live stdin: each batch reads its lines once (numInputRows), and a warm batch runs at most 4 jobs") {
    val out = Files.createTempDirectory("live-rows").toString
    val batchJobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => batchJobs.merge(b, 1, (a: Integer, c: Integer) => a + c))
    }
    val pages = (0 until 5).map(p => (1 to 30).map(i => rec("s1", 100 * p + i)) :+
      s"""{"type": "STATE", "value": {"page": $p}}""")
    val lines = schemaLine +: pages.flatten
    val in = new java.io.PipedInputStream(1 << 20)
    val pipe = new java.io.PipedOutputStream(in)
    val tap = new Thread(() => try pages.zipWithIndex.foreach { case (page, p) =>
      pipe.write(((if (p == 0) schemaLine +: page else page).mkString("", "\n", "\n")).getBytes("UTF-8"))
      pipe.flush()
      Thread.sleep(300)
    } finally pipe.close())
    tap.setDaemon(true)
    org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val progress = try { tap.start(); drainLive(in, out) } finally {
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val data = progress.filter(_.numInputRows > 0)
    info(data.map(p => s"batch ${p.batchId}: ${p.numInputRows} rows, " +
      s"${batchJobs.getOrDefault(p.batchId.toString, 0)} jobs").mkString("; "))
    assert(data.map(_.numInputRows).sum == lines.size)
    assert(spark.read.parquet(s"$out/s1").count() == 150)
    // Every batch after the one that registered the schema is warm.
    data.drop(1).foreach(p => assert(batchJobs.getOrDefault(p.batchId.toString, 0) <= 4, p.batchId))
  }

  test("live stdin: a commit past a 200k-line backlog evicts exactly the committed lines") {
    val n = 250000
    val src = new StdinMicroBatchStream(new StdinFeed(new java.io.ByteArrayInputStream(
      (0 until n).map(i => s"line $i").mkString("", "\n", "\n").getBytes("UTF-8"))))
    try {
      val end = System.currentTimeMillis + 60000
      while (src.latestOffset() != StdinOffset(n) && System.currentTimeMillis < end) Thread.sleep(10)
      assert(src.latestOffset() == StdinOffset(n))
      def range(s: Long, e: Long): Seq[String] = src.planInputPartitions(StdinOffset(s), StdinOffset(e))
        .toSeq.flatMap(_.asInstanceOf[StdinPartition].lines.toSeq)
      assert(range(0, n).size == n) // the engine plans a batch before committing it
      src.commit(StdinOffset(200000))
      assert(src.latestOffset() == StdinOffset(n))
      assert(range(200000, n) == (200000 until n).map(i => s"line $i"))
      intercept[IllegalStateException](range(199999, n))
      src.commit(StdinOffset(n - 1))
      assert(src.latestOffset() == StdinOffset(n))
      assert(range(n - 1, n) == Seq(s"line ${n - 1}"))
    } finally src.stop()
  }

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))

  test("live stdin: a second stream over a used checkpoint fails, appending nothing and emitting no bookmark") {
    val (out, cp) = (Files.createTempDirectory("live-reuse").toString,
      Files.createTempDirectory("live-reuse-cp").toString)
    def run(ls: String*): Option[String] = {
      val feed = new StdinFeed(new java.io.ByteArrayInputStream(ls.mkString("", "\n", "\n").getBytes("UTF-8")))
      val ingest = new StreamingIngest(spark, out, TargetConfig(streamsInSeparateFolder = true))
      val q = ingest.startLive(cp, feed)
      try StreamingIngest.drainAtEof(q, feed.eofReached, pollMs = 10) finally q.stop()
      ingest.emittedState
    }
    def state(n: Int) = s"""{"type": "STATE", "value": {"n": $n}}"""
    assert(run(schemaLine, rec("s1", 1), state(1)).contains("""{"n":1}"""))
    // The checkpoint has committed lines [0, 3); each new pipe starts again
    // at 0, whether it is longer than that or exactly as long.
    val stdout = new java.io.ByteArrayOutputStream()
    Seq(Seq(schemaLine, rec("s1", 2), rec("s1", 3), state(2)), Seq(schemaLine, rec("s1", 4), state(3)))
      .foreach { ls =>
        val e = intercept[Exception](Console.withOut(new java.io.PrintStream(stdout, true, "UTF-8")) {
          run(ls: _*)
        })
        assert(messages(e).exists(_.contains("stdin cannot resume at line 3")), messages(e))
      }
    assert(stdout.toString("UTF-8").isEmpty)
    assert(spark.read.parquet(s"$out/s1").collect().map(_.getAs[Long]("pk")).toSeq == Seq(1L))
  }

  private def capLine(i: Int) = f"line-$i%05d" // 11 bytes with its newline

  /** A pipe that a tap thread fills with `ls` and then closes; the tap
    * stops early if the pipe's reading end closes. */
  private def tapInto(ls: Seq[String]): (java.io.InputStream, Thread) = {
    val in = new java.io.PipedInputStream(1 << 10)
    val out = new java.io.PipedOutputStream(in)
    val tap = new Thread(() =>
      try out.write(ls.mkString("", "\n", "\n").getBytes("UTF-8"))
      catch { case _: java.io.IOException => () } finally out.close())
    tap.setDaemon(true)
    tap.start()
    (in, tap)
  }

  private def awaitOffset(src: StdinMicroBatchStream, n: Long): Unit = {
    val end = System.currentTimeMillis + 30000
    while (src.latestOffset() != StdinOffset(n) && System.currentTimeMillis < end) Thread.sleep(5)
    assert(src.latestOffset() == StdinOffset(n))
  }

  test("live stdin: at its byte cap the reader blocks the tap until commits free the buffer, and every line arrives once, in order") {
    val n = 2000 // 22,000 bytes against a 110-byte cap
    val all = (1 to n).map(capLine)
    val (in, tap) = tapInto(all)
    val src = new StdinMicroBatchStream(new StdinFeed(in), capBytes = 110)
    try {
      // Before any batch: ten lines fill the cap, and the reader stops.
      awaitOffset(src, 10)
      Thread.sleep(300)
      assert(src.latestOffset() == StdinOffset(10) && src.bufferedBytes == 110)
      assert(tap.isAlive) // the pipe pushes back on the tap
      // Drive the source in the engine's order: commit the previous batch,
      // then plan the lines that arrived since.
      val got = Seq.newBuilder[String]
      var (at, maxBuffered) = (0L, 0L)
      val end = System.currentTimeMillis + 60000
      while (at < n && System.currentTimeMillis < end) {
        maxBuffered = maxBuffered.max(src.bufferedBytes)
        val latest = src.latestOffset().asInstanceOf[StdinOffset].n
        if (latest > at) {
          src.commit(StdinOffset(at))
          val p = src.planInputPartitions(StdinOffset(at), StdinOffset(latest)).head
            .asInstanceOf[StdinPartition]
          assert(p.sizeInBytes.getAsLong == p.lines.map(_.getBytes("UTF-8").length + 1L).sum)
          got ++= p.lines
          at = latest
        } else Thread.sleep(1)
      }
      assert(got.result() == all)
      // The cap, plus the one line a buffer of planned lines must take.
      assert(maxBuffered <= 110 + 11, maxBuffered)
    } finally src.stop()
  }

  test("live stdin: a line larger than the byte cap passes") {
    val big = "x" * 500
    val src = new StdinMicroBatchStream(new StdinFeed(new java.io.ByteArrayInputStream(
      Seq(big, capLine(1), capLine(2)).mkString("", "\n", "\n").getBytes("UTF-8"))), capBytes = 110)
    try {
      awaitOffset(src, 1) // an empty buffer takes it whole
      def lines(s: Long, e: Long) = src.planInputPartitions(StdinOffset(s), StdinOffset(e))
        .head.asInstanceOf[StdinPartition].lines.toSeq
      assert(lines(0, 1) == Seq(big))
      awaitOffset(src, 2) // planned, it lets one more line in
      src.commit(StdinOffset(1))
      assert(lines(1, 2) == Seq(capLine(1)))
      awaitOffset(src, 3)
      assert(lines(2, 3) == Seq(capLine(2)))
    } finally src.stop()
  }

  test("live stdin: stop() ends a reader blocked at the byte cap") {
    val (in, _) = tapInto((1 to 2000).map(capLine))
    val src = new StdinMicroBatchStream(new StdinFeed(in), capBytes = 110)
    awaitOffset(src, 10)
    src.stop()
    val end = System.currentTimeMillis + 10000
    while (src.readerAlive && System.currentTimeMillis < end) Thread.sleep(5)
    assert(!src.readerAlive)
  }

  // The engine plans a batch (latestOffset with the batch's start), then
  // commits the one before. Each batch is planned only once the reader has
  // settled: blocked at the cap, or at EOF.
  test("live stdin: a backlog over the byte cap runs as half-cap batches, with no one-line batch but the last") {
    val n = 2000 // 22,000 bytes against a 2 KB cap
    val cap = 2048L
    val all = (1 to n).map(capLine)
    val (in, _) = tapInto(all)
    val feed = new StdinFeed(in)
    val src = new StdinMicroBatchStream(feed, capBytes = cap)
    try {
      val (batches, bytes) = (Seq.newBuilder[Seq[String]], Seq.newBuilder[Long])
      var at = 0L
      val end = System.currentTimeMillis + 60000
      while (at < n && System.currentTimeMillis < end) {
        while (!feed.eofReached && src.bufferedBytes + 11 <= cap &&
          System.currentTimeMillis < end) Thread.sleep(1)
        val e = src.latestOffset(StdinOffset(at), ReadLimit.allAvailable())
          .asInstanceOf[StdinOffset].n
        if (e > at) {
          val p = src.planInputPartitions(StdinOffset(at), StdinOffset(e)).head
            .asInstanceOf[StdinPartition]
          batches += p.lines.toSeq
          bytes += p.bytes
          src.commit(StdinOffset(at))
          at = e
        } else Thread.sleep(1)
      }
      val sizes = batches.result().map(_.size)
      info(sizes.mkString("lines per batch: ", ",", ""))
      assert(batches.result().flatten == all)
      assert(!sizes.init.contains(1), sizes)
      assert(bytes.result().forall(_ <= cap / 2), bytes.result())
    } finally src.stop()
  }

  test("drainAtEof: at EOF it drains every pending row, then stops the query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Int]
    val seen = new ConcurrentLinkedQueue[Int]()
    val q = input.toDF().writeStream
      .foreachBatch((df: DataFrame, _: Long) => df.collect().foreach(r => seen.add(r.getInt(0))))
      .start()
    try {
      // The tap's last lines land together with EOF, on the third poll.
      var polls = 0
      def eof = { polls += 1; if (polls == 3) input.addData(1 to 100); polls == 3 }
      StreamingIngest.drainAtEof(q, eof, pollMs = 10)
      assert(polls == 3) // waited for EOF, then read the flag no more
      assert(!q.isActive && seen.size == 100)
    } finally q.stop()
  }

  test("drainAtEof: a query that dies before EOF raises its error without waiting") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Int]
    val q = input.toDF().writeStream
      .foreachBatch((_: DataFrame, _: Long) => throw new IllegalStateException("sink down"))
      .start()
    try {
      input.addData(1)
      // EOF never comes: only the query's death can end the wait.
      val drain = Future(StreamingIngest.drainAtEof(q, eof = false, pollMs = 10))(ExecutionContext.global)
      val e = intercept[StreamingQueryException](Await.result(drain, 2.minutes))
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("sink down")))
    } finally q.stop()
  }
}
