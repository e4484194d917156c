package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import StreamingAnalytics._

class StreamingAnalyticsSpec extends SparkSpec {

  // offset from epoch 0: a row whose event time equals the initial
  // watermark (0) is dropped as late by stateful operators
  private def ts(min: Int): Timestamp = new Timestamp((1440 + min) * 60000L)

  test("watermarked windowed aggregation over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "event_type", "value")
    val agg = windowedEventStats(events, windowLen = "10 minutes", lateness = "5 minutes")
    val q = agg.writeStream.format("memory").queryName("win_stats")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, ts(1), "click", 1.0), (2L, ts(2), "click", 2.0),
                    (3L, ts(11), "click", 4.0))
      q.processAllAvailable()
      // advance watermark far enough to close the first two windows
      input.addData((4L, ts(60), "click", 8.0))
      q.processAllAvailable()
      val rows = spark.table("win_stats").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000 - 1440, r.getLong(2), r.getDouble(3)))
        .sortBy(_._1)
      assert(rows.take(2).toSeq == Seq((0L, 2L, 3.0), (10L, 1L, 4.0)))
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks to impressions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val impIn = MemoryStream[(Long, Timestamp)]
    val clkIn = MemoryStream[(Long, Timestamp)]
    val joined = clickAttribution(
      impIn.toDF().toDF("imp_key", "imp_ts"),
      clkIn.toDF().toDF("click_key", "click_ts"),
      joinWindow = "10 minutes", lateness = "2 minutes")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append()).start()
    try {
      impIn.addData((1L, ts(0)), (2L, ts(0)))
      clkIn.addData((1L, ts(5)),   // within window -> joins
                    (2L, ts(25)))  // outside 10-min window -> dropped
      q.processAllAvailable()
      val rows = spark.table("attrib").collect()
        .map(r => (r.getLong(0), r.getLong(2)))
      assert(rows.toSeq == Seq((1L, 1L)))
    } finally q.stop()
  }

  test("sessionization: batch fold closes sessions on gap") {
    val evs = Seq(
      SessionEvent(1L, ts(0), "a"), SessionEvent(1L, ts(5), "b"),
      SessionEvent(1L, ts(60), "c"),   // > 30min gap -> new session
      SessionEvent(2L, ts(10), "x"))
    val out = sessionizeBatch(evs, gapMs = 30 * 60000L)
    assert(out.map(o => (o.user_id, o.session_start.getTime / 60000 - 1440,
      o.session_end.getTime / 60000 - 1440, o.n_events)) == Seq(
      (1L, 0L, 5L, 2L), (1L, 60L, 60L, 1L), (2L, 10L, 10L, 1L)))
  }

  test("stateful sessionization over a memory stream emits closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[SessionEvent]
    val out = sessionize(input.toDS(), gapMs = 30 * 60000L, lateness = "1 minute")
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(SessionEvent(1L, ts(0), "a"), SessionEvent(1L, ts(5), "b"))
      q.processAllAvailable()
      // event far in the future: watermark passes session timeout -> close
      input.addData(SessionEvent(2L, ts(600), "x"))
      q.processAllAvailable()
      input.addData(SessionEvent(2L, ts(1200), "y")) // push watermark again
      q.processAllAvailable()
      val sessions = spark.table("sessions").collect()
        .map(r => (r.getLong(0), r.getLong(3)))
      assert(sessions.contains((1L, 2L))) // user 1's 2-event session closed
    } finally q.stop()
  }

  // Batch-equivalence harness (closes the one operator family without a
  // CORRECTNESS row): the bounded sf0.001 corpus flows through the real
  // streaming query — MemoryStream source, stateful operator, memory sink
  // — and the result must equal the batch operator on the same table.

  test("harness: streaming dedup over the documents corpus equals batch exact dedup") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)

    val input = MemoryStream[(Long, Timestamp, String)]
    val out = dedupStream(input.toDF().toDF("doc_id", "ts", "text"),
      lateness = "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      // arrival order = doc_id order, all inside one batch (no late drops)
      input.addData(docs.map { case (id, t) => (id, ts(id.toInt), t) }.toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("dedup_eq").collect()
      val batch = graft.operators.Dedup.exact(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // one survivor per distinct content, and the same CONTENT set; the
      // surviving doc_id is first-arrival (partition order) in streaming
      // vs min-id in batch, so ids are not part of the contract
      assert(streamed.length == batch.length)
      assert(streamed.map(_.getAs[String]("text")).toSet ==
        docs.map(_._2).toSet)
    } finally q.stop()
  }

  test("harness: streaming PII scrub over the documents corpus equals the batch scrub") {
    // The stateless curation projections (piiScrub, and by the same
    // argument the quality-filter when-chain) apply to a stream
    // unchanged: no watermark, no state, Append mode — this pins that the
    // SAME operator object used in batch runs on readStream input and
    // emits identical rows.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val withPii = docs.withColumn("text",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.lit(" mail u"),
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit("@ex.org from 10.0.0.7")))
    val rows = withPii.collect().map(r => (r.getLong(0), r.getString(1)))

    val input = MemoryStream[(Long, String)]
    val out = graft.operators.Curation.piiScrub(
      input.toDF().toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("pii_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows.toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("pii_eq")
        .select("doc_id", "n_emails", "n_ips", "n_phones", "redacted_text")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toSet
      val batch = graft.operators.Curation.piiScrub(withPii)
        .select("doc_id", "n_emails", "n_ips", "n_phones", "redacted_text")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toSet
      assert(streamed == batch)
      assert(batch.forall(t => t._2 >= 1 && t._3 >= 1)) // the planted PII was found
    } finally q.stop()
  }

  test("harness: streaming minhash near-dup equals the batch banded pair set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)

    val input = MemoryStream[(Long, Timestamp, String)]
    val out = nearDupStream(input.toDF().toDF("doc_id", "ts", "text"))
    val q = out.writeStream.format("memory").queryName("neardup_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      // arrival order = doc_id order, all within the horizon -> earlier
      // arrival = lower id, so streamed (doc_a, doc_b) orientation matches
      // the batch operator's doc_a < doc_b
      input.addData(docs.map { case (id, t) => (id, ts(1), t) }.toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("neardup_eq")
        .select("doc_a", "doc_b", "est_jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.operators.Dedup.minhashPairs(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty) // planted near-dups must surface
    } finally q.stop()
  }

  test("streaming near-dup horizon: dups beyond the watermark do not pair") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)]
    val out = nearDupStream(input.toDF().toDF("doc_id", "ts", "text"),
      lateness = "10 minutes")
    val q = out.writeStream.format("memory").queryName("neardup_hz")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((0L, ts(0), "the cat sat on the mat"))
      q.processAllAvailable()
      // advance the watermark far past doc 0's horizon
      input.addData((1L, ts(120), "completely unrelated filler words here"))
      q.processAllAvailable()
      // an exact dup of doc 0, but 2h later: its twin's state is gone
      input.addData((2L, ts(125), "the cat sat on the mat"))
      q.processAllAvailable()
      assert(spark.table("neardup_hz").isEmpty)
      // within the horizon it DOES pair (with the late twin, est 1.0)
      input.addData((3L, ts(126), "the cat sat on the mat"))
      q.processAllAvailable()
      val hits = spark.table("neardup_hz").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      assert(hits.toSeq == Seq((2L, 3L, 1.0)))
    } finally q.stop()
  }

  test("harness: streaming quality monitor equals batch-computed drop stats per source") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    val sf = "/root/testdata/sf0.001"
    val docs = graft.operators.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))

    val input = MemoryStream[(Long, Timestamp, String, String)]
    val out = qualityMonitorStream(
      input.toDF().toDF("doc_id", "ts", "text", "source"),
      windowLen = "1 hour")
    // Complete mode is wrong for a dashboard; Append holds rows until the
    // watermark closes the window, so the test advances it past the end.
    val q = out.writeStream.format("memory").queryName("qm_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      // all docs inside ONE window, then a late sentinel to close it
      input.addData(docs.map { case (id, t, src) => (id, ts(1), t, src) }.toSeq: _*)
      q.processAllAvailable()
      input.addData((Long.MaxValue, ts(24 * 60), "closer", "srcX"))
      q.processAllAvailable()
      val streamed = spark.table("qm_eq")
        .filter(col("source") =!= "srcX")
        .select("source", "n_docs", "n_dropped")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.operators.Curation.qualityFilter(spark, sf)
        .join(graft.operators.Tables.documents(spark, sf).select("doc_id", "source"),
          "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch)
      assert(batch.exists(_._3 > 0)) // some source actually drops docs
    } finally q.stop()
  }

  test("harness: streaming sessionization over the events corpus equals the batch fold") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val gap = 30 * 60000L
    val evs = graft.operators.Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("ts"),
        org.apache.spark.sql.functions.col("event_type"))
      .collect().map(r => SessionEvent(r.getLong(0), r.getTimestamp(1), r.getString(2)))

    val input = MemoryStream[SessionEvent]
    val out = sessionize(input.toDS(), gapMs = gap, lateness = "1 minute")
    val q = out.writeStream.format("memory").queryName("sessions_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(evs.toSeq: _*) // one batch: nothing is late
      q.processAllAvailable()
      // two sentinel advances: the first moves the watermark past every
      // real session's timeout, the second triggers those timeouts
      val far = evs.map(_.ts.getTime).max + 1000L * 60 * 60 * 24
      input.addData(SessionEvent(-1L, new Timestamp(far), "sentinel"))
      q.processAllAvailable()
      input.addData(SessionEvent(-1L, new Timestamp(far + 1000L * 60 * 60 * 24), "sentinel"))
      q.processAllAvailable()

      val streamed = spark.table("sessions_eq").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3)))
        .filter(_._1 >= 0).toSet
      val batch = sessionizeBatch(evs.toSeq, gap)
        .map(o => (o.user_id, o.session_start.getTime,
          o.session_end.getTime, o.n_events)).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming exact dedup emits first occurrence only, within watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val out = dedupStream(docs, lateness = "5 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((0L, ts(1), "the cat sat"), (1L, ts(2), "the cat sat"),
                    (2L, ts(3), "unrelated words"))
      q.processAllAvailable()
      // duplicate arriving in a LATER batch, still inside the horizon
      input.addData((3L, ts(4), "the cat sat"))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(0L, 2L)) // 1 (same batch) and 3 (later batch) dropped
    } finally q.stop()
  }

  test("spooled session stream equals batch gap sessionization (sf0.001)") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val gapMs = 30 * 60 * 1000L
    val got = sessionizeSpooled(spark, sf, gapMs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val evs = graft.operators.Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_type"))
      .collect().map(r => SessionEvent(r.getLong(0), r.getTimestamp(1), r.getString(2)))
    val expected = sessionizeBatch(evs.toSeq, gapMs)
      .map(o => (o.user_id, o.session_start.getTime, o.session_end.getTime, o.n_events))
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("collapsed flush pins no-data micro-batches on, then restores the session's value") {
    // with no-data batches off, nothing would run the eviction batch after
    // batch 0 and every session would stay open in state
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val gapMs = 30 * 60 * 1000L
    spark.conf.set(NoDataBatchesConfKey, "false")
    try {
      val got = sessionizeSpooled(spark, sf, gapMs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(spark.conf.get(NoDataBatchesConfKey) == "false")
      val evs = graft.operators.Tables.events(spark, sf)
        .select(col("user_id"), col("ts"), col("event_type"))
        .collect().map(r => SessionEvent(r.getLong(0), r.getTimestamp(1), r.getString(2)))
      val expected = sessionizeBatch(evs.toSeq, gapMs)
        .map(o => (o.user_id, o.session_start.getTime, o.session_end.getTime, o.n_events))
      assert(got.size == expected.size)
      assert(got == expected)
    } finally spark.conf.unset(NoDataBatchesConfKey)
  }

  test("collapsed flush rejects a file source with a per-trigger limit") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-flush-guard").toString
    val schema = StructType(Seq(StructField("ts", LongType)))
    requireSingleBatchSource(spark.readStream.schema(schema).parquet(dir))
    for (opt <- Seq("maxFilesPerTrigger", "maxBytesPerTrigger")) {
      val limited = spark.readStream.schema(schema).option(opt, 1).parquet(dir)
        .withColumn("ts", col("ts") + 1)
      val e = intercept[IllegalArgumentException](requireSingleBatchSource(limited))
      assert(e.getMessage.contains(opt))
    }
    new java.io.File(dir).delete()
  }

  test("native session_window stream is bit-identical to the custom stateful stream (sf0.001)") {
    val sf = "/root/testdata/sf0.001"
    val custom = sessionizeSpooled(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val native = sessionizeNativeSpooled(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(native == custom)
    assert(native.nonEmpty)
  }

  test("spooled attribution stream equals the batch interval join (sf0.001)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val got = clickAttributionSpooled(spark, sf).collect().map(key).toSeq
    val ev = graft.operators.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type")
    val expected = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("imp_id"), col("user_id"), col("ts").as("imp_ts"))
      .join(ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id").as("cu"),
            col("ts").as("click_ts")),
        col("user_id") === col("cu") && col("click_ts") >= col("imp_ts") &&
          col("click_ts") <= col("imp_ts") + expr("interval 10 minutes"))
      .select(col("user_id"), col("imp_id"), col("click_id"),
        unix_millis(col("imp_ts")).as("imp_ms"),
        unix_millis(col("click_ts")).as("click_ms"))
      .orderBy("user_id", "imp_id", "click_id")
      .collect().map(key).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("spooled near-dup stream gate: streamed pair set equals batch minhashPairs (sf0.001)") {
    val row = nearDupSpooled(spark, "/root/testdata/sf0.001").collect()
    assert(row.length == 1)
    assert(row.head.getBoolean(0))        // has_pairs: the corpus has near-dups
    assert(row.head.getBoolean(1))        // stream set == batch set
  }

  test("spooled quality monitor equals batch per-window drop stats (sf0.001)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val got = qualityMonitorSpooled(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    // batch recomputation of the same schedule with the same drop rules
    val expected = graft.operators.Curation.qualityFilter(spark, sf)
      .join(graft.operators.Tables.documents(spark, sf).select("doc_id", "source"), "doc_id")
      .withColumn("window_start_ms",
        expr("86400000L + ((doc_id % 180) div 60) * 3600000L"))
      .groupBy("window_start_ms", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"))
      .select(col("window_start_ms"), col("source"), col("n_docs"), col("n_dropped"),
        (col("n_dropped").cast("double") / col("n_docs")).as("drop_rate"))
      .orderBy("window_start_ms", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("spooled windowed stats equal the batch tumbling-window counts (sf0.001)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val got = windowStatsSpooled(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val expected = graft.operators.Tables.events(spark, sf)
      .select(expr("(unix_millis(ts) div 3600000) * 3600000").as("w"),
        col("event_type"))
      .groupBy("w", "event_type").agg(count(lit(1)).as("n"))
      .orderBy("w", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("spooled stream-static enrich equals the batch join + window counts (sf0.001)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val got = enrichSpooled(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val expected = graft.operators.Tables.events(spark, sf)
      .join(graft.operators.Tables.customer(spark, sf),
        col("user_id") === col("c_custkey"))
      .select(expr("(unix_millis(ts) div 3600000) * 3600000").as("w"),
        col("c_mktsegment"))
      .groupBy("w", "c_mktsegment").agg(count(lit(1)).as("n"))
      .orderBy("w", "c_mktsegment").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("spooled exact streaming distinct equals batch count-distinct per window (sf0.001)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val got = distinctSpooled(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = graft.operators.Tables.events(spark, sf)
      .select(expr("(unix_millis(ts) div 3600000) * 3600000").as("w"),
        col("user_id"))
      .groupBy("w").agg(count_distinct(col("user_id")).as("n"))
      .orderBy("w").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("spooled hopping windows equal the batch two-cover expansion (sf0.001)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val got = hoppingSpooled(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val expected = graft.operators.Tables.events(spark, sf)
      .select(expr("(unix_millis(ts) div 1800000) * 1800000").as("s0"),
        col("event_type"))
      .select(explode(array(col("s0"), col("s0") - 1800000L)).as("w"),
        col("event_type"))
      .groupBy("w", "event_type").agg(count(lit(1)).as("n"))
      .orderBy("w", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("spooled dedup stream keeps exactly min(doc_id) per planted dup group") {
    import spark.implicits._
    // the real corpora have no exact-dup texts, so the hash-rank wave
    // schedule (the determinism mechanism) needs planted groups: sizes
    // 3/2/1, min ids deliberately NOT in arrival-file order by id
    val d2 = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    Seq((5L, "alpha beta gamma"), (0L, "alpha beta gamma"), (9L, "alpha beta gamma"),
        (7L, "delta epsilon zeta"), (1L, "delta epsilon zeta"),
        (2L, "unique eta theta"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val kept = dedupSpooled(spark, d2).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(0L, 1L, 2L))
  }

  test("upsert stream keeps the last record per key under out-of-order arrival") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[UpsertEvent]
    def ev(uid: Long, min: Int, id: Long, tpe: String, v: Double): UpsertEvent = {
      val t = ts(min)
      UpsertEvent(uid, t, t.getTime * 1000L, id, tpe, v)
    }
    // lateness must cover the out-of-order gap: batch 1's max event time
    // (min 9) sets the watermark, and batch 2's min-4 arrivals would be
    // late-dropped under a 5-minute bound (correct watermark semantics,
    // not last-wins semantics — this test targets the latter)
    val q = upsertStream(input.toDS(), lateness = "20 minutes", settle = "10 minutes")
      .writeStream.format("memory").queryName("upsert_t")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: later event arrives FIRST; user 2: same-µs tie broken by id
      input.addData(ev(1L, 9, 103L, "click", 3.0), ev(2L, 4, 201L, "view", 1.0))
      q.processAllAvailable()
      input.addData(ev(1L, 2, 101L, "view", 1.0), ev(2L, 4, 202L, "click", 2.0))
      q.processAllAvailable()
      // two far-future waves: advance the watermark, then fire timeouts
      input.addData(ev(99L, 120, 900L, "x", 0.0))
      q.processAllAvailable()
      input.addData(ev(99L, 360, 901L, "x", 0.0))
      q.processAllAvailable()
      val got = spark.table("upsert_t").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getString(3), r.getDouble(4)))
        .filter(_._1 < 90L).sortBy(_._1).toSeq
      assert(got == Seq((1L, 103L, "click", 3.0), (2L, 202L, "click", 2.0)))
    } finally q.stop()
  }

  test("spooled upsert equals batch last-wins on the real corpus (sf0.001)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val got = upsertSpooled(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val w = Window.partitionBy("user_id")
      .orderBy(col("tus").desc, col("event_id").desc)
    val expected = graft.operators.Tables.events(spark, dir)
      .withColumn("tus", unix_micros(col("ts")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "tus", "event_id")
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("spooled funnel equals the batch greedy earliest-chain fold (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val got = funnelSpooled(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val expected = graft.operators.EventAnalytics.funnel(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.head._3 > 0) // somebody converts
  }

  test("spooled trending equals the batch per-window argmax (sf0.001)") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val got = trendingSpooled(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val expected = graft.operators.Tables.events(spark, dir)
      .selectExpr("unix_millis(ts) div 3600000 * 3600000 as w", "event_type")
      .groupBy("w", "event_type").agg(count(lit(1)).as("n"))
      .groupBy("w").agg(max(struct(col("n"), col("event_type"))).as("top"))
      .select(col("w"), col("top.event_type"), col("top.n"))
      .orderBy("w").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("spooled OHLC equals the batch downsample contract (sf0.001)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val got = ohlcSpooled(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getLong(7))).toSeq
    val expected = graft.operators.EventAnalytics.downsampleOhlc(spark, sf)
      .select(unix_millis(col("bucket")).as("w"), col("event_type"),
        col("n"), col("open"), col("high"), col("low"), col("close"),
        col("sum_cents"))
      .orderBy("w", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getLong(7))).toSeq
    assert(got == expected && got.nonEmpty)
    // the extremes pipeline is genuinely exercised: open != close somewhere
    assert(got.exists(t => t._4 != t._7))
  }

  test("RocksDB state store: spooled windowed stats equal the in-memory provider's") {
    // Pins the alternative provider path in-tree (the BASELINE.md
    // parity/cost runs were manual env-var executions): the same spooled
    // query must produce identical rows under RocksDB-backed state.
    val dir = "/root/testdata/sf0.001"
    def rows() = windowStatsSpooled(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val default = rows()
    sys.props("graft.stateStore") = "rocksdb"
    try {
      val rocks = rows()
      assert(rocks == default && rocks.nonEmpty)
      // and with CHANGELOG CHECKPOINTING — incremental commits (upload
      // the batch's changelog, snapshot asynchronously) must be
      // output-invisible; this is the RocksDB deployment configuration
      // a production stream actually runs
      sys.props("graft.stateStore.changelog") = "true"
      try {
        val clog = rows()
        assert(clog == default && clog.nonEmpty)
      } finally { sys.props.remove("graft.stateStore.changelog"); () }
    } finally { sys.props.remove("graft.stateStore"); () }
  }

  test("checkpoint recovery: a restarted query resumes state exactly-once") {
    // The fault-tolerance contract a production deployment leans on:
    // kill a stateful query mid-stream, start a NEW query from the same
    // checkpoint + file sink, and the final output must equal the
    // one-shot batch answer — no lost state, no double counts. The
    // decisive detail: one 5-minute window STRADDLES the restart (wave 1
    // ends at minute 7, wave 2 resumes at 8), so a correct result
    // requires the aggregation STATE recovered from the checkpoint, not
    // merely the source offsets; and wave 1 re-delivered after restart
    // would double that window's count, so exactly-once is pinned too.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft-recovery")
    val (spool, ckpt, sink) =
      (s"$root/spool", s"$root/ckpt", s"$root/sink")
    import spark.implicits._
    def wave(rows: Seq[(Int, Long)]): Unit = // (minute, user)
      rows.map { case (min, uid) => (ts(min).getTime, uid) }
        .toDF("ts_ms", "user_id")
        .coalesce(1).write.mode("append").parquet(spool)
    val schema = StructType(Seq(
      StructField("ts_ms", LongType), StructField("user_id", LongType)))
    def startQuery() = spark.readStream.schema(schema).parquet(spool)
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("user_id"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid"))
      .select(col("window.start").as("win"), col("n"), col("sum_uid"))
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    wave((0 to 7).map(m => (m, m.toLong + 1)))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop() // "crash" after wave 1

    wave((8 to 19).map(m => (m, m.toLong + 1)))
    wave(Seq((500, -1L))) // sentinel: watermark past every real window
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(sink)
      .filter(col("sum_uid") >= 0) // sentinel's own window never closes anyway
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2)))
      .toSet
    val expected = (0 to 19).map(m => (m, m.toLong + 1))
      .groupBy { case (m, _) => ts(m).getTime / 300000L * 300000L }
      .map { case (win, rs) => (win, rs.size.toLong, rs.map(_._2).sum) }
      .toSet
    assert(got == expected)
    // the straddling window (minutes 5-9) really combined both waves
    val straddle = got.find(_._1 == ts(5).getTime).get
    assert(straddle._2 == 5L) // minutes 5,6,7 (wave 1) + 8,9 (wave 2)
  }

  test("harness: streaming spike monitor equals the batch trailing-window replay") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.streaming.StreamingAnalytics.anomalySpooled(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(got.nonEmpty)
    // batch truth: hourly counts + trailing-3 comparison
    val counts = graft.operators.Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions
        .expr("(unix_millis(ts) div 3600000) * 3600000").as("w"))
      .collect().map(_.getLong(0))
      .groupBy(w => w).map { case (w, xs) => (w, xs.length.toLong) }
      .toSeq.sortBy(_._1)
    val expect = counts.zipWithIndex.map { case ((w, n), i) =>
      val trail = counts.slice(math.max(0, i - 3), i).map(_._2)
      (w, n, trail.sum, trail.length.toLong,
        trail.length == 3 && n * 3 > trail.sum * 2)
    }
    assert(got.toSeq == expect,
      s"first diff: ${got.toSeq.zip(expect).find(t => t._1 != t._2)}")
    // the trailing guard is live: the first three windows never flag
    assert(got.take(3).forall(!_._5))
  }
}
