package graft.pipeline

import java.lang.management.ManagementFactory
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import graft.SparkSpec
import graft.model.TargetConfig
import graft.streaming.StreamingIngest

/** The ingest core's pass count and thread discipline, counted with a
  * SparkListener: how many Spark jobs one micro-batch and one batch run
  * take, that every job runs under the caller's job group, and that the
  * concurrent epochs leave no threads behind. */
class IngestCoreSpec extends SparkSpec {

  private def schema(stream: String) =
    s"""{"type": "SCHEMA", "stream": "$stream", "schema": {"properties": {
       |"pk": {"type": ["null", "integer"]},
       |"v": {"maxLength": 8, "type": ["null", "string"]}}, "type": "object"},
       |"key_properties": ["pk"]}""".stripMargin.replace("\n", " ")

  private def record(stream: String, pk: Int) =
    s"""{"type": "RECORD", "stream": "$stream", "record": {"pk": $pk, "v": "r$pk"}}"""

  /** Two streams, one schema epoch each, closed by a STATE: the shape of
    * a live page. */
  private def twoStreamBatch(from: Int): DataFrame = {
    import spark.implicits._
    val lines = (if (from == 0) Seq(schema("s1"), schema("s2")) else Nil) ++
      (from until from + 50).flatMap(i => Seq(record("s1", i), record("s2", i))) :+
      s"""{"type": "STATE", "value": {"page": $from}}"""
    spark.sparkContext.parallelize(lines, 1).toDF("value")
  }

  /** The group of every job `body` starts, in start order. */
  private def jobGroups(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val groups = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.synchronized {
        groups += Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      }
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup("ingest-core-spec", "counted", interruptOnCancel = false)
    try body finally {
      sc.clearJobGroup()
      ListenerBridge.drain(sc)
      sc.removeSparkListener(listener)
    }
    groups.synchronized(groups.toSeq)
  }

  // Two for the envelope checkpoint, two for the control-plane
  // aggregate, three per stream (inference, validation, write).
  test("one warm micro-batch of two streams runs at most 10 jobs, all in the caller's job group") {
    val ingest = new StreamingIngest(spark, Files.createTempDirectory("core-live").toString,
      TargetConfig(streamsInSeparateFolder = true))
    ingest.processBatch(twoStreamBatch(0), 0) // registers the schemas, warms the JIT
    val groups = jobGroups(ingest.processBatch(twoStreamBatch(100), 1))
    info(s"${groups.size} jobs")
    assert(groups.size <= 10, s"${groups.size} jobs")
    assert(groups.forall(_ == "ingest-core-spec"), groups)
  }

  test("SingerPipeline.run on the three-stream golden corpus: job count bound, caller's job group") {
    val corpus = Seq(
      """{"type": "STATE", "value": {"currently_syncing": "alpha"}}""",
      schema("alpha"), record("alpha", 1),
      schema("beta"), record("beta", 1), record("beta", 2),
      schema("gamma"), record("gamma", 10),
      """{"type": "STATE", "value": {"bookmarks": {"alpha": {"done": true}}}}""")
    val f = Files.createTempFile("core-corpus", ".jsonl")
    Files.writeString(f, corpus.mkString("\n"))
    val out = Files.createTempDirectory("core-batch").toString
    SingerPipeline.run(spark, f.toString, out, TargetConfig(), clock = () => "W")
    val groups = jobGroups(SingerPipeline.run(spark, f.toString, out, TargetConfig(), clock = () => "T"))
    info(s"${groups.size} jobs")
    assert(groups.size <= MaxBatchJobs, s"${groups.size} jobs")
    assert(groups.forall(_ == "ingest-core-spec"), groups)
  }

  /** Live threads, less those of Spark's and the JDK's cached pools
    * (the JDK's reaps the child processes Hadoop's local file system
    * runs): they grow with load up to their caps and idle out after
    * 60 s, whether or not the ingest work runs concurrently. */
  private def ownThreads(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val sparkPools = Seq("block-manager-", "ResultQueryStageExecution", "shuffle-exchange",
      "QueryStageCreator", "Executor task launch worker", "ForkJoinPool.commonPool",
      "process reaper")
    Thread.getAllStackTraces.keySet.asScala.toSeq.filter(_.isAlive).map(_.getName)
      .filterNot(n => sparkPools.exists(n.startsWith))
  }

  test("concurrent epochs leave no threads behind: 20 micro-batches, flat thread count") {
    val ingest = new StreamingIngest(spark, Files.createTempDirectory("core-threads").toString,
      TargetConfig(streamsInSeparateFolder = true))
    ingest.processBatch(twoStreamBatch(0), 0)
    ingest.processBatch(twoStreamBatch(100), 1)
    val before = ownThreads()
    (2 until 22).foreach { b =>
      ingest.processBatch(twoStreamBatch(100 * b), b)
      assert(!ownThreads().contains("graft-ingest"), s"a pool thread outlived batch $b")
    }
    val after = ownThreads()
    info(s"threads: ${before.size} before, ${after.size} after 20 batches")
    assert(after.size <= before.size, after.diff(before))
  }

  /** The golden batch run: four jobs for the input scan, the envelope
    * cache and the control-plane aggregate's two stages, then three per
    * stream (inference, validation, write). */
  private val MaxBatchJobs = 13
}
