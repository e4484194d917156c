package graft.pipeline

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.SparkSpec
import graft.model.TargetConfig
import graft.streaming.StreamingIngest

/** The ingest core's pass count, sizing and thread discipline, counted
  * with listeners: how many Spark jobs and queries one micro-batch and
  * one batch run take, how many tasks each runs, that every job runs
  * under the caller's job group, and that the concurrent epochs leave no
  * threads behind. */
class IngestCoreSpec extends SparkSpec {

  private def schema(stream: String) =
    s"""{"type": "SCHEMA", "stream": "$stream", "schema": {"properties": {
       |"pk": {"type": ["null", "integer"]},
       |"v": {"maxLength": 8, "type": ["null", "string"]}}, "type": "object"},
       |"key_properties": ["pk"]}""".stripMargin.replace("\n", " ")

  private def record(stream: String, pk: Int) =
    s"""{"type": "RECORD", "stream": "$stream", "record": {"pk": $pk, "v": "r$pk"}}"""

  /** Two streams, one schema epoch each, `n` records each, closed by a
    * STATE: the shape of a live page. */
  private def twoStreamBatch(from: Int, n: Int = 50): DataFrame = {
    import spark.implicits._
    val lines = (if (from == 0) Seq(schema("s1"), schema("s2")) else Nil) ++
      (from until from + n).flatMap(i => Seq(record("s1", i), record("s2", i))) :+
      s"""{"type": "STATE", "value": {"page": $from}}"""
    spark.sparkContext.parallelize(lines, 1).toDF("value")
  }

  /** One job: its group, SQL execution and the task count of each stage
    * it ran (AQE's skipped stages run none). */
  private final case class Job(group: String, execution: Long, stageTasks: ArrayBuffer[Int])

  /** One query: its SQL execution, and what it is. */
  private final case class Query(execution: Long, kind: String)

  /** What a query is, read from its plan: the control-plane aggregate,
    * the phase-1 query, a write, or "other". */
  private def kindOf(plan: String): String =
    if (plan.contains("infer_record_schema") || plan.contains("validate_record")) "phase-1"
    else if (plan.contains("collect_list")) "control plane"
    else if (plan.contains("InsertIntoHadoopFsRelationCommand")) "write"
    else "other"

  /** Every job and every query (SQL execution) `body` starts, in order. */
  private def traced(body: => Unit): (Seq[Job], Seq[Query]) = {
    val sc = spark.sparkContext
    val jobs = ArrayBuffer.empty[Job]
    val stageJob = scala.collection.mutable.Map.empty[Int, Job]
    val queries = ArrayBuffer.empty[Query]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val props = Option(e.properties)
        val job = Job(props.map(_.getProperty("spark.jobGroup.id")).orNull,
          props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).fold(-1L)(_.toLong),
          ArrayBuffer.empty)
        jobs += job
        e.stageIds.foreach(stageJob(_) = job)
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = jobs.synchronized {
        stageJob.get(e.stageInfo.stageId).foreach(_.stageTasks += e.stageInfo.numTasks)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => queries.synchronized {
          queries += Query(s.executionId, kindOf(s.physicalPlanDescription))
        }
        case _ => ()
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
    (jobs.synchronized(jobs.toSeq), queries.synchronized(queries.toSeq))
  }

  private def parquetFiles(dir: Path): Set[Path] =
    if (!Files.exists(dir)) Set.empty
    else Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSet

  // Two for the envelope checkpoint (the rebalance exchange, then the
  // checkpoint), two for the control-plane aggregate, two for the one
  // phase-1 query, one write per stream. Queries: the checkpoint, the
  // control plane, phase 1 and the two writes.
  test("one warm micro-batch of two streams runs at most 8 jobs and 5 queries, all in the caller's job group") {
    val ingest = new StreamingIngest(spark, Files.createTempDirectory("core-live").toString,
      TargetConfig(streamsInSeparateFolder = true))
    ingest.processBatch(twoStreamBatch(0)) // registers the schemas, warms the JIT
    val (jobs, queries) = traced(ingest.processBatch(twoStreamBatch(100)))
    info(s"${jobs.size} jobs, ${queries.size} queries: ${queries.map(_.kind).mkString(", ")}")
    assert(jobs.size <= 8, s"${jobs.size} jobs")
    assert(queries.size <= 5, queries)
    assert(jobs.forall(_.group == "ingest-core-spec"), jobs)
  }

  test("after the control plane, a run or a micro-batch executes one phase-1 query plus one write per epoch") {
    val ingest = new StreamingIngest(spark, Files.createTempDirectory("core-passes").toString,
      TargetConfig(streamsInSeparateFolder = true))
    ingest.processBatch(twoStreamBatch(0))
    val live = traced(ingest.processBatch(twoStreamBatch(100)))._2.map(_.kind)
    assert(live.dropWhile(_ != "control plane").tail == "phase-1" +: Seq.fill(2)("write"), live)
    // Three streams; beta re-emits its schema, so four epochs.
    val f = Files.createTempFile("core-passes", ".jsonl")
    Files.writeString(f, (golden.take(5) ++ Seq(schema("beta"), record("beta", 3)) ++
      golden.drop(5)).mkString("\n"))
    val out = Files.createTempDirectory("core-passes-batch").toString
    val batch = traced(SingerPipeline.run(spark, f.toString, out, TargetConfig()))._2.map(_.kind)
    assert(batch.dropWhile(_ != "control plane").tail == "phase-1" +: Seq.fill(4)("write"), batch)
  }

  test("a warm micro-batch of about 200 lines runs every job as one task and lands one file per stream") {
    val out = Files.createTempDirectory("core-size-live")
    val ingest = new StreamingIngest(spark, out.toString, TargetConfig(streamsInSeparateFolder = true))
    ingest.processBatch(twoStreamBatch(0, 100))
    val before = Seq("s1", "s2").map(s => parquetFiles(out.resolve(s)))
    val (jobs, _) = traced(ingest.processBatch(twoStreamBatch(1000, 100)))
    info(jobs.map(_.stageTasks.mkString("+")).mkString("tasks per job: ", ", ", ""))
    assert(jobs.nonEmpty && jobs.forall(_.stageTasks.forall(_ == 1)), jobs)
    Seq("s1", "s2").zip(before).foreach { case (s, b) =>
      assert((parquetFiles(out.resolve(s)) -- b).size == 1, s"files of $s")
    }
  }

  test("a single-file batch input of 4 MB runs its phase-1 and write jobs with defaultParallelism tasks") {
    val parallelism = spark.sparkContext.defaultParallelism
    val rnd = new scala.util.Random(7)
    val f = Files.createTempFile("core-size-batch", ".jsonl")
    val w = Files.newBufferedWriter(f)
    try {
      w.write(schema("big")); w.newLine()
      var i = 0
      while (Files.size(f) < (4L << 20) || i < 10) {
        w.write(s"""{"type": "RECORD", "stream": "big", "record": {"pk": $i, "v": "r$i", """ +
          s""""payload": "${rnd.alphanumeric.take(200).mkString}"}}""")
        w.newLine(); i += 1
        if (i % 1000 == 0) w.flush()
      }
    } finally w.close()
    info(s"${Files.size(f)} bytes")
    val out = Files.createTempDirectory("core-size-batch").toString
    val (jobs, queries) = traced(SingerPipeline.run(spark, f.toString, out, TargetConfig()))
    // The first stage of each query's first job: the scan of the envelope.
    def tasksOf(kind: String): Seq[Int] = queries.filter(_.kind == kind)
      .flatMap(q => jobs.find(_.execution == q.execution)).flatMap(_.stageTasks.headOption)
    info(s"phase-1 ${tasksOf("phase-1")}, writes ${tasksOf("write")}")
    assert(tasksOf("phase-1").nonEmpty && tasksOf("phase-1").forall(_ == parallelism), jobs)
    assert(tasksOf("write").nonEmpty && tasksOf("write").forall(_ == parallelism), jobs)
  }

  private val golden = Seq(
    """{"type": "STATE", "value": {"currently_syncing": "alpha"}}""",
    schema("alpha"), record("alpha", 1),
    schema("beta"), record("beta", 1), record("beta", 2),
    schema("gamma"), record("gamma", 10),
    """{"type": "STATE", "value": {"bookmarks": {"alpha": {"done": true}}}}""")

  test("SingerPipeline.run on the three-stream golden corpus: job count bound, caller's job group") {
    val f = Files.createTempFile("core-corpus", ".jsonl")
    Files.writeString(f, golden.mkString("\n"))
    val out = Files.createTempDirectory("core-batch").toString
    SingerPipeline.run(spark, f.toString, out, TargetConfig(), clock = () => "W")
    val (jobs, _) = traced(SingerPipeline.run(spark, f.toString, out, TargetConfig(), clock = () => "T"))
    info(s"${jobs.size} jobs")
    assert(jobs.size <= MaxBatchJobs, s"${jobs.size} jobs")
    assert(jobs.forall(_.group == "ingest-core-spec"), jobs)
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
    ingest.processBatch(twoStreamBatch(0))
    ingest.processBatch(twoStreamBatch(100))
    val before = ownThreads()
    (2 until 22).foreach { b =>
      ingest.processBatch(twoStreamBatch(100 * b))
      assert(!ownThreads().contains("graft-ingest"), s"a pool thread outlived batch $b")
    }
    val after = ownThreads()
    info(s"threads: ${before.size} before, ${after.size} after 20 batches")
    assert(after.size <= before.size, after.diff(before))
  }

  /** The golden batch run: four jobs for the input scan, the envelope
    * cache and the control-plane aggregate's two stages, two for the one
    * phase-1 query, then one write per stream. */
  private val MaxBatchJobs = 9
}
