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
import graft.model.{Singer, StateFold, TargetConfig}
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

  /** `lines` as a micro-batch: one file, read as one split, so the
    * envelope sees its bytes, as it sees a live page's. */
  private def batchOf(lines: Seq[String]): DataFrame = {
    val f = Files.createTempFile("core-batch", ".jsonl")
    Files.writeString(f, lines.mkString("", "\n", "\n"))
    spark.read.text(f.toString)
  }

  /** Two streams, one schema epoch each, `n` records each, closed by a
    * STATE: the shape of a live page. */
  private def twoStreamLines(from: Int, n: Int = 50): Seq[String] =
    (if (from == 0) Seq(schema("s1"), schema("s2")) else Nil) ++
      (from until from + n).flatMap(i => Seq(record("s1", i), record("s2", i))) :+
      s"""{"type": "STATE", "value": {"page": $from}}"""

  private def twoStreamBatch(from: Int, n: Int = 50): DataFrame = batchOf(twoStreamLines(from, n))

  /** One job: its group, SQL execution, `graft.layer` and `graft.batch`,
    * and the task count of each stage it ran (AQE's skipped stages run
    * none). */
  private final case class Job(group: String, execution: Long, layer: String, batch: String,
                               stageTasks: ArrayBuffer[Int])

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
          props.map(_.getProperty(IngestCore.LayerKey)).orNull,
          props.map(_.getProperty(StreamingIngest.BatchKey)).orNull, ArrayBuffer.empty)
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

  // The envelope is one partition planned as SinglePartition and is
  // checkpointed lazily, so every query that runs a job runs one, of one
  // stage: the control plane (it also fills the checkpoint), phase 1, then
  // one write per stream. Marking the checkpoint is one more query, which
  // runs no job.
  test("one warm micro-batch of two streams runs at most 4 jobs and 4 queries with a job, all in the caller's job group") {
    val ingest = new StreamingIngest(spark, Files.createTempDirectory("core-live").toString,
      TargetConfig(streamsInSeparateFolder = true))
    ingest.processBatch(twoStreamBatch(0)) // registers the schemas, warms the JIT
    val (jobs, queries) = traced(ingest.processBatch(twoStreamBatch(100)))
    info(s"${jobs.size} jobs, ${queries.size} queries: ${queries.map(_.kind).mkString(", ")}")
    val (withJob, jobless) = queries.partition(q => jobs.exists(_.execution == q.execution))
    assert(jobs.size <= 4, s"${jobs.size} jobs")
    assert(withJob.size <= 4, withJob)
    assert(jobless.size <= 1, jobless)
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

  /** Every row under `dir`, merged by name, its columns in name order
    * (the merged order follows whichever footer is read first), as
    * sorted strings. */
  private def rowsUnder(dir: String): Seq[String] = {
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    df.select(df.columns.sorted.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toString).toSeq.sorted
  }

  test("a warm micro-batch with a SCHEMA for a stream with records writes what a batch run writes") {
    val v2 = schema("s1").replace(""""v": {"maxLength": 8""", """"w": {"type": ["null", "string"]}, "v": {"maxLength": 8""")
    val first = Seq(schema("s1"), schema("s2"), record("s1", 1), record("s2", 1))
    val second = Seq(record("s1", 2), v2, """{"type": "RECORD", "stream": "s1", "record": {"pk": 3, "v": "r3", "w": "x"}}""",
      record("s2", 2), """{"type": "STATE", "value": {"page": 2}}""")
    val out = Files.createTempDirectory("core-reemit").toString
    val ingest = new StreamingIngest(spark, out, TargetConfig(streamsInSeparateFolder = true))
    ingest.processBatch(batchOf(first))
    val kinds = traced(ingest.processBatch(batchOf(second)))._2.map(_.kind)
    // s1's records span two epochs. One write per epoch: two for s1, one
    // for s2.
    assert(kinds.dropWhile(_ != "control plane") == Seq("control plane", "phase-1") ++
      Seq.fill(3)("write"), kinds)
    val f = Files.createTempFile("core-reemit", ".jsonl")
    Files.writeString(f, (first ++ second).mkString("\n"))
    val batchOut = Files.createTempDirectory("core-reemit-batch").toString
    SingerPipeline.run(spark, f.toString, batchOut, TargetConfig(streamsInSeparateFolder = true))
    Seq("s1", "s2").foreach(s => assert(rowsUnder(s"$out/$s") == rowsUnder(s"$batchOut/$s"), s))
  }

  test("a warm micro-batch raises the first failure in (stream, epoch) order") {
    val ingest = new StreamingIngest(spark, Files.createTempDirectory("core-order").toString,
      TargetConfig(streamsInSeparateFolder = true))
    ingest.processBatch(batchOf(Seq(schema("s1"), schema("s2"), record("s1", 1))))
    def bad(s: String) = s"""{"type": "RECORD", "stream": "$s", "record": {"pk": 9, "v": "far too long"}}"""
    // s1 under its registered schema, s2 under a SCHEMA in the batch
    val both = intercept[IllegalArgumentException](ingest.processBatch(
      batchOf(Seq(schema("s2"), bad("s2"), bad("s1")))))
    assert(both.getMessage.startsWith("Record validation failed for stream s1"), both.getMessage)
    val fresh = intercept[IllegalArgumentException](ingest.processBatch(
      batchOf(Seq(record("s1", 2), schema("s2"), bad("s2")))))
    assert(fresh.getMessage.startsWith("Record validation failed for stream s2"), fresh.getMessage)
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

  /** A one-file input of `big` records, at least `mb` MB, led by its
    * SCHEMA when `withSchema`. */
  private def bigInput(mb: Int, withSchema: Boolean): Path = {
    val rnd = new scala.util.Random(7)
    val f = Files.createTempFile("core-size", ".jsonl")
    val w = Files.newBufferedWriter(f)
    try {
      if (withSchema) { w.write(schema("big")); w.newLine() }
      var i = 0
      while (Files.size(f) < (mb.toLong << 20) || i < 10) {
        w.write(s"""{"type": "RECORD", "stream": "big", "record": {"pk": $i, "v": "r$i", """ +
          s""""payload": "${rnd.alphanumeric.take(200).mkString}"}}""")
        w.newLine(); i += 1
        if (i % 1000 == 0) w.flush()
      }
    } finally w.close()
    info(s"${Files.size(f)} bytes")
    f
  }

  /** The first stage of each `kind` query's first job: the scan of the
    * envelope. */
  private def tasksOf(kind: String, jobs: Seq[Job], queries: Seq[Query]): Seq[Int] =
    queries.filter(_.kind == kind)
      .flatMap(q => jobs.find(_.execution == q.execution)).flatMap(_.stageTasks.headOption)

  test("a single-file batch input of 4 MB runs its phase-1 and write jobs with defaultParallelism tasks") {
    val parallelism = spark.sparkContext.defaultParallelism
    val f = bigInput(4, withSchema = true)
    val out = Files.createTempDirectory("core-size-batch").toString
    val (jobs, queries) = traced(SingerPipeline.run(spark, f.toString, out, TargetConfig()))
    val (phase1, writes) = (tasksOf("phase-1", jobs, queries), tasksOf("write", jobs, queries))
    info(s"phase-1 $phase1, writes $writes")
    assert(phase1.nonEmpty && phase1.forall(_ == parallelism), jobs)
    assert(writes.nonEmpty && writes.forall(_ == parallelism), jobs)
  }

  test("a single-partition micro-batch above the advisory size spreads its phase-1 and write jobs over defaultParallelism tasks") {
    val parallelism = spark.sparkContext.defaultParallelism
    val f = bigInput(6, withSchema = false)
    val ingest = new StreamingIngest(spark, Files.createTempDirectory("core-size-live").toString,
      TargetConfig(streamsInSeparateFolder = true))
    ingest.processBatch(batchOf(Seq(schema("big"), record("big", -1))))
    // One partition, as a live batch is; its bytes are the file's.
    val lines = IngestCore.fileLines(spark.read.text(f.toString)).coalesce(1)
    assert(lines.rdd.getNumPartitions == 1)
    val (jobs, queries) = traced(ingest.processBatch(lines))
    val (phase1, writes) = (tasksOf("phase-1", jobs, queries), tasksOf("write", jobs, queries))
    info(s"phase-1 $phase1, writes $writes")
    assert(phase1.nonEmpty && phase1.forall(_ == parallelism), jobs)
    assert(writes.nonEmpty && writes.forall(_ == parallelism), jobs)
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

  test("every job of a golden batch run and of a warm two-stream loop batch carries graft.layer, and loop jobs carry graft.batch") {
    val f = Files.createTempFile("core-layers", ".jsonl")
    Files.writeString(f, golden.mkString("\n"))
    val out = Files.createTempDirectory("core-layers").toString
    val (batchJobs, _) = traced(SingerPipeline.run(spark, f.toString, out, TargetConfig()))
    info(batchJobs.map(_.layer).mkString("batch run: ", ", ", ""))
    assert(batchJobs.nonEmpty && batchJobs.forall(_.layer != null), batchJobs)
    def pipe(lines: Seq[String]) =
      new java.io.ByteArrayInputStream(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val ingest = new StreamingIngest(spark, Files.createTempDirectory("core-layers-live").toString,
      TargetConfig(streamsInSeparateFolder = true))
    ingest.runStdin(pipe(twoStreamLines(0))) // registers the schemas
    val (loopJobs, _) = traced(ingest.runStdin(pipe(twoStreamLines(100))))
    info(loopJobs.map(j => s"${j.batch}/${j.layer}").mkString("loop batch: ", ", ", ""))
    assert(loopJobs.nonEmpty && loopJobs.forall(j => j.layer != null && j.batch != null), loopJobs)
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

  // A tap may close every record with a STATE. The control plane keeps
  // every SCHEMA but only the last STATE, so its output does not grow with
  // the STATE count. The bookmark is the reference's: the last STATE when
  // no record follows it, else none.
  test("a STATE after every record yields at most (schemas + 1) control rows and the same bookmark") {
    val n = 500
    def state(i: Int) = s"""{"type": "STATE", "value": {"page": $i}}"""
    val closed = Seq(schema("s1"), schema("s2")) ++
      (1 to n).flatMap(i => Seq(record(if (i % 2 == 0) "s1" else "s2", i), state(i)))
    val open = closed :+ record("s1", n + 1)
    Seq(closed -> Some(s"""{"page":$n}"""), open -> None).foreach { case (lines, bookmark) =>
      val plane = IngestCore.controlPlane(IngestCore.envelope(batchOf(lines)))
      assert(plane.control.size <= plane.schemas.size + 1, plane.control.map(_._1))
      assert(plane.schemas.map(_._2.stream) == Seq("s1", "s2"))
      assert(StateFold.emittedState(plane.states, plane.maxRecordIdx).map(Singer.toJsonString) == bookmark)
    }
  }

  /** The golden batch run's bound from its rebalanced plan: four jobs
    * for the input scan, the envelope cache and the control-plane
    * aggregate's two stages, two for the one phase-1 query, then one write
    * per stream. Its one small split now stays one partition, which runs
    * fewer. */
  private val MaxBatchJobs = 9
}
