package graft.streaming

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.OptionalLong
import java.util.concurrent.atomic.AtomicReference
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.read.HasPartitionStatistics
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.model._
import graft.pipeline.{IngestCore, SingerPipeline}

/** Incremental Singer ingest (SURVEY.md §7.1 #7): the batch pipeline's
  * [[IngestCore]] run once per batch of lines, appending per-stream
  * parquet and emitting the state bookmark after every batch's writes.
  * Two deliveries feed it:
  *  - [[runStdin]], live stdin: one driver loop like the reference's
  *    (__init__.py:352), with no streaming query, trigger or checkpoint;
  *  - [[start]], a landing directory: a Structured Streaming query whose
  *    checkpoint lets a re-run after a crash resume.
  *
  * Per batch: one control-plane aggregate, one phase-1 query
  * (validation and inference) over every epoch, then the epochs appended
  * only once all of them passed, so a failing batch appends nothing. The
  * envelope is checkpointed lazily: the control-plane query reads the
  * input once and fills the checkpoint, the later ones read the
  * checkpoint. A warm live page (one partition under the advisory size)
  * is thus the control plane, phase 1 and one write per stream, each one
  * job of one task in one stage.
  *
  * Cross-batch state (the schema registry and last bookmark) lives on the
  * driver, exactly like the reference's `schemas`/`state` dicts — SCHEMA
  * and STATE are control-plane; RECORD data stays distributed. Because a
  * Singer tap only re-sends SCHEMA at ITS restart, not at the target's,
  * the registry is also persisted under `{outputUri}/_graft_registry/` (via
  * the Hadoop FS API, so it works for local paths and s3a:// alike) and
  * reloaded on construction — a resumed query must not fail on records
  * whose SCHEMA arrived before the restart.
  *
  * Build `spark` with [[graft.GraftSession]]: it turns Spark 4.1's
  * checkpoint-file checksums off. Left on, every started query creates a
  * `ChecksumCheckpointFileManager` thread pool that is never released
  * when the query stops, so a long-lived session leaks one pool per query
  * (the r16 finding quoted at `GraftSession.checkpointChecksum`).
  */
final class StreamingIngest(
    spark: SparkSession,
    outputUri: String,
    config: TargetConfig = TargetConfig(),
    clock: () => String = Naming.defaultTimestamp _) extends Serializable {

  import org.apache.hadoop.fs.Path

  private def fs = new Path(outputUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def registryDir = new Path(outputUri, "_graft_registry")

  private def loadRegistry(): Map[String, SchemaMessage] = {
    val f = fs
    if (!f.exists(registryDir)) Map.empty
    else f.listStatus(registryDir).toSeq
      .filter(_.getPath.getName.endsWith(".json"))
      .map { st =>
        val in = f.open(st.getPath)
        val line = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        Singer.parseControl(-1L, line).asInstanceOf[SchemaMessage]
      }.map(m => m.stream -> m).toMap
  }

  /** Writes `<stream>.json` through a temporary file renamed over it
    * on close, so a crash mid-write leaves the old registry entry whole
    * (the temporary's name does not end in `.json`: loading skips it). */
  private def persistSchema(rawLine: String, stream: String): Unit = {
    val files = CheckpointFileManager.create(registryDir, spark.sparkContext.hadoopConfiguration)
    files.mkdirs(registryDir)
    val out = files.createAtomic(new Path(registryDir, s"$stream.json"), overwriteIfPossible = true)
    try out.write(rawLine.getBytes("UTF-8")) catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  // Driver-side registries (control-plane, tiny).
  private val schemas = new AtomicReference(loadRegistry())
  private val state = new AtomicReference[Option[String]](None)

  /** The bookmark as of the last committed batch: the reference's P8
    * fold ([[StateFold]]) carried across batches. */
  def emittedState: Option[String] = state.get()

  /** Process one batch of raw Singer lines: the [[IngestCore]] pass of
    * the batch pipeline, against the registry instead of an empty one.
    * `lines` has a `value` column, and `file`/`block` from
    * [[IngestCore.fileLines]] when it reads several files. */
  def processBatch(lines: DataFrame): Unit = {
    // Arrival order is captured on the batch's ORIGINAL partitioning, and
    // the envelope is sized to the batch's bytes (IngestCore.envelope): a
    // live page stays one partition with no exchange, a large backlog or
    // landing file is rebalanced. Each downstream action would re-read
    // the input, so the envelope is checkpointed: lazily, filled by the
    // control-plane query's job, which therefore reads the input exactly
    // once, and read by the later queries. Marking it runs a query that
    // plans the envelope and, unless an exchange must run first, starts
    // no job.
    val typed = IngestCore.layer(spark, "envelope")(
      IngestCore.envelope(lines).localCheckpoint(eager = false))
    // The order check runs against the registry as of the previous batch,
    // BEFORE any schema is persisted or registered: a batch that fails it
    // must fail identically when a restarted query retries it.
    val plane = IngestCore.controlPlane(typed)
    val epochs = IngestCore.epochs(plane, schemas.get())
    // One timestamp per micro-batch: under the default naming each batch
    // lands in its own timestamped key, the streaming analogue of the
    // reference's one-file-per-batch output. Config parity with the batch
    // path: naming, §1.4 passthrough and L1 metadata apply here too.
    IngestCore.writeEpochs(spark, IngestCore.records(typed), epochs, config, outputUri,
      clock(), overwrite = false)

    // Last-wins registration, matching the reference's overwrite-on-every-
    // SCHEMA (__init__.py:239-245): the registry (and its on-disk persist)
    // holds the LATEST schema per stream. Registered only AFTER the
    // writes: a batch that fails is retried by the restarted query
    // against the SAME baseline, so pre-SCHEMA records re-parse under the
    // schema that actually governed them. A batch that fails validation
    // has written nothing; only a write that fails midway can leave
    // append-mode files that the retry duplicates — the trade the
    // reference makes in the opposite direction (it LOSES everything
    // since its last state on a crash).
    val latest = plane.schemas.groupBy(_._2.stream).view.mapValues(_.last).toMap
    latest.foreach { case (stream, (raw, _)) => persistSchema(raw, stream) }
    schemas.updateAndGet(reg => reg ++ latest.map { case (k, (_, m)) => k -> m })

    // P8 fold across batches: a batch with a STATE or a RECORD decides
    // the bookmark on its own (a record after its last STATE, or records
    // and no STATE, clear it); a batch with neither keeps the previous.
    if (plane.states.nonEmpty || plane.maxRecordIdx.nonEmpty)
      state.set(StateFold.emittedState(plane.states, plane.maxRecordIdx)
        .map(Singer.toJsonString))
    SingerPipeline.emitState(state.get())
  }

  /** Start the streaming query over a directory of Singer message files
    * (a landing directory: its files are only read, never deleted). */
  def start(inputDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    IngestCore.fileLines(spark.readStream.text(inputDir))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((df: DataFrame, _: Long) => processBatch(df))
      .start()

  /** Ingest live stdin, `in`: the unbounded `tap | target` pipe of
    * `graft.Main --mode live` and stdin `--mode stream`. Each turn blocks
    * until lines have arrived, then runs [[processBatch]] over every line
    * buffered once the reader has caught up ([[StdinFeed]]), which writes
    * and only then prints the bookmark. At the end of `in` it returns once the last batch is
    * done; a read error or a failing batch ends it with that error.
    * Nothing is checkpointed: a pipe cannot be re-read after a crash, so
    * nothing could resume from one (the reference also loses everything
    * since its last state). Each batch's jobs carry the local property
    * `graft.batch`, its number in this run. */
  def runStdin(in: InputStream, capBytes: Long = StdinFeed.CapBytes): Unit = {
    val sc = spark.sparkContext
    val feed = new StdinFeed(in, capBytes)
    try Iterator.continually(feed.take()).takeWhile(_.nonEmpty).flatten.zipWithIndex.foreach {
      case ((lines, bytes), n) =>
        sc.setLocalProperty(StreamingIngest.BatchKey, n.toString)
        val rdd = new StdinBatchRDD(sc, new StdinBatchPartition(lines, bytes))
        processBatch(spark.createDataFrame(rdd, StdinFeed.schema))
    } finally { sc.setLocalProperty(StreamingIngest.BatchKey, null); feed.stop() }
  }
}

object StreamingIngest {
  /** The local property that numbers [[StreamingIngest.runStdin]]'s batches. */
  val BatchKey = "graft.batch"
}

/** One live stream's stdin: a reader thread moves the lines of `in` into
  * a buffer of at most `capBytes` (UTF-8 bytes, newlines included), and
  * [[take]] hands the driver all of it once the reader has caught up
  * with the pipe, so a page the tap writes at once is one batch, not a
  * few lines and then the rest (a line the tap has half written holds
  * back the lines before it until its end arrives). At the cap the reader stops reading, so
  * the pipe pushes back on the tap; it reads on while the driver runs a
  * batch, so a backlog lands as cap-sized batches. An empty buffer takes
  * a line of any size, so a line over the cap passes. At most the cap
  * waits here while at most the cap (or one longer line) runs as a batch.
  * Each stream has its own feed and reader. */
final class StdinFeed(in: InputStream, capBytes: Long = StdinFeed.CapBytes) {
  // Guarded by `this`. `ready`: the reader has caught up with the pipe,
  // or waits at the cap, so the buffered lines may be taken.
  private val buf = ArrayBuffer.empty[String]
  private var bytes = 0L
  private var ready = false
  private var ended = false
  private var stopped = false
  private var failure: Throwable = _

  /** Buffers `line` once the cap lets it in; `more` when the next line
    * is already there to read. False once stopped. */
  private def append(line: String, more: Boolean): Boolean = {
    val n = line.getBytes(UTF_8).length + 1L
    synchronized {
      while (!stopped && buf.nonEmpty && bytes + n > capBytes) {
        ready = true; notifyAll(); wait()
      }
      if (!stopped) {
        buf += line; bytes += n; ready = !more
        if (ready) notifyAll()
      }
      !stopped
    }
  }

  private val reader = new Thread(() => {
    try {
      val br = new BufferedReader(new InputStreamReader(in, UTF_8))
      var line = br.readLine()
      while (line != null && append(line, br.ready())) line = br.readLine()
    } catch { case t: Throwable => synchronized { failure = t } }
    finally synchronized { ended = true; notifyAll() }
  }, "graft-stdin")
  reader.setDaemon(true)
  reader.start()

  /** Blocks until lines have arrived and the reader has caught up with
    * them, or the input has ended, then takes every buffered line with
    * their bytes; None once the input ended and every line was taken. A
    * read error is raised, never taken for the end of the input. */
  def take(): Option[(Array[String], Long)] = synchronized {
    while (!(ready && buf.nonEmpty) && !ended) wait()
    if (failure != null) throw new IllegalStateException("stdin reader failed", failure)
    if (buf.isEmpty) None
    else {
      val batch = (buf.toArray, bytes)
      buf.clear(); bytes = 0L; notifyAll()
      Some(batch)
    }
  }

  /** Ends the reader, also one blocked at the cap or on the pipe. */
  def stop(): Unit = {
    synchronized { stopped = true; notifyAll() }
    try in.close() catch { case _: java.io.IOException => () }
  }

  /** The bytes buffered now (for tests). */
  private[streaming] def bufferedBytes: Long = synchronized(bytes)

  /** Whether the input has ended and its reader is done (for tests). */
  private[streaming] def readerDone: Boolean = synchronized(ended)
}

object StdinFeed {
  val schema: StructType = StructType(Seq(StructField("value", StringType, nullable = false)))

  /** Bytes of lines a feed buffers before its reader waits for the
    * driver: 64x the 1 MB advisory partition size, so a backlog still
    * lands as large, rebalanced batches, yet a `cat huge.jsonl` pipe
    * cannot fill the driver heap. */
  val CapBytes: Long = 64L << 20
}

/** A batch's lines, shipped inside its one task. The partition reports
  * their UTF-8 bytes, newlines included, as a file of the same lines
  * would measure, through Spark's `HasPartitionStatistics`: the ingest
  * envelope sizes its plan from them ([[IngestCore.envelope]]), so a
  * batch under the advisory size runs as one task with no exchange. */
private[streaming] final class StdinBatchPartition(val lines: Array[String], bytes: Long)
    extends Partition with HasPartitionStatistics {
  override def index: Int = 0
  override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
  override def numRows(): OptionalLong = OptionalLong.of(lines.length.toLong)
  override def filesCount(): OptionalLong = OptionalLong.empty()
}

/** One batch of stdin lines as a one-partition RDD of `value` rows. The
  * lines ship once, in the partition: the RDD does not hold them. */
private[streaming] final class StdinBatchRDD(sc: SparkContext, @transient part: StdinBatchPartition)
    extends RDD[Row](sc, Nil) {
  override protected def getPartitions: Array[Partition] = Array(part)
  override def compute(split: Partition, context: TaskContext): Iterator[Row] =
    split.asInstanceOf[StdinBatchPartition].lines.iterator.map(Row(_))
}
