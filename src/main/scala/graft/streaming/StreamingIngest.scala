package graft.streaming

import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model._
import graft.pipeline.{IngestCore, SingerPipeline}

/** Structured-Streaming variant of the Singer ingest (SURVEY.md §7.1 #7):
  * `readStream.text(dir)` (or live stdin) → `foreachBatch` running the
  * batch pipeline's [[IngestCore]] per micro-batch, appending per-stream
  * parquet and emitting the state bookmark after every committed batch —
  * the streaming analogue of the reference's unbounded stdin loop, with
  * Spark's checkpointing replacing its ad-hoc resume bookkeeping.
  *
  * Per micro-batch: one control-plane aggregate, one phase-1 query
  * (validation and inference) over every epoch, then the epochs appended
  * only once all of them passed, so a failing batch appends nothing. The
  * envelope is checkpointed lazily: the control-plane query reads the
  * source once and fills the checkpoint, the later ones read the
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

  private def persistSchema(rawLine: String, stream: String): Unit = {
    val f = fs
    f.mkdirs(registryDir)
    val out = f.create(new Path(registryDir, s"$stream.json"), true)
    try out.write(rawLine.getBytes("UTF-8")) finally out.close()
  }

  // Driver-side registries (control-plane, tiny).
  private val schemas = new AtomicReference(loadRegistry())
  private val state = new AtomicReference[Option[String]](None)

  /** The bookmark as of the last committed batch: the reference's P8
    * fold ([[StateFold]]) carried across batches. */
  def emittedState: Option[String] = state.get()

  /** Process one micro-batch of raw Singer lines (also usable directly
    * for testing without a streaming query): the [[IngestCore]] pass of
    * the batch pipeline, against the registry instead of an empty one.
    * `lines` has a `value` column, and `file`/`block` from
    * [[IngestCore.fileLines]] when it reads several files. */
  def processBatch(lines: DataFrame): Unit = {
    // Arrival order is captured on the batch's ORIGINAL partitioning, and
    // the envelope is sized to the batch's bytes (IngestCore.envelope): a
    // live page stays one partition with no exchange, a large backlog or
    // landing file is rebalanced. foreachBatch re-executes the source scan
    // per downstream action, so the envelope is checkpointed: lazily,
    // filled by the control-plane query's job, which therefore reads the
    // source exactly once, and read by the later queries. Marking it runs
    // a query that plans the envelope and, unless an exchange must run
    // first, starts no job.
    val typed = IngestCore.envelope(lines).localCheckpoint(eager = false)
    // The order check runs against the registry as of the previous batch,
    // BEFORE any schema is persisted or registered: a batch that fails it
    // must fail identically when the restarted query retries it.
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

  /** Start the streaming query over LIVE stdin via the DSv2
    * [[StdinMicroBatchStream]] — the unbounded `tap | target` pipe of
    * `graft.Main --mode live` and stdin `--mode stream`, with no spool
    * files. Same per-micro-batch core; buffer bound and replay/restart
    * semantics documented at [[StdinStream]]. The query reads `feed`, whose
    * [[StdinFeed.eofReached]] then tells this stream's EOF. */
  def startLive(checkpointDir: String, feed: StdinFeed,
                trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    spark.readStream.format(classOf[StdinStreamProvider].getName)
      .option("feed", StdinStream.offer(feed)).load()
      .toDF("value")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((df: DataFrame, _: Long) => processBatch(df))
      .start()
  }
}

object StreamingIngest {
  /** Wait for the tap to close its pipe (`eof`) or for `query` to die,
    * polling every `pollMs`. At EOF, drain what arrived and stop the
    * query. On death, rethrow the query's error at once: waiting on EOF
    * alone would hang when the query fails mid-pipe while the tap keeps
    * producing. */
  def drainAtEof(query: StreamingQuery, eof: => Boolean, pollMs: Long): Unit = {
    while (!eof && query.isActive) query.awaitTermination(pollMs)
    if (query.isActive) {
      query.processAllAvailable()
      query.stop()
    } else query.awaitTermination()
  }
}
