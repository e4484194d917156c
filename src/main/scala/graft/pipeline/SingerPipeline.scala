package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import graft.model._

/** The engine's core: the reference's whole dataflow
  * (`stdin → parse → validate → flatten → partition-by-stream →
  * micro-batch → parquet → S3`, SURVEY.md §0) re-expressed as one
  * [[IngestCore]] pass over the whole input: one control-plane
  * aggregate, one phase-1 query that validates and infers every
  * stream's schema epochs, then the epochs written once all passed.
  *
  * Scale design (SURVEY.md §3.2 mapping):
  *  - RECORD lines never touch the driver: they flow scan → `from_json` →
  *    validation kernel → flatten select-list → parquet sink, all
  *    partition-parallel. At 100 TB the input splits across executors
  *    like any text scan.
  *  - SCHEMA/STATE are control-plane: every SCHEMA and only the last
  *    STATE are collected, in file order. A tap may send a STATE after
  *    every record, so STATE lines can be as many as RECORD lines; the
  *    bookmark needs only the last.
  *  - The order constraint (record-before-schema → error, reference
  *    __init__.py:224-229) and the state fold (P8) need only per-stream
  *    `min(idx)` / global `max(idx)` — O(1)-output aggregates.
  *  - The reference's producer/consumer process pair and its
  *    stream-change flush artifact (X2) disappear: Spark's scheduler
  *    provides the pipeline parallelism, `maxRecordsPerFile` provides the
  *    size-based batching (X3).
  *
  * Documented divergences from the reference (all SURVEY.md §7.4): actual
  * compression instead of rename-only (S9), no crash on missing prefix
  * (S8) or zero records (X4), one parquet directory per stream instead of
  * many change-triggered small files (X2), and nothing written when any
  * record is invalid (the reference has flushed earlier batches).
  */
object SingerPipeline {

  final case class StreamOutput(stream: String, path: String, rows: Long)
  final case class IngestResult(
      state: Option[String],
      outputs: Seq[StreamOutput],
      keyProperties: Map[String, Seq[String]])

  /** Run the batch pipeline over newline-delimited Singer messages (a
    * file or a directory of files read in name order; local path,
    * hdfs:// or s3a://) writing one parquet dataset per stream under
    * `outputUri`. */
  def run(spark: SparkSession,
          inputPath: String,
          outputUri: String,
          config: TargetConfig = TargetConfig(),
          clock: () => String = Naming.defaultTimestamp _): IngestResult = {
    // The control-plane aggregate fills this cache with the run's one
    // input scan; the phase-1 query and the writes then read it,
    // concurrently, instead of each re-scanning the input.
    val typed = IngestCore.envelope(IngestCore.fileLines(spark.read.text(inputPath)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val plane = IngestCore.controlPlane(typed)
      val epochs = IngestCore.epochs(plane, baseline = Map.empty)
      val timestamp = clock()
      IngestCore.writeEpochs(spark, IngestCore.records(typed), epochs, config, outputUri,
        timestamp, overwrite = true)
      IngestResult(
        StateFold.emittedState(plane.states, plane.maxRecordIdx).map(Singer.toJsonString),
        epochs.map(_.stream).distinct.map(s => StreamOutput(s,
          IngestCore.outputPath(outputUri, config, s, timestamp), plane.extents(s).n)),
        plane.schemas.map(_._2).groupBy(_.stream).view.mapValues(_.last.keyProperties).toMap)
    } finally { typed.unpersist(); () }
  }

  /** State emission (S10, reference __init__.py:26-31): one JSON line to
    * stdout, nothing when state is absent. */
  def emitState(state: Option[String]): Unit = state.foreach { s =>
    Console.out.println(s)
    Console.out.flush()
  }
}
