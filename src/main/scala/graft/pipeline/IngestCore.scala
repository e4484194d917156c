package graft.pipeline

import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import scala.util.Try
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import graft.model._
import graft.schema.JsonSchemaConverter
import graft.functions.FlattenColumns
import graft.validate.{Constraints, RecordValidator}

/** The ingest core both delivery shapes run: [[SingerPipeline.run]] once
  * over a whole input, [[graft.streaming.StreamingIngest]] once per
  * micro-batch.
  *  1. [[envelope]] tags every line with `idx` (its place in file order),
  *     `mtype` and `stream`. The full record payload is not parsed here.
  *  2. [[controlPlane]] answers every driver-side question with ONE
  *     grouped aggregate whose output is O(streams + SCHEMA messages):
  *     the first unparseable line (P1), the unknown-type count (L6), the
  *     SCHEMA messages in file order, the last STATE, and each stream's
  *     RECORD extent for the order check (P4) and the state fold (P8).
  *     RECORD lines never reach the driver.
  *  3. [[writeEpochs]] checks every (stream, schema epoch) in ONE
  *     phase-1 query (validation and inference), and writes only when
  *     all of them passed: concurrently across streams, in order within
  *     one.
  * Every job the core starts carries the Spark local property
  * `graft.layer` ([[layer]]): `control`, `phase1` or `write`, and
  * `envelope` where a caller materializes the envelope on its own.
  */
object IngestCore {

  /** The local property that names the ingest layer a job belongs to. */
  val LayerKey = "graft.layer"

  /** Runs `body` with [[LayerKey]] set to `name` on this thread; jobs on
    * the `graft-ingest` write threads inherit it ([[concurrently]]). */
  def layer[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(LayerKey)
    sc.setLocalProperty(LayerKey, name)
    try body finally sc.setLocalProperty(LayerKey, outer)
  }

  /** Max unknown-type payloads echoed to stderr (the reference warns per
    * message, __init__.py:246-251; the echo here is capped). */
  val unknownSampleN = 5

  /** A stream's RECORD lines: first and last `idx`, and how many. */
  final case class Extent(minIdx: Long, maxIdx: Long, n: Long)

  /** SCHEMA messages and the last STATE in `idx` order, each with its
    * raw line, and the extent of every stream that has records. */
  final case class ControlPlane(control: Seq[(String, ControlMessage)],
                                extents: Map[String, Extent]) {
    def schemas: Seq[(String, SchemaMessage)] =
      control.collect { case (raw, m: SchemaMessage) => (raw, m) }
    def states: Seq[StateMessage] = control.collect { case (_, m: StateMessage) => m }
    def maxRecordIdx: Option[Long] = extents.values.map(_.maxIdx).maxOption
  }

  /** One schema's slice of a stream: its records with from < idx < until.
    * Schema registration is positional, as in the reference, which
    * replaces a stream's validator on every SCHEMA (__init__.py:239-245). */
  final case class Epoch(stream: String, schema: SchemaMessage, from: Long, until: Long)

  /** A file scan's lines with the hidden columns [[envelope]] orders by. */
  def fileLines(scan: DataFrame): DataFrame = scan.select(col("value"),
    col("_metadata.file_path").as("file"), col("_metadata.file_block_start").as("block"))

  /** `idx`, `value`, `mtype`, `stream` for each line of `lines`.
    *
    * `idx` follows (file path, offset) order. monotonically_increasing_id
    * alone follows it only while partition order does: true for a serial
    * source and for one file's splits, but Spark packs the splits of
    * several files largest first. A multi-split scan (its `file`/`block`
    * columns from [[fileLines]]) therefore gets (the split's rank in
    * (path, start) order) << 33 | the row's number in its partition; a
    * split never spans partitions, so the low bits keep its line order.
    * The split list comes from the scan's lineage (no job); the rank map
    * ships with the tasks, one entry per split.
    *
    * `idx` is projected on the scan partitions, and the layout is then
    * sized to the input's bytes, read from the same lineage:
    *  - one partition of at most the session's advisory partition size
    *    (`spark.sql.adaptive.advisoryPartitionSizeInBytes`), such as a
    *    live page, stays one partition, planned as `SinglePartition`
    *    (`coalesce(1)`): every later aggregate and write runs as one task
    *    in one stage, with no exchange;
    *  - any other input with fewer partitions than `defaultParallelism`
    *    gets a REBALANCE hint: the work per line (from_json, validation,
    *    inference, flatten, parquet encode) far outweighs the scan, and a
    *    tap's output is often one file, one split. AQE sizes the
    *    rebalanced partitions from the shuffled bytes, so a multi-MB input
    *    spreads over `defaultParallelism`;
    *  - an input with enough splits is never shuffled.
    * A source whose bytes the lineage does not report is planned by its
    * partition count alone. */
  def envelope(lines: DataFrame): DataFrame = {
    val session = lines.sparkSession
    val layout = DatasetBridge.scanLayout(lines)
    val rowId = monotonically_increasing_id()
    val idx =
      if (layout.splits.size <= 1) rowId
      else {
        require(lines.columns.contains("file"), "a multi-file scan needs IngestCore.fileLines")
        val rank = layout.splits.sorted.zipWithIndex.map { case (s, i) => s -> i.toLong }.toMap
        val splitRank = udf((path: String, start: Long) => rank((path, start)))
        shiftleft(splitRank(col("file"), col("block")), 33)
          .bitwiseOR(rowId.bitwiseAND(lit((1L << 33) - 1)))
      }
    val indexed = lines.select(col("value"), idx.as("idx"))
    val advisory = session.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val fanned =
      if (layout.partitions == 1 && layout.bytes.exists(_ <= advisory)) indexed.coalesce(1)
      else if (layout.partitions < session.sparkContext.defaultParallelism) indexed.hint("rebalance")
      else indexed
    fanned.select(col("idx"), col("value"),
      get_json_object(col("value"), "$.type").as("mtype"),
      get_json_object(col("value"), "$.stream").as("stream"))
  }

  /** The one control-plane query over an [[envelope]]. Raises the
    * reference's error for the first unparseable line by `idx` (a line
    * without `$.type` is invalid JSON or not a Singer message), and
    * echoes unknown-type messages. SCHEMA rows ride along as a
    * conditional collect_list, which skips nulls, so other groups
    * collect nothing. Of the STATE rows only each group's last is kept
    * (`max_by` on `idx`): the bookmark reads only the last STATE
    * ([[StateFold.emittedState]]), and a tap may send one after every
    * record, so collecting them all would hold the whole input on one
    * task and the driver. */
  def controlPlane(typed: DataFrame): ControlPlane = layer(typed.sparkSession, "control") {
    val groups = typed.groupBy("mtype", "stream")
      .agg(min("idx"), max("idx"), count(lit(1)),
        min_by(col("value"), when(col("mtype").isNull, col("idx"))),
        collect_list(when(col("mtype") === "SCHEMA", struct(col("idx"), col("value")))),
        max_by(col("value"), when(col("mtype") === "STATE", col("idx"))))
      .collect()
    // row layout: (mtype, stream, minIdx, maxIdx, n, firstUnparseable,
    // schemas, lastState); a STATE group's maxIdx is its last STATE's idx
    groups.filter(_.isNullAt(0)).minByOption(_.getLong(2)).foreach { r =>
      throw new RuntimeException(Singer.unparseableError(r.getString(5)))
    }
    val nUnknown = groups.filterNot(r => Set("RECORD", "SCHEMA", "STATE")(r.getString(0)))
      .map(_.getLong(4)).sum
    if (nUnknown > 0) echoUnknown(typed, nUnknown)
    val schemas = groups.toSeq.flatMap(_.getSeq[Row](6)).map(r => (r.getLong(0), r.getString(1)))
    val lastStates = groups.toSeq.filter(_.getString(0) == "STATE").map(r => (r.getLong(3), r.getString(7)))
    ControlPlane(
      (schemas ++ lastStates).map { case (idx, raw) => (raw, Singer.parseControl(idx, raw)) }
        .sortBy(_._2.idx),
      groups.filter(_.getString(0) == "RECORD")
        .map(r => r.getString(1) -> Extent(r.getLong(2), r.getLong(3), r.getLong(4))).toMap)
  }

  /** Echo unknown-type payloads like the reference does per message, but
    * only the first [[unknownSampleN]] in file order (a TakeOrdered
    * limit): a tap emitting millions of ACTIVATE_VERSIONs costs one
    * bounded scan, never driver memory. The total stays exact. */
  private def echoUnknown(typed: DataFrame, total: Long): Unit = {
    val samples = typed
      .filter(col("mtype").isNotNull && !col("mtype").isin("RECORD", "SCHEMA", "STATE"))
      .orderBy("idx").limit(unknownSampleN).select("mtype", "value").collect()
    samples.foreach(r => Console.err.println(
      s"[graft] warning: Unknown message type ${r.getString(0)} in message ${r.getString(1)}"))
    if (total > samples.length)
      Console.err.println(s"[graft] warning: $total unknown-type " +
        s"message(s) total; first ${samples.length} shown")
  }

  /** The RECORD lines of an [[envelope]], payload still unparsed. */
  def records(typed: DataFrame): DataFrame = typed.filter(col("mtype") === "RECORD")
    .select(col("idx"), col("stream"),
      get_json_object(col("value"), "$.record").as("rec"),
      get_json_object(col("value"), "$.time_extracted").as("time_extracted"))

  /** Every stream's epochs, in (stream name, schema position) order.
    * `baseline` is each stream's schema from before this input (the
    * streaming registry); it governs records up to the input's first
    * SCHEMA for the stream. Order check (reference __init__.py:224-229):
    * a record before its stream's first schema is an error. Epochs whose
    * bounds miss the stream's extent hold no record and are dropped. */
  def epochs(plane: ControlPlane, baseline: Map[String, SchemaMessage]): Seq[Epoch] = {
    val inInput = plane.schemas.map(_._2).groupBy(_.stream)
    plane.extents.toSeq.sortBy(e => Option(e._1)).flatMap { case (stream, ext) =>
      val starts = baseline.get(stream).map(Long.MinValue -> _).toSeq ++
        inInput.getOrElse(stream, Nil).map(m => m.idx -> m)
      if (starts.isEmpty || ext.minIdx < starts.head._1)
        throw new IllegalArgumentException(Singer.recordBeforeSchemaError(stream))
      starts.zip(starts.drop(1).map(_._1) :+ Long.MaxValue).collect {
        case ((from, sm), until) if from < ext.maxIdx && until > ext.minIdx =>
          Epoch(stream, sm, from, until)
      }
    }
  }

  /** Where a stream's parquet goes: its own folder, or the reference's
    * key naming (__init__.py:264-271). */
  def outputPath(outputUri: String, config: TargetConfig, stream: String,
                 timestamp: String): String =
    if (config.streamsInSeparateFolder) s"$outputUri/$stream"
    else s"$outputUri/${Naming.outputKey(config, stream, timestamp)}"

  /** Validate every epoch, then write them all. Phase 1 is ONE grouped
    * query over the run's records ([[phaseOne]]): per epoch, the
    * lowest-`idx` violation and the inferred record schema. Phase 2
    * starts only if every epoch passed, so a bad record anywhere writes
    * nothing; of several failures the first in (stream, epoch) order is
    * raised, inference before validation. Phase 2 writes streams
    * concurrently, each stream's epochs in order: the first replaces
    * earlier output when `overwrite`, the rest append their (possibly
    * differently shaped) files alongside, which parquet readers merge by
    * footer schema (§1.4). */
  def writeEpochs(spark: SparkSession, records: DataFrame, epochs: Seq[Epoch],
                  config: TargetConfig, outputUri: String, timestamp: String,
                  overwrite: Boolean): Unit = {
    val declared = epochs.map(e =>
      JsonSchemaConverter.toStructType(e.schema.schema, config.decimalForMultipleOf))
    val checks = layer(spark, "phase1")(phaseOne(records, epochs, declared, config)
      .fold(Map.empty[Int, Row])(_.collect().map(r => r.getInt(0) -> r).toMap))
    val schemas = epochs.indices.map { i =>
      val row = checks.get(i)
      // Union-schema passthrough (§1.4): record-only fields survive.
      val schema = if (!config.inferExtraFields) declared(i)
        else JsonSchemaConverter.mergeSchemas(declared(i), row.fold(StructType(Nil))(r =>
          JsonSchemaConverter.inferredSchema(r.getAs[String]("inferred"))))
      if (config.strictValidation) {
        uncompiled(records, epochs(i), declared(i)).foreach(e => throw e)
        row.flatMap(r => Option(r.getAs[String]("violation"))).foreach(v =>
          throw new IllegalArgumentException(
            s"Record validation failed for stream ${epochs(i).stream}: $v"))
      }
      schema
    }
    val (codec, _) = config.compressionCodecAndExt
    val ready = epochs.zip(schemas)
    layer(spark, "write")(concurrently(spark, epochs.map(_.stream).distinct.map(s => () =>
      ready.filter(_._1.stream == s).zipWithIndex.foreach { case ((e, schema), i) =>
        var writer = flatten(slice(records, e), schema, config, timestamp).write
          .mode(if (overwrite && i == 0) "overwrite" else "append").option("compression", codec)
        if (config.fileSize > 0) writer = writer.option("maxRecordsPerFile", config.fileSize)
        writer.parquet(outputPath(outputUri, config, s, timestamp))
      }))).foreach(_.get)
  }

  private def inEpoch(e: Epoch): Column =
    col("stream") === e.stream && col("idx") > e.from && col("idx") < e.until

  /** An epoch's records. */
  private def slice(records: DataFrame, e: Epoch): DataFrame = records.filter(inEpoch(e))

  /** Phase 1 of [[writeEpochs]], one row per epoch holding records:
    * `epoch` (its position in `epochs`), and, as `config` asks for them,
    * `violation` (strict validation: [[Constraints.firstViolation]] over
    * [[Constraints.violation]], each record parsed by ONE `from_json`,
    * its epoch's) and `inferred` (`infer_extra_fields`:
    * [[JsonSchemaConverter.inferRecords]] over the epoch's records). An
    * epoch whose validator does not compile against its struct is left
    * out of the validation; [[uncompiled]] raises its error. None when
    * there is nothing to compute: no epoch, or neither inference nor
    * strict validation. */
  private[graft] def phaseOne(records: DataFrame, epochs: Seq[Epoch], declared: Seq[StructType],
                              config: TargetConfig): Option[DataFrame] = {
    // CASE WHEN cond(i) THEN value(i) ... for i in `is`, in order.
    def firstOf(is: Seq[Int])(cond: Int => Column, value: Int => Column): Column =
      is.tail.foldLeft(when(cond(is.head), value(is.head)))((c, i) => c.when(cond(i), value(i)))
    val validated =
      if (config.strictValidation) epochs.indices.filter(i => compiles(epochs(i), declared(i)))
      else Nil
    val aggs =
      (if (validated.nonEmpty)
        Seq(Constraints.firstViolation(col("v"), col("idx")).as("violation")) else Nil) ++
      (if (config.inferExtraFields && epochs.nonEmpty)
        Seq(JsonSchemaConverter.inferRecords(col("rec")).as("inferred")) else Nil)
    if (aggs.isEmpty) None
    else {
      val tagged = records.select(col("idx"), col("rec"), epochOf(epochs).as("epoch"))
      val checked = if (validated.isEmpty) tagged
        else tagged.withColumn("v",
          firstOf(validated)(col("epoch") === _, i => violation(epochs(i), declared(i))))
      Some(checked.groupBy("epoch").agg(aggs.head, aggs.tail: _*))
    }
  }

  /** Each record's epoch: its position in `epochs`, null when it is in
    * none. One binary search over the epochs' (stream, from) bounds, so
    * the generated code stays the same size for any number of epochs (a
    * CASE WHEN over the epochs grew with them, past HotSpot's 8,000-byte
    * JIT limit near 45 epochs). A stream's epochs from [[epochs]] do not
    * overlap, so a record's epoch is the last of its stream's that starts
    * before it, provided the record also lies before that epoch's end. */
  private def epochOf(epochs: Seq[Epoch]): Column = {
    val order = epochs.indices.filter(epochs(_).stream != null)
      .sortBy(i => (epochs(i).stream, epochs(i).from)).toArray
    val streams = order.map(epochs(_).stream)
    val from = order.map(epochs(_).from)
    val until = order.map(epochs(_).until)
    val lookup = udf { (stream: String, idx: Long) =>
      if (stream == null) null
      else {
        // lo = the number of bounds below (stream, idx)
        var lo = 0
        var hi = order.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          val c = streams(mid).compareTo(stream)
          if (c < 0 || (c == 0 && from(mid) < idx)) lo = mid + 1 else hi = mid
        }
        val i = lo - 1
        if (i >= 0 && streams(i) == stream && idx < until(i)) Int.box(order(i))
        else null: java.lang.Integer
      }
    }
    lookup(col("stream"), col("idx"))
  }

  private def violation(e: Epoch, declared: StructType): Column =
    Constraints.violation(Constraints.compile(e.schema.schema),
      from_json(col("rec"), declared), col("rec"))

  private def compiles(e: Epoch, declared: StructType): Boolean =
    RecordValidator.compile(Constraints.compile(e.schema.schema), declared,
      SQLConf.get.ansiEnabled, SQLConf.get.sessionLocalTimeZone).isRight

  /** The analysis error of an epoch whose validator does not compile:
    * the error its own validation query raises. */
  private def uncompiled(records: DataFrame, e: Epoch, declared: StructType): Option[Throwable] =
    if (compiles(e, declared)) None
    else Try(records.select(violation(e, declared))).failed.toOption

  /** One epoch's records as the flat rows to write. */
  private def flatten(recs: DataFrame, schema: StructType,
                      config: TargetConfig, timestamp: String): DataFrame = {
    val parsed = recs.select(col("rec"), col("time_extracted"), from_json(col("rec"), schema).as("r"))
    // L1 metadata columns (reference legacy __init__.py:85-88):
    // _sdc_extracted_at from the envelope, _sdc_batched_at = batch time.
    val metaCols: Seq[Column] =
      if (config.addMetadataColumns)
        Seq(col("time_extracted").as("_sdc_extracted_at"), lit(timestamp).as("_sdc_batched_at"))
      else Seq.empty
    parsed.select(FlattenColumns.columns(col("r"), schema) ++ metaCols: _*)
  }

  /** Run `tasks` concurrently and return their outcomes in task order.
    * The pool lives for this call only, so threads never accumulate
    * across micro-batches, and each task gets the caller's session and
    * local properties as captured at its submission, so its jobs carry
    * the caller's job group, `graft.layer`, batch and SQL execution. */
  private def concurrently[T](spark: SparkSession, tasks: Seq[() => T]): Seq[Try[T]] = {
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(
      tasks.size.min(spark.sparkContext.defaultParallelism).max(1), (r: Runnable) => {
        val t = new Thread(r, "graft-ingest"); t.setDaemon(true); threads.add(t); t
      })
    try tasks.map(t => DatasetBridge.withThreadLocalCaptured(spark, pool)(Try(t())))
      .map(_.get())
    finally { pool.shutdownNow(); threads.forEach(_.join()) }
  }
}
