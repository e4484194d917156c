package graft.streaming

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.util
import java.util.{OptionalLong, UUID}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{HasPartitionStatistics, InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit,
  SupportsAdmissionControl}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Live stdin as a DataSource-v2 `MicroBatchStream` (SURVEY §4.3 item 4):
  * the unbounded `tap | target` deployment shape with NO pre-spool, behind
  * both `graft.Main --mode live` and stdin `--mode stream`. A daemon
  * thread drains the pipe into a driver-side line buffer, each trigger
  * takes the lines that arrived since the last one, and commit evicts
  * everything at or below the committed offset. The buffer holds at most
  * [[StdinStream.BufferCapBytes]] of lines (plus one line): at the cap the
  * reader stops reading, so the pipe pushes back on the tap. A batch
  * takes at most half the cap, so a backlog runs as half-cap batches.
  *
  * Offsets are cumulative line counts — the natural exactly-once framing
  * for a serial byte stream. WITHIN a run any uncommitted range replays
  * exactly (lines stay buffered until commit, which is all the engine
  * needs for task retries). ACROSS a crash a pipe cannot be re-read: a
  * batch or commit at an offset this source has not delivered (an
  * evicted one, or any above 0 before its first batch, as a reused
  * checkpoint asks for) throws instead of silently resuming with a gap.
  * That restart gap is the reference's own behavior (a crashed run loses
  * everything since its last state). Durable replay needs `--mode stream
  * --input <landing dir>`, whose checkpoint is the stable
  * `<output>/_graft_checkpoint`.
  *
  * One input partition per batch: stdin is inherently a serial stream,
  * exactly like the reference's single reader loop feeding its consumer
  * process. The partition reports its bytes ([[StdinPartition]]), and
  * the ingest envelope plans from them
  * ([[graft.pipeline.IngestCore.envelope]]): a batch no larger than the
  * session's advisory partition size stays one partition, so every
  * query over it is one task and one stage with no exchange; a larger
  * one is rebalanced, and AQE spreads it over the cluster.
  *
  * Each stream reads its own [[StdinFeed]] (production: `System.in`;
  * tests feed a pipe), which [[StreamingIngest.startLive]] hands to the
  * source its query builds.
  */
object StdinStream {
  val schema: StructType =
    StructType(Seq(StructField("value", StringType, nullable = false)))

  /** Bytes of lines a source buffers before its reader waits for a
    * commit: 64x the 1 MB advisory partition size, so a backlog still
    * lands as large (half-cap) rebalanced batches, yet a `cat huge.jsonl`
    * pipe cannot fill the driver heap. */
  val BufferCapBytes: Long = 64L << 20

  // Feeds on their way from startLive to their query's source, by the
  // source's `feed` option; each is taken once, when the source is built.
  private val handoff = new ConcurrentHashMap[String, StdinFeed]()

  private[streaming] def offer(feed: StdinFeed): String = {
    val id = UUID.randomUUID().toString
    handoff.put(id, feed)
    id
  }

  private[streaming] def take(id: String): StdinFeed =
    Option(id).flatMap(i => Option(handoff.remove(i))).getOrElse(throw new IllegalStateException(
      s"no stdin feed '$id': start a live stream with StreamingIngest.startLive"))
}

/** One live stream's input: the stream its source reads, and whether the
  * source's reader has reached its end (or failed). The driver loop in
  * [[graft.Main]] polls [[eofReached]] to know when the tap closed the
  * pipe (a pipe-fed query otherwise idles forever). Each stream has its
  * own, so no other stream's reader, early or late, can set it. */
final class StdinFeed(val in: InputStream) {
  @volatile private[streaming] var eof = false
  def eofReached: Boolean = eof
}

final class StdinStreamProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StdinStream.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new StdinTable
}

final class StdinTable extends Table with SupportsRead {
  override def name(): String = "graft_stdin"
  override def schema(): StructType = StdinStream.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = StdinStream.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new StdinMicroBatchStream(StdinStream.take(options.get("feed")))
    }
}

/** Line-count offset; json form is just the number. */
final case class StdinOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** `capBytes` is [[StdinStream.BufferCapBytes]]; tests pass a small one. */
final class StdinMicroBatchStream(feed: StdinFeed, capBytes: Long = StdinStream.BufferCapBytes)
    extends MicroBatchStream with SupportsAdmissionControl {
  private val in = feed.in
  // Guarded by `this`: lines [evicted, evicted + buf.size), and for each
  // the UTF-8 bytes read through its end, newlines included (`ends`);
  // `evictedBytes` is that count through line `evicted`, and `planned`
  // the highest batch end planned.
  private val buf = new util.ArrayList[String]()
  private val ends = new util.ArrayList[java.lang.Long]()
  private var evicted = 0L
  private var evictedBytes = 0L
  private var planned = 0L
  private var stopped = false
  @volatile private var failure: Throwable = _

  private def bytesTo(offset: Long): Long =
    if (offset == evicted) evictedBytes else ends.get((offset - evicted - 1).toInt)

  /** Buffers `line` once the cap lets it in; false once stopped. */
  private def append(line: String): Boolean = {
    val n = line.getBytes(UTF_8).length + 1L
    synchronized {
      def read = bytesTo(evicted + buf.size)
      // At the cap, wait for a commit, but only while a buffered line
      // waits for a batch: the engine commits a batch when it plans the
      // next, so a full buffer of planned lines must take one more. An
      // empty buffer thus always takes a line of any size.
      while (!stopped && evicted + buf.size > planned && read - evictedBytes + n > capBytes)
        wait()
      if (!stopped) { ends.add(read + n); buf.add(line) }
      !stopped
    }
  }

  private val reader = new Thread(() => {
    try {
      val br = new BufferedReader(new InputStreamReader(in, UTF_8))
      var line = br.readLine()
      while (line != null && append(line)) line = br.readLine()
    } catch { case t: Throwable => failure = t }
    finally feed.eof = true
  }, "graft-stdin-source")
  reader.setDaemon(true)
  reader.start()

  private def rethrow(): Unit =
    if (failure != null)
      throw new IllegalStateException("stdin source reader failed", failure)

  /** The bytes of the lines buffered now (for tests). */
  private[streaming] def bufferedBytes: Long = synchronized(bytesTo(evicted + buf.size) - evictedBytes)

  /** Whether the reader thread is still running (for tests). */
  private[streaming] def readerAlive: Boolean = reader.isAlive

  override def initialOffset(): Offset = StdinOffset(0L)
  override def latestOffset(): Offset = synchronized {
    rethrow(); StdinOffset(evicted + buf.size)
  }
  override def deserializeOffset(json: String): Offset =
    StdinOffset(json.toLong)

  // The engine asks here, with the offset its next batch starts at: a
  // reused checkpoint's shows before any batch is planned or committed,
  // even when the new pipe holds exactly as many lines.
  //
  // A batch ends at half the cap (at least one line, so a line over the
  // cap still passes). The engine commits a batch only when it plans the
  // next, so a batch of the whole buffer would leave the reader room for
  // just one line: a backlog would run as cap-sized batches alternating
  // with one-line ones. With half, the reader refills the other half
  // while a batch runs.
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = synchronized {
    rethrow()
    val s = start.asInstanceOf[StdinOffset].n
    requireDelivered(s)
    val budget = bytesTo(s) + capBytes / 2
    var e = s
    while (e < evicted + buf.size && (e == s || bytesTo(e + 1) <= budget)) e += 1
    StdinOffset(e)
  }

  /** Offsets this source is asked to start at or commit lie within what
    * it delivered: one below `evicted` was committed, and one above
    * `planned` (so any above 0 before the first batch, as a reused
    * checkpoint asks for) was read by an earlier process. */
  private def requireDelivered(offset: Long): Unit =
    if (offset < evicted || offset > planned)
      throw new IllegalStateException(
        s"stdin cannot resume at line $offset (this pipe holds lines from " +
          s"$evicted, and its batches have reached line $planned): a pipe is " +
          "not re-readable across restarts — when crash recovery must " +
          "re-deliver, land the tap's output in a directory and run " +
          "--mode stream --input <that dir>")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    synchronized {
      val (s, e) = (start.asInstanceOf[StdinOffset].n, end.asInstanceOf[StdinOffset].n)
      requireDelivered(s)
      val lines = new Array[String]((e - s).toInt)
      var i = 0
      while (i < lines.length) {
        lines(i) = buf.get((s - evicted).toInt + i); i += 1
      }
      planned = planned.max(e)
      notifyAll()
      Array(StdinPartition(lines, bytesTo(e) - bytesTo(s)))
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new StdinReaderFactory

  override def commit(end: Offset): Unit = synchronized {
    val n = end.asInstanceOf[StdinOffset].n
    requireDelivered(n)
    val k = (n - evicted).toInt
    if (k > 0) {
      evictedBytes = ends.get(k - 1)
      buf.subList(0, k).clear(); ends.subList(0, k).clear(); evicted = n
      notifyAll()
    }
  }

  override def stop(): Unit = {
    synchronized { stopped = true; notifyAll() }
    try in.close() catch { case _: java.io.IOException => () }
  }
}

/** The batch's lines ship inside the partition (driver → the one task),
  * mirroring how the reference hands parsed lines to its consumer. It
  * reports their UTF-8 bytes, newlines included, as a file of the same
  * lines would measure (counted once, by the source's reader): the
  * ingest envelope sizes its plan from them. */
final case class StdinPartition(lines: Array[String], bytes: Long) extends HasPartitionStatistics {
  override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
  override def numRows(): OptionalLong = OptionalLong.of(lines.length.toLong)
  override def filesCount(): OptionalLong = OptionalLong.empty()
}

final class StdinReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val lines = partition.asInstanceOf[StdinPartition].lines
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < lines.length }
      override def get(): InternalRow =
        InternalRow(UTF8String.fromString(lines(i)))
      override def close(): Unit = ()
    }
  }
}
