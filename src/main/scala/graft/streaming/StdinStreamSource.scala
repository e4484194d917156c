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
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Live stdin as a DataSource-v2 `MicroBatchStream` (SURVEY §4.3 item 4):
  * the unbounded `tap | target` deployment shape with NO pre-spool — a
  * daemon thread drains the pipe into a driver-side line buffer, each
  * trigger takes the lines that arrived since the last one, and commit
  * evicts everything at or below the committed offset, so driver memory
  * is bounded by (arrival rate × trigger interval), not by the run.
  *
  * Offsets are cumulative line counts — the natural exactly-once framing
  * for a serial byte stream. WITHIN a run any uncommitted range replays
  * exactly (lines stay buffered until commit, which is all the engine
  * needs for task retries). ACROSS a crash a pipe cannot be re-read:
  * planInputPartitions throws on an evicted range instead of silently
  * resuming with a gap. That restart gap is the reference's own behavior
  * (a crashed run loses everything since its last state), and a
  * stdin-fed `--mode stream` run has it too (per-run spool and
  * checkpoint). Durable replay needs `--mode stream --input <landing
  * dir>`, whose checkpoint is the stable `<output>/_graft_checkpoint`.
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

final class StdinMicroBatchStream(feed: StdinFeed) extends MicroBatchStream {
  private val in = feed.in
  // Lines [evicted, evicted + buf.size); guarded by `this`.
  private val buf = new util.ArrayList[String]()
  private var evicted = 0L
  @volatile private var failure: Throwable = _

  private val reader = new Thread(() => {
    try {
      val br = new BufferedReader(new InputStreamReader(in, UTF_8))
      var line = br.readLine()
      while (line != null) {
        synchronized { buf.add(line) }
        line = br.readLine()
      }
    } catch { case t: Throwable => failure = t }
    finally feed.eof = true
  }, "graft-stdin-source")
  reader.setDaemon(true)
  reader.start()

  private def rethrow(): Unit =
    if (failure != null)
      throw new IllegalStateException("stdin source reader failed", failure)

  override def initialOffset(): Offset = StdinOffset(0L)
  override def latestOffset(): Offset = synchronized {
    rethrow(); StdinOffset(evicted + buf.size)
  }
  override def deserializeOffset(json: String): Offset =
    StdinOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    synchronized {
      val (s, e) = (start.asInstanceOf[StdinOffset].n, end.asInstanceOf[StdinOffset].n)
      if (s < evicted)
        throw new IllegalStateException(
          s"stdin cannot replay committed offsets ($s < $evicted): a pipe is " +
            "not re-readable across restarts — when crash recovery must " +
            "re-deliver, land the tap's output in a directory and run " +
            "--mode stream --input <that dir>")
      val lines = new Array[String]((e - s).toInt)
      var i = 0
      while (i < lines.length) {
        lines(i) = buf.get((s - evicted).toInt + i); i += 1
      }
      Array(StdinPartition(lines))
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new StdinReaderFactory

  override def commit(end: Offset): Unit = synchronized {
    val k = (end.asInstanceOf[StdinOffset].n - evicted).min(buf.size.toLong).toInt
    if (k > 0) { buf.subList(0, k).clear(); evicted += k }
  }

  override def stop(): Unit =
    try in.close() catch { case _: java.io.IOException => () }
}

/** The batch's lines ship inside the partition (driver → the one task),
  * mirroring how the reference hands parsed lines to its consumer. It
  * reports their UTF-8 bytes, newlines included, as a file of the same
  * lines would measure: the ingest envelope sizes its plan from them. */
final case class StdinPartition(lines: Array[String]) extends HasPartitionStatistics {
  override def sizeInBytes(): OptionalLong =
    OptionalLong.of(lines.foldLeft(0L)((n, l) => n + l.getBytes(UTF_8).length + 1))
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
