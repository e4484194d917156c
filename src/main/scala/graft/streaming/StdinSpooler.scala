package graft.streaming

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** Incremental spooler for an unbounded line stream — the live half of the
  * reference's primary UX (`tap | target`, reference __init__.py:352 with
  * the consume loop at :215): lines are rolled into chunk files every
  * `maxLines` lines or `maxIntervalMs` ms, appearing ATOMICALLY (temp file
  * + same-filesystem rename) in a Spark file-streaming watch directory
  * consumed by [[StreamingIngest]]. A long-running tap therefore gets
  * per-batch parquet output and state bookmarks continuously, not one big
  * batch at EOF. `graft.Main` starts the file source over its own spool
  * with `cleanSource=delete` ([[StreamingIngest.start]]'s
  * `deleteCommitted`), so each chunk file is deleted once its batch
  * commits and temp disk holds only the chunks not yet committed; the
  * spool directory itself goes when the run succeeds.
  *
  * What the spool buys is within a run: the chunk files are the file
  * source's offsets, so a failed micro-batch re-reads exactly its own
  * lines. It does not make a stdin-fed run resumable: `graft.Main` gives
  * each `--mode stream` run its own spool directory and its own
  * checkpoint, and the pipe cannot be re-read, so a restarted run resumes
  * nothing. Durable replay needs `--mode stream --input <landing dir>`:
  * the tap writes the landing directory, which is watched directly, and
  * the checkpoint is the stable `<output>/_graft_checkpoint`.
  */
final class StdinSpooler(in: InputStream, watchDir: Path,
                         maxLines: Int = 10000, maxIntervalMs: Long = 1000) {
  require(maxLines > 0, "maxLines must be positive")

  // Hidden sibling inside the watch dir: the file source skips '_'-prefixed
  // paths, and staying on one filesystem keeps the rename atomic.
  private val tmpDir = watchDir.resolve("_spool_tmp")
  Files.createDirectories(tmpDir)

  private val buf = new scala.collection.mutable.ArrayBuffer[String]
  private var nChunks = 0
  private var lastFlush = System.nanoTime()
  @volatile private var eof = false

  // Callers hold the object lock.
  private def flushLocked(): Unit = if (buf.nonEmpty) {
    val name = f"chunk-$nChunks%08d.jsonl"
    val tmp = tmpDir.resolve(name)
    Files.write(tmp, (buf.mkString("\n") + "\n").getBytes(UTF_8))
    Files.move(tmp, watchDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    buf.clear()
    nChunks += 1
    lastFlush = System.nanoTime()
  }

  @volatile private var readFailure: Option[Throwable] = None

  private val reader = new Thread(() => {
    try {
      val br = new BufferedReader(new InputStreamReader(in, UTF_8))
      var line = br.readLine()
      while (line != null) {
        synchronized { buf += line; if (buf.size >= maxLines) flushLocked() }
        line = br.readLine()
      }
    } catch {
      // A dying pipe must not look like clean EOF: record the failure so
      // awaitEof/rethrowIfFailed surface it instead of exiting 0 with the
      // tail of the input silently dropped.
      case t: Throwable => readFailure = Some(t)
    } finally {
      // Flush whatever was read either way, and release the flusher loop.
      synchronized { flushLocked(); eof = true }
    }
  }, "graft-stdin-spooler")

  private val flusher = new Thread(() => {
    while (!eof) {
      Thread.sleep(math.max(10L, maxIntervalMs / 4))
      synchronized {
        if (buf.nonEmpty && (System.nanoTime() - lastFlush) / 1000000L >= maxIntervalMs)
          flushLocked()
      }
    }
  }, "graft-spool-flusher")

  def start(): this.type = {
    // Daemon: a failed streaming query must be able to exit the JVM even
    // while this thread is still blocked in readLine() on a live pipe.
    reader.setDaemon(true)
    reader.start()
    flusher.setDaemon(true)
    flusher.start()
    this
  }

  /** Blocks until the input reaches EOF and the final chunk is on disk;
    * rethrows if the reader died on an input error. */
  def awaitEof(): Unit = { reader.join(); rethrowIfFailed() }

  /** True once the input has reached EOF (or failed) and the final chunk
    * is on disk. */
  def eofReached: Boolean = eof

  /** Surfaces a reader-thread failure (broken pipe, I/O error). */
  def rethrowIfFailed(): Unit = readFailure.foreach(t => throw t)

  def chunksWritten: Int = synchronized(nChunks)
}
