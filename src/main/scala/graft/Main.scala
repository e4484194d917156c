package graft

import java.nio.file.{Files, Path, Paths}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.model.TargetConfig
import graft.pipeline.SingerPipeline
import graft.streaming.StreamingIngest
import graft.sources.S3Conf

/** CLI entry point with the reference's UX (reference __init__.py:334-358,
  * setup.py:39-42): read newline-delimited Singer messages from stdin (or
  * `--input file` for testing), `--config config.json` with the same keys,
  * write per-stream Parquet to the bucket/prefix, emit the final state
  * bookmark to stdout.
  *
  * Three consumption modes (`--mode`; any other value is a usage error):
  *  - `batch` (default): spool all of stdin, then one batch job — right
  *    for bounded extracts and for pointing `--input` at a landing zone.
  *    The spool copy starts at launch, on its own thread, so the tap's
  *    pipe drains while the Spark session starts.
  *  - `live`: incremental consumption — one driver loop
  *    ([[StreamingIngest.runStdin]]) takes the lines that arrived, appends
  *    per-stream parquet and emits a state bookmark after each batch's
  *    writes, long before EOF, like the reference's incremental loop
  *    (__init__.py:215). It buffers a bounded backlog, so a fast tap
  *    waits on the pipe. Nothing is checkpointed: a pipe cannot be
  *    re-read after a crash.
  *  - `stream`: the same incremental loop. Over stdin it IS `live`.
  *    `--input <landing dir>` watches that directory instead (stdin is
  *    not read) with a Structured Streaming query whose stable checkpoint
  *    `<output>/_graft_checkpoint` (or `--checkpoint`) lets a re-run
  *    after a crash resume it: the durable deployment.
  *
  * A flag the mode never reads is a usage error: `--input` in live mode,
  * `--checkpoint` in batch mode and wherever stdin is read.
  *
  * The batch stdin spool lives in a per-run directory under `temp_dir`,
  * deleted once the run succeeds; a failed run keeps it, and names its
  * spool file on stderr. A `--checkpoint` or `--input` from the command
  * line is never deleted.
  *
  * Divergences (documented, SURVEY.md §7.4): `--output` allows a local/
  * hdfs URI instead of S3 (the reference requires a bucket); compression
  * actually compresses; zero-record input does not crash.
  *
  * Usage: some-tap | sbt "runMain graft.Main --config config.json"
  */
object Main {
  private val Usage =
    "usage: graft.Main [--config <config.json>] [--output <uri>] " +
      "[--mode batch|stream|live] [--input <path>] [--checkpoint <dir>]"
  private val Flags = Set("config", "output", "mode", "input", "checkpoint")
  private val Modes = Set("batch", "stream", "live")

  /** The command line as flag -> value, with `mode` defaulted to batch and
    * stdin `stream` run as `live`; or the error for an unknown flag, a
    * flag without a value, a repeated flag, a mode outside
    * batch|stream|live or a flag the mode never reads. A pipe cannot be
    * re-read, so no mode that reads stdin takes a checkpoint. */
  private[graft] def parseArgs(args: Seq[String]): Either[String, Map[String, String]] = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Map[String, String]): Either[String, Map[String, String]] =
      rest match {
        case Nil => Right(acc)
        case flag :: _ if !flag.startsWith("--") || !Flags(flag.drop(2)) =>
          Left(s"unknown argument: $flag")
        case flag :: _ if acc.contains(flag.drop(2)) => Left(s"$flag given twice")
        case flag :: value :: tail if !value.startsWith("--") =>
          loop(tail, acc + (flag.drop(2) -> value))
        case flag :: _ => Left(s"$flag needs a value")
      }
    loop(args.toList, Map.empty).flatMap { opts =>
      opts.getOrElse("mode", "batch") match {
        case mode if !Modes(mode) => Left(s"unknown mode: $mode (expected batch, stream or live)")
        case "live" if opts.contains("input") =>
          Left("--input is not read in live mode (it reads stdin; use --mode stream --input)")
        case "batch" if opts.contains("checkpoint") => Left("--checkpoint is not read in batch mode")
        case _ if opts.contains("checkpoint") && !opts.contains("input") =>
          Left("--checkpoint is not read from stdin (a pipe cannot resume; use --mode stream --input)")
        case "stream" if !opts.contains("input") => Right(opts + ("mode" -> "live"))
        case mode => Right(opts + ("mode" -> mode))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toSeq) match {
      case Right(o) => o
      case Left(err) =>
        System.err.println(s"graft.Main: $err")
        System.err.println(Usage)
        sys.exit(2)
    }

    val config: TargetConfig = opts.get("config") match {
      case Some(path) =>
        val node = graft.model.Singer.parseJson(Files.readString(Paths.get(path)))
        val m = node.properties().iterator()
        val builder = scala.collection.mutable.Map.empty[String, String]
        while (m.hasNext) { val e = m.next(); builder(e.getKey) = e.getValue.asText() }
        TargetConfig.fromMap(builder.toMap)
      case None => TargetConfig()
    }

    val output = opts.get("output") match {
      case Some(uri) => uri
      case None =>
        val errs = TargetConfig.validate(
          config.s3Bucket.map(b => Map[String, Any]("s3_bucket" -> b)).getOrElse(Map.empty))
        if (errs.nonEmpty) { errs.foreach(System.err.println); sys.exit(1) }
        S3Conf.outputUri(config)
    }

    val spool = if (opts("mode") == "batch" && !opts.contains("input")) Some(spoolStdin(config))
      else None
    val spark = GraftSession(config.tempDir)
    S3Conf(spark, config)

    try {
      opts("mode") match {
        case "stream" => runStream(spark, opts, output, config)
        case "live"   => new StreamingIngest(spark, output, config).runStdin(System.in)
        case _        => runBatch(spark, spool.toRight(opts("input")), output, config)
      }
    } finally spark.stop()
  }

  /** Batch stdin on its way to `file`, `stdin.jsonl` in a fresh per-run
    * directory under `temp_dir` (L7) or the system default: the copy's
    * byte count, or its error. */
  private final case class Spool(file: Path, copied: Future[Long])

  /** Starts copying stdin to a [[Spool]] now, on its own thread. */
  private def spoolStdin(config: TargetConfig): Spool = {
    val dir = config.tempDir match {
      case Some(root) =>
        Files.createTempDirectory(Files.createDirectories(Paths.get(root)), "singer-stdin")
      case None => Files.createTempDirectory("singer-stdin")
    }
    val file = dir.resolve("stdin.jsonl")
    Spool(file, Future(Files.copy(System.in, file))(ExecutionContext.global))
  }

  /** Batch mode over `--input` or the stdin [[Spool]]. Stdin is spooled
    * to a file so the input is splittable/re-scannable (the batch
    * pipeline makes several passes; a 100 TB deployment points --input at
    * the durable landing zone instead). A run that succeeds deletes the
    * spool's directory; a failed run keeps the spool file and names it on
    * stderr, so the run can be repeated with `--input`. */
  private def runBatch(spark: SparkSession, input: Either[String, Spool],
                       output: String, config: TargetConfig): Unit = {
    def ingest(input: String): Unit = {
      val result = SingerPipeline.run(spark, input, output, config)
      result.outputs.foreach(o =>
        System.err.println(s"[graft] wrote ${o.rows} rows -> ${o.path}"))
      SingerPipeline.emitState(result.state)
    }
    input match {
      case Left(path) => ingest(path)
      case Right(sp) =>
        if (Await.result(sp.copied, Duration.Inf) == 0L)
          System.err.println("[graft] warning: 0 bytes read from stdin — " +
            "is the tap connected? (zero-message input is not an error)")
        try ingest(sp.file.toString) catch { case e: Throwable =>
          System.err.println(s"[graft] run failed; stdin is kept at ${sp.file} " +
            "(repeat the run with --input <that file>)")
          throw e
        }
        FileUtils.deleteQuietly(sp.file.getParent.toFile)
    }
  }

  /** Stream mode over a landing directory: watch it, by default with a
    * STABLE checkpoint under the output so a re-run after a crash resumes
    * instead of re-ingesting every landing file into the append-mode
    * output (duplicating all rows). */
  private def runStream(spark: SparkSession, opts: Map[String, String],
                        output: String, config: TargetConfig): Unit =
    new StreamingIngest(spark, output, config)
      .start(opts("input"), opts.getOrElse("checkpoint", s"$output/_graft_checkpoint"),
        Trigger.ProcessingTime("500 milliseconds"))
      .awaitTermination()
}
