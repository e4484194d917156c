package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is built. The CLI, Bench, Verify,
  * Explain, the scale probe and the tests all run this conf, so the
  * oracle and the tests check the engine that is benched and shipped.
  *
  * Master: `SPARK_MASTER`, or else `local[n]` with n = `SPARK_GRAFT_CPUS`
  * (every core of the machine when unset); n is also the
  * shuffle-partition count.
  *
  * AQE sizes post-shuffle partitions by BYTES instead of pinning every
  * exchange to the core count (r17, guide §2.2/§2.6/§9).
  * `parallelismFirst=true` (the Spark default) makes AQE coalesce no
  * further than default parallelism, so at sf0.1 every tiny exchange
  * still schedules n tasks — the measured cause of the r16 scaling
  * block's ratio<0.5 rows (events_rfm 0.45, version_compact 0.46,
  * text_unigram 0.48: 32 cores SLOWER than 8 on sub-MB shuffles). The
  * 1m advisory still coalesces the sub-MB exchanges of those rows onto
  * 1-2 tasks, while a 30-60 MB compute-dense shuffle keeps ~32. A 16m
  * advisory was tried first and rejected: bytes understate the compute
  * of dedup_contain_10x's join (its pairs explode after the exchange),
  * so 16m packed it onto ~2 tasks and the row went from 8.7 to 35.8 s
  * (OPTIMIZATION_r17.md, "AQE advisory retune"). The size scales with
  * data: a 100-TB deployment raises it toward the guide's 256m. A
  * sub-MB streaming micro-batch coalesces to one partition under either
  * setting.
  *
  * Checkpoint-file checksums are off unless [[checkpointChecksum]]
  * turns them on. `events.parquet`'s nanos `ts` needs `nanosAsLong`, and
  * every table read assumes the UTC session zone. */
object GraftSession {

  /** Checkpoint-file CHECKSUMS stay off unless `SPARK_GRAFT_CKPT_CHECKSUM
    * =true` (env or `graft.ckptChecksum` sys prop) turns them on — r16
    * optimization finding (guide §1/§7.3): Spark 4.1's
    * `ChecksumCheckpointFileManager` (default-on
    * `spark.sql.streaming.checkpoint.fileChecksum.enabled`) creates a
    * private thread pool per manager instance and stopped queries never
    * release them — a 12-row stream subset leaked 480
    * `ChecksumCheckpo...` threads (measured via /proc/<pid>/task), the
    * full 217-row bench idled at ~700 threads, and the per-job
    * scheduling probe read ~30-50 ms vs ~10 ms in a fresh JVM — which
    * tripled iterative driver-loop rows (text_bpe_dist 9.6 s in-suite
    * vs 3.3 s standalone). Each checkpoint write also pays a paired
    * .crc file + pool round-trip per batch. The spooled rows are bounded
    * one-shot replays with throwaway checkpoints, and the ingest
    * checkpoints leak the same pools; deployments that keep long-lived
    * checkpoints on storage they distrust can turn it back on. */
  private def checkpointChecksum: Boolean =
    sys.props.get("graft.ckptChecksum")
      .orElse(sys.env.get("SPARK_GRAFT_CKPT_CHECKSUM"))
      .exists(_.equalsIgnoreCase("true"))

  /** Every conf key the session sets, and its value. `localDir` is the
    * configured `temp_dir` (reference __init__.py:46-50,91): shuffle and
    * spill scratch space follows the staging directory. */
  private[graft] def conf(localDir: Option[String]): Map[String, String] = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
      .getOrElse(Runtime.getRuntime.availableProcessors().toString)
    Map(
      "spark.master" -> sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"),
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> checkpointChecksum.toString
    ) ++ localDir.map("spark.local.dir" -> _)
  }

  /** The session, created on first call; its log level is WARN. */
  def apply(localDir: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder().appName("graft").config(conf(localDir)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
