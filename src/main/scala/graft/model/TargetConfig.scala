package graft.model

/** Engine configuration — same keys as the reference's `config.json`
  * (reference config.json.sample:1-7, README.md:80-91), plus the documented
  * fixes from SURVEY.md §7.4 (compression that actually compresses, a
  * defaulted key prefix, zero-record safety).
  *
  * @param s3Bucket        target bucket (required for S3 output; reference utils.py:15-27)
  * @param s3KeyPrefix     key prefix; reference crashes when unset (S8) — we default ""
  * @param compression     SNAPPY/GZIP/BROTLI/ZSTD/LZ4 (reference __init__.py:190-204);
  *                        unlike the reference (which only renames the file), the
  *                        writer is passed the codec
  * @param namingConvention optional `{stream}`/`{timestamp}`/`{date}` template (L3)
  * @param fileSize        max records per output file; <=0 = unbounded (X3)
  * @param streamsInSeparateFolder one folder per stream instead of name-prefixed files
  * @param addMetadataColumns add `_sdc_extracted_at`/`_sdc_batched_at`/`_sdc_deleted_at`
  *                        (L1); when false, `_sdc_*` record fields still pass through
  *                        (active-code parity, FIXTURES.md §1)
  * @param inferExtraFields record fields absent from the declared schema survive to
  *                        the output (reference §1.4 union-schema behavior). The
  *                        inference rides in the one phase-1 query of each run or
  *                        micro-batch, beside validation: it adds no query, but
  *                        parses every record once more. Every record of the
  *                        epoch counts (reference parity: it unions every
  *                        record's fields)
  * @param strictValidation abort on the first JSON-Schema violation (reference P5)
  * @param tempDir         local spool/staging directory (L7, reference
  *                        __init__.py:46-50,91): batch stdin spool files, per-run
  *                        live checkpoints, and spark.local.dir all land here
  */
final case class TargetConfig(
    s3Bucket: Option[String] = None,
    s3KeyPrefix: String = "",
    compression: Option[String] = None,
    namingConvention: Option[String] = None,
    fileSize: Long = -1L,
    streamsInSeparateFolder: Boolean = false,
    addMetadataColumns: Boolean = false,
    inferExtraFields: Boolean = true,
    strictValidation: Boolean = true,
    awsAccessKeyId: Option[String] = None,
    awsSecretAccessKey: Option[String] = None,
    awsSessionToken: Option[String] = None,
    awsProfile: Option[String] = None,
    awsEndpointUrl: Option[String] = None,
    encryptionType: Option[String] = None,
    encryptionKey: Option[String] = None,
    decimalForMultipleOf: Boolean = false,
    tempDir: Option[String] = None) {

  /** Parquet codec + the reference's filename-extension map (S9,
    * __init__.py:190-204). Unknown codec → warn-and-default with the
    * user's original string echoed, like the reference
    * (__init__.py:200-204). BROTLI also warns-and-defaults: the
    * reference "supports" it only because it never compresses (it just
    * names the file `.br.parquet`, __init__.py:190-204), whereas this
    * engine passes the codec to the parquet writer — and parquet-mr
    * ships no Brotli codec, so honoring it would throw mid-write.
    * DELIBERATE NAMING DIVERGENCE: since the bytes written are snappy,
    * the output key carries no `.br` extension (a `.br.parquet` file of
    * snappy bytes would lie to downstream readers); pinned by
    * ModelSpec. Cached: the warning fires once per config instance,
    * not per call (StreamingIngest evaluates this at least twice per
    * micro-batch). */
  lazy val compressionCodecAndExt: (String, String) =
    compression.map(_.toUpperCase) match {
      case Some("SNAPPY") => ("snappy", ".snappy")
      case Some("GZIP")   => ("gzip", ".gz")
      case Some("BROTLI") =>
        Console.err.println("[graft] warning: BROTLI has no parquet-mr " +
          "codec on this classpath; writing snappy instead")
        ("snappy", "")
      case Some("ZSTD")   => ("zstd", ".zstd")
      case Some("LZ4")    => ("lz4", ".lz4")
      case Some(_)        =>
        Console.err.println(s"[graft] warning: unknown compression " +
          s"'${compression.get}'; writing snappy instead")
        ("snappy", "")
      case None           => ("snappy", "") // reference default is Arrow snappy
    }
}

object TargetConfig {
  /** Config validation, reference utils.py:15-27: `s3_bucket` required. */
  def validate(config: Map[String, Any]): Seq[String] =
    Seq("s3_bucket").flatMap { k =>
      config.get(k).map(_.toString).filter(_.nonEmpty) match {
        case Some(_) => None
        case None => Some(s"Required key is missing from config: [$k]")
      }
    }

  def fromMap(m: Map[String, String]): TargetConfig = TargetConfig(
    s3Bucket = m.get("s3_bucket"),
    s3KeyPrefix = m.getOrElse("s3_key_prefix", ""),
    compression = m.get("compression"),
    namingConvention = m.get("naming_convention"),
    fileSize = m.getOrElse("file_size", "-1").toLong,
    streamsInSeparateFolder = m.getOrElse("streams_in_separate_folder", "false").toBoolean,
    addMetadataColumns = m.getOrElse("add_metadata_columns", "false").toBoolean,
    awsAccessKeyId = m.get("aws_access_key_id"),
    awsSecretAccessKey = m.get("aws_secret_access_key"),
    awsSessionToken = m.get("aws_session_token"),
    awsProfile = m.get("aws_profile"),
    awsEndpointUrl = m.get("aws_endpoint_url"),
    encryptionType = m.get("encryption_type"),
    encryptionKey = m.get("encryption_key"),
    decimalForMultipleOf = m.getOrElse("decimal_for_multiple_of", "false").toBoolean,
    strictValidation = m.getOrElse("strict_validation", "true").toBoolean,
    inferExtraFields = m.getOrElse("infer_extra_fields", "true").toBoolean,
    tempDir = m.get("temp_dir"))
}

/** Output-key naming (S8 + legacy L3, reference __init__.py:260-271 and
  * tests/unit/test_utils.py:30-61): `{stream}-{timestamp}{ext}.parquet` by
  * default; with a `naming_convention` template, `{stream}`/`{timestamp}`/
  * `{date}` tokens are substituted and the key prefix is inserted after the
  * template's last `/`. The clock is injected for deterministic tests
  * (SURVEY.md §7.4). */
object Naming {
  def defaultTimestamp(): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss-SSSSSS")
      .format(java.time.LocalDateTime.now(java.time.ZoneOffset.UTC))

  def outputKey(config: TargetConfig, stream: String, timestamp: String): String = {
    val (_, ext) = config.compressionCodecAndExt
    config.namingConvention match {
      case None =>
        config.s3KeyPrefix + stream + "-" + timestamp + ext + ".parquet"
      case Some(template) =>
        val filled = template
          .replace("{stream}", stream)
          .replace("{timestamp}", timestamp)
          .replace("{date}", timestamp.take(8))
        // prefix goes after the template's last '/', reference test pin
        val slash = filled.lastIndexOf('/')
        if (slash >= 0)
          filled.substring(0, slash + 1) + config.s3KeyPrefix + filled.substring(slash + 1)
        else config.s3KeyPrefix + filled
    }
  }
}
