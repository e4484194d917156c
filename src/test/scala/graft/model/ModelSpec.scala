package graft.model

import org.scalatest.funsuite.AnyFunSuite

class StateFoldSpec extends AnyFunSuite {
  private def st(idx: Long, v: String) = StateMessage(idx, Singer.parseJson(v))

  test("STATE after all records is emitted (corpus shape, FIXTURES.md §1)") {
    val states = Seq(st(0, """{"a":1}"""), st(9, """{"b":2}"""))
    assert(StateFold.emittedState(states, maxRecordIdx = Some(5L))
      .map(Singer.toJsonString).contains("""{"b":2}"""))
  }
  test("RECORD after the last STATE resets state to None (reference P8)") {
    val states = Seq(st(0, """{"a":1}"""))
    assert(StateFold.emittedState(states, maxRecordIdx = Some(5L)).isEmpty)
  }
  test("no records: last state wins; no states: none") {
    assert(StateFold.emittedState(Seq(st(3, """{"x":1}""")), None).isDefined)
    assert(StateFold.emittedState(Seq.empty, Some(1L)).isEmpty)
  }
}

class ConfigSpec extends AnyFunSuite {
  test("validation requires s3_bucket (reference utils.py:15-27)") {
    assert(TargetConfig.validate(Map.empty) ==
      Seq("Required key is missing from config: [s3_bucket]"))
    assert(TargetConfig.validate(Map("s3_bucket" -> "b")).isEmpty)
  }
  test("fromMap wires validation/staging keys from config.json (L7 + round-2 ADVICE)") {
    val c = TargetConfig.fromMap(Map(
      "temp_dir" -> "/tmp/stage",
      "strict_validation" -> "false",
      "infer_extra_fields" -> "false"))
    assert(c.tempDir.contains("/tmp/stage"))
    assert(!c.strictValidation && !c.inferExtraFields)
    // defaults when absent
    val d = TargetConfig.fromMap(Map.empty)
    assert(d.tempDir.isEmpty && d.strictValidation && d.inferExtraFields)
  }
  test("compression extension map incl. unknown->none (reference __init__.py:190-204)") {
    assert(TargetConfig(compression = Some("gzip")).compressionCodecAndExt == ("gzip", ".gz"))
    assert(TargetConfig(compression = Some("ZSTD")).compressionCodecAndExt == ("zstd", ".zstd"))
    assert(TargetConfig(compression = Some("bogus")).compressionCodecAndExt == ("snappy", ""))
    assert(TargetConfig().compressionCodecAndExt == ("snappy", ""))
  }
  test("unsupported/unknown codecs fall back to snappy WITH a warning") {
    def withCapturedErr(body: => (String, String)): ((String, String), String) = {
      val buf = new java.io.ByteArrayOutputStream()
      val r = Console.withErr(new java.io.PrintStream(buf, true, "UTF-8"))(body)
      (r, buf.toString("UTF-8"))
    }
    // BROTLI: parquet-mr has no codec — honoring it would throw mid-write
    val (brotli, warn1) =
      withCapturedErr(TargetConfig(compression = Some("BROTLI")).compressionCodecAndExt)
    assert(brotli == ("snappy", ""))
    assert(warn1.contains("warning") && warn1.contains("BROTLI"))
    // unknown value: reference warns and uses its default (__init__.py:200-204)
    val (bogus, warn2) =
      withCapturedErr(TargetConfig(compression = Some("bogus")).compressionCodecAndExt)
    assert(bogus == ("snappy", ""))
    assert(warn2.contains("warning") && warn2.contains("bogus"))
    // known codecs stay silent
    val (_, warn3) =
      withCapturedErr(TargetConfig(compression = Some("gzip")).compressionCodecAndExt)
    assert(warn3.isEmpty)
  }
}

class NamingSpec extends AnyFunSuite {
  test("default key: prefix + stream-timestamp + ext (reference __init__.py:264-271)") {
    val c = TargetConfig(s3KeyPrefix = "pre/", compression = Some("gzip"))
    assert(Naming.outputKey(c, "s1", "20240101_000000-000000") ==
      "pre/s1-20240101_000000-000000.gz.parquet")
  }
  test("naming_convention tokens (reference tests/unit/test_utils.py:30-61)") {
    val c = TargetConfig(namingConvention = Some("test_{stream}_{timestamp}_test.csv"))
    assert(Naming.outputKey(c, "s", "T1") == "test_s_T1_test.csv")
  }
  test("prefix inserted after the template's last '/'") {
    val c = TargetConfig(s3KeyPrefix = "pfx-",
      namingConvention = Some("dir/sub/{stream}.parquet"))
    assert(Naming.outputKey(c, "s", "T") == "dir/sub/pfx-s.parquet")
  }
  test("{date} token uses the date part of the timestamp") {
    val c = TargetConfig(namingConvention = Some("{date}/{stream}"))
    assert(Naming.outputKey(c, "s", "20240102_030405-000000") == "20240102/s")
  }
}
