package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Main`'s command line: a mistyped mode or flag must stop the run
  * instead of silently running batch mode or dropping a flag. */
class MainArgsSpec extends AnyFunSuite {
  import Main.parseArgs

  test("flags parse to a map, and the mode defaults to batch") {
    assert(parseArgs(Seq("--config", "c.json", "--output", "/out")) ==
      Right(Map("config" -> "c.json", "output" -> "/out", "mode" -> "batch")))
    assert(parseArgs(Nil) == Right(Map("mode" -> "batch")))
    Seq("batch", "stream", "live").foreach { m =>
      assert(parseArgs(Seq("--mode", m, "--input", "d", "--checkpoint", "k")) ==
        Right(Map("mode" -> m, "input" -> "d", "checkpoint" -> "k")))
    }
  }

  test("a mode outside batch|stream|live is rejected") {
    Seq("Live", "streaming", "").foreach { m =>
      assert(parseArgs(Seq("--mode", m)).left.exists(_.contains("unknown mode")), m)
    }
  }

  test("a flag without a value is rejected, not dropped") {
    assert(parseArgs(Seq("--input", "--config", "c.json")) == Left("--input needs a value"))
    assert(parseArgs(Seq("--config", "c.json", "--output")) == Left("--output needs a value"))
  }

  test("an unknown flag, a stray value or a repeated flag is rejected") {
    assert(parseArgs(Seq("--mdoe", "live")) == Left("unknown argument: --mdoe"))
    assert(parseArgs(Seq("live")) == Left("unknown argument: live"))
    assert(parseArgs(Seq("--mode", "live", "--mode", "batch")) == Left("--mode given twice"))
  }
}
