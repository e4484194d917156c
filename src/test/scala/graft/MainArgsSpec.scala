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
    assert(parseArgs(Seq("--mode", "batch", "--input", "d")) ==
      Right(Map("mode" -> "batch", "input" -> "d")))
    assert(parseArgs(Seq("--mode", "stream", "--input", "d", "--checkpoint", "k")) ==
      Right(Map("mode" -> "stream", "input" -> "d", "checkpoint" -> "k")))
  }

  test("stream mode without --input runs the live stdin path") {
    assert(parseArgs(Seq("--mode", "stream")) == Right(Map("mode" -> "live")))
  }

  // A pipe cannot be re-read: a run over a reused checkpoint could only
  // drop the new pipe's first lines or print a bookmark ahead of the data.
  test("--checkpoint is rejected in live and stdin-stream modes, and accepted with --mode stream --input") {
    Seq(Seq("--mode", "live"), Seq("--mode", "stream")).foreach { mode =>
      assert(parseArgs(mode ++ Seq("--checkpoint", "k")).left.exists(_.startsWith("--checkpoint")), mode)
    }
    assert(parseArgs(Seq("--mode", "stream", "--input", "d", "--checkpoint", "k")).isRight)
  }

  test("a flag the mode never reads is rejected, not dropped") {
    assert(parseArgs(Seq("--mode", "live", "--input", "d")).left.exists(_.startsWith("--input")))
    assert(parseArgs(Seq("--mode", "batch", "--checkpoint", "k")).left.exists(_.startsWith("--checkpoint")))
    assert(parseArgs(Seq("--checkpoint", "k")).left.exists(_.startsWith("--checkpoint")))
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
