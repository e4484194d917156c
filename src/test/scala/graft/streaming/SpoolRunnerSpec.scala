package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern
import org.scalatest.funsuite.AnyFunSuite

/** The spooled `stream_*` oracle rows run through one spool-and-flush
  * runner in [[StreamingAnalytics]], not through hand-copied ones. */
class SpoolRunnerSpec extends AnyFunSuite {

  private lazy val source = {
    val f = Paths.get(sys.props("user.dir"),
      "src", "main", "scala", "graft", "streaming", "StreamingAnalytics.scala")
    assert(Files.isRegularFile(f), s"$f not found; run from the repo root")
    Files.readString(f)
  }

  private def occurrences(needle: String): Int =
    Pattern.compile(Pattern.quote(needle)).matcher(source).results().count().toInt

  test("StreamingAnalytics starts a memory sink in exactly one place") {
    assert(occurrences("""format("memory")""") == 1)
  }

  test("StreamingAnalytics creates temp directories in at most three places") {
    assert(occurrences("createTempDirectory") <= 3)
  }
}
