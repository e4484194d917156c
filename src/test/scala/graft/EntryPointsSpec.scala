package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The set of runnable mains is closed: the CLI, the bench, the oracle
  * dump, the plan printer and the scale probe. A new main has to be
  * added to this list on purpose; a one-shot measurement records its
  * result in BASELINE.md instead of staying in the tree. */
class EntryPointsSpec extends AnyFunSuite {

  test("only the five entry points under src/main/scala define main") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"$root not found; run from the repo root")
    val pkg = """(?m)^package\s+([\w.]+)""".r
    val obj = """(?m)^(?:private |final |case )*object\s+(\w+)""".r
    val mains = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).flatMap { f =>
        val src = Files.readString(f)
        val p = pkg.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
        val objects = obj.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
        """\bdef main\(""".r.findAllMatchIn(src).map { m =>
          p + objects.filter(_._1 < m.start).lastOption.map(_._2).getOrElse(s"<no object in $f>")
        }
      }.toSet
    assert(mains == Set("graft.Main", "graft.Bench", "graft.Verify",
      "graft.Explain", "graft.tools.ScaleProbe"))
  }
}
