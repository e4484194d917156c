package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** [[GraftSession]] is the only place a session is built, and the tests
  * run its conf. */
class GraftSessionSpec extends SparkSpec {

  /** Every Scala source under src/main and src/test, with its text. */
  private def sources: Seq[(Path, String)] = Seq("main", "test").flatMap { dir =>
    val root = Paths.get(sys.props("user.dir"), "src", dir, "scala")
    assert(Files.isDirectory(root), s"$root not found; run from the repo root")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(f => f -> Files.readString(f)).toSeq
  }

  test("one file under src builds a SparkSession, and it is GraftSession") {
    val builders = sources.collect {
      case (f, src) if """SparkSession\s*\.\s*builder""".r.findFirstIn(src).isDefined =>
        f.getFileName.toString
    }
    assert(builders == Seq("GraftSession.scala"))
  }

  test("no source under src reads an AQE env knob") {
    val knob = "SPARK_GRAFT_" + "AQE_"
    assert(sources.collect { case (f, src) if src.contains(knob) => f }.isEmpty)
  }

  test("the shared test session holds every key and value GraftSession sets") {
    val sc = spark.sparkContext.getConf
    GraftSession.conf(None).foreach { case (k, v) =>
      assert(spark.conf.getOption(k).orElse(sc.getOption(k)).contains(v), k)
    }
  }
}
