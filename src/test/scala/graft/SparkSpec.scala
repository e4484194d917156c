package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session, ScalaTest runs
  * suites sequentially in the forked JVM), built by [[GraftSession]] so
  * the tests run the conf that is benched and shipped. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession()
}
