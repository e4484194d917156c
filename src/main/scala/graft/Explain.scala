package graft

/** Plan inspection utility: prints the formatted physical plan of the
  * named queries (all queries when no args) — used to verify pushdown,
  * broadcast choices and WholeStageCodegen spans per SURVEY.md §7.
  *
  * Usage: sbt "runMain graft.Explain q1_agg q6_filter_agg"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
