package graft.operators

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{SparkEntry, SparkSpec}
import graft.plans.TopKPerKeyExec

/** How the profile sketch trio (profile_theta, profile_qsketch,
  * profile_sketch) reads its table and where profile_theta bounds its
  * bottom-k, counted with listeners over every SQL execution a row runs.
  * A stage that runs a file scan reads `lineitem` once: the trio rows
  * read no other table, and at sf0.001 the file is one split. */
class ProfileScanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** The file-scan stages the jobs of `body` run (its job group's), and
    * the executed plan of each of its queries. */
  private def traced(body: => Unit): (Int, Seq[SparkPlan]) = {
    val sc = spark.sparkContext
    val group = "profile-scan-spec"
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val plans = ArrayBuffer.empty[SparkPlan]
    val stages = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(ours.add(_))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (ours.contains(e.stageInfo.stageId) && e.stageInfo.failureReason.isEmpty &&
            e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scans.incrementAndGet()
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(stages)
    spark.listenerManager.register(queries)
    sc.setJobGroup(group, "counted", interruptOnCancel = false)
    try body finally {
      sc.clearJobGroup()
      ListenerBridge.drain(sc)
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(stages)
    }
    (scans.get, plans.synchronized(plans.toSeq))
  }

  /** Every node of an executed plan, through AQE's stages; a cached
    * relation's scan is a leaf. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.flatMap(nodes)
  })

  private def runRow(row: String): Unit =
    SparkEntry.queries(row)(spark, sf).write.format("noop").mode("overwrite").save()

  // profile_sketch keeps a second scan for its sketch leg
  // (Profiling.sketchProfile says why).
  test("profile_theta and profile_qsketch read lineitem once, profile_sketch twice") {
    runRow("profile_theta") // warm
    val scans = Seq("profile_theta", "profile_qsketch", "profile_sketch")
      .map(row => row -> traced(runRow(row))._1)
    info(scans.map { case (r, n) => s"$r $n" }.mkString(", "))
    assert(scans.toMap == Map("profile_theta" -> 1, "profile_qsketch" -> 1, "profile_sketch" -> 2))
  }

  test("profile_theta bounds its bottom-k below the exchange, joins with no exchange and releases its cache") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val plans = traced(runRow("profile_theta"))._2.map(nodes)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    val sketch = plans.filter(_.exists { case t: TopKPerKeyExec => t.partial; case _ => false })
    assert(sketch.size == 1, plans.map(_.head))
    // the partial heap feeds the exchange: at most k hashes per group per
    // partition cross it, and no task sorts a group's keys
    val exchanges = sketch.head.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.exists(_.child match { case t: TopKPerKeyExec => t.partial; case _ => false }),
      sketch.head.head)
    assert(!sketch.head.exists(n => n.isInstanceOf[SortExec] || n.isInstanceOf[WindowExec]))
    // the exact gate reads the key-clustered relation on both sides
    val join = plans.flatten.collect { case j: SortMergeJoinExec => j }
    assert(join.size == 1, plans.map(_.head))
    assert(!nodes(join.head).exists(_.isInstanceOf[ShuffleExchangeLike]), join.head)
  }
}
