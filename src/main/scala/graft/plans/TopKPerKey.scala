package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.{ColumnBridge, DatasetBridge}

/** Per-key top-k as a WHOLE-PLAN extension — the (c) rung of the custom-
  * operator ladder (custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`,
  * SURVEY §4.3): semantics the composed alternative expresses only
  * wastefully. The standard spelling,
  * `row_number().over(partitionBy(keys).orderBy(o)) <= k`, must
  * (1) SHUFFLE EVERY ROW of the table to its key partition and
  * (2) FULLY SORT each partition, discarding all but k rows per key
  * afterwards. This operator instead runs the canonical two-phase
  * bounded-heap scheme (the same shape as partial aggregation):
  *
  *  - partial: each input partition keeps a k-bounded heap per key it
  *    sees, emitting ≤ k·|keys-in-partition| rows — the exchange then
  *    carries O(k · keys · partitions) rows instead of O(rows);
  *  - final: after the key-clustered exchange (inserted by
  *    EnsureRequirements from the declared `ClusteredDistribution`),
  *    the same heap merge over the partial survivors — exact, because
  *    top-k under a TOTAL order is a semilattice merge.
  *
  * State is bounded like partial aggregation's (k rows per distinct key
  * per partition); the order must be TOTAL (tie-break on a unique
  * column) for the result to be well-defined — the same requirement the
  * window spelling has for a deterministic answer. Rank attachment, if
  * wanted, is a window over the k·keys survivors only.
  *
  * ADJUDICATED HONESTLY (BASELINE.md r8, sf0.1 orders, 150k rows,
  * top-3 per customer): Spark 3.5+ already ships the shuffle half of
  * this idea as WindowGroupLimit — a `rank <= k` filter over a window
  * is rewritten into a partial group-limit BELOW the exchange, and the
  * measured shuffle volume is IDENTICAL for both spellings (44,953
  * records, the survivor count). The remaining differences: the window
  * path still SORTS each map partition for its partial limit and each
  * reduce partition for the rank (O(n log n) per partition); the heap
  * path is O(n log k) with no sort on either side of the exchange
  * (measured 0.82 s vs 0.98 s warm — real but modest at this SF, grows
  * with rows-per-partition). This operator therefore earns its place as
  * (1) the repo's whole-plan extension blueprint and (2) the sort-free
  * variant; anyone on Spark < 3.5, where the window spelling shuffles
  * EVERY row, gets the order-of-magnitude exchange win as well. */
case class TopKPerKey(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                      child: LogicalPlan) extends UnaryNode {
  require(k > 0, "top-k needs k > 0")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerKey =
    copy(child = c)
}

object TopKPerKey {
  /** Register the planner strategy AND the window-rewrite optimizer rule
    * on a live session (idempotently) — after this, the DECLARATIVE
    * `row_number() <= k` spelling plans as the bounded-heap operator
    * with no API change ([[TopKWindowRewrite]]). */
  def installRewrite(s: org.apache.spark.sql.SparkSession): Unit = {
    if (!s.experimental.extraStrategies.contains(TopKPerKeyStrategy))
      s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ TopKPerKeyStrategy
    if (!s.experimental.extraOptimizations.contains(TopKWindowRewrite))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ TopKWindowRewrite
  }

  /** Public entry: `topKPerKey(df, keys, order, k)` — registers the
    * strategy on the DataFrame's session (idempotently), so plain
    * sessions work without `spark.sql.extensions` configuration. */
  def apply(df: DataFrame, keys: Seq[Column], order: Seq[Column],
            k: Int): DataFrame = {
    val s = df.sparkSession
    if (!s.experimental.extraStrategies.contains(TopKPerKeyStrategy))
      s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ TopKPerKeyStrategy
    val sortOrder = order.map(c => DatasetBridge.sessionExpression(s, c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    DatasetBridge.ofRows(s, TopKPerKey(
      keys.map(DatasetBridge.sessionExpression(s, _)),
      sortOrder, k, DatasetBridge.analyzedPlan(df)))
  }
}

/** Plans [[TopKPerKey]] as partial-heap → (exchange) → final-heap. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Bounded-heap per-key top-k over one partition. `partial = true` runs
  * map-side on whatever partitioning the child has; `partial = false`
  * declares `ClusteredDistribution(keys)` so EnsureRequirements inserts
  * the (survivor-sized) exchange, then merges heaps to the exact
  * answer. */
case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
                          k: Int, partial: Boolean, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = keys
    val sortExprs = order
    val childOutput = child.output
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = GenerateOrdering.generate(sortExprs, childOutput)
      // worst survivor at the head: reverse the sort order
      val cmp = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int =
          ord.compare(b, a)
      }
      val heaps =
        new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      iter.foreach { row =>
        val key = keyProj(row)
        var pq = heaps.get(key)
        if (pq == null) {
          pq = new java.util.PriorityQueue[InternalRow](kLocal + 1, cmp)
          heaps.put(key.copy(), pq)
        }
        if (pq.size < kLocal) pq.add(row.copy())
        else if (ord.compare(row, pq.peek) < 0) { pq.poll(); pq.add(row.copy()) }
      }
      import scala.jdk.CollectionConverters._
      heaps.values.iterator.asScala.flatMap(_.iterator.asScala)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): TopKPerKeyExec =
    copy(child = c)
}
