package org.apache.spark.sql.graftbridge

import java.util.concurrent.{CompletableFuture, ExecutorService}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormat, FileScanRDD}

/** Access bridge for constructing DataFrames from custom logical plans
  * (`Dataset.ofRows` is `private[sql]`) — the [[ColumnBridge]] sibling
  * for whole-plan extensions like graft's TopKPerKey. */
object DatasetBridge {
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(s.asInstanceOf[CSparkSession], plan)

  /** The analyzed plan of a DataFrame, usable as a child of a custom
    * logical node. */
  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[CDataset[_]].queryExecution.analyzed

  /** EAGER Column → Catalyst conversion through the session's
    * ColumnNodeToExpressionConverter. Unlike [[ColumnBridge.expression]]
    * (a lazy `ColumnNodeExpression` wrapper, fine inside standard
    * operators that re-enter the Dataset API), this produces the real
    * catalyst tree immediately — required when the expression is stored
    * in a CUSTOM logical node, where nothing later unwraps the lazy
    * node and e.g. a `.desc` Column would otherwise reach execution as
    * an unresolved, non-serializable wrapper. */
  def sessionExpression(s: SparkSession, c: org.apache.spark.sql.Column)
  : org.apache.spark.sql.catalyst.expressions.Expression =
    s.asInstanceOf[CSparkSession].expression(c)

  /** A DataFrame's partition count, and the file splits it scans as
    * (`_metadata.file_path`, `_metadata.file_block_start`) pairs, read
    * from the FileScanRDD in its lineage (none for a non-file source).
    * Planning only, no job. */
  def scanLayout(df: DataFrame): (Int, Seq[(String, Long)]) = {
    val path = FileFormat.BASE_METADATA_EXTRACTORS(FileFormat.FILE_PATH)
    def walk(rdd: RDD[_]): Seq[(String, Long)] = rdd match {
      case f: FileScanRDD => f.filePartitions.flatMap(_.files.map(pf => (path(pf).toString, pf.start)))
      case r => r.dependencies.flatMap(d => walk(d.rdd))
    }
    val rdd = df.asInstanceOf[CDataset[_]].queryExecution.toRdd
    (rdd.getNumPartitions, walk(rdd))
  }

  /** Run `body` on `pool` with the caller's active session and
    * SparkContext local properties (job group, streaming batch id, SQL
    * execution id) captured now, at submission. */
  def withThreadLocalCaptured[T](s: SparkSession, pool: ExecutorService)(body: => T)
  : CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(s.asInstanceOf[CSparkSession], pool)(body)
}
