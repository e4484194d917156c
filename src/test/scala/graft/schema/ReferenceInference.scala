package graft.schema

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The per-epoch spelling of §1.4 union-schema inference: its own
  * `spark.read.json` query over one epoch's records. It is the executable
  * definition that [[JsonSchemaConverter.inferRecords]] must reproduce;
  * `InferenceDifferentialSpec` compares the two. It is not the shipped
  * spelling because it costs a query (two with the bound) per epoch,
  * where the aggregate shares one grouped scan with validation. */
object ReferenceInference {

  /** The schema of `recs`' non-null `rec` strings. `sampleRows > 0`
    * bounds the input to the first N of them by `idx`
    * (TakeOrderedAndProject: top-n per partition + merge, no full sort). */
  def inferExtra(spark: SparkSession, recs: DataFrame, sampleRows: Long): StructType = {
    import spark.implicits._
    val nonNull = recs.filter(col("rec").isNotNull)
    val bounded =
      if (sampleRows <= 0) nonNull
      else nonNull.orderBy(col("idx")).limit(sampleRows.toInt)
    spark.read.json(bounded.select("rec").as[String]).schema
  }
}
