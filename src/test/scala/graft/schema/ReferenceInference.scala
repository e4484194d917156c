package graft.schema

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The per-epoch spelling of §1.4 union-schema inference: its own
  * `spark.read.json` query over one epoch's records. It is the executable
  * definition that [[JsonSchemaConverter.inferRecords]] must reproduce;
  * `InferenceDifferentialSpec` compares the two. It is not the shipped
  * spelling because it costs a query per epoch, where the aggregate
  * shares one grouped scan with validation. */
object ReferenceInference {

  /** The schema of `recs`' non-null `rec` strings. */
  def inferExtra(spark: SparkSession, recs: DataFrame): StructType = {
    import spark.implicits._
    spark.read.json(recs.filter(col("rec").isNotNull).select("rec").as[String]).schema
  }
}
