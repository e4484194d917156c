package org.apache.spark.sql.catalyst.json.graftbridge

import org.apache.spark.sql.catalyst.json.{JSONOptions, JsonInferSchema}
import org.apache.spark.sql.types.DataType

/** Access bridge: `JsonInferSchema.canonicalizeType`, the last step of
  * `spark.read.json`'s schema inference, is private to Spark's catalyst
  * JSON package. */
object JsonBridge {
  def canonicalizeType(inferrer: JsonInferSchema, t: DataType, options: JSONOptions): Option[DataType] =
    inferrer.canonicalizeType(t, options)
}
