package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `Array[Float]` columns using codegen'd
  * higher-order functions (`zip_with`/`aggregate`/`transform`) — no UDFs,
  * no driver involvement, scales with the scan.
  */
object VectorFunctions {
  /** Cast a float array column to double for stable arithmetic. */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Codegen'd primitive-loop dot product (see [[DotProduct]]); accepts
    * float or double arrays, accumulates in double. */
  def dot(a: Column, b: Column): Column = DotProduct.dot(a, b)

  def normSq(a: Column): Column = dot(a, a)

  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity of two double-array columns. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))
}
