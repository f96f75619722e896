package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reference spellings of vector expressions that main code runs
  * natively, kept for specs to compare the native forms against. */
object VectorReference {

  /** The interpreted higher-order-function fold that
    * `VectorOps.dot` and `VectorOps.dotD` replaced with the native
    * `graft.functions.DotProduct`: left to right, each element cast
    * to double, so the native form must match it bit for bit. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
}
