package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector arithmetic over ArrayType(FloatType) embedding columns as pure
  * Catalyst higher-order expressions — codegen'd, UDF-free, and
  * bit-reproducible in DuckDB (sequential left-fold in both engines).
  */
object VectorMath {

  /** Exact double-precision dot product: cast each element BEFORE the
    * multiply so both engines do identical double arithmetic.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)
}
