package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) curve values for multi-dimensional data layout — the
  * 100 TB table-layout tool: sort/range-partition a table by `zValue` of
  * its two-to-four hottest filter columns and parquet row-group (and file)
  * min/max pruning becomes effective for EVERY one of those columns at
  * once, instead of only the leading sort column. This is what
  * "OPTIMIZE ... ZORDER BY" does in lakehouse engines, expressed here as a
  * plain column expression + `repartitionByRange` — no custom writer
  * needed (demonstrated with real file-skipping in ZOrderSpec).
  *
  * The value is built from plain shift/and/or arithmetic (codegen-friendly,
  * no UDF): bit i of column j lands at output bit `i * nCols + j`.
  * Inputs must be non-negative and fit in `bits` bits (callers bucket
  * first, e.g. `pmod(col, 1 << bits)`).
  */
object ZOrder {

  /** Interleave the low `bits` bits of each (long) column, round-robin:
    * output bit (i * n + j) = bit i of cols(j). With n columns of b bits
    * the result uses n*b bits — keep n*b <= 62.
    */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty, "zValue needs at least one column")
    require(bits > 0 && bits * cols.size <= 62,
      s"zValue: ${cols.size} cols x $bits bits exceeds a signed long")
    val n = cols.size
    val terms = for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + j)
    // out-of-range inputs would silently interleave only their low bits —
    // colliding z values that quietly destroy the clustering property this
    // key exists for. Fail the task loudly instead; callers bucket first
    // (pmod into [0, 2^bits)) when range isn't guaranteed.
    val inRange = cols.map(c => c >= 0 && c < lit(1L << bits)).reduce(_ && _)
    when(inRange, terms.reduce(_ + _))
      .otherwise(raise_error(lit(
        s"zValue input outside [0, ${1L << bits}) — bucket keys first " +
          "(pmod into the range) or widen bits")).cast("long"))
  }
}
