package graft.functions.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 32-bit SimHash over an array of string tokens — the fused form
  * of the declarative double fold it replaced (kept as DedupSpec's
  * `simhashHof`), bit-identical by construction (equality-tested there):
  *
  *   - tokens deduplicated (order-free: the per-bit counts are integer
  *     sums, so HashSet dedup ≡ array_distinct);
  *   - per distinct token h = h60(token) = first 15 hex chars of md5 as a
  *     60-bit integer (exactly TextHash.h60 / DuckDB
  *     ('0x'||substr(md5(t),1,15))::BIGINT, so oracle parity holds);
  *   - a NULL token adds −1 to every bit, matching the HOF chain where
  *     the null hash makes the `when` predicate null and falls through to
  *     otherwise(−1);
  *   - fingerprint bit b set iff its count is strictly positive.
  *
  * The HOF form allocates a fresh 32-element count array per token
  * (zip_with) and md5-hexes through string expressions; here the whole
  * fingerprint is one loop with 32 ints of state and the hex step is
  * 8 byte-shifts. This is the per-row cost of every SimHash query
  * (q31/q54/q55/q56/q68).
  */
case class SimHash32F(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash32 requires array<string> tokens, got ${t.simpleString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash32"

  override protected def nullSafeEval(arr: Any): Any =
    SimHash32F.compute(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.expr.SimHash32F.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): SimHash32F =
    copy(child = newChild)
}

object SimHash32F {

  private val md = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** TextHash.h60 as tight bytes: first 15 hex chars of md5 == first 7
    * bytes plus the high nibble of byte 7, as an unsigned 60-bit value.
    */
  def hash60(s: UTF8String): Long = {
    val d = md.get()
    d.reset()
    val digest = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    (v << 4) | ((digest(7) & 0xf0L) >>> 4)
  }

  def compute(a: ArrayData): Long = {
    val counts = new Array[Int](32)
    val seen = new java.util.HashSet[UTF8String]()
    var seenNull = false
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) {
        if (!seenNull) { // array_distinct keeps one null
          seenNull = true
          var b = 0
          while (b < 32) { counts(b) -= 1; b += 1 }
        }
      } else {
        val s = a.getUTF8String(i)
        if (seen.add(s)) {
          val h = hash60(s)
          var b = 0
          while (b < 32) {
            counts(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
            b += 1
          }
        }
      }
      i += 1
    }
    var r = 0L
    var b = 0
    while (b < 32) { if (counts(b) > 0) r |= 1L << b; b += 1 }
    r
  }
}
