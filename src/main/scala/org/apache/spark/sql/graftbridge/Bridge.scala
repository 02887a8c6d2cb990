package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** The package-private Spark hops graft needs, in one place: wrap a
  * custom LogicalPlan ([[graft.plans.AsOfJoinPlan]]) back into a public
  * DataFrame, convert Column ⇄ Expression, drain the listener bus, and
  * set a write task's output metrics.
  * Spark offers no public API for these — every library that injects
  * custom logical operators (rather than just expressions) ships exactly
  * this kind of shim in an `org.apache.spark.sql` subpackage. Nothing
  * else may go through here; all other graft/Spark interop uses public
  * APIs.
  */
object Bridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** Column ⇄ catalyst Expression, for wrapping graft's native expressions
    * without a function-registry round-trip (registry entries need a
    * session in hand; pure column builders like SimHash.simhash don't
    * have one).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Blocks until every listener event posted so far has been delivered
    * (streaming query progress included), so counters a listener keeps
    * are complete to read. Spark keeps the bus package-private. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Sets the running task's `outputMetrics` to what its writer wrote.
    * Spark's file writer fills them, but its DSv2 write task
    * (`WritingSparkTask`) leaves them at 0 and their setters are
    * package-private; [[graft.sources.PointCsv]]'s writers call this at
    * commit, so the Spark UI and listeners that read
    * `recordsWritten`/`bytesWritten` see the CSV sink's output. A no-op
    * outside a task. */
  def setOutputMetrics(records: Long, bytes: Long): Unit =
    Option(org.apache.spark.TaskContext.get()).foreach { tc =>
      val m = tc.taskMetrics().outputMetrics
      m.setRecordsWritten(records)
      m.setBytesWritten(bytes)
    }
}
