package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.StructType

/** Deferred-execution boundary for SQL table functions whose DataFrame
  * form runs ITERATIVE, driver-coordinated work — PageRank's per-iteration
  * checkpoints, the quality classifier's gradient-descent collects, BPE
  * merge training, the Misra–Gries candidate sketch, JL's width probe.
  *
  * Before round 9 those builders invoked the operator eagerly inside the
  * table-function builder, which runs at ANALYSIS time — so `EXPLAIN
  * SELECT * FROM pagerank(…)` executed every iteration (and a SELECT paid
  * the iterations twice: once at analysis, once at execution of the
  * resulting checkpointed scan). The fix is this node pair: the builder
  * returns a [[DeferredResult]] LEAF carrying the declared output schema
  * and a thunk; analysis/EXPLAIN only ever see the leaf. At execution,
  * [[DeferredResultExec.doExecute]] invokes the thunk ONCE on the driver —
  * the operator runs its normal checkpointed iterations and the resulting
  * DataFrame's RDD becomes this node's output.
  *
  * The declared schema is a PROMISE made at analysis time (each builder
  * states its operator's output contract); `doExecute` verifies the
  * operator actually produced it (positionally, `sameType` — nullability
  * advisory) and fails loudly on drift rather than feeding downstream
  * codegen mislaid bytes.
  *
  * Scale posture: unchanged — the thunk runs the same bounded-trainer
  * operators; the node adds one driver-side indirection and zero
  * shuffles. Stats report `defaultSizeInBytes` so the planner never
  * broadcasts a deferred result on a size guess it cannot make.
  *
  * Re-execution (round-10): each ACTION on a deferred TVF result
  * re-plans and re-invokes the thunk, and each SQL statement naming the
  * TVF builds a fresh thunk — so `CREATE TABLE AS` + `SELECT count(*)`
  * against `kmeans_assign(...)` used to train twice. Builders now route
  * through [[DeferredResult.memoized]]: the thunk's output is
  * materialized once (eager localCheckpoint) and kept in
  * [[graft.Artifacts]] per (function, session, the input's file
  * versions, the input plan's `semanticHash` and every scalar argument)
  * — re-pointing a view at a semantically different frame, or rewriting
  * the files behind it, misses the memo.
  */
case class DeferredResult(
    fnName: String,
    output: Seq[Attribute],
    build: () => DataFrame) extends LeafNode {
  // output is a CONSTRUCTOR parameter (not a derived val): Catalyst rules
  // copy nodes freely, and a val re-derived from a schema would mint fresh
  // ExprIds on every copy, orphaning the parent plan's references
  // (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND).
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = conf.defaultSizeInBytes)
}

object DeferredResult {
  def apply(fnName: String, declared: StructType,
      build: () => DataFrame): DeferredResult =
    DeferredResult(fnName, DataTypeUtils.toAttributes(declared), build)

  /** A DeferredResult whose thunk runs `build` AT MOST ONCE per
    * (fnName, active session, `input`'s files and plan, `params`) —
    * EXPLAIN still executes nothing; the first action trains and
    * checkpoints; every later action (same statement or a new one with
    * the same arguments over an unchanged input) re-scans the checkpoint.
    */
  def memoized(fnName: String, declared: StructType, input: DataFrame,
      params: Seq[Any], build: () => DataFrame): DeferredResult =
    apply(fnName, declared, () =>
      graft.Artifacts.get(fnName, Some(SparkSession.active),
          graft.Artifacts.versions(input.sparkSession, input.inputFiles.toSeq.sorted),
          input.queryExecution.analyzed.semanticHash() +: params: _*)(
        build().localCheckpoint(eager = true)))
}

case class DeferredResultExec(
    fnName: String,
    output: Seq[Attribute],
    build: () => DataFrame) extends LeafExecNode {
  override protected def doExecute(): RDD[InternalRow] = {
    val df = build()
    val inner = df.schema
    val ok = inner.length == output.length &&
      inner.fields.zip(output).forall { case (f, a) =>
        org.apache.spark.sql.types.DataType.equalsStructurally(
          f.dataType, a.dataType, ignoreNullability = true) }
    require(ok,
      s"$fnName: deferred result schema ${inner.simpleString} does not match " +
        s"the declared ${output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(",")}")
    df.queryExecution.toRdd
  }
  override def simpleString(maxFields: Int): String =
    s"DeferredResultExec $fnName${output.map(_.name).mkString(" [", ",", "]")}"
}

/** Plans [[DeferredResult]] — registered via GraftExtensions alongside
  * the as-of join strategy. */
object DeferredResultStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case d: DeferredResult => DeferredResultExec(d.fnName, d.output, d.build) :: Nil
    case _ => Nil
  }
}
