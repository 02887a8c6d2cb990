package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Ascending, Attribute, BindReferences, Expression, GenericInternalRow,
  JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{
  BroadcastDistribution, ClusteredDistribution, Distribution,
  IdentityBroadcastMode, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType

/** Native AS-OF JOIN — the whole-operator extension path (SURVEY §4.2c):
  * custom LogicalPlan + SparkStrategy + SparkPlan, because no Spark
  * builtin expresses "latest right row at or before each left row's time,
  * per key" as ONE operator. The composed forms (range join + max_by, or
  * range join + WindowGroupLimit — queries q09) materialize the full
  * (left x right-history) expansion before reducing it; this operator
  * never expands: both sides shuffle once on the key, sort within
  * partitions by (key, time), and a single merge pass carries one
  * candidate row per key — O(left + right) per partition, O(1) state.
  *
  * Scale: distribution requirements are exactly SortMergeJoin's, so
  * EnsureRequirements co-partitions the children (and AQE validates after
  * coalescing). Skew caveat, stated honestly: AQE's OptimizeSkewedJoin
  * pattern-matches ONLY the built-in SMJ/SHJ execs, so it will NOT split a
  * hot key here — but the merge holds O(1) state (no per-key buffering),
  * so a hot key costs straggler time, never memory; if that time matters,
  * salt upstream (operators/SkewJoin) or broadcast the dim side
  * ([[AsOfJoinBroadcastExec]], which sidesteps the shuffle entirely).
  */
final case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    isLeftOuter: Boolean,
    forward: Boolean = false,
    tolerance: Option[Long] = None) extends BinaryNode {

  override def output: Seq[Attribute] =
    if (isLeftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] physically — with the same size-based judgment
  * Spark applies to equi-joins (BroadcastHashJoin vs SortMergeJoin): a
  * right side under `spark.sql.autoBroadcastJoinThreshold` is broadcast
  * ([[AsOfJoinBroadcastExec]] — the LEFT side is neither shuffled nor
  * sorted, the dominant win when a petabyte fact stream joins a dim-sized
  * reference history); otherwise both sides shuffle-sort-merge
  * ([[AsOfJoinExec]]). Installed per-session via [[AsOf.install]]
  * (experimental.extraStrategies) or cluster-wide via
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object AsOfJoinStrategy extends SparkStrategy {

  /** Post-resolution validation shared by the DataFrame and SQL paths.
    * `AsOf.join` already rejects these eagerly with caller-friendly
    * IllegalArgumentExceptions; the SQL table function builds the plan from
    * unresolved names, so types are only knowable here. Mismatched key
    * types would compare raw UnsafeRow bytes (silently empty result) and a
    * non-Long time would ClassCastException mid-task — both must die at
    * planning with a positioned error instead.
    */
  private def validate(j: AsOfJoinPlan): Unit = {
    import GraftErrors.fail
    // the analyzer resolves TVF column names against BOTH children, so a
    // name that only exists on the wrong side resolves "successfully" and
    // would die later in BindReferences mid-task — catch it here
    def mustBeFrom(what: String, es: Seq[Expression], side: LogicalPlan,
        sideName: String): Unit =
      es.foreach { e =>
        if (!e.references.subsetOf(side.outputSet)) fail(
          s"asof_join: $what ${e.sql} does not come from the $sideName side " +
            s"(available: ${side.output.map(_.name).mkString(", ")})")
      }
    mustBeFrom("left key", j.leftKeys, j.left, "left")
    mustBeFrom("left time", Seq(j.leftTime), j.left, "left")
    mustBeFrom("right key", j.rightKeys, j.right, "right")
    mustBeFrom("right time", Seq(j.rightTime), j.right, "right")
    mustBeFrom("tie-break", j.rightTieBreak, j.right, "right")
    j.leftKeys.zip(j.rightKeys).foreach { case (a, b) =>
      if (a.dataType != b.dataType) fail(
        s"asof_join key types must match exactly: ${a.sql} is " +
          s"${a.dataType.simpleString} but ${b.sql} is " +
          s"${b.dataType.simpleString} — cast one side first")
    }
    Seq(j.leftTime, j.rightTime).foreach { t =>
      if (t.dataType != LongType) fail(
        s"asof_join time columns must be BIGINT epoch micros, but ${t.sql} " +
          s"is ${t.dataType.simpleString} (cast timestamps with unix_micros)")
    }
    if (j.left.outputSet.intersect(j.right.outputSet).nonEmpty) fail(
      "asof_join: the two sides share column instances (self-join over the " +
        "same table/view); alias one side's columns in a subquery or view " +
        "first, or use the Scala AsOf.join API which de-duplicates " +
        "automatically")
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoinPlan =>
      validate(j)
      val threshold =
        org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      if (threshold > 0 && j.right.stats.sizeInBytes <= threshold)
        AsOfJoinBroadcastExec(planLater(j.left), planLater(j.right),
          j.leftKeys, j.rightKeys, j.leftTime, j.rightTime, j.rightTieBreak,
          j.isLeftOuter, j.forward, j.tolerance) :: Nil
      else
        AsOfJoinExec(planLater(j.left), planLater(j.right), j.leftKeys,
          j.rightKeys, j.leftTime, j.rightTime, j.rightTieBreak,
          j.isLeftOuter, j.forward, j.tolerance) :: Nil
    case _ => Nil
  }
}

final case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    isLeftOuter: Boolean,
    forward: Boolean,
    tolerance: Option[Long]) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    if (isLeftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched left rows"))

  // SMJ-shaped requirements: hash-cluster both sides on the key,
  // sort (key, time[, tiebreak]) within partitions. EnsureRequirements
  // inserts the exchanges/sorts and aligns partition counts.
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) ++
      (SortOrder(rightTime, Ascending) +:
        rightTieBreak.map(SortOrder(_, Ascending))))

  // output rows follow the left child's (key, time) sort within partitions
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  // every output row's left half comes from the left child's partition, so
  // downstream ops keyed the same way need no re-shuffle
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTime = leftTime
    val rTime = rightTime
    val outer = isLeftOuter
    val fwd = forward
    val tol = tolerance
    val keyTypes = leftKeys.map(_.dataType)
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    // project OUTPUT attrs bound against THEMSELVES (right side
    // nullability-adjusted for outer), as Spark's join execs do: binding
    // against the raw child attrs takes nullability from the non-nullable
    // input schema, codegen skips the null check, and the all-null pad row
    // reads back as 0s
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val lTimeEval = BindReferences.bindReference(lTime, lOut)
      val rTimeEval = BindReferences.bindReference(rTime, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.length)

      new Iterator[InternalRow] {
        // current right head (not yet consumed) and the best candidate so
        // far for candidateKey: the LAST right row advanced past with
        // time <= current left time — right's (time, tiebreak) sort makes
        // "last" the max. Rows are copied when retained (iterators reuse).
        private var rHead: InternalRow = _
        private var rHeadKey: InternalRow = _
        private var rDone = !rIter.hasNext
        if (!rDone) advanceRight()
        private var candidate: InternalRow = _
        private var candidateKey: InternalRow = _
        private var candidateTime: Long = 0L
        private var nextOut: InternalRow = _

        private def advanceRight(): Unit = {
          var ok = false
          while (!ok && rIter.hasNext) {
            rHead = rIter.next()
            val k = rKeyProj(rHead)
            // null keys/times never match anything — skip them here
            if (!k.anyNull && rTimeEval.eval(rHead) != null) {
              rHeadKey = k.copy()
              ok = true
            }
          }
          if (!ok) { rDone = true; rHead = null; rHeadKey = null }
        }

        private def computeNext(): Unit = {
          nextOut = null
          while (nextOut == null && lIter.hasNext) {
            val l = lIter.next()
            val lk = lKeyProj(l)
            val ltRaw = if (lk.anyNull) null else lTimeEval.eval(l)
            if (ltRaw != null) {
              val lt = ltRaw.asInstanceOf[Long]
              // drop right state for keys before the current left key
              while (!rDone && keyOrd.compare(rHeadKey, lk) < 0) advanceRight()
              if (fwd) {
                // FORWARD: earliest right row at/after lt. Left times
                // ascend, so rows strictly before lt are dead for every
                // later left row too — consume them; the head (if same
                // key) is then the match, left unconsumed for reuse.
                while (!rDone && keyOrd.compare(rHeadKey, lk) == 0 &&
                    rTimeEval.eval(rHead).asInstanceOf[Long] < lt) advanceRight()
                val hit = !rDone && keyOrd.compare(rHeadKey, lk) == 0 &&
                  tol.forall(t =>
                    rTimeEval.eval(rHead).asInstanceOf[Long] - lt <= t)
                if (hit) { numMatched += 1; nextOut = resultProj(joined(l, rHead)) }
                else if (outer) nextOut = resultProj(joined(l, nullRight))
              } else {
                // BACKWARD: consume right rows of this key with time <= lt;
                // the last one wins (sorted by time asc, tiebreak asc)
                while (!rDone && keyOrd.compare(rHeadKey, lk) == 0 &&
                    rTimeEval.eval(rHead).asInstanceOf[Long] <= lt) {
                  candidateTime = rTimeEval.eval(rHead).asInstanceOf[Long]
                  candidate = rHead.copy()
                  candidateKey = rHeadKey
                  advanceRight()
                }
                val hit = candidate != null &&
                  keyOrd.compare(candidateKey, lk) == 0 &&
                  tol.forall(t => lt - candidateTime <= t)
                if (hit) { numMatched += 1; nextOut = resultProj(joined(l, candidate)) }
                else if (outer) nextOut = resultProj(joined(l, nullRight))
              }
            } else if (outer) {
              nextOut = resultProj(joined(l, nullRight))
            }
          }
        }

        override def hasNext: Boolean = {
          if (nextOut == null) computeNext()
          nextOut != null
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = nextOut
          nextOut = null
          numOutputRows += 1
          r
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Broadcast variant: the right side arrives whole at every task
  * (IdentityBroadcastMode); each partition builds key → time-sorted rows
  * once, then answers every left row with a binary search — the LEFT side
  * keeps its partitioning AND ordering, no shuffle, no sort. This is the
  * 100 TB fast path: an events stream as-of-joining a dim-sized reference
  * history touches the fact table exactly once, in place. Build cost is
  * per-task (like BroadcastNestedLoopJoin's relation scan) — fine for a
  * right side that fit under the broadcast threshold to begin with.
  */
final case class AsOfJoinBroadcastExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    isLeftOuter: Boolean,
    forward: Boolean,
    tolerance: Option[Long]) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    if (isLeftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched left rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(UnspecifiedDistribution, BroadcastDistribution(IdentityBroadcastMode))

  // the left side passes through untouched — partitioning and ordering
  // survive, so downstream stages reuse them
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTime = leftTime
    val rTime = rightTime
    val rTie = rightTieBreak
    val outer = isLeftOuter
    val fwd = forward
    val tol = tolerance
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val outAttrs = output
    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()
    left.execute().mapPartitions { lIter =>
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val rTimeEval = BindReferences.bindReference(rTime, rOut)
      val rowOrd = RowOrdering.create(
        SortOrder(rTime, Ascending) +: rTie.map(SortOrder(_, Ascending)), rOut)
      // key -> rows sorted by (time asc, tiebreak asc) + parallel times array
      val index = new java.util.HashMap[InternalRow, (Array[Long], Array[InternalRow])]()
      locally {
        val grouped = new java.util.HashMap[InternalRow, scala.collection.mutable.ArrayBuffer[InternalRow]]()
        broadcastRows.value.foreach { r =>
          val k = rKeyProj(r)
          if (!k.anyNull && rTimeEval.eval(r) != null) {
            var buf = grouped.get(k)
            if (buf == null) {
              buf = new scala.collection.mutable.ArrayBuffer[InternalRow]
              grouped.put(k.copy(), buf)
            }
            buf += r.copy()
          }
        }
        grouped.forEach { (k, buf) =>
          val sorted = buf.sorted(rowOrd.asInstanceOf[Ordering[InternalRow]]).toArray
          index.put(k, (sorted.map(rTimeEval.eval(_).asInstanceOf[Long]), sorted))
        }
      }
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val lTimeEval = BindReferences.bindReference(lTime, lOut)
      // output attrs bound against themselves — see AsOfJoinExec (null pad)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.length)

      // greatest idx with times(idx) <= t, or -1 (ties adjacent: the last
      // has the greatest tiebreak); forward uses lower-bound instead
      def upperIdx(times: Array[Long], t: Long): Int = {
        var lo = 0; var hi = times.length - 1; var res = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (times(mid) <= t) { res = mid; lo = mid + 1 } else hi = mid - 1
        }
        res
      }
      def lowerIdx(times: Array[Long], t: Long): Int = {
        var lo = 0; var hi = times.length - 1; var res = times.length
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (times(mid) >= t) { res = mid; hi = mid - 1 } else lo = mid + 1
        }
        res
      }

      lIter.flatMap { l =>
        val lk = lKeyProj(l)
        val ltRaw = if (lk.anyNull) null else lTimeEval.eval(l)
        val grp = if (ltRaw == null) null else index.get(lk)
        var hit: InternalRow = null
        if (grp != null) {
          val lt = ltRaw.asInstanceOf[Long]
          val (times, rows) = grp
          if (fwd) {
            val i = lowerIdx(times, lt)
            if (i < times.length && tol.forall(times(i) - lt <= _)) hit = rows(i)
          } else {
            val i = upperIdx(times, lt)
            if (i >= 0 && tol.forall(lt - times(i) <= _)) hit = rows(i)
          }
        }
        if (hit != null) {
          numMatched += 1; numOutputRows += 1
          Iterator.single(resultProj(joined(l, hit)))
        } else if (outer) {
          numOutputRows += 1
          Iterator.single(resultProj(joined(l, nullRight)))
        } else Iterator.empty
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinBroadcastExec =
    copy(left = newLeft, right = newRight)
}

/** Public API: `AsOf.join(events, orders, Seq("user_id"), Seq("o_custkey"),
  * "ts_us", "od_us", tieBreak = Seq("o_orderkey"))`. Time columns must be
  * LongType (epoch micros by convention — cast timestamps with
  * `unix_micros` first); the requirement is checked here, eagerly.
  */
object AsOf {

  /** Idempotently add the planner strategy and the as-of predicate
    * pushdown rule to an existing session.
    */
  def install(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    if (!exp.extraStrategies.contains(AsOfJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ AsOfJoinStrategy
    if (!exp.extraOptimizations.contains(PushFilterThroughAsOf))
      exp.extraOptimizations = exp.extraOptimizations :+ PushFilterThroughAsOf
    if (!exp.extraOptimizations.contains(PruneAsOfColumns))
      exp.extraOptimizations = exp.extraOptimizations :+ PruneAsOfColumns
  }

  /** @param direction "backward" (default; latest right row at/before the
    *   left time — ties resolved to the greatest tieBreak) or "forward"
    *   (earliest right row at/after — ties resolved to the least tieBreak).
    * @param tolerance max |left time − right time| in the time column's
    *   units for a match to count (None = unbounded) — the pandas
    *   merge_asof surface.
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      rightKeys: Seq[String],
      leftTime: String,
      rightTime: String,
      tieBreak: Seq[String] = Nil,
      joinType: String = "inner",
      direction: String = "backward",
      tolerance: Option[Long] = None): DataFrame = {
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
      "as-of join needs equally many left and right keys")
    require(direction == "backward" || direction == "forward",
      s"as-of direction must be backward or forward, got '$direction'")
    require(tolerance.forall(_ >= 0), "as-of tolerance must be >= 0")
    val isOuter = joinType match {
      case "inner" => false
      case "left" | "left_outer" => true
      case t => throw new IllegalArgumentException(
        s"as-of join supports inner/left, got '$t'")
    }
    val spark = left.sparkSession
    install(spark)
    val lPlan = left.queryExecution.analyzed
    // A self-join-shaped call (right derived from the same DataFrame as
    // left) carries the SAME attribute exprIds on both sides; Spark's
    // analyzer dedupRight only repairs its builtin join nodes, so here the
    // output would hold duplicate exprIds and UnsafeProjection would bind
    // the right side's columns to the left's ordinals — silently mirrored
    // values, no error. Re-alias the right side with fresh exprIds (a
    // Project of fresh Aliases), exactly what Dataset.join's dedup does.
    val rPlanRaw = right.queryExecution.analyzed
    val rPlan =
      if (lPlan.outputSet.intersect(rPlanRaw.outputSet).isEmpty) rPlanRaw
      else Project(rPlanRaw.output.map(a => Alias(a, a.name)()), rPlanRaw)
    // session resolver, not ==: column lookup must follow
    // spark.sql.caseSensitive like every other reference in the query
    val resolver = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.analyzer.resolver
    def resolve(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(a => resolver(a.name, name)).getOrElse(
        throw new IllegalArgumentException(
          s"column '$name' not in ${plan.output.map(_.name).mkString("[", ",", "]")}"))
    val lt = resolve(lPlan, leftTime)
    val rt = resolve(rPlan, rightTime)
    require(lt.dataType == LongType && rt.dataType == LongType,
      s"as-of time columns must be LongType epoch micros, got " +
        s"(${lt.dataType.simpleString}, ${rt.dataType.simpleString})")
    val lk = leftKeys.map(resolve(lPlan, _))
    val rk = rightKeys.map(resolve(rPlan, _))
    // mismatched key types would compare raw UnsafeRow bytes of different
    // widths — silently empty results, not an error — so reject eagerly
    // (a normal equi-join would insert casts; here the caller casts)
    lk.zip(rk).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"as-of key types must match exactly: '${a.name}' is " +
          s"${a.dataType.simpleString} but '${b.name}' is " +
          s"${b.dataType.simpleString} — cast one side first")
    }
    org.apache.spark.sql.graftbridge.Bridge.ofRows(spark,
      AsOfJoinPlan(lPlan, rPlan, lk, rk,
        lt, rt, tieBreak.map(resolve(rPlan, _)), isOuter,
        forward = direction == "forward", tolerance = tolerance))
  }
}

/** SQL surface for the native as-of join — a table-valued function
  * (registered by [[GraftFunctions.register]] /
  * `spark.sql.extensions=graft.plans.GraftExtensions`):
  *
  * {{{
  * SELECT * FROM asof_join(
  *   'events_v', 'orders_v',        -- left/right table or view names
  *   'user_id', 'o_custkey',        -- keys ('a,b' for compound keys)
  *   'ts_us', 'od_us'               -- BIGINT epoch-micro time columns
  *   [, 'inner'|'left'              -- join type      (default inner)
  *   [, 'backward'|'forward'        -- direction      (default backward)
  *   [, tolerance]]])               -- max gap, BIGINT (default unbounded)
  * }}}
  *
  * The builder runs at analysis time on unresolved names: table names
  * become `UnresolvedRelation`s and column names `UnresolvedAttribute`s,
  * which the analyzer resolves against the two children with its standard
  * rules (so `spark.sql.caseSensitive` etc. apply). Type checks that need
  * resolution (Long times, matching key types, self-join exprId overlap)
  * happen in [[AsOfJoinStrategy]] with positioned AnalysisExceptions.
  */
object AsOfSql {
  import GraftErrors.{fail, wrongNumArgs}
  import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.types.{IntegerType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  private def strArg(args: Seq[Expression], i: Int, what: String): String =
    args(i) match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => fail(
        s"asof_join argument ${i + 1} ($what) must be a string literal, " +
          s"got ${other.sql}")
    }

  def builder(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 6 || args.length > 9)
      wrongNumArgs("asof_join", "6 to 9", args.length)
    def rel(i: Int, what: String): LogicalPlan =
      UnresolvedRelation(strArg(args, i, what).split('.').toIndexedSeq)
    def attrs(i: Int, what: String): Seq[Expression] = {
      val names = strArg(args, i, what).split(',').toIndexedSeq.map(_.trim)
      if (names.exists(_.isEmpty)) fail(
        s"asof_join argument ${i + 1} ($what) contains an empty column name")
      names.map(n => UnresolvedAttribute(Seq(n)))
    }
    def attr(i: Int, what: String): Expression = attrs(i, what) match {
      case Seq(one) => one
      case many => fail(
        s"asof_join argument ${i + 1} ($what) must name exactly ONE " +
          s"column, got ${many.size} — compound lists are only valid for " +
          "the key arguments")
    }
    val joinType =
      if (args.length > 6) strArg(args, 6, "join type") else "inner"
    if (joinType != "inner" && joinType != "left" && joinType != "left_outer")
      fail(s"asof_join supports inner/left, got '$joinType'")
    val direction =
      if (args.length > 7) strArg(args, 7, "direction") else "backward"
    if (direction != "backward" && direction != "forward")
      fail(s"asof_join direction must be backward or forward, got '$direction'")
    val tolerance: Option[Long] =
      if (args.length <= 8) None
      else args(8) match {
        case Literal(v: Long, LongType) if v >= 0 => Some(v)
        case Literal(v: Int, IntegerType) if v >= 0 => Some(v.toLong)
        case other => fail(
          s"asof_join argument 9 (tolerance) must be a non-negative integer " +
            s"literal, got ${other.sql}")
      }
    val lk = attrs(2, "left keys")
    val rk = attrs(3, "right keys")
    if (lk.size != rk.size) fail(
      s"asof_join needs equally many left and right keys, got ${lk.size} vs ${rk.size}")
    AsOfJoinPlan(
      rel(0, "left table"), rel(1, "right table"), lk, rk,
      attr(4, "left time"), attr(5, "right time"),
      rightTieBreak = Nil,
      isLeftOuter = joinType != "inner",
      forward = direction == "forward",
      tolerance = tolerance)
  }
}
