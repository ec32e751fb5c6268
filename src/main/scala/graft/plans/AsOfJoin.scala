package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, Expression, GenericInternalRow,
  JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** The three as-of directions, shared by the logical node and exec:
  * Backward = latest right time <= left time (state AS OF the event);
  * Forward = earliest right time >= left time (next state AFTER it);
  * Nearest = whichever of the two is closer in absolute time,
  * backward winning exact ties (the kdb `aj`-family completion —
  * sensor alignment, "closest reading to the sample instant"). */
sealed abstract class AsOfMode
object AsOfMode {
  case object Backward extends AsOfMode
  case object Forward extends AsOfMode
  case object Nearest extends AsOfMode
}

/** Native as-of join — the whole-operator Catalyst extension (logical
  * node + planner strategy + physical merge scan), for the one join
  * type Spark's planner has no operator for. Spark 4.1's
  * `Dataset.joinAsOf` is rewritten by `RewriteAsOfJoin` into a
  * correlated `min_by` subquery: a range-condition join per key, whose
  * work grows with the right rows per key for every left row. The
  * merge scan below reads each side once instead.
  *
  * Semantics: LEFT OUTER as-of — for every left row, the single right
  * row with `rightKey = leftKey` that `mode` picks (see [[AsOfMode]]);
  * with a `tolerance`, a pick farther than that many time units from
  * the left row is discarded. Right columns are null when nothing
  * matches. (The ksqlDB/kdb "state at event time" join; DuckDB spells
  * the backward and forward modes `ASOF LEFT JOIN`, which is what the
  * oracles run.)
  *
  * Physical shape — declared, not hand-built: the exec node REQUIRES
  * `ClusteredDistribution(key)` on both children and (key, time)
  * ascending intra-partition order, and Spark's own EnsureRequirements
  * inserts the hash exchanges and sorts — the same machinery that
  * plans SortMergeJoin. Execution is then a single forward merge scan
  * per partition: O(|L| + |R|), O(1) state (at most ONE buffered right
  * row), no window, no state blow-up on hot keys, never a cross
  * product. Compare the composed formulation (q_asof_join: union +
  * last-over running window): same two exchanges, but the window
  * materializes and sorts the union and carries every right column
  * through it; the merge scan streams both inputs once. At 100 TB both
  * sides shuffle exactly once on the key, and skew behaves like
  * sort-merge-join skew (a hot key sorts locally; nothing is
  * replicated).
  *
  * Keys and times must be non-null (null left keys emit null-extended
  * rows; null right keys match nothing). Right rows should be unique
  * per (key, time) — with duplicates, which duplicate wins follows
  * sort tie order, so dedup first (the registry rows pre-aggregate,
  * like any sane as-of input).
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    leftTime: Expression,
    rightKey: Expression,
    rightTime: Expression,
    mode: AsOfMode = AsOfMode.Backward,
    tolerance: Option[Long] = None)
    extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] to [[AsOfJoinExec]]. Injected by GraftExtensions
  * (`injectPlannerStrategy`) or lazily by [[AsOf.join]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, lt, rk, rt, m, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, m, tol) :: Nil
    case _ => Nil
  }
}

/** One merge scan for all three [[AsOfMode]]s. Backward buffers ONE
  * candidate right row; forward needs no buffer at all (the
  * un-consumed right head IS the candidate, shared by every left row
  * it satisfies); nearest runs the backward scan and arbitrates
  * between its candidate and the forward head by absolute time
  * distance — still one pass, still one buffered row. */
case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    leftTime: Expression,
    rightKey: Expression,
    rightTime: Expression,
    mode: AsOfMode,
    tolerance: Option[Long] = None)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // co-partition on the key: EnsureRequirements aligns both exchanges
  // (same hash function, same partition count), exactly as for SMJ
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  // intra-partition (key, time) order: sorts are inserted for free
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    // keyOrd/timeOrd are built from the LEFT types and applied to right
    // values, so mismatched sides would miscompare or ClassCastException
    // mid-scan — fail loud up front instead
    require(GraftSqlShim.sameType(leftKey.dataType, rightKey.dataType),
      s"as-of join key types differ: left ${leftKey.dataType.sql} vs " +
        s"right ${rightKey.dataType.sql}; cast one side first")
    require(GraftSqlShim.sameType(leftTime.dataType, rightTime.dataType),
      s"as-of join time types differ: left ${leftTime.dataType.sql} vs " +
        s"right ${rightTime.dataType.sql}; cast one side first")
    // nearest arbitrates by |t - rt|, which needs actual subtraction,
    // not just an ordering — restrict to integral-backed time types
    // (longs/ints internally: BIGINT/INT/SMALLINT/TINYINT, TIMESTAMP,
    // TIMESTAMP_NTZ, DATE) and fail loud otherwise
    if (mode == AsOfMode.Nearest || tolerance.isDefined) {
      import org.apache.spark.sql.types._
      val ok = leftTime.dataType match {
        case LongType | IntegerType | ShortType | ByteType | DateType |
            TimestampType | TimestampNTZType => true
        case _ => false
      }
      require(ok, "nearest/tolerance as-of needs an integral or instant " +
        s"time column; got ${leftTime.dataType.sql} — cast to epoch first")
      tolerance.foreach(tol =>
        require(tol >= 0, s"as-of tolerance must be >= 0, got $tol"))
    }
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTime, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTime, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val rightWidth = right.output.length
    val outAttrs = output
    // the joined input row's right half can be the all-null row, so the
    // projection MUST treat right attrs as nullable regardless of the
    // child schema — binding against the child's non-null attrs would
    // skip the null check and read 0s out of null slots
    val inAttrs = left.output ++ right.output.map(_.withNullability(true))

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(outAttrs, inAttrs)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightWidth)
      val rBuf = rIter.buffered
      // the ONE row of merge state: latest right row (copied — scan
      // rows are reused) with key = current left key, time <= left time
      var candidate: InternalRow = null
      var candidateKey: Any = null
      // timestamps/dates/integrals all eval to Long/Int/Short/Byte
      def asLong(v: Any): Long = v match {
        case l: java.lang.Long => l
        case i: java.lang.Integer => i.toLong
        case s: java.lang.Short => s.toLong
        case b: java.lang.Byte => b.toLong
        case null => sys.error(
          "nearest/tolerance as-of join requires non-null time values " +
            "(backward/forward skip null-time rows via the ordering; " +
            "the distance arithmetic here cannot)")
        case other => sys.error(s"non-integral as-of time value: $other")
      }

      if (mode == AsOfMode.Forward) {
        lIter.map { lRow =>
          val k = lk.eval(lRow)
          if (k == null) {
            proj(joined(lRow, nullRight))
          } else {
            val t = lt.eval(lRow)
            // discard right rows that can never match this or any later
            // left row: smaller keys, and same-key rows strictly before t
            // (later lefts have times >= t)
            var advance = true
            while (advance && rBuf.hasNext) {
              val head = rBuf.head
              val hk = rk.eval(head)
              if (hk == null) { rBuf.next(); () }
              else {
                val c = keyOrd.compare(hk, k)
                if (c < 0 || (c == 0 && timeOrd.lt(rt.eval(head), t))) {
                  rBuf.next(); ()
                } else advance = false
              }
            }
            // the un-consumed head is the earliest same-key row at or
            // after t — the match, shared with any later left rows it
            // also satisfies (evaluated per row; nothing retained across
            // iterations, so no defensive copy is needed)
            val ok = rBuf.hasNext && {
              val hk = rk.eval(rBuf.head)
              hk != null && keyOrd.compare(hk, k) == 0
            } && tolerance.forall(tol =>
              asLong(rt.eval(rBuf.head)) - asLong(t) <= tol)
            proj(joined(lRow, if (ok) rBuf.head else nullRight))
          }
        }
      } else lIter.map { lRow =>
        val k = lk.eval(lRow)
        if (k == null) {
          proj(joined(lRow, nullRight))
        } else {
          val t = lt.eval(lRow)
          var advance = true
          while (advance && rBuf.hasNext) {
            val head = rBuf.head
            val hk = rk.eval(head)
            if (hk == null) { rBuf.next(); () } // sorts first, matches nothing
            else {
              val c = keyOrd.compare(hk, k)
              if (c < 0) { rBuf.next(); candidate = null; candidateKey = null }
              else if (c == 0 && timeOrd.lteq(rt.eval(head), t)) {
                // re-evaluate the key AGAINST THE COPY: `hk` was read off
                // the scan's reused buffer row, so for buffer-backed types
                // (UTF8String, Decimal, structs) it would silently mutate
                // as rBuf advances, corrupting the validity check below
                candidate = rBuf.next().copy(); candidateKey = rk.eval(candidate)
              } else advance = false
            }
          }
          val backOk = (candidate != null && candidateKey != null &&
            keyOrd.compare(candidateKey, k) == 0) && tolerance.forall(tol =>
              asLong(t) - asLong(rt.eval(candidate)) <= tol)
          if (mode == AsOfMode.Backward) {
            proj(joined(lRow, if (backOk) candidate else nullRight))
          } else {
            // Nearest: the un-consumed head (if same key) is the
            // earliest right row strictly after t — arbitrate against
            // the backward candidate by absolute distance, backward
            // winning ties. The head is NOT consumed: a later left row
            // with larger t folds it into `candidate` via the same
            // advance loop, so the scan stays one pass.
            val fwdOk = rBuf.hasNext && {
              val hk = rk.eval(rBuf.head)
              hk != null && keyOrd.compare(hk, k) == 0
            } && tolerance.forall(tol =>
              asLong(rt.eval(rBuf.head)) - asLong(t) <= tol)
            val pick =
              if (backOk && fwdOk) {
                val tl = asLong(t)
                val db = tl - asLong(rt.eval(candidate))
                val df = asLong(rt.eval(rBuf.head)) - tl
                if (db <= df) candidate else rBuf.head
              } else if (backOk) candidate
              else if (fwdOk) rBuf.head
              else nullRight
            proj(joined(lRow, pick))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public API: `AsOf.join(events, states, "k", "tu")`. */
object AsOf {
  /** Backward as-of on key and time columns named the same on both
    * sides (rename beforehand if not). */
  def join(leftDf: DataFrame, rightDf: DataFrame,
      keyCol: String, timeCol: String): DataFrame =
    join(leftDf, rightDf, leftDf(keyCol), leftDf(timeCol),
      rightDf(keyCol), rightDf(timeCol))

  /** Registers the strategy in the session (idempotently) and builds
    * the joined DataFrame. `mode` picks the direction ([[AsOfMode]]);
    * `tolerance` bounds the match's distance in time units (pandas
    * `merge_asof(tolerance=...)`: a stale match null-extends the row,
    * at one subtraction per row). Nearest and tolerance need integral
    * or instant time columns. Right columns appear suffixed only
    * through normal Spark resolution, so project/alias the sides
    * before joining if names collide. */
  def join(leftDf: DataFrame, rightDf: DataFrame,
      leftKey: Column, leftTime: Column,
      rightKey: Column, rightTime: Column,
      mode: AsOfMode = AsOfMode.Backward,
      tolerance: Option[Long] = None): DataFrame = {
    val spark = leftDf.sparkSession
    install(spark)
    val plan = AsOfJoin(
      leftDf.queryExecution.analyzed, rightDf.queryExecution.analyzed,
      GraftSqlShim.expression(leftKey), GraftSqlShim.expression(leftTime),
      GraftSqlShim.expression(rightKey), GraftSqlShim.expression(rightTime),
      mode, tolerance)
    GraftSqlShim.ofRows(spark, plan)
  }

  /** Idempotent runtime registration, for sessions not built with
    * GraftExtensions (mirrors Native.install). Checks the planner's
    * full strategy list — which includes extension-injected strategies,
    * not just experimental ones — so a GraftExtensions session is never
    * double-registered. */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.sessionState.planner.strategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
  }
}
