package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.Ascending
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/**
 * As-of join as a first-class operator: logical node → planner strategy →
 * physical sort-merge exec. This is tier (c) of the custom-operator
 * ladder (whole-operator semantics as `LogicalPlan` + `SparkStrategy` +
 * `SparkPlan`, the strategy installed by the query that uses it) — the
 * declarative union+window composition in
 * [[graft.operators.JoinsExt.asofJoin]] stays as the zero-custom-code
 * twin, and AsofJoinNativeSpec holds the two row-for-row equal.
 *
 * Semantics (matching the declarative form): for each left row, the
 * right row of the same key with the greatest `rightTime <= leftTime`;
 * ties at equal time resolve to the greatest `rightOrd`. Right columns
 * come back null when no right row precedes. Null keys group like
 * values (as `Window.partitionBy` does); the sort handles them
 * nulls-first on both sides, so they pair consistently.
 *
 * Scale shape — why a physical operator at all: the exec DECLARES its
 * needs (`requiredChildDistribution` = clustered on the key,
 * `requiredChildOrdering` = (key, time)) and Spark's EnsureRequirements
 * inserts the minimal exchanges/sorts and co-partitions the children —
 * so the merge itself is a single streaming pass per partition, O(1)
 * state (one candidate row), zero row amplification. The union+window
 * twin shuffles the same bytes but materializes the whole window
 * partition per key in the sort buffer; this exec holds one row.
 */
case class AsofJoinPlan(left: LogicalPlan, right: LogicalPlan,
                        leftKey: Expression, rightKey: Expression,
                        leftTime: Expression, rightTime: Expression,
                        rightOrd: Expression)
    extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner rule lowering [[AsofJoinPlan]] to [[AsofJoinExec]]; the
  * query that builds the node installs it in
  * `spark.experimental.extraStrategies`. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lt, rt, ro) =>
      AsofJoinExec(lk, rk, lt, rt, ro, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

// NOTE on column pruning: no custom Rule[LogicalPlan] is needed for this
// node. Catalyst's ColumnPruning handles UNKNOWN operators generically —
// its prunedChild helper wraps any node's children in Projects keeping
// (parent references ∪ the node's own expression references), and
// AsofJoinPlan exposes its key/time/ord expressions through the default
// case-class `expressions`, so the built-in rule pushes pruning through
// to the scans' ReadSchema on its own. Verified by a negative-control
// experiment (a hand-written pruning rule changed nothing) and pinned by
// AsofJoinNativeSpec's plan-shape test.

case class AsofJoinExec(leftKey: Expression, rightKey: Expression,
                        leftTime: Expression, rightTime: Expression,
                        rightOrd: Expression,
                        left: SparkPlan, right: SparkPlan)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  /** Cluster both sides on the key; EnsureRequirements co-partitions. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  /** Sorted (key, time) streams; right ties ordered by rightOrd so the
    * last candidate kept is the greatest-ord one. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
        SortOrder(rightOrd, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val rightWidth = right.output.size
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lKeyProj = UnsafeProjection.create(Seq(leftKey), left.output)
      val rKeyProj = UnsafeProjection.create(Seq(rightKey), right.output)
      val lTimeProj = UnsafeProjection.create(Seq(leftTime), left.output)
      val rTimeProj = UnsafeProjection.create(Seq(rightTime), right.output)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(Seq(leftKey.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(leftTime.dataType))
      val resultProj = UnsafeProjection.create(output, output)
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      val rBuf = rIt.buffered
      // O(1) merge state: the best (greatest (time, ord) ≤ current left
      // time) right row seen for the key currently being merged.
      var candidate: InternalRow = null
      lIt.map { lRow =>
        val lKey = lKeyProj(lRow)
        var advancing = true
        while (advancing && rBuf.hasNext) {
          val kc = keyOrd.compare(rKeyProj(rBuf.head), lKey)
          if (kc < 0) {
            rBuf.next()           // right key already passed: discard
            candidate = null
          } else if (kc == 0 &&
                     timeOrd.compare(rTimeProj(rBuf.head), lTimeProj(lRow)) <= 0) {
            candidate = rBuf.next().copy() // overwrite: last-in-order wins
          } else {
            advancing = false     // right is ahead of this left row
          }
        }
        val matched = candidate != null &&
          keyOrd.compare(rKeyProj(candidate), lKey) == 0
        resultProj(joined(lRow, if (matched) candidate else nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsofJoinPlan {
  import org.apache.spark.sql.{DataFrame, GraftShims}
  import org.apache.spark.sql.functions.col

  /**
   * Dataset-level entry: attach the most recent right row per key/time.
   * Right columns come back prefixed `asof_` (guaranteeing disjoint
   * names); all of `keyCol`/`timeCol`/`ordCol` name right-side columns
   * before prefixing.
   */
  def asofJoinNative(left: DataFrame, right: DataFrame,
                     keyCol: String, timeCol: String,
                     ordCol: String): DataFrame = {
    val renamed = right.select(right.columns.toSeq
      .map(c => col(c).as(s"asof_$c")): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = renamed.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name).mkString(", ")}"))
    val (lk, rk) = (attr(lPlan, keyCol), attr(rPlan, s"asof_$keyCol"))
    val (lt, rt) = (attr(lPlan, timeCol), attr(rPlan, s"asof_$timeCol"))
    // Equal types are a CORRECTNESS requirement, not pedantry: the two
    // sides co-partition by hashing their own key expression, and e.g.
    // int 5 and long 5 hash differently — a type mismatch would silently
    // route equal keys to different partitions. Same for the merge's
    // time comparison ordering.
    require(lk.dataType == rk.dataType,
      s"as-of key types must match exactly: $keyCol is ${lk.dataType} on " +
      s"the left but ${rk.dataType} on the right — cast one side first")
    require(lt.dataType == rt.dataType,
      s"as-of time types must match exactly: $timeCol is ${lt.dataType} " +
      s"on the left but ${rt.dataType} on the right — cast one side first")
    GraftShims.ofRows(left.sparkSession,
      AsofJoinPlan(lPlan, rPlan, lk, rk, lt, rt, attr(rPlan, s"asof_$ordCol")))
  }
}
