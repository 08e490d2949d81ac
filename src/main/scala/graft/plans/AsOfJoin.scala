package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending,
  Attribute,
  BindReferences,
  Expression,
  JoinedRow,
  SortOrder
}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.LongType

/** Whole-operator Catalyst extension #2: AS-OF JOIN as a first-class
  * physical operator — for every left row, the LATEST right row of
  * the same key with `rightTime <= leftTime`, or nulls (left outer).
  *
  * The composition approach (q18's union-merge, or a windowed
  * last-ignoreNulls) re-expresses as-of through generic operators;
  * this node instead DECLARES the algorithm's true requirements to
  * the planner — `ClusteredDistribution` on each side's key (so
  * EnsureRequirements co-partitions both children with one exchange
  * each) plus `requiredChildOrdering` on (key, time) (so it plants
  * the per-partition sorts) — and then consumes both sorted streams
  * in a single forward merge: O(|L| + |R|) per partition, ONE
  * buffered right row of state, no window buffer, no union
  * materialization. That streaming-merge shape is what an as-of join
  * over 100 TB of ticks/events must compile to.
  *
  * Key and time expressions must be LongType (keys the fixture and
  * any epoch-micros feed satisfies); the match bound is inclusive
  * (`rightTime <= leftTime`). Among right rows sharing the same
  * (key, time), which one's non-time columns surface is tie-broken
  * arbitrarily — like any as-of engine — so deterministic callers
  * project the time, not tie-ambiguous payloads.
  *
  * Nulls follow SQL comparison semantics, matching what an
  * error-tolerant pipeline (try_cast etc.) feeds in: a right row with
  * a null key or time can never be anyone's match and is skipped; a
  * left row with a null key or time keeps its left-outer row with a
  * null-padded right side. (Both sides sort NULLS FIRST, so skipped
  * right rows never hide a real candidate.)
  */
case class AsOfJoinPlan(
    leftKey: Expression,
    leftTime: Expression,
    rightKey: Expression,
    rightTime: Expression,
    left: LogicalPlan,
    right: LogicalPlan)
    extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan,
      newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(lk, lt, rk, rt, l, r) =>
      AsOfJoinExec(lk, lt, rk, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKey: Expression,
    leftTime: Expression,
    rightKey: Expression,
    rightTime: Expression,
    left: SparkPlan,
    right: SparkPlan)
    extends BinaryExecNode {

  require(
    Seq(leftKey, leftTime, rightKey, rightTime).forall(_.dataType == LongType),
    "as-of join keys and times must be LongType")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Same key ⇒ same partition on both sides; EnsureRequirements
    * plants one exchange per child and keeps them co-partitioned.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil

  /** (key, time) ascending on both sides — the sorts that make the
    * single-pass merge possible are the planner's to provide.
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(
      Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lkB = BindReferences.bindReference(leftKey, left.output)
    val ltB = BindReferences.bindReference(leftTime, left.output)
    val rkB = BindReferences.bindReference(rightKey, right.output)
    val rtB = BindReferences.bindReference(rightTime, right.output)
    val rightWidth = right.output.size
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val rBuf = rIter.buffered
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      // the latest right row at or before the current left position
      var lastRight: InternalRow = null
      var lastRightKey = 0L
      lIter.map { l =>
        val lkv = lkB.eval(l)
        val ltv = ltB.eval(l)
        if (lkv == null || ltv == null) {
          // null key/time compares unknown to everything: left outer
          // keeps the row with a null-padded right side
          joined(l, nullRight)
        } else {
          val lk = lkv.asInstanceOf[Long]
          val lt = ltv.asInstanceOf[Long]
          // advance the right stream through everything ≤ (lk, lt);
          // both streams are (key, time)-sorted, so this never rewinds
          var continue = rBuf.hasNext
          while (continue) {
            val rkv = rkB.eval(rBuf.head)
            val rtv = rtB.eval(rBuf.head)
            if (rkv == null || rtv == null) {
              // unmatched by definition; NULLS FIRST ordering puts these
              // ahead of any real candidate, so skipping is safe
              rBuf.next()
              continue = rBuf.hasNext
            } else {
              val rk = rkv.asInstanceOf[Long]
              if (rk < lk || (rk == lk && rtv.asInstanceOf[Long] <= lt)) {
                lastRight = rBuf.next().copy()
                lastRightKey = rk
                continue = rBuf.hasNext
              } else continue = false
            }
          }
          if (lastRight != null && lastRightKey == lk) joined(l, lastRight)
          else joined(l, nullRight)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan,
      newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {

  /** Left as-of join: every row of `left` paired with the latest
    * `right` row of the same key at or before its time (nulls if
    * none). Column arguments are resolved against their frames; name
    * the right key differently from the left to keep the joined
    * output unambiguous.
    */
  def apply(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTimeCol: String,
      rightTimeCol: String): DataFrame = {
    GraftExtensions.requirePlanner(left.sparkSession, AsOfJoinStrategy)
    GraftShim.dataFrame(
      left.sparkSession,
      AsOfJoinPlan(
        GraftShim.expression(left(leftKey)),
        GraftShim.expression(left(leftTimeCol)),
        GraftShim.expression(right(rightKey)),
        GraftShim.expression(right(rightTimeCol)),
        left.queryExecution.analyzed,
        right.queryExecution.analyzed))
  }
}
