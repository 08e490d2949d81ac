package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute,
  BindReferences,
  Expression,
  UnsafeProjection,
  UnsafeRow
}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.graftshim.GraftShim

/** Whole-operator Catalyst extension: top-k rows per key WITHOUT a
  * per-partition sort.
  *
  * The declarative formulation (`row_number() over (partition by k
  * order by v desc) <= n`, q06) must sort every partition before the
  * rank filter prunes — Spark's WindowGroupLimit softens this but
  * still maintains sorted runs. This operator keeps ONE bounded
  * min-heap of size k per key and streams the partition through it:
  * O(rows · log k) with O(keys · k) memory, no sort buffer, no spill
  * proportional to partition size. At 100 TB with the usual "top
  * handful per entity" k, the heap state is the only thing resident.
  *
  * It is wired in at each of Catalyst's extension tiers:
  * [[TopKPerKeyPlan]] (logical), [[TopKPerKeyStrategy]]
  * ([[SparkStrategy]] mapping logical → physical),
  * [[TopKPerKeyExec]] (physical, declares
  * `ClusteredDistribution(keys)` so EnsureRequirements inserts
  * exactly one hash exchange), registered through
  * `SparkSessionExtensions.injectPlannerStrategy`
  * ([[GraftExtensions]]).
  *
  * Ties at the k-boundary are broken arbitrarily (like any
  * heap-based top-k); callers needing determinism order by a
  * tie-free expression or project tie-insensitive columns.
  *
  * Null order values sort last (`DESC NULLS LAST`), exactly like the
  * window formulation `row_number() over (order by v desc) <= k`:
  * they can never displace a non-null row, but when a key has fewer
  * than k non-null rows the remaining slots are filled with
  * null-ordered rows (which of them is arbitrary, as with
  * row_number's tie-breaking). Order values are copied out of the
  * scan's reused row buffer before heap insertion, so buffer-backed
  * types (strings, binary, decimals) order correctly.
  */
case class TopKPerKeyPlan(
    keys: Seq[Expression],
    order: Expression,
    k: Int,
    child: LogicalPlan)
    extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

/** Planner strategy: one logical node, one physical implementation. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Expression,
    k: Int,
    child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  /** All rows of a key must meet in one partition — EnsureRequirements
    * plants the single hash exchange; no sort requirement is declared,
    * which is the whole point.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = keys
    val orderExpr = order
    val childOutput = child.output
    child.execute().mapPartitions { rows =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val bound = BindReferences.bindReference(orderExpr, childOutput)
      val ord: Ordering[Any] = TypeUtils.getInterpretedOrdering(orderExpr.dataType)
      // min at the head so the weakest of the current top-k is O(1)
      val heapOrd = new java.util.Comparator[(Any, InternalRow)] {
        override def compare(a: (Any, InternalRow), b: (Any, InternalRow)): Int =
          ord.compare(a._1, b._1)
      }
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[(Any, InternalRow)]]()
      // DESC NULLS LAST tail: rows whose order value is null fill
      // remaining slots only when a key has < k non-null rows, so at
      // most k of them are retained per key (bounded like the heap).
      val nullTails = new java.util.HashMap[UnsafeRow, java.util.ArrayDeque[InternalRow]]()
      rows.foreach { row =>
        // copy out of the scan's reused buffer: UnsafeRow-backed values
        // (UTF8String/binary/decimal) are overwritten as the iterator
        // advances, so both the row AND the order value need copies
        val v = InternalRow.copyValue(bound.eval(row))
        if (v != null) {
          var heap = heaps.get(keyProj(row))
          if (heap == null) {
            heap = new java.util.PriorityQueue[(Any, InternalRow)](kLocal + 1, heapOrd)
            heaps.put(keyProj(row).copy(), heap)
          }
          if (heap.size < kLocal) heap.add((v, row.copy()))
          else if (ord.compare(v, heap.peek()._1) > 0) {
            heap.poll()
            heap.add((v, row.copy()))
          }
        } else {
          var tail = nullTails.get(keyProj(row))
          if (tail == null) {
            tail = new java.util.ArrayDeque[InternalRow](4)
            nullTails.put(keyProj(row).copy(), tail)
          }
          if (tail.size < kLocal) tail.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      val topRows = heaps.entrySet().iterator().asScala.flatMap { e =>
        val heap = e.getValue
        val tail = nullTails.remove(e.getKey)
        val fill =
          if (tail == null || heap.size >= kLocal) Iterator.empty
          else tail.iterator().asScala.take(kLocal - heap.size)
        heap.iterator().asScala.map(_._2) ++ fill
      }
      // keys whose rows ALL had null order values still emit up to k.
      // `++`'s argument is by-name: this iterator is created only after
      // topRows (and its nullTails.remove calls) is exhausted.
      topRows ++ nullTails.values().iterator().asScala
        .flatMap(_.iterator().asScala)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKey {

  /** Top `k` rows per `keyCols` group ordered by `orderCol`
    * DESCENDING. Columns are resolved against `df` so the plan enters
    * the analyzer already resolved.
    */
  def apply(df: DataFrame, keyCols: Seq[String], orderCol: String, k: Int): DataFrame = {
    GraftExtensions.requirePlanner(df.sparkSession, TopKPerKeyStrategy)
    val keys = keyCols.map(n => GraftShim.expression(df(n)))
    val order = GraftShim.expression(df(orderCol))
    GraftShim.dataFrame(
      df.sparkSession,
      TopKPerKeyPlan(keys, order, k, df.queryExecution.analyzed))
  }

  def apply(df: DataFrame, key: Column, order: Column, k: Int): DataFrame = {
    GraftExtensions.requirePlanner(df.sparkSession, TopKPerKeyStrategy)
    GraftShim.dataFrame(
      df.sparkSession,
      TopKPerKeyPlan(
        Seq(GraftShim.expression(key)),
        GraftShim.expression(order),
        k,
        df.queryExecution.analyzed))
  }
}
