package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._

/** Intersection size of two SORTED `array<long>` columns by linear
  * merge — the set-overlap primitive for exact similarity verification
  * (Jaccard/overlap/containment) over hashed token sets.
  *
  * `array_intersect` builds a hash set per invocation; on a pairwise
  * verification join that allocation dominates. The merge walk is
  * allocation-free and O(|a|+|b|), and stays inside whole-stage
  * codegen. Inputs must be sorted ascending (`sort_array`) and
  * duplicate-free; null arrays yield null, null elements are not
  * expected (token hashes).
  */
case class SortedArrayIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"sorted_intersect_count expects (array<bigint>, array<bigint>), got (${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    SortedArrayIntersectCount.intersectCount(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = classOf[SortedArrayIntersectCount].getName
    defineCodeGen(ctx, ev, (a, b) => s"$kernel.intersectCount($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_count"
}

object SortedArrayIntersectCount {

  /** The kernel, called by interpreted eval and generated code alike:
    * the linear merge walk.
    */
  def intersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftShim.column(
      SortedArrayIntersectCount(GraftShim.expression(a), GraftShim.expression(b)))
}
