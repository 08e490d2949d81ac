package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._

/** A left-to-right double fold over the element pairs of two
  * `array<double>` columns: `acc += term(a(i), b(i))` from 0.0, in
  * index order. The interpreted and generated loops live here once; an
  * expression supplies only its per-element term, in Scala and in Java.
  *
  * Null semantics match the builtin `aggregate(zip_with(...))`
  * composition: a null array, a length mismatch (zip_with pads with
  * null), or any null element yields null.
  */
sealed trait DoubleVectorFold extends BinaryExpression {

  /** The per-element term, interpreted. */
  protected def term(x: Double, y: Double): Double

  /** Java statements adding the term of `x` and `y` (Java double
    * expressions) to `acc`. */
  protected def accumulateCode(ctx: CodegenContext, acc: String, x: String, y: String): String

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<double>, array<double>), got (${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += term(a.getDouble(i), b.getDouble(i))
      i += 1
    }
    acc
  }

  // Unlike the other expressions here, the fold keeps a generated loop
  // instead of calling a Scala kernel: the kernel call measured slower
  // on d5 at sf0.1 (local[4]; ROADMAP aim 2 has the numbers).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val step = accumulateCode(ctx, ev.value.toString, s"$a.getDouble($i)", s"$b.getDouble($i)")
      s"""
         |final int $n = $a.numElements();
         |${ev.value} = 0.0;
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $step
         |  }
         |}
       """.stripMargin
    })
}

/** Exact left-to-right dot product of two `array<double>` columns as a
  * native codegen'd Catalyst expression.
  *
  * Semantically identical to the builtin composition
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (acc,x) -> acc+x)` —
  * the same fold order, so results are bit-for-bit equal to that and to
  * DuckDB's `list_inner_product` — but evaluated as a single fused loop
  * with no intermediate array allocation and no per-element lambda
  * dispatch. On the embedding self-join paths (similarity search,
  * embedding near-dup) every candidate pair pays one of these, so the
  * fused loop is the difference between the join being compute-bound
  * and allocation-bound.
  */
case class DotProductDouble(left: Expression, right: Expression) extends DoubleVectorFold {

  override protected def term(x: Double, y: Double): Double = x * y

  override protected def accumulateCode(
      ctx: CodegenContext,
      acc: String,
      x: String,
      y: String): String = s"$acc += $x * $y;"

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}

/** Exact left-to-right squared L2 distance of two `array<double>`
  * columns — the fused twin of [[DotProductDouble]] for the OTHER core
  * vector primitive. Semantically identical (same fold order, so
  * bit-for-bit equal) to
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0.0, (acc,d) -> acc+d)`,
  * which is what the PQ/ADC paths evaluated as interpreted per-element
  * lambda dispatch.
  */
case class SquaredDistanceDouble(left: Expression, right: Expression) extends DoubleVectorFold {

  override protected def term(x: Double, y: Double): Double = {
    val d = x - y
    d * d
  }

  override protected def accumulateCode(
      ctx: CodegenContext,
      acc: String,
      x: String,
      y: String): String = {
    val d = ctx.freshName("d")
    s"final double $d = $x - $y; $acc += $d * $d;"
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)

  override def prettyName: String = "squared_distance"
}

object VectorOps {
  def dotProduct(a: Column, b: Column): Column =
    GraftShim.column(DotProductDouble(GraftShim.expression(a), GraftShim.expression(b)))

  def squaredDistance(a: Column, b: Column): Column =
    GraftShim.column(SquaredDistanceDouble(GraftShim.expression(a), GraftShim.expression(b)))
}
