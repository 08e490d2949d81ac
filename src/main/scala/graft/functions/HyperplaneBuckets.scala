package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._

/** All sign-hyperplane LSH bucket codes of a vector, in ONE fused pass.
  *
  * Semantically identical to the declarative composition it replaces —
  * per table `t`, bucket = Σ_j (dot(v, plane_{t,j}) > 0 ? 1<<j : 0)
  * with each dot folding left-to-right like [[DotProductDouble]] — but
  * evaluated as a single loop nest over a flattened plane matrix.
  *
  * Why it exists: the composition builds `tables × planes` separate
  * dot-product expression trees (192 of them for d10's 16×12 layout).
  * That blows past JIT/codegen method budgets, so the stage decays to
  * interpreted per-expression evaluation — measured 8.7 s for d10 at
  * sf0.1, dominated by signature computation over 4 000 vectors. One
  * expression holding the planes as a codegen reference object keeps
  * the stage inside whole-stage codegen and touches each vector
  * element exactly `tables × planes` times with zero allocation
  * beyond the output array.
  *
  * Null semantics: a null vector yields null; vectors whose length
  * differs from the plane dimension yield null (the composition gave
  * all-zero buckets for those — no such rows exist on the embedding
  * paths, where every vector is dim-64 by construction). Null
  * elements are not expected and read as 0.0 contributions.
  *
  * `planes` is a Seq-of-Seq rather than an array-of-arrays so the
  * case-class equals/hashCode are STRUCTURAL: two instances built
  * from separate plane matrices with equal values compare equal,
  * which is what Catalyst canonicalization / common-subexpression
  * elimination / exchange reuse key on (Array fields compare by
  * reference and silently defeat all three). The hot loop still runs
  * over a flattened primitive array, materialized once per instance.
  */
case class HyperplaneBuckets(
    child: Expression,
    planes: Seq[Seq[Double]],
    tables: Int)
    extends UnaryExpression {

  require(tables > 0, s"hyperplane_buckets requires tables > 0, got $tables")
  require(
    planes.nonEmpty && planes.length % tables == 0,
    s"hyperplane_buckets: ${planes.length} planes not divisible into $tables tables")

  @transient private lazy val planesArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray
  private val perTable: Int = planes.length / tables
  private val dim: Int = planes.head.length

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"hyperplane_buckets expects array<double>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    HyperplaneBuckets.compute(input.asInstanceOf[ArrayData], planesArr, tables, perTable, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = classOf[HyperplaneBuckets].getName
    val planesRef = ctx.addReferenceObj("planes", planesArr, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = $kernel.compute($v, $planesRef, $tables, $perTable, $dim);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "hyperplane_buckets"
}

object HyperplaneBuckets {

  /** The kernel, called by interpreted eval and generated code alike.
    * Returns null on dimension mismatch (see class scaladoc).
    */
  def compute(
      v: ArrayData,
      planes: Array[Array[Double]],
      tables: Int,
      perTable: Int,
      dim: Int): ArrayData = {
    if (v.numElements() != dim) return null
    val vec = v.toDoubleArray()
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var code = 0
      var j = 0
      while (j < perTable) {
        val plane = planes(t * perTable + j)
        var acc = 0.0
        var i = 0
        while (i < dim) { acc += vec(i) * plane(i); i += 1 }
        if (acc > 0) code |= 1 << j
        j += 1
      }
      out(t) = code
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Bucket codes per table as `array<int>` (index = table id). */
  def buckets(v: Column, tables: Array[Array[Array[Double]]]): Column = {
    val flat: Seq[Seq[Double]] = tables.flatten.map(_.toSeq).toSeq
    GraftShim.column(HyperplaneBuckets(GraftShim.expression(v), flat, tables.length))
  }
}
