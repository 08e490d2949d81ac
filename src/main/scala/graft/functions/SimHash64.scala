package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._

/** 64-bit SimHash of a token array (Charikar 2002, "Similarity
  * estimation techniques from rounding algorithms"): each token is
  * xxhash64'd; bit i of the result is 1 iff the sum over tokens of
  * (+1 if token-hash bit i set, else -1) is positive. Documents with
  * nearly identical token multisets differ in few bits, so Hamming
  * distance on the result estimates cosine similarity of the token
  * frequency vectors.
  *
  * Native Catalyst expression with whole-stage codegen: the 64-counter
  * inner loop stays inside the generated stage, no UDF serialization.
  * Null tokens are skipped; a null array yields null.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 expects array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SimHash64.sketch(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = classOf[SimHash64].getName
    defineCodeGen(ctx, ev, arr => s"$kernel.sketch($arr)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {
  val Seed = 42L

  /** The kernel, called by interpreted eval and generated code alike. */
  def sketch(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def simhash64(col: Column): Column =
    GraftShim.column(SimHash64(GraftShim.expression(col)))
}
