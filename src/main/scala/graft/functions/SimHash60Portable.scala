package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._

/** 60-bit SimHash of a token array (Charikar 2002) built from
  * ENGINE-PORTABLE token hashes: two polynomial hashes over the
  * token's Unicode CODE POINTS, `h1 = Σ cp·131^i mod 1e9+7` and
  * `h2 = Σ cp·137^i mod 998244353`, supply bits 0–29 and 30–59 of
  * the per-token signature. Bit b of the result is 1 iff the sum over
  * tokens of (+1 if signature bit b set, else −1) is positive.
  *
  * The point of the polynomial hashes is that ANY SQL engine can
  * recompute them exactly (a fold of `(acc*base + cp) % prime` —
  * code points are < 0x110000, so every intermediate stays < 2^63),
  * so a sketch-dependent result can be verified cross-engine
  * row-for-row, where an xxhash64-based sketch ([[SimHash64]]) is
  * checkable only by trusting this engine. Keep [[SimHash64]] for
  * throughput when portability doesn't matter: xxh64 consumes 8
  * bytes per step versus this hash's two-multiplies-two-mods per
  * code point.
  *
  * Code points — not UTF-8 bytes — are the unit because that is what
  * a SQL oracle's per-character `ord()` folds over: SQL engines split
  * strings into characters, not bytes, so a byte fold would silently
  * diverge from the oracle on the first non-ASCII token (the two
  * coincide only on ASCII). Null tokens are skipped; a null array
  * yields null. Empty tokens hash to 0 in both engines.
  */
case class SimHash60Portable(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash60 expects array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SimHash60Portable.sketch(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = classOf[SimHash60Portable].getName
    defineCodeGen(ctx, ev, arr => s"$kernel.sketch($arr)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "simhash60"
}

object SimHash60Portable {

  /** The kernel, called by interpreted eval and generated code alike. */
  def sketch(arr: ArrayData): Long = {
    val counts = new Array[Int](60)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i).toString
        var h1 = 0L
        var h2 = 0L
        var j = 0
        val len = s.length
        while (j < len) {
          val cp = s.codePointAt(j)
          h1 = (h1 * 131 + cp) % 1000000007L
          h2 = (h2 * 137 + cp) % 998244353L
          j += Character.charCount(cp)
        }
        var bit = 0
        while (bit < 30) {
          if (((h1 >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
          if (((h2 >>> bit) & 1L) == 1L) counts(bit + 30) += 1
          else counts(bit + 30) -= 1
          bit += 1
        }
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 60) {
      if (counts(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  def simhash60(col: Column): Column =
    GraftShim.column(SimHash60Portable(GraftShim.expression(col)))
}
