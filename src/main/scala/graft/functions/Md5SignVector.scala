package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._

/** The h-ordered hyperplane ±1 sign vector of a long key in ONE pass:
  * element h (h = 0..n-1) is +1 when the FIRST hex digit of
  * `md5("$key_$h")` is even (0,2,4,6,8,a,c,e), else −1 — i.e. the
  * q203/d1 portable-hash sign family, returned as `array<long>` so the
  * per-part vector needs no explode, no per-h string md5, and no
  * collect_list aggregate (each of which q203 paid before: catalog ×
  * 144 exploded rows through a string-concat→hex→substring→isin chain
  * and one full Exchange to group them back into vectors).
  *
  * Provably element-for-element equal to the SQL spelling
  * `CASE WHEN substring(md5(concat(CAST(k AS STRING), '_',
  * CAST(h AS STRING))), 1, 1) IN ('0','2','4','6','8','a','c','e')
  * THEN 1 ELSE -1 END` ordered by h: `CAST(... AS STRING)` is
  * decimal ASCII, md5's first hex char is the high nibble of digest
  * byte 0, and that digit is even iff bit 4 of the byte is clear
  * (`(b & 0x10) == 0`). Md5SignVectorSpec pins the identity against
  * the SQL formulation.
  */
case class Md5SignVector(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      // a constant width fails here, at analysis; any other width
      // is checked per row by `signs`
      case (LongType, IntegerType) if right.foldable =>
        right.eval() match {
          case n: Int if n < 0 || n > Md5SignVector.MaxLength =>
            TypeCheckResult.TypeCheckFailure(
              s"md5_sign_vector length must be in [0, ${Md5SignVector.MaxLength}], got $n")
          case _ => TypeCheckResult.TypeCheckSuccess
        }
      case (LongType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"md5_sign_vector expects (bigint, int), got (${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(key: Any, n: Any): Any =
    new GenericArrayData(
      Md5SignVector.signs(key.asInstanceOf[Long], n.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gad = classOf[GenericArrayData].getName
    val kernel = classOf[Md5SignVector].getName
    defineCodeGen(ctx, ev, (k, n) => s"new $gad($kernel.signs($k, $n))")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "md5_sign_vector"
}

object Md5SignVector {

  /** Longest vector: h stays within the 4 decimal digits `signs`
    * leaves room for.
    */
  val MaxLength = 4096

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Hot loop, shared by interpreted eval and codegen: reusable ASCII
    * buffer `"$k_"` + the decimal digits of h, one digest per h, sign
    * from bit 4 of digest byte 0.
    */
  def signs(k: Long, n: Int): Array[Long] = {
    require(n >= 0 && n <= MaxLength, s"md5_sign_vector length out of range: $n")
    val md = md5.get()
    val ks = java.lang.Long.toString(k)
    val kl = ks.length
    // room for key + '_' + up to 4 decimal digits of h
    val in = new Array[Byte](kl + 5)
    var i = 0
    while (i < kl) { in(i) = ks.charAt(i).toByte; i += 1 }
    in(kl) = '_'
    val dg = new Array[Byte](16)
    val out = new Array[Long](n)
    var h = 0
    while (h < n) {
      val hs = java.lang.Integer.toString(h)
      var j = 0
      while (j < hs.length) { in(kl + 1 + j) = hs.charAt(j).toByte; j += 1 }
      md.reset()
      md.update(in, 0, kl + 1 + hs.length)
      md.digest(dg, 0, 16)
      out(h) = if ((dg(0) & 0x10) == 0) 1L else -1L
      h += 1
    }
    out
  }

  def md5SignVector(key: Column, n: Column): Column =
    GraftShim.column(
      Md5SignVector(GraftShim.expression(key), GraftShim.expression(n)))
}
