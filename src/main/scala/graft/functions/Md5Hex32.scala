package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The first 32 bits of a string's MD5 as an unsigned long — the
  * portable-hash workhorse `CAST(conv(substring(md5(x), 1, 8), 16, 10)
  * AS BIGINT)` without the hex round-trip: Spark's `md5()` hex-encodes
  * the 16 digest bytes (one 32-char string per row), `substring` slices
  * 8 chars (another allocation) and `conv` re-parses them base-16; all
  * three steps exist only to read digest bytes 0–3 big-endian, which
  * this expression does directly (`conv` of 8 hex chars is < 2³², so
  * no sign/overflow edge). Provably value-identical — the oracle keeps
  * the conv spelling, and Md5Hex32Spec pins the identity over arbitrary
  * unicode strings (md5 hashes the UTF-8 bytes on both paths).
  *
  * Used by the census/sampling family (q213 bottom-k keys, q241/q243/
  * q244 virtual-reducer bucketing) where the hash runs per data row or
  * per distinct key — the q206 allocation-storm class (see
  * [[Md5Lanes]]).
  */
case class Md5Hex32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"md5hex32 expects string, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    Md5Hex32.hash32(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = classOf[Md5Hex32].getName
    defineCodeGen(ctx, ev, v => s"$kernel.hash32($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "md5hex32"
}

object Md5Hex32 {

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Digest bytes 0–3 of md5(UTF-8 bytes of s), big-endian unsigned. */
  def hash32(s: UTF8String): Long = {
    val md = md5.get()
    md.reset()
    md.update(s.getBytes)
    val dg = md.digest()
    ((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
      ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)
  }

  def md5hex32(col: Column): Column =
    GraftShim.column(Md5Hex32(GraftShim.expression(col)))
}
