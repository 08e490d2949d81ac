package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._

/** All `4·groups` 32-bit md5 lanes of a long key in ONE pass: for each
  * g in 0..groups-1, the MD5 digest of the ASCII bytes of `"$key:$g"`,
  * sliced into four big-endian unsigned 32-bit lanes (bytes 0–3, 4–7,
  * 8–11, 12–15), returned as `array<long>` ordered `r = g*4 + j`.
  *
  * Provably element-for-element equal to the portable-hash SQL spelling
  * `CAST(conv(substring(md5(concat(CAST(k AS STRING), ':',
  * CAST(g AS STRING))), 1 + 8*j, 8), 16, 10) AS BIGINT)`:
  * `CAST(long AS STRING)` is `java.lang.Long.toString`, single-digit g
  * (enforced: groups ≤ 10) casts to the one ASCII digit, Spark's
  * `md5()` hex-encodes the digest bytes nibble-by-nibble in order, so
  * hex chars `[8j+1, 8j+8]` are exactly digest bytes `[4j, 4j+3]`, and
  * `conv(·, 16, 10)` of 8 hex chars is their big-endian unsigned value
  * (< 2³², no sign or overflow edge). Md5LanesSpec pins the identity
  * property-style against the SQL formulation.
  *
  * Why it exists (q206): the SQL spelling allocates per row ~`groups`
  * concat strings + `groups` 32-char hex strings + `4·groups` substring
  * slices and re-parses every lane from text — measured as the entire
  * cost of the Poisson-bootstrap fan-out and the source of its in-sweep
  * GC sensitivity. This expression hashes the reused ASCII buffer
  * (only the trailing g digit changes), slices lanes as integer
  * arithmetic, and allocates one long-array per row.
  */
case class Md5Lanes(child: Expression, groups: Int)
    extends UnaryExpression {

  require(groups >= 1 && groups <= 10, "groups must be 1..10 (single ASCII digit)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"md5_lanes expects bigint, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val k = input.asInstanceOf[Long]
    new GenericArrayData(Md5Lanes.lanes(k, groups))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gad = classOf[GenericArrayData].getName
    val kernel = classOf[Md5Lanes].getName
    defineCodeGen(ctx, ev, k => s"new $gad($kernel.lanes($k, $groups))")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "md5_lanes"
}

object Md5Lanes {

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Hot loop, shared by interpreted eval and codegen: one reusable
    * ASCII buffer (`"$k:"` + mutated trailing digit), one digest buffer,
    * big-endian unsigned 32-bit lane extraction.
    */
  def lanes(k: Long, groups: Int): Array[Long] = {
    val md = md5.get()
    val ks = java.lang.Long.toString(k)
    val kl = ks.length
    val in = new Array[Byte](kl + 2)
    var i = 0
    while (i < kl) { in(i) = ks.charAt(i).toByte; i += 1 }
    in(kl) = ':'
    val dg = new Array[Byte](16)
    val out = new Array[Long](groups * 4)
    var g = 0
    while (g < groups) {
      in(kl + 1) = ('0' + g).toByte
      md.reset()
      md.update(in, 0, kl + 2)
      md.digest(dg, 0, 16)
      var j = 0
      while (j < 4) {
        out(g * 4 + j) =
          ((dg(4 * j) & 0xffL) << 24) |
            ((dg(4 * j + 1) & 0xffL) << 16) |
            ((dg(4 * j + 2) & 0xffL) << 8) |
            (dg(4 * j + 3) & 0xffL)
        j += 1
      }
      g += 1
    }
    out
  }

  def md5Lanes(col: Column, groups: Int): Column =
    GraftShim.column(Md5Lanes(GraftShim.expression(col), groups))
}
