package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined-chunking cut points of a payload stream: 1-based
  * positions `p + W` for every window start `p` whose trailing-W-byte
  * Rabin hash ≡ 0 (mod M) — the boundary rule of rsync/LBFS-style
  * storage dedup (m5).
  *
  * The declarative formulation (`transform(sequence(…), i ->
  * aggregate(slice(bytes, i, W), …))`) recomputes each window from
  * scratch through interpreted lambda evaluation — O(len·W) per
  * payload and 6.8 s for the m5 query at sf0.1. This kernel slides
  * the hash in O(len) (`h ← (h·B + in − out·B^W) mod P`) inside one
  * codegen'd JVM loop: same per-window values bit-for-bit (the
  * sliding update telescopes to the same polynomial), ~7× faster
  * end-to-end.
  *
  * Byte values are taken as unsigned; for ASCII payloads (the fixture
  * corpus) that equals `ascii()` per character, which keeps the
  * DuckDB oracle's character-level recomputation exactly comparable.
  * A null input yields null; len < W yields no cut points.
  */
case class CdcCutPoints(child: Expression, w: Int, modulus: Int)
    extends UnaryExpression {

  require(w >= 1 && modulus >= 1)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"cdc_cut_points expects string, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      CdcCutPoints.cuts(input.asInstanceOf[UTF8String], w, modulus))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gad = classOf[GenericArrayData].getName
    val kernel = classOf[CdcCutPoints].getName
    defineCodeGen(ctx, ev, s => s"new $gad($kernel.cuts($s, $w, $modulus))")
  }

  override protected def withNewChildInternal(newChild: Expression): CdcCutPoints =
    copy(child = newChild)

  override def prettyName: String = "cdc_cut_points"
}

object CdcCutPoints {
  private val P = 1000000007L
  private val B = 131L

  /** O(len) sliding Rabin hash over the UTF-8 bytes. Returns the cut
    * positions (1-based, each ≤ len) as boxed Integers for
    * GenericArrayData.
    */
  def cuts(s: UTF8String, w: Int, modulus: Int): Array[Integer] = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n < w) return Array.empty
    // B^w mod P, for sliding the leading byte out
    var bw = 1L
    var i = 0
    while (i < w) { bw = bw * B % P; i += 1 }
    val out = Array.newBuilder[Integer]
    var h = 0L
    i = 0
    while (i < n) {
      h = (h * B + (bytes(i) & 0xFF)) % P
      if (i >= w) h = ((h - (bytes(i - w) & 0xFF) * bw) % P + P) % P
      // window [i - w + 1, i] complete; cut AFTER it at i + 2 (1-based)
      if (i >= w - 1 && h % modulus == 0 && i + 2 <= n)
        out += Integer.valueOf(i + 2)
      i += 1
    }
    out.result()
  }

  def cdcCutPoints(payload: Column, w: Int, modulus: Int): Column =
    GraftShim.column(CdcCutPoints(GraftShim.expression(payload), w, modulus))
}
