package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._

/** MinHash signature of a string-array (shingle set) in ONE pass: for
  * each of `numHashes` seeds, the minimum xxhash64 of any element under
  * that seed (Broder 1997, "On the resemblance and containment of
  * documents"). Equivalent to `numHashes` separate
  * `array_min(transform(shingles, x -> xxhash64(seed, x)))` columns but
  * traverses the array once, keeps the running minima in a local
  * array, and allocates no intermediate hashed arrays — the signature
  * step of MinHash-LSH dedup is a full-corpus scan, so this is its
  * hot loop.
  *
  * Per-seed hash: `XXH64(bytes, XXH64.hashLong(seed, 42))` — seed
  * derivation chained like Spark's own multi-arg xxhash64.
  *
  * Null elements are skipped; a null array yields null; an empty array
  * yields Long.MaxValue minima (never equal across bands in practice —
  * callers filter degenerate docs before signing).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"minhash_signature expects array<string>, got ${other.catalogString}")
    }

  private lazy val seedHashes: Array[Long] =
    Array.tabulate(numHashes)(s => XXH64.hashLong(s.toLong, 42L))

  override def nullSafeEval(input: Any): Any =
    MinHashSignature.signature(input.asInstanceOf[ArrayData], seedHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = classOf[MinHashSignature].getName
    val seeds = ctx.addReferenceObj("seedHashes", seedHashes, "long[]")
    defineCodeGen(ctx, ev, arr => s"$kernel.signature($arr, $seeds)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

object MinHashSignature {

  /** The kernel, called by interpreted eval and generated code alike:
    * per seed, the minimum hash of any non-null element.
    */
  def signature(arr: ArrayData, seedHashes: Array[Long]): ArrayData = {
    val numHashes = seedHashes.length
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        var j = 0
        while (j < numHashes) {
          val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seedHashes(j))
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def minhashSignature(col: Column, numHashes: Int): Column =
    GraftShim.column(MinHashSignature(GraftShim.expression(col), numHashes))
}
