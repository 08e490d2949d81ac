package graft.functions

import java.util.Arrays
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SORTED, DISTINCT 64-bit hashes of the word n-gram shingles of a
  * token array, in one pass — the shingling front-end of every
  * set-similarity operator (MinHash signatures, pairwise Jaccard
  * verification via [[SortedArrayIntersectCount]]).
  *
  * Replaces the builtin pipeline
  * `sort_array(transform(array_distinct(transform(sequence(...),
  * i -> concat_ws(' ', ...))), xxhash64))`, which materializes every
  * shingle as a string, hashes a sequence array, and builds a
  * hash-set — ~0.5 ms/document of allocation. Here each shingle is
  * hashed straight from the token bytes (space-separated, so distinct
  * shingles hash distinctly) into a primitive long array, then
  * sort + adjacent-dedupe. Downstream set algebra on the hashes equals
  * set algebra on the string shingles up to 64-bit collisions
  * (p ≈ V²/2⁶⁵ for vocabulary V — ~1e-13 at V=10⁶).
  *
  * Null tokens are treated as empty strings; a null array yields null;
  * fewer than n tokens yields an empty array.
  */
case class WordNgramHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "ngram width must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"word_ngram_hashes expects array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    new GenericArrayData(WordNgramHashes.hashes(arr, n))
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val gad = classOf[GenericArrayData].getName
    val kernel = classOf[WordNgramHashes].getName
    defineCodeGen(ctx, ev, arr => s"new $gad($kernel.hashes($arr, $n))")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "word_ngram_hashes"
}

object WordNgramHashes {

  /** Shared kernel — called from interpreted eval AND from generated
    * code (hence public-bytecode visibility).
    */
  def hashes(arr: ArrayData, n: Int): Array[Long] = {
    val numToks = arr.numElements()
    if (numToks < n) return Array.emptyLongArray

    // copy token bytes once
    val toks = new Array[Array[Byte]](numToks)
    var i = 0
    while (i < numToks) {
      toks(i) =
        if (arr.isNullAt(i)) Array.emptyByteArray
        else arr.getUTF8String(i).getBytes
      i += 1
    }

    val out = new Array[Long](numToks - n + 1)
    var buf = new Array[Byte](64)
    var w = 0
    while (w < out.length) {
      var len = 0
      var j = 0
      while (j < n) {
        val t = toks(w + j)
        val need = len + t.length + 1
        if (need > buf.length) buf = Arrays.copyOf(buf, math.max(need, buf.length * 2))
        if (j > 0) { buf(len) = ' '; len += 1 }
        System.arraycopy(t, 0, buf, len, t.length)
        len += t.length
        j += 1
      }
      out(w) = XXH64.hashUnsafeBytes(
        buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, Seed)
      w += 1
    }

    Arrays.sort(out)
    // adjacent dedupe
    var uniq = 0
    i = 0
    while (i < out.length) {
      if (uniq == 0 || out(i) != out(uniq - 1)) { out(uniq) = out(i); uniq += 1 }
      i += 1
    }
    if (uniq == out.length) out else Arrays.copyOf(out, uniq)
  }

  val Seed = 42L

  def wordNgramHashes(col: Column, n: Int): Column =
    GraftShim.column(WordNgramHashes(GraftShim.expression(col), n))
}

/** MinHash signature straight from pre-hashed shingles (the
  * [[WordNgramHashes]] output): per seed j, the minimum of
  * `XXH64.hashLong(h, seedHash(j))` over elements — k derived hash
  * families from one base hash, no string re-reads.
  */
case class MinHashFromHashes(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"minhash_from_hashes expects array<bigint>, got ${other.catalogString}")
    }

  private lazy val seedHashes: Array[Long] =
    Array.tabulate(numHashes)(s => XXH64.hashLong(s.toLong, 42L))

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      MinHashFromHashes.kernel(input.asInstanceOf[ArrayData], seedHashes))

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val gad = classOf[GenericArrayData].getName
    val kernel = classOf[MinHashFromHashes].getName
    val seeds = ctx.addReferenceObj("seedHashes", seedHashes, "long[]")
    defineCodeGen(ctx, ev, arr => s"new $gad($kernel.kernel($arr, $seeds))")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "minhash_from_hashes"
}

object MinHashFromHashes {

  /** Shared kernel — interpreted eval + generated code. */
  def kernel(arr: ArrayData, seedHashes: Array[Long]): Array[Long] = {
    val numHashes = seedHashes.length
    val mins = new Array[Long](numHashes)
    Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var j = 0
        while (j < numHashes) {
          val v = XXH64.hashLong(h, seedHashes(j))
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    mins
  }

  def minhashFromHashes(col: Column, numHashes: Int): Column =
    GraftShim.column(MinHashFromHashes(GraftShim.expression(col), numHashes))
}
