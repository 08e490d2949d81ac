package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Reinterpret an `array<bigint>` / `array<double>` of byte values as a
  * UTF-8 string — the reference's "Sanitização de Encodings" repair for
  * string columns that arrive JSON-encoded as numeric byte arrays
  * (reference: src/processor.rs:100-123: cast `List<Int64|Float64>` →
  * `List<UInt8>` → pack to `Binary` → cast `String`).
  *
  * Implemented as a native Catalyst `UnaryExpression` with whole-stage
  * codegen rather than a Scala UDF so the repair stays inside the
  * codegen'd stage (no serialization boundary in the hot path). JVM
  * bytes are signed where the reference uses `UInt8`; `(v & 0xFF)`
  * truncation reproduces the unsigned-byte reinterpretation exactly
  * (multi-byte UTF-8 code units are >= 0x80).
  *
  * Null elements inside the array become 0x00 bytes; a null array yields
  * a null string (null-intolerant unary semantics).
  */
case class DecodeLongArrayToUtf8(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType | IntegerType | ShortType | ByteType | DoubleType | FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"decode_byte_array expects array<numeric>, got ${other.catalogString}")
    }

  private lazy val elementType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val bytes = new Array[Byte](n)
    var i = 0
    elementType match {
      case LongType =>
        while (i < n) { if (!arr.isNullAt(i)) bytes(i) = (arr.getLong(i) & 0xFF).toByte; i += 1 }
      case IntegerType =>
        while (i < n) { if (!arr.isNullAt(i)) bytes(i) = (arr.getInt(i) & 0xFF).toByte; i += 1 }
      case ShortType =>
        while (i < n) { if (!arr.isNullAt(i)) bytes(i) = (arr.getShort(i) & 0xFF).toByte; i += 1 }
      case ByteType =>
        while (i < n) { if (!arr.isNullAt(i)) bytes(i) = arr.getByte(i); i += 1 }
      case DoubleType =>
        while (i < n) { if (!arr.isNullAt(i)) bytes(i) = (arr.getDouble(i).toLong & 0xFF).toByte; i += 1 }
      case FloatType =>
        while (i < n) { if (!arr.isNullAt(i)) bytes(i) = (arr.getFloat(i).toLong & 0xFF).toByte; i += 1 }
    }
    UTF8String.fromBytes(bytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getElem = elementType match {
      case LongType    => (a: String, i: String) => s"(byte)($a.getLong($i) & 0xFFL)"
      case IntegerType => (a: String, i: String) => s"(byte)($a.getInt($i) & 0xFF)"
      case ShortType   => (a: String, i: String) => s"(byte)($a.getShort($i) & 0xFF)"
      case ByteType    => (a: String, i: String) => s"$a.getByte($i)"
      case DoubleType  => (a: String, i: String) => s"(byte)((long)$a.getDouble($i) & 0xFFL)"
      case FloatType   => (a: String, i: String) => s"(byte)((long)$a.getFloat($i) & 0xFFL)"
    }
    nullSafeCodeGen(ctx, ev, arr => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |final int $n = $arr.numElements();
         |final byte[] $bytes = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    $bytes[$i] = ${getElem(arr, i)};
         |  }
         |}
         |${ev.value} = UTF8String.fromBytes($bytes);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "decode_byte_array"
}

object GraftFunctions {

  /** Column-API entry point: `decodeByteArray($"col")`. */
  def decodeByteArray(col: Column): Column =
    GraftShim.column(DecodeLongArrayToUtf8(GraftShim.expression(col)))
}
