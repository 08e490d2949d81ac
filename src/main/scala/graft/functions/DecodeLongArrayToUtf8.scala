package graft.functions

import org.apache.spark.sql.Column
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

  override def nullSafeEval(input: Any): Any =
    DecodeLongArrayToUtf8.decode(input.asInstanceOf[ArrayData], elementType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = classOf[DecodeLongArrayToUtf8].getName
    val elemType = ctx.addReferenceObj("elementType", elementType, classOf[DataType].getName)
    defineCodeGen(ctx, ev, arr => s"$kernel.decode($arr, $elemType)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "decode_byte_array"
}

object DecodeLongArrayToUtf8 {

  /** The kernel, called by interpreted eval and generated code alike:
    * element i's low byte becomes byte i of the string.
    */
  def decode(arr: ArrayData, elementType: DataType): UTF8String = {
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

  /** Column-API entry point: `decodeByteArray($"col")`. */
  def decodeByteArray(col: Column): Column =
    GraftShim.column(DecodeLongArrayToUtf8(GraftShim.expression(col)))
}
