package org.apache.spark.sql.catalyst.graftshim

import com.fasterxml.jackson.core.JsonProcessingException
import java.io.{CharConversionException, FileNotFoundException, InputStream, IOException}
import java.nio.charset.MalformedInputException
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JsonInferSchema}
import org.apache.spark.sql.catalyst.util.{DropMalformedMode, FailFastMode, PermissiveMode}
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** Spark's multiLine JSON schema inference for one whole-document file,
  * run on the calling thread instead of in a Spark job.
  *
  * Mirrors Spark 4.1.2's `MultiLineJsonDataSource.infer` (one document
  * per file, read with `isReadFile = true`) and `JsonInferSchema.infer`:
  * the same parser, the same parse-mode arms for a malformed document,
  * the same root-type fold and canonicalization (under FAILFAST, Spark
  * also wraps a `CharConversionException` in a hint to set an encoding;
  * here it is reported as thrown). It lives in a child
  * package of `org.apache.spark.sql.catalyst` only because
  * `canonicalizeType` is `private[catalyst]`. Call it under the session's
  * `SQLConf` (`SQLConf.withExistingConf`): `JSONOptions` and
  * `JsonInferSchema` read `SQLConf.get`. `options` must carry no
  * `encoding`: with one, Spark picks a charset-specific parser.
  */
object JsonInferShim {

  def inferMultiLine(options: JSONOptions, open: () => InputStream): StructType = {
    val inference = new JsonInferSchema(options)
    val mode = options.parseMode
    val corrupt = options.columnNameOfCorruptRecord
    def malformed(e: Throwable): Option[DataType] = mode match {
      case PermissiveMode => Some(StructType(Array(StructField(corrupt, StringType))))
      case DropMalformedMode => None
      case FailFastMode => throw QueryExecutionErrors.malformedRecordsDetectedInSchemaInferenceError(e, corrupt)
    }
    val document: Option[DataType] =
      try {
        val parser = CreateJacksonParser.inputStream(options.buildJsonFactory(), open())
        try {
          parser.nextToken()
          Some(inference.inferField(parser))
        } finally parser.close()
      } catch {
        case e @ (_: JsonProcessingException | _: MalformedInputException) => malformed(e)
        case e: CharConversionException if options.encoding.isEmpty => malformed(e)
        case _: FileNotFoundException if options.ignoreMissingFiles => Some(StructType(Nil))
        case e: FileNotFoundException => throw e
        case _: IOException | _: RuntimeException if options.ignoreCorruptFiles => Some(StructType(Nil))
      }
    val root = document.foldLeft[DataType](StructType(Nil))(JsonInferSchema.compatibleRootType(corrupt, mode))
    // canonicalizeType erases every empty struct, the empty root included
    inference.canonicalizeType(root, options).collect { case s: StructType => s }.getOrElse(StructType(Nil))
  }
}
