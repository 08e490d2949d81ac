package graft.etl

import graft.functions.DecodeLongArrayToUtf8.decodeByteArray
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.graftshim.JsonInferShim
import org.apache.spark.sql.catalyst.json.JSONOptionsInRead
import org.apache.spark.sql.execution.datasources.CodecStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** The engine's core transform: schema-driven envelope normalization.
  *
  * Re-expresses the reference's `process_json_to_parquet`
  * (reference: src/processor.rs:17-97) Spark-first. Every step is
  * driven by `df.schema` at runtime — nothing is fixed at compile time,
  * matching the reference's schema-reactive design
  * (reference: src/processor.rs:42-54, 68-72, 101-109).
  */
object Normalize {

  /** Pagination/metadata columns dropped when present
    * (reference: src/processor.rs:57-66).
    */
  val TechnicalColumns: Seq[String] = Seq(
    "totalRegistros",
    "totalPaginas",
    "paginasRestantes",
    "links",
    "dataHoraConsulta",
    "timeZoneAtual",
    "dataHoraAtualizacao"
  )

  /** Read a staged JSON envelope file. The reference parses the whole
    * staged file as ONE JSON document with schema inferred from the
    * first 1000 values (reference: src/processor.rs:23-29); Spark's
    * `multiLine=true` JSON mode has exactly those whole-document
    * semantics. The schema comes from [[envelopeSchema]], so building
    * the frame runs no Spark job.
    */
  def readEnvelope(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(envelopeSchema(spark, path)).option("multiLine", "true").json(path)

  /** The schema `spark.read.option("multiLine", "true").json(path)`
    * infers for the one JSON document at `path`, inferred on the driver
    * with Spark's own inference code instead of in a Spark job, as the
    * reference infers in-process (reference: src/processor.rs:23-29).
    * Inference is full-scan (a cost knob, not a correctness knob —
    * SURVEY.md §4) and streams token types, so memory stays constant
    * whatever the document's size. It runs under the session's conf,
    * so a [[Pipeline.run]] pool thread sees the caller's settings.
    */
  def envelopeSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.conf
    SQLConf.withExistingConf(conf) {
      val options = new JSONOptionsInRead(
        Map("multiLine" -> "true"), conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
      val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options.parameters)
      JsonInferShim.inferMultiLine(
        options, () => CodecStreams.createInputStreamWithCloseResource(hadoopConf, new Path(path)))
    }
  }

  /** Line-delimited ingest with a row-level bad-record channel: the
    * reference's fail-soft error handling stops at file granularity
    * (one bad route is logged and skipped, reference: src/main.rs:89-104);
    * at 100 TB a single malformed row must not discard its shard.
    * PERMISSIVE mode parses what it can and routes unparseable lines
    * into `_corrupt_record`; the caller gets (clean, quarantine)
    * frames — quarantine rows keep the raw line for replay/repair.
    *
    * `columnNameOfCorruptRecord` must also be declared in the schema
    * or Spark drops the channel, and Spark (correctly) refuses to
    * query the corrupt column straight off the scan — column pruning
    * would make "is this row corrupt" depend on which fields the
    * query happened to read. The documented contract is to
    * materialize the parse once and split from that; here that is a
    * `cache()` (fixture-scale), and in production the same shape is
    * "write the parsed+flagged result to the staging sink once, then
    * split" — either way the file is parsed exactly once.
    */
  def readWithQuarantine(
      spark: SparkSession,
      path: String,
      schema: StructType
  ): (DataFrame, DataFrame) = {
    val withCorrupt = schema.add("_corrupt_record", StringType)
    val raw = spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache()
    val clean = raw
      .filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val quarantine = raw
      .filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (clean, quarantine)
  }

  /** Empty-relation guard (reference: src/processor.rs:31-35): `[]`
    * payloads produce no output. `df` is an envelope frame from
    * [[readEnvelope]], whose inferred schema has a field only if at
    * least one record carried it, so only an empty schema (`[]`, `{}`,
    * `[{}]`) can hide an empty relation. Only then does `head(1)` run a
    * probe job; it tells `[]` (no row) from `{}` and `[{}]` (one row
    * each, which the Parquet write then rejects).
    */
  def requireNonEmpty(df: DataFrame, context: String): Either[ProcessorError, DataFrame] =
    if (df.schema.isEmpty && df.head(1).isEmpty) Left(ProcessorError.Schema(s"empty relation: $context"))
    else Right(df)

  /** Full normalization: envelope flatten → technical-column drop →
    * byte-array string repair (reference: src/processor.rs:38-75).
    */
  def normalize(df: DataFrame, rootPath: Option[String]): DataFrame =
    repairByteArrayStrings(dropTechnicalColumns(flattenEnvelope(df, rootPath)))

  /** Envelope flatten, branching on the *runtime* dtype of the
    * configured root column (reference: src/processor.rs:42-54):
    *   - array<struct>: explode, then hoist the struct's fields (T1)
    *   - struct: hoist fields in place (T2)
    *   - anything else / absent: unchanged (T3 fallback)
    *
    * Column order is preserved and the hoisted fields are spliced at
    * the root column's position, matching Polars `unnest`.
    *
    * Semantic note (SURVEY.md §7.5): plain `explode` drops rows whose
    * array is empty or null — the behavior DuckDB `unnest` also has.
    */
  def flattenEnvelope(df: DataFrame, rootPath: Option[String]): DataFrame =
    rootPath match {
      case Some(p) if df.columns.contains(p) =>
        df.schema(p).dataType match {
          case ArrayType(_: StructType, _) =>
            unnestStruct(df.withColumn(p, explode(col(p))), p)
          case ArrayType(_, _) =>
            // array of scalars: one row per element, column kept as-is
            df.withColumn(p, explode(col(p)))
          case _: StructType =>
            unnestStruct(df, p)
          case _ =>
            df // T3 fallback: scalar root column, frame unchanged
        }
      case _ => df
    }

  /** Replace struct column `p` with its fields, spliced in place. */
  private def unnestStruct(df: DataFrame, p: String): DataFrame = {
    val st = df.schema(p).dataType.asInstanceOf[StructType]
    val cols: Seq[Column] = df.schema.fields.toSeq.flatMap { f =>
      if (f.name == p) st.fields.toSeq.map(sf => col(s"`$p`.`${sf.name}`").as(sf.name))
      else Seq(col(s"`${f.name}`"))
    }
    df.select(cols: _*)
  }

  /** Drop the technical columns. Spark's `drop` is already a silent
    * no-op for missing columns, so the reference's per-column existence
    * guard (reference: src/processor.rs:68-72) is free.
    */
  def dropTechnicalColumns(df: DataFrame): DataFrame =
    df.drop(TechnicalColumns: _*)

  /** Byte-array→UTF-8 string repair (reference: src/processor.rs:100-123):
    * every column whose runtime type is array<bigint> or array<double>
    * is reinterpreted as UTF-8 bytes via the codegen'd
    * [[graft.functions.DecodeLongArrayToUtf8]] expression.
    */
  def repairByteArrayStrings(df: DataFrame): DataFrame = {
    val targets = df.schema.fields.collect {
      case StructField(name, ArrayType(LongType | DoubleType, _), _, _) => name
    }
    targets.foldLeft(df)((d, c) => d.withColumn(c, decodeByteArray(col(c))))
  }

  /** Parquet sink (reference: src/processor.rs:78-91): Snappy + column
    * statistics — parquet-mr writes min/max/null_count by default and
    * omits distinct_count, exactly the reference's StatisticsOptions.
    */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "snappy").parquet(path)

  /** Rows committed at Parquet sink `path`: the record counts in its
    * part files' footers, read on the driver. Names starting with `_` or
    * `.` (`_SUCCESS`, checksums) are skipped, as Spark's file index skips
    * them, so this is the number `spark.read.parquet(path).count()`
    * returns, without running a Spark job.
    */
  def committedRows(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    dir.getFileSystem(conf).listStatus(dir).iterator
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try reader.getRecordCount
        finally reader.close()
      }
      .sum
  }
}
