package graft

import org.apache.spark.sql.types._
import graft.ops.Tables

/** Pins the query-facing schema contract of every fixture table.
  *
  * The driver regenerates the fixture parquet between rounds and its
  * physical types have drifted before — a TIMESTAMP(NANOS) → NTZ
  * MICROS flip cost eight events-time queries a full round because the
  * failure surfaced only in the driver's verify run, after the fact.
  * `Tables.conform` normalizes known drift; this spec makes any NEW
  * drift (a type no normalization covers, a dropped column) fail
  * loudly in `sbt test` instead.
  */
class FixtureContractSpec extends SparkSpec {

  private def fieldTypes(name: String, df: org.apache.spark.sql.DataFrame) =
    df.schema.fields.map(f => s"$name.${f.name}" -> f.dataType).toMap

  test("time/vector columns conform to the canonical types queries are written against") {
    val got =
      fieldTypes("orders", Tables.orders(spark, Sf)) ++
        fieldTypes("lineitem", Tables.lineitem(spark, Sf)) ++
        fieldTypes("events", Tables.events(spark, Sf)) ++
        fieldTypes("embeddings", Tables.embeddings(spark, Sf))
    val want = Map(
      "orders.o_orderdate" -> TimestampType,
      "lineitem.l_shipdate" -> TimestampType,
      "events.ts" -> TimestampType,
      "embeddings.embedding" -> ArrayType(FloatType)
    )
    for ((c, t) <- want)
      assert(got.get(c).contains(t), s"$c is ${got.get(c)}, queries need $t")
  }

  test("every table still carries the columns the query surface references") {
    val want = Map(
      "region" -> Seq("r_regionkey", "r_name"),
      "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"),
      "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
      "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Seq("vec_id", "embedding", "label")
    )
    val load: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] =
      Map(
        "region" -> Tables.region, "nation" -> Tables.nation,
        "customer" -> Tables.customer, "supplier" -> Tables.supplier,
        "part" -> Tables.part, "orders" -> Tables.orders,
        "lineitem" -> Tables.lineitem, "events" -> Tables.events,
        "documents" -> Tables.documents, "embeddings" -> Tables.embeddings
      )
    for ((t, cols) <- want) {
      val have = load(t)(spark, Sf).columns.toSet
      val missing = cols.filterNot(have)
      assert(missing.isEmpty, s"fixture table $t lost columns: ${missing.mkString(",")}")
    }
  }

  test("timestamps read as UTC instants matching DuckDB's naive reading") {
    // Compare Spark's reading against the parquet FOOTER statistics —
    // drift-robust (no data value is pinned, so a reseeded fixture
    // still passes) but it catches exactly the failure class this spec
    // exists for: a session-zone-dependent NTZ→TIMESTAMP cast shifts
    // Spark's epoch micros away from the raw footer value, while
    // DuckDB's naive reading always equals the raw value.
    import org.apache.spark.sql.functions._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import scala.jdk.CollectionConverters._

    val conf = spark.sparkContext.hadoopConfiguration
    val root = new java.io.File(s"$Sf/events.parquet")
    val files =
      if (root.isDirectory)
        root.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
      else Seq(root.getPath)
    assert(files.nonEmpty, s"no parquet files under $root")

    var footerMinMicros = Long.MaxValue
    for (f <- files) {
      val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf)
      val reader = ParquetFileReader.open(in)
      try {
        val footer = reader.getFooter
        val tsType = footer.getFileMetaData.getSchema.getColumns.asScala
          .find(_.getPath.toList == List("ts"))
          .map(_.getPrimitiveType)
          .getOrElse(fail(s"$f has no ts column"))
        val unit = tsType.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit
          case other => fail(s"ts is not a parquet timestamp: $other")
        }
        val rawMin = footer.getBlocks.asScala
          .flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == "ts")
          .map(_.getStatistics.genericGetMin.asInstanceOf[java.lang.Long].longValue)
          .min
        val micros = unit match {
          case TimeUnit.NANOS => rawMin / 1000L
          case TimeUnit.MICROS => rawMin
          case TimeUnit.MILLIS => rawMin * 1000L
        }
        footerMinMicros = math.min(footerMinMicros, micros)
      } finally reader.close()
    }

    val sparkMinMicros = Tables.events(spark, Sf)
      .agg(min(unix_micros(col("ts"))).as("lo"))
      .head()
      .getLong(0)
    assert(
      sparkMinMicros == footerMinMicros,
      s"Spark min ts $sparkMinMicros µs != parquet footer $footerMinMicros µs — " +
        "a zone-dependent cast is shifting instants away from DuckDB's naive reading")
  }

  test("a table read checks the two parquet settings and never sets them") {
    for ((k, wrong) <- Seq(
           "spark.sql.legacy.parquet.nanosAsLong" -> "false",
           "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true")) {
      val prev = spark.conf.get(k)
      spark.conf.set(k, wrong)
      try {
        val e = intercept[IllegalArgumentException](Tables.orders(spark, Sf))
        assert(e.getMessage.contains(k))
        assert(spark.conf.get(k) == wrong, "the read must leave the caller's setting alone")
      } finally spark.conf.set(k, prev)
    }
  }
}
