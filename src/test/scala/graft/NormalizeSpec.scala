package graft

import graft.etl.{GraftError, Normalize, Pipeline, ProcessorError}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row

/** Envelope-normalization behavior on hand-built JSON fixtures
  * (SURVEY.md §5.2): list envelope, struct envelope, scalar root,
  * missing root, empty payload, technical columns, byte-array repair.
  */
class NormalizeSpec extends SparkSpec {

  private def tmpJson(content: String): Path = {
    val f = Files.createTempFile("graft-env", ".json")
    Files.writeString(f, content)
    f.toFile.deleteOnExit()
    f
  }

  private def readEnv(content: String) =
    Normalize.readEnvelope(spark, tmpJson(content).toString)

  test("list envelope: explode + unnest hoists struct fields, one row per element") {
    val df = readEnv(
      """{"resultado":[{"a":1,"b":"x"},{"a":2,"b":"y"}],"totalRegistros":2}""")
    val out = Normalize.normalize(df, Some("resultado"))
    assert(out.columns.toSeq == Seq("a", "b")) // technical col dropped
    assert(out.orderBy("a").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x"), (2L, "y")))
  }

  test("struct envelope: fields hoisted in place, sibling columns kept") {
    val df = readEnv("""{"keep":7,"dados":{"a":1,"b":"x"}}""")
    val out = Normalize.normalize(df, Some("dados"))
    // struct was spliced at its position: dados comes before keep alphabetically
    // in Spark's JSON inference (columns sorted), so a,b precede keep
    assert(out.columns.toSeq.sorted == Seq("a", "b", "keep"))
    assert(out.collect().head.getAs[Long]("keep") == 7L)
  }

  test("scalar root_path: frame unchanged (T3 fallback)") {
    val df = readEnv("""{"root":42,"other":"v"}""")
    val out = Normalize.flattenEnvelope(df, Some("root"))
    assert(out.columns.sorted.toSeq == df.columns.sorted.toSeq)
    assert(out.count() == 1)
  }

  test("missing root_path: frame unchanged") {
    val df = readEnv("""{"a":1}""")
    assert(Normalize.flattenEnvelope(df, Some("nope")).collect().toSeq ==
      df.collect().toSeq)
    assert(Normalize.flattenEnvelope(df, None).collect().toSeq ==
      df.collect().toSeq)
  }

  test("array-of-scalars root: explode keeps column") {
    val df = readEnv("""{"vals":[10,20,30]}""")
    val out = Normalize.flattenEnvelope(df, Some("vals"))
    assert(out.orderBy("vals").collect().map(_.getLong(0)).toSeq == Seq(10L, 20L, 30L))
  }

  test("technical columns dropped only when present; idempotent") {
    val df = readEnv("""{"a":1,"totalPaginas":9,"links":["x"]}""")
    val out = Normalize.dropTechnicalColumns(df)
    assert(out.columns.toSeq == Seq("a"))
    assert(Normalize.dropTechnicalColumns(out).columns.toSeq == Seq("a"))
  }

  test("empty payload rejected by the non-empty guard") {
    val df = readEnv("""[]""")
    Normalize.requireNonEmpty(df, "t") match {
      case Left(_: ProcessorError.Schema) => ()
      case other                          => fail(s"expected Schema error, got $other")
    }
  }

  test("byte-array repair: array<bigint> columns become UTF-8 strings, others untouched") {
    // "Olá ☕" exercises 2- and 3-byte UTF-8 sequences (bytes >= 0x80)
    val payload = "Olá ☕".getBytes("UTF-8").map(b => (b & 0xFF).toLong)
    val df = readEnv(
      s"""{"nome":[${payload.mkString(",")}],"n":5,"tags":["k"]}""")
    val out = Normalize.repairByteArrayStrings(df)
    assert(out.schema("nome").dataType.typeName == "string")
    assert(out.collect().head.getAs[String]("nome") == "Olá ☕")
    assert(out.schema("tags").dataType.typeName == "array") // array<string> untouched
  }

  test("processStaged end-to-end: envelope json → normalized parquet, staging removed") {
    val staging = tmpJson(
      """{"resultado":[{"id":1,"v":"a"},{"id":2,"v":"b"},{"id":3,"v":"c"}],
        |"totalRegistros":3,"links":[]}""".stripMargin)
    val target = Files.createTempDirectory("graft-out").resolve("r.parquet")
    val res = Pipeline.processStaged(spark, staging.toString, target.toString, Some("resultado"))
    assert(res == Right(3L))
    assert(!Files.exists(staging), "staging file must be deleted after success")
    val back = spark.read.parquet(target.toString)
    assert(back.columns.sorted.toSeq == Seq("id", "v"))
  }

  test("processStaged is fail-soft: bad input yields Left, no throw") {
    val res = Pipeline.processStaged(spark, "/nonexistent/x.json", "/tmp/never.parquet", None)
    assert(res.isLeft)
  }

  /** Runs `processStaged` on `content` (root_path `resultado`) into a
    * fresh target; returns the outcome, whether the staging file is still
    * there, and the target path.
    */
  private def processEdge(content: String): (Either[GraftError, Long], Boolean, Path) = {
    val staging = tmpJson(content)
    val target = Files.createTempDirectory("graft-edge").resolve("r.parquet")
    val res = Pipeline.processStaged(spark, staging.toString, target.toString, Some("resultado"))
    (res, Files.exists(staging), target)
  }

  // Envelopes that must fail soft: the error kind, the staging file kept
  // for replay, and nothing written at the target.
  for ((content, kind) <- Seq(
      "[]" -> "Schema",
      "{}" -> "Engine",
      "[{}]" -> "Engine",
      """{"resultado":[{"a":1}""" -> "Engine",
      "5" -> "Engine",
      "[1,2,3]" -> "Engine"))
    test(s"processStaged edge: $content gives Left($kind), keeps staging, leaves no parquet") {
      val (res, stagingKept, target) = processEdge(content)
      val got = res match {
        case Left(_: ProcessorError.Schema) => "Schema"
        case Left(_: ProcessorError.Engine) => "Engine"
        case other                          => other.toString
      }
      assert(got == kind, s"outcome $res")
      assert(stagingKept, "staging must be kept when the route fails")
      assert(!Files.exists(target), s"nothing may be left at $target")
    }

  test("processStaged edge: an empty root list gives Right(0) and a readable parquet") {
    val (res, stagingKept, target) = processEdge("""{"resultado":[]}""")
    assert(res == Right(0L))
    assert(!stagingKept, "staging must be deleted after success")
    assert(spark.read.parquet(target.toString).count() == 0L)
  }

  test("row-level quarantine: malformed lines route to the bad channel, clean rows survive") {
    import org.apache.spark.sql.types._
    val f = Files.createTempFile("graft-jsonl", ".json")
    Files.writeString(
      f,
      """{"id": 1, "name": "ok"}
        |{"id": 2 "name": "missing-comma"}
        |{"id": 3, "name": "fine"}
        |not json at all
        |""".stripMargin)
    val schema = new StructType().add("id", LongType).add("name", StringType)
    val (clean, quarantine) = Normalize.readWithQuarantine(spark, f.toString, schema)
    assert(clean.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    assert(clean.columns.toSeq == Seq("id", "name"))
    val bad = quarantine.collect().map(_.getString(0))
    assert(bad.length == 2)
    assert(bad.exists(_.contains("missing-comma")) && bad.contains("not json at all"))
  }
}
