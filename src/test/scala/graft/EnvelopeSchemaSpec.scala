package graft

import graft.etl.{GraftError, Normalize, Pipeline, ProcessorError}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.Executors
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** `Normalize.envelopeSchema` infers on the driver the schema that
  * Spark's multiLine `read.json` infers in a Spark job. Spark's result
  * is the oracle here: the shim mirrors Spark's inference code, and these
  * specs are what catch a Spark upgrade that changes it.
  */
class EnvelopeSchemaSpec extends SparkSpec {

  private def stagedBytes(bytes: Array[Byte], name: String = "e_temp.json"): String = {
    val p = Files.createTempDirectory("graft-schema").resolve(name)
    Files.write(p, bytes)
    p.toString
  }

  private def staged(content: String): String = stagedBytes(content.getBytes(UTF_8))

  private def sparkSchema(s: SparkSession, path: String): String =
    s.read.option("multiLine", "true").json(path).schema.json

  private def assertSameSchema(s: SparkSession, name: String, path: String): Unit = {
    val ours = Normalize.envelopeSchema(s, path).json
    assert(ours == sparkSchema(s, path), s"$name: driver inference differs")
  }

  private val utf8Envelope =
    """{"resultado":[{"nome":"Maçã","n":[77,97,195,167,195,163]},{"nome":"Olá ☕"}]}""".getBytes(UTF_8)

  private val inputs: Seq[(String, String)] =
    EnvelopeShapes.shapes.toSeq.sortBy(_._1).map { case (k, (body, _)) => k -> body } ++ Seq(
      "empty list" -> "[]",
      "spaced empty list" -> " [ ] ",
      "empty object" -> "{}",
      "list of an empty object" -> "[{}]",
      "null" -> "null",
      "list of null" -> "[null]",
      "truncated object" -> """{"a":""",
      "number root" -> "5",
      "string root" -> "\"str\"",
      "list of numbers" -> "[1,2,3]",
      "record then number" -> """[{"a":1}, 7]""",
      "long widened to double" -> """[{"x":1},{"x":2.5}]""",
      "number widened to string" -> """[{"x":1},{"x":"s"}]""",
      "30-digit integer" -> """{"x":123456789012345678901234567890}""",
      "empty array" -> """{"resultado":[]}""",
      "empty string and null" -> """[{"x":""},{"x":null}]""",
      "empty file" -> "")

  private def inputPaths: Seq[(String, String)] =
    inputs.map { case (name, body) => name -> staged(body) } ++ Seq(
      "UTF-8 bytes" -> stagedBytes(utf8Envelope),
      "UTF-8 bytes after a byte-order mark" -> stagedBytes(Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ utf8Envelope))

  test("driver inference equals Spark's for every envelope shape and edge document") {
    for ((name, path) <- inputPaths) assertSameSchema(spark, name, path)
  }

  test("driver inference widens numbers as Spark does") {
    def fieldType(body: String) = Normalize.envelopeSchema(spark, staged(body))("x").dataType
    assert(fieldType("""[{"x":1},{"x":2.5}]""") == DoubleType)
    assert(fieldType("""[{"x":1},{"x":"s"}]""") == StringType)
    assert(fieldType("""{"x":123456789012345678901234567890}""") == DecimalType(30, 0))
  }

  test("keys differing only in case: the same schema when case-sensitive, the same failure when not") {
    val path = staged("""{"A":1,"a":2}""")
    withConf(spark, "spark.sql.caseSensitive" -> "true")(assertSameSchema(spark, "A and a", path))
    val theirs = intercept[AnalysisException](sparkSchema(spark, path))
    val ours = intercept[AnalysisException](Normalize.readEnvelope(spark, path))
    assert(ours.getCondition == theirs.getCondition, ours.getMessage)
  }

  test("driver inference equals Spark's with spark.sql.columnNameOfCorruptRecord=_bad") {
    withConf(spark, "spark.sql.columnNameOfCorruptRecord" -> "_bad") {
      for ((name, path) <- inputPaths) assertSameSchema(spark, name, path)
      assert(Normalize.envelopeSchema(spark, staged("5")).fieldNames.toSeq == Seq("_bad"))
    }
  }

  test("from a pool thread, driver inference follows the session it is given") {
    // The pool thread's active session is `spark`; `child` carries its own
    // corrupt-record name, and skips corrupt files, which only
    // `SQLConf.get` tells the inference.
    val child = spark.newSession()
    child.conf.set("spark.sql.columnNameOfCorruptRecord", "_bad")
    child.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    val paths = inputPaths :+ ("corrupt gzip" -> stagedBytes("not gzip".getBytes(UTF_8), "e_temp.json.gz"))
    val pool = Executors.newSingleThreadExecutor()
    try {
      val mismatches = pool.submit { () =>
        SparkSession.setActiveSession(spark)
        paths.flatMap { case (name, path) =>
          val ours = scala.util.Try(Normalize.envelopeSchema(child, path).json)
          if (ours.toOption.contains(sparkSchema(child, path))) None else Some(s"$name: $ours")
        }
      }.get()
      assert(mismatches.isEmpty, mismatches.mkString("\n"))
    } finally pool.shutdown()
  }

  private val keys = Seq("a", "b", "c", "nome", "d_1")

  private def valueGen(depth: Int): Gen[String] = {
    val scalar = Gen.oneOf(
      Gen.oneOf("null", "true", "false", "\"\"", "\"x\"", "\"Maçã\"", "\"2026-01-29\"",
        "123456789012345678901234567890"),
      Gen.choose(-1000L, 1000L).map(_.toString),
      Gen.choose(-1e6, 1e6).map(_.toString))
    if (depth == 0) scalar
    else Gen.frequency(4 -> scalar, 1 -> objectGen(depth - 1), 1 -> arrayGen(depth - 1))
  }

  private def objectGen(depth: Int): Gen[String] =
    for {
      n <- Gen.choose(0, 4)
      picked <- Gen.pick(n, keys)
      values <- Gen.listOfN(n, valueGen(depth))
    } yield picked.zip(values).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  private def arrayGen(depth: Int): Gen[String] =
    Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, valueGen(depth))).map(_.mkString("[", ",", "]"))

  private val documentGen: Gen[String] = Gen.frequency(
    3 -> objectGen(3),
    3 -> Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, objectGen(2))).map(_.mkString("[", ",", "]")),
    1 -> valueGen(3),
    1 -> Gen.oneOf(keys).flatMap(k => arrayGen(2).map(a => s"""{"$k":$a}""")))

  test("driver inference equals Spark's on generated documents (property)") {
    val prop = Prop.forAllNoShrink(documentGen) { doc =>
      val path = staged(doc)
      Prop(Normalize.envelopeSchema(spark, path).json == sparkSchema(spark, path)) :| doc
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
  }

  test("a missing staging file is a Left(Engine) from processStaged") {
    val dir = Files.createTempDirectory("graft-schema-missing")
    val res: Either[GraftError, Long] =
      Pipeline.processStaged(spark, dir.resolve("gone_temp.json").toString, dir.resolve("gone.parquet").toString, None)
    assert(res.left.exists(_.isInstanceOf[ProcessorError.Engine]), s"got $res")
    assert(!Files.exists(dir.resolve("gone.parquet")))
  }
}
