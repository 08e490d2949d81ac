package graft

import graft.etl.ApiError
import graft.ingest.Http
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ingestion gates (HTTPS-only, fail-soft error mapping) and the CSV
  * source path (SURVEY.md §2.2: CSV read is in scope alongside
  * JSON-in / parquet-out).
  */
class IngestSpec extends SparkSpec {

  test("HTTPS-only gate rejects plain http and non-URLs") {
    assert(Http.validateHttps("http://example.gov/x") ==
      Left(ApiError.InsecureUrl("http://example.gov/x")))
    assert(Http.validateHttps("ftp://example.gov/x").isLeft)
    assert(Http.validateHttps("https://example.gov/x").isRight)
  }

  test("fetchToDisk is fail-soft on unreachable hosts: Left(NetworkError), no staged file") {
    val dest = Files.createTempDirectory("graft-http").resolve("x.json")
    Http.fetchToDisk("https://localhost:1/unroutable", dest) match {
      case Left(_: ApiError.NetworkError) => ()
      case other                          => fail(s"expected NetworkError, got $other")
    }
    assert(!Files.exists(dest), "failed fetch must not leave a staging file")
  }

  /** An HttpClient that answers every request with status 200 and
    * `payload`, with no network. */
  private def cannedClient(payload: Array[Byte]): java.net.http.HttpClient = {
    import java.net.http.{HttpClient, HttpHeaders, HttpRequest, HttpResponse}
    import java.util.Optional
    new HttpClient {
      override def cookieHandler(): Optional[java.net.CookieHandler] = Optional.empty()
      override def connectTimeout(): Optional[java.time.Duration] = Optional.empty()
      override def followRedirects(): HttpClient.Redirect = HttpClient.Redirect.NEVER
      override def proxy(): Optional[java.net.ProxySelector] = Optional.empty()
      override def sslContext(): javax.net.ssl.SSLContext = null
      override def sslParameters(): javax.net.ssl.SSLParameters = null
      override def authenticator(): Optional[java.net.Authenticator] = Optional.empty()
      override def version(): HttpClient.Version = HttpClient.Version.HTTP_1_1
      override def executor(): Optional[java.util.concurrent.Executor] = Optional.empty()
      override def send[T](req: HttpRequest, h: HttpResponse.BodyHandler[T]): HttpResponse[T] =
        new HttpResponse[T] {
          override def statusCode(): Int = 200
          override def request(): HttpRequest = req
          override def previousResponse(): Optional[HttpResponse[T]] = Optional.empty()
          override def headers(): HttpHeaders =
            HttpHeaders.of(java.util.Map.of(), (_: String, _: String) => true)
          // fetchToDisk asks for BodyHandlers.ofInputStream
          override def body(): T = new java.io.ByteArrayInputStream(payload).asInstanceOf[T]
          override def sslSession(): Optional[javax.net.ssl.SSLSession] = Optional.empty()
          override def uri(): java.net.URI = req.uri()
          override def version(): HttpClient.Version = HttpClient.Version.HTTP_1_1
        }
      override def sendAsync[T](req: HttpRequest, h: HttpResponse.BodyHandler[T]) =
        throw new UnsupportedOperationException
      override def sendAsync[T](
          req: HttpRequest,
          h: HttpResponse.BodyHandler[T],
          p: HttpResponse.PushPromiseHandler[T]) =
        throw new UnsupportedOperationException
    }
  }

  test("fetchToDisk: a staging failure is Left(FileSystemError), not a throw") {
    val root = Files.createTempDirectory("graft-http")
    val client = cannedClient("abc".getBytes("UTF-8"))
    // dest's parent cannot be created: a regular file stands in its path
    val blocker = Files.createFile(root.resolve("blocker"))
    val underFile = blocker.resolve("sub").resolve("route_temp.json")
    Http.fetchToDisk("https://localhost:1/x", underFile, client) match {
      case Left(ApiError.FileSystemError(path, _)) => assert(path == underFile.toString)
      case other => fail(s"expected FileSystemError, got $other")
    }
    // dest cannot be opened for writing: it is a directory
    val dirDest = Files.createDirectory(root.resolve("route_temp.json"))
    Http.fetchToDisk("https://localhost:1/x", dirDest, client) match {
      case Left(ApiError.FileSystemError(path, _)) => assert(path == dirDest.toString)
      case other => fail(s"expected FileSystemError, got $other")
    }
    assert(Files.isDirectory(dirDest), "a failed open must not remove what stood at dest")
    // the same client stages a payload where dest is writable
    val ok = root.resolve("ok").resolve("route_temp.json")
    assert(Http.fetchToDisk("https://localhost:1/x", ok, client) == Right(3L))
    assert(new String(Files.readAllBytes(ok), "UTF-8") == "abc")
  }

  test("copyWithProgress: cumulative monotone counts, exact total, constant-size chunks") {
    val payload = Array.fill[Byte](200 * 1024 + 37)(0x42)
    val in = new java.io.ByteArrayInputStream(payload)
    val out = new java.io.ByteArrayOutputStream()
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long])]
    val n = Http.copyWithProgress(in, out, Some(payload.length.toLong), (w, t) => seen += ((w, t)))
    assert(n == payload.length.toLong)
    assert(out.toByteArray.sameElements(payload), "copy must be byte-exact")
    assert(seen.nonEmpty && seen.last._1 == payload.length.toLong,
      "final callback must report the full size")
    assert(seen.map(_._1).sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
      "cumulative counts must be strictly increasing")
    assert(seen.forall(_._2.contains(payload.length.toLong)),
      "content length must pass through to every callback")
    // empty stream: zero bytes, zero callbacks (the EmptyResponse gate
    // upstream sees 0 and deletes the staging file)
    val seen2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    val n2 = Http.copyWithProgress(
      new java.io.ByteArrayInputStream(Array.emptyByteArray),
      new java.io.ByteArrayOutputStream(), None, (w, _) => seen2 += w)
    assert(n2 == 0L && seen2.isEmpty)
  }

  test("loggedProgress throttles: one line per step plus the completion line") {
    val buf = new java.io.ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try {
      val p = Http.loggedProgress("a.g.r", stepBytes = 1024)
      var w = 64L
      while (w <= 4096) { p(w, Some(4096L)); w += 64 } // 64 chunks, 4 steps
      val lines = buf.toString.split("\n").filter(_.nonEmpty)
      assert(lines.length == 4, s"expected 4 throttled lines, got ${lines.length}:\n${buf.toString}")
      assert(lines.forall(_.contains("a.g.r")))
    } finally System.setErr(prev)
  }

  test("Pipeline.run is fail-soft: every route fails individually, none aborts the run") {
    val cfg = graft.config.Config
      .loadFromString(
        """{"apis":{"a":{
          |  "base_url":"https://localhost:1",
          |  "endpoints":{"g":{
          |     "root_path":"resultado",
          |     "r1":"/unreachable1",
          |     "r2":"/unreachable2",
          |     "tmpl":"/x/{id}"
          |}}}}}""".stripMargin)
      .toOption.get
    val out = Files.createTempDirectory("graft-pipe").toString
    val results = graft.etl.Pipeline.run(spark, cfg, out)
    assert(results.size == 3)
    assert(results.forall(_.outcome.isLeft), "unreachable routes must all fail")
    val tmpl = results.find(_.key == "tmpl").get
    assert(tmpl.outcome.left.exists(_.message.contains("templated")))
  }

  test("csv round-trip: header + inferred schema reads back the written frame") {
    val dir = Files.createTempDirectory("graft-csv").resolve("part").toString
    val src = graft.ops.Tables.documents(spark, Sf).select("doc_id", "lang")
    src.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(dir)
    assert(back.schema("doc_id").dataType.typeName == "integer" ||
      back.schema("doc_id").dataType.typeName == "long")
    assert(back.count() == src.count())
    assert(back.agg(sum("doc_id")).head().getLong(0) ==
      src.agg(sum("doc_id")).head().getLong(0))
  }

  // avro core jars ship with Spark but the spark-avro connector module
  // does not, so ORC is the second columnar format exercised here.
  test("orc round-trip preserves schema and content") {
    val src = graft.ops.Tables.documents(spark, Sf)
      .select("doc_id", "lang", "text")
    for (fmt <- Seq("orc")) {
      val dir = Files.createTempDirectory(s"graft-$fmt").resolve("part").toString
      src.write.mode("overwrite").format(fmt).save(dir)
      val back = spark.read.format(fmt).load(dir)
      assert(back.schema("doc_id").dataType.typeName == "long", fmt)
      assert(back.count() == src.count(), fmt)
      assert(
        back.agg(sum(length(col("text")))).head().getLong(0) ==
          src.agg(sum(length(col("text")))).head().getLong(0),
        fmt)
    }
  }

  test("parquet zstd round-trip (the compression the reference's README claims)") {
    // reference README.md:15 says ZSTD while processor.rs:88 writes
    // Snappy; the engine supports both — L1 defaults to snappy like
    // the reference's code, this pins the claimed codec also works
    val src = graft.ops.Tables.documents(spark, Sf).select("doc_id", "text")
    val dir = Files.createTempDirectory("graft-zstd").resolve("part").toString
    src.write.mode("overwrite").option("compression", "zstd").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == src.count())
    assert(
      back.agg(sum(length(col("text")))).head().getLong(0) ==
        src.agg(sum(length(col("text")))).head().getLong(0))
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.exists(_.contains("zstd")), files.mkString(","))
  }

  test("xml round-trip preserves content (Spark 4 built-in XML source)") {
    // the row-tag document format APIs commonly exchange; schema is
    // inferred on read like the JSON path
    val src = graft.ops.Tables.documents(spark, Sf)
      .select("doc_id", "lang", "n_chars")
    val dir = Files.createTempDirectory("graft-xml").resolve("part").toString
    src.write.mode("overwrite").option("rowTag", "doc").format("xml").save(dir)
    val back = spark.read.option("rowTag", "doc").format("xml").load(dir)
    assert(back.count() == src.count())
    assert(
      back.agg(sum(col("n_chars"))).head().getLong(0) ==
        src.agg(sum(col("n_chars"))).head().getLong(0))
    assert(back.columns.sorted.toSeq == Seq("doc_id", "lang", "n_chars"))
  }

  test("parquet schema evolution: mergeSchema unifies shards written before/after a column add") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(s"$dir/batch=1")
    Seq((3L, "c", 0.5), (4L, "d", 0.7)).toDF("id", "name", "score")
      .write.parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("batch", "id", "name", "score"))
    val rows = merged.orderBy("id")
      .collect().map(r => (r.getAs[Long]("id"), Option(r.getAs[Any]("score"))))
    assert(rows.toSeq == Seq(
      (1L, None), (2L, None), (3L, Some(0.5)), (4L, Some(0.7))))
  }
}
