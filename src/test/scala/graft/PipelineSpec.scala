package graft

import graft.etl.Pipeline
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

/** Orchestration-level pipeline tests: the bounded-parallel route
  * executor must overlap route work while keeping the sequential
  * mode's fail-soft semantics, per-route outcomes and result order.
  * The injected fetcher stands in for HTTP so the test is hermetic.
  */
class PipelineSpec extends SparkSpec {

  private val cfgJson =
    """{"apis":{"a":{
      |  "base_url":"https://localhost:1",
      |  "endpoints":{"g":{
      |     "root_path":"resultado",
      |     "r1":"/d1", "r2":"/d2", "r3":"/d3", "r4":"/d4",
      |     "tmpl":"/x/{id}"
      |}}}}}""".stripMargin

  /** Fake fetch: writes a 3-row envelope keyed by the route path, and
    * records the [start, end] nanos of a deliberate dwell so the test
    * can assert whether route executions overlapped in time.
    */
  private def fakeFetch(
      intervals: ConcurrentHashMap[String, (Long, Long)],
      dwellMs: Long
  ): (String, java.nio.file.Path, graft.ingest.Http.Progress) => Either[graft.etl.GraftError, Long] =
    (url, dest, _) => {
      val t0 = System.nanoTime()
      Thread.sleep(dwellMs)
      Files.createDirectories(dest.getParent)
      val route = url.substring(url.lastIndexOf('/') + 1)
      val body =
        s"""{"resultado":[{"route":"$route","v":1},{"route":"$route","v":2},{"route":"$route","v":3}]}"""
      Files.write(dest, body.getBytes("UTF-8"))
      intervals.put(route, (t0, System.nanoTime()))
      Right(body.length.toLong)
    }

  test("parallel orchestration overlaps routes and preserves per-route results") {
    val cfg = graft.config.Config.loadFromString(cfgJson).toOption.get

    val seqIv = new ConcurrentHashMap[String, (Long, Long)]()
    val seqOut = Files.createTempDirectory("graft-pipe-seq").toString
    val sequential = Pipeline.run(spark, cfg, seqOut, parallelism = 1, fetch = fakeFetch(seqIv, 200))

    val parIv = new ConcurrentHashMap[String, (Long, Long)]()
    val parOut = Files.createTempDirectory("graft-pipe-par").toString
    val parallel = Pipeline.run(spark, cfg, parOut, parallelism = 4, fetch = fakeFetch(parIv, 200))

    // identical route order and identical per-route outcomes
    assert(sequential.map(_.key) == parallel.map(_.key))
    assert(sequential.map(r => r.key -> r.outcome.map(_ => ())) ==
      parallel.map(r => r.key -> r.outcome.map(_ => ())))
    val okKeys = parallel.filter(_.outcome.isRight).map(_.key)
    assert(okKeys == Seq("r1", "r2", "r3", "r4"), s"got $okKeys")
    assert(parallel.find(_.key == "tmpl").get.outcome.left.exists(_.message.contains("templated")))
    // row counts written by both modes match (and the parquet is real)
    for (k <- okKeys) {
      val s = spark.read.parquet(s"$seqOut/a/g/$k.parquet").count()
      val p = spark.read.parquet(s"$parOut/a/g/$k.parquet").count()
      assert(s == 3 && p == 3, s"$k: seq=$s par=$p")
    }
    // staging cleanup still post-success-only: no *_temp.json remains
    for (k <- okKeys)
      assert(!Files.exists(Paths.get(s"$parOut/a/g/${k}_temp.json")))

    // the sequential dwells are disjoint; the parallel ones overlap
    import scala.jdk.CollectionConverters._
    def overlaps(m: ConcurrentHashMap[String, (Long, Long)]): Int = {
      val iv = m.values.asScala.toSeq
      iv.combinations(2).count { case Seq((a0, a1), (b0, b1)) => a0 < b1 && b0 < a1 }
    }
    assert(overlaps(seqIv) == 0, "sequential mode must not overlap route dwells")
    assert(overlaps(parIv) > 0,
      s"parallel mode must overlap route dwells: ${parIv.asScala.toMap}")
  }

  private val shapes = EnvelopeShapes.shapes

  private val shapesCfg =
    """{"apis":{"a":{
      |  "base_url":"https://localhost:1",
      |  "endpoints":{
      |    "compras":{"root_path":"resultado", "list":"/list", "struct":"/struct",
      |      "sparse":"/sparse", "bytes_int":"/bytes_int", "bytes_double":"/bytes_double"},
      |    "camara":{"root_path":"dados", "nested":"/nested"},
      |    "bare":{"noroot":"/noroot"}
      |}}}}""".stripMargin

  private val shapeFetch: (String, java.nio.file.Path, graft.ingest.Http.Progress) => Either[graft.etl.GraftError, Long] =
    (url, dest, _) => {
      Files.createDirectories(dest.getParent)
      val body = shapes(url.substring(url.lastIndexOf('/') + 1))._1.getBytes("UTF-8")
      Files.write(dest, body)
      Right(body.length.toLong)
    }

  test("the returned row count equals a read-back count for every envelope shape") {
    val cfg = graft.config.Config.loadFromString(shapesCfg).toOption.get
    for (parallelism <- Seq(1, 4)) {
      val out = Files.createTempDirectory("graft-pipe-count").toString
      val results = Pipeline.run(spark, cfg, out, parallelism = parallelism, fetch = shapeFetch)
      assert(results.map(_.key).sorted == shapes.keys.toSeq.sorted)
      for (r <- results) {
        val readBack = spark.read.parquet(s"$out/a/${r.group}/${r.key}.parquet").count()
        assert(r.outcome == Right(readBack), s"${r.key} at parallelism $parallelism")
        assert(readBack == shapes(r.key)._2, s"${r.key} at parallelism $parallelism")
      }
    }
  }

  test("committed rows are summed over every part file's footer") {
    val target = Files.createTempDirectory("graft-pipe-parts").resolve("t.parquet").toString
    graft.etl.Normalize.writeParquet(spark.range(0, 1000, 1, 4).toDF(), target)
    val parts = new java.io.File(target).list().count(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts == 4)
    assert(graft.etl.Normalize.committedRows(spark, target) == 1000L)
    assert(graft.etl.Normalize.committedRows(spark, target) == spark.read.parquet(target).count())
  }

  /** Call sites (`"parquet at Normalize.scala:188"`) of the Spark jobs
    * `body` runs on this thread. A marker job run last in the same job
    * group tells when the listener has seen every earlier job.
    */
  private def jobCallSites(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"pipeline-jobs-${java.util.UUID.randomUUID()}"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          sites.add(e.stageInfos.maxBy(_.stageId).name)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job-count spec", interruptOnCancel = false)
      try {
        body
        sc.setCallSite("marker")
        try sc.parallelize(Seq(1), 1).count()
        finally sc.clearCallSite()
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sites.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      import scala.jdk.CollectionConverters._
      val seen = sites.asScala.toSeq
      assert(seen.lastOption.contains("marker"), s"listener saw $seen")
      seen.dropRight(1)
    } finally sc.removeSparkListener(listener)
  }

  test("a successful route runs one Spark job and an empty one one, none a json read") {
    def route(body: String): (Either[graft.etl.GraftError, Long], Seq[String]) = {
      val dir = Files.createTempDirectory("graft-pipe-jobs")
      val staging = dir.resolve("r_temp.json")
      Files.writeString(staging, body)
      var res: Either[graft.etl.GraftError, Long] = null
      val sites = jobCallSites {
        res = Pipeline.processStaged(spark, staging.toString, dir.resolve("r.parquet").toString, Some("resultado"))
      }
      (res, sites)
    }
    val (ok, okSites) = route(shapes("list")._1)
    assert(ok == Right(2L))
    assert(okSites.size == 1, s"jobs: $okSites")
    assert(okSites.head.startsWith("parquet at Normalize.scala"), s"jobs: $okSites")
    val (empty, emptySites) = route("[]")
    assert(empty.left.exists(_.isInstanceOf[graft.etl.ProcessorError.Schema]), s"got $empty")
    assert(emptySites.size == 1, s"jobs: $emptySites")
    assert(emptySites.head.startsWith("head at Normalize.scala"), s"jobs: $emptySites")
    val all = okSites ++ emptySites
    assert(!all.exists(s => s.startsWith("json at") || s.contains("Pipeline.scala")), s"jobs: $all")
  }

  test("parallel orchestration stays fail-soft when the fetcher throws") {
    val cfg = graft.config.Config.loadFromString(cfgJson).toOption.get
    val out = Files.createTempDirectory("graft-pipe-throw").toString
    val boom: (String, java.nio.file.Path, graft.ingest.Http.Progress) => Either[graft.etl.GraftError, Long] =
      (url, _, _) =>
        if (url.endsWith("/d2")) throw new RuntimeException("fetcher exploded")
        else Left(graft.etl.ProcessorError.Config("skipped"))
    val results = Pipeline.run(spark, cfg, out, parallelism = 3, fetch = boom)
    assert(results.size == 5)
    assert(results.forall(_.outcome.isLeft), "every route must fail soft")
    assert(results.find(_.key == "r2").get.outcome.left.exists(_.message.contains("fetcher exploded")))
  }
}
