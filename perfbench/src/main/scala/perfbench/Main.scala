package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run in one JVM: set up three times, then a cold pass
  * and warm passes over the workload's items, one item at a time on
  * this thread (a closed loop with one client). Writes the raw record
  * of the run as JSON; `run.py` turns it into metrics.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  * <sfDir> <workDir> <out.json> <cpus> [<keystore> <storepass>]`.
  */
object Main {

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      sfDir: String,
      workDir: String,
      out: String,
      cpus: Int,
      keystore: String,
      storePass: String)

  type Rec = Map[String, Any]

  /** A workload: what set-up makes, the items of a pass, and how a pass
    * runs. `runPass` returns the pass's timed wall in seconds and one
    * record per item.
    */
  trait Workload {
    def streaming: Boolean = false
    def setup(spark: SparkSession): Unit
    def items: Seq[String]
    def runPass(spark: SparkSession, pass: Int, order: Seq[String], passSpan: Long): (Double, Seq[Rec])
    def extra: Rec = Map.empty
    def teardown(): Unit = ()
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1", argv(4), argv(5), argv(6),
      argv(7).toInt, argv.lift(8).orNull, argv.lift(9).orNull)
    val rec = new Recorder(a.trace)
    val loadStart = loadAvg()
    val wl: Workload = a.workload match {
      case "etl_ingest"   => new Etl(a, rec)
      case "flat_tail"    => new Queries(a, rec, Items.flatTail, graft.SparkEntry.queries, "ops.build")
      case "stream_gates" => new Queries(a, rec, Items.streamGates, graft.streaming.Streams.queries, "streaming.gate")
      case other          => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up runs three times; the first is timed from JVM start.
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until 3) {
      val t0 =
        if (i == 0) jvmStartUs
        else { wl.teardown(); spark.stop(); rec.nowUs }
      spark = session(a, rec, wl.streaming)
      wl.setup(spark)
      setupS += (rec.nowUs - t0) / 1e6
    }

    val rng = new java.util.Random(a.seed)
    val passes = ArrayBuffer.empty[Rec]
    val runSpan = rec.begin("workload", a.workload, 0L)
    // A cold pass, then warm passes until they have run for `seconds`,
    // and at least three of them: the JIT is still settling in the
    // first warm pass, and the median of three leaves it out.
    var warmS = 0.0
    var p = 0
    while (p <= 3 || warmS < a.seconds) {
      val order = {
        val xs = new java.util.ArrayList[String](wl.items.asJava)
        java.util.Collections.shuffle(xs, rng)
        xs.asScala.toSeq
      }
      System.gc() // pass boundary, outside the timed window
      val gc0 = gcMs()
      val ps = rec.begin("pass", s"${a.workload}/p$p", runSpan)
      val (wall, items) = wl.runPass(spark, p, order, ps)
      rec.end(ps)
      passes += Map("pass" -> p, "cold" -> (p == 0), "wall_s" -> wall, "gc_ms" -> (gcMs() - gc0), "items" -> items)
      if (p > 0) warmS += wall
      p += 1
    }
    rec.end(runSpan)
    val residual = GraftSession.storageBytes(spark)
    if (a.trace || wl.streaming) rec.drain()
    val loadEnd = loadAvg()
    val result: Rec = Map(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "trace" -> a.trace,
      "cpus" -> a.cpus,
      "sf_dir" -> a.sfDir,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "load_1m_start" -> loadStart,
        "load_1m_end" -> loadEnd,
        "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version),
      "setup_s" -> setupS.toSeq,
      "passes" -> passes.toSeq,
      "storage_residual_bytes" -> residual,
      "heap_peak_mb" -> heapPeakMb(),
      "peak_rss_mb" -> peakRssMb(),
      "spans" -> rec.spans.asScala.toSeq,
      "jobs" -> rec.jobs.asScala.toSeq,
      "job_ends" -> rec.jobEnds.asScala.toSeq,
      "stages" -> rec.stages.asScala.toSeq,
      "query_plans" -> rec.queryPlans.asScala.toSeq,
      "progress" -> rec.progress.asScala.toSeq) ++ wl.extra
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new java.io.File(a.out), result)
    System.out.flush()
    // Nothing after the record is measured, and run.py deletes the
    // work directory before the next run, so the JVM ends here without
    // the seconds a graceful Spark shutdown takes.
    Runtime.getRuntime.halt(0)
  }

  private val GraftSession = graft.GraftSession

  private def session(a: Args, rec: Recorder, streaming: Boolean): SparkSession = {
    val spark = GraftSession
      .builder(master = Some(s"local[${a.cpus}]"), shufflePartitions = Some(a.cpus))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.attach(spark, streaming)
    spark
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed)
      .sum / 1048576.0

  /** VmHWM of this process: the peak resident set size. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)

  /** Query workloads: each item is one builder from the engine's query
    * map. The timed window is the builder call plus the action; the
    * cold pass collects the result and fingerprints it afterwards, the
    * warm passes write it to the no-op sink as the engine's own bench
    * does.
    */
  final class Queries(
      a: Args,
      rec: Recorder,
      names: Seq[String],
      all: => Map[String, (SparkSession, String) => DataFrame],
      buildSpan: String) extends Workload {
    override val streaming: Boolean = buildSpan.startsWith("streaming")
    private var fns: Map[String, (SparkSession, String) => DataFrame] = Map.empty
    def items: Seq[String] = names
    def setup(spark: SparkSession): Unit = {
      val m = all
      fns = names.map(n => n -> m(n)).toMap
    }

    def runPass(spark: SparkSession, pass: Int, order: Seq[String], passSpan: Long): (Double, Seq[Rec]) = {
      val recs = order.map(n => runItem(spark, n, pass, passSpan))
      (recs.map(r => (r("end_us").asInstanceOf[Long] - r("start_us").asInstanceOf[Long]) / 1e6).sum, recs)
    }

    private def runItem(spark: SparkSession, name: String, pass: Int, passSpan: Long): Rec = {
      val trace = s"$name#$pass"
      val cold = pass == 0
      spark.sparkContext.setJobGroup(trace, name, interruptOnCancel = false)
      val item = rec.begin("item", trace, passSpan)
      val t0 = rec.nowUs
      var t1 = t0
      var rows: Array[Row] = null
      val err =
        try {
          val b = rec.begin(buildSpan, trace, item)
          val df = fns(name)(spark, a.sfDir)
          rec.end(b)
          t1 = rec.nowUs
          if (cold) rows = df.collect()
          else df.write.mode("overwrite").format("noop").save()
          null
        } catch { case NonFatal(e) => e.toString }
      val t2 = rec.nowUs
      rec.end(item)
      spark.sparkContext.clearJobGroup()
      val check: Rec =
        if (rows == null) Map.empty
        else {
          val fp = Fingerprint.ofRows(rows.iterator)
          Map("rows" -> fp.rows, "hash" -> fp.hash)
        }
      GraftSession.releaseQueryState(spark)
      Map("name" -> name, "start_us" -> t0, "build_end_us" -> t1, "end_us" -> t2, "ok" -> (err == null),
        "error" -> err, "residual_bytes" -> GraftSession.storageBytes(spark)) ++ check
    }
  }

  /** `etl_ingest`: the generated config through `Pipeline.run`, with
    * the engine's HTTPS fetch wrapped so the harness sees each route
    * start, sets the route's job group and times the fetch.
    */
  final class Etl(a: Args, rec: Recorder) extends Workload {
    import graft.config.Config
    import graft.etl.{ApiError, GraftError, Pipeline, ProcessorError}
    import graft.ingest.Http

    private val sizes = EtlGen.Sizes(small = 5, large = 1, largeBytes = 2 << 20)
    private var routes: Seq[EtlGen.Route] = Nil
    private var server: Server = null
    private var config: Config = null
    private var parseS = 0.0
    private val checks = ArrayBuffer.empty[Rec]
    private val passBytes = ArrayBuffer.empty[Rec]

    def items: Seq[String] = routes.map(_.id)

    def setup(spark: SparkSession): Unit = {
      routes = EtlGen.routes(a.seed, sizes)
      server = new Server(a.keystore, a.storePass, routes.map(r => r.path -> (r.status -> r.body)).toMap,
        threads = math.min(2, a.cpus))
      val text = EtlGen.toml(s"https://127.0.0.1:${server.port}", routes)
      val t0 = rec.nowUs
      config = Config.loadTomlString(text).fold(e => throw new IllegalStateException(e.message), identity)
      val t1 = rec.nowUs
      parseS = (t1 - t0) / 1e6
      rec.span("config.parse", "setup", 0L, t0, t1)
    }

    override def teardown(): Unit = if (server != null) { server.stop(); server = null }

    override def extra: Rec = Map(
      "config" -> Map("parse_s" -> parseS, "routes" -> routes.size),
      "route_checks" -> checks.toSeq,
      "etl_bytes" -> passBytes.toSeq)

    def runPass(spark: SparkSession, pass: Int, order: Seq[String], passSpan: Long): (Double, Seq[Rec]) = {
      // Pipeline.run visits routes sorted by group name, so a rank
      // prefix on each group name sets this pass's order.
      val rank = order.zipWithIndex.toMap
      val api = config.apis("bench")
      val permuted = Config(Map("bench" -> api.copy(endpoints = api.endpoints.map { case (g, eg) =>
        f"p${rank(g)}%02d_$g" -> eg
      })))
      val outRoot = s"${a.workDir}/etl/p$pass"
      val windows = ArrayBuffer.empty[(String, Long, Long)]
      val fetched = scala.collection.mutable.Map.empty[String, Long]
      var open: (String, Long, Long) = null // (route, item span, start)
      def close(now: Long): Unit = if (open != null) {
        rec.end(open._2)
        windows += ((open._1, open._3, now))
        open = null
      }
      val fetch = (url: String, dest: java.nio.file.Path, progress: Http.Progress) => {
        val now = rec.nowUs
        close(now)
        val id = dest.getParent.getFileName.toString.dropWhile(_ != '_').drop(1)
        val trace = s"$id#$pass"
        spark.sparkContext.setJobGroup(trace, id, interruptOnCancel = false)
        val item = rec.begin("item", trace, passSpan)
        open = (id, item, now)
        val f = rec.begin("ingest.fetch", trace, item)
        val r: Either[GraftError, Long] = Http.fetchToDisk(url, dest, onProgress = progress)
        rec.end(f, Map("bytes" -> r.getOrElse(0L)))
        fetched(id) = r.getOrElse(0L)
        r
      }
      val t0 = rec.nowUs
      val results = Pipeline.run(spark, permuted, outRoot, fetch = fetch)
      val t1 = rec.nowUs
      close(t1)
      spark.sparkContext.clearJobGroup()

      // Outside the timed window: outcomes, bytes, and on the cold pass
      // the content of every Parquet file written.
      val byId = routes.map(r => r.id -> r).toMap
      var jsonBytes, parquetBytes = 0L
      results.foreach { res =>
        val id = res.group.dropWhile(_ != '_').drop(1)
        val target = java.nio.file.Paths.get(outRoot, res.api, res.group, s"${res.key}.parquet")
        val actual: Rec = res.outcome match {
          case Right(n) =>
            jsonBytes += fetched.getOrElse(id, 0L)
            parquetBytes += dirBytes(target.toFile)
            val content: Rec =
              if (pass != 0) Map.empty
              else {
                val df = spark.read.parquet(target.toString)
                val fp = Fingerprint.ofRows(df.collect().iterator)
                Map("columns" -> df.columns.toSeq.sorted, "hash" -> fp.hash, "read_rows" -> fp.rows)
              }
            Map("outcome" -> "ok", "rows" -> n) ++ content
          case Left(e) => Map("outcome" -> outcomeOf(e), "rows" -> 0L)
        }
        val exp = byId(id).expected
        checks += Map("name" -> id, "pass" -> pass, "actual" -> actual,
          "expected" -> Map("outcome" -> exp.outcome, "rows" -> exp.rows, "columns" -> exp.columns, "hash" -> exp.hash))
      }
      passBytes += Map("pass" -> pass, "json_bytes" -> jsonBytes, "parquet_bytes" -> parquetBytes,
        "rows" -> results.map(_.outcome.getOrElse(0L)).sum)
      deleteTree(new java.io.File(outRoot))
      // Routes fail soft, so an item record only carries its latency
      // window; the route checks above say whether it went as expected.
      val recs = windows.toSeq.map { case (id, s, e) => Map[String, Any]("name" -> id, "start_us" -> s, "end_us" -> e) }
      ((t1 - t0) / 1e6, recs)
    }

    private def outcomeOf(e: GraftError): String = e match {
      case ApiError.HttpStatusError(_, status)                              => s"http_$status"
      case ProcessorError.Schema(ctx) if ctx.startsWith("empty relation")   => "empty"
      case ProcessorError.Config(cause) if cause.startsWith("templated route") => "templated"
      case other                                                            => s"error: ${other.message}"
    }
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).filter(_.getName.endsWith(".parquet")).map(_.length()).sum

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
