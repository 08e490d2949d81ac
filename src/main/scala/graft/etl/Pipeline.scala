package graft.etl

import graft.config.Config
import graft.ingest.Http
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Orchestrator: config tree → per-route ingest → normalize → Parquet
  * (reference: src/main.rs:25-119).
  *
  * Fail-soft throughout (reference: src/main.rs:89-105): one route's
  * failure is recorded and the loop continues. Output layout matches
  * the reference: `{outRoot}/{api}/{group}/{key}.parquet`
  * (reference: src/main.rs:62, 84-85), with a `{key}_temp.json` staging
  * file that is deleted only after a successful Parquet write
  * ("Atomização", reference: src/main.rs:10, src/processor.rs:94).
  */
object Pipeline {

  final case class RouteResult(
      api: String,
      group: String,
      key: String,
      outcome: Either[GraftError, Long], // Right(rows written)
      seconds: Double
  )

  /** Run every resolvable, non-templated route: fetch its envelope to
    * a staging file, then [[processStaged]] it (one Spark job per
    * successful route, the Parquet write, distributed across executors).
    *
    * `parallelism = 1` (the default) is the reference's sequential
    * driver loop. `parallelism > 1` overlaps routes on a bounded
    * thread pool — the one cheap scale win the reference's design
    * leaves on the table: route work is dominated by HTTP wait and
    * independent per-route Spark jobs, both of which a single
    * SparkSession schedules concurrently without contention (routes
    * write disjoint `{api}/{group}/{key}` paths). Fail-soft semantics
    * and result ORDER are identical in both modes: every route
    * reports its own Either, a thrown non-fatal lands in that route's
    * error channel, and results come back in route order regardless
    * of completion order.
    *
    * `fetch` is the ingest seam (defaults to [[Http.fetchToDisk]]) —
    * injectable so orchestration is testable without a network.
    */
  def run(
      spark: SparkSession,
      config: Config,
      outRoot: String,
      parallelism: Int = 1,
      fetch: (String, java.nio.file.Path, Http.Progress) => Either[GraftError, Long] =
        (url, dest, p) => Http.fetchToDisk(url, dest, onProgress = p)
  ): Seq[RouteResult] = {
    val routes = for {
      (apiName, api) <- config.apis.toSeq.sortBy(_._1)
      (groupName, group) <- api.endpoints.toSeq.sortBy(_._1)
      (key, routePath) <- group.routes.toSeq.sortBy(_._1)
    } yield (apiName, groupName, group, key, routePath)
    def runRoute(apiName: String, groupName: String, group: graft.config.EndpointGroup,
        key: String, routePath: String): RouteResult = {
      val t0 = System.nanoTime()
      val outcome: Either[GraftError, Long] =
        try {
          if (Config.isTemplatedRoute(routePath))
            Left(ProcessorError.Config(s"templated route skipped: $routePath"))
          else
            config.resolveEndpointUrl(apiName, groupName, key).flatMap { url =>
              val groupDir = Paths.get(outRoot, apiName, groupName)
              val staging = groupDir.resolve(s"${key}_temp.json")
              val target = groupDir.resolve(s"$key.parquet")
              val progress = Http.loggedProgress(s"$apiName.$groupName.$key")
              fetch(url, staging, progress).flatMap { _ =>
                processStaged(spark, staging.toString, target.toString, group.rootPath)
              }
            }
        } catch {
          // fail-soft even against a misbehaving injected fetcher: the
          // route records its error, siblings (and the pool) live on
          case NonFatal(e) =>
            Left(ProcessorError.Engine(s"$apiName.$groupName.$key", String.valueOf(e.getMessage)))
        }
      RouteResult(apiName, groupName, key, outcome, (System.nanoTime() - t0) / 1e9)
    }
    val results: Seq[RouteResult] =
      if (parallelism <= 1 || routes.size <= 1)
        routes.map((runRoute _).tupled)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(parallelism, routes.size))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            routes.map(r => scala.concurrent.Future((runRoute _).tupled(r)))),
          scala.concurrent.duration.Duration.Inf)
        finally pool.shutdown()
      }
    results.foreach {
      case RouteResult(a, g, k, Left(err), _) =>
        System.err.println(s"[pipeline] $a.$g.$k failed (continuing): ${err.message}")
      case RouteResult(a, g, k, Right(n), s) =>
        println(f"[pipeline] $a.$g.$k ok: $n rows in $s%.2fs")
    }
    results
  }

  /** Transform one staged JSON file to Parquet
    * (reference: src/processor.rs:17-97). Kept public so local files
    * can be processed without the HTTP leg (used by tests).
    *
    * A successful route runs one Spark job: the Parquet write. The
    * envelope's schema is inferred on the driver
    * ([[Normalize.envelopeSchema]]), the empty-relation probe runs only
    * for an empty inferred schema, and the returned row count is read
    * from the committed part files' footers on the driver. A
    * failed write leaves nothing at the target; the staging file is
    * deleted only after a successful write, so a failed route can be
    * replayed from it.
    */
  def processStaged(
      spark: SparkSession,
      stagingPath: String,
      targetPath: String,
      rootPath: Option[String]
  ): Either[GraftError, Long] =
    try {
      val raw = Normalize.readEnvelope(spark, stagingPath)
      Normalize.requireNonEmpty(raw, stagingPath).map { df =>
        try Normalize.writeParquet(Normalize.normalize(df, rootPath), targetPath)
        catch {
          case NonFatal(e) =>
            val target = new Path(targetPath)
            target.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(target, true)
            throw e
        }
        val rows = Normalize.committedRows(spark, targetPath)
        // staging removed only after a successful write (processor.rs:94)
        Files.deleteIfExists(Paths.get(stagingPath))
        rows
      }
    } catch {
      case NonFatal(e) =>
        Left(ProcessorError.Engine(stagingPath, String.valueOf(e.getMessage)))
    }
}
