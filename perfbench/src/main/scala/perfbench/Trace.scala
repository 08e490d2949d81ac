package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Everything a run records, in memory until the run ends.
  *
  * Times are epoch microseconds on one clock: the harness's own spans
  * come from `System.nanoTime` anchored at start-up, and Spark's event
  * times (epoch milliseconds) are scaled onto it. Spans and listener
  * events are only kept when `traced`; the streaming input-row count
  * is kept in both modes because `rows_per_s` of `stream_gates` needs
  * it.
  */
final class Recorder(val traced: Boolean) {
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L

  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L

  type Rec = Map[String, Any]
  val spans = new ConcurrentLinkedQueue[Rec]()
  val jobs = new ConcurrentLinkedQueue[Rec]()
  val jobEnds = new ConcurrentLinkedQueue[Rec]()
  val stages = new ConcurrentLinkedQueue[Rec]()
  val queryPlans = new ConcurrentLinkedQueue[Rec]()
  val progress = new ConcurrentLinkedQueue[Rec]()

  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)

  /** Open a span now; returns its id. Close it with [[end]]. */
  def begin(name: String, trace: String, parent: Long): Long =
    if (!traced) 0L
    else {
      val id = nextId.getAndIncrement()
      open.put(id, Map("id" -> id, "name" -> name, "trace" -> trace, "parent" -> parent, "start_us" -> nowUs))
      id
    }

  def end(id: Long, attrs: Map[String, Any] = Map.empty): Unit =
    if (traced && id != 0L) Option(open.remove(id)).foreach(s => spans.add(s ++ attrs + ("end_us" -> nowUs)))

  /** Record a span whose bounds were measured elsewhere. */
  def span(name: String, trace: String, parent: Long, startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty): Long =
    if (!traced) 0L
    else {
      val id = nextId.getAndIncrement()
      spans.add(Map("id" -> id, "name" -> name, "trace" -> trace, "parent" -> parent,
        "start_us" -> startUs, "end_us" -> endUs) ++ attrs)
      id
    }

  private val open = new java.util.concurrent.ConcurrentHashMap[Long, Rec]()

  private def msToUs(ms: Long): Long = ms * 1000L

  /** Scheduler-level events: jobs with their job group and call site,
    * and per-stage task aggregates (tasks are folded into their stage
    * as they end, so a run keeps one record per stage attempt).
    */
  private final class SchedulerTap extends SparkListener {
    private val tasks = new java.util.concurrent.ConcurrentHashMap[(Int, Int), TaskAgg]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Map(
        "job" -> e.jobId,
        "start_us" -> msToUs(e.time),
        "group" -> Option(e.properties).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull,
        // a stage is named after the user call site that made its job,
        // e.g. "json at Normalize.scala:39"; the result stage has the
        // highest id
        "call_site" -> e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).orNull,
        "stages" -> e.stageIds))

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add(Map("job" -> e.jobId, "end_us" -> msToUs(e.time), "ok" -> (e.jobResult == JobSucceeded)))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val agg = tasks.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new TaskAgg)
      agg.synchronized(agg.add(e))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val agg = Option(tasks.remove((i.stageId, i.attemptNumber()))).getOrElse(new TaskAgg)
      stages.add(Map(
        "stage" -> i.stageId,
        "attempt" -> i.attemptNumber(),
        "start_us" -> i.submissionTime.map(msToUs).getOrElse(0L),
        "end_us" -> i.completionTime.map(msToUs).getOrElse(0L),
        "num_tasks" -> i.numTasks,
        "failed" -> i.failureReason.isDefined) ++ agg.synchronized(agg.toMap))
    }
  }

  /** Task metrics summed over one stage attempt. */
  private final class TaskAgg {
    var n, failed = 0
    var runMs, cpuNs, gcMs, deserMs, schedMs = 0L
    var shuffleRead, shuffleWrite, spill, input, output = 0L
    val durMs = scala.collection.mutable.ArrayBuffer.empty[Long]

    def add(e: SparkListenerTaskEnd): Unit = {
      n += 1
      if (e.reason != Success) failed += 1
      val info = e.taskInfo
      val dur = info.finishTime - info.launchTime
      durMs += dur
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        deserMs += m.executorDeserializeTime
        // the scheduler delay as Spark's UI defines it: the part of the
        // task's wall that is neither run, (de)serialisation nor result
        // fetching
        val fetch = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        schedMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime - fetch)
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        input += m.inputMetrics.bytesRead
        output += m.outputMetrics.bytesWritten
      }
    }

    def toMap: Map[String, Any] = Map(
      "tasks" -> n, "failed_tasks" -> failed, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
      "gc_ms" -> gcMs, "deser_ms" -> deserMs, "sched_ms" -> schedMs,
      "shuffle_read" -> shuffleRead, "shuffle_write" -> shuffleWrite, "spill" -> spill,
      "input" -> input, "output" -> output, "task_ms" -> durMs.toSeq)
  }

  /** Catalyst phases of every executed query, from its planning tracker. */
  private final class PlanTap extends QueryExecutionListener {
    private def add(funcName: String, qe: QueryExecution): Unit =
      queryPlans.add(Map(
        "func" -> funcName,
        "phases" -> qe.tracker.phases.map { case (k, p) =>
          k -> Map("start_us" -> msToUs(p.startTimeMs), "end_us" -> msToUs(p.endTimeMs))
        }))
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(funcName, qe)
  }

  /** Micro-batch progress of the streaming gates. */
  private final class StreamTap extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val base = Map[String, Any](
        "start_us" -> java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L,
        "input_rows" -> p.numInputRows)
      progress.add(
        if (!traced) base
        else
          base ++ Map(
            "batch" -> p.batchId,
            "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            "state" -> p.stateOperators.toSeq.map { s =>
              Map(
                "rows" -> s.numRowsTotal,
                "memory_bytes" -> s.memoryUsedBytes,
                "commit_ms" -> s.commitTimeMs,
                "custom" -> s.customMetrics.asScala.map { case (k, v) => k -> v.longValue }.toMap)
            }))
    }
  }

  /** Attach the listeners to a fresh session. */
  def attach(spark: SparkSession, streaming: Boolean): Unit = {
    if (traced) {
      spark.sparkContext.addSparkListener(new SchedulerTap)
      spark.listenerManager.register(new PlanTap)
    }
    if (streaming) spark.streams.addListener(new StreamTap)
  }

  /** Listener events arrive asynchronously. Wait until every started
    * job has ended and no event has arrived for a short quiet period.
    */
  def drain(timeoutMs: Long = 20000L): Unit = {
    def count = jobs.size + jobEnds.size + stages.size + queryPlans.size + progress.size
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    while (System.currentTimeMillis() < deadline && (count != last || jobs.size != jobEnds.size)) {
      last = count
      Thread.sleep(300)
    }
  }
}
