// Loaded by tools/job_census.sh into spark-shell; reads CENSUS_SF and
// CENSUS_QUERIES (comma list, empty = every query) from the environment.
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.AtomicLong

// The shell must carry GraftSession's posture: the --conf list in the
// .sh wrapper is kept by hand, so a pair it lacks stops the run here.
val missingPosture = graft.GraftSession.posture.filterNot { case (k, v) => spark.conf.getOption(k).contains(v) }
if (missingPosture.nonEmpty) {
  missingPosture.foreach { case (k, v) => System.err.println(s"spark-shell lacks the posture's --conf $k=$v") }
  sys.exit(1)
}

val sfDir = sys.env("CENSUS_SF")
val wanted = sys.env.getOrElse("CENSUS_QUERIES", "").split(",").map(_.trim).filter(_.nonEmpty)
val all = graft.SparkEntry.queries
val unknown = wanted.filterNot(all.contains)
require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
val names = if (wanted.isEmpty) all.keys.toSeq.sorted else wanted.toSeq

// Listener events arrive asynchronously: a query's counts are read after
// every started job has ended and no event has arrived for a quiet period.
object Census extends SparkListener {
  val jobs, jobEnds, stages, tasks = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
  def snapshot: (Long, Long, Long) = (jobs.get, stages.get, tasks.get)
  def drain(): Unit = {
    var last = (-1L, -1L, -1L)
    while (snapshot != last || jobs.get != jobEnds.get) {
      last = snapshot
      Thread.sleep(300)
    }
  }
}
spark.sparkContext.addSparkListener(Census)

def hexSha1(s: String): String = {
  val d = java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes("UTF-8"))
  d.map("%02x".format(_)).mkString
}

for (name <- names) {
  Census.drain()
  val (j0, s0, t0) = Census.snapshot
  val line =
    try {
      // building the frame counts too: iterative queries run their
      // fixpoint loops while the plan is built
      val df = all(name)(spark, sfDir)
      val rows = df.collect().map(_.toString).sorted
      Census.drain()
      val (j1, s1, t1) = Census.snapshot
      // the plan hash ignores expression ids (#<n>) and the suffix of
      // DataFrame-API lambda variables (`lambda x_12`), both drawn from
      // JVM-wide counters that depend on what ran before in the
      // session, and the JVM identity of closures (MapPartitions
      // prints `Foo$$$Lambda$3996/0x…@61523c3`)
      val plan = df.queryExecution.optimizedPlan.toString
        .replaceAll("#\\d+", "")
        .replaceAll("(lambda \\w+?)_\\d+", "$1")
        .replaceAll("\\$\\$Lambda[^,\\s]*", "\\$\\$Lambda")
      s"$name rows=${rows.length} sha1=${hexSha1(rows.mkString("\n"))} jobs=${j1 - j0} " +
        s"stages=${s1 - s0} tasks=${t1 - t0} plan=${hexSha1(plan)}"
    } catch { case e: Throwable => s"$name FAILED ${e.getClass.getSimpleName}: ${e.getMessage}" }
  println("CENSUS " + line)
  graft.GraftSession.releaseQueryState(spark)
}
