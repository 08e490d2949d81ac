package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point: one place that encodes the
  * engine's recommended runtime posture, so every embedding (Verify,
  * Bench, a user's application, spark-shell) starts from the same
  * measured configuration instead of re-deriving it.
  *
  *  - AQE stays ON (Spark's default, re-asserted here because it is
  *    load-bearing: measured 20%+ faster across the full surface at
  *    sf0.1, and runtime broadcast conversion + skew splitting are the
  *    mechanisms the 100 TB posture relies on — SURVEY.md §9).
  *  - UTC session timezone: timestamp semantics independent of host
  *    locale, and the contract the DuckDB oracle compares under.
  *  - `nanosAsLong`: parquet TIMESTAMP(NANOS) columns (the events
  *    feed) read as integer nanos instead of failing; [[ops.Tables]]
  *    converts explicitly with integer arithmetic.
  *  - `inferTimestampNTZ` OFF: parquet timestamps without the UTC
  *    adjustment flag (NTZ annotation) scan as plain TIMESTAMP under
  *    the pinned UTC zone — same instants, but time arithmetic
  *    (`unix_micros`, range frames, as-of) stays legal and ts
  *    predicates still push into the scan instead of hitting a cast.
  *    This matches DuckDB, whose naive TIMESTAMP the oracle compares
  *    against.
  *  - `file:` goes through [[fs.NioLocalFileSystem]] (FileSystem API)
  *    and [[fs.NioLocalFs]] (FileContext API): Hadoop's local file
  *    system, checksums and all, with `chmod` and `readlink` answered
  *    by java.nio instead of a forked process. Without libhadoop every
  *    FileContext create, rename and permissioned `mkdirs` forks one
  *    (4.2–4.8 ms each in a 4 GB driver JVM on a 4-core host): 236 per
  *    q155 gate run and 54 per ETL pass of the benchmark, mostly on the
  *    threads state-store commits wait for. With the posture both
  *    counts are 0, the benchmark's q155 gate pass falls 29% (2.42 →
  *    1.72 s median, local[4]) and q148's RocksDB commit file sync
  *    15× (5.8 → 0.4 s). The FileSystem cache is JVM-wide and keyed
  *    without the conf, so the class applies when the session builds
  *    the JVM's first `file:` FileSystem, as it does in Verify, Bench
  *    and the benchmark.
  *  - The engine's Catalyst extensions ([[plans.GraftExtensions]]:
  *    the SQL functions, the dot-product and levenshtein rewrites, the
  *    top-k and as-of planner strategies). This entry is the only way
  *    they reach a session: `spark.sql.extensions` is read when a
  *    session is built, and [[plans.TopKPerKey]] and
  *    [[plans.AsOfJoin]] fail at frame build on a session without it.
  *
  * Shuffle partitions are a deployment decision: local runs want
  * ≈ core count (set by callers like Verify/Bench from
  * SPARK_GRAFT_CPUS); clusters size it to data volume or rely on AQE
  * coalescing. So it is a parameter here, not a constant.
  */
object GraftSession {

  /** Release per-query executor state after a query's action completes.
    *
    * The iterative operators (`d6`, `d16`, `q90`, `q97`, `q103`, …)
    * `localCheckpoint()` intermediates; those blocks live in the
    * block manager until the owning RDD is GC'd, so a long single
    * session running the full query surface (Verify, Bench, a user's
    * notebook) accumulates storage memory it no longer needs —
    * bounded by heap, but nondeterministic, since release depends on
    * driver GC timing. Between queries the frames are dead by
    * construction (each query builds its plan from the tables), so
    * explicitly unpersisting EVERYTHING persisted is safe and makes
    * session storage flat. Callers invoke it between queries, never
    * inside one (unpersisting a localCheckpoint an active plan still
    * needs would fail recomputation — the lineage is truncated).
    */
  def releaseQueryState(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
  }

  /** Bytes of block-manager storage currently held by persisted RDDs —
    * the observability half of [[releaseQueryState]]: Bench records
    * the post-cleanup residual so a sweep-long storage leak shows up
    * in bench_detail.json instead of as an eventual slow OOM.
    */
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

  /** The posture as conf pairs, in the order [[builder]] applies them. */
  val posture: Seq[(String, String)] = Seq(
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.hadoop.fs.file.impl" -> classOf[fs.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[fs.NioLocalFs].getName)

  def builder(
      master: Option[String] = None,
      shufflePartitions: Option[Int] = None
  ): SparkSession.Builder = {
    val b = SparkSession.builder()
    posture.foreach { case (k, v) => b.config(k, v) }
    master.foreach(b.master)
    shufflePartitions.foreach(n => b.config("spark.sql.shuffle.partitions", n))
    b
  }
}
