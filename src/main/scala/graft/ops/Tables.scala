package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Typed accessors for the harness star schema (TESTDATA.md).
  *
  * Every query takes `(SparkSession, sfDir)` and reads through here so
  * scans stay parquet-native (vectorized reader, pushdown, pruning).
  */
object Tables {

  /** Scratch directory for operators that materialize a fixture
    * artifact (an Avro envelope, a partitioned layout, a CSV
    * round-trip, a streaming gate's feed, checkpoint and sink) and
    * RETURN a DataFrame that lazily re-reads it — eager deletion
    * would break the returned plan, and `File.deleteOnExit` is a
    * no-op on non-empty directories, so repeated verify/bench passes
    * were accumulating hundreds of temp trees under /tmp. So the
    * delete is RECURSIVE and runs at JVM exit — /tmp is flat across
    * passes because every Verify/Bench invocation is its own JVM. ONE
    * shutdown hook for the whole JVM, appending roots to a shared
    * list: the call sites re-run across a cold pass + warm passes +
    * floors in one bench JVM, and a hook THREAD per invocation was
    * accumulating dozens of registered threads per run (ADVICE round
    * 11).
    */
  private val scratchRoots =
    java.util.Collections.synchronizedList(new java.util.ArrayList[java.io.File]())
  private lazy val scratchHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles()
        if (cs != null) cs.foreach(rm)
        f.delete(); ()
      }
      scratchRoots.synchronized {
        scratchRoots.forEach(rm(_))
      }
    }))
  }
  private[graft] def scratchDir(prefix: String): java.io.File = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toFile
    scratchHook
    scratchRoots.add(root)
    root
  }

  /** Canonical column types every query in the library is written
    * against. The driver regenerates the fixture parquet between
    * rounds and its physical types have drifted before (TIMESTAMP
    * NANOS → NTZ MICROS cost eight queries a round); [[conform]] pins
    * the query-facing contract so regeneration drift either
    * normalizes silently (a cast by name) or fails loudly here (a
    * missing column), never downstream at 158 individual query sites.
    * Narrow integer key columns are left as-read: int32 vs int64
    * changes no query result (Spark widens in arithmetic and the
    * oracle compares values, not physical widths), and a blanket cast
    * would defeat scan-level dictionary/pushdown for zero benefit.
    */
  private val canonical: Map[String, Map[String, DataType]] = Map(
    "orders"     -> Map("o_orderdate" -> TimestampType),
    "lineitem"   -> Map("l_shipdate" -> TimestampType),
    "events"     -> Map("ts" -> TimestampType),
    "embeddings" -> Map("embedding" -> ArrayType(FloatType))
  )

  /** Cast any drifted column back to its canonical type; no-op (and
    * zero plan cost — no Cast node is inserted) when the scan already
    * matches. Missing canonical columns fail fast with the table name.
    */
  private def conform(df: DataFrame, name: String): DataFrame =
    canonical.get(name).fold(df) { want =>
      want.foldLeft(df) { case (d, (c, t)) =>
        require(d.columns.contains(c), s"fixture table $name lost column $c")
        val got = d.schema(c).dataType
        if (got == t) d
        else if (got == LongType && t == TimestampType)
          // TIMESTAMP(NANOS) read under nanosAsLong: integer nanos →
          // micros with integer `div` (epoch-nanos exceed 2^53, so no
          // double round-trip). Matches DuckDB's TIMESTAMP_NS →
          // TIMESTAMP narrowing.
          d.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
        else d.withColumn(c, col(c).cast(t))
      }
    }

  def region(s: SparkSession, dir: String): DataFrame = read(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame = read(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = read(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = read(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = read(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame = read(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = read(s, dir, "lineitem")
  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some fixture
    * generations and as non-UTC-adjusted TIMESTAMP(MICROS) (NTZ) in
    * others; [[conform]] plus the [[graft.GraftSession]] configs
    * (`nanosAsLong`, NTZ inference off — the latter keeps ts
    * predicates pushing into the scan) normalize every flavor to a
    * plain `TimestampType` instant under the pinned UTC zone, exactly
    * DuckDB's naive-timestamp reading.
    */
  def events(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "events")
  def documents(s: SparkSession, dir: String): DataFrame = read(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = read(s, dir, "embeddings")

  /** Inferred parquet schema per file path, cached for the JVM's
    * lifetime — the role a catalog plays in production. Schema
    * inference on `spark.read.parquet` runs a footer-reading job on
    * EVERY call: measured 82 ms per construct vs 12 ms with an
    * explicit schema (local[16], round 13), and the query surface
    * constructs ~2 table frames per query × 400+ queries per
    * verify/bench pass — ~50 s of pure metadata overhead per pass.
    * Metadata only, computed from the parquet input on first touch:
    * no data, plan or result is ever cached here, and the fixture
    * cannot change under a running JVM (the driver regenerates it
    * between JVMs). Inference runs under the same two session knobs
    * every caller of [[read]] must set, so the cached schema is
    * session-independent.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Resolved base frame per (session, path) — the other half of the
    * catalog role: even with the schema supplied, every
    * `spark.read.schema(sch).parquet(path)` construct re-lists the
    * path and rebuilds the relation (~12 ms — ~10 s per 400-query
    * sweep pass). A DataFrame is an immutable unexecuted plan, so
    * handing every caller the same base relation is exactly what a
    * registered table does (Spark itself caches the resolved relation
    * + FileIndex per catalog table). Weak session keys: test suites
    * build many short-lived sessions and must not pin them.
    */
  private val frameCache =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()

  /** The two session settings every [[read]] needs. Both matter only
    * for drifted fixture generations, but a drifted one read without
    * them fails (NANOS) or falls through conform's generic cast, which
    * is session-timezone-dependent AND blocks ts predicate pushdown at
    * the scan (NTZ). [[graft.GraftSession.builder]] sets both; a read
    * checks them rather than setting them, so it never changes its
    * caller's session.
    */
  private val requiredConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> true,
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> false)

  private def read(s: SparkSession, dir: String, name: String): DataFrame = {
    requiredConfs.foreach { case (k, v) =>
      require(s.conf.get(k).trim.toBoolean == v,
        s"ops.Tables needs $k=$v in the session (GraftSession.builder sets it)")
    }
    val path = s"$dir/$name.parquet"
    val perSession = frameCache.synchronized {
      var m = frameCache.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        frameCache.put(s, m)
      }
      m
    }
    val base = perSession.computeIfAbsent(path, { p =>
      val sch = schemaCache.computeIfAbsent(p, q => s.read.parquet(q).schema)
      s.read.schema(sch).parquet(p)
    })
    conform(base, name)
  }

  /** Round-robin spread of a COMPACT derived table across the cluster.
    *
    * The fixture tables arrive as one single-row-group parquet file, so
    * every pre-shuffle stage (signature computation, pair enumeration)
    * would otherwise run as ONE task no matter how many cores exist.
    * Production-scale inputs arrive pre-split, where this becomes a
    * cheap rebalance of small feature rows. Call it on the compact
    * per-entity projection (ids + signatures/vectors), never on a raw
    * corpus scan — the point is to parallelize downstream compute, not
    * to shuffle bulk data.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}
