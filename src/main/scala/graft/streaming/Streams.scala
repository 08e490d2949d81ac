package graft.streaming

import graft.etl.Normalize
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface: the reference's batch pipeline
  * re-expressed incrementally, plus the watermark/window/stateful
  * operators a continuous training-data feed needs.
  *
  * The reference has no stream processing (its "Streaming IO",
  * reference: README.md:9, is a buffered file download,
  * reference: src/api.rs:103-107); this module is the north-star
  * extension. Scale posture: file-source streams bound per-trigger
  * work with `maxFilesPerTrigger`; every aggregation carries a
  * watermark so state is evicted instead of growing without bound;
  * sessionization keeps one small state row per active key.
  */
object Streams {

  /** Epoch MICROS of a timestamp — the custom-state operators below
    * keep event time in exact integer microseconds (the same doctrine
    * as the batch surface's `unix_micros` arithmetic). `getTime` would
    * silently truncate to millis: the fixture's timestamps carry
    * sub-millisecond precision, and a batch twin computing in micros
    * would diverge at the boundary.
    */
  private def usOf(t: Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  private def tsOf(us: Long): Timestamp =
    Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L))

  /** The millisecond Spark timers understand, strictly after the given
    * micros instant (ceil) — a floor could equal the current watermark
    * millis, which `setTimeoutTimestamp` rejects as "in the past".
    */
  private def timerMsAfter(us: Long): Long = Math.floorDiv(us, 1000L) + 1L

  /** Append each frame to `feed` as ONE parquet file per element, in
    * order, each append's files stamped with a strictly increasing
    * mtime. Callers pass frames that share one `localCheckpoint()`ed
    * parent: before round 13 every per-file `coalesce(1)` append
    * collapsed its WHOLE scan+filter pipeline into a single task (the
    * coalesce reaches up to the source), so a 3-file feed paid three
    * single-threaded fact-table scans — and the chronoFidx gates
    * re-ran the min/max aggregate scan per file on top. With the
    * parent checkpointed, the parallel scan runs once and the
    * per-file jobs drain memory blocks.
    *
    * The mtime stamp generalizes the q222/q237 ADVICE closure:
    * FileStreamSource replays files by MODIFICATION TIME with a
    * nondeterministic tie-break on the random part names, and
    * checkpoint-fed appends land fast enough to share a clock tick —
    * so strict write-order replay (which the order-sensitive gates'
    * cross-batch state transitions rely on) must be forced, not
    * assumed, for every multi-file feed. `sortCols`, when non-empty,
    * reproduces the per-file `coalesce(1).sortWithinPartitions`
    * bytes of the gates that sort their files.
    */
  private[graft] def appendFeedFiles(
      feed: java.io.File,
      parts: Seq[DataFrame],
      sortCols: Seq[org.apache.spark.sql.Column] = Nil): Unit = {
    val stamped = scala.collection.mutable.Set.empty[String]
    parts.zipWithIndex.foreach { case (df, i) =>
      val one = df.coalesce(1)
      val shaped = if (sortCols.isEmpty) one else one.sortWithinPartitions(sortCols: _*)
      shaped.write.mode("append").parquet(feed.getAbsolutePath)
      val mtime = 1700000000000L + (i + 1) * 60000L
      val fs = feed.listFiles()
      if (fs != null)
        fs.filter(f => f.getName.endsWith(".parquet") && !stamped.contains(f.getName))
          .foreach { f =>
            require(f.setLastModified(mtime), s"could not stamp feed mtime on $f")
            stamped += f.getName
          }
    }
  }

  /** A Parquet file stream over `dir` that delivers ONE file per
    * micro-batch, so a gate's feed files arrive as separate batches
    * and its state genuinely crosses checkpoint commits.
    */
  private def fileStream(s: SparkSession, dir: java.io.File, schema: StructType): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir.getAbsolutePath)

  /** `parts` written to `dir` by [[appendFeedFiles]] and opened as a
    * [[fileStream]] with the schema they were written with (every
    * gate's parts are filters of one frame).
    */
  private def gateFeed(
      s: SparkSession,
      dir: java.io.File,
      parts: Seq[DataFrame],
      sortCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    appendFeedFiles(dir, parts, sortCols)
    fileStream(s, dir, parts.head.schema)
  }

  /** Runs a gate to completion through an executor-side Parquet sink:
    * `parts` become the feed ([[gateFeed]]) under a fresh
    * [[graft.ops.Tables.scratchDir]] root, `gate` transforms the feed
    * stream, and `Trigger.AvailableNow` drains it with a checkpoint
    * under the root while `foreachBatch` appends each micro-batch to
    * `out` — never a driver sink, since an update-mode gate emits a row
    * per live key per batch. Returns a lazy read of `out` for the
    * gate's batch tail, which is why the root is deleted at JVM exit
    * rather than here.
    */
  private[graft] def runGate[T](
      s: SparkSession,
      prefix: String,
      parts: Seq[DataFrame],
      sortCols: Seq[org.apache.spark.sql.Column] = Nil,
      outputMode: String = "append")(gate: DataFrame => Dataset[T]): DataFrame = {
    val root = graft.ops.Tables.scratchDir(prefix)
    val out = new java.io.File(root, "out").getAbsolutePath
    gate(gateFeed(s, new java.io.File(root, "feed"), parts, sortCols)).writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", new java.io.File(root, "ckpt").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[T], _: Long) => batch.write.mode("append").parquet(out) }
      .start()
      .awaitTermination()
    s.read.parquet(out)
  }

  /** Runs a complete-mode streaming aggregate to completion into a
    * memory sink, then collects `tail` of its final table and returns
    * it as a local frame. The sink's temp view is dropped whether or
    * not the drain and the tail succeed, so repeated runs (bench
    * passes, failed ones included) never accumulate tables on the
    * driver. Bounded only for an aggregate whose group domain is small
    * (calendar windows, segments): the sink holds the whole table.
    */
  private[graft] def drainToMemory(s: SparkSession, name: String, agg: DataFrame)(
      tail: DataFrame => DataFrame): DataFrame = {
    val view = name + "_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")
    try {
      agg.writeStream
        .format("memory")
        .queryName(view)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      val rows = tail(s.table(view))
      s.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(rows.collect(): _*)),
        rows.schema)
    } finally s.catalog.dropTempView(view)
  }

  /** 3-way CHRONOLOGICAL feed split WITHOUT a global sort, replacing
    * the round-11 `ntile(3)` builders — an unpartitioned Window over
    * the data-scaled events fact that moved the whole feed through ONE
    * task (round-11 VERDICT). The property every order-sensitive gate
    * actually needs from `maxFilesPerTrigger=1` is file-level
    * chronology: every event time in file k strictly precedes every
    * event time in file k+1, so the watermark never passes a
    * still-unfed event and cross-batch state transitions replay in
    * event-time order. Value-based RANGE bucketing gives exactly that
    * — `fidx = 1 + min(2, (us − min) · 3 div (max − min + 1))` with
    * the min/max from one map-side-combined aggregate broadcast back —
    * while staying embarrassingly parallel at any scale. Equal
    * timestamps land in one file by construction, so no ordering
    * contract crosses a file boundary (ntile split ties by row
    * number). Row-count balance is only approximate where ntile's was
    * exact; balance never mattered, chronology did. Degenerate case
    * (round-12 ADVICE): under a sufficiently skewed event-time
    * distribution a value-range bucket can be EMPTY, collapsing the
    * feed to fewer than 3 non-empty files — every gate stays correct
    * (chronology and the final watermark are bucket-boundary
    * invariant; an empty file just means one fewer micro-batch), but
    * the 3-micro-batch replay depth and StreamsSpec's "all three
    * buckets occupied" pin are FIXTURE-dependent, not contract. The
    * events fixture's uniform timestamps occupy all three; if a
    * future fixture skews, switch the boundaries to the q213-style
    * sample quantiles — the correctness argument needs no change.
    * Oracle-invariant:
    * gate answers are pinned ≥ 2 days below the final watermark (the
    * q207/q222 doctrine), and the final watermark — max event time −
    * delay — does not depend on where file boundaries fall.
    */
  private[graft] def chronoFidx(df: DataFrame, tsUs: org.apache.spark.sql.Column): DataFrame = {
    val mm = df.agg(min(tsUs).as("__mn"), max(tsUs).as("__mx"))
    df.withColumn("__us", tsUs)
      .crossJoin(broadcast(mm))
      .withColumn(
        "fidx",
        expr("CAST(1 + least(2, (__us - __mn) * 3 div (__mx - __mn + 1)) AS INT)"))
      .drop("__us", "__mn", "__mx")
  }

  /** The one conf scope every oracle gate runs in; `queries` is the
    * only way to run a gate, so every gate gets it. Under
    * `providerConfLock` it sets up to three session-conf keys for the
    * WHOLE gate and, in one `finally`, puts each back as the caller
    * had it (unset if the caller had not set it):
    *
    * (1) Shuffle partitions from `spark.graft.stream.statePartitions`
    * (default 8, round 13, generalizing q237's round-11 finding): every
    * stateful streaming operator opens/commits ONE state-store instance
    * per shuffle partition per micro-batch, so a gate's wall carries a
    * constant factor of `partitions × stateful operators × micro-batches`
    * that has nothing to do with its data (a few thousand rows here) —
    * measured at the session's 32 partitions vs 8, same JVM,
    * alternating, sf0.1: q164 11.2 → 4.3 s, q148 7.6 → 4.2,
    * q226 7.1 → 4.1, q222 5.9 → 3.7, q211 4.8 → 2.9, with `collect()`
    * results bit-identical (state is key-partitioned; values are
    * partition-count independent — only the constant moves). The count
    * is a DEPLOYMENT parameter, not a constant: production sizes state
    * partitions to stream volume/parallelism; the local default 8 is
    * applied uniformly at every core count so the driver's low-core
    * bench stays comparable. The scope wraps the whole gate, so q229's
    * two checkpoint-sharing runs see one consistent value (streaming
    * aggregation bakes the partition count into the checkpoint at
    * first run).
    *
    * (2) RocksDB CHANGELOG CHECKPOINTING (round 14), honored only when
    * the caller has not set it: per commit the provider uploads the
    * batch's changelog instead of zipping and uploading a full RocksDB
    * snapshot — snapshots move to background maintenance, the
    * production posture the RocksDB docs recommend for commit-latency-
    * bound workloads. Same provider, same keyed state crossing
    * commits, same exactly-once replay from the checkpoint (q229's warm
    * restart exercises snapshot+changelog recovery). Measured
    * (within-JVM alternating A/B, 3 reps, sf0.1, local[32]): 13-gate
    * family sum 58.5 → 46.2 s (−21%), every gate's `collect()`
    * bit-identical in every rep; biggest movers q237 8.5 → 6.2 s,
    * q204 6.0 → 4.5, q222 5.5 → 3.9, q210 4.3 → 3.0.
    * (`trackTotalNumberOfRows=false` was A/B'd in the same harness
    * and measured neutral — dropped, the metric is worth keeping.)
    *
    * (3) With `rocksDb`, the [[RocksDb]] state-store provider,
    * unconditionally: transformWithState needs its column families,
    * and the other RocksDB gates keep state off the JVM heap. Gates
    * without it (q155, q164, q237) run on the session's provider. The
    * key is read only when a streaming query starts; the feed build
    * and the batch tail never read it, so holding it for the whole
    * gate changes no plan.
    *
    * All three keys are GLOBAL to the SparkSession: two gates racing
    * set/restore — or a gate racing any other live streaming query —
    * could leak RocksDB or 8 partitions onto an unrelated query, or
    * restore the wrong previous value. So concurrent gates on one
    * session serialize on the lock; Verify/Bench run queries
    * sequentially already. A child session per gate (`cloneSession()`)
    * would need no lock, but a `StreamingQueryListener` registered on
    * the caller's session would not see the gate's progress events,
    * and every clone registers a listener bus that is never removed.
    */
  private def withGateConf[T](s: SparkSession, rocksDb: Boolean)(body: => T): T =
    providerConfLock.synchronized {
      val changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      val scoped = Seq(
        Some("spark.sql.shuffle.partitions" ->
          s.conf.getOption("spark.graft.stream.statePartitions").getOrElse("8")),
        Option.when(s.conf.getOption(changelog).isEmpty)(changelog -> "true"),
        Option.when(rocksDb)("spark.sql.streaming.stateStore.providerClass" -> RocksDb)).flatten
      val explicit = s.conf.getAll
      val prev = scoped.map { case (k, _) => k -> explicit.get(k) }
      try {
        scoped.foreach { case (k, v) => s.conf.set(k, v) }
        body
      } finally prev.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
    }

  private val providerConfLock = new Object

  /** The RocksDB state-store provider class. */
  private[graft] val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Incremental ingestion: the streaming version of the reference's
    * staged-JSON → normalize → parquet pipeline
    * (reference: src/processor.rs:17-97). New JSON envelope files
    * dropped into `stagingDir` are picked up per trigger, normalized
    * with the SAME batch transform (Normalize is plan-level, so it
    * applies unchanged to a streaming frame), and appended to the
    * parquet sink exactly-once via the checkpoint.
    *
    * File streams require an explicit schema (no inference at stream
    * start); callers pass the envelope schema, e.g.
    * [[graft.etl.Normalize.envelopeSchema]] of the first staged file,
    * which infers it on the driver without a Spark job.
    */
  def incrementalIngest(
      spark: SparkSession,
      stagingDir: String,
      schema: StructType,
      rootPath: Option[String],
      outPath: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 16
  ): StreamingQuery = {
    val raw = spark.readStream
      .schema(schema)
      .option("multiLine", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .json(stagingDir)
    Normalize
      .normalize(raw, rootPath)
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Append())
      .start()
  }

  /** Watermarked tumbling-window event counts: the canonical streaming
    * aggregate. Late rows beyond the watermark are dropped and their
    * window state evicted — bounded state at any scale.
    */
  def windowedEventCounts(
      events: DataFrame,
      watermarkDelay: String = "10 minutes",
      windowLength: String = "1 hour"
  ): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"),
        col("n"),
        col("sum_value"))

  /** Stream-stream interval join: purchases attributed to a same-user
    * click within `attributionWindow` before them — the streaming twin
    * of the batch as-of/attribution query (q18). Both sides carry a
    * watermark and the join condition bounds purchase time to a click
    * range, so each side's state store evicts rows once the other
    * side's watermark passes the range — bounded state, the only way a
    * stream-stream join survives an unbounded feed.
    *
    * `joinType` "inner": a purchase with no preceding click emits
    * nothing. `"rightOuter"` (purchases preserved) is the batch-q18
    * twin: an unattributed purchase is emitted WITH NULL click fields
    * — but only once the click-side watermark has passed its join
    * range, i.e. once no matching click can still arrive. Outer
    * results are therefore delayed by the watermark, the price of
    * never emitting a row that a late click would contradict.
    */
  def clickAttribution(
      clicks: DataFrame,
      purchases: DataFrame,
      watermarkDelay: String = "10 minutes",
      attributionWindow: String = "30 minutes",
      joinType: String = "inner"
  ): DataFrame = {
    val c = clicks
      .withWatermark("ts", watermarkDelay)
      .select(
        col("user_id"),
        col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases
      .withWatermark("ts", watermarkDelay)
      .select(
        col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    c.join(
      p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $attributionWindow"),
      joinType)
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"), col("click_id"), col("click_ts"))
  }

  /** Incremental corpus clean via `foreachBatch`: each arriving shard
    * of documents runs the batch quality gate (≥ `minTokens` tokens),
    * dedups within the shard, anti-joins against the fingerprints of
    * everything ALREADY accepted into the corpus, and appends only the
    * genuinely new survivors — the shape a continuously-fed
    * training-data corpus actually grows by. `foreachBatch` is the
    * bridge that lets the accumulated OUTPUT act as join state, which
    * no purely-declarative streaming operator can express (the state
    * is the sink itself).
    *
    * Scale posture: the anti-join probes a fingerprint-only
    * projection of the corpus (column-pruned parquet scan of one
    * 32-byte column, broadcast only if small); per-trigger work is
    * bounded by `maxFilesPerTrigger` upstream; the within-batch
    * dedup is a plain hash aggregate. Exactly-once comes from the
    * checkpoint + idempotent re-run of the last batch id.
    */
  def incrementalCorpusClean(
      spark: SparkSession,
      docs: DataFrame,
      outPath: String,
      checkpointDir: String,
      minTokens: Int = 25
  ): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val survivors = batch
          .withColumn("nt", size(split(col("text"), " ")))
          .filter(col("nt") >= minTokens)
          .withColumn("fp", md5(col("text")))
          .dropDuplicates("fp")
        val fresh =
          if (new java.io.File(outPath).exists()) {
            val seen = spark.read.parquet(outPath).select(col("fp"))
            survivors.join(seen, Seq("fp"), "left_anti")
          } else survivors
        fresh.write.mode("append").parquet(outPath)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Stream-static enrichment join: each micro-batch of the stream
    * joins against the CURRENT snapshot of a static/slowly-changing
    * dimension — the standard shape for attaching user segments,
    * document metadata, or quota tables to a live feed. Stream-static
    * joins are stateless (nothing is buffered across triggers; the
    * static side is simply re-planned per batch, so dimension updates
    * in formats that allow them are picked up on the next trigger),
    * and broadcasting the dimension keeps the stream side entirely
    * shuffle-free — at 1000 executors the feed never moves, only the
    * dim table does. Left join so feed rows missing a dimension key
    * survive with nulls rather than silently dropping volume.
    */
  def enrichStream(
      stream: DataFrame,
      dim: DataFrame,
      keys: Seq[String]
  ): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Streaming exact dedup: first occurrence of each key wins;
    * duplicates arriving within `watermarkDelay` of the original are
    * dropped. `dropDuplicatesWithinWatermark` keeps one state row per
    * key only until the watermark passes it — bounded state, unlike
    * plain streaming `dropDuplicates`, whose key state never expires.
    * This is the streaming twin of the batch d1 exact-dedup operator:
    * a continuous ingest feed dedups documents as they arrive instead
    * of re-scanning the corpus.
    */
  def streamingDedup(
      rows: DataFrame,
      keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"
  ): DataFrame =
    rows
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  // ── streaming near-dup gate ─────────────────────────────────────────

  /** A band-bucket collision: `doc_id` shares LSH band `band` with the
    * bucket's representative `rep_doc_id` (the first/lowest doc seen
    * there). ≥1 hit ⇒ near-dup CANDIDATE, to be exact-verified
    * downstream exactly like d2's batch pipeline.
    */
  final case class BandHit(doc_id: Long, band: Int, rep_doc_id: Long)

  /** Keyed by (band, h1, h2); state = the bucket's representative
    * doc_id (the minimum doc_id ever seen there). Collision guarantee:
    * every document that shares a bucket with another document is
    * emitted in at least one [[BandHit]], REGARDLESS of arrival order
    * or batch boundaries — in particular, when a smaller doc_id
    * arrives at an occupied bucket and displaces the representative,
    * the displaced representative is itself emitted against the new
    * one (the round-4 version dropped that case: 5-then-3 emitted
    * nothing while 3-then-5 emitted one hit). The *orientation* of a
    * hit (which side is rep_doc_id) can depend on arrival order; the
    * covered pair set cannot. Downstream exact verification treats
    * hits as unordered candidate pairs, as in batch d2.
    */
  class BandBucketProcessor(ttl: org.apache.spark.sql.streaming.TTLConfig)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Int, Long, Long),
        (Int, Long, Long, Long),
        BandHit] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var rep: ValueState[Long] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      rep = getHandle.getValueState[Long]("rep", Encoders.scalaLong, ttl)

    override def handleInputRows(
        key: (Int, Long, Long),
        rows: Iterator[(Int, Long, Long, Long)],
        timerValues: TimerValues): Iterator[BandHit] = {
      val ids = rows.map(_._4).toArray.distinct.sorted
      val oldRep = if (rep.exists()) Some(rep.get()) else None
      val newRep = oldRep.fold(ids.head)(math.min(_, ids.head))
      rep.update(newRep)
      oldRep match {
        case None =>
          // fresh bucket: minimum incoming id becomes representative;
          // every other incoming id collides with it
          ids.iterator.filter(_ != newRep).map(BandHit(_, key._1, newRep))
        case Some(old) =>
          // occupied bucket: every incoming id != old collides with the
          // existing occupant; a smaller incoming id that displaces the
          // representative makes the displaced occupant itself a hit
          val incoming = ids.iterator.filter(_ != old).map(BandHit(_, key._1, old))
          val displaced =
            if (newRep < old) Iterator.single(BandHit(old, key._1, newRep))
            else Iterator.empty
          incoming ++ displaced
      }
    }
  }

  /** Streaming MinHash near-dup gate — the d2 twin for continuous
    * ingest, completing the dedup story the same way
    * [[streamingDedup]] twins batch d1: documents are near-dup-flagged
    * AS THEY ARRIVE instead of re-banding the corpus per delivery.
    * Each incoming doc computes its 32 (band, h1, h2) keys scan-side
    * (the SAME signature + banding arithmetic as d2, via the shared
    * [[graft.ops.Dedup.bandKeys]] — batch and stream collide on
    * identical keys), and `transformWithState` keeps ONE value row per
    * occupied bucket: the representative (minimum) doc_id. A doc
    * hitting an occupied bucket emits a [[BandHit]] per collision;
    * exact verification against the representative is the consumer's
    * downstream step, as in d2.
    *
    * Scale posture: state is ∝ occupied buckets (≤ 32 rows per UNIQUE
    * doc, TTL-aged), per-trigger work is ∝ arriving docs × 32 — the
    * corpus itself is never re-scanned; at 100 TB this is the shape
    * that keeps a dedup gate at ingest cost rather than corpus cost.
    * The state store (RocksDB in production) holds the bucket table;
    * replay from a checkpoint reproduces emissions because the
    * representative rule is order-free.
    */
  def streamingNearDupGate(
      docs: DataFrame, // (doc_id, text)
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE
  ): Dataset[BandHit] = {
    import docs.sparkSession.implicits._
    val sig = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(
        col("doc_id"),
        graft.functions.MinHashFromHashes
          .minhashFromHashes(
            graft.functions.WordNgramHashes.wordNgramHashes(col("toks"), 3),
            64)
          .as("sig"))
    sig
      .select(col("doc_id"), explode(graft.ops.Dedup.bandKeys(32, 2)).as("bk"))
      .select(
        col("bk.band").as("band"),
        col("bk.h1").as("h1"),
        col("bk.h2").as("h2"),
        col("doc_id"))
      .as[(Int, Long, Long, Long)]
      .groupByKey(r => (r._1, r._2, r._3))
      .transformWithState(
        new BandBucketProcessor(ttl),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ── streaming decontamination gate ──────────────────────────────────

  /** Streaming decontamination gate — q91's Bloom membership as a
    * STATELESS scan-side filter over continuous ingest, completing the
    * streaming-twin set (d1↔exact dedup, d2↔near-dup gate, q89↔CMS
    * gate, q91↔this): each arriving training document's 8-word rolling
    * fingerprints probe a Bloom bitmap of the BENCHMARK split's
    * shingles, and any all-bits-set shingle flags the document as
    * contaminated — at ingest cost, with ZERO streaming state.
    *
    * The bitmap is built ONCE from the static eval side and embedded
    * as a 2^20-bit literal (16384 longs ≈ 128 KiB — exactly the
    * broadcast bitmap a production decontamination filter ships to
    * every executor; the driver materialization is bounded by m, never
    * by eval-corpus size). Probing is pure Column algebra over the
    * SAME affine-mod-prime position spec as q91/d7, so the gate's
    * verdicts match the batch query bit for bit (pinned in
    * StreamBatchParitySpec); one-sided error as always — flagged docs
    * may be false positives (quantified by the batch side), clean docs
    * are guaranteed clean.
    */
  def streamingDecontaminationGate(
      docs: DataFrame, // (doc_id, text)
      evalDocs: DataFrame // STATIC benchmark split (text)
  ): DataFrame = {
    val m = 1048576
    val hashes = graft.ops.Relational.CmsHashes.take(3).map { case (_, a, b) => (a, b) }
    def positions(f: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array(hashes.map { case (a, b) =>
        ((f * lit(a) + lit(b)) % lit(1000000007L)) % lit(m.toLong)
      }: _*)
    val posRows = evalDocs
      .select(
        graft.functions.RollingFingerprints
          .rollingFingerprints(split(col("text"), " "), 8)
          .as("fs"))
      .filter(size(col("fs")) > 0)
      .select(explode(col("fs")).as("f"))
      .select(explode(positions(col("f"))).as("pos"))
      .distinct()
      .collect()
    val bits = new Array[Long](m / 64)
    posRows.foreach { r =>
      val p = r.getLong(0).toInt
      bits(p >> 6) |= (1L << (p & 63))
    }
    val bitsCol = typedlit(bits.toSeq)
    def member(f: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      forall(
        positions(f),
        p =>
          call_function(
            "bit_get",
            element_at(bitsCol, (p / lit(64L)).cast("int") + lit(1)),
            (p % lit(64L)).cast("int")) === lit(1.toByte))
    docs
      .select(
        col("doc_id"),
        graft.functions.RollingFingerprints
          .rollingFingerprints(split(col("text"), " "), 8)
          .as("fs"))
      .select(
        col("doc_id"),
        size(col("fs")).cast("long").as("n_shingles"),
        size(filter(col("fs"), member(_))).cast("long").as("n_flagged"))
      .withColumn("contaminated", col("n_flagged") > 0L)
  }

  // ── streaming heavy-hitter gate ─────────────────────────────────────

  /** Emitted once per key, the first time its CMS estimate reaches the
    * threshold; `n_est` is the estimate at that batch boundary.
    */
  final case class HeavyHit(user_id: Long, n_est: Long)

  /** ValueState row for one shard's full d×w counter table (a case
    * class because transformWithState state needs a product encoder).
    */
  final case class CmsCells(cells: Array[Long])

  /** Keyed by shard (= key mod #shards, so EVERY arrival of a key
    * lands in one shard and the shard-local sketch carries that key's
    * whole count); state = the shard's d×w count-min cells plus one
    * flag row per already-emitted heavy hitter. The flagged-key state
    * is bounded by construction: CMS never undercounts, so at most
    * `stream_total / threshold` TRUE heavy keys exist, plus the
    * sketch's documented false-positive class — never one row per
    * distinct key, which is the state the sketch exists to avoid.
    *
    * Emission guarantees mirror the batch sketch (q89): a key whose
    * TRUE count reaches the threshold is always emitted, regardless of
    * batch boundaries — by the key's final arrival its estimate
    * already carries its full own-count, and estimates are one-sided.
    * False positives (collision-inflated keys) are possible, and WHICH
    * borderline ones get flagged can vary with batching, because a
    * key's estimate is only re-examined when the key itself arrives —
    * the same way the batch sketch's false-positive set varies with
    * sketch width. `n_est` reflects the batch-end cells at first
    * crossing.
    */
  class CmsShardProcessor(
      threshold: Long,
      ttl: org.apache.spark.sql.streaming.TTLConfig)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Int,
        (Int, Long),
        HeavyHit] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode => OM, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders
    import graft.ops.Relational.{cmsBucket, CmsHashes, CmsWidth}

    @transient private var cells: ValueState[CmsCells] = _
    @transient private var flagged: MapState[Long, Boolean] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit = {
      cells = getHandle
        .getValueState[CmsCells]("cells", Encoders.product[CmsCells], ttl)
      flagged = getHandle.getMapState[Long, Boolean](
        "flagged",
        Encoders.scalaLong,
        Encoders.scalaBoolean,
        ttl)
    }

    override def handleInputRows(
        key: Int,
        rows: Iterator[(Int, Long)],
        timerValues: TimerValues): Iterator[HeavyHit] = {
      val arr =
        if (cells.exists()) cells.get().cells
        else new Array[Long](CmsHashes.length * CmsWidth)
      val batch = scala.collection.mutable.LongMap.empty[Long]
      rows.foreach(r => batch(r._2) = batch.getOrElse(r._2, 0L) + 1L)
      batch.foreach { case (k, m) =>
        CmsHashes.foreach { case (d, a, b) =>
          arr(d * CmsWidth + cmsBucket(a, b, k)) += m
        }
      }
      cells.update(CmsCells(arr))
      // deterministic emission order; state mutations stay eager (the
      // returned iterator must not carry side effects)
      val out = batch.keys.toArray.sorted.flatMap { k =>
        val est = CmsHashes.map { case (d, a, b) =>
          arr(d * CmsWidth + cmsBucket(a, b, k))
        }.min
        if (est >= threshold && !flagged.containsKey(k)) {
          flagged.updateValue(k, true)
          Some(HeavyHit(k, est))
        } else None
      }
      out.iterator
    }
  }

  /** Streaming heavy-hitter gate — q89's count-min sketch as
    * CONTINUOUS state: keys are flagged as their estimated frequency
    * crosses `threshold`, at ingest cost, with state sublinear in the
    * key domain. The third streaming twin (exact dedup ↔ d1, near-dup
    * gate ↔ d2, this ↔ q89), sharing q89's exact hash spec via
    * [[graft.ops.Relational.CmsHashes]] so batch and stream sketches
    * agree cell for cell. State: `shards` rows of d×w longs (2 KiB
    * each) + one flag row per emitted key. At 100 TB-scale ingest the
    * sketch never grows with the key domain — the property an exact
    * per-key counter (runningTotals) cannot offer.
    */
  def streamingHeavyHitterGate(
      keys: DataFrame, // (user_id)
      threshold: Long,
      shards: Int = 32,
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE
  ): Dataset[HeavyHit] = {
    import keys.sparkSession.implicits._
    keys
      .select(
        pmod(col("user_id"), lit(shards.toLong)).cast("int").as("shard"),
        col("user_id"))
      .as[(Int, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new CmsShardProcessor(threshold, ttl),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ── streaming as-of enrichment ──────────────────────────────────────

  /** Tagged union row for [[asOfEnrich]]: dimension updates and events
    * share one stream so a single watermark governs both sides.
    */
  final case class AsOfIn(
      key: Long,
      ts: Timestamp,
      is_dim: Boolean,
      payload: Double,
      attr: String)

  /** Per-key as-of state: buffered dimension versions and events not
    * yet finalized by the watermark. Both lists are bounded (see
    * [[asOfEnrich]]'s eviction argument).
    */
  final case class AsOfBuf(
      versions: List[(Long, String)], // (version_ts micros, attr)
      pending: List[(Long, Double)] // (event_ts micros, payload)
  )

  final case class AsOfOut(
      key: Long,
      event_ts: Timestamp,
      payload: Double,
      attr: Option[String],
      version_ts: Option[Timestamp])

  /** Streaming AS-OF enrichment: each event is joined to the LATEST
    * dimension version with `version_ts <= event_ts` — the streaming
    * twin of the batch as-of join (q18 / the custom AsOfJoinExec),
    * completing the stream-static story: where [[enrichStream]]
    * attaches the dimension's CURRENT snapshot, this attaches the
    * version that was in force AT EVENT TIME, and is therefore
    * deterministic under replay and micro-batch boundaries.
    *
    * Both inputs are unioned into one tagged stream so ONE event-time
    * watermark governs them; an event is emitted only once the
    * watermark passes its timestamp, i.e. once no dimension version
    * that could change its answer (`version_ts <= event_ts`) can still
    * arrive. Until then it buffers in per-key state. That is the
    * correctness contract the spec pins: a version arriving AFTER the
    * event row but timestamped BEFORE it still wins; emission order
    * follows the watermark, not arrival order.
    *
    * Bounded state: once the watermark W passes, every event with
    * `ts <= W` is finalized and removed, and of the versions with
    * `version_ts <= W` only the latest is kept (any future event has
    * `ts > W`, so the latest version `<= W` dominates the older ones
    * for every event still to come — they are unreachable and
    * evicted). Steady-state per key = one version row + the in-flight
    * rows inside the watermark delay. Left-outer semantics: an event
    * with no version at or before it emits with null attr rather than
    * dropping.
    */
  def asOfEnrich(
      events: DataFrame, // (key, ts, payload)
      dimUpdates: DataFrame, // (key, ts, attr)
      watermarkDelay: String = "10 minutes"
  ): Dataset[AsOfOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val tagged = events
      .select(
        col("key"),
        col("ts"),
        lit(false).as("is_dim"),
        col("payload").cast("double").as("payload"),
        lit(null).cast("string").as("attr"))
      .unionAll(dimUpdates.select(
        col("key"),
        col("ts"),
        lit(true).as("is_dim"),
        lit(0.0).as("payload"),
        col("attr")))
      .withWatermark("ts", watermarkDelay)
      .as[AsOfIn]

    tagged
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsOfBuf, AsOfOut](
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, rows: Iterator[AsOfIn], state: GroupState[AsOfBuf]) =>
          val buf0 = state.getOption.getOrElse(AsOfBuf(Nil, Nil))
          val buf =
            if (state.hasTimedOut) buf0
            else
              rows.foldLeft(buf0) { (b, r) =>
                if (r.is_dim) b.copy(versions = (usOf(r.ts), r.attr) :: b.versions)
                else b.copy(pending = (usOf(r.ts), r.payload) :: b.pending)
              }
          // exact-micros event time; the watermark arrives in millis,
          // so scale it up — comparisons stay all-integer
          val w = state.getCurrentWatermarkMs() * 1000L
          val versionsSorted = buf.versions.sortBy(_._1)
          val (ripe, stillPending) = buf.pending.partition(_._1 <= w)
          val out = ripe.sortBy(_._1).map { case (ets, payload) =>
            versionsSorted.takeWhile(_._1 <= ets).lastOption match {
              case Some((vts, attr)) =>
                AsOfOut(key, tsOf(ets), payload, Some(attr), Some(tsOf(vts)))
              case None =>
                AsOfOut(key, tsOf(ets), payload, None, None)
            }
          }
          // evict versions the watermark has made unreachable: keep the
          // latest <= W (the in-force version for anything still to
          // come) plus everything newer
          val (past, future) = versionsSorted.partition(_._1 <= w)
          val keptVersions = past.lastOption.toList ++ future
          if (stillPending.isEmpty && keptVersions.isEmpty) state.remove()
          else {
            state.update(AsOfBuf(keptVersions, stillPending))
            // wake when the watermark passes the oldest pending event;
            // all remaining pending have ts > W so the timer is legal
            if (stillPending.nonEmpty)
              state.setTimeoutTimestamp(timerMsAfter(stillPending.map(_._1).min))
          }
          out.iterator
      }
  }

  final case class Event(user_id: Long, ts: Timestamp, event_type: String)

  final case class SessionState(start: Long, last: Long, n: Int)

  final case class Session(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Int
  )

  final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** Spark 4 arbitrary-state API (`transformWithState`): a
    * [[org.apache.spark.sql.streaming.StatefulProcessor]] keeping one
    * typed `ValueState` per user — running event count + value total
    * emitted on every update. Against `flatMapGroupsWithState`
    * (sessionize below) this is the successor surface: named state
    * variables with independent TTLs, timers decoupled from state,
    * and state schema evolution — the API a long-lived 100 TB
    * streaming job wants for its per-entity aggregates. TTL is
    * plumbed through so idle users' state ages out instead of
    * accumulating forever.
    */
  class RunningTotalsProcessor(ttl: org.apache.spark.sql.streaming.TTLConfig)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long,
        (Long, Double),
        UserTotals] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var totals: ValueState[(Long, Double)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)](
        "totals",
        Encoders.product[(Long, Double)],
        ttl)

    override def handleInputRows(
        key: Long,
        rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[UserTotals] = {
      val (n0, v0) = if (totals.exists()) totals.get() else (0L, 0.0)
      var n = n0
      var v = v0
      rows.foreach { case (_, value) => n += 1; v += value }
      totals.update((n, v))
      Iterator.single(UserTotals(key, n, math.round(v * 100).toDouble / 100))
    }
  }

  /** Running per-user totals over a (user_id, value) stream via
    * `transformWithState`; update-mode emission, one state row per
    * active user, TTL-bounded.
    */
  def runningTotals(
      events: Dataset[(Long, Double)],
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE
  ): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .transformWithState(
        new RunningTotalsProcessor(ttl),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  final case class WalletEvent(user_id: Long, ts_us: Long, event_id: Long, delta: Long)

  final case class WalletState(
      user_id: Long,
      n_events: Long,
      final_balance_cents: Long,
      rejected_cents: Long,
      n_overdrafts: Long)

  /** Per-user clamped-wallet state: the streaming half of batch q189's
    * sorted-array fold — the SAME branch-free clamp algebra
    * (bal' = max(bal+δ, 0); rejected += max(−δ−bal, 0)) applied as
    * events arrive, with ValueState holding exactly the (n, rej, nc,
    * bal, last_ts) tuple the batch fold threads. Rows WITHIN a trigger
    * are sorted by (ts_us, event_id) before folding, so intra-batch
    * arrival order cannot diverge from the batch total order; ACROSS
    * triggers the gate shares the last-touch/funnel gates' per-key
    * event-time delivery contract, and a violating row bumps
    * [[LateArrivals]] ("wallet") instead of silently folding out of
    * order. Update-mode emission: one snapshot per touched user per
    * trigger; the LAST snapshot equals the batch row (pinned in
    * StreamBatchParitySpec).
    */
  class WalletProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long,
        WalletEvent,
        WalletState] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    // (n_events, rejected, overdrafts, balance, last (ts_us, event_id))
    @transient private var st: ValueState[(Long, Long, Long, Long, (Long, Long))] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long, Long, (Long, Long))](
        "wallet",
        Encoders.product[(Long, Long, Long, Long, (Long, Long))],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[WalletEvent],
        timerValues: TimerValues): Iterator[WalletState] = {
      var (n, rej, nc, bal, last) =
        if (st.exists()) st.get() else (0L, 0L, 0L, 0L, (Long.MinValue, Long.MinValue))
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        if (Ordering[(Long, Long)].lt((e.ts_us, e.event_id), last))
          LateArrivals.record(
            "wallet",
            s"user=$key event=${e.event_id} ts_us=${e.ts_us} after state at $last")
        n += 1
        if (-e.delta > bal) nc += 1
        rej += math.max(-e.delta - bal, 0L)
        bal = math.max(bal + e.delta, 0L)
        last = (e.ts_us, e.event_id)
      }
      st.update((n, rej, nc, bal, last))
      Iterator.single(WalletState(key, n, bal, rej, nc))
    }
  }

  /** Clamped prepaid-wallet balances over a WalletEvent stream —
    * q189's batch fold as arbitrary streaming state.
    */
  def streamingWalletGate(events: Dataset[WalletEvent]): Dataset[WalletState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new WalletProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Gap-based sessionization via `flatMapGroupsWithState`: one small
    * state row per active user; a session closes when the event-time
    * watermark passes its last event + gap, at which point it is
    * emitted and the state freed. This is the custom-state shape that
    * windowed aggregates can't express (variable-length sessions).
    */
  def sessionize(
      events: Dataset[Event],
      gapMinutes: Int = 30,
      watermarkDelay: String = "10 minutes"
  ): Dataset[Session] = {
    import events.sparkSession.implicits._
    // exact integer MICROS throughout — the same gap arithmetic the
    // batch twin (q17's unix_micros windows) computes, so stream and
    // batch agree even on sub-millisecond boundaries
    val gapUs = gapMinutes * 60L * 1000000L

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(
              Session(userId, tsOf(s.start), tsOf(s.last), s.n))
          } else {
            val sorted = rows.toSeq.sortBy(e => usOf(e.ts))
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = usOf(e.ts)
              cur match {
                case Some(s) if t - s.last <= gapUs =>
                  cur = Some(SessionState(s.start, math.max(s.last, t), s.n + 1))
                case Some(s) =>
                  closed ::= Session(userId, tsOf(s.start), tsOf(s.last), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(timerMsAfter(s.last + gapUs))
            }
            closed.reverseIterator
          }
      }
  }

  /** Per-group distinct-count estimate emitted by the KMV gate. */
  final case class DistinctEst(group: String, n_est: Long, sketch_n: Int)

  /** ValueState row: a group's sorted k-minimum-values list. */
  final case class KmvList(ks: Array[Long])

  /** Streaming KMV distinct-count gate — q79/q106's k-minimum-values
    * sketch as CONTINUOUS per-group state. The state row is the k
    * smallest distinct element hashes seen, which is a PURE FUNCTION
    * OF THE ELEMENT SET — not of arrival order, batching, or replay
    * overlap — so unlike the CMS gate (whose borderline false-positive
    * set legitimately varies with batching) this gate's emissions are
    * exactly reproducible under any delivery: merge is sorted-distinct-
    * take-k, the same operation KMV's mergeability argument rests on.
    * Estimator matches q106 exactly, small-set fallback included
    * (< k values ⇒ the sketch IS the set ⇒ exact count, an all-integer
    * boundary both engines and both surfaces agree on). State per
    * group is k longs regardless of cardinality — the fourth
    * sketch-twin (exact dedup ↔ d1, near-dup ↔ d2, CMS ↔ q89,
    * this ↔ q79/q106).
    */
  class KmvDistinctProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String,
        (String, Long),
        DistinctEst] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var ks: ValueState[KmvList] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      ks = getHandle.getValueState[KmvList](
        "ks",
        Encoders.product[KmvList],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[DistinctEst] = {
      val M = 1000000007L
      val prev: Array[Long] = if (ks.exists()) ks.get().ks else Array.empty
      // IDENTICAL expression to q106's batch hash — pre-reduce mod M
      // (product stays < 2^63 for any Long id), then the same
      // truncated-% the Column algebra and DuckDB use. No extra sign
      // normalization: parity over the whole Long domain requires the
      // two surfaces to share one expression, not two that agree only
      // on non-negative inputs.
      val hashes = rows.map(r => ((r._2 % M) * 1103515245L + 12345L) % M)
      val merged = (prev.iterator ++ hashes).toArray.distinct.sorted.take(k)
      ks.update(KmvList(merged))
      val est =
        if (merged.length < k) merged.length.toLong
        else ((k - 1).toLong * M) / merged.last
      Iterator.single(DistinctEst(key, est, merged.length))
    }
  }

  /** Continuously-maintained per-group distinct-count estimates with
    * k-bounded state; update-mode emission.
    */
  def streamingDistinctCountGate(
      elems: Dataset[(String, Long)], // (group, element id)
      k: Int = 128): Dataset[DistinctEst] = {
    import elems.sparkSession.implicits._
    elems
      .groupByKey(_._1)
      .transformWithState(
        new KmvDistinctProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** A user's current recency score: exact dyadic EWMA numerator/
    * denominator plus the derived double (num/den, one IEEE division).
    */
  final case class EwmaScore(
      user_id: Long,
      n_days: Int,
      last_day: Long,
      num: Long,
      den: Long,
      ewma_cents: Double)

  /** ValueState row: a user's retained (epoch day → cents) horizon,
    * newest-first parallel arrays (product encoder needs flat fields).
    */
  final case class DayCents(days: Array[Long], cents: Array[Long])

  /** Streaming EWMA recency gate — batch q113's dyadic smoothing as
    * CONTINUOUS per-user state. State is the horizon's (day → cents)
    * map itself (≤ 16 rows/user — bounded by the horizon, not
    * history), merged additively per batch, so the score is a pure
    * function of the retained days' totals: same-day rows commute
    * across batches and replays. The dyadic contract matches q113
    * exactly — α = 1/2 ⇒ weight 2^(horizon−1−rank) an exact
    * power-of-two integer, num/den exact BIGINT sums, ONE final
    * division. Delivery contract (documented, like the CMS gate's
    * false-positive class): a day evicted past the horizon whose rows
    * arrive afterwards re-enters with only the late partial — late
    * data must land within the horizon, the same discipline a
    * watermark enforces on every windowed aggregate in this module.
    */
  class EwmaRecencyProcessor(horizon: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long,
        (Long, Long, Long),
        EwmaScore] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var st: ValueState[DayCents] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[DayCents](
        "dc",
        Encoders.product[DayCents],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[(Long, Long, Long)],
        timerValues: TimerValues): Iterator[EwmaScore] = {
      val acc = scala.collection.mutable.LongMap.empty[Long]
      if (st.exists()) {
        val p = st.get()
        var i = 0
        while (i < p.days.length) { acc(p.days(i)) = p.cents(i); i += 1 }
      }
      rows.foreach { case (_, day, cents) =>
        acc(day) = acc.getOrElse(day, 0L) + cents
      }
      // newest-first, keep the horizon
      val kept = acc.toArray.sortBy(-_._1).take(horizon)
      st.update(DayCents(kept.map(_._1), kept.map(_._2)))
      var num = 0L
      var den = 0L
      var j = 0
      while (j < kept.length) {
        val wt = 1L << (horizon - 1 - j)
        num += kept(j)._2 * wt
        den += wt
        j += 1
      }
      Iterator.single(
        EwmaScore(key, kept.length, kept(0)._1, num, den, num.toDouble / den))
    }
  }

  /** Continuously-maintained per-user dyadic EWMA recency scores with
    * horizon-bounded state; update-mode emission. Input rows are
    * (user_id, epoch_day, cents).
    */
  def streamingEwmaGate(
      daily: Dataset[(Long, Long, Long)],
      horizon: Int = 16): Dataset[EwmaScore] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_._1)
      .transformWithState(
        new EwmaRecencyProcessor(horizon),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** One CDC change event: a full row image (op I/U) or tombstone (D)
    * at log sequence `seq`.
    */
  final case class CdcChange(k: Long, seq: Long, op: String, cents: Option[Long])

  /** The key's current image after the changes seen so far. */
  final case class CdcImage(k: Long, seq: Long, op: String, cents: Option[Long])

  /** Per-key latest-wins state: the streaming half of q102's CDC log
    * compaction. `transformWithState` keeps ONE (seq, op, payload)
    * row per key; an arriving change replaces it only if its sequence
    * number is HIGHER — so the maintained image is a pure function of
    * the change SET, never of arrival order (out-of-order delivery,
    * replays and multi-trigger splits all converge to the same
    * state, which the parity spec pins against batch `max_by` and a
    * shuffled redelivery). Emits the key's current image on every
    * update (Update mode); downstream readers take the max-seq row
    * per key, exactly the merge-on-read convention. State is one
    * small row per LIVE key with TTL available for retention-bounded
    * logs — at 100 TB of changelog this is the keyed-state shape a
    * continuously-maintained table view needs, and the batch q102
    * remains the backfill/compaction path over the same algebra.
    */
  class CdcLatestProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long,
        CdcChange,
        CdcImage] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var last: ValueState[(Long, String, Option[Long])] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[(Long, String, Option[Long])](
        "last",
        Encoders.product[(Long, String, Option[Long])],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[CdcChange],
        timerValues: TimerValues): Iterator[CdcImage] = {
      // latest of THIS batch's rows for the key (seqs unique per key)
      val newest = rows.maxBy(_.seq)
      val keep = if (last.exists() && last.get()._1 >= newest.seq) last.get()
        else (newest.seq, newest.op, newest.cents)
      last.update(keep)
      Iterator.single(CdcImage(key, keep._1, keep._2, keep._3))
    }
  }

  /** Continuously-maintained latest-image view of a CDC change
    * stream; update-mode emission, one state row per live key.
    */
  def streamingCdcGate(changes: Dataset[CdcChange]): Dataset[CdcImage] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.k)
      .transformWithState(
        new CdcLatestProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** One merged-stream row for attribution: a marketing touch
    * (`touch` = Some(channel)) or a purchase (`cents` = Some(value)).
    * `ts_us` exact event-time micros (the module's exact-state
    * convention), `event_id` the deterministic same-timestamp
    * tie-break.
    */
  final case class TouchEvent(
      user_id: Long,
      ts_us: Long,
      event_id: Long,
      touch: Option[String],
      cents: Option[Long])

  /** One attributed purchase: the channel whose touch most recently
    * preceded it within the lookback, else "none".
    */
  final case class Attribution(
      user_id: Long,
      event_id: Long,
      ts_us: Long,
      channel: String,
      cents: Long)

  /** Late/out-of-order arrival counters for the gates whose
    * correctness rests on a PER-KEY EVENT-TIME-ORDERED delivery
    * contract (last-touch, funnel, rolling anomaly — the PSI gate's
    * bucket counts commute, so it has no order contract to violate).
    * Round-9 advisor fix: the contract used to live only in
    * scaladoc, and a violating row was silently mis-attributed or
    * skipped; now every row older than the retained state bumps a
    * named counter and the first few occurrences per gate are logged,
    * so divergence SURFACES instead of accumulating quietly.
    *
    * Counters are JVM-local (per executor on a cluster; exact in
    * local mode, where the parity specs read them). Production wiring
    * would forward them to the engine's metrics sink — the seam is
    * this one object.
    */
  object LateArrivals {
    private val counters =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    private val log = org.slf4j.LoggerFactory.getLogger(getClass)

    def record(gate: String, detail: => String): Unit = {
      val n = counters
        .computeIfAbsent(gate, _ => new java.util.concurrent.atomic.AtomicLong())
        .incrementAndGet()
      if (n <= 5L)
        log.warn(s"[graft] $gate: out-of-order/late row #$n violates the " +
          s"per-key event-time delivery contract ($detail)")
    }

    def count(gate: String): Long =
      Option(counters.get(gate)).map(_.get()).getOrElse(0L)

    def reset(gate: String): Unit = counters.remove(gate)
  }

  /** Per-user last-touch state: the streaming half of batch q122.
    * State is ONE (ts_us, event_id, channel) row per user — the most
    * recent touch seen — so memory is user-count-, never
    * history-sized. Each purchase resolves against that state with
    * q122's exact rule: the touch must be STRICTLY before the
    * purchase in (ts, event_id) order and no older than the lookback
    * (boundary inclusive: `touch_ts ≥ purchase_ts − lookback`).
    * Batch rows are processed in (ts_us, event_id) order so a touch
    * and a purchase landing in the same trigger resolve identically
    * to the batch window's ROWS-preceding frame. Delivery contract
    * (documented, like the EWMA gate's): per-user event-time order
    * across triggers — a touch arriving AFTER a purchase it should
    * have attributed is a miss, the same discipline a watermark
    * enforces on the interval-join formulation (`clickAttribution`),
    * which remains the out-of-order-tolerant alternative.
    */
  class LastTouchProcessor(lookbackUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long,
        TouchEvent,
        Attribution] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var st: ValueState[(Long, Long, String)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, String)](
        "lastTouch",
        Encoders.product[(Long, Long, String)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[TouchEvent],
        timerValues: TimerValues): Iterator[Attribution] = {
      val ordered = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
      val out = Array.newBuilder[Attribution]
      var cur: Option[(Long, Long, String)] =
        if (st.exists()) Some(st.get()) else None
      ordered.foreach { e =>
        // a row older than the retained touch arrived across triggers
        // out of per-user event-time order: purchases may be
        // mis-attributed, touches are dropped — count it (advisor fix)
        if (cur.exists(p => e.ts_us < p._1 ||
            (e.ts_us == p._1 && e.event_id < p._2)))
          LateArrivals.record(
            "last_touch",
            s"user=$key ts_us=${e.ts_us} behind state ts_us=${cur.get._1}")
        e.cents.foreach { c =>
          val channel = cur match {
            case Some((tUs, _, ch)) if tUs >= e.ts_us - lookbackUs => ch
            case _ => "none"
          }
          out += Attribution(key, e.event_id, e.ts_us, channel, c)
        }
        e.touch.foreach { ch =>
          // strictly-later touches win; same-(ts,id) cannot occur
          if (cur.forall(p =>
            p._1 < e.ts_us || (p._1 == e.ts_us && p._2 < e.event_id)))
            cur = Some((e.ts_us, e.event_id, ch))
        }
      }
      cur.foreach(st.update)
      out.result().iterator
    }
  }

  /** Continuously-attributed purchase stream (batch twin: q122);
    * append-style update emission, one state row per user.
    */
  def streamingAttributionGate(
      events: Dataset[TouchEvent],
      lookbackDays: Int = 7): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new LastTouchProcessor(lookbackDays * 86400L * 1000000L),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** One funnel input row. */
  final case class FunnelEvent(user_id: Long, ts_us: Long, event_type: String)

  /** A user crossing a funnel stage (1 = view, 2 = click-within-1h,
    * 3 = purchase-within-24h of that click), emitted once per stage.
    */
  final case class StageCross(user_id: Long, stage: Int, ts_us: Long)

  /** Per-user deadline-funnel state: the streaming half of batch q120.
    * State is the user's three FIRST qualifying stage timestamps
    * (−1 = not reached) — constant-size per user, never a buffered
    * event list. Each arriving row can only advance the funnel:
    * a view sets stage 1 if unset; a click sets stage 2 if it lands
    * strictly after the first view and within `clickWindowUs`; a
    * purchase sets stage 3 if strictly after the first qualifying
    * click and within `purchaseWindowUs` — exactly q120's per-stage
    * deadline algebra, so FIRST timestamps per stage agree with the
    * batch min-aggregates when rows arrive in per-user event-time
    * order (the module's documented delivery contract; q120 stays
    * the backfill path). Emits one StageCross per stage ADVANCEMENT
    * — downstream counts-by-stage are then live funnel populations.
    */
  class FunnelProcessor(clickWindowUs: Long, purchaseWindowUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long,
        FunnelEvent,
        StageCross] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var st: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)](
        "stages",
        Encoders.product[(Long, Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[FunnelEvent],
        timerValues: TimerValues): Iterator[StageCross] = {
      var (tView, tClick, tBuy) =
        if (st.exists()) st.get() else (-1L, -1L, -1L)
      val out = Array.newBuilder[StageCross]
      rows.toArray.sortBy(_.ts_us).foreach { e =>
        // older than the furthest recorded stage timestamp: the row
        // arrived out of per-user event-time order across triggers and
        // cannot advance the funnel it should have (advisor fix)
        if (e.ts_us < math.max(tView, math.max(tClick, tBuy)))
          LateArrivals.record(
            "funnel",
            s"user=$key ts_us=${e.ts_us} behind stage state " +
              s"($tView, $tClick, $tBuy)")
        e.event_type match {
          case "view" if tView < 0 =>
            tView = e.ts_us
            out += StageCross(key, 1, e.ts_us)
          case "click"
              if tClick < 0 && tView >= 0 &&
                e.ts_us > tView && e.ts_us <= tView + clickWindowUs =>
            tClick = e.ts_us
            out += StageCross(key, 2, e.ts_us)
          case "purchase"
              if tBuy < 0 && tClick >= 0 &&
                e.ts_us > tClick && e.ts_us <= tClick + purchaseWindowUs =>
            tBuy = e.ts_us
            out += StageCross(key, 3, e.ts_us)
          case _ => ()
        }
      }
      st.update((tView, tClick, tBuy))
      out.result().iterator
    }
  }

  /** One live PSI bucket row: reference count, live count, and the
    * bucket's PSI contribution against the reference shares.
    */
  /** ValueState row for the PSI gate (product encoder needs a field). */
  final case class PsiCounts(c: Array[Long])

  final case class PsiBucket(
      bucket: Int,
      n_ref: Long,
      n_live: Long,
      psi_contrib: Option[Double])

  /** Streaming PSI drift monitor: the streaming half of batch q141.
    * The REFERENCE distribution (decile bounds + per-bucket counts,
    * computed once from the training window by the batch side) is
    * frozen into the processor; the live stream buckets each value
    * against those same strict-`>` boundaries and keeps ONE count per
    * bucket — eleven longs of state total, however much data flows.
    * Every batch re-emits the full 10-row PSI table (update mode), so
    * the downstream alert reads a complete, always-current drift
    * report. Arithmetic is the IDENTICAL JVM double expression chain
    * q141 runs in Spark SQL — same ln, same HALF_UP round(4) — so a
    * day's final table matches the batch query bit-for-bit (parity
    * spec). Single-key state is deliberate: this is a GLOBAL monitor
    * whose whole state is 10 counters — sharding it would buy nothing
    * and cost a merge.
    */
  class PsiDriftProcessor(
      bounds: Array[Double],
      refCounts: Array[Long])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Int,
        Long,
        PsiBucket] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    private val nBuckets = bounds.length + 1
    private val nRef = refCounts.sum

    @transient private var st: ValueState[PsiCounts] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[PsiCounts](
        "counts",
        Encoders.product[PsiCounts],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Int,
        rows: Iterator[Long],
        timerValues: TimerValues): Iterator[PsiBucket] = {
      val counts =
        if (st.exists()) st.get().c else Array.fill(nBuckets)(0L)
      rows.foreach { v =>
        var b = 0
        while (b < bounds.length && v > bounds(b)) b += 1
        counts(b) += 1L
      }
      st.update(PsiCounts(counts))
      val nLive = counts.sum
      (0 until nBuckets).iterator.map { i =>
        val contrib =
          if (refCounts(i) > 0 && counts(i) > 0 && nLive > 0) {
            val p1 = refCounts(i).toDouble / nRef
            val p2 = counts(i).toDouble / nLive
            Some(
              BigDecimal((p2 - p1) * math.log(p2 / p1))
                .setScale(4, BigDecimal.RoundingMode.HALF_UP)
                .toDouble)
          } else None
        PsiBucket(i + 1, refCounts(i), counts(i), contrib)
      }
    }
  }

  /** Continuously-maintained PSI drift table over a live value stream
    * (batch twin: q141); 11 longs of state, update-mode emission.
    */
  def streamingPsiGate(
      values: Dataset[Long],
      bounds: Array[Double],
      refCounts: Array[Long]): Dataset[PsiBucket] = {
    import values.sparkSession.implicits._
    values
      .groupByKey(_ => 0)
      .transformWithState(
        new PsiDriftProcessor(bounds, refCounts),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** One per-type daily partial for the anomaly gate. */
  final case class DayTotal(event_type: String, epoch_day: Long, cents: Long)

  /** A scored day: flagged iff it violates the trailing-week 2σ band. */
  final case class AnomalyVerdict(
      event_type: String,
      epoch_day: Long,
      day_cents: Long,
      flagged: Boolean,
      direction: String)

  /** Per-type rolling-anomaly state: the streaming half of batch q134.
    * State is the newest 8 PRESENT days' (day → cents) totals per
    * event type (the EWMA gate's bounded-horizon shape) — merged
    * additively, so same-day partials commute across batches. Each
    * batch merges its partials, then scores every day it touched (in
    * day order) whose 7 preceding present days are all in state,
    * using EXACTLY q134's cross-multiplied integer z-test —
    * (n·x−S)² > 4(n·Q−S²) — evaluated in BigInt so no magnitude
    * wraps. Delivery contract (documented, as for the EWMA and
    * attribution gates): per-type day-ordered arrival, same-day
    * partials before the next day opens; q134 is the backfill path
    * that re-scores history exactly.
    */
  class RollingAnomalyProcessor(windowDays: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String,
        DayTotal,
        AnomalyVerdict] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var st: ValueState[DayCents] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[DayCents](
        "days",
        Encoders.product[DayCents],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[DayTotal],
        timerValues: TimerValues): Iterator[AnomalyVerdict] = {
      val acc = scala.collection.mutable.LongMap.empty[Long]
      if (st.exists()) {
        val p = st.get()
        var i = 0
        while (i < p.days.length) { acc(p.days(i)) = p.cents(i); i += 1 }
      }
      // the newest day already committed to state BEFORE this batch:
      // a partial for an older day arrived after that day closed —
      // its verdict has already been emitted from incomplete totals
      // (same-day partials within one batch merge fine; advisor fix)
      val newestCommitted =
        if (st.exists() && st.get().days.nonEmpty) st.get().days.max else Long.MinValue
      val touched = scala.collection.mutable.SortedSet.empty[Long]
      rows.foreach { r =>
        if (r.epoch_day < newestCommitted)
          LateArrivals.record(
            "rolling_anomaly",
            s"type=$key day=${r.epoch_day} behind committed day $newestCommitted")
        acc(r.epoch_day) = acc.getOrElse(r.epoch_day, 0L) + r.cents
        touched += r.epoch_day
      }
      val out = Array.newBuilder[AnomalyVerdict]
      val daysAsc = acc.keys.toArray.sorted
      touched.foreach { d =>
        val idx = java.util.Arrays.binarySearch(daysAsc, d)
        if (idx >= windowDays) {
          val prev = (idx - windowDays until idx).map(i => BigInt(acc(daysAsc(i))))
          val n = BigInt(windowDays)
          val sSum = prev.sum
          val q = prev.map(v => v * v).sum
          val x = BigInt(acc(d))
          val dev = n * x - sSum
          val flagged = dev * dev > BigInt(4) * (n * q - sSum * sSum)
          val direction =
            if (!flagged) "none" else if (dev > 0) "high" else "low"
          out += AnomalyVerdict(key, d, acc(d), flagged, direction)
        }
      }
      // keep the newest (windowDays + 1) present days
      val kept = acc.toArray.sortBy(-_._1).take(windowDays + 1)
      st.update(DayCents(kept.map(_._1), kept.map(_._2)))
      out.result().iterator
    }
  }

  /** Continuously-scored daily anomaly verdicts (batch twin: q134);
    * update-mode emission, ≤(window+1)-day state per event type.
    */
  def streamingAnomalyGate(
      daily: Dataset[DayTotal],
      windowDays: Int = 7): Dataset[AnomalyVerdict] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.event_type)
      .transformWithState(
        new RollingAnomalyProcessor(windowDays),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Live deadline-funnel stage crossings (batch twin: q120);
    * update-mode emission, one 3-long state row per user.
    */
  def streamingFunnelGate(
      events: Dataset[FunnelEvent],
      clickWindowHours: Int = 1,
      purchaseWindowHours: Int = 24): Dataset[StageCross] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new FunnelProcessor(
          clickWindowHours * 3600000000L,
          purchaseWindowHours * 3600000000L),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** q148 — the CDC latest-image gate RUN TO COMPLETION under the
    * driver's DuckDB oracle (round-9 mandate: one streaming surface
    * under the same independent gate as every batch query, not just
    * spec-level parity pins). The same synthesized change log as
    * [[graft.ops.Relational.q102CdcApply]] is written as a 4-file
    * parquet FEED; a real file-source → `transformWithState`
    * ([[CdcLatestProcessor]]) → `foreachBatch` parquet-append pipeline
    * drains it with `Trigger.AvailableNow` + `maxFilesPerTrigger=1`,
    * so the four log batches arrive as four separate micro-batches and
    * per-key supersession is genuinely exercised ACROSS state-store
    * commits. Downstream, the merge-on-read convention (max-seq image
    * per key) + q102's base/anti-join/rollup tail
    * ([[graft.ops.Relational.cdcApply]]) produce the same
    * 10-bucket answer as the batch compaction — and the oracle IS
    * q102's SQL formulation, so DuckDB independently checks the whole
    * streamed result. Scale posture: images land in an executor-side
    * file sink per micro-batch (never the driver — update-mode memory
    * sink would hold the keyed output on the driver); state is one
    * small row per live key; the fixture feed dirs are temp-scoped.
    */
  private def q148StreamCdcLatest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = graft.ops.Tables
      .orders(s, dir)
      .select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      .localCheckpoint() // feed batches ×4 and the base/untouched tail all replay this
    val base = o.filter(col("k") % 4 =!= 0)
    def batch(seq: Long, op: String, rows: DataFrame): DataFrame =
      rows.select(col("k"), lit(seq).as("seq"), lit(op).as("op"), col("cents"))
    val batches = Seq(
      batch(1L, "U", o.filter(col("k") % 10 === 1).withColumn("cents", col("cents") + 111L)),
      batch(2L, "D", o.filter(col("k") % 20 === 2).withColumn("cents", lit(null).cast("long"))),
      batch(3L, "I", o.filter(col("k") % 4 === 0)),
      batch(4L, "U", o.filter(col("k") % 40 === 22).withColumn("cents", col("cents") + 999L)))

    // one file per log batch => one micro-batch per log batch
    val images = runGate(s, "graft-q148", batches, outputMode = "update")(changes =>
      streamingCdcGate(changes.as[CdcChange]))
    graft.ops.Relational.cdcApply(base, images)
  }

  /** q155 — watermark-family windowed aggregation RUN TO COMPLETION
    * under the oracle: the REAL events fixture parquet is fed as a
    * file stream (the actual file, not a synthesized feed), tumbling
    * 1-hour event-time windows aggregate count + exact cents per
    * (window, type), and the per-type rollup of the final window
    * table must match DuckDB's date_trunc formulation over the same
    * parquet — so the stream's windowing, its event-time handling
    * across the fixture's drifting physical timestamp types
    * (TIMESTAMP_NANOS→long and NTZ generations both normalize here
    * exactly as Tables.conform does for batch), and its completeness
    * (every row in exactly one window) all sit under the hash gate.
    * Complete-mode memory sink is deliberate and BOUNDED: the sink
    * holds the window×type table (calendar-sized), not events.
    */
  private def q155StreamWindowAgg(s: SparkSession, dir: String): DataFrame = {
    val file = s"$dir/events.parquet"
    val schema = s.read.option("mergeSchema", "false").parquet(file).schema
    val feed = graft.ops.Tables.scratchDir("graft-q155")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(file),
      new java.io.File(feed, "events.parquet").toPath)
    val raw = fileStream(s, feed, schema)
    val ev = schema("ts").dataType.typeName match {
      case "long" => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case "timestamp_ntz" =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
    val windows = ev
      .select(
        col("ts"),
        col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    // the rollup is type-count-sized
    drainToMemory(s, "q155", windows)(
      _.groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_windows"),
          sum(col("n")).as("n_events"),
          sum(col("cents")).as("cents_total"),
          max(col("n")).as("max_window_n"))
        .orderBy("event_type"))
  }

  /** The streaming module's oracle-gated surface (everything else in
    * this file is gated by the StreamsSpec parity pins — see the
    * module scaladoc).
    */
  /** q164 — stream-stream INTERVAL JOIN run to completion under the
    * oracle (streaming gate #3, joining the CDC/state gate q148 and
    * the windowed-agg gate q155): the real events fixture feeds ONE
    * file stream split into two filtered branches — clicks and
    * purchases — that SELF-join on user with the purchase bound to a
    * 30-minute window after the click, exactly the
    * [[clickAttribution]] operator. The feed arrives as two
    * time-ordered half files (`maxFilesPerTrigger=1`, so the join's
    * cross-micro-batch state retention is genuinely exercised: file-1
    * clicks must still match file-2 purchases out of the state
    * store). REPLAY watermark: 45 days — wider than the fixture's
    * 30-day horizon — so completeness is deterministic no matter how
    * the file source orders the halves; the production 10-minute
    * eviction contract is pinned separately
    * (StreamBatchParitySpec's as-of/attribution twins). Pairs land
    * executor-side per micro-batch (q148's foreachBatch parquet
    * pattern — never a driver memory sink); the batch tail rolls
    * them up and DuckDB independently recomputes the whole join.
    */
  private def q164StreamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.ops.Tables
      .events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"), col("value"))
      .localCheckpoint() // both feed halves and the batch-tail cents replay this
    // deterministic midpoint split into two time-ordered feed files
    val cut = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    val pairs = runGate(
      s,
      "graft-q164",
      Seq(ev.filter(col("ts") < lit(cut)), ev.filter(col("ts") >= lit(cut))))(raw =>
      clickAttribution(
        clicks = raw.filter(col("event_type") === "click"),
        purchases = raw.filter(col("event_type") === "purchase"),
        watermarkDelay = "45 days",
        attributionWindow = "30 minutes",
        joinType = "inner"))
    // batch tail: purchase value re-attaches by id (clickAttribution's
    // contract emits ids + timestamps only), then the bucket rollup
    val cents = ev
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    pairs
      .join(cents, "purchase_id")
      .groupBy((col("user_id") % 10L).as("bucket"))
      .agg(
        count(lit(1)).as("n_pairs"),
        countDistinct(col("purchase_id")).as("n_purchases"),
        sum(col("cents")).as("cents_total"))
      .orderBy("bucket")
  }

  /** q193 — the clamped-wallet gate RUN TO COMPLETION under the
    * driver's DuckDB oracle (streaming gate #4, and the first whose
    * state is an ORDER-DEPENDENT fold rather than a commutative
    * aggregate — the hardest parity class). The batch twin's exact
    * input (signup/click credits, purchase debits) is written as a
    * 3-file CHRONOLOGICAL parquet feed — [[chronoFidx]] event-time
    * range buckets, each file internally sorted — so
    * `maxFilesPerTrigger=1` delivers three micro-batches that honor
    * the per-key event-time contract across state-store commits (and
    * [[WalletProcessor]] sorts within each batch, so intra-batch file
    * row order is immaterial; the LateArrivals counter stays 0 by
    * construction). foreachBatch appends update-mode snapshots to an
    * executor-side parquet sink; merge-on-read keeps each user's
    * max-n_events snapshot (n_events is strictly monotone per user,
    * so it is the version column). The oracle is literally
    * q189_clamped_balance's SQL — DuckDB replays the fold and the
    * streamed state must land on it bit-for-bit.
    */
  private def q193StreamWallet(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evs = chronoFidx(
      graft.ops.Tables
        .events(s, dir)
        .filter(col("event_type").isin("signup", "click", "purchase"))
        .select(
          col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_id"),
          when(col("event_type") === "purchase",
            -floor(col("value") * 100 + 0.5).cast("long"))
            .otherwise(floor(col("value") * 100 + 0.5).cast("long")).as("delta")),
      col("ts_us"))
      .localCheckpoint() // the three per-file writes replay this, not the fact scan
    runGate(
      s,
      "graft-q193",
      (1 to 3).map(i => evs.filter(col("fidx") === i).drop("fidx")),
      sortCols = Seq(col("ts_us"), col("event_id")),
      outputMode = "update")(in => streamingWalletGate(in.as[WalletEvent]))
      .groupBy(col("user_id"))
      .agg(
        max_by(
          struct(
            col("n_events"),
            col("final_balance_cents"),
            col("rejected_cents"),
            col("n_overdrafts")),
          col("n_events")).as("last"))
      .select(
        col("user_id"),
        col("last.n_events").as("n_events"),
        col("last.final_balance_cents").as("final_balance_cents"),
        col("last.rejected_cents").as("rejected_cents"),
        col("last.n_overdrafts").as("n_overdrafts"))
      .orderBy("user_id")
  }

  /** q204 — streaming MinHash near-dup gate RUN TO COMPLETION under
    * the oracle (round-10 mandate: the fifth gate, promoting
    * [[streamingNearDupGate]] from its spec-only parity pins — LLM
    * ingest's hottest path). The documents fixture splits into three
    * deterministic shards (`doc_id % 3`) fed one file per
    * micro-batch, so the RocksDB band-bucket state genuinely crosses
    * commits; every emitted [[BandHit]] candidate edge then passes
    * d2's exact-verification consumer step (sorted-hash-set
    * intersection, jac ≥ 0.5), and the rollup reports per-lang
    * counts and the id-sum of FLAGGED docs (any side of a verified
    * edge).
    *
    * Why flags, not pairs: the stream links arrivals to the bucket
    * REPRESENTATIVE, so inside a k-clique of mutual near-dups it
    * emits a star (k−1 edges), not the C(k,2) pairs d2 reports — the
    * flagged-doc SET, however, is order-free and equals exhaustive
    * truth: a doc with any θ-partner shares a bucket with its
    * cluster w.h.p. (d2's (1−s²)^32 recall bound), and a bucket's
    * representative is itself a cluster member unless an UNRELATED
    * doc matched a 128-bit band key by chance (~2⁻¹²⁸ per band) —
    * so every flagged-by-truth doc gains at least one VERIFIED
    * stream edge regardless of arrival order. The DuckDB oracle is
    * therefore d2's exhaustive exact-Jaccard SQL (no minhash
    * replication needed), rolled up to the same flag counts.
    *
    * Scale: state ∝ occupied buckets (≤ 32 per unique doc, TTL-able),
    * per-trigger work ∝ arriving docs × 32; the verify join expands
    * only emitted candidate edges; the corpus is never re-banded.
    */
  private def q204StreamNeardup(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.Tables
      .documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"))
      .localCheckpoint() // feed shards ×3 and the lang rollup replay this
    val hits = runGate(
      s,
      "graft-q204",
      (0 to 2).map(i => docs.filter(col("doc_id") % 3 === i)),
      outputMode = "update")(in => streamingNearDupGate(in.select(col("doc_id"), col("text"))))
    // d2's consumer step: exact verification of the emitted candidate
    // edges on the sorted shingle-hash sets, then the flag rollup
    val edges = hits
      .select(col("doc_id").as("id_a"), col("rep_doc_id").as("id_b"))
      .distinct()
    val sets = graft.ops.Dedup.docsWithShingles(s, dir, 3)
    val verified = graft.ops.Dedup.jaccardVerify(edges, sets, sets, 0.5)
    val flagged = verified
      .select(col("id_a").as("doc_id"))
      .unionAll(verified.select(col("id_b").as("doc_id")))
      .distinct()
      .withColumn("f", lit(1L))
    docs
      .select(col("doc_id"), col("lang"))
      .join(flagged, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("f"), lit(0L))).as("n_neardup_docs"),
        sum(when(col("f") === 1L, col("doc_id")).otherwise(0L)).as("neardup_id_sum"))
      .orderBy("lang")
  }

  /** q207 — gap-based SESSIONIZATION run to completion under the
    * oracle (streaming gate #6, promoting [[sessionize]] from its
    * spec-only parity pins): the events fixture splits into two
    * time-ordered halves fed one file per micro-batch, so sessions
    * STRADDLING the cut are held open in `flatMapGroupsWithState`
    * state across a checkpoint commit and only close when the second
    * file's successor event (or the event-time timeout) arrives —
    * the merging-session state shape the windowed-agg gate (q155)
    * cannot exercise. The batch tail keeps NON-FINAL sessions only
    * (session_end < the user's max event time): every non-final
    * session is closed deterministically IN-FUNCTION by its
    * successor event regardless of watermark arithmetic, while each
    * user's trailing session — whose emission depends on the
    * timeout-vs-final-watermark boundary — is excluded on BOTH
    * sides, so the gate pins the sessionizer's cross-batch state
    * exactly without encoding engine-private watermark rounding into
    * the oracle. DuckDB recomputes the identical gap>30min session
    * assignment (q65's verified boundary: a gap of EXACTLY 30
    * minutes stays in-session) and the identical non-final filter.
    *
    * Scale: one state row per ACTIVE user (timeout frees it), sorted
    * per-user per-batch event slices, and the tail is the emitted
    * session table — session-count-sized, never raw events.
    */
  private def q207StreamSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = graft.ops.Tables
      .events(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .localCheckpoint() // both feed halves replay this, not the fact scan
    val cut = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    val sessions = runGate(
      s,
      "graft-q207",
      Seq(ev.filter(col("ts") < lit(cut)), ev.filter(col("ts") >= lit(cut))))(in =>
      sessionize(in.as[Event], gapMinutes = 30, watermarkDelay = "10 minutes"))
    // batch tail: non-final sessions only (see scaladoc), then the
    // bucket rollup; distinct() guards a retried micro-batch's
    // re-appended parquet exactly as q204's edge dedup does
    val userMax = ev.groupBy(col("user_id")).agg(max(col("ts")).as("maxts"))
    sessions
      .distinct()
      .join(userMax, "user_id")
      .filter(col("session_end") < col("maxts"))
      .groupBy((col("user_id") % 10L).as("bucket"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events").cast("long")).as("n_events"),
        sum(unix_micros(col("session_end")) - unix_micros(col("session_start")))
          .as("dur_us_total"),
        max(col("n_events").cast("long")).as("max_session_events"))
      .orderBy("bucket")
  }

  /** q210 — streaming KMV distinct-count gate RUN TO COMPLETION under
    * the oracle (streaming gate #7, and the first to put the Spark 4
    * `transformWithState` surface — named ValueState, the
    * StatefulProcessor API — under the DuckDB hash gate; the six
    * earlier gates exercise windowed aggs, stream-stream joins and
    * `flatMapGroupsWithState`). Events split into three user-keyed
    * shards fed one file per micro-batch, so every group's sorted
    * k-minimum-values state merges across RocksDB commits; the batch
    * tail takes each group's FINAL estimate, which is well-defined
    * without sequence numbers because the KMV estimate is MONOTONE
    * non-decreasing in the element set (below saturation it IS the
    * exact count; at saturation the k-th minimum only shrinks), so
    * `max` over the update-mode emissions is the last one. The gate
    * also reports the exact distinct count and the estimator's error
    * in basis points — the accuracy contract (±1/√k) as data, not
    * prose. The oracle recomputes the sketch from scratch: same
    * portable hash, DISTINCT HASH VALUES (the sketch is a set of
    * hashes — a colliding pair of user ids contributes one entry),
    * same (k−1)·M / h_k integer estimator.
    *
    * Scale: state is k longs per group regardless of cardinality;
    * per-trigger work ∝ arriving rows; the tail reads the emission
    * log — groups × batches rows, never events.
    */
  private def q210StreamKmv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = graft.ops.Tables
      .events(s, dir)
      .select(col("event_type"), col("user_id"))
      .localCheckpoint() // feed shards ×3 (and the exact tail) replay this
    val ests = runGate(
      s,
      "graft-q210",
      (0 to 2).map(i => ev.filter(col("user_id") % 3 === i)),
      outputMode = "update")(in =>
      streamingDistinctCountGate(
        in.select(col("event_type").as("_1"), col("user_id").as("_2")).as[(String, Long)],
        128))
    val exact = ev
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users_exact"))
    ests
      .groupBy(col("group").as("event_type"))
      .agg(
        max(col("n_est")).as("n_users_est"),
        max(col("sketch_n")).cast("long").as("sketch_n"))
      .join(exact, "event_type")
      .select(
        col("event_type"),
        col("n_users_est"),
        col("sketch_n"),
        col("n_users_exact"),
        expr("abs(n_users_est - n_users_exact) * 10000 div n_users_exact")
          .as("err_bp"))
      .orderBy("event_type")
  }

  /** q211 — streaming EXACTLY-ONCE dedup gate RUN TO COMPLETION under
    * the oracle (streaming gate #8, and the first to put Spark's
    * built-in `dropDuplicatesWithinWatermark` state operator — the
    * at-least-once-delivery repair every production event feed needs —
    * under the DuckDB hash gate; the seven earlier gates all exercise
    * CUSTOM state). The feed replays the at-least-once regime
    * deliberately: file 1 carries every event, files 2 and 3 re-deliver
    * two overlapping shards (id%7=0, id%11=3 — ids hit by both arrive
    * THREE times). With `maxFilesPerTrigger=1` each re-delivery lands
    * in a LATER micro-batch, so suppression must come from dedup state
    * persisted across RocksDB checkpoint commits, not from within-batch
    * distinct. The batch tail reports fed vs emitted vs suppressed per
    * event type — the gate proves the dedup did exactly its job, as
    * data.
    *
    * The watermark delay (365 days) deliberately exceeds the fixture's
    * span so NO event is ever late and state never evicts mid-run —
    * that keeps the run-to-completion output deterministic (a tight
    * delay makes late-duplicate suppression best-effort, the operator's
    * documented contract). In production the delay is the re-delivery
    * horizon (minutes), which is exactly what bounds the state: one
    * compact key row per event inside the horizon, evicted by the
    * advancing watermark — state ∝ arrival rate × horizon, not stream
    * length. Emitted copies are byte-identical to their originals, so
    * which arrival survives is immaterial to the output.
    */
  private def q211StreamDedup(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.ops.Tables
      .events(s, dir)
      .select(
        col("event_id"),
        col("ts"),
        col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .localCheckpoint() // the full copy + two replay shards all replay this
    val parts = Seq(
      ev,
      ev.filter(pmod(col("event_id"), lit(7)) === 0),
      ev.filter(pmod(col("event_id"), lit(11)) === 3))
    val emitted = runGate(s, "graft-q211", parts)(
      _.withWatermark("ts", "365 days").dropDuplicatesWithinWatermark("event_id"))
    // batch tail: distinct() guards a retried micro-batch's re-appended
    // parquet (q204's convention); fed counts fold in as a bounded
    // per-type aggregate of the same three feed branches
    val fed = parts
      .reduce(_.unionAll(_))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_fed"))
    emitted
      .distinct()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_emitted"), sum(col("cents")).as("cents_total"))
      .join(fed, "event_type")
      .select(
        col("event_type"),
        col("n_fed"),
        col("n_emitted"),
        (col("n_fed") - col("n_emitted")).as("n_suppressed"),
        col("cents_total"))
      .orderBy("event_type")
  }

  /** q217 — STREAM-STATIC dimension join run to completion under the
    * oracle (streaming gate #9): the event stream enriches against the
    * static customer dimension (user → market segment) INSIDE the
    * stream, then a per-segment streaming aggregate accumulates across
    * micro-batches — the canonical "enrich with a dim table, then
    * aggregate" production topology, and the one join flavor the gate
    * suite hadn't exercised (q164 is stream-STREAM; the batch surface
    * joins are all batch-batch). The feed arrives in three user-keyed
    * shards (`maxFilesPerTrigger=1`), so the static side is re-planned
    * and re-broadcast per micro-batch and the aggregate's RocksDB
    * state must carry partial (segment) sums across three commits.
    *
    * Complete-mode memory sink (q155's pattern — the rollup is
    * segment-count-sized, so the driver sink is bounded by the DIM
    * domain, not the stream); the tail re-orders and types the final
    * table and DuckDB recomputes the whole enrich-join + rollup
    * relationally. Scale: the static side is a broadcast dim (segment
    * projection of customer — at 100 TB the dim is the small side by
    * construction or it isn't a dim); state is one row per segment.
    */
  private def q217StreamDimJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.ops.Tables
      .events(s, dir)
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .localCheckpoint() // feed shards ×3 replay this, not the fact scan
    val dim = graft.ops.Tables
      .customer(s, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val segments = gateFeed(
      s,
      graft.ops.Tables.scratchDir("graft-q217"),
      (0 to 2).map(i => ev.filter(pmod(col("user_id"), lit(3)) === i)),
      Nil)
      .join(broadcast(dim), "user_id") // stream-static enrich
      .groupBy(col("segment"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("cents_total"),
        sum(when(col("event_type") === "purchase", col("cents"))
          .otherwise(0L)).as("purchase_cents"))
    drainToMemory(s, "q217", segments)(_.orderBy("segment"))
  }

  final case class WarmEvent(user_id: Long, event_id: Long, cents: Long)

  final case class WarmInit(user_id: Long, n: Long, cents: Long)

  final case class WarmSnap(user_id: Long, n_purchases: Long, cents_total: Long)

  /** Warm-started per-user purchase totals — the suite's first
    * [[org.apache.spark.sql.streaming.StatefulProcessorWithInitialState]]:
    * `handleInitialState` seeds each key's ValueState from a
    * BATCH-computed aggregate before the first micro-batch, which is
    * the lambda→kappa migration primitive (cut a streaming job over
    * WITHOUT replaying history: bootstrap state from the warehouse,
    * stream from the cutover point). Input rows then fold on top of
    * the seeded state exactly as a cold-start fold would.
    */
  class WarmStartProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long,
        WarmEvent,
        WarmSnap,
        WarmInit] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var st: ValueState[(Long, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)](
        "totals",
        Encoders.product[(Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInitialState(
        key: Long,
        initialState: WarmInit,
        timerValues: TimerValues): Unit =
      st.update((initialState.n, initialState.cents))

    override def handleInputRows(
        key: Long,
        rows: Iterator[WarmEvent],
        timerValues: TimerValues): Iterator[WarmSnap] = {
      var (n, c) = if (st.exists()) st.get() else (0L, 0L)
      rows.foreach { e => n += 1; c += e.cents }
      st.update((n, c))
      Iterator.single(WarmSnap(key, n, c))
    }
  }

  /** q229 — warm-start migration gate RUN TO COMPLETION under the
    * oracle: the TWELFTH gate, exercising initial-state loading. The
    * purchase history before the cutover (Jan 16) is aggregated in
    * BATCH into per-user (count, cents) seeds; only post-cutover
    * purchases are streamed (three ts-ordered files, one per
    * micro-batch); the processor's final per-user snapshot must equal
    * the FULL-RANGE batch rollup — proving the seed and the fold
    * compose without replaying history. Output is restricted to users
    * the stream actually touched (a never-again-seen user's state is
    * seeded but never emitted — by design: emission is input-driven),
    * and the oracle applies the same restriction relationally.
    *
    * Scale: the seed side is one batch aggregate shuffled by user (the
    * warehouse read a real cutover pays once); state is one pair per
    * user; per-trigger work ∝ arriving rows. Commutativity of the
    * fold means the cutover point is arbitrary — the spec moves it
    * and pins invariance.
    */
  private def q229StreamWarmStart(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cut = lit("2024-01-16").cast("timestamp")
    val purchases = graft.ops.Tables
      .events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        col("ts"))
    val hist = purchases
      .filter(col("ts") < cut)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .as[WarmInit]
    val live = purchases.filter(col("ts") >= cut)
    val withIdx = chronoFidx(live, unix_micros(col("ts")))
      .localCheckpoint() // the three per-file writes replay this, not the fact scan
    runGate(
      s,
      "graft-q229",
      (1 to 3).map(i => withIdx.filter(col("fidx") === i).drop("fidx", "ts")),
      outputMode = "update")(
      _.as[WarmEvent]
        .groupByKey(_.user_id)
        .transformWithState(
          new WarmStartProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update(),
          hist.groupByKey(_.user_id)))
      .groupBy(col("user_id"))
      .agg(
        max_by(
          struct(col("n_purchases"), col("cents_total")),
          col("n_purchases")).as("last"))
      .select(
        col("user_id"),
        col("last.n_purchases").as("n_purchases"),
        col("last.cents_total").as("cents_total"))
      .orderBy("user_id")
  }

  final case class SlaEvent(user_id: Long, ts: Timestamp, kind: String)

  final case class SlaOutcome(user_id: Long, kind: String, at_us: Long)

  /** Conversion-SLA horizon in exact micros (24 h): a user's first
    * signup opens a window; a purchase strictly inside (s, s+H]
    * converts, the event-time watermark passing s+H without one
    * breaches.
    */
  private val SlaHorizonUs = 86400000000L

  /** Per-user conversion-SLA state machine — the tenth gate's
    * processor and the suite's first use of EVENT-TIME TIMERS
    * (`registerTimer`/`deleteTimer`/`handleExpiredTimer`): absence
    * detection is the one stateful shape input-driven operators
    * cannot express, because the interesting row is the one that
    * NEVER arrives — only the watermark clock can emit it. State is
    * one (signup_us, deadline_us, phase) triple per user
    * (phase 0 pending / 1 converted / 2 breached), kept after
    * resolution so duplicate signups and late purchases stay no-ops;
    * production would put a TTL on resolved keys. Rows within a
    * trigger fold in (ts, kind) order, so intra-batch arrival order
    * cannot diverge from event-time order; across triggers the feed
    * is event-time ordered (the wallet/funnel delivery contract).
    * Timers are registered at ceil-millis AFTER the deadline
    * ([[timerMsAfter]]) — micros truncation could fire a timer
    * eligible at deadline−ε — and deleted on conversion; a timer
    * racing a same-batch conversion is additionally guarded by the
    * phase check in [[handleExpiredTimer]].
    */
  class SlaProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long,
        SlaEvent,
        SlaOutcome] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode => OM, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var st: ValueState[(Long, Long, Int)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Int)](
        "sla",
        Encoders.product[(Long, Long, Int)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[SlaEvent],
        timerValues: TimerValues): Iterator[SlaOutcome] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[SlaOutcome]
      rows.toSeq.sortBy(e => (usOf(e.ts), e.kind)).foreach { e =>
        val us = usOf(e.ts)
        if (e.kind == "signup") {
          if (!st.exists()) {
            val dl = us + SlaHorizonUs
            st.update((us, dl, 0))
            getHandle.registerTimer(timerMsAfter(dl))
          }
        } else if (st.exists()) {
          val (sUs, dl, ph) = st.get()
          if (ph == 0 && us > sUs && us <= dl) {
            out += SlaOutcome(key, "convert", us)
            getHandle.deleteTimer(timerMsAfter(dl))
            st.update((sUs, dl, 1))
          }
        }
      }
      out.iterator
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SlaOutcome] = {
      if (st.exists()) {
        val (sUs, dl, ph) = st.get()
        if (ph == 0) {
          st.update((sUs, dl, 2))
          return Iterator.single(SlaOutcome(key, "breach", dl))
        }
      }
      Iterator.empty
    }
  }

  final case class TopkEvent(user_id: Long, event_id: Long, cents: Long)

  final case class TopkState(
      user_id: Long,
      n_seen: Long,
      top1_cents: Long,
      top2_cents: Long,
      top3_cents: Long)

  /** Per-user streaming top-3 purchase amounts — the suite's first use
    * of LIST STATE (`getListState`/`put`), alongside a ValueState
    * counter: the canonical bounded-collection shape (leaderboards,
    * best-k offers, k-cache) where the state is a k-row SET a single
    * ValueState tuple can't naturally grow and a MapState over-keys.
    * The list holds at most k=3 (cents, event_id) entries, kept in
    * (cents desc, event_id asc) order on every write — merge k with
    * the trigger's rows, cut to k, `put` back: state is O(k) per user
    * forever, and absent entries surface as −1 sentinels (the fixture
    * has no negative cents) so the snapshot row is fixed-width.
    * Emission is one snapshot per touched user per trigger; the LAST
    * snapshot (max n_seen) is the answer, exactly q193's update-mode
    * contract.
    */
  class TopkProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long,
        TopkEvent,
        TopkState] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode => OM, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var top: ListState[(Long, Long)] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit = {
      top = getHandle.getListState[(Long, Long)](
        "top",
        Encoders.product[(Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long](
        "seen",
        Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[TopkEvent],
        timerValues: TimerValues): Iterator[TopkState] = {
      val incoming = rows.map(e => (e.cents, e.event_id)).toSeq
      val merged = (top.get().toSeq ++ incoming)
        .sortBy { case (c, id) => (-c, id) }
        .take(3)
      top.put(merged.toArray)
      val n = (if (seen.exists()) seen.get() else 0L) + incoming.length
      seen.update(n)
      def at(i: Int): Long = if (i < merged.length) merged(i)._1 else -1L
      Iterator.single(TopkState(key, n, at(0), at(1), at(2)))
    }
  }

  /** q226 — streaming per-user top-k RUN TO COMPLETION under the
    * oracle: the ELEVENTH gate, exercising [[TopkProcessor]]'s
    * ListState across RocksDB commits. Purchases feed in three
    * event-time-ordered files one per micro-batch, so a user's top-3
    * genuinely accumulates across commits (the spec plants a
    * cross-batch displacement to prove a later batch evicts an
    * earlier batch's entry). The tail keeps each user's last snapshot
    * (max n_seen — q193's pattern) and the DuckDB oracle recomputes
    * the ranked top-3 with the same (cents desc, event_id asc)
    * tie-break and −1 fill.
    *
    * Scale: O(k) list + one counter per user; per-trigger work ∝
    * arriving rows · log k. The tail is one max_by aggregate over the
    * snapshot log.
    */
  private def q226StreamUserTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evs = chronoFidx(
      graft.ops.Tables
        .events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(
          col("user_id").cast("long").as("user_id"),
          col("event_id").cast("long").as("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"),
          col("ts")),
      unix_micros(col("ts")))
      .localCheckpoint() // the three per-file writes replay this, not the fact scan
    runGate(
      s,
      "graft-q226",
      (1 to 3).map(i => evs.filter(col("fidx") === i).drop("fidx", "ts")),
      outputMode = "update")(
      _.as[TopkEvent]
        .groupByKey(_.user_id)
        .transformWithState(
          new TopkProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update()))
      .groupBy(col("user_id"))
      .agg(
        max_by(
          struct(
            col("n_seen"),
            col("top1_cents"),
            col("top2_cents"),
            col("top3_cents")),
          col("n_seen")).as("last"))
      .select(
        col("user_id"),
        col("last.n_seen").as("n_purchases"),
        col("last.top1_cents").as("top1_cents"),
        col("last.top2_cents").as("top2_cents"),
        col("last.top3_cents").as("top3_cents"))
      .orderBy("user_id")
  }

  /** q222 — streaming conversion-SLA monitor RUN TO COMPLETION under
    * the oracle: the TENTH gate, and the first driven by EVENT-TIME
    * TIMERS rather than arriving rows. Each user's first signup arms
    * a 24 h deadline timer; a qualifying purchase (strictly after the
    * signup, within the horizon) cancels it and emits a `convert`
    * row with the purchase instant; the watermark passing an
    * uncancelled deadline fires [[SlaProcessor.handleExpiredTimer]]
    * in a NO-DATA micro-batch — state the nine input-driven gates
    * never exercise — emitting a `breach` row carrying the deadline.
    * The feed is the signup/purchase event stream split into three
    * event-time-ordered files fed one per micro-batch (RocksDB state
    * and timers genuinely cross commits); the batch tail keeps every
    * convert but only breaches with deadlines at least three days
    * before the final fed instant — two full days below the final
    * watermark (delay 1 day), so the oracle never encodes the
    * watermark's exact resting position or the timer comparison's
    * open/closed boundary (the q207 doctrine). The DuckDB oracle
    * recomputes first-signup windows, first qualifying purchases and
    * the same deadline cutoff relationally.
    *
    * Scale: one state triple + at most one live timer per user; both
    * resolve to tombstones as the watermark advances (production
    * TTLs them); per-trigger work ∝ arriving rows plus expiring
    * timers. The tail is one bounded aggregate over the emitted
    * outcome log.
    */
  private def q222StreamSlaTimeout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evs = chronoFidx(
      graft.ops.Tables
        .events(s, dir)
        .filter(col("event_type").isin("signup", "purchase"))
        .select(
          col("user_id").cast("long").as("user_id"),
          col("ts"),
          col("event_type").as("kind"),
          col("event_id")),
      unix_micros(col("ts")))
      .localCheckpoint() // the three per-file writes replay this, not the fact scan
    // The SLA processor is order-sensitive ACROSS batches — a purchase
    // batch surfacing before its signup batch is silently dropped,
    // flipping a convert into a breach; appendFeedFiles' forced
    // strictly-increasing mtimes guarantee write-order replay.
    val outcomes = runGate(
      s,
      "graft-q222",
      (1 to 3).map(i => evs.filter(col("fidx") === i).drop("fidx", "event_id")),
      sortCols = Seq(col("ts")),
      outputMode = "update")(
      _.withWatermark("ts", "1 day")
        .as[SlaEvent]
        .groupByKey(_.user_id)
        .transformWithState(
          new SlaProcessor,
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Update()))
    val cut = evs.agg(
      (max(unix_micros(col("ts"))) - lit(3L * 86400000000L)).as("c"))
    outcomes
      .crossJoin(broadcast(cut))
      .filter(col("kind") === "convert" || col("at_us") <= col("c"))
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("user_id")).as("id_sum"),
        sum(col("at_us")).as("at_us_sum"))
      .orderBy("kind")
  }

  /** q237 — stream-stream LEFT OUTER interval join run to completion
    * under the DuckDB oracle (streaming gate #13, and the first to
    * exercise the OUTER side of the join state machine): clicks LEFT
    * JOIN purchases by the same user within [click, click + 30 min],
    * where an unmatched click is emitted null-extended only once the
    * WATERMARK proves no matching purchase can still arrive — the
    * "which impressions never converted" stream every attribution
    * pipeline runs next to its inner join (q164).
    *
    * Order discipline: unlike q164's inner join (content-commutative),
    * outer-join EVICTION is order-sensitive — if a later feed file
    * surfaced first, the watermark would jump and the earlier file's
    * clicks would be dropped as late. The feed therefore uses the
    * q222 contract: three [[chronoFidx]] event-time range files with
    * strictly increasing forced mtimes, so micro-batches ingest in
    * event-time order. Watermark delay 2 days (intentionally INSIDE the fixture
    * span, unlike q164's 45 days — null emission requires the
    * watermark to actually move); the batch tail and the oracle both
    * cut at a literal ≥ 2 days below the final watermark resting
    * position, so the answer never encodes where the watermark
    * stopped or whether a final no-data batch flushed the tail
    * (the q207/q222 doctrine).
    *
    * The oracle is the PLAIN relational left join with the same
    * interval predicate and cutoff — the streamed pair multiplicities
    * and orphan rows must land on it exactly. Scale: join state is
    * watermark-bounded on both sides; per-trigger work ∝ arriving
    * rows; the tail is one bucket rollup.
    */
  private def q237StreamLeftJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = chronoFidx(
      graft.ops.Tables
        .events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts")),
      unix_micros(col("ts")))
      .localCheckpoint() // the three per-file writes replay this, not the fact scan
    // Shuffle partitions: scoped by [[withGateConf]] like every other
    // gate (the round-11 finding — a stream-stream OUTER join keeps
    // FOUR state stores per partition per micro-batch, so 32
    // partitions × 3 batches meant ~384 store open/commit cycles,
    // 36.9 s cold — is fully carried by the scope).
    runGate(
      s,
      "graft-q237",
      (1 to 3).map(i => ev.filter(col("fidx") === i).drop("fidx")),
      sortCols = Seq(col("ts")))(raw =>
      clickAttribution(
        clicks = raw.filter(col("event_type") === "click"),
        purchases = raw.filter(col("event_type") === "purchase"),
        watermarkDelay = "2 days",
        attributionWindow = "30 minutes",
        joinType = "leftOuter"))
      .filter(col("click_ts") <= lit(java.sql.Timestamp.valueOf("2024-01-24 00:00:00")))
      .groupBy((col("user_id") % 10L).as("bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("purchase_id").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        countDistinct(col("click_id")).as("n_clicks"),
        sum(when(col("purchase_id").isNull, 1L).otherwise(0L)).as("n_orphans"))
      .orderBy("bucket")
  }

  // Every gate runs under [[withGateConf]]; the Boolean says whether
  // it runs on the RocksDB state store.
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q237_stream_left_join" -> (q237StreamLeftJoin _, false),
    "q229_stream_warm_start" -> (q229StreamWarmStart _, true),
    "q226_stream_user_topk" -> (q226StreamUserTopk _, true),
    "q222_stream_sla_timeout" -> (q222StreamSlaTimeout _, true),
    "q217_stream_dim_join" -> (q217StreamDimJoin _, true),
    "q211_stream_dedup" -> (q211StreamDedup _, true),
    "q210_stream_kmv" -> (q210StreamKmv _, true),
    "q207_stream_sessionize" -> (q207StreamSessionize _, true),
    "q204_stream_neardup" -> (q204StreamNeardup _, true),
    "q193_stream_wallet" -> (q193StreamWallet _, true),
    "q164_stream_interval_join" -> (q164StreamIntervalJoin _, false),
    "q155_stream_window_agg" -> (q155StreamWindowAgg _, false),
    "q148_stream_cdc_latest" -> (q148StreamCdcLatest _, true)
  ).map { case (name, (fn, rocksDb)) =>
    name -> ((s: SparkSession, dir: String) => withGateConf(s, rocksDb)(fn(s, dir)))
  }

  /** q148's oracle IS the batch q102 formulation: the streamed
    * latest-image view must compact the identical log to the identical
    * final state.
    */
  val oracles: Map[String, String] = Map(
    // the plain relational left join with the identical interval
    // predicate and pre-watermark cutoff — pair multiplicities and
    // orphan rows must match the streamed outer join exactly
    "q237_stream_left_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, ts FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |c AS (
        |  SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM e WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id AS p_user_id, event_id AS purchase_id,
        |    ts AS purchase_ts
        |  FROM e WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT c.user_id, c.click_id, p.purchase_id
        |  FROM c LEFT JOIN p ON c.user_id = p.p_user_id
        |    AND p.purchase_ts >= c.click_ts
        |    AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
        |  WHERE c.click_ts <= TIMESTAMP '2024-01-24 00:00:00')
        |SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN purchase_id IS NOT NULL THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_matched,
        |  CAST(count(DISTINCT click_id) AS BIGINT) AS n_clicks,
        |  CAST(sum(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_orphans
        |FROM j GROUP BY 1 ORDER BY bucket""".stripMargin,
    // full-range per-user totals, restricted to users the stream
    // touched (≥1 post-cutover purchase) — seed + fold must compose
    "q229_stream_warm_start" ->
      """WITH p AS (
        |  SELECT user_id, ts,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |touched AS (
        |  SELECT DISTINCT user_id FROM p
        |  WHERE ts >= TIMESTAMP '2024-01-16')
        |SELECT p.user_id,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(cents) AS BIGINT) AS cents_total
        |FROM p JOIN touched USING (user_id)
        |GROUP BY 1 ORDER BY user_id""".stripMargin,
    // ranked top-3 per user with the same (cents desc, event_id)
    // tie-break and -1 fill for absent ranks
    "q226_stream_user_topk" ->
      """WITH p AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |    row_number() OVER (
        |      PARTITION BY user_id
        |      ORDER BY CAST(floor(value * 100 + 0.5) AS BIGINT) DESC,
        |               event_id ASC) AS r
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  coalesce(max(CASE WHEN r = 1 THEN cents END), -1) AS top1_cents,
        |  coalesce(max(CASE WHEN r = 2 THEN cents END), -1) AS top2_cents,
        |  coalesce(max(CASE WHEN r = 3 THEN cents END), -1) AS top3_cents
        |FROM p GROUP BY 1 ORDER BY user_id""".stripMargin,
    // first-signup windows, first qualifying purchase inside (s, s+24h],
    // breach deadlines gated at max(fed ts) - 3 days — the same cutoff
    // the gate's tail applies, two days below the final watermark
    "q222_stream_sla_timeout" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_type FROM events
        |  WHERE event_type IN ('signup', 'purchase')),
        |cutoff AS (SELECT max(us) - 259200000000 AS c FROM ev),
        |su AS (
        |  SELECT user_id, min(us) AS s_us FROM ev
        |  WHERE event_type = 'signup' GROUP BY 1),
        |conv AS (
        |  SELECT su.user_id, min(e.us) AS p_us
        |  FROM su JOIN ev e ON e.user_id = su.user_id
        |    AND e.event_type = 'purchase'
        |    AND e.us > su.s_us AND e.us <= su.s_us + 86400000000
        |  GROUP BY 1),
        |outc AS (
        |  SELECT su.user_id,
        |    CASE WHEN conv.user_id IS NOT NULL THEN 'convert'
        |         ELSE 'breach' END AS kind,
        |    CASE WHEN conv.user_id IS NOT NULL THEN conv.p_us
        |         ELSE su.s_us + 86400000000 END AS at_us
        |  FROM su LEFT JOIN conv USING (user_id)),
        |filt AS (
        |  SELECT * FROM outc, cutoff
        |  WHERE kind = 'convert' OR at_us <= c)
        |SELECT kind, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(user_id) AS BIGINT) AS id_sum,
        |  CAST(sum(at_us) AS BIGINT) AS at_us_sum
        |FROM filt GROUP BY 1 ORDER BY kind""".stripMargin,
    // the whole enrich-join + segment rollup recomputed relationally
    "q217_stream_dim_join" ->
      """SELECT c.c_mktsegment AS segment,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS cents_total,
        |  CAST(sum(CASE WHEN e.event_type = 'purchase'
        |                THEN CAST(floor(e.value * 100 + 0.5) AS BIGINT)
        |                ELSE 0 END) AS BIGINT) AS purchase_cents
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id
        |GROUP BY 1 ORDER BY segment""".stripMargin,
    // event_id is unique in the fixture, so the deduped stream IS the
    // base table; fed counts replay the three feed branches
    "q211_stream_dedup" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |fed AS (
        |  SELECT event_type, count(*) AS n_fed FROM (
        |    SELECT event_id, event_type FROM e
        |    UNION ALL SELECT event_id, event_type FROM e WHERE event_id % 7 = 0
        |    UNION ALL SELECT event_id, event_type FROM e WHERE event_id % 11 = 3)
        |  GROUP BY 1),
        |uniq AS (
        |  SELECT event_type, count(*) AS n_emitted,
        |    CAST(sum(cents) AS BIGINT) AS cents_total
        |  FROM e GROUP BY 1)
        |SELECT event_type,
        |  CAST(n_fed AS BIGINT) AS n_fed,
        |  CAST(n_emitted AS BIGINT) AS n_emitted,
        |  CAST(n_fed - n_emitted AS BIGINT) AS n_suppressed,
        |  cents_total
        |FROM uniq JOIN fed USING (event_type)
        |ORDER BY event_type""".stripMargin,
    // the KMV sketch recomputed from scratch: same portable hash,
    // DISTINCT hash values (the state is a set of hashes), same
    // (k-1)*M // h_k integer estimator and exact-below-k fallback
    "q210_stream_kmv" ->
      """WITH pc AS (
        |  SELECT DISTINCT event_type AS g, user_id AS u FROM events),
        |hd AS (
        |  SELECT DISTINCT g,
        |    ((u % 1000000007) * 1103515245 + 12345) % 1000000007 AS h
        |  FROM pc),
        |r AS (SELECT g, h,
        |        row_number() OVER (PARTITION BY g ORDER BY h) AS r FROM hd),
        |kmv AS (SELECT g, max(h) AS theta, count(*) AS kn
        |        FROM r WHERE r <= 128 GROUP BY 1),
        |ex AS (SELECT g, count(*) AS n FROM pc GROUP BY 1),
        |est AS (
        |  SELECT kmv.g,
        |    CASE WHEN kn < 128 THEN kn
        |         ELSE 127::BIGINT * 1000000007 // theta END AS e,
        |    kn, ex.n
        |  FROM kmv JOIN ex ON ex.g = kmv.g)
        |SELECT g AS event_type,
        |  CAST(e AS BIGINT) AS n_users_est,
        |  CAST(kn AS BIGINT) AS sketch_n,
        |  CAST(n AS BIGINT) AS n_users_exact,
        |  CAST(abs(e - n) * 10000 // n AS BIGINT) AS err_bp
        |FROM est ORDER BY event_type""".stripMargin,
    // q65's verified gap>30min session assignment (a gap of exactly
    // 30 minutes stays in-session), the same non-final filter
    // (session_end < the user's max event time), the same rollup
    "q207_stream_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us FROM events),
        |f AS (
        |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |                   OR us - lag(us) OVER w > 1800000000
        |                 THEN 1 ELSE 0 END AS chg
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |i AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY us
        |                           ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM f),
        |sessions AS (
        |  SELECT user_id, sess, min(us) AS s_us, max(us) AS e_us,
        |    count(*) AS n
        |  FROM i GROUP BY 1, 2),
        |umax AS (SELECT user_id, max(us) AS mx FROM ev GROUP BY 1)
        |SELECT user_id % 10 AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(sum(e_us - s_us) AS BIGINT) AS dur_us_total,
        |  CAST(max(n) AS BIGINT) AS max_session_events
        |FROM sessions JOIN umax USING (user_id)
        |WHERE e_us < mx
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    // d2's exhaustive exact-Jaccard SQL (no minhash replication —
    // the gate's verified flag set equals truth per the recall
    // argument in the scaladoc), rolled up to per-lang flag counts
    "q204_stream_neardup" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
        |      FOR i IN range(1, len(t) - 1)]) AS shingles
        |  FROM tok WHERE len(t) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |ver AS (
        |  SELECT id_a, id_b
        |  FROM pairs JOIN sizes sa ON id_a = sa.doc_id
        |             JOIN sizes sb ON id_b = sb.doc_id
        |  WHERE shared::DOUBLE / (sa.n + sb.n - shared) >= 0.5),
        |fl AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT id_a AS doc_id FROM ver
        |    UNION ALL SELECT id_b AS doc_id FROM ver))
        |SELECT d.lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_neardup_docs,
        |  CAST(sum(CASE WHEN fl.doc_id IS NOT NULL THEN d.doc_id ELSE 0 END)
        |       AS BIGINT) AS neardup_id_sum
        |FROM documents d LEFT JOIN fl USING (doc_id)
        |GROUP BY 1 ORDER BY d.lang""".stripMargin,
    // the streamed order-dependent fold must land exactly on the
    // batch twin's replay
    "q193_stream_wallet" ->
      graft.ops.Relational.oracles("q189_clamped_balance"),
    // the whole stream-stream interval join recomputed relationally:
    // same user key, same inclusive 30-minute bound, same bucket rollup
    "q164_stream_interval_join" ->
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id, ts AS cts
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, event_id AS purchase_id, ts AS pts,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |pr AS (
        |  SELECT c.user_id, p.purchase_id, c.click_id, p.cents
        |  FROM c JOIN p ON p.user_id = c.user_id
        |    AND p.pts >= c.cts
        |    AND p.pts <= c.cts + INTERVAL 30 MINUTE)
        |SELECT user_id % 10 AS bucket, count(*) AS n_pairs,
        |  CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
        |  CAST(sum(cents) AS BIGINT) AS cents_total
        |FROM pr GROUP BY 1 ORDER BY bucket""".stripMargin,
    // every event in exactly one hour window; exact integer cents
    "q155_stream_window_agg" ->
      """WITH e AS (
        |  SELECT event_type, date_trunc('hour', ts) AS w,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |g AS (
        |  SELECT event_type, w, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS cents
        |  FROM e GROUP BY 1, 2)
        |SELECT event_type, count(*) AS n_windows,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS cents_total,
        |  CAST(max(n) AS BIGINT) AS max_window_n
        |FROM g GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q148_stream_cdc_latest" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |base AS (SELECT * FROM o WHERE k % 4 <> 0),
        |log AS (
        |  SELECT 1 AS seq, 'U' AS op, k, cents + 111 AS cents FROM o WHERE k % 10 = 1
        |  UNION ALL
        |  SELECT 2, 'D', k, CAST(NULL AS BIGINT) FROM o WHERE k % 20 = 2
        |  UNION ALL
        |  SELECT 3, 'I', k, cents FROM o WHERE k % 4 = 0
        |  UNION ALL
        |  SELECT 4, 'U', k, cents + 999 FROM o WHERE k % 40 = 22),
        |latest AS (
        |  SELECT k, op, cents FROM (
        |    SELECT k, op, cents,
        |      row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |    FROM log) WHERE rn = 1),
        |fin AS (
        |  SELECT k, cents FROM base WHERE k NOT IN (SELECT k FROM latest)
        |  UNION ALL
        |  SELECT k, cents FROM latest WHERE op <> 'D')
        |SELECT k % 10 AS bucket, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents_total
        |FROM fin GROUP BY 1 ORDER BY bucket""".stripMargin)
}
