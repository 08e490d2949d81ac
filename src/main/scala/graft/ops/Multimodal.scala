package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column operators: image/audio/video as opaque `binary`
  * payloads with typed metadata structs (north-star mandate; the
  * reference's data plane is JSON→Parquet only, so this is pure
  * extension surface).
  *
  * Design for 100 TB: payloads stay `BinaryType` end-to-end (no
  * base64 strings), metadata travels in a sibling struct so pruning a
  * metadata-only query never touches payload bytes in the parquet
  * scan, and decode/feature-extraction runs as `mapPartitions` over a
  * typed Dataset — one codec handle per PARTITION, not per row, which
  * is the batch shape that matters when the decoder is an expensive
  * native library. The decode step itself is STUBBED
  * ([[FakeImageDecoder]]): this container has no image/audio codecs,
  * so a deterministic fake stands in behind the same interface, and
  * everything around it (schema, partitioning, batch iteration,
  * feature output) is real and oracle-/spec-tested.
  *
  * The fixture corpus has no binary table, so payloads are derived
  * deterministically from `documents.text` (UTF-8 bytes) — which keeps
  * the DuckDB oracle applicable to the metadata/plumbing queries (m1,
  * m2).
  */
object Multimodal {

  /** One media row: payload + typed metadata, the storage schema a
    * multimodal training corpus would use.
    */
  final case class MediaRow(
      doc_id: Long,
      format: String,
      width: Int,
      height: Int,
      payload: Array[Byte]
  )

  /** Extracted per-image features (stub-decoded). */
  final case class ImageFeatures(
      doc_id: Long,
      format: String,
      n_bytes: Int,
      mean_byte: Double,
      fingerprint: Long
  )

  private val Formats = Seq("jpeg", "png", "webp")

  /** The `media` view: documents dressed as a multimodal table —
    * binary payload (UTF-8 text bytes) + deterministic image-ish
    * metadata. At scale this is the parquet layout: payload column
    * last, metadata first, so metadata-only scans prune the bytes.
    */
  def media(s: SparkSession, dir: String): DataFrame =
    Tables
      .spread(Tables.documents(s, dir))
      .select(
        col("doc_id"),
        element_at(
          array(Formats.map(lit): _*),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("format"),
        (lit(64) + pmod(col("doc_id") * 7, lit(193))).cast("int").as("width"),
        (lit(64) + pmod(col("doc_id") * 13, lit(129))).cast("int").as("height"),
        encode(col("text"), "UTF-8").as("payload"))

  /** m1 — metadata-plane statistics per format: row counts, payload
    * byte totals, average megapixels. Everything here should come from
    * metadata and payload LENGTH only — a plan that decodes payloads
    * to answer it is wrong at any scale.
    */
  def m1MediaStats(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .groupBy(col("format"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(length(col("payload")).cast("long")).as("total_bytes"),
        round(avg(col("width") * col("height")) / 1e6, 6).as("avg_megapixels"))
      .orderBy("format")

  /** m2 — frame sampling plumbing for video-shaped media: every media
    * row fans out to its sampled frame timeline (1 fps over a
    * duration derived from payload size, sampled every 5th frame) —
    * the explode-to-frames shape a video pipeline uses before per-frame
    * decode. Output is one row per sampled frame with its timestamp
    * offset; the per-frame decode itself would be the m3 mapPartitions
    * stage.
    */
  def m2FrameSample(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .withColumn("duration_s", expr("length(payload) div 32").cast("int"))
      .select(
        col("doc_id"),
        col("duration_s"),
        explode(sequence(lit(0), col("duration_s"), lit(5))).as("frame_s"))
      .orderBy("doc_id", "frame_s")

  /** m3 — stub-decoded image features via typed `mapPartitions`: the
    * Scala analog of a vectorized Python UDF. One decoder handle per
    * partition; rows stream through it as a batch iterator. Features
    * are deterministic functions of the payload bytes, pinned by the
    * unit spec AND the DuckDB gate (the fingerprint is mod-arithmetic,
    * so the oracle recomputes every feature from the same bytes).
    * The decoder arrives through the [[Codec.Provider]] seam — a real
    * JPEG codec swaps in without touching this plan (MultimodalSpec
    * proves the swap with [[Codec.XorMaskedProvider]]).
    */
  def m3ImageFeatures(
      s: SparkSession,
      dir: String,
      codecs: Codec.Provider = Codec.Stub): DataFrame = {
    import s.implicits._
    val ds: Dataset[MediaRow] = media(s, dir).as[MediaRow]
    ds.mapPartitions { rows =>
      // one (expensive, in real life) codec per partition, closed with it
      val decoder = codecs.openImageDecoder()
      rows.map { m =>
        val d = decoder.decode(m.payload)
        ImageFeatures(m.doc_id, m.format, d.nBytes, d.meanByte, d.fingerprint)
      }
    }.toDF()
      .select(
        col("doc_id"),
        col("format"),
        col("n_bytes"),
        round(col("mean_byte"), 4).as("mean_byte"),
        col("fingerprint"))
      .orderBy("doc_id")
  }

  /** Post-resize metadata row (payload itself stays binary;
    * `n_bytes_out` proves the byte plumbing ran).
    */
  final case class ResizedMeta(
      doc_id: Long,
      format: String,
      scale: Int,
      new_width: Int,
      new_height: Int,
      n_bytes_out: Int
  )

  /** m4 — thumbnail resize plumbing: box-fit every image into a 64×64
    * budget with ONE integer scale factor for both axes (aspect
    * preserved), run as `mapPartitions` with one resizer handle per
    * partition — the same batch shape as m3's decode. The stub
    * resizer's byte transform (keep every scale-th byte) is
    * deterministic integer arithmetic, so unlike m3's hash features
    * the whole output is SQL-expressible and the DuckDB gate checks
    * it end-to-end.
    */
  def m4Resize(
      s: SparkSession,
      dir: String,
      codecs: Codec.Provider = Codec.Stub): DataFrame = {
    import s.implicits._
    val ds: Dataset[MediaRow] = media(s, dir).as[MediaRow]
    ds.mapPartitions { rows =>
      val resizer = codecs.openImageResizer(box = 64)
      rows.map { m =>
        val r = resizer.resize(m.width, m.height, m.payload)
        ResizedMeta(m.doc_id, m.format, r.scale, r.width, r.height, r.payload.length)
      }
    }.toDF().orderBy("doc_id")
  }

  /** m5 — content-defined chunking for blob-level dedup: a rolling
    * hash over the payload stream cuts chunk boundaries wherever the
    * hash of the trailing 8-byte window ≡ 0 (mod 32) — boundaries
    * follow CONTENT, so an insertion early in a blob shifts only the
    * chunk it lands in, and identical regions of different blobs
    * produce identical chunk fingerprints. That is the storage-dedup
    * primitive (rsync/LBFS/backup systems) applied to a multimodal
    * corpus: shared chunks across payloads are found by one
    * fingerprint shuffle, never byte comparison.
    *
    * The fixture payloads are ASCII text bytes, so character ops
    * mirror byte ops exactly and the whole path (including the DuckDB
    * oracle) runs on engine-portable mod-1e9+7 arithmetic. Cut points
    * come from the native O(len) sliding-hash kernel
    * ([[graft.functions.CdcCutPoints]]; the declarative window-fold
    * equivalent ran O(len·W) interpreted — 6.8 s vs 1.7 s at sf0.1);
    * chunk fingerprints are md5 over the cut substrings. Output per
    * doc: chunk count plus how many of its chunk instances recur in
    * at least one other document.
    */
  def m5CdcChunks(s: SparkSession, dir: String): DataFrame = {
    val w = 8
    val modulus = 32
    val chunks = Tables
      .documents(s, dir)
      .filter(length(col("text")) >= w)
      .select(
        col("doc_id"),
        col("text"),
        // O(len) sliding-hash kernel; equals the declarative
        // window-fold bit-for-bit (scaladoc on CdcCutPoints)
        graft.functions.CdcCutPoints
          .cdcCutPoints(col("text"), w, modulus)
          .as("cuts"))
      .select(
        col("doc_id"),
        col("text"),
        explode(
          array(
            struct(
              concat(array(lit(1)), col("cuts")).as("starts"),
              concat(col("cuts"), array(length(col("text")) + 1)).as("ends"))))
          .as("se"))
      .select(
        col("doc_id"),
        explode(
          transform(
            sequence(lit(1), size(col("se.starts"))),
            j =>
              md5(
                col("text").substr(
                  element_at(col("se.starts"), j),
                  element_at(col("se.ends"), j) - element_at(col("se.starts"), j)))))
          .as("fp"))
    val docCounts = chunks
      .groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    chunks
      .join(docCounts, "fp")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared_chunks"))
      .orderBy("doc_id")
  }

  /** m6 — perceptual-hash near-duplicate detection for media
    * payloads: the image-dedup primitive (pHash/blockhash family)
    * that catches the SAME image re-encoded — where byte-exact
    * fingerprints (d1, m5's chunk hashes) see entirely different
    * bytes. The payload is divided into 32 equal spans; bit k is set
    * when span k's mean exceeds the global mean; near-duplicates are
    * pairs within Hamming distance 3, found by 4×8-bit band blocking
    * (pigeonhole: ≤3 flipped bits leave ≥1 of 4 bands exact — the d3
    * SimHash machinery applied to the binary plane). Mean-threshold
    * bits are BRIGHTNESS-INVARIANT: a uniform intensity shift moves
    * every span mean and the global mean together, flipping nothing.
    *
    * The corpus under test plants exactly that regime (d10's
    * precedent): a +1-per-byte "re-encoded" copy of every payload
    * (id + 1e6). Exact fingerprints see different bytes; the
    * perceptual hash must land every planted pair at Hamming 0 —
    * which also pins the invariance property through the oracle.
    * Thresholds compare integer cross-products (span_sum·n vs
    * total·span_len), so both engines agree exactly.
    *
    * The fixture's payloads are ASCII text bytes (m5's note), so
    * char-code ops mirror byte ops; block-mean bits over pixel bytes
    * are the same arithmetic after a real decode (m3's stage).
    *
    * At 100 TB: the hash is scan-side (one long per payload); only
    * (doc_id, phash, band) rows shuffle for the bucket join — work ∝
    * bucket co-occupancy, never n²; the verify is bit_count on two
    * longs.
    */
  def m6PerceptualNearDup(s: SparkSession, dir: String): DataFrame = {
    val B = 32
    // one fused native pass per row over the string's OWN bytes
    // (ASCII corpus ⇒ bytes == code points, the equivalence m3's
    // oracle already rests on): no split, no per-char lambda array,
    // and the planted "+1 brightness" re-encode rides the kernel as a
    // constant shift instead of a second interpreted array pass. The
    // three formulations measured 3.5 → 2.3 → 1.2 s at sf0.1 — the
    // middle one still spent more time MATERIALIZING its code-point
    // arrays than hashing them.
    val base = Tables
      .spread(Tables.documents(s, dir))
      .filter(length(col("text")) >= B)
    val hashed = base
      .select(
        col("doc_id"),
        graft.functions.MeanThresholdBits
          .meanThresholdBitsOfString(col("text"), B, 0)
          .as("phash"))
      .unionAll(base.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        graft.functions.MeanThresholdBits
          .meanThresholdBitsOfString(col("text"), B, 1)
          .as("phash")))
    val keyed = hashed
      .select(col("doc_id"), col("phash"), explode(sequence(lit(0), lit(3))).as("j"))
      .withColumn("bk", expr("shiftright(phash, 8 * j) & 255"))
    keyed
      .as("a")
      .join(
        keyed.as("b"),
        col("a.j") === col("b.j") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("id_a"),
        col("b.doc_id").as("id_b"),
        col("a.phash").as("pa"),
        col("b.phash").as("pb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(pa ^ pb)").cast("int"))
      .filter(col("hamming") <= 3)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** Per-payload audio framing summary (stub-decoded). */
  final case class AudioFrames(
      doc_id: Long,
      n_frames: Int,
      n_silent: Int,
      total_energy: Long,
      peak_energy: Long
  )

  /** Pruned (id, payload) projection for audio-plane queries. Public:
    * Encoder codegen instantiates it from generated code.
    */
  final case class AudioRow(doc_id: Long, payload: Array[Byte])

  /** m7 — audio framing + voice-activity stub: payloads stream
    * through a per-partition decoder that frames the byte stream into
    * fixed 200-byte windows and computes per-frame energy (the
    * PCM-analysis batch shape: one codec/FFT handle per PARTITION,
    * frames iterated inside it). "Silence" is an exact integer
    * comparison — `energy < 92 × frame_len` (energy and length both
    * integers, so no mean-float boundary) — standing in for a real
    * VAD threshold. Scan-side: only doc_id + payload are read
    * (metadata pruned); zero shuffles before the final dimension-sized
    * sort. The stub arithmetic is pure byte sums, so the DuckDB
    * oracle re-frames the same bytes and checks every count exactly.
    */
  def m7AudioFrames(
      s: SparkSession,
      dir: String,
      codecs: Codec.Provider = Codec.Stub): DataFrame = {
    import s.implicits._
    val ds = media(s, dir).select(col("doc_id"), col("payload")).as[AudioRow]
    ds.mapPartitions { rows =>
      val dec = codecs.openAudioAnalyzer(frameLen = 200, silenceMeanByte = 92)
      rows.map { r =>
        val f = dec.analyze(r.payload)
        AudioFrames(r.doc_id, f.nFrames, f.nSilent, f.totalEnergy, f.peakEnergy)
      }
    }.toDF().orderBy("doc_id")
  }

  /** Per-doc frame-energy vector (m8's decode stage output row). */
  final case class FrameEnergies(doc_id: Long, energies: Array[Long])

  /** [[FrameEnergies]] plus the payload byte length, for operators
    * whose per-frame threshold scales by the ACTUAL frame length
    * (m7's convention) — the trailing partial frame is
    * `nb − 200·i` bytes, not 200.
    */
  final case class FrameEnergiesLen(doc_id: Long, nb: Long, energies: Array[Long])

  /** Frame energies of every media payload, as (doc_id, energies):
    * 200-byte frames, decoded once per payload inside `mapPartitions`
    * (the codec contract). Shared by m8, m17 and m21.
    */
  private def frameEnergies(s: SparkSession, dir: String, codecs: Codec.Provider): DataFrame = {
    import s.implicits._
    media(s, dir)
      .select(col("doc_id"), col("payload"))
      .as[AudioRow]
      .mapPartitions { rows =>
        val dec = codecs.openAudioAnalyzer(frameLen = 200, silenceMeanByte = 92)
        rows.map(r => FrameEnergies(r.doc_id, dec.frameEnergies(r.payload)))
      }
      .toDF()
  }

  /** m8's scene cuts, shared with m21: one (doc_id, i, e) row per frame
    * with the scene number it falls in — a new scene starts where the
    * energy moves more than 1000 from the previous frame's, and `scene`
    * counts the cuts so far along the doc's timeline.
    */
  private def sceneFrames(energies: DataFrame): DataFrame = {
    val theta = 1000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy("i")
    energies
      .select(col("doc_id"), posexplode(col("energies")).as(Seq("i", "e")))
      .withColumn("prev", lag(col("e"), 1).over(w))
      .withColumn(
        "cut",
        (col("prev").isNotNull && abs(col("e") - col("prev")) > theta)
          .cast("long"))
      .withColumn("scene", sum(col("cut")).over(w))
  }

  /** m8 — scene segmentation for video-shaped media: cut the frame
    * timeline where consecutive frame energies jump by more than a
    * threshold, then report per-title scene statistics. The shape is
    * the production video-pipeline split: DECODE ONCE per payload in
    * the batch-codec stage (the honest-stub mapPartitions contract m3/
    * m4/m7 establish — here emitting the per-frame energy vector a
    * real decoder would), then SEGMENT RELATIONALLY — posexplode to
    * frames, one lag window for cut detection, a running sum turning
    * cut flags into scene ids, two rollups for the stats. Everything
    * after the decoder is exact integers, so the full output
    * hash-matches the oracle's replay of the same framing.
    *
    * At 100 TB: payloads are decoded exactly once and never shuffled —
    * only (doc_id, energy) frame rows (16 bytes) enter the window
    * exchange, partitioned by doc so every window is one title's
    * timeline; scene stats collapse frames before anything crosses a
    * second exchange.
    */
  def m8SceneCuts(
      s: SparkSession,
      dir: String,
      codecs: Codec.Provider = Codec.Stub): DataFrame = {
    sceneFrames(frameEnergies(s, dir, codecs))
      .groupBy(col("doc_id"), col("scene"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_scenes"),
        sum(col("len")).as("n_frames"),
        max(col("len")).as("longest_scene"),
        min(col("len")).as("shortest_scene"))
      .orderBy("doc_id")
  }

  /** The content-defined chunk table m9 and m12 share: every document
    * of at least 8 characters cut where its rolling fingerprint (window
    * 8) hits 0 mod 32, one (doc_id, source, fp, len) row per chunk,
    * `fp` the chunk's md5.
    */
  private def contentChunks(s: SparkSession, dir: String): DataFrame = {
    val w = 8
    val modulus = 32
    Tables
      .documents(s, dir)
      .filter(length(col("text")) >= w)
      .select(
        col("doc_id"),
        col("source"),
        col("text"),
        graft.functions.CdcCutPoints
          .cdcCutPoints(col("text"), w, modulus)
          .as("cuts"))
      .select(
        col("doc_id"),
        col("source"),
        col("text"),
        concat(array(lit(1)), col("cuts")).as("starts"),
        concat(col("cuts"), array(length(col("text")) + 1)).as("ends"))
      .select(
        col("doc_id"),
        col("source"),
        explode(
          transform(
            sequence(lit(1), size(col("starts"))),
            j =>
              struct(
                md5(
                  col("text").substr(
                    element_at(col("starts"), j),
                    element_at(col("ends"), j) - element_at(col("starts"), j)))
                  .as("fp"),
                (element_at(col("ends"), j) - element_at(col("starts"), j))
                  .cast("long")
                  .as("len")))).as("c"))
      .select(col("doc_id"), col("source"), col("c.fp").as("fp"), col("c.len").as("len"))
  }

  /** m9 — chunk-level storage dedup ratio: what a content-addressed
    * store would actually SAVE per source feed — m5 finds which blobs
    * share regions; this prices it (total chunk bytes vs bytes after
    * fingerprint dedup, per source, in exact integer permille). The
    * content-defined boundaries are the point: an insertion shifts
    * only its own chunk, so shared runs between re-encoded/extended
    * payloads still land on identical fingerprints — fixed-size
    * blocks would lose alignment after the first edit. Chunk length
    * rides the fingerprint row (same content ⇒ same length; min() is
    * pure determinism hygiene), so the rollup never re-reads
    * payloads. At 100 TB the fingerprint table IS the store index:
    * one (source, fp) exchange of 16-byte keys prices the entire
    * dedup opportunity without moving a single payload byte.
    */
  def m9ChunkDedupRatio(s: SparkSession, dir: String): DataFrame = {
    val chunks = contentChunks(s, dir)
    val totals = chunks
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("len")).as("bytes_total"))
    val unique = chunks
      .groupBy(col("source"), col("fp"))
      .agg(min(col("len")).as("len"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_unique"), sum(col("len")).as("bytes_unique"))
    totals
      .join(unique, "source")
      .withColumn(
        "saved_permille",
        expr("((bytes_total - bytes_unique) * 1000) div bytes_total"))
      .orderBy("source")
  }

  /** m12 — content-addressed store GC planner: given a deletion set
    * (docs with `doc_id % 7 = 0` — a retention policy stand-in), which
    * chunks does the per-source dedup store actually FREE, and how
    * many bytes? A chunk is freed only when its LAST referencing doc
    * dies — the mark-sweep rule every content-addressed store (and
    * every dedup'd training-corpus blob cache) runs before reclaiming
    * space; deleting a doc whose chunks are shared reclaims nothing.
    * Same content-defined chunking as m5/m9 (boundaries follow
    * content, so shared regions share fingerprints). Exact integers
    * end-to-end. Plan: ONE (source, fp) exchange carrying 16-byte
    * keys + two counts — refcount math never re-reads payloads, so at
    * 100 TB the GC plan costs one fingerprint-table pass, which is
    * the point of planning deletes on the index instead of the store.
    */
  def m12ChunkGc(s: SparkSession, dir: String): DataFrame = {
    val chunks = contentChunks(s, dir)
    chunks
      .groupBy(col("source"), col("fp"))
      .agg(
        min(col("len")).as("len"),
        count(lit(1)).as("refs_total"),
        sum((col("doc_id") % 7 === 0).cast("long")).as("refs_deleted"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_unique_chunks"),
        sum(col("len")).as("bytes_stored"),
        sum((col("refs_total") === col("refs_deleted")).cast("long")).as("n_freed"),
        sum(when(col("refs_total") === col("refs_deleted"), col("len")).otherwise(0L))
          .as("bytes_freed"),
        sum((col("refs_deleted") > 0 && col("refs_total") > col("refs_deleted")).cast("long"))
          .as("n_pinned_by_survivors"))
      .withColumn("freed_permille", expr("bytes_freed * 1000 div bytes_stored"))
      .orderBy("source")
  }

  /** m10 — aspect-ratio bucketing: every image is assigned to the
    * nearest of five canonical aspect buckets (1:2, 3:4, 1:1, 4:3,
    * 2:1) and each bucket is cut into fixed-size training batches —
    * the batching primitive image-generation training uses so a batch
    * resizes to ONE shape with minimal distortion. Nearest-bucket is
    * decided in EXACT integer arithmetic: the true distance
    * |w/h − bw/bh| equals |w·bh − h·bw|/(h·bh), h is constant across
    * candidates, so scaling each |w·bh − h·bw| by 12/bh (12 =
    * lcm of the bh's) makes the five distances exactly comparable
    * integers — no float ratio, no knife-edge; ties take the
    * smallest bucket index via first-match CASE. Metadata-only: the
    * plan must never touch payload bytes (width/height live in the
    * leading columns; the parquet scan prunes the binary). Per
    * bucket: media count, full batches of 32, leftover, average
    * megapixels. Scan-local assignment — the only exchange is the
    * 5-group rollup.
    */
  def m10AspectBuckets(s: SparkSession, dir: String): DataFrame = {
    // (index, name, bw, bh); weight = 12 / bh
    val buckets = Seq(
      (1, "tall_1_2", 1, 2),
      (2, "portrait_3_4", 3, 4),
      (3, "square_1_1", 1, 1),
      (4, "landscape_4_3", 4, 3),
      (5, "wide_2_1", 2, 1))
    val ds = buckets.map { case (i, _, bw, bh) =>
      abs(col("width") * bh - col("height") * bw) * lit(12 / bh)
    }
    val m = least(ds: _*)
    val idx = buckets
      .zip(ds)
      .foldRight(lit(-1): org.apache.spark.sql.Column) {
        case (((i, _, _, _), d), acc) => when(d === m, lit(i)).otherwise(acc)
      }
    // foldRight builds WHEN d1=m THEN 1 ELSE WHEN d2=m ... — first
    // match wins, i.e. smallest index on ties
    val names = buckets.map { case (i, n, _, _) => (i, n) }.toMap
    media(s, dir)
      .select(col("doc_id"), col("width"), col("height"))
      .withColumn("bucket", idx)
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_media"),
        expr("count(*) div 32").as("n_full_batches"),
        (count(lit(1)) % 32).as("leftover"),
        round(avg(col("width") * col("height")) / 1e6, 6).as("avg_megapixels"))
      .withColumn(
        "bucket_name",
        element_at(
          map(names.toSeq.sortBy(_._1).flatMap { case (i, n) => Seq(lit(i), lit(n)) }: _*),
          col("bucket")))
      .select(
        col("bucket"), col("bucket_name"), col("n_media"),
        col("n_full_batches"), col("leftover"), col("avg_megapixels"))
      .orderBy("bucket")
  }

  /** m11 — modality coverage audit: per source, how much of the
    * corpus has each aligned modality (text always; binary payload
    * via the media view; an embedding row keyed by the same id) —
    * the completeness report a multimodal training run reads before
    * deciding what it can actually train on (a source with 40%
    * embedding coverage either gets backfilled or down-weighted).
    * Coverage in integer basis points; payload VOLUME from metadata
    * `length(payload)` only — the audit never decodes. Plan: two
    * id-keyed left joins (embedding side is an id-only projection),
    * one source-sized rollup.
    */
  def m11ModalityCoverage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val emb = Tables
      .embeddings(s, dir)
      .select(col("vec_id").as("doc_id"))
      .distinct()
      .withColumn("has_emb", lit(1L))
    val med = media(s, dir).select(col("doc_id"), length(col("payload")).cast("long").as("nb"))
    docs
      .join(emb, Seq("doc_id"), "left")
      .join(med, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("has_emb"), lit(0L))).as("n_with_embedding"),
        expr("(sum(coalesce(has_emb, 0)) * 10000) div count(*)").as("emb_coverage_bp"),
        sum(coalesce(col("nb"), lit(0L))).as("media_bytes"),
        sum(col("n_chars")).as("text_chars"))
      .orderBy("source")
  }

  /** m13 — voice-activity segmentation for audio-shaped media: frames
    * classify as active/silent under m7's energy convention
    * (active ⇔ energy ≥ 92·frame_len, with frame_len the ACTUAL
    * frame length — the trailing partial frame gates at
    * 92·(nb − 200·i), not the full 92·200; round-10 fix, the
    * absolute-18400 gate misclassified loud short tails as silent
    * relative to the stated convention), consecutive active frames
    * merge into segments via gaps-and-islands, and segments shorter
    * than 2 frames drop (the min-duration debounce every VAD
    * applies). Complements m8: scene cuts find BOUNDARIES on energy
    * jumps; this extracts the active REGIONS against an absolute
    * threshold — the speech-mining primitive that decides which audio
    * spans are worth transcribing. Same scale posture as m8: decode
    * once per payload (stub codec behind the [[Codec.Provider]]
    * seam), only 16-byte (doc, energy) frame rows cross the one
    * doc-keyed exchange both windows share, per-doc stats collapse
    * before output.
    */
  def m13VadSegments(
      s: SparkSession,
      dir: String,
      codecs: Codec.Provider = Codec.Stub): DataFrame = {
    import s.implicits._
    val ds = media(s, dir).select(col("doc_id"), col("payload")).as[AudioRow]
    val energies = ds.mapPartitions { rows =>
      val dec = codecs.openAudioAnalyzer(frameLen = 200, silenceMeanByte = 92)
      rows.map(r =>
        FrameEnergiesLen(r.doc_id, r.payload.length.toLong, dec.frameEnergies(r.payload)))
    }.toDF()
    val fr = energies
      .select(col("doc_id"), col("nb"), posexplode(col("energies")).as(Seq("i0", "e")))
    val tot = fr.groupBy(col("doc_id")).agg(count(lit(1)).as("n_frames"))
    val seg = fr
      // m7's per-length rule: the last frame is least(200, nb - 200*i0) bytes
      .filter(col("e") >= lit(92L) * least(lit(200L), col("nb") - lit(200L) * col("i0")))
      .withColumn(
        "isl",
        col("i0") - row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("i0"))))
      .groupBy(col("doc_id"), col("isl"))
      .agg(count(lit(1)).as("len"))
      .filter(col("len") >= 2)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(col("len")).as("active_frames"),
        max(col("len")).as("longest_segment"))
    tot
      .join(seg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_frames"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("active_frames"), lit(0L)).as("active_frames"),
        coalesce(col("longest_segment"), lit(0L)).as("longest_segment"))
      .withColumn("speech_bp", expr("(active_frames * 10000L) div n_frames"))
      .orderBy("doc_id")
  }

  /** m14 — modality-ratio training-batch composition: the multimodal
    * dataloader's batch planner. Rows of each modality take a
    * deterministic per-modality sequence number and fold into 4-slot
    * batches at the 2:1:1 target ratio (2 jpeg, 1 png, 1 webp per
    * batch) by integer division — no shuffle of payloads, no driver
    * loop; the batch id IS arithmetic on the sequence number. The
    * composition report (per-batch modality counts, byte mass,
    * ratio-complete flag) is what the training job validates before
    * an epoch; tail batches where a modality exhausted report
    * `ratio_complete = false` honestly. Scale: one narrow
    * (doc_id, format, nbytes) projection crosses a format-keyed
    * window exchange; payload bytes never move.
    */
  def m14BatchCompose(s: SparkSession, dir: String): DataFrame = {
    val wf = Window.partitionBy(col("format")).orderBy(col("doc_id"))
    media(s, dir)
      .select(col("doc_id"), col("format"), length(col("payload")).cast("long").as("nb"))
      .withColumn("rn", row_number().over(wf))
      .withColumn(
        "batch_id",
        expr("CAST((rn - 1) div (CASE format WHEN 'jpeg' THEN 2 ELSE 1 END) AS BIGINT)"))
      .groupBy(col("batch_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("format") === "jpeg", 1L).otherwise(0L)).as("n_jpeg"),
        sum(when(col("format") === "png", 1L).otherwise(0L)).as("n_png"),
        sum(when(col("format") === "webp", 1L).otherwise(0L)).as("n_webp"),
        sum(col("nb")).as("total_bytes"))
      .withColumn(
        "ratio_complete",
        col("n_jpeg") === 2L && col("n_png") === 1L && col("n_webp") === 1L)
      .orderBy("batch_id")
  }

  /** m15 — cross-modal retrieval plumbing: a TEXT query searches the
    * EMBEDDING-space corpus (the CLIP-style text→image lookup). The
    * text encoder is — per the module's codec convention — a
    * deterministic stand-in (per-dimension sums of the portable
    * polynomial word hash mod a dimension-varying base), so the
    * retrieval semantics are arbitrary-but-exact and the ENTIRE
    * pipeline shape is real and hash-checked: in-engine query
    * encoding as one scan-side expression (no UDF, no driver
    * encode), the query-count-sized encoded set broadcast against
    * the vector corpus, cosine ranking with per-partition top-k
    * pruning. Swapping the real dual encoder in changes the
    * expression, not the plan. At 100 TB: corpus vectors never
    * shuffle; the only exchange carries (q, vec, cos) rows to the
    * ranking window.
    */
  def m15CrossmodalRetrieval(s: SparkSession, dir: String): DataFrame = {
    val enc =
      """transform(sequence(1, 64), j ->
        |  CAST(aggregate(split(text, ' '), 0L, (acc, w) ->
        |    acc + ((aggregate(
        |      transform(split(substring(w, 1, 8), ''),
        |                (c, i) -> ascii(c) * CAST(pow(131, i) AS BIGINT)),
        |      0L, (a, x) -> a + x) % 1000000007) % (700 + j))) AS DOUBLE))"""
        .stripMargin
    val queries = Tables
      .documents(s, dir)
      .filter(col("doc_id") < 10)
      .select(col("doc_id").as("q_doc_id"), expr(enc).as("qv"))
      .withColumn("qnorm", sqrt(Similarity.dot(col("qv"), col("qv"))))
    val corpus = Tables
      .embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(Similarity.dot(col("v"), col("v"))))
    val w = Window
      .partitionBy(col("q_doc_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    corpus
      .crossJoin(broadcast(queries))
      .withColumn(
        "cos",
        Similarity.dot(col("qv"), col("v")) / (col("qnorm") * col("norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_doc_id"), col("rank"), col("vec_id"), round(col("cos"), 4).as("cosine"))
      .orderBy("q_doc_id", "rank")
  }

  /** m16 — cross-asset duplicate-FRAME detection: m2 samples frames,
    * m6 perceptual-hashes whole assets; this composes them into the
    * video-dedup primitive neither gives alone — find asset PAIRS that
    * share content at the frame level (re-uploads, clips, intros)
    * even when the whole-asset hash differs. Each 32-byte frame
    * window gets a 32-bit mean-threshold perceptual hash (bit k =
    * byte_k above the window mean — exact integer algebra, the m6
    * convention on the ASCII payload derivation), shared frames come
    * from an exact hash equi-join (never frame×frame), and pairs need
    * ≥ 2 matching frames to suppress lone 32-bit collisions. Overlap
    * is basis points of the left asset's frames matched. At 100 TB
    * the frame table is (assets × frames/asset) rows of (id, int32) —
    * the join shuffles on the hash key exactly like d1; no payload
    * byte crosses the exchange.
    */
  def m16FrameDedup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables
      .spread(Tables.documents(s, dir))
      .filter(length(col("text")) >= 64)
    // Four shapes were measured at sf0.1 solo. (a) An intermediate
    // `cs` ARRAY alias trips CollapseProject's attribute tracking
    // under nested lambdas (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND), and
    // inlining the array into a per-BIT lambda rebuilds it 64× per
    // frame: 4.9 s. (b) 1-char substring() per byte avoids the array
    // but UTF8String.substring is O(offset), so each probe rescans the
    // text: 16.7 s. (c) one array build per COLUMN (scalar `total`
    // survives the optimizer where an array alias doesn't): 3.0 s.
    // (d) This shape: m6's fused native kernel
    // ([[graft.functions.MeanThresholdBits]]) on the ONE substring per
    // frame — with a 32-byte window and 32 bits each span is a single
    // byte, so bit k = byte_k·32 > total with weight 2^k (LSB = byte
    // 0), no interpreted lambda anywhere: 1.0 s warm.
    val ph = d
      .select(
        col("doc_id"),
        col("text"),
        explode(sequence(lit(0L), expr("CAST(length(text) div 32 AS LONG) - 1"))).as("f"))
      .select(
        col("doc_id"),
        col("f"),
        graft.functions.MeanThresholdBits
          .meanThresholdBitsOfString(
            expr("substring(text, CAST(f * 32 + 1 AS INT), 32)"), 32, 0)
          .as("ph"))
    val agg = ph
      .as("a")
      .join(ph.as("b"), col("a.ph") === col("b.ph") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        count_distinct(col("a.f")).as("a_frames_hit"))
      .filter(col("n_pairs") >= 2)
    val sizes = d.select(col("doc_id"), expr("CAST(length(text) div 32 AS LONG)").as("nf"))
    agg
      .join(sizes.select(col("doc_id").as("id_a"), col("nf").as("fa")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("nf").as("fb")), "id_b")
      .select(
        col("id_a"),
        col("id_b"),
        col("n_pairs"),
        col("a_frames_hit"),
        col("fa"),
        col("fb"),
        expr("a_frames_hit * 10000L div fa").as("overlap_bp"))
      .orderBy("id_a", "id_b")
  }

  /** m17 — gated-loudness normalization audit (the EBU R128 SHAPE
    * distilled to the stub codec's integer energies): per audio
    * asset, frame energies above the absolute silence gate (m7's
    * 92-mean-byte convention × 200-byte frames = 18 400) form the
    * gated set; report its mean (the integrated-loudness proxy), its
    * p10→p95 spread (the loudness-range proxy) and the gain factor
    * to a target level in basis points — the table a media-ingest
    * pipeline reads to decide which assets need normalization before
    * feature extraction. Assets with NO gated frames (all-silence)
    * drop, as R128's gate does.
    *
    * Exactness: energies are exact integers from the codec seam;
    * percentiles are POSITIONAL picks on the sorted gated array
    * (index = (n−1)·q as integer floor division — no interpolation,
    * no floats anywhere in the row). Plan: decode once per payload
    * (mapPartitions codec contract), then per-row array algebra —
    * payloads never shuffle, no window, no exchange beyond the sort
    * for output order.
    */
  def m17LoudnessAudit(
      s: SparkSession,
      dir: String,
      codecs: Codec.Provider = Codec.Stub): DataFrame = {
    frameEnergies(s, dir, codecs)
      .select(
        col("doc_id"),
        size(col("energies")).cast("long").as("n_frames"),
        array_sort(filter(col("energies"), e => e > lit(18400L))).as("g"))
      .withColumn("n_gated", size(col("g")).cast("long"))
      .filter(col("n_gated") > 0)
      .select(
        col("doc_id"),
        col("n_frames"),
        col("n_gated"),
        expr("aggregate(g, 0L, (a, x) -> a + x) div n_gated").as("mean_gated"),
        (expr("element_at(g, CAST((n_gated - 1) * 95 div 100 + 1 AS INT))") -
          expr("element_at(g, CAST((n_gated - 1) * 10 div 100 + 1 AS INT))"))
          .as("lra"),
        expr("20000 * 10000L div (aggregate(g, 0L, (a, x) -> a + x) div n_gated)")
          .as("gain_bp"))
      .orderBy("doc_id")
  }

  /** Four 16-bit dHash words per asset (m18's signature row). */
  final case class DhashWords(doc_id: Long, w0: Int, w1: Int, w2: Int, w3: Int)

  /** m18 — perceptual near-duplicate images via dHash + PIGEONHOLE
    * banding: every asset's 64-bit dHash (horizontal gradient signs
    * over a 9×8 grayscale grid — the standard perceptual fingerprint;
    * stub pixels derive from payload bytes behind the
    * [[Codec.Provider]] seam) splits into four 16-bit words, and two
    * assets become a candidate pair iff they agree EXACTLY on some
    * word. Unlike m16's exact frame-fingerprint equality, this finds
    * near-identical images that differ by re-encode noise: matches
    * are pairs at Hamming distance ≤ 3 over the 64 bits, and the
    * banding is EXACT, not probabilistic — 4 disjoint words, ≤ 3
    * differing bits, so by pigeonhole every true match shares ≥ 1
    * untouched word (recall 1.0 by construction; contrast d10's
    * probabilistic hyperplane bands). Verification is
    * `bit_count(xor)` over the words — pure integer algebra both
    * engines share.
    *
    * Scale: signatures are one decode pass (mapPartitions codec
    * contract, payloads never shuffle); candidates come from an
    * EQUI-join on (word_index, word) — bucket-occupancy-bounded, the
    * d13 posture; verification touches only candidate pairs. At
    * 100 TB the word index is the standard pHash dedup index shape
    * (4 postings per asset).
    */
  def m18DhashNearDup(
      s: SparkSession,
      dir: String,
      codecs: Codec.Provider = Codec.Stub): DataFrame = {
    import s.implicits._
    val ds = media(s, dir).select(col("doc_id"), col("payload")).as[AudioRow]
    val words = ds
      .mapPartitions { rows =>
        val h = codecs.openImageHasher()
        rows.map { r =>
          val w = h.dhashWords(r.payload)
          DhashWords(r.doc_id, w(0), w(1), w(2), w(3))
        }
      }
      .toDF()
      .localCheckpoint() // read by the banding AND both verify sides
    val keyed = words.select(
      col("doc_id"),
      posexplode(array(col("w0"), col("w1"), col("w2"), col("w3")))
        .as(Seq("band", "w")))
    val cand = keyed
      .as("a")
      .join(
        keyed.as("b"),
        col("a.band") === col("b.band") && col("a.w") === col("b.w") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(
        words.select(col("doc_id").as("id_a"), col("w0").as("a0"), col("w1").as("a1"),
          col("w2").as("a2"), col("w3").as("a3")),
        "id_a")
      .join(
        words.select(col("doc_id").as("id_b"), col("w0").as("b0"), col("w1").as("b1"),
          col("w2").as("b2"), col("w3").as("b3")),
        "id_b")
      .withColumn(
        "hamming",
        expr("""CAST(bit_count(a0 ^ b0) + bit_count(a1 ^ b1)
               |     + bit_count(a2 ^ b2) + bit_count(a3 ^ b3) AS BIGINT)""".stripMargin))
      .filter(col("hamming") <= 3L)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** m19 — size-sanity audit: flag assets whose PAYLOAD BYTE COUNT is
    * implausible for their claimed dimensions — the cheapest corrupt-
    * file detector an ingest pipeline runs BEFORE spending a decode
    * (m3) on an asset: a jpeg a tenth of its expected size is a
    * truncated upload; one 2× over is a mislabeled container or an
    * embedded duplicate stream. Expected bytes = pixels ÷ a per-format
    * compression prior (jpeg 10 / png 3 / webp 12 — literals standing
    * in for the measured priors a production pipeline would fit);
    * the suspect gates are PURE MULTIPLICATIVE integer comparisons
    * (2·actual < expected, 2·actual > 3·expected) so no division —
    * let alone a negative floor-vs-truncate division, the known
    * cross-engine trap — sits on a flag boundary. Metadata-plane
    * only: width/height and payload LENGTH, never decoded bytes
    * (m1's doctrine); one scan, one format-sized rollup.
    */
  def m19SizeSanity(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .select(
        col("format"),
        (col("width").cast("long") * col("height")).as("px"),
        length(col("payload")).cast("long").as("actual"))
      .withColumn(
        "expected",
        expr("px div CASE format WHEN 'jpeg' THEN 10 WHEN 'png' THEN 3 ELSE 12 END"))
      .groupBy(col("format"))
      .agg(
        count(lit(1)).as("n_assets"),
        sum(when(col("actual") * 2 < col("expected"), 1L).otherwise(0L))
          .as("n_trunc_suspect"),
        sum(when(col("actual") * 2 > col("expected") * 3, 1L).otherwise(0L))
          .as("n_bloat_suspect"),
        sum(col("actual")).as("actual_bytes"),
        sum(col("expected")).as("expected_bytes"))
      .select(
        col("format"),
        col("n_assets"),
        col("n_trunc_suspect"),
        col("n_bloat_suspect"),
        col("actual_bytes"),
        col("expected_bytes"),
        expr("actual_bytes * 10000 div expected_bytes").as("fill_bp"))
      .orderBy("format")

  /** m20 — CDC DELTA-SYNC cost report (rsync/LBFS applied to corpus
    * re-ingestion): a new corpus version arrives in which one doc in
    * ten carries an early insertion (a " PATCHv2 " segment spliced in
    * at offset 40); the question is how many bytes actually need to
    * move when the chunk store already holds version 1. Because m5's
    * boundaries are CONTENT-defined, the insertion disturbs only the
    * chunk it lands in (plus at most the one boundary it shifts) and
    * every later chunk RE-SYNCS to its v1 fingerprint — so the new
    * bytes per edited doc are a couple of chunks, not the whole doc.
    * The per-source report prices exactly that: v2 chunk volume, how
    * much of it is absent from the v1 store, and the reuse ratio in
    * basis points — the incremental-ingest transfer bill, as data
    * (and the measured justification for chunk-level — not doc-level —
    * fingerprinting in the ingest path).
    *
    * Plan: both versions chunk through the O(len) native cut-point
    * kernel (m5's stage); the v1 store participates ONLY as its
    * distinct fingerprint set (m12's GC posture — incrementally
    * maintainable, one row per distinct chunk); novelty is one
    * left-anti-shaped join on the fingerprint hash; rollups are
    * source-sized. At 100 TB: chunk rows (id, fp, len — ~50 bytes)
    * are the only thing shuffled, never payloads.
    */
  def m20ChunkDelta(s: SparkSession, dir: String): DataFrame = {
    val w = 8
    val modulus = 32
    def chunksOf(docs: DataFrame, textCol: Column): DataFrame =
      docs
        .select(col("doc_id"), col("source"), textCol.as("text"))
        .filter(length(col("text")) >= w)
        .select(
          col("doc_id"),
          col("source"),
          col("text"),
          graft.functions.CdcCutPoints
            .cdcCutPoints(col("text"), w, modulus)
            .as("cuts"))
        .select(
          col("doc_id"),
          col("source"),
          col("text"),
          explode(
            array(
              struct(
                concat(array(lit(1)), col("cuts")).as("starts"),
                concat(col("cuts"), array(length(col("text")) + 1)).as("ends"))))
            .as("se"))
        .select(
          col("doc_id"),
          col("source"),
          explode(
            transform(
              sequence(lit(1), size(col("se.starts"))),
              j =>
                struct(
                  md5(
                    col("text").substr(
                      element_at(col("se.starts"), j),
                      element_at(col("se.ends"), j) - element_at(col("se.starts"), j)))
                    .as("fp"),
                  (element_at(col("se.ends"), j) - element_at(col("se.starts"), j))
                    .as("clen"))))
            .as("c"))
        .select(col("doc_id"), col("source"), col("c.fp").as("fp"), col("c.clen").as("clen"))
    val docs = Tables.documents(s, dir)
    val edited = docs.withColumn(
      "text2",
      when(
        pmod(col("doc_id"), lit(10)) === 5,
        concat(
          col("text").substr(lit(1), lit(40)),
          lit(" PATCHv2 "),
          col("text").substr(lit(41), length(col("text")))))
        .otherwise(col("text")))
    val store = chunksOf(docs, col("text")).select(col("fp")).distinct()
      .withColumn("known", lit(1))
    chunksOf(edited, col("text2"))
      .join(store, Seq("fp"), "left")
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(when(pmod(col("doc_id"), lit(10)) === 5, col("doc_id")))
          .as("n_changed"),
        count(lit(1)).as("n_chunks_v2"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_new_chunks"),
        sum(col("clen").cast("long")).as("total_bytes"),
        sum(when(col("known").isNull, col("clen").cast("long")).otherwise(0L))
          .as("new_bytes"))
      .withColumn(
        "reuse_bp",
        expr("(total_bytes - new_bytes) * 10000 div total_bytes"))
      .orderBy("source")
  }

  /** m21 — KEYFRAME selection per scene: m8's cut detection followed
    * by an argmax-energy representative frame per scene (ties to the
    * EARLIEST frame) — the frame a thumbnailer or a frame-embedding
    * stage actually decodes, so the video pipeline ships one frame per
    * scene instead of one per second (m2's uniform sampling is the
    * fallback when no scene structure exists). The argmax is the
    * packed-integer trick (`max(e·10⁶ + (999999 − i))`) so the
    * energy-then-earliest total order never touches a float or a
    * second window. Plan: identical to m8 — decode once, narrow
    * (doc, i, e) frame rows through one doc-partitioned window, then
    * the per-scene aggregate; output is scene-count-sized.
    */
  def m21SceneKeyframes(
      s: SparkSession,
      dir: String,
      codecs: Codec.Provider = Codec.Stub): DataFrame = {
    sceneFrames(frameEnergies(s, dir, codecs))
      .groupBy(col("doc_id"), col("scene"))
      .agg(
        count(lit(1)).as("n_frames"),
        max(expr("e * 1000000 + (999999 - i)")).as("pk"))
      .select(
        col("doc_id"),
        col("scene"),
        col("n_frames"),
        expr("999999 - pk % 1000000").as("keyframe_i"),
        expr("pk div 1000000").as("key_energy"))
      .orderBy("doc_id", "scene")
  }

  /** m22 — aspect-normalization plan: per (format, aspect class), the
    * exact pixel bill of forcing every asset onto a 16:9 canvas by
    * LETTERBOX (pad the short axis) vs CENTER-CROP (cut the long
    * axis) — the decision table a vision-training pipeline reads
    * before committing a resize policy (pad wastes compute on dead
    * pixels; crop loses content). Metadata-plane only (the m1
    * doctrine: a plan that decodes payloads to answer this is wrong
    * at any scale). All arithmetic exact integers: aspect class by
    * cross-multiplication (w·9 vs h·16, never a ratio); pad canvas
    * (m = max(w·9, h·16); ⌈m/9⌉ × ⌈m/16⌉ via (m+8) div 9, (m+15) div
    * 16 — the minimal ≥16:9-covering integer canvas); crop window
    * (c = min(w·9, h·16); ⌊c/9⌋ × ⌊c/16⌋); per-asset costs as
    * div-means over exact sums.
    *
    * Plan: one metadata scan, conditional math scan-side, hash
    * aggregate onto the (3 formats × 3 classes)-bounded domain.
    */
  def m22AspectPlan(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .select(
        col("format"),
        col("width").cast("long").as("w"),
        col("height").cast("long").as("h"))
      .withColumn(
        "aspect_class",
        when(col("w") * 9L > col("h") * 16L, "wide")
          .when(col("w") * 9L < col("h") * 16L, "tall")
          .otherwise("exact"))
      .withColumn("m", greatest(col("w") * 9L, col("h") * 16L))
      .withColumn("c", least(col("w") * 9L, col("h") * 16L))
      .withColumn(
        "pad_px",
        expr("((m + 8) div 9) * ((m + 15) div 16) - w * h"))
      .withColumn(
        "crop_px",
        expr("w * h - (c div 9) * (c div 16)"))
      .groupBy(col("format"), col("aspect_class"))
      .agg(
        count(lit(1)).as("n_assets"),
        sum(col("pad_px")).as("pad_px_total"),
        sum(col("crop_px")).as("crop_px_total"))
      .withColumn("pad_px_mean", expr("pad_px_total div n_assets"))
      .withColumn("crop_px_mean", expr("crop_px_total div n_assets"))
      .orderBy("format", "aspect_class")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m22_aspect_plan" -> m22AspectPlan,
    "m21_scene_keyframes" -> ((s, d) => m21SceneKeyframes(s, d)),
    "m20_chunk_delta" -> m20ChunkDelta,
    "m19_size_sanity" -> m19SizeSanity,
    "m18_dhash_neardup" -> ((s, d) => m18DhashNearDup(s, d)),
    "m17_loudness_audit" -> ((s, d) => m17LoudnessAudit(s, d)),
    "m16_frame_dedup" -> m16FrameDedup,
    "m15_crossmodal_retrieval" -> m15CrossmodalRetrieval,
    "m14_batch_compose" -> m14BatchCompose,
    "m11_modality_coverage" -> m11ModalityCoverage,
    "m10_aspect_buckets" -> m10AspectBuckets,
    "m9_chunk_dedup_ratio" -> m9ChunkDedupRatio,
    "m12_chunk_gc" -> m12ChunkGc,
    "m13_vad_segments" -> ((s, d) => m13VadSegments(s, d)),
    "m8_scene_cuts" -> ((s, d) => m8SceneCuts(s, d)),
    "m7_audio_frames" -> ((s, d) => m7AudioFrames(s, d)),
    "m6_perceptual_neardup" -> m6PerceptualNearDup,
    "m5_cdc_chunks" -> m5CdcChunks,
    "m1_media_stats" -> m1MediaStats,
    "m2_frame_sample" -> m2FrameSample,
    "m3_image_features" -> ((s, d) => m3ImageFeatures(s, d)),
    "m4_resize" -> ((s, d) => m4Resize(s, d))
  )

  val oracles: Map[String, String] = Map(
    // the same metadata synthesis, cross-multiplied aspect classes,
    // ceil/floor integer canvases, and div-means
    "m22_aspect_plan" ->
      """WITH m AS (
        |  SELECT ['jpeg','png','webp'][(doc_id % 3 + 1)::INT] AS format,
        |    CAST(64 + (doc_id * 7) % 193 AS BIGINT) AS w,
        |    CAST(64 + (doc_id * 13) % 129 AS BIGINT) AS h
        |  FROM documents),
        |x AS (
        |  SELECT format,
        |    CASE WHEN w * 9 > h * 16 THEN 'wide'
        |         WHEN w * 9 < h * 16 THEN 'tall'
        |         ELSE 'exact' END AS aspect_class,
        |    greatest(w * 9, h * 16) AS mm,
        |    least(w * 9, h * 16) AS cc,
        |    w, h
        |  FROM m),
        |costs AS (
        |  SELECT format, aspect_class,
        |    ((mm + 8) // 9) * ((mm + 15) // 16) - w * h AS pad_px,
        |    w * h - (cc // 9) * (cc // 16) AS crop_px
        |  FROM x),
        |agg AS (
        |  SELECT format, aspect_class,
        |    CAST(count(*) AS BIGINT) AS n_assets,
        |    CAST(sum(pad_px) AS BIGINT) AS pad_px_total,
        |    CAST(sum(crop_px) AS BIGINT) AS crop_px_total
        |  FROM costs GROUP BY 1, 2)
        |SELECT format, aspect_class, n_assets, pad_px_total, crop_px_total,
        |  pad_px_total // n_assets AS pad_px_mean,
        |  crop_px_total // n_assets AS crop_px_mean
        |FROM agg ORDER BY format, aspect_class""".stripMargin,
    // m8's energy/cut/scene CTEs, then the identical packed-integer
    // argmax per scene (oracle's i is 1-based; keyframe is 0-based)
    "m21_scene_keyframes" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)
        |      AS bytes,
        |    octet_length(encode(text)) AS nb
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    list_transform(range(1, nb + 1, 200),
        |      s -> list_sum(bytes[s : least(s + 199, nb)])) AS energies
        |  FROM m),
        |fr AS (
        |  SELECT doc_id, i - 1 AS i, energies[i] AS e
        |  FROM f, LATERAL (SELECT unnest(range(1, len(energies) + 1)) AS i)),
        |c AS (
        |  SELECT doc_id, i, e,
        |    CASE WHEN lag(e) OVER (PARTITION BY doc_id ORDER BY i)
        |           IS NOT NULL
        |         AND abs(e - lag(e) OVER (PARTITION BY doc_id ORDER BY i))
        |           > 1000
        |    THEN 1 ELSE 0 END AS cut
        |  FROM fr),
        |sc AS (
        |  SELECT doc_id, i, e,
        |    sum(cut) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS UNBOUNDED PRECEDING) AS scene
        |  FROM c)
        |SELECT doc_id, CAST(scene AS BIGINT) AS scene,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(999999 - max(e * 1000000 + (999999 - i)) % 1000000 AS BIGINT)
        |    AS keyframe_i,
        |  CAST(max(e * 1000000 + (999999 - i)) // 1000000 AS BIGINT)
        |    AS key_energy
        |FROM sc GROUP BY doc_id, scene
        |ORDER BY doc_id, scene""".stripMargin,
    // m5's cut-point CTEs run over BOTH versions (v2 = the same
    // spliced-insertion expression), store = v1's distinct fps,
    // novelty by left join, per-source byte accounting
    "m20_chunk_delta" ->
      """WITH v1 AS (
        |  SELECT doc_id, source, text FROM documents),
        |v2 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 10 = 5
        |         THEN substr(text, 1, 40) || ' PATCHv2 ' || substr(text, 41)
        |         ELSE text END AS text
        |  FROM documents),
        |h1 AS (
        |  SELECT doc_id, source, text,
        |    list_transform(range(1, length(text) - 6),
        |      i -> list_reduce(list_prepend(0::BIGINT,
        |             list_transform(string_split(text, '')[i:i+7],
        |               c -> ascii(c)::BIGINT)),
        |           (a, b) -> (a * 131 + b) % 1000000007)) AS hs
        |  FROM v1 WHERE length(text) >= 8),
        |h2 AS (
        |  SELECT doc_id, source, text,
        |    list_transform(range(1, length(text) - 6),
        |      i -> list_reduce(list_prepend(0::BIGINT,
        |             list_transform(string_split(text, '')[i:i+7],
        |               c -> ascii(c)::BIGINT)),
        |           (a, b) -> (a * 131 + b) % 1000000007)) AS hs
        |  FROM v2 WHERE length(text) >= 8),
        |c1 AS (
        |  SELECT doc_id, source, text,
        |    list_filter(list_transform(hs, (x, i) ->
        |      CASE WHEN x % 32 = 0 AND i + 8 <= length(text)
        |           THEN i + 8 ELSE -1 END), x -> x <> -1) AS cuts
        |  FROM h1),
        |c2 AS (
        |  SELECT doc_id, source, text,
        |    list_filter(list_transform(hs, (x, i) ->
        |      CASE WHEN x % 32 = 0 AND i + 8 <= length(text)
        |           THEN i + 8 ELSE -1 END), x -> x <> -1) AS cuts
        |  FROM h2),
        |ch1 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(starts) + 1),
        |    j -> md5(substr(text, starts[j]::INT,
        |              (ends[j] - starts[j])::INT)))) AS fp
        |  FROM (SELECT doc_id, text, list_prepend(1, cuts) AS starts,
        |          list_append(cuts, length(text) + 1) AS ends FROM c1)),
        |ch2 AS (
        |  SELECT doc_id, source,
        |    unnest(list_transform(range(1, len(starts) + 1),
        |      j -> struct_pack(fp := md5(substr(text, starts[j]::INT,
        |               (ends[j] - starts[j])::INT)),
        |             clen := ends[j] - starts[j]))) AS c
        |  FROM (SELECT doc_id, source, text, list_prepend(1, cuts) AS starts,
        |          list_append(cuts, length(text) + 1) AS ends FROM c2)),
        |flat2 AS (
        |  SELECT doc_id, source, c.fp AS fp, c.clen AS clen FROM ch2),
        |store AS (SELECT DISTINCT fp FROM ch1)
        |SELECT f.source,
        |  CAST(count(DISTINCT f.doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT CASE WHEN f.doc_id % 10 = 5 THEN f.doc_id END)
        |       AS BIGINT) AS n_changed,
        |  CAST(count(*) AS BIGINT) AS n_chunks_v2,
        |  CAST(sum(CASE WHEN s.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new_chunks,
        |  CAST(sum(f.clen) AS BIGINT) AS total_bytes,
        |  CAST(sum(CASE WHEN s.fp IS NULL THEN f.clen ELSE 0 END) AS BIGINT)
        |    AS new_bytes,
        |  CAST((sum(f.clen) - sum(CASE WHEN s.fp IS NULL THEN f.clen ELSE 0 END))
        |       * 10000 // sum(f.clen) AS BIGINT) AS reuse_bp
        |FROM flat2 f LEFT JOIN store s USING (fp)
        |GROUP BY f.source ORDER BY f.source""".stripMargin,
    // same media-view replay, same compression priors, same pure
    // multiplicative suspect gates and non-negative fill division
    "m19_size_sanity" ->
      """WITH m AS (
        |  SELECT
        |    ['jpeg','png','webp'][(doc_id % 3 + 1)::INT] AS format,
        |    (64 + (doc_id * 7) % 193) * (64 + (doc_id * 13) % 129) AS px,
        |    octet_length(encode(text)) AS actual
        |  FROM documents),
        |e AS (
        |  SELECT format, actual,
        |    px // (CASE format WHEN 'jpeg' THEN 10 WHEN 'png' THEN 3
        |           ELSE 12 END) AS expected
        |  FROM m)
        |SELECT format,
        |  CAST(count(*) AS BIGINT) AS n_assets,
        |  CAST(sum(CASE WHEN actual * 2 < expected THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_trunc_suspect,
        |  CAST(sum(CASE WHEN actual * 2 > expected * 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bloat_suspect,
        |  CAST(sum(actual) AS BIGINT) AS actual_bytes,
        |  CAST(sum(expected) AS BIGINT) AS expected_bytes,
        |  CAST(sum(actual) * 10000 // sum(expected) AS BIGINT) AS fill_bp
        |FROM e GROUP BY format ORDER BY format""".stripMargin,
    // the stub dHash replayed: pixel (r, c) = payload byte
    // (r*9 + c) mod nb, gradient-sign bits packed little-endian into
    // four 16-bit words, pigeonhole word-equality banding, then
    // bit_count(xor) Hamming verify <= 3
    "m18_dhash_neardup" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)
        |      AS bytes,
        |    octet_length(encode(text)) AS nb
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, wi,
        |    CAST(list_sum([
        |      CASE WHEN
        |        bytes[(((wi * 16 + j) // 8) * 9 + ((wi * 16 + j) % 8) + 1)
        |              % nb + 1]
        |        > bytes[(((wi * 16 + j) // 8) * 9 + ((wi * 16 + j) % 8))
        |                % nb + 1]
        |      THEN CAST(power(2, j) AS BIGINT) ELSE 0 END
        |      FOR j IN range(0, 16)]) AS BIGINT) AS w
        |  FROM m, (SELECT unnest(range(0, 4)) AS wi)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM w a JOIN w b
        |    ON a.wi = b.wi AND a.w = b.w AND a.doc_id < b.doc_id),
        |sig AS (
        |  SELECT doc_id,
        |    max(CASE WHEN wi = 0 THEN w END) AS w0,
        |    max(CASE WHEN wi = 1 THEN w END) AS w1,
        |    max(CASE WHEN wi = 2 THEN w END) AS w2,
        |    max(CASE WHEN wi = 3 THEN w END) AS w3
        |  FROM w GROUP BY 1),
        |h AS (
        |  SELECT id_a, id_b,
        |    bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
        |    + bit_count(xor(a.w2, b.w2)) + bit_count(xor(a.w3, b.w3))
        |      AS hamming
        |  FROM cand
        |    JOIN sig a ON id_a = a.doc_id
        |    JOIN sig b ON id_b = b.doc_id)
        |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
        |FROM h WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,
    // same 200-byte framing as m7/m8, same absolute gate, positional
    // percentiles by integer floor division on the sorted gated list
    "m17_loudness_audit" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)
        |      AS bytes,
        |    octet_length(encode(text)) AS nb
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    list_transform(range(1, nb + 1, 200),
        |      s -> list_sum(bytes[s : least(s + 199, nb)])) AS energies
        |  FROM m),
        |g AS (
        |  SELECT doc_id, CAST(len(energies) AS BIGINT) AS n_frames,
        |    list_sort(list_filter(energies, e -> e > 18400)) AS g
        |  FROM f),
        |k AS (
        |  SELECT doc_id, n_frames, CAST(len(g) AS BIGINT) AS n_gated, g
        |  FROM g WHERE len(g) > 0)
        |SELECT doc_id, n_frames, n_gated,
        |  CAST(list_sum(g) // n_gated AS BIGINT) AS mean_gated,
        |  CAST(g[CAST((n_gated - 1) * 95 // 100 + 1 AS INTEGER)]
        |     - g[CAST((n_gated - 1) * 10 // 100 + 1 AS INTEGER)] AS BIGINT)
        |    AS lra,
        |  CAST(20000 * 10000 // (list_sum(g) // n_gated) AS BIGINT) AS gain_bp
        |FROM k
        |ORDER BY doc_id""".stripMargin,
    // same 32-byte windows, same bit order (MSB = byte 0), same
    // >=2-match floor and bp floor division
    "m16_frame_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) // 32 AS nf
        |  FROM documents WHERE length(text) >= 64),
        |fr0 AS (
        |  SELECT doc_id, text, unnest(range(0, nf)) AS f FROM d),
        |fr1 AS (
        |  SELECT doc_id, f,
        |    list_transform(
        |      string_split(substr(text, CAST(f * 32 + 1 AS INTEGER), 32), ''),
        |      c -> ascii(c)::BIGINT) AS cs
        |  FROM fr0),
        |ph AS (
        |  SELECT doc_id, f,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(0, 32), k ->
        |        CASE WHEN cs[CAST(k AS INTEGER) + 1] * 32 >
        |          list_reduce(list_prepend(0::BIGINT, cs), (a, b) -> a + b)
        |        THEN (1::BIGINT << CAST(k AS INTEGER))
        |        ELSE 0::BIGINT END)),
        |      (acc, b) -> acc + b) AS ph
        |  FROM fr1),
        |agg AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(count(DISTINCT a.f) AS BIGINT) AS a_frames_hit
        |  FROM ph a JOIN ph b ON a.ph = b.ph AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT id_a, id_b, n_pairs, a_frames_hit,
        |  CAST(sa.nf AS BIGINT) AS fa, CAST(sb.nf AS BIGINT) AS fb,
        |  a_frames_hit * 10000 // sa.nf AS overlap_bp
        |FROM agg
        |JOIN d sa ON id_a = sa.doc_id
        |JOIN d sb ON id_b = sb.doc_id
        |ORDER BY id_a, id_b""".stripMargin,
    // id-keyed coverage joins; payload bytes from the same UTF-8
    // derivation; basis points by integer floor division
    "m11_modality_coverage" ->
      """WITH e AS (
        |  SELECT DISTINCT vec_id AS doc_id FROM embeddings),
        |med AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS nb
        |  FROM documents)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_with_embedding,
        |  (CAST(sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |        AS BIGINT) * 10000) // count(*) AS emb_coverage_bp,
        |  CAST(sum(COALESCE(med.nb, 0)) AS BIGINT) AS media_bytes,
        |  CAST(sum(d.n_chars) AS BIGINT) AS text_chars
        |FROM documents d
        |LEFT JOIN e ON d.doc_id = e.doc_id
        |LEFT JOIN med ON d.doc_id = med.doc_id
        |GROUP BY 1 ORDER BY d.source""".stripMargin,
    // same media metadata derivation, same exact-integer nearest-bucket
    // (scaled cross-multiplication), same first-match tie-break
    "m10_aspect_buckets" ->
      """WITH md AS (
        |  SELECT doc_id,
        |    (64 + (doc_id * 7) % 193)::BIGINT AS w,
        |    (64 + (doc_id * 13) % 129)::BIGINT AS h
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, w, h,
        |    abs(w * 2 - h * 1) * 6  AS d1,
        |    abs(w * 4 - h * 3) * 3  AS d2,
        |    abs(w * 1 - h * 1) * 12 AS d3,
        |    abs(w * 3 - h * 4) * 4  AS d4,
        |    abs(w * 1 - h * 2) * 12 AS d5
        |  FROM md),
        |b AS (
        |  SELECT doc_id, w, h,
        |    CASE
        |      WHEN d1 = least(d1, d2, d3, d4, d5) THEN 1
        |      WHEN d2 = least(d1, d2, d3, d4, d5) THEN 2
        |      WHEN d3 = least(d1, d2, d3, d4, d5) THEN 3
        |      WHEN d4 = least(d1, d2, d3, d4, d5) THEN 4
        |      ELSE 5 END AS bucket
        |  FROM d)
        |SELECT bucket,
        |  CASE bucket WHEN 1 THEN 'tall_1_2' WHEN 2 THEN 'portrait_3_4'
        |       WHEN 3 THEN 'square_1_1' WHEN 4 THEN 'landscape_4_3'
        |       ELSE 'wide_2_1' END AS bucket_name,
        |  count(*) AS n_media,
        |  count(*) // 32 AS n_full_batches,
        |  count(*) % 32 AS leftover,
        |  round(avg(w * h) / 1e6, 6) AS avg_megapixels
        |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin,
    // m7's framing replayed, then the same lag/running-sum scene
    // segmentation in window functions; all exact integers.
    // same deterministic text encoder (comprehension index shifted to
    // Spark's 0-based transform), same cosine fold
    "m15_crossmodal_retrieval" ->
      """WITH q AS (
        |  SELECT doc_id AS q_doc_id,
        |    [CAST(list_sum([
        |       ((list_sum([ascii(string_split(substr(w, 1, 8), '')[i])
        |                   * CAST(pow(131, i - 1) AS BIGINT)
        |                   FOR i IN range(1,
        |                     len(string_split(substr(w, 1, 8), '')) + 1)])
        |         % 1000000007) % (700 + j))
        |       FOR w IN string_split(text, ' ')]) AS DOUBLE)
        |     FOR j IN range(1, 65)] AS qv
        |  FROM documents WHERE doc_id < 10),
        |n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings),
        |sc AS (
        |  SELECT q.q_doc_id, n.vec_id,
        |    list_inner_product(q.qv, n.v) /
        |      (sqrt(list_inner_product(q.qv, q.qv))
        |       * sqrt(list_inner_product(n.v, n.v))) AS cos
        |  FROM q, n),
        |rk AS (
        |  SELECT q_doc_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY q_doc_id
        |      ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM sc)
        |SELECT q_doc_id, CAST(rank AS INTEGER) AS rank, vec_id,
        |  round(cos, 4) AS cosine
        |FROM rk WHERE rank <= 3
        |ORDER BY q_doc_id, rank""".stripMargin,
    // same doc_id-derived formats, same per-modality sequence + integer
    // batch fold
    "m14_batch_compose" ->
      """WITH med AS (
        |  SELECT doc_id,
        |    ['jpeg', 'png', 'webp'][CAST(doc_id % 3 AS INTEGER) + 1]
        |      AS format,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS nb
        |  FROM documents),
        |sl AS (
        |  SELECT format, nb,
        |    row_number() OVER (PARTITION BY format ORDER BY doc_id) AS rn
        |  FROM med),
        |b AS (
        |  SELECT format, nb,
        |    CAST((rn - 1) // (CASE format WHEN 'jpeg' THEN 2 ELSE 1 END)
        |         AS BIGINT) AS batch_id
        |  FROM sl)
        |SELECT batch_id, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN format = 'jpeg' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_jpeg,
        |  CAST(sum(CASE WHEN format = 'png' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_png,
        |  CAST(sum(CASE WHEN format = 'webp' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_webp,
        |  CAST(sum(nb) AS BIGINT) AS total_bytes,
        |  (sum(CASE WHEN format = 'jpeg' THEN 1 ELSE 0 END) = 2
        |   AND sum(CASE WHEN format = 'png' THEN 1 ELSE 0 END) = 1
        |   AND sum(CASE WHEN format = 'webp' THEN 1 ELSE 0 END) = 1)
        |    AS ratio_complete
        |FROM b GROUP BY 1 ORDER BY batch_id""".stripMargin,
    // same framing, same per-length threshold (92 x actual frame
    // bytes, m7's rule — the tail frame is nb - 200*(i-1) bytes),
    // same 2-frame debounce
    "m13_vad_segments" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)
        |      AS bytes,
        |    octet_length(encode(text)) AS nb
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, nb,
        |    list_transform(range(1, nb + 1, 200),
        |      s -> list_sum(bytes[s : least(s + 199, nb)])) AS energies
        |  FROM m),
        |fr AS (
        |  SELECT doc_id, nb, i, energies[i] AS e
        |  FROM f, LATERAL (SELECT unnest(range(1, len(energies) + 1)) AS i)),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames
        |        FROM fr GROUP BY 1),
        |act AS (
        |  SELECT doc_id, i,
        |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS isl
        |  FROM fr WHERE e >= 92 * least(200, nb - 200 * (i - 1))),
        |seg AS (
        |  SELECT doc_id, isl, count(*) AS len
        |  FROM act GROUP BY 1, 2 HAVING count(*) >= 2),
        |sg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
        |    CAST(sum(len) AS BIGINT) AS active_frames,
        |    CAST(max(len) AS BIGINT) AS longest_segment
        |  FROM seg GROUP BY 1)
        |SELECT t.doc_id, t.n_frames,
        |  coalesce(sg.n_segments, 0) AS n_segments,
        |  coalesce(sg.active_frames, 0) AS active_frames,
        |  coalesce(sg.longest_segment, 0) AS longest_segment,
        |  CAST((coalesce(sg.active_frames, 0) * 10000) // t.n_frames
        |    AS BIGINT) AS speech_bp
        |FROM tot t LEFT JOIN sg USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "m8_scene_cuts" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)
        |      AS bytes,
        |    octet_length(encode(text)) AS nb
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    list_transform(range(1, nb + 1, 200),
        |      s -> list_sum(bytes[s : least(s + 199, nb)])) AS energies
        |  FROM m),
        |fr AS (
        |  SELECT doc_id, i, energies[i] AS e
        |  FROM f, LATERAL (SELECT unnest(range(1, len(energies) + 1)) AS i)),
        |c AS (
        |  SELECT doc_id, i, e,
        |    CASE WHEN lag(e) OVER (PARTITION BY doc_id ORDER BY i)
        |           IS NOT NULL
        |         AND abs(e - lag(e) OVER (PARTITION BY doc_id ORDER BY i))
        |           > 1000
        |    THEN 1 ELSE 0 END AS cut
        |  FROM fr),
        |sc AS (
        |  SELECT doc_id,
        |    sum(cut) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS UNBOUNDED PRECEDING) AS scene
        |  FROM c),
        |sl AS (SELECT doc_id, scene, count(*) AS len FROM sc GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_scenes,
        |  CAST(sum(len) AS BIGINT) AS n_frames,
        |  CAST(max(len) AS BIGINT) AS longest_scene,
        |  CAST(min(len) AS BIGINT) AS shortest_scene
        |FROM sl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Re-frames the same ASCII bytes with DuckDB's 1-based inclusive
    // list slices; silence is the identical integer comparison.
    "m7_audio_frames" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)
        |      AS bytes,
        |    octet_length(encode(text)) AS nb
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    list_transform(range(1, nb + 1, 200),
        |      s -> list_sum(bytes[s : least(s + 199, nb)])) AS energies,
        |    list_transform(range(1, nb + 1, 200),
        |      s -> least(s + 199, nb) - s + 1) AS sizes
        |  FROM m)
        |SELECT doc_id,
        |  CAST(len(energies) AS INTEGER) AS n_frames,
        |  CAST(len(list_filter(range(1, len(energies) + 1),
        |    i -> energies[i] < 92 * sizes[i])) AS INTEGER) AS n_silent,
        |  CAST(coalesce(list_sum(energies), 0) AS BIGINT) AS total_energy,
        |  CAST(coalesce(list_max(energies), 0) AS BIGINT) AS peak_energy
        |FROM f
        |ORDER BY doc_id""".stripMargin,
    // Same 32-span mean-threshold bits (MSB-first a*2+b fold), same
    // +1-brightness plant, same 4×8-bit banding; integer
    // cross-product compares keep both engines exact.
    "m6_perceptual_neardup" ->
      """WITH codes0 AS (
        |  SELECT doc_id, list_transform(string_split(text, ''),
        |    c -> ascii(c)::BIGINT) AS cs
        |  FROM documents WHERE length(text) >= 32),
        |codes AS (
        |  SELECT doc_id, cs FROM codes0
        |  UNION ALL
        |  SELECT doc_id + 1000000, list_transform(cs, c -> c + 1) FROM codes0),
        |ph AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0::BIGINT, list_transform(range(31, -1, -1), k ->
        |      CASE WHEN
        |        list_reduce(list_prepend(0::BIGINT,
        |          cs[CAST(floor(k * len(cs) / 32) AS INTEGER) + 1 :
        |             CAST(floor((k + 1) * len(cs) / 32) AS INTEGER)]),
        |          (a, b) -> a + b) * len(cs) >
        |        list_reduce(list_prepend(0::BIGINT, cs), (a, b) -> a + b) *
        |          (CAST(floor((k + 1) * len(cs) / 32) AS INTEGER) -
        |           CAST(floor(k * len(cs) / 32) AS INTEGER))
        |      THEN 1 ELSE 0 END)), (a, b) -> a * 2 + b) AS phash
        |  FROM codes),
        |keyed AS (
        |  SELECT doc_id, phash, j, (phash >> CAST(8 * j AS INTEGER)) & 255 AS bk
        |  FROM (SELECT doc_id, phash, unnest(range(0, 4)) AS j FROM ph)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.phash AS pa, b.phash AS pb
        |  FROM keyed a JOIN keyed b
        |    ON a.j = b.j AND a.bk = b.bk AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(pa, pb)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // m5's chunk replay with lengths, rolled up per source.
    // same chunking CTEs as m9 with doc_id kept; a chunk frees iff
    // every referencing doc is in the deletion set
    "m12_chunk_gc" ->
      """WITH d AS (
        |  SELECT doc_id, source, text, string_split(text, '') AS cs
        |  FROM documents WHERE length(text) >= 8),
        |h AS (
        |  SELECT doc_id, source, text,
        |    list_transform(range(1, len(cs) - 6),
        |      i -> list_reduce(list_prepend(0::BIGINT,
        |             list_transform(cs[i:i+7], c -> ascii(c)::BIGINT)),
        |           (a, b) -> (a * 131 + b) % 1000000007)) AS hs
        |  FROM d),
        |c AS (
        |  SELECT doc_id, source, text,
        |    list_filter(list_transform(hs, (x, i) ->
        |      CASE WHEN x % 32 = 0 AND i + 8 <= length(text)
        |           THEN i + 8 ELSE -1 END),
        |      x -> x <> -1) AS cuts
        |  FROM h),
        |se AS (
        |  SELECT doc_id, source, text,
        |    list_prepend(1, cuts) AS starts,
        |    list_append(cuts, length(text) + 1) AS ends
        |  FROM c),
        |ch AS (
        |  SELECT doc_id, source, u.fp, u.len
        |  FROM se, LATERAL (
        |    SELECT unnest(list_transform(range(1, len(starts) + 1),
        |        j -> {'fp': md5(substr(text, starts[j]::INT,
        |                       (ends[j] - starts[j])::INT)),
        |              'len': (ends[j] - starts[j])::BIGINT}),
        |      recursive := true) ) u),
        |rc AS (
        |  SELECT source, fp, min(len) AS len, count(*) AS refs_total,
        |    CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS refs_deleted
        |  FROM ch GROUP BY 1, 2)
        |SELECT source, count(*) AS n_unique_chunks,
        |  CAST(sum(len) AS BIGINT) AS bytes_stored,
        |  CAST(sum(CASE WHEN refs_total = refs_deleted THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_freed,
        |  CAST(sum(CASE WHEN refs_total = refs_deleted THEN len ELSE 0 END)
        |       AS BIGINT) AS bytes_freed,
        |  CAST(sum(CASE WHEN refs_deleted > 0 AND refs_total > refs_deleted
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_pinned_by_survivors,
        |  CAST(sum(CASE WHEN refs_total = refs_deleted THEN len ELSE 0 END)
        |       * 1000 // sum(len) AS BIGINT) AS freed_permille
        |FROM rc GROUP BY 1 ORDER BY source""".stripMargin,
    "m9_chunk_dedup_ratio" ->
      """WITH d AS (
        |  SELECT source, text, string_split(text, '') AS cs
        |  FROM documents WHERE length(text) >= 8),
        |h AS (
        |  SELECT source, text,
        |    list_transform(range(1, len(cs) - 6),
        |      i -> list_reduce(list_prepend(0::BIGINT,
        |             list_transform(cs[i:i+7], c -> ascii(c)::BIGINT)),
        |           (a, b) -> (a * 131 + b) % 1000000007)) AS hs
        |  FROM d),
        |c AS (
        |  SELECT source, text,
        |    list_filter(list_transform(hs, (x, i) ->
        |      CASE WHEN x % 32 = 0 AND i + 8 <= length(text)
        |           THEN i + 8 ELSE -1 END),
        |      x -> x <> -1) AS cuts
        |  FROM h),
        |se AS (
        |  SELECT source, text,
        |    list_prepend(1, cuts) AS starts,
        |    list_append(cuts, length(text) + 1) AS ends
        |  FROM c),
        |ch AS (
        |  SELECT source, u.fp, u.len
        |  FROM se, LATERAL (
        |    SELECT unnest(list_transform(range(1, len(starts) + 1),
        |        j -> {'fp': md5(substr(text, starts[j]::INT,
        |                       (ends[j] - starts[j])::INT)),
        |              'len': (ends[j] - starts[j])::BIGINT}),
        |      recursive := true) ) u),
        |tot AS (
        |  SELECT source, count(*) AS n_chunks,
        |    CAST(sum(len) AS BIGINT) AS bytes_total
        |  FROM ch GROUP BY 1),
        |uq AS (
        |  SELECT source, count(*) AS n_unique,
        |    CAST(sum(len) AS BIGINT) AS bytes_unique
        |  FROM (SELECT source, fp, min(len) AS len FROM ch GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT t.source, t.n_chunks, t.bytes_total, u.n_unique, u.bytes_unique,
        |  CAST((t.bytes_total - u.bytes_unique) * 1000 // t.bytes_total AS BIGINT)
        |    AS saved_permille
        |FROM tot t JOIN uq u USING (source)
        |ORDER BY source""".stripMargin,
    "m5_cdc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, text, string_split(text, '') AS cs
        |  FROM documents WHERE length(text) >= 8),
        |h AS (
        |  SELECT doc_id, text,
        |    list_transform(range(1, len(cs) - 6),
        |      i -> list_reduce(list_prepend(0::BIGINT,
        |             list_transform(cs[i:i+7], c -> ascii(c)::BIGINT)),
        |           (a, b) -> (a * 131 + b) % 1000000007)) AS hs
        |  FROM d),
        |c AS (
        |  SELECT doc_id, text,
        |    list_filter(list_transform(hs, (x, i) ->
        |      CASE WHEN x % 32 = 0 AND i + 8 <= length(text)
        |           THEN i + 8 ELSE -1 END),
        |      x -> x <> -1) AS cuts
        |  FROM h),
        |se AS (
        |  SELECT doc_id, text,
        |    list_prepend(1, cuts) AS starts,
        |    list_append(cuts, length(text) + 1) AS ends
        |  FROM c),
        |ch AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(starts) + 1),
        |      j -> md5(substr(text, starts[j]::INT,
        |                      (ends[j] - starts[j])::INT)))) AS fp
        |  FROM se),
        |dc AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1)
        |SELECT ch.doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN dc.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared_chunks
        |FROM ch JOIN dc USING (fp)
        |GROUP BY ch.doc_id
        |ORDER BY doc_id""".stripMargin,
    "m1_media_stats" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    ['jpeg','png','webp'][(doc_id % 3 + 1)::INT] AS format,
        |    64 + (doc_id * 7) % 193 AS width,
        |    64 + (doc_id * 13) % 129 AS height,
        |    encode(text) AS payload
        |  FROM documents)
        |SELECT format, count(*) AS n_media,
        |  CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
        |  round(avg(width * height) / 1e6, 6) AS avg_megapixels
        |FROM m GROUP BY format ORDER BY format""".stripMargin,
    "m2_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    (octet_length(encode(text)) // 32)::INT AS duration_s
        |  FROM documents)
        |SELECT doc_id, duration_s,
        |  CAST(unnest(range(0, duration_s + 1, 5)) AS INTEGER) AS frame_s
        |FROM m
        |ORDER BY doc_id, frame_s""".stripMargin,
    "m3_image_features" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    ['jpeg','png','webp'][(doc_id % 3 + 1)::INT] AS format,
        |    list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)
        |      AS bytes
        |  FROM documents)
        |SELECT doc_id, format,
        |  CAST(len(bytes) AS INTEGER) AS n_bytes,
        |  round(list_sum(bytes)::DOUBLE / len(bytes), 4) AS mean_byte,
        |  list_reduce(list_prepend(0::BIGINT, bytes),
        |    (h, c) -> (h * 131 + c) % 1000000007) AS fingerprint
        |FROM m
        |ORDER BY doc_id""".stripMargin,
    "m4_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    ['jpeg','png','webp'][(doc_id % 3 + 1)::INT] AS format,
        |    64 + (doc_id * 7) % 193 AS width,
        |    64 + (doc_id * 13) % 129 AS height,
        |    octet_length(encode(text)) AS nb
        |  FROM documents),
        |r AS (
        |  SELECT *, greatest((width + 63) // 64, (height + 63) // 64, 1)
        |    AS scale
        |  FROM m)
        |SELECT doc_id, format, CAST(scale AS INTEGER) AS scale,
        |  CAST((width + scale - 1) // scale AS INTEGER) AS new_width,
        |  CAST((height + scale - 1) // scale AS INTEGER) AS new_height,
        |  CAST((nb + scale - 1) // scale AS INTEGER) AS n_bytes_out
        |FROM r
        |ORDER BY doc_id""".stripMargin
  )
}
