package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.DedupQueries
import graft.functions.{MathFunctions => MF}
import graft.oracle.Sql

/** Multimodal plumbing (SURVEY §2.F q60): treat assets as opaque
  * `binary` payloads with a typed metadata struct, and run a decode /
  * feature-extract stage over them.
  *
  * The decode in q60 (whose payloads are text bytes, not real
  * containers) is STUBBED — `stubDecode` below derives deterministic
  * pseudo-features from the payload bytes. The Spark-side plumbing is
  * real: a BinaryType column, a metadata struct column, per-format
  * partitioning, and a per-row feature stage that would become a
  * Pandas UDF / mapInPandas batch stage in a Python deployment (or a
  * JNI decoder in Scala). Swapping `stubDecode` for a real decoder
  * changes no schema and no plan shape — q306/q307 PROVE that seam
  * with the JDK's real PNG and WAV codecs on genuine container bytes
  * ([[graft.plans.MediaMath]]), hash-gated end to end.
  */
object MultimodalQueries {

  /** Twin of DedupQueries.corpus (documents ∪ synthetic near/exact dups
    * — the id offsets are single-owned by DedupQueries, far above any
    * real doc_id at any SF), shared by q62, q64 and q80. */
  private val corpusCte: String =
    s"""corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + ${DedupQueries.NearDupOffset} AS doc_id, text || '${DedupQueries.NearDupSuffix}' AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + ${DedupQueries.ExactDupOffset} AS doc_id, text FROM documents WHERE doc_id % 15 = 0)"""

  /** Deterministic fake "decode": byte length, lead byte, a hash-based
    * feature, and a fake channel count. Placeholder for a real codec.
    * n_bytes counts UTF-8 BYTES of the binary payload (length() on
    * BinaryType) — the oracle twin uses octet_length(encode(text)) so
    * both engines count the same unit on non-ASCII documents too. */
  private def stubDecode(df: DataFrame): DataFrame = df
    .withColumn("n_bytes", length(col("payload")))
    .withColumn("lead_byte", ascii(substring(col("text"), 1, 1)))
    .withColumn("feature_hash", MF.hash32(col("text")))
    .withColumn("channels", (pmod(col("doc_id"), lit(2)) + 1).cast("int"))

  def q60Multimodal(spark: SparkSession, sfDir: String): DataFrame = {
    val assets = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        col("text").cast("binary").as("payload"),
        struct(
          col("source").as("origin"),
          when(pmod(col("doc_id"), lit(3)) === 0, "image/png")
            .when(pmod(col("doc_id"), lit(3)) === 1, "audio/wav")
            .otherwise(lit("video/mp4")).as("mime"),
          col("n_chars").as("raw_len")).as("meta"))
      // co-locate same-mime assets so a real batch decoder sees
      // homogeneous partitions (the shuffle a decode stage wants)
      .repartition(col("meta.mime"))
    stubDecode(assets)
      .select(col("doc_id"), col("meta.mime").as("mime"),
        col("meta.origin").as("origin"), col("n_bytes"),
        col("lead_byte"), col("channels"), col("feature_hash"))
      .orderBy(col("doc_id"))
  }

  val q60Sql: String =
    s"""SELECT doc_id,
  (CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        WHEN doc_id % 3 = 1 THEN 'audio/wav'
        ELSE 'video/mp4' END) AS mime,
  source AS origin,
  octet_length(encode(text)) AS n_bytes,
  ascii(substr(text, 1, 1)) AS lead_byte,
  CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
  ${Sql.hash32("text")} AS feature_hash
FROM documents ORDER BY doc_id"""

  // ---------------------------------------------------------------- q61
  /** Frame size (chars) and sampling stride of the stub frame-sampler. */
  val FrameLen = 16
  val FrameStride = 4

  /** Frame sampling over the opaque payload — the multimodal shape a
    * video/audio pipeline runs at 100 TB: slice the asset into fixed
    * windows ("frames"), keep every k-th, feature-extract each kept
    * frame, emit a compact per-asset summary. The decode is the same
    * honest STUB as q60 (frames = 16-char windows of the payload text,
    * feature = portable 32-bit hash); a real codec swaps into the
    * transform lambda with no change to schema or plan shape. Everything
    * is in-row array expressions (sequence → transform → fold) — one
    * codegen'd scan, no explode, no shuffle except the final sort. */
  def q61FrameSample(spark: SparkSession, sfDir: String): DataFrame = {
    val nFrames = ceil(length(col("text")).cast("double") / FrameLen).cast("long")
    val idx = sequence(lit(0L), col("n_frames") - 1, lit(FrameStride.toLong))
    val hashes = transform(idx,
      i => MF.hash32(col("text").substr((i * FrameLen + 1).cast("int"), lit(FrameLen))))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), nFrames.as("n_frames"))
      .filter(col("n_frames") > 0)
      .withColumn("fh", hashes)
      .select(col("doc_id"), col("n_frames"),
        size(col("fh")).as("n_sampled"),
        // array_min/max are native codegen (no interpreted lambda) and
        // equal the sentinel-fold on these non-empty, non-null arrays
        array_min(col("fh")).as("fh_min"),
        array_max(col("fh")).as("fh_max"))
      .orderBy(col("doc_id"))
  }

  val q61Sql: String = {
    val frame = s"substr(text, CAST(i * $FrameLen + 1 AS INTEGER), $FrameLen)"
    s"""WITH f AS (
  SELECT doc_id, text,
    CAST(ceil(CAST(length(text) AS DOUBLE) / $FrameLen) AS BIGINT) AS n_frames
  FROM documents),
h AS (
  SELECT doc_id, n_frames,
    list_transform(range(0, n_frames, $FrameStride), i -> ${Sql.hash32(frame)}) AS fh
  FROM f WHERE n_frames > 0)
SELECT doc_id, n_frames,
  len(fh) AS n_sampled,
  list_reduce(list_prepend(${Long.MaxValue}, fh), (a, x) -> least(a, x)) AS fh_min,
  list_reduce(list_prepend(${Long.MinValue}, fh), (a, x) -> greatest(a, x)) AS fh_max
FROM h ORDER BY doc_id"""
  }

  // ---------------------------------------------------------------- q62
  /** Fixed chunk width (chars standing in for bytes, like q60/q61's
    * text-backed payloads). */
  val ChunkLen = 32

  /** Storage-level chunk dedup across assets — the blob-store shape
    * (content-addressable chunking) next to CONTENT near-dup: slice
    * every payload into fixed [[ChunkLen]] windows, hash each chunk,
    * and measure how much of each asset is shared with ANY other
    * asset. Runs over the dedup corpus (documents ∪ synthetic
    * near/exact dups) so real sharing exists: exact dups share every
    * chunk, near-dups all but the tail. Fixed windows are the
    * deterministic stand-in for content-defined chunking — a rolling-
    * hash cut-point kernel would slot into the same chunk column.
    *
    * Shape at 100 TB: chunks explode 1:len/32 (bounded fan-out, unlike
    * shingles), the reference-count groupBy is partial-agged on the
    * chunk hash, and the per-asset rollup joins hash-partitioned
    * frames — every exchange carries (hash, count) pairs, never
    * payload bytes. */
  /** Per-asset shared-chunk rollup over distinct (doc_id, h) chunk
    * rows — the content-addressable-store accounting shared by q62 and
    * q64: every exchange carries (hash, count) pairs, never payload
    * bytes. */
  private def chunkShareRollup(chunks: DataFrame): DataFrame = {
    val refs = chunks.groupBy(col("h")).agg(count(lit(1)).as("n_assets"))
    chunks.join(refs, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_assets") > 1, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_chunks"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_chunks"), 6).as("shared_ratio"),
        (col("n_shared") === col("n_chunks")).as("fully_shared"))
      .orderBy(col("doc_id"))
  }

  def q62ChunkDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val nChunks = ceil(length(col("text")).cast("double") / ChunkLen).cast("long")
    val idx = sequence(lit(0L), col("n_chunks") - 1)
    val chunks = DedupQueries.corpus(spark, sfDir)
      .select(col("doc_id"), col("text"), nChunks.as("n_chunks"))
      .filter(col("n_chunks") > 0)
      .select(col("doc_id"), explode(transform(idx, i =>
        MF.hash32(col("text").substr((i * ChunkLen + 1).cast("int"), lit(ChunkLen)))))
        .as("h"))
      .distinct()
    chunkShareRollup(chunks)
  }

  val q62Sql: String = {
    val chunk = s"substr(text, CAST(i * $ChunkLen + 1 AS INTEGER), $ChunkLen)"
    s"""WITH $corpusCte,
f AS (
  SELECT doc_id, text,
    CAST(ceil(CAST(length(text) AS DOUBLE) / $ChunkLen) AS BIGINT) AS n_chunks
  FROM corpus),
chunks AS MATERIALIZED (
  SELECT DISTINCT doc_id, h FROM (
    SELECT doc_id, unnest(list_transform(range(0, n_chunks),
      i -> ${Sql.hash32(chunk)})) AS h
    FROM f WHERE n_chunks > 0)),
refs AS (SELECT h, count(*) AS n_assets FROM chunks GROUP BY h)
SELECT doc_id, count(*) AS n_chunks,
  CAST(sum(CASE WHEN n_assets > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
  round(CAST(sum(CASE WHEN n_assets > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS shared_ratio,
  (CAST(sum(CASE WHEN n_assets > 1 THEN 1 ELSE 0 END) AS BIGINT) = count(*)) AS fully_shared
FROM chunks JOIN refs USING (h)
GROUP BY doc_id ORDER BY doc_id"""
  }

  // ---------------------------------------------------------------- q64
  /** CDC mask width: cut when the low 5 gear-hash bits are zero → mean
    * chunk length 2^5 = 32 chars, q62's fixed width — so q62 vs q64 is
    * an apples-to-apples fixed-vs-content-defined comparison. */
  val CdcMaskBits = 5

  /** Content-defined chunk dedup — q62's blob-store accounting with
    * REAL cut points: chunk boundaries come from the Gear rolling-hash
    * rule compiled in [[graft.plans.CdcMath]] (`graft_cdc_chunks`, one
    * map-only pass per payload), not fixed offsets. Fixed windows lose
    * ALL chunk sharing on a one-character insert (every later window
    * shifts); content-defined cut points re-align after the edit, so
    * only the edited chunk changes — CdcSpec proves exactly that, and
    * this row drives it through the full rollup: near-dups (suffix
    * append) now share every chunk except the last even though their
    * byte lengths differ.
    *
    * The cut rule is shift-local integer arithmetic (see CdcMath), so
    * the DuckDB oracle replays it exactly as a windowed sum — the
    * sketch-family pattern (KMV/CMS): approximate operators built from
    * portable arithmetic stay hash-gated. */
  def q64CdcChunks(spark: SparkSession, sfDir: String): DataFrame = {
    val chunks = DedupQueries.corpus(spark, sfDir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        explode(call_function("graft_cdc_chunks", col("text"), lit(CdcMaskBits))).as("h"))
      .distinct()
    chunkShareRollup(chunks)
  }

  /** Per-position code points of `text` — stage this as a REAL column
    * (withColumn) before feeding [[cdcChunksComposed]]: interpreted
    * HOF lambdas get no common-subexpression elimination, so an inline
    * codes subtree would be re-evaluated on every element access
    * (O(L²·M) per document). */
  private[graft] def cdcCodes(text: Column): Column =
    transform(sequence(lit(1), length(text)), i => ascii(text.substr(i, lit(1))))

  /** Composed-builtins twin of `graft_cdc_chunks` (CdcSpec pins the
    * kernel to it bitwise): the cut predicate at position i is the
    * trailing-window sum Σ_{k<min(M,i)} gear(c_{i−k})·2^k mod 2^M — the
    * shift-local form of the rolling hash (CdcMath doc has the
    * derivation), so it needs no sequential state. `codes` must be the
    * staged [[cdcCodes]] column. Interpreted HOFs, spec-only — the
    * query path uses the kernel. */
  private[graft] def cdcChunksComposed(text: Column, codes: Column,
                                       maskBits: Int): Column = {
    val L = size(codes)
    def gearOf(c: Column): Column =
      ((c.cast("long") + 1L) * lit(2654435761L)) % lit(4294967296L)
    def pred(i: Column): Column =
      aggregate(sequence(lit(0), least(lit(maskBits), i) - 1), lit(0L),
        (acc, k) => acc + gearOf(element_at(codes, i - k))
          * pow(lit(2.0), k.cast("double")).cast("long")) % lit(1L << maskBits) === 0
    val cuts = filter(sequence(lit(1), L), i => i < L && pred(i))
    val starts = concat(array(lit(1)), transform(cuts, c => c + 1))
    val ends = concat(cuts, array(L))
    transform(sequence(lit(1), size(ends)), j =>
      MF.hash32(text.substr(element_at(starts, j),
        element_at(ends, j) - element_at(starts, j) + 1)))
  }

  val q64Sql: String = {
    val m = CdcMaskBits
    val mod = 1L << m
    val gear = "(((unicode(text[i-k]) + 1) * 2654435761) % 4294967296)"
    val chunk = "substr(text, CAST(starts[j] AS INTEGER), CAST(ends[j] - starts[j] + 1 AS INTEGER))"
    s"""WITH $corpusCte,
f AS (SELECT doc_id, text, length(text) AS L FROM corpus WHERE length(text) > 0),
cut AS (
  SELECT doc_id, text, L,
    list_filter(range(1, L), i ->
      list_sum(list_transform(range(0, least($m, i)), k ->
        $gear * CAST(pow(2, k) AS BIGINT))) % $mod = 0) AS cuts
  FROM f),
b AS (
  SELECT doc_id, text,
    list_prepend(1, list_transform(cuts, c -> c + 1)) AS starts,
    list_append(cuts, L) AS ends
  FROM cut),
chunks AS MATERIALIZED (
  SELECT DISTINCT doc_id, h FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(ends) + 1),
      j -> ${Sql.hash32(chunk)})) AS h
    FROM b)),
refs AS (SELECT h, count(*) AS n_assets FROM chunks GROUP BY h)
SELECT doc_id, count(*) AS n_chunks,
  CAST(sum(CASE WHEN n_assets > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
  round(CAST(sum(CASE WHEN n_assets > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS shared_ratio,
  (CAST(sum(CASE WHEN n_assets > 1 THEN 1 ELSE 0 END) AS BIGINT) = count(*)) AS fully_shared
FROM chunks JOIN refs USING (h)
GROUP BY doc_id ORDER BY doc_id"""
  }

  // ---------------------------------------------------------------- q80
  /** Perceptual-duplicate detection over decoded assets — the image
    * near-dup fingerprint (aHash family) a multimodal pipeline runs
    * after decode: `graft_phash` ([[graft.plans.PhashMath]]) resizes
    * the stub-decoded intensity stream to 64 pixel blocks and sets bit
    * b iff block b's mean exceeds the global mean (exact cross-
    * multiplied integer compares — no floats, fully oracle-
    * replayable); assets sharing the full 64-bit hash are perceptual
    * duplicates. Runs over the dedup corpus so true duplicates exist:
    * exact dups share the hash by construction, and aHash is INVARIANT
    * under uniform brightness shift (PhashSpec pins both properties +
    * the kernel ≡ composed-builtins twin).
    *
    * Shape at 100 TB: the hash is one map-only compiled pass per
    * asset; the duplicate-group count is a groupBy on the 64-bit key
    * (exchanges carry (hash, count) pairs) joined back — the q20
    * exact-dedup shape with a perceptual key. Hamming-near matching
    * would add q22's banding over the same two halves; hash-equality
    * grouping is the deterministic core. */
  def q80Phash(spark: SparkSession, sfDir: String): DataFrame = {
    val sig = DedupQueries.corpus(spark, sfDir)
      .filter(length(col("text")) >= graft.plans.PhashMath.Pixels)
      .select(col("doc_id"), call_function("graft_phash", col("text")).as("ph"))
      .select(col("doc_id"),
        element_at(col("ph"), 1).as("ph_lo"), element_at(col("ph"), 2).as("ph_hi"))
    val groups = sig.groupBy(col("ph_lo"), col("ph_hi"))
      .agg(count(lit(1)).as("n_same"))
    sig.join(groups, Seq("ph_lo", "ph_hi"))
      .select(col("doc_id"), col("ph_lo"), col("ph_hi"), col("n_same"),
        (col("n_same") > 1).as("is_perceptual_dup"))
      .orderBy(col("doc_id"))
  }

  /** Composed-builtins twin of `graft_phash` (PhashSpec pins the kernel
    * to it bitwise). `codes` must be a staged per-position code-point
    * column (the [[cdcCodes]] pattern — interpreted HOFs get no CSE).
    * Spec-only; the query path uses the kernel. */
  private[graft] def phashComposed(codes: Column): Column = {
    val L = size(codes)
    val total = aggregate(codes, lit(0L), (a, x) => a + x.cast("long"))
    def blockStart(b: Column): Column =
      floor(b.cast("double") * L / graft.plans.PhashMath.Pixels).cast("int")
    def half(off: Int): Column =
      aggregate(sequence(lit(off), lit(off + 31)), lit(0L), (acc, b) => {
        val s = blockStart(b)
        val e = blockStart(b + 1)
        val cnt = (e - s).cast("long")
        val sum = aggregate(slice(codes, s + 1, e - s), lit(0L),
          (a, x) => a + x.cast("long"))
        acc + when(sum * L.cast("long") > total * cnt,
          pow(lit(2.0), (b - off).cast("double")).cast("long")).otherwise(lit(0L))
      })
    array(half(0), half(32))
  }

  val q80Sql: String = {
    val px = graft.plans.PhashMath.Pixels
    def half(off: Int): String =
      s"""CAST(list_sum(list_transform(range($off, ${off + 32}), b ->
      CASE WHEN CAST(list_sum(list_transform(range((b*L)//$px + 1, ((b+1)*L)//$px + 1),
                     i -> codes[i])) AS BIGINT) * L
                > total * (((b+1)*L)//$px - (b*L)//$px)
           THEN CAST(pow(2, b - $off) AS BIGINT) ELSE 0 END)) AS BIGINT)"""
    s"""WITH $corpusCte,
c AS MATERIALIZED (
  SELECT doc_id, length(text) AS L,
    list_transform(range(1, length(text) + 1), i -> unicode(text[i])) AS codes
  FROM corpus WHERE length(text) >= $px),
t AS MATERIALIZED (
  SELECT doc_id, L, codes, CAST(list_sum(codes) AS BIGINT) AS total FROM c),
sig AS MATERIALIZED (
  SELECT doc_id, ${half(0)} AS ph_lo, ${half(32)} AS ph_hi FROM t),
groups AS (SELECT ph_lo, ph_hi, count(*) AS n_same FROM sig GROUP BY ph_lo, ph_hi)
SELECT doc_id, ph_lo, ph_hi, n_same, (n_same > 1) AS is_perceptual_dup
FROM sig JOIN groups USING (ph_lo, ph_hi)
ORDER BY doc_id"""
  }

  // ---------------------------------------------------------------- q153
  /** VAD frame width (stub-PCM chars per frame) and energy gate. */
  val VadFrameLen = 16
  val VadThreshold = 450L

  /** Voice-activity segmentation over the audio assets — the
    * silence-trim / speech-chunking pass an audio training pipeline
    * runs before transcription: the payload "decodes" (same honest
    * stub as q60/q61 — a real codec swaps in without changing schema
    * or plan) into fixed [[VadFrameLen]]-unit frames, each frame's
    * pseudo-energy (portable hash mod 1000) gates against
    * [[VadThreshold]], and consecutive speech frames merge into
    * segments (gaps-and-islands). Per asset: frame/speech counts,
    * segment count, longest segment, speech ratio.
    *
    * Shape for 100 TB: the frame stream is a map-side explode keyed
    * by asset; flags, islands, and the per-asset aggregate all ride
    * ONE hash shuffle on doc_id (frame count per asset is bounded by
    * asset length — the natural audio-pipeline partitioning). */
  def q153Vad(spark: SparkSession, sfDir: String): DataFrame = {
    val audio = Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(3)) === 1) // q60's audio/wav slice
      .select(col("doc_id"), col("text"))
    val nFrames = ceil(length(col("text")).cast("double") / VadFrameLen).cast("long")
    val framed = audio
      .withColumn("n_frames", nFrames)
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("n_frames"), col("text"),
        explode(sequence(lit(0L), col("n_frames") - 1)).as("i"))
      .withColumn("energy", pmod(MF.hash32(
        col("text").substr((col("i") * VadFrameLen + 1).cast("int"), lit(VadFrameLen))),
        lit(1000L)))
      .withColumn("speech", col("energy") >= VadThreshold)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    val segs = framed
      .withColumn("start",
        when(col("speech") &&
          !coalesce(lag(col("speech"), 1).over(byDoc), lit(false)), 1L)
          .otherwise(0L))
      .withColumn("seg_id", sum(col("start")).over(byDoc))
    val perSeg = segs.filter(col("speech"))
      .groupBy(col("doc_id"), col("seg_id")).agg(count(lit(1)).as("seg_len"))
    val perDoc = segs.groupBy(col("doc_id"))
      .agg(max(col("n_frames")).as("n_frames"),
        sum(when(col("speech"), 1L).otherwise(0L)).as("n_speech"))
    perDoc.join(perSeg.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_segments"), max(col("seg_len")).as("longest_seg")),
      Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"), col("n_speech"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("longest_seg"), lit(0L)).as("longest_seg"),
        round(col("n_speech").cast("double") / col("n_frames"), 6)
          .as("speech_ratio"))
      .orderBy(col("doc_id"))
  }

  val q153Sql: String = {
    val frame = s"substr(text, CAST(i * $VadFrameLen + 1 AS INTEGER), $VadFrameLen)"
    s"""WITH audio AS (
  SELECT doc_id, text, CAST(ceil(length(text) / $VadFrameLen.0) AS BIGINT) AS n_frames
  FROM documents WHERE doc_id % 3 = 1 AND length(text) > 0),
framed AS (
  SELECT doc_id, n_frames, i,
    (${Sql.hash32OfHex(s"md5($frame)")} % 1000) AS energy
  FROM (SELECT doc_id, text, n_frames, unnest(range(0, n_frames)) AS i FROM audio)),
flagged AS (
  SELECT doc_id, n_frames, i, (energy >= $VadThreshold) AS speech
  FROM framed),
starts AS (
  SELECT doc_id, n_frames, i, speech,
    (CASE WHEN speech AND NOT coalesce(lag(speech) OVER w, FALSE)
          THEN 1 ELSE 0 END) AS start
  FROM flagged WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
segs AS (
  SELECT doc_id, n_frames, i, speech,
    CAST(sum(start) OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS seg_id
  FROM starts),
per_seg AS (
  SELECT doc_id, seg_id, count(*) AS seg_len FROM segs WHERE speech
  GROUP BY doc_id, seg_id),
per_doc AS (
  SELECT doc_id, max(n_frames) AS n_frames,
    CAST(sum(CASE WHEN speech THEN 1 ELSE 0 END) AS BIGINT) AS n_speech
  FROM segs GROUP BY doc_id),
seg_agg AS (
  SELECT doc_id, count(*) AS n_segments, max(seg_len) AS longest_seg
  FROM per_seg GROUP BY doc_id)
SELECT d.doc_id, d.n_frames, d.n_speech,
  coalesce(s.n_segments, 0) AS n_segments,
  coalesce(s.longest_seg, 0) AS longest_seg,
  round(CAST(d.n_speech AS DOUBLE) / d.n_frames, 6) AS speech_ratio
FROM per_doc d LEFT JOIN seg_agg s ON d.doc_id = s.doc_id
ORDER BY d.doc_id"""
  }

  // ---------------------------------------------------------------- q165
  /** Shot-boundary frame length and luma-jump cut threshold. */
  val ShotFrameLen = 16
  val ShotCut = 500L

  /** Shot-boundary detection over the video assets (q60's `video/mp4`
    * slice) — the scene segmentation a video pipeline runs before
    * per-shot sampling/captioning: q153 gates frames on ABSOLUTE
    * pseudo-energy (voice activity); this cuts on the TEMPORAL
    * DERIVATIVE — a boundary wherever the frame feature jumps by
    * ≥ [[ShotCut]] against the previous frame — then merges frames
    * into shots and reports the per-asset shot census (count, longest,
    * mean length, cut rate). The stub frame feature is the same
    * portable hash the VAD row uses; a real decoder drops its luma
    * histogram into the same column with no plan change.
    *
    * Shape for 100 TB: frame stream is a map-side explode of fixed
    * windows; the lag/cumsum ride ONE doc_id window shuffle; per-shot
    * and per-doc aggregates are partial-agged on the same key. */
  def q165Shots(spark: SparkSession, sfDir: String): DataFrame = {
    val video = Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(3)) === 2)
      .select(col("doc_id"), col("text"))
    val nFrames = ceil(length(col("text")).cast("double") / ShotFrameLen).cast("long")
    val framed = video
      .withColumn("n_frames", nFrames)
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1)).as("i"),
        col("text"))
      .withColumn("luma", pmod(MF.hash32(
        col("text").substr((col("i") * ShotFrameLen + 1).cast("int"), lit(ShotFrameLen))),
        lit(1000L)))
      .drop("text")
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    val cuts = framed
      .withColumn("cut",
        when(abs(col("luma") - lag(col("luma"), 1).over(byDoc)) >= ShotCut, 1L)
          .otherwise(0L))
      .withColumn("shot_id", sum(col("cut")).over(byDoc))
    val perShot = cuts.groupBy(col("doc_id"), col("shot_id"))
      .agg(count(lit(1)).as("shot_len"))
    val perDoc = cuts.groupBy(col("doc_id"))
      .agg(max(col("n_frames")).as("n_frames"), sum(col("cut")).as("n_cuts"))
    perDoc.join(perShot.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shots"), max(col("shot_len")).as("longest_shot")),
      Seq("doc_id"))
      .select(col("doc_id"), col("n_frames"), col("n_shots"), col("longest_shot"),
        round(col("n_frames").cast("double") / col("n_shots"), 6).as("mean_shot_len"),
        when(col("n_frames") > 1,
          round(col("n_cuts").cast("double") / (col("n_frames") - 1), 6))
          .otherwise(0.0).as("cut_rate"))
      .orderBy(col("doc_id"))
  }

  val q165Sql: String = {
    val frame = s"substr(text, CAST(i * $ShotFrameLen + 1 AS INTEGER), $ShotFrameLen)"
    s"""WITH video AS (
  SELECT doc_id, text, CAST(ceil(length(text) / $ShotFrameLen.0) AS BIGINT) AS n_frames
  FROM documents WHERE doc_id % 3 = 2 AND length(text) > 0),
framed AS (
  SELECT doc_id, n_frames, i,
    (${Sql.hash32OfHex(s"md5($frame)")} % 1000) AS luma
  FROM (SELECT doc_id, text, n_frames, unnest(range(0, n_frames)) AS i FROM video)),
cuts AS (
  SELECT doc_id, n_frames, i,
    (CASE WHEN abs(luma - lag(luma) OVER w) >= $ShotCut THEN 1 ELSE 0 END) AS cut
  FROM framed WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
shots AS (
  SELECT doc_id, n_frames, i, cut,
    CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS shot_id
  FROM cuts),
per_shot AS (
  SELECT doc_id, shot_id, count(*) AS shot_len FROM shots GROUP BY doc_id, shot_id),
per_doc AS (
  SELECT doc_id, max(n_frames) AS n_frames, CAST(sum(cut) AS BIGINT) AS n_cuts
  FROM shots GROUP BY doc_id),
shot_agg AS (
  SELECT doc_id, count(*) AS n_shots, max(shot_len) AS longest_shot
  FROM per_shot GROUP BY doc_id)
SELECT d.doc_id, d.n_frames, s.n_shots, s.longest_shot,
  round(CAST(d.n_frames AS DOUBLE) / s.n_shots, 6) AS mean_shot_len,
  (CASE WHEN d.n_frames > 1
        THEN round(CAST(d.n_cuts AS DOUBLE) / (d.n_frames - 1), 6)
        ELSE 0.0 END) AS cut_rate
FROM per_doc d JOIN shot_agg s ON d.doc_id = s.doc_id
ORDER BY d.doc_id"""
  }

  // ---------------------------------------------------------------- q175
  /** Shot↔chunk interval alignment — the random-access plan a media
    * pipeline derives before serving per-shot work (captioning,
    * re-encode, clip export): which CONTENT-DEFINED storage chunks
    * (q64's Gear cut rule, via the `graft_cdc_cuts` kernel — boundary
    * positions instead of chunk hashes) does each detected shot
    * (q165's luma-jump walk) span? One overlap interval join per
    * asset, reported per shot as its char range plus the first/last
    * chunk index and chunk count. Both interval sets are 1-based char
    * ranges of the same payload, so the alignment is exact.
    *
    * Shape for 100 TB: shots and chunks both derive map-side per
    * asset and meet in ONE doc_id equi-join (intervals of the same
    * asset are co-partitioned by construction — never a global range
    * join); per-shot aggregation rides the same key. */
  def q175ShotChunks(spark: SparkSession, sfDir: String): DataFrame = {
    val video = Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(3)) === 2)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("L"))
    val framed = video
      .withColumn("n_frames",
        ceil(col("L").cast("double") / ShotFrameLen).cast("long"))
      .select(col("doc_id"), col("L"), col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1)).as("i"), col("text"))
      .withColumn("luma", pmod(MF.hash32(
        col("text").substr((col("i") * ShotFrameLen + 1).cast("int"),
          lit(ShotFrameLen))), lit(1000L)))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    val shots = framed
      .withColumn("cut",
        when(abs(col("luma") - lag(col("luma"), 1).over(byDoc)) >= ShotCut, 1L)
          .otherwise(0L))
      .withColumn("shot_id", sum(col("cut")).over(byDoc))
      .groupBy(col("doc_id"), col("shot_id"))
      .agg(min(col("i")).as("f0"), max(col("i")).as("f1"), max(col("L")).as("L"))
      .select(col("doc_id"), col("shot_id"),
        (col("f0") * ShotFrameLen + 1).as("shot_start"),
        least((col("f1") + 1) * ShotFrameLen, col("L")).as("shot_end"))
    val byChunk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("chunk_id"))
    val chunks = video
      .select(col("doc_id"),
        posexplode(call_function("graft_cdc_cuts", col("text"), lit(CdcMaskBits))))
      .select(col("doc_id"), (col("pos") + 1).as("chunk_id"), col("col").as("ce"))
      .withColumn("cs",
        coalesce(lag(col("ce"), 1).over(byChunk) + 1, lit(1L)))
    shots.join(chunks, Seq("doc_id"))
      .filter(col("cs") <= col("shot_end") && col("ce") >= col("shot_start"))
      .groupBy(col("doc_id"), col("shot_id"), col("shot_start"), col("shot_end"))
      .agg(count(lit(1)).as("n_chunks"),
        min(col("chunk_id")).as("first_chunk"),
        max(col("chunk_id")).as("last_chunk"))
      .orderBy(col("doc_id"), col("shot_id"))
  }

  val q175Sql: String = {
    val m = CdcMaskBits
    val mod = 1L << m
    val frame = s"substr(text, CAST(i * $ShotFrameLen + 1 AS INTEGER), $ShotFrameLen)"
    val gear = "(((unicode(text[i-k]) + 1) * 2654435761) % 4294967296)"
    s"""WITH video AS (
  SELECT doc_id, text, length(text) AS L,
    CAST(ceil(length(text) / $ShotFrameLen.0) AS BIGINT) AS n_frames
  FROM documents WHERE doc_id % 3 = 2 AND length(text) > 0),
framed AS (
  SELECT doc_id, L, n_frames, i,
    (${Sql.hash32OfHex(s"md5($frame)")} % 1000) AS luma
  FROM (SELECT doc_id, text, L, n_frames, unnest(range(0, n_frames)) AS i FROM video)),
sc AS (
  SELECT doc_id, L, i,
    (CASE WHEN abs(luma - lag(luma) OVER w) >= $ShotCut THEN 1 ELSE 0 END) AS cut
  FROM framed WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
sh AS (
  SELECT doc_id, i, L,
    CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS shot_id
  FROM sc),
shots AS (
  SELECT doc_id, shot_id, min(i) * $ShotFrameLen + 1 AS shot_start,
    least((max(i) + 1) * $ShotFrameLen, max(L)) AS shot_end
  FROM sh GROUP BY doc_id, shot_id),
ends AS (
  SELECT doc_id,
    list_append(list_filter(range(1, L), i ->
      list_sum(list_transform(range(0, least($m, i)), k ->
        $gear * CAST(pow(2, k) AS BIGINT))) % $mod = 0), L) AS el
  FROM video),
chunks AS (
  SELECT doc_id, j AS chunk_id, el[j] AS ce,
    (CASE WHEN j = 1 THEN 1 ELSE el[j - 1] + 1 END) AS cs
  FROM (SELECT doc_id, el, unnest(range(1, len(el) + 1)) AS j FROM ends))
SELECT s.doc_id, s.shot_id, s.shot_start, s.shot_end,
  count(*) AS n_chunks, min(c.chunk_id) AS first_chunk,
  max(c.chunk_id) AS last_chunk
FROM shots s JOIN chunks c ON s.doc_id = c.doc_id
WHERE c.cs <= s.shot_end AND c.ce >= s.shot_start
GROUP BY s.doc_id, s.shot_id, s.shot_start, s.shot_end
ORDER BY s.doc_id, s.shot_id"""
  }

  // --------------------------------------------------------------- q288
  /** Hamming radius for the banded perceptual near-dup join; with the
    * 64-bit pHash split into 4 bands of 16 bits, pigeonhole GUARANTEES
    * every pair within radius 3 shares at least one exact band — the
    * candidate stage has perfect recall at this radius, no tuning. */
  val PhashHammingMax = 3
  private[graft] val PhashNearOffset: Long = 4000000000L

  /** Banded pHash near-duplicate JOIN — the Hamming-near matching
    * q80's doc promises on top of its exact perceptual groups, and the
    * multimodal sibling of q21's MinHash-LSH: the 64-bit perceptual
    * hash splits into 4×16-bit bands, candidates come from band
    * equality (bucket join — NEVER all-pairs), and exact Hamming
    * distance (bit_count of xor on the two 32-bit halves) verifies
    * candidates at radius ≤ [[PhashHammingMax]], where 4-band
    * pigeonhole makes the candidate stage lossless. The corpus adds
    * single-character-substituted twins (doc_id%10==0 →
    * +[[PhashNearOffset]]) — the LENGTH-PRESERVING perturbation a
    * perceptual hash is designed to absorb (q80's append-marker twins
    * shift every block boundary and land 19-39 bits away — measured;
    * a one-char swap lands 0-4 bits away), so the op separates
    * perceptual-near from textual-near exactly as pHash should.
    *
    * Shape for 100 TB: the pHash is the compiled kernel (one pass,
    * map-side); bands explode 4× the signature frame and bucket-join
    * on (band, value); verification touches only candidate pairs.
    * Exchanges carry (doc_id, 64 bits) — never payloads. */
  def q288PhashNear(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val corpus = d.unionAll(
      d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + PhashNearOffset).as("doc_id"),
          concat(expr("substring(text, 1, length(text) div 2)"), lit("Z"),
            expr("substring(text, length(text) div 2 + 2, 2147483647)")).as("text")))
    val sig = graft.Checkpoints.materialize(corpus
      .filter(length(col("text")) >= graft.plans.PhashMath.Pixels)
      .select(col("doc_id"), call_function("graft_phash", col("text")).as("ph"))
      .select(col("doc_id"),
        element_at(col("ph"), 1).as("ph_lo"), element_at(col("ph"), 2).as("ph_hi")))
    val bands = sig.select(col("doc_id"), explode(array(
        struct(lit(0).as("bi"), expr("ph_lo div 65536").as("bv")),
        struct(lit(1).as("bi"), pmod(col("ph_lo"), lit(65536L)).as("bv")),
        struct(lit(2).as("bi"), expr("ph_hi div 65536").as("bv")),
        struct(lit(3).as("bi"), pmod(col("ph_hi"), lit(65536L)).as("bv")))).as("b"))
      .select(col("doc_id"), col("b.bi").as("bi"), col("b.bv").as("bv"))
    val cand = bands.select(col("bi"), col("bv"), col("doc_id").as("da"))
      .join(bands.select(col("bi"), col("bv"), col("doc_id").as("db")),
        Seq("bi", "bv"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db")).distinct()
    cand
      .join(sig.select(col("doc_id").as("da"), col("ph_lo").as("la"),
        col("ph_hi").as("ha")), "da")
      .join(sig.select(col("doc_id").as("db"), col("ph_lo").as("lb"),
        col("ph_hi").as("hb")), "db")
      .select(col("da"), col("db"),
        expr("bit_count(la ^ lb) + bit_count(ha ^ hb)").as("hamming"))
      .filter(col("hamming") <= PhashHammingMax)
      .select(col("da"), col("db"), col("hamming"),
        (col("hamming") === 0).as("is_exact"))
      .orderBy(col("da"), col("db"))
  }

  val q288Sql: String = {
    val px = graft.plans.PhashMath.Pixels
    def half(off: Int): String =
      s"""CAST(list_sum(list_transform(range($off, ${off + 32}), b ->
      CASE WHEN CAST(list_sum(list_transform(range((b*L)//$px + 1, ((b+1)*L)//$px + 1),
                     i -> codes[i])) AS BIGINT) * L
                > total * (((b+1)*L)//$px - (b*L)//$px)
           THEN CAST(pow(2, b - $off) AS BIGINT) ELSE 0 END)) AS BIGINT)"""
    s"""WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + $PhashNearOffset AS doc_id,
    substr(text, 1, length(text)//2) || 'Z' || substr(text, length(text)//2 + 2) AS text
  FROM documents WHERE doc_id % 10 = 0),
c AS MATERIALIZED (
  SELECT doc_id, length(text) AS L,
    list_transform(range(1, length(text) + 1), i -> unicode(text[i])) AS codes
  FROM corpus WHERE length(text) >= $px),
t AS MATERIALIZED (
  SELECT doc_id, L, codes, CAST(list_sum(codes) AS BIGINT) AS total FROM c),
sig AS MATERIALIZED (
  SELECT doc_id, ${half(0)} AS ph_lo, ${half(32)} AS ph_hi FROM t),
bands AS MATERIALIZED (
  SELECT doc_id, 0 AS bi, ph_lo // 65536 AS bv FROM sig
  UNION ALL SELECT doc_id, 1, ph_lo % 65536 FROM sig
  UNION ALL SELECT doc_id, 2, ph_hi // 65536 FROM sig
  UNION ALL SELECT doc_id, 3, ph_hi % 65536 FROM sig),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id),
verified AS (
  SELECT c.da, c.db,
    CAST(bit_count(xor(sa.ph_lo, sb.ph_lo)) + bit_count(xor(sa.ph_hi, sb.ph_hi)) AS INT) AS hamming
  FROM cand c JOIN sig sa ON c.da = sa.doc_id JOIN sig sb ON c.db = sb.doc_id)
SELECT da, db, hamming, (hamming = 0) AS is_exact
FROM verified WHERE hamming <= $PhashHammingMax ORDER BY da, db"""
  }

  /** q306 image dims: w ∈ 4..16, h ∈ 4..10 (≤160 px per asset). */
  val PngWMod = 13
  val PngHMod = 7

  // --------------------------------------------------------------- q306
  /** REAL image codec round-trip — the decode stage q60 honestly stubs,
    * closed for PNG with the JDK's own `javax.imageio` (zero new
    * dependencies): each document becomes a w×h RGB image whose pixels
    * are closed-form integer formulas of (doc_id, x, y), ENCODED to a
    * real PNG byte stream, carried as a BinaryType column, then DECODED
    * back by a second compiled expression into (width, height, ΣR, ΣG,
    * ΣB). The engine therefore exercises a genuine codec both ways —
    * one wrong byte in the chunk layout and the decode (and the hash
    * gate) breaks — while the DuckDB oracle replays the expected sums
    * purely arithmetically, never touching a codec
    * ([[graft.plans.MediaMath]]).
    *
    * Scale shape: both codec stages are per-row compiled expressions —
    * map-only over the documents scan, no shuffle, no driver; exactly
    * the contract a production decode stage has (a JPEG/JNI/mapInPandas
    * decoder slots into the same seam with the same schema). */
  def q306ImageRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dims = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        (lit(4) + pmod(col("doc_id"), lit(PngWMod))).cast("int").as("w"),
        (lit(4) + pmod(col("doc_id"), lit(PngHMod))).cast("int").as("h"))
    dims
      .withColumn("png", expr("graft_png_encode(doc_id, w, h)"))
      .withColumn("s", expr("graft_png_stats(png)"))
      .select(col("doc_id"),
        col("s.width").as("width"), col("s.height").as("height"),
        col("s.sum_r").as("sum_r"), col("s.sum_g").as("sum_g"),
        col("s.sum_b").as("sum_b"),
        round(col("s.sum_r").cast("double") / (col("w") * col("h")), 6)
          .as("mean_r"))
      .orderBy(col("doc_id"))
  }

  val q306Sql: String =
    s"""WITH d AS (
  SELECT doc_id, CAST(4 + doc_id % $PngWMod AS INT) AS w,
         CAST(4 + doc_id % $PngHMod AS INT) AS h
  FROM documents),
xs AS (SELECT doc_id, w, h, unnest(range(0, CAST(w AS BIGINT))) AS x FROM d),
xy AS (SELECT doc_id, w, h, x, unnest(range(0, CAST(h AS BIGINT))) AS y FROM xs),
px AS (
  SELECT doc_id, w, h,
    CAST(sum((doc_id*31 + x*7 + y*3) % 256) AS BIGINT) AS sum_r,
    CAST(sum((doc_id*17 + x*11 + y*5) % 256) AS BIGINT) AS sum_g,
    CAST(sum((doc_id*13 + x*19 + y*23) % 256) AS BIGINT) AS sum_b
  FROM xy GROUP BY 1, 2, 3)
SELECT doc_id, w AS width, h AS height, sum_r, sum_g, sum_b,
  round(CAST(sum_r AS DOUBLE) / (w * h), 6) AS mean_r
FROM px ORDER BY doc_id"""

  /** q307 sample counts: n ∈ 100..499 per asset. */
  val WavNBase = 100
  val WavNMod = 400

  // --------------------------------------------------------------- q307
  /** REAL audio codec round-trip — PCM WAV via the JDK's
    * `javax.sound.sampled` (q306's audio sibling): n deterministic
    * signed 16-bit samples ((doc_id·7 + i·13) mod 65536 − 32768) are
    * ENCODED through the real RIFF/WAVE writer, carried as binary,
    * then DECODED back by the real parser into (n_samples, Σs, Σ|s|) —
    * a byte-order or header error on either side fails the hash gate.
    * The oracle replays the sample formula arithmetically. Same
    * map-only per-row scale shape as q306. */
  def q307AudioRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        (lit(WavNBase) + pmod(col("doc_id"), lit(WavNMod))).cast("int").as("n"))
      .withColumn("wav", expr("graft_wav_encode(doc_id, n)"))
      .withColumn("s", expr("graft_wav_stats(wav)"))
      .select(col("doc_id"), col("s.n_samples").as("n_samples"),
        col("s.sum_s").as("sum_s"), col("s.sum_abs").as("sum_abs"))
      .orderBy(col("doc_id"))
  }

  val q307Sql: String =
    s"""WITH d AS (
  SELECT doc_id, CAST($WavNBase + doc_id % $WavNMod AS INT) AS n FROM documents),
si AS (SELECT doc_id, n, unnest(range(0, CAST(n AS BIGINT))) AS i FROM d)
SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
  CAST(sum((doc_id*7 + i*13) % 65536 - 32768) AS BIGINT) AS sum_s,
  CAST(sum(abs((doc_id*7 + i*13) % 65536 - 32768)) AS BIGINT) AS sum_abs
FROM si GROUP BY 1, 2 ORDER BY doc_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q306_image_roundtrip" -> q306ImageRoundtrip,
    "q307_audio_roundtrip" -> q307AudioRoundtrip,
    "q288_phash_near" -> q288PhashNear,
    "q175_shot_chunks" -> q175ShotChunks,
    "q165_shots" -> q165Shots,
    "q153_vad" -> q153Vad,
    "q80_phash" -> q80Phash,
    "q60_multimodal" -> q60Multimodal,
    "q61_frame_sample" -> q61FrameSample,
    "q62_chunk_dedup" -> q62ChunkDedup,
    "q64_cdc_chunks" -> q64CdcChunks)

  val oracles: Map[String, String] = Map(
    "q306_image_roundtrip" -> q306Sql,
    "q307_audio_roundtrip" -> q307Sql,
    "q288_phash_near" -> q288Sql,
    "q175_shot_chunks" -> q175Sql,
    "q165_shots" -> q165Sql,
    "q153_vad" -> q153Sql,
    "q60_multimodal" -> q60Sql,
    "q61_frame_sample" -> q61Sql,
    "q62_chunk_dedup" -> q62Sql,
    "q64_cdc_chunks" -> q64Sql,
    "q80_phash" -> q80Sql)
}
