package graft.mm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.BlockedPairs

/** Multimodal-column plumbing: opaque `binary` content + typed metadata.
  *
  * The pattern for a 100 TB media lake: content is an opaque BinaryType
  * column (or a pointer to object storage beyond ~1 MB per object);
  * metadata (format/width/height/frame count) is typed columns so
  * Catalyst can prune and push down on them WITHOUT touching the bytes.
  *
  * Two content tiers coexist here:
  *  - [[mediaLake]] rows carry REAL containers — RIFF/WAVE PCM16 and
  *    24 bpp BI_RGB BMP built and parsed by the pure-JVM codegen'd
  *    codec expressions ([[graft.functions.MediaCodec]], r7) — and the
  *    signal operators ([[audioEnergy]] / [[vadSegments]] /
  *    [[sceneCuts]] / [[decodeFeatures]]) consume TRUE decoded PCM
  *    samples and luma pixels.
  *  - [[mediaFromDocuments]] rows carry raw bytes under image/video
  *    format labels for the container-level operators ([[phash]],
  *    [[frameSample]], [[videoNearDup]], [[resizeBatched]]) whose shape
  *    is content-agnostic fingerprinting; their scaladocs state what a
  *    format-specific build would decode first.
  *
  * With the codecs as native expressions, decode needs no per-partition
  * batching: the expressions run inside whole-stage codegen with no
  * partition barrier and no boxing. [[resizeBatched]] is the one
  * `mapPartitions` operator left, for its per-partition digest state.
  */
object Multimodal {

  final case class MediaRecord(doc_id: Long, format: String, width: Int,
                               height: Int, n_frames: Int, content: Array[Byte])

  /** Format-dispatched TRUE-luma decode — the image-container matrix the
    * decoded-signal operators share (bmp from [[mediaLake]], png from
    * [[pngLake]]); other formats decode to no pixels (empty array), the
    * codecs' own malformed-input value. */
  private def lumaOf: org.apache.spark.sql.Column =
    when(col("format") === "bmp", call_function("bmp_luma", col("content")))
      .when(col("format") === "png", call_function("png_luma", col("content")))
      .otherwise(call_function("bmp_luma", lit(Array.emptyByteArray)))

  /** Synthesize a media table from the documents corpus: text bytes play
    * the role of encoded content; metadata derives deterministically from
    * doc columns. Feeds the container-level (content-agnostic) operators;
    * the decoded-signal operators read [[mediaLake]]. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "jpeg")
        .when(col("doc_id") % 3 === 1, "png")
        .otherwise("webp").as("format"),
      ((col("n_chars") % 64) * 10 + 64).cast("int").as("width"),
      ((col("n_chars") % 48) * 10 + 48).cast("int").as("height"),
      (col("n_chars") % 7 + 1).cast("int").as("n_frames"),
      col("text").cast("binary").as("content"))

  /** The REAL-container media lake: even doc ids become RIFF/WAVE PCM16
    * files (sample_i = (byte_i − 128)·256 of the UTF-8 text payload),
    * odd ids become 24 bpp bottom-up BMPs (pixel j = payload[3j..3j+2]
    * as B,G,R; width = len%24 + 8). Deterministic from the document row,
    * so the DuckDB oracle re-derives every decoded value from first
    * principles — the hash compare then proves the PARSERS undo the
    * container layout (chunk walk, row flip, stride padding) exactly. */
  def mediaLake(docs: DataFrame): DataFrame = {
    val payload = col("text").cast("binary")
    val width = (pmod(length(payload), lit(24)) + lit(8)).cast("int")
    docs.select(
      col("doc_id"),
      when(pmod(col("doc_id"), lit(2)) === 0, "wav").otherwise("bmp").as("format"),
      when(pmod(col("doc_id"), lit(2)) === 0, call_function("wav_encode", payload))
        .otherwise(call_function("bmp_encode", payload, width)).as("content"))
  }

  /** The png-labeled third of [[mediaFromDocuments]] upgraded from
    * byte-tier to DECODED-LUMA tier (r8): those docs (doc_id % 3 = 1)
    * re-materialize as REAL PNGs — 8-bit truecolor, zlib IDAT, the
    * filter matrix cycling None/Sub/Up/Average/Paeth by row
    * ([[graft.functions.MediaCodec.pngEncode]]) — with pixel j =
    * payload[3j..3j+2] as (R,G,B) and the same width rule as the bmp
    * lake. Deterministic from the document row, so the DuckDB oracle
    * re-derives every decoded luma from first principles and the hash
    * compare round-trip-proves inflate + the whole unfilter matrix.
    * [[phashLuma]] / [[sceneCuts]] / [[lumaNearDup]] accept these rows
    * directly — the second real container behind the same operators. */
  def pngLake(docs: DataFrame): DataFrame = {
    val payload = col("text").cast("binary")
    val width = (pmod(length(payload), lit(24)) + lit(8)).cast("int")
    docs.filter(pmod(col("doc_id"), lit(3)) === 1)
      .select(col("doc_id"), lit("png").as("format"),
        call_function("png_encode", payload, width).as("content"))
  }

  final case class ResizedMedia(doc_id: Long, new_width: Int, new_height: Int,
                                resized_len: Int, resized_md5: String)

  /** Batched per-partition resize: the codec/digest state is initialized
    * once per partition, not once per row.
    * The stub "resize" halves the dimensions and keeps the first half of
    * the content bytes (a real build would re-encode); deterministic, so
    * the whole pipeline stays oracle-checkable. */
  def resizeBatched(media: Dataset[MediaRecord], factor: Int = 2): Dataset[ResizedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { records =>
      // per-partition init: a real build creates the codec context here
      val md = java.security.MessageDigest.getInstance("MD5")
      records.map { r =>
        val resized = java.util.Arrays.copyOfRange(r.content, 0, r.content.length / factor)
        md.reset()
        val hex = md.digest(resized).map("%02x".format(_)).mkString
        ResizedMedia(r.doc_id, r.width / factor, r.height / factor,
          resized.length, hex)
      }
    }
  }

  /** Column-expression decode surface over [[mediaLake]] rows: container
    * length and header bytes (both re-derivable by the oracle from the
    * encode conventions — a check on the ENCODER's container math), plus
    * TRUE decoded features (unit = PCM sample for wav, luma pixel for
    * bmp; n_units and Σ|unit| — a check on the PARSER's chunk walk / row
    * un-flip / de-padding). header_valid = the parser accepted the
    * container. Everything whole-stage-codegen'd; no bytes leave the
    * executor. */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val units = when(col("format") === "wav",
        call_function("wav_pcm_samples", col("content")))
      .otherwise(call_function("bmp_luma", col("content")))
    media.select(col("doc_id"), col("format"),
        length(col("content")).as("content_len"),
        upper(hex(substring(col("content"), 1, 8))).as("header_hex"),
        units.as("units"))
      .select(col("doc_id"), col("format"), col("content_len"),
        col("header_hex"),
        size(col("units")).as("n_units"),
        aggregate(col("units"), lit(0L),
          (a, v) => a + abs(v.cast("long"))).as("unit_sum"),
        (size(col("units")) > 0).cast("int").as("header_valid"))
  }

  /** Frame sampling: one row per sampled frame, frame = a fixed-stride
    * byte slice (a real video build slices at keyframe offsets; identical
    * plumbing). explode(sequence(...)) is the narrow row-generator — no
    * shuffle, scales linearly. */
  def frameSample(media: DataFrame, stride: Int = 32): DataFrame =
    media
      .select(col("doc_id"), col("n_frames"), col("content"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
      .select(
        col("doc_id"), col("frame_idx"),
        (col("frame_idx") * stride + 1).as("frame_offset"),
        md5(substring_index_bytes(col("content"), col("frame_idx"), stride)).as("frame_md5"))

  /** substring on binary with a column offset (functions.substring takes
    * literal positions only; expr form accepts columns). */
  private def substring_index_bytes(content: org.apache.spark.sql.Column,
                                    idx: org.apache.spark.sql.Column,
                                    stride: Int): org.apache.spark.sql.Column =
    expr(s"substring(content, frame_idx * $stride + 1, $stride)")

  /** Perceptual hash (aHash structure) over the raw bytes: split the
    * content into `blocks` equal spans, set bit i when block i's byte-sum
    * exceeds the mean block sum. The mean compare is INTEGER
    * (`block_sum * blocks > total_sum`) so no float ever enters the
    * hash — bit-identical in any engine. Entirely row-local (one
    * codegen'd [[graft.functions.BytesSum]] per block inside an array
    * aggregate); a real image build computes the same bits from a
    * decoded, downsampled luma plane — identical shape, different codec.
    * Requires `GraftFunctions.register(spark)`. */
  def phash(media: DataFrame, blocks: Int = 32): DataFrame = {
    require(blocks <= 63, "phash packs into one BIGINT")
    // BIGINT multiply for the same ~2^31/blocks overflow reason as
    // phashLuma's offsets (r7 review fix)
    def off(i: String) =
      s"CAST(floor(CAST($i AS BIGINT) * length(content) / $blocks.0) AS INT)"
    media.select(col("doc_id"),
      expr(s"""aggregate(sequence(0, ${blocks - 1}), CAST(0 AS BIGINT),
        (acc, i) -> acc + IF(
          bytes_sum(substring(content, ${off("i")} + 1,
            ${off("(i+1)")} - ${off("i")})) * $blocks > bytes_sum(content),
          shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""").as("phash"))
  }

  /** Media near-dup by perceptual-hash Hamming distance — [[phash]] plus
    * the banded-LSH pair search the text side uses for SimHash: split the
    * hash into `bands` keys of `bandBits` bits, join on any shared
    * (band, key), then confirm `bit_count(xor) <= maxHamming`. EXACT, not
    * approximate, because maxHamming < bands: a pair within the threshold
    * can corrupt at most `maxHamming` bands, so at least one band matches
    * (pigeonhole) and every qualifying pair is generated. Fan-in is
    * bounded per (band, key) bucket; `bandBits` is the scale knob —
    * bucket count is 2^bandBits per band, so WIDER bands (with a wider
    * hash) hold the per-bucket pair work flat as the corpus grows.
    * Exactness survives any (bands, bandBits) split of the hash as long
    * as maxHamming < bands. (4 bands x 4 bits measured 10x slower at sf1
    * than 4 x 8: sixteen buckets per band is quadratic-in-corpus pair
    * work; 256 divides it by ~16.) */
  /** aHash over the TRUE decoded luma plane (r7) — the real perceptual
    * hash [[phash]]'s scaladoc promised ("a real image build computes
    * the same bits from a decoded, downsampled luma plane"): the
    * [[mediaLake]] bmp rows parse through the real BMP decoder
    * ([[graft.functions.MediaCodec.bmpLuma]]), the luma plane splits
    * into `blocks` equal runs, bit i set when run i's luma sum exceeds
    * the plane mean — the same INTEGER compare (`run_sum · blocks >
    * total_sum`) as the byte form, so no float enters the hash.
    * Entirely row-local; [[phash]] remains the container-fingerprint
    * tier for formats without a decoder. */
  def phashLuma(media: DataFrame, blocks: Int = 32): DataFrame = {
    require(blocks <= 63, "phash packs into one BIGINT")
    // offsets multiply in BIGINT: i * size(luma) wraps Int past ~69M
    // pixels (well inside the decoder's limits) and a negative slice
    // start reads from the array END — wrong bits, and divergence from
    // the BIGINT-armed oracle
    def off(i: String) =
      s"CAST(floor(CAST(($i) AS BIGINT) * size(luma) / $blocks.0) AS INT)"
    media.filter(col("format").isin("bmp", "png"))
      .select(col("doc_id"), lumaOf.as("luma"))
      // no pixels decoded → no hash (r8 review): a row whose container
      // fails to parse (or a byte-tier row mislabeled with a real
      // container's format) would otherwise hash to phash=0 and
      // all-pairs-collide in every band of the near-dup search
      .filter(size(col("luma")) > 0)
      .select(col("doc_id"), expr(s"""aggregate(sequence(0, ${blocks - 1}),
          CAST(0 AS BIGINT),
          (acc, i) -> acc + IF(
            aggregate(slice(luma, ${off("i")} + 1, ${off("(i+1)")} - ${off("i")}),
              CAST(0 AS BIGINT), (a, v) -> a + CAST(v AS BIGINT)) * $blocks >
            aggregate(luma, CAST(0 AS BIGINT), (a, v) -> a + CAST(v AS BIGINT)),
            shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""").as("phash"))
  }

  /** Image near-dup over the TRUE-luma perceptual hash — [[phashLuma]]
    * through the same banded pair search as [[phashNearDup]] (exact for
    * maxHamming < bands by pigeonhole). */
  def lumaNearDup(media: DataFrame, maxHamming: Int = 3,
                  bands: Int = 4, bandBits: Int = 8): DataFrame =
    phashBandedPairs(phashLuma(media), maxHamming, bands, bandBits)

  def phashNearDup(media: DataFrame, maxHamming: Int = 3,
                   bands: Int = 4, bandBits: Int = 8): DataFrame =
    phashBandedPairs(phash(media), maxHamming, bands, bandBits)

  /** The banded pair search over any (doc_id, phash) frame — shared by
    * the byte-tier [[phashNearDup]] and the decoded-luma
    * [[lumaNearDup]]. */
  private def phashBandedPairs(hashed: DataFrame, maxHamming: Int,
                               bands: Int, bandBits: Int): DataFrame = {
    require(maxHamming < bands, "exactness needs maxHamming < bands")
    // materialize the (doc_id, phash) frame once: it feeds BOTH self-join
    // sides (uncheckpointed, the hash derivation executes twice), and the
    // join's implied isnotnull(bkey) otherwise pushes the WHOLE hash
    // expression — for the luma tier, a full container decode per block
    // reference — down into a per-row scan filter
    val h = hashed.localCheckpoint()
    val banded = h
      .select(col("doc_id"), col("phash"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bkey",
        expr(s"(phash >> (band * $bandBits)) & ${(1 << bandBits) - 1}"))
    // a pair can collide in several bands — one row per pair
    BlockedPairs(banded, "doc_id", Seq("band", "bkey"), Seq("phash"),
        scores = Seq("hamming" -> expr("bit_count(phash_a ^ phash_b)").cast("int")),
        keep = Some(col("hamming") <= maxHamming), shared = Some("n_shared_bands"))
      .select("doc_id_a", "doc_id_b", "hamming", "n_shared_bands")
  }

  /** Video-level near-dup by frame-fingerprint set overlap — the
    * cross-VIDEO companion of [[phashNearDup]] (which matches whole media
    * items): two videos match when the Jaccard similarity of their
    * distinct frame-fingerprint sets ([[frameSample]]'s md5 per
    * fixed-stride slice; a real build fingerprints decoded keyframes)
    * reaches `threshold`. Catches trimmed / extended / re-muxed copies
    * that share most frames, which a whole-file hash misses.
    *
    * Shape: an inverted-index equi-join on the frame fingerprint — the
    * standard share-a-fingerprint blocking, identical to exact-dedup's
    * digest join at frame grain. Pair work is Σ|postings|² over
    * fingerprints, bounded by the corpus's true duplication (a fingerprint
    * shared by d videos emits d² candidate rows); no all-pairs path
    * exists. Set sizes ride the same frame scan (distinct → groupBy), and
    * the per-pair Jaccard confirm is arithmetic on three counters. */
  def videoNearDup(media: DataFrame, threshold: Double = 0.5,
                   stride: Int = 32): DataFrame = {
    val frames = frameSample(media, stride)
      .select(col("doc_id"), col("frame_md5")).distinct()
      .localCheckpoint() // one frame scan feeds the join sides + sizes
    val sizes = frames.groupBy("doc_id").agg(count(lit(1)).as("n"))
    BlockedPairs.attach(
        BlockedPairs(frames, "doc_id", Seq("frame_md5"), shared = Some("n_shared")),
        sizes, "doc_id", Seq("n"), ("doc_id_a", "doc_id_b"))
      .withColumn("jaccard", BlockedPairs.round6(col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared"))))
      .filter(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "n_shared", "n_a", "n_b", "jaccard")
  }

  /** Audio windowed energy over TRUE decoded PCM (r7 — previously a
    * raw-container-byte stand-in): parse the [[mediaLake]] wav rows with
    * the real RIFF parser ([[graft.functions.MediaCodec.wavSamples]],
    * codegen'd), window the SAMPLE stream, fold each window to
    * Σ|sample| — the waveform feature extraction (RMS/VAD precursor) of
    * an audio lake. The window explode is a narrow row-generator; the
    * per-window fold is a codegen'd array-slice aggregate, integer
    * arithmetic only. Requires `GraftFunctions.register(spark)`. */
  def audioEnergy(media: DataFrame, window: Int = 32): DataFrame =
    media
      .filter(col("format") === "wav")
      .select(col("doc_id"),
        call_function("wav_pcm_samples", col("content")).as("samples"))
      .select(col("doc_id"), col("samples"),
        explode(sequence(lit(0),
          greatest(ceil(size(col("samples")).cast("double") / window)
            .cast("int") - 1, lit(0)))).as("win_idx"))
      .select(col("doc_id"), col("win_idx"),
        aggregate(
          slice(col("samples"), col("win_idx") * window + 1, lit(window)),
          lit(0L), (acc, s) => acc + abs(s.cast("long"))).as("energy"))

  /** VAD-style active-segment extraction — the speech-segmentation step of
    * an audio pipeline, over TRUE decoded PCM energy ([[audioEnergy]]):
    * a window is ACTIVE when its energy exceeds the clip's mean (integer
    * compare `energy·n_windows > Σenergy`, the same no-float discipline
    * as [[phash]] and [[sceneCuts]]); consecutive active windows merge
    * into segments by the gaps-and-islands identity (win_idx − per-clip
    * row_number is constant within a run). Shape: one window explode
    * (narrow), one per-clip aggregate for the threshold, one per-clip
    * window for the island id — windows co-locate per clip, so state per
    * task is one clip's window list. */
  def vadSegments(media: DataFrame, window: Int = 32): DataFrame = {
    val en = audioEnergy(media, window)
    val tot = en.groupBy("doc_id")
      .agg(sum("energy").as("tot"), count(lit(1)).as("nw"))
    val w = Window.partitionBy("doc_id").orderBy("win_idx")
    en.join(tot, "doc_id")
      .filter(col("energy") * col("nw") > col("tot"))
      .withColumn("grp", col("win_idx") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min("win_idx").as("seg_start"), max("win_idx").as("seg_end"),
        count(lit(1)).as("n_windows"), sum("energy").as("seg_energy"))
      .drop("grp")
  }

  /** Scene-cut detection over TRUE decoded luma (r7 — previously a
    * raw-byte stand-in): parse the [[mediaLake]] bmp rows with the real
    * BMP parser ([[graft.functions.MediaCodec.bmpLuma]], codegen'd —
    * bottom-up rows un-flipped, stride padding removed), treat each
    * `stride`-pixel run of the luma plane as a frame, per-frame energy =
    * Σ luma, frame-to-frame absolute delta via a per-video lag window,
    * and a cut wherever the delta exceeds 1.5× the video's mean delta.
    * The comparison is INTEGER (`2·delta·n > 3·Σdelta`) so no float
    * enters the decision — bit-identical in any engine. Shape: one
    * narrow frame explode, one per-video window — frames co-locate per
    * video, so state per task is one video's frame list. Videos with a
    * single frame have no deltas and drop out (no cut is definable).
    * Returns (doc_id, n_frames, n_deltas, n_cuts, first_cut). */
  def sceneCuts(media: DataFrame, stride: Int = 32): DataFrame = {
    val frames = media
      .filter(col("format").isin("bmp", "png"))
      .select(col("doc_id"), lumaOf.as("luma"))
      .select(col("doc_id"),
        greatest(ceil(size(col("luma")).cast("double") / stride).cast("int"),
          lit(1)).as("n_frames"),
        col("luma"),
        explode(sequence(lit(0),
          greatest(ceil(size(col("luma")).cast("double") / stride)
            .cast("int") - 1, lit(0)))).as("frame_idx"))
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        aggregate(
          slice(col("luma"), col("frame_idx") * stride + 1, lit(stride)),
          lit(0L), (acc, v) => acc + v.cast("long")).as("energy"))
    cutsFromFrames(frames)
  }

  /** The cut decision over a (doc_id, n_frames, frame_idx, energy) frame
    * table — the shared tail of [[sceneCuts]] (stride-sliced pseudo
    * frames) and [[aviSceneCuts]] (true container frames): lag-delta via
    * a per-video window, integer mean-compare cut rule, per-video
    * rollup. Factoring it out is what makes the AVI tier's cut logic
    * PROVABLY the same logic, not a re-implementation. */
  private def cutsFromFrames(frames: DataFrame): DataFrame = {
    val byFrame = Window.partitionBy("doc_id").orderBy("frame_idx")
    val perVideo = Window.partitionBy("doc_id")
    val deltas = frames
      .withColumn("prev", lag("energy", 1).over(byFrame))
      .filter(col("prev").isNotNull)
      .withColumn("delta", abs(col("energy") - col("prev")))
    val flagged = deltas
      .withColumn("total_delta", sum("delta").over(perVideo))
      .withColumn("n_deltas", count(lit(1)).over(perVideo))
      .withColumn("is_cut",
        col("delta") * col("n_deltas") * 2 > col("total_delta") * 3)
    flagged.groupBy("doc_id")
      .agg(max("n_frames").as("n_frames"),
        max("n_deltas").as("n_deltas"),
        sum(when(col("is_cut"), 1L).otherwise(0L)).as("n_cuts"),
        min(when(col("is_cut"), col("frame_idx"))).as("first_cut"))
  }

  /** The AVI video tier of the media lake (r9, VERDICT r8 "Next round"
    * #7): documents with doc_id ≡ 2 (mod 3) — disjoint from the PNG
    * tier's ≡ 1 — encoded into REAL RIFF/AVI containers (LIST hdrl with
    * avih/strh/strf, LIST movi of uncompressed '00db' DIB frames,
    * [[graft.functions.MediaCodec.aviEncode]]). Width follows the same
    * payload-derived rule as the other lakes; frame geometry is
    * width × [[graft.functions.MediaCodec.AviFrameRows]] pixels, so the
    * oracle re-derives every frame boundary from the payload length with
    * no container parse. */
  def aviLake(docs: DataFrame): DataFrame = {
    val payload = col("text").cast("binary")
    val width = (pmod(length(payload), lit(24)) + lit(8)).cast("int")
    docs.filter(pmod(col("doc_id"), lit(3)) === 2)
      .select(col("doc_id"), lit("avi").as("format"),
        call_function("avi_encode", payload, width).as("content"))
  }

  /** [[sceneCuts]] over TRUE container frames: each '00db' DIB frame of
    * the AVI decodes to its own luma plane
    * ([[graft.functions.MediaCodec.aviFrameLumas]]), per-frame energy is
    * Σ luma over the REAL frame (not a stride slice), and the cut
    * decision is the shared [[cutsFromFrames]] logic. Single-frame
    * videos have no deltas and drop out, exactly like [[sceneCuts]]. */
  def aviSceneCuts(media: DataFrame): DataFrame =
    cutsFromFrames(aviFrameEnergies(media))

  /** One row per decoded container frame: (doc_id, n_frames, frame_idx,
    * energy = Σ luma over the frame's true pixel plane). The frame
    * inventory behind [[aviSceneCuts]] and the mm_avi_frames oracle
    * round-trip. */
  def aviFrameEnergies(media: DataFrame): DataFrame =
    media
      .filter(col("format") === "avi")
      .select(col("doc_id"),
        call_function("avi_frame_lumas", col("content")).as("fl"))
      .select(col("doc_id"), size(col("fl")).as("n_frames"),
        posexplode(col("fl")).as(Seq("frame_idx", "luma")))
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        aggregate(col("luma"), lit(0L),
          (acc, v) => acc + v.cast("long")).as("energy"))
}
