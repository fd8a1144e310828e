package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Multimodal-column plumbing for the training-data pipeline: media
  * (image/audio/video) is carried as opaque `binary` columns with typed
  * metadata, and decode / feature-extraction runs as an imperative
  * per-partition kernel over rows — the shape a real pipeline uses
  * for libjpeg/ffmpeg-style libraries that can't be expressed as
  * Catalyst expressions.
  *
  * m1–m13 all run REAL container parsing and codecs (the JDK's
  * PNG/WAV/JPEG/MJPEG/GIF/TIFF implementations in
  * [[MultimodalKernels]], plus the decode-free SOF header walk behind
  * m3) behind an imperative per-partition seam, with losslessness
  * making the decoded metadata oracle-computable; m2's featurizer
  * projects REAL decoded pixels through a fixed weight matrix (only
  * the weight VALUES stand in for a trained head — the suite's sole
  * remaining synthetic constant; no stub kernels remain as of round
  * 12, m3's token-stride stand-in having been upgraded to a real
  * demux + header probe).
  */
object MultimodalQueries {

  /** (doc_id, payload) for the whole corpus, spread to the session's
    * parallelism ([[Tables.spread]]) — a mapPartitions codec kernel
    * over the single local split would otherwise serialize the whole
    * decode on one core (measured on m5: 2.1 s → ~0.9 s at sf0.1). */
  private def binaryPayloads(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
  }

  /** One output row per payload: `decode` runs on each (doc_id,
    * payload) inside one mapPartitions node — the per-partition kernel
    * seam every m key shares. */
  private def decodeEach[T: Encoder](spark: SparkSession, dir: String)(
      decode: (Long, Array[Byte]) => T): Dataset[T] =
    binaryPayloads(spark, dir).mapPartitions(_.map { case (id, bytes) => decode(id, bytes) })

  /** m1/m13's mixed media column: the payload encoded as PNG, WAV,
    * JPEG or GIF by doc_id mod 4. */
  private def encodeByDocId(id: Long, bytes: Array[Byte]): Array[Byte] = (id % 4) match {
    case 0 => MultimodalKernels.encodePng(bytes)
    case 1 => MultimodalKernels.encodeWav(bytes)
    case 2 => MultimodalKernels.encodeJpeg(bytes)
    case _ => MultimodalKernels.encodeGif(bytes)
  }

  /** m3/m8's video pass: the payload's MJPEG stream demuxed into
    * frames, with `height` summed over every `step`-th frame →
    * (n_frames, n_sampled, h_sum). */
  private def sampledFrameHeights(bytes: Array[Byte], step: Int)(
      height: Array[Byte] => Long): (Long, Long, Long) = {
    val frames = MultimodalKernels.demuxMjpeg(MultimodalKernels.encodeMjpeg(bytes))
    var hSum = 0L
    var sampled = 0L
    var k = 0
    while (k < frames.length) {
      if (k % step == 0) {
        hSum += height(frames(k))
        sampled += 1
      }
      k += 1
    }
    (frames.length.toLong, sampled, hSum)
  }

  /** m1 — GENERIC decode of a binary media column to the typed
    * metadata record a lake catalog stores: (kind, width, height,
    * channels, px_check), over REAL containers (round 10; the
    * byte-arithmetic DecodeStub this replaces predates the codec
    * suite). Each payload is encoded into one of the four container
    * formats by doc_id mod 4 (m13's mixed-column reality — PNG / WAV /
    * JPEG / GIF) and then described through
    * [[MultimodalKernels.describeMedia]], which sniffs magic bytes and
    * dispatches to the right JDK decoder — the kernel sees ONLY bytes,
    * while the oracle reconstructs every field independently from the
    * encoding assignment and each codec's established geometry
    * contract, so a mis-sniff, stride bug, or channel mixup
    * hash-fails. Each row is decoded on its own: the JDK codecs keep
    * no per-call context that a batch could share. Scale shape is
    * scan-speed like the rest of the media suite. */
  def m1MultimodalDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeEach(spark, dir) { (id, bytes) =>
      val (kind, w, h, ch, px) = MultimodalKernels.describeMedia(encodeByDocId(id, bytes))
      (id, kind, w, h, ch, px)
    }.toDF("doc_id", "kind", "width", "height", "channels", "px_check")
      .orderBy("doc_id")
  }

  /** m2 — feature extraction over REAL decoded pixels (round 11; this
    * retires the byte-histogram stub — the last featurizer stand-in):
    * each payload becomes a genuine PNG (m5's lossless 32-wide
    * grayscale layout), is DECODED back through javax.imageio, and an
    * [[m2Dims]]-dim LINEAR projection runs over the decoded raster —
    * feature_j = Σ_i W(j, i mod 16) · px_i with the fixed integer
    * weight matrix W(j,b) = ((7j + 3b + 1) mod 13) − 6. This is the
    * deterministic stand-in for a learned projection head with every
    * piece of the production shape real: the binary column, the real
    * codec in the decode slot, the per-partition invocation, and a
    * broadcast-sized weight matrix entering the task closure once —
    * only the weight VALUES are synthetic, and swapping them for a
    * trained head changes no plumbing. All-integer arithmetic over a
    * lossless codec: every feature is exactly recomputable from the
    * source text (zero-padded tail pixels contribute 0·w), so the
    * oracle gates the codec roundtrip AND the projection in one hash.
    * ASCII corpus: ord == byte (the shared m-suite invariant).
    *
    * Output shape is long (one row per (doc_id, dim)) rather than an
    * array column: per-row scalars are hashable by any oracle harness
    * and are the join-friendly layout downstream consumers (feature
    * stores, per-dimension stats) want. */
  def m2FeatureExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dims = m2Dims
    val period = m2Period
    // the "model": a fixed integer projection matrix, materialized
    // once on the driver and shipped to tasks like a broadcast head
    val w = m2Weights
    binaryPayloads(spark, dir).mapPartitions(_.flatMap { case (id, bytes) =>
      val png = MultimodalKernels.encodePng(bytes)
      val (_, _, px) = MultimodalKernels.decodePngPixels(png)
      val acc = new Array[Long](dims)
      var i = 0
      while (i < px.length) {
        val b = i % period
        var j = 0
        while (j < dims) { acc(j) += w(j)(b).toLong * px(i); j += 1 }
        i += 1
      }
      acc.iterator.zipWithIndex.map { case (v, j) => (id, j.toLong, v) }
    }).toDF("doc_id", "dim", "value")
      .orderBy("doc_id", "dim")
  }

  /** m2's projection geometry — shared with the kernel spec so the
    * hand-computed expectations pin the shipped config. */
  private[graft] val m2Dims = 8
  private[graft] val m2Period = 16

  /** The fixed integer projection matrix W(j,b) = ((7j+3b+1) mod 13)−6
    * — signed, rank-diverse, and restated verbatim in the DuckDB twin. */
  private[graft] def m2Weights: Array[Array[Int]] =
    Array.tabulate(m2Dims, m2Period)((j, b) => (7 * j + 3 * b + 1) % 13 - 6)

  /** m4 — image RESIZE on real decoded pixels (round 9; the stride
    * stub this replaces downsampled raw payload bytes): each payload
    * becomes a genuine PNG (m5's lossless 32-wide grayscale layout),
    * is DECODED back through javax.imageio, and a 2×2 area-average
    * (PIL BOX filter arithmetic) downsample runs on the decoded
    * raster — the thumbnail/preprocess step every image-training
    * pipeline runs between decode and feature extraction. Emits
    * source + resized geometry and the resized-pixel sum; because the
    * codec is lossless and the mean is floor-integer, the oracle
    * recomputes every resized pixel arithmetically from the source
    * text — a codec regression OR a resize-arithmetic bug (stride,
    * clipping, denominator) breaks the hash. */
  def m4Resize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeEach(spark, dir) { (id, bytes) =>
      val png = MultimodalKernels.encodePng(bytes)
      val (w, h, rw, rh, rsum) = MultimodalKernels.resizePngAreaAvg(png)
      (id, w, h, rw, rh, rsum)
    }.toDF("doc_id", "width", "height", "r_width", "r_height", "r_px_sum")
      .orderBy("doc_id")
  }

  /** m5 — a REAL image codec behind the m1 seam. Each payload is
    * encoded to an actual PNG (javax.imageio — pure JDK, headless-safe:
    * 32-wide 8-bit grayscale, pixel i = byte i, zero padding) and then
    * DECODED back through the same codec; the emitted metadata
    * (dimensions + pixel checksum) comes from the decoded
    * `BufferedImage` only. Because PNG is lossless, the oracle can
    * compute the expected values arithmetically from the source text —
    * any codec mangling (stride, color model, truncation, byte order)
    * breaks the hash. This retires the stub caveat for the image path:
    * the decode stage is the production contract (bytes →
    * BufferedImage → typed metadata) with a genuine codec in the loop;
    * point the scan at crawled PNGs and nothing else changes. The
    * compressed payload's size is deliberately NOT emitted (deflate
    * output is codec-version-dependent — not oracle-reproducible);
    * MultimodalKernelSpec asserts the PNG signature instead. */
  def m5ImageDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeEach(spark, dir) { (id, bytes) =>
      val png = MultimodalKernels.encodePng(bytes)
      val (w, h, sum) = MultimodalKernels.decodePng(png)
      (id, w, h, sum)
    }.toDF("doc_id", "width", "height", "px_sum")
      .orderBy("doc_id")
  }

  /** m10 — a real DEEP-SAMPLE codec behind the same seam: the JDK's
    * TIFF plugin (javax.imageio, JDK 9+) carrying 16-BIT grayscale —
    * the scientific/scan-corpus format and the only >8-bit sample path
    * in the codec matrix (PNG/JPEG/GIF/MJPEG are all 8-bit): sample
    * i = byte i × 257, so a 16-bit endianness, stride or truncation
    * bug shifts the sum in ways the 8-bit codecs cannot detect.
    * Lossless, so the oracle recomputes geometry, the decoded bit
    * depth and the exact 16-bit sample sum arithmetically from the
    * source text. */
  def m10TiffDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeEach(spark, dir) { (id, bytes) =>
      val tiff = MultimodalKernels.encodeTiff16(bytes)
      val (w, h, depth, sum) = MultimodalKernels.decodeTiff16(tiff)
      (id, w, h, depth, sum)
    }.toDF("doc_id", "width", "height", "bit_depth", "px_sum")
      .orderBy("doc_id")
  }

  /** m6 — a REAL audio codec behind the same seam: payload bytes become
    * 8-bit unsigned PCM samples in a genuine WAV container written AND
    * parsed by javax.sound.sampled (the JDK's RIFF/WAVE codec); the
    * emitted metadata (format fields, frame count, sample checksum)
    * comes from the parsed `AudioInputStream` only. PCM is lossless, so
    * the oracle recomputes everything from the source text. */
  def m6AudioDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeEach(spark, dir) { (id, bytes) =>
      val wav = MultimodalKernels.encodeWav(bytes)
      val (rate, channels, frames, sum) = MultimodalKernels.decodeWav(wav)
      (id, rate, channels, frames, sum)
    }.toDF("doc_id", "sample_rate", "channels", "n_samples", "sample_sum")
      .orderBy("doc_id")
  }

  /** m7 — a real LOSSY codec behind the same seam: the JDK's JPEG
    * implementation (DCT + quantization at quality 0.95). Lossy means
    * the pixel sum is NOT oracle-reproducible — what survives the
    * roundtrip exactly is the geometry (width, height, pixel count),
    * and what survives approximately is the signal, which this query
    * turns into an oracle-checkable bit: `within_tol` = 1 iff the mean
    * absolute error between the decoded samples and the source bytes
    * is ≤ 8 grey levels (MultimodalKernelSpec measures the actual
    * error at ~1.1 mean / &lt;2.5 max-per-doc on the corpus, so the
    * bound has ~3× headroom without being vacuous — a stride bug,
    * channel mixup or truncation pushes MAE to ~85 on uniform-random
    * bytes). This is the decode contract a crawled-JPEG pipeline runs:
    * bytes → BufferedImage → typed metadata + quality gate. */
  def m7JpegDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeEach(spark, dir) { (id, bytes) =>
      val jpg = MultimodalKernels.encodeJpeg(bytes)
      val (w, h, px) = MultimodalKernels.decodeJpeg(jpg)
      var i = 0
      var err = 0L
      while (i < bytes.length) {
        err += math.abs(px(i) - (bytes(i) & 0xff))
        i += 1
      }
      val mae = if (bytes.isEmpty) 0.0 else err.toDouble / bytes.length
      (id, w, h, w * h, if (mae <= 8.0) 1L else 0L)
    }.toDF("doc_id", "width", "height", "n_px", "within_tol")
      .orderBy("doc_id")
  }

  /** m8 — the VIDEO access pattern with a real codec: the payload
    * becomes an MJPEG-style stream (128-byte chunks, each an
    * independent JDK-encoded JPEG, concatenated), the kernel DEMUXES
    * the container on JPEG frame boundaries (EOI scan — sound for
    * baseline JPEG, see [[MultimodalKernels.demuxMjpeg]]) and decodes
    * only every 2nd frame — the "decode only the sampled frames"
    * economics a video pipeline lives on (m3 is the decode-FREE
    * header-probe half of the same economics).
    * Emitted metadata (frame count, sampled count, summed decoded
    * frame heights) is all geometry, so the lossy codec is still
    * oracle-exact. */
  def m8MjpegFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeEach(spark, dir) { (id, bytes) =>
      val (n, sampled, hSum) =
        sampledFrameHeights(bytes, 2)(f => MultimodalKernels.decodeJpeg(f)._2)
      (id, n, sampled, hSum)
    }.toDF("doc_id", "n_frames", "n_sampled", "h_sum")
      .orderBy("doc_id")
  }

  /** m3 — PRE-DECODE frame sampling over a REAL container (round 12;
    * retires the suite's last stub kernel): the payload becomes the m8
    * MJPEG stream, the kernel demuxes it on genuine JPEG frame
    * boundaries (the EOI scan shared with m8) and keeps every 3rd
    * frame — but instead of decoding the kept frames it probes each
    * one's geometry by PARSING ITS SOF HEADER ONLY
    * ([[MultimodalKernels.probeJpegDims]]): marker-segment walk, two
    * big-endian reads, zero entropy decode. This is the sampling half
    * of the video economics m8 completes — m8 pays the codec for the
    * frames a pipeline keeps; m3 is the ffprobe-class pass that
    * DECIDES what to keep, at header-parse cost, which is why it can
    * afford to touch every stored stream. Emitted geometry (frame
    * count, sampled count, summed header heights) is deterministic
    * from the container layout, so the oracle restates it exactly —
    * a demux or header-walk bug breaks the hash, and the kernel spec
    * gates the probe against the full decoder on every frame plus the
    * foreign-encoder fixtures. (The former token-stride spelling this
    * replaces lives on as the `stride_sample` SQL function, still
    * equivalence-pinned in ExpressionsSpec.) */
  def m3FrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeEach(spark, dir) { (id, bytes) =>
      val (n, sampled, hSum) = sampledFrameHeights(bytes, 3) { f =>
        val (w, h) = MultimodalKernels.probeJpegDims(f)
        require(w == 32, s"header width $w diverged from the 32-wide layout")
        h
      }
      (id, n, sampled, hSum)
    }.toDF("doc_id", "n_frames", "n_sampled", "h_sum")
      .orderBy("doc_id")
  }

  /** m9 — the animated-image access pattern with a LOSSLESS container
    * codec: payload → one multi-frame GIF ([[MultimodalKernels
    * .encodeGif]]), demuxed and decoded through the JDK reader's
    * multi-image API, sampling every 2nd frame (m8's decode-only-
    * sampled-frames economics). Because the 256-gray palette loses
    * nothing, the decoded PIXEL SUM of the sampled frames is
    * reproduced exactly by the oracle from the source bytes — the
    * media suite's only end-to-end pixel-value gate through a real
    * container (m5's PNG gate is single-image; m7/m8's DCT codec only
    * supports geometry + tolerance). */
  def m9GifFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeEach(spark, dir) { (id, bytes) =>
      val (nf, ns, hs, ps) = MultimodalKernels.decodeGifFrames(
        MultimodalKernels.encodeGif(bytes))
      (id, nf, ns, hs, ps)
    }.toDF("doc_id", "n_frames", "n_sampled", "h_sum", "px_sum")
      .orderBy("doc_id")
  }

  /** Scene-cut threshold for m11: from the measured frame-difference
    * distribution the corpus is bimodal — intra-scene |Δsum| sits at
    * ~50–360 (p10–p50) while content transitions (including the
    * residual last frame) sit at ≥ ~6000 (p75+) — so 2000 separates
    * the modes with an order of magnitude on each side. */
  private val sceneCutThreshold = 2000L

  /** m11 — SCENE-CUT detection: the temporal-segmentation pass a video
    * pipeline runs before sampling (m8/m9 sample blindly every k-th
    * frame; m11 finds the boundaries worth sampling AT). The payload
    * becomes a real multi-frame GIF (the lossless m9 container), every
    * frame is decoded to its pixel sum, and a cut is a frame whose
    * absolute intensity jump |sum_f − sum_{f−1}| exceeds
    * [[sceneCutThreshold]] — the classic frame-difference detector
    * (histogram-L1 collapses to the sum for a 1-bin histogram; the
    * kernel seam extends to per-bin histograms without touching the
    * plumbing). Lossless palette ⇒ the per-frame sums, and therefore
    * the cut POSITIONS, are oracle-exact from the source bytes.
    *
    * Scale shape: one mapPartitions decode pass, per-row state is one
    * Long per frame, output is 5 scalars per document — no shuffle
    * until the presentation sort. A real pipeline swaps encodeGif for
    * the demuxer of the stored container; detection cost stays
    * decode-bound, which is why production detectors run exactly this
    * one-pass-per-asset shape. */
  def m11SceneCut(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeEach(spark, dir) { (id, bytes) =>
      val sums = MultimodalKernels.decodeGifFrameSums(
        MultimodalKernels.encodeGif(bytes))
      var cuts = 0L
      var maxDiff = 0L
      var firstCut = -1L
      var k = 1
      while (k < sums.length) {
        val d = math.abs(sums(k) - sums(k - 1))
        if (d > sceneCutThreshold) {
          cuts += 1
          if (firstCut < 0) firstCut = k
        }
        if (d > maxDiff) maxDiff = d
        k += 1
      }
      (id, sums.length.toLong, cuts, maxDiff, firstCut)
    }.toDF("doc_id", "n_frames", "n_cuts", "max_diff", "first_cut")
      .orderBy("doc_id")
  }

  /** Energy threshold for m12: window energies on this corpus span
    * ~50k (residual/short windows) to ~540k (full active windows),
    * median ~423k — 300000 sits between the p25 and p50 so every SF
    * exercises both active and inactive windows. */
  private val activityThreshold = 300000L

  /** m12 — AUDIO ACTIVITY segmentation: the voice-activity-detection
    * pass an audio pipeline runs before transcription or sampling —
    * m11's temporal segmentation, audio modality. The payload becomes
    * a real RIFF/WAVE container (m6's lossless 8-bit PCM path), every
    * 256-sample window is reduced to its signal energy Σ(s−128)²
    * (the classic short-time-energy VAD; the kernel seam extends to
    * zero-crossing or spectral features without touching the
    * plumbing), and a window is ACTIVE above [[activityThreshold]].
    * Losslessness makes window energies — and therefore the active
    * SET — exact integer arithmetic on the source bytes. Same scale
    * shape as m11: one decode pass, 5 scalars per doc, no shuffle
    * before the presentation sort. */
  def m12AudioSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeEach(spark, dir) { (id, bytes) =>
      val energies = MultimodalKernels.decodeWavWindowEnergies(
        MultimodalKernels.encodeWav(bytes))
      var active = 0L
      var maxE = 0L
      var firstActive = -1L
      var k = 0
      while (k < energies.length) {
        if (energies(k) > activityThreshold) {
          active += 1
          if (firstActive < 0) firstActive = k
        }
        if (energies(k) > maxE) maxE = energies(k)
        k += 1
      }
      (id, energies.length.toLong, active, maxE, firstActive)
    }.toDF("doc_id", "n_windows", "n_active", "max_energy", "first_active")
      .orderBy("doc_id")
  }

  /** m13 — MODALITY ROUTER over a MIXED media column: the lake
    * reality m1–m12 idealize away — one binary column holding four
    * different container formats (each doc encoded per doc_id mod 4:
    * PNG / WAV / JPEG / GIF), where the reader must SNIFF each row's
    * format from magic bytes and dispatch to the right decoder. The
    * kernel ([[MultimodalKernels.routeDecode]]) sees only bytes; the
    * oracle reconstructs kind + geometry + lossless pixel checks
    * INDEPENDENTLY from the encoding assignment, so a wrong sniff,
    * a magic collision, or a mis-dispatch all fail the gate. Same
    * mapPartitions seam and scan-speed scale shape as the
    * rest of the media suite. */
  def m13ModalityRouter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeEach(spark, dir) { (id, bytes) =>
      val (kind, geom, px) = MultimodalKernels.routeDecode(encodeByDocId(id, bytes))
      (id, kind, geom, px)
    }.toDF("doc_id", "kind", "geom", "px_check")
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m11_scene_cut"        -> (m11SceneCut _),
    "m12_audio_segments"   -> (m12AudioSegments _),
    "m13_modality_router"  -> (m13ModalityRouter _),
    "m9_gif_frames"        -> (m9GifFrames _),
    "m1_multimodal_decode" -> (m1MultimodalDecode _),
    "m2_feature_extract"   -> (m2FeatureExtract _),
    "m3_frame_sample"      -> (m3FrameSample _),
    "m4_resize"            -> (m4Resize _),
    "m5_image_decode"      -> (m5ImageDecode _),
    "m6_audio_decode"      -> (m6AudioDecode _),
    "m7_jpeg_decode"       -> (m7JpegDecode _),
    "m8_mjpeg_frames"      -> (m8MjpegFrames _),
    "m10_tiff_decode"      -> (m10TiffDecode _),
  )

  /** The m-suite's 128-byte frame geometry over `documents.text`: nf
    * frames (an empty doc is one empty frame) and hl, the last frame's
    * height in 32-wide rows. */
  private val frameGeomDuck =
    """CAST(greatest(1, ceil(length(text) / 128.0)) AS BIGINT) AS nf,
       CAST(greatest(1, ceil((CASE WHEN length(text) = 0 THEN 0
              WHEN length(text) % 128 = 0 THEN 128
              ELSE length(text) % 128 END) / 32.0)) AS BIGINT) AS hl"""

  val oracleSql: Map[String, String] = Map(
    // m13: kind + geometry + checks derived from the ENCODING
    // ASSIGNMENT (doc_id mod 4) and each codec's established
    // contract — never from the bytes — so the sniffing kernel is
    // gated against an independent reconstruction. Geometry: PNG and
    // JPEG are 32-wide (h = ceil(len/32), the m5/m7 contract), WAV is
    // one frame per byte (m6), GIF one frame per 128 bytes (m9).
    // Checks: lossless kinds' decoded sample sum = plain ord sum
    // (totals sit far below the kernels' 1e9+7 modulus); JPEG is
    // lossy -> -1 by contract.
    "m13_modality_router" ->
      """SELECT doc_id,
        CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
                        WHEN 2 THEN 'jpeg' ELSE 'gif' END AS kind,
        CAST(CASE doc_id % 4
          WHEN 0 THEN greatest(1, CAST(ceil(length(text) / 32.0) AS BIGINT))
          WHEN 1 THEN length(text)
          WHEN 2 THEN greatest(1, CAST(ceil(length(text) / 32.0) AS BIGINT))
          ELSE greatest(1, CAST(ceil(length(text) / 128.0) AS BIGINT)) END AS BIGINT) AS geom,
        CAST(CASE doc_id % 4
          WHEN 2 THEN -1
          ELSE coalesce(list_sum(list_transform(range(1, length(text) + 1),
                 i -> ord(text[i]))), 0) END AS BIGINT) AS px_check
      FROM documents ORDER BY doc_id""",
    // m12: the lossless 8-bit PCM contract (see m6) — sample i IS
    // source char i, window f covers chars [f*256+1, min((f+1)*256,
    // len)] — so window energies are pure integer arithmetic on the
    // text, restated with the same 300000 threshold literal
    "m12_audio_segments" ->
      s"""WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len,
               CAST(greatest(1, ceil(length(text) / 256.0)) AS BIGINT) AS nw
             FROM documents),
      fr AS (SELECT doc_id, unnest(range(0, nw)) AS f, text, len, nw FROM d),
      fs AS (SELECT doc_id, nw, f,
               CAST(coalesce(list_sum(list_transform(
                 range(CAST(f * 256 + 1 AS INT), CAST(least((f + 1) * 256, len) + 1 AS INT)),
                 i -> (ord(text[i]) - 128) * (ord(text[i]) - 128))), 0) AS BIGINT) AS e
             FROM fr)
      SELECT doc_id, nw AS n_windows,
             CAST(coalesce(SUM(CASE WHEN e > $activityThreshold THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_active,
             CAST(coalesce(MAX(e), 0) AS BIGINT) AS max_energy,
             CAST(coalesce(MIN(CASE WHEN e > $activityThreshold THEN f END), -1) AS BIGINT) AS first_active
      FROM fs GROUP BY doc_id, nw
      ORDER BY doc_id""",
    // m11: the lossless-GIF pixel contract (see m9) makes every
    // per-frame sum exact — frame f covers source chars
    // [f*128+1, min((f+1)*128, len)], zero padding adds nothing — so
    // the cut POSITIONS are pure integer arithmetic on the text,
    // restated with the same 2000 threshold literal
    "m11_scene_cut" ->
      s"""WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len,
               CAST(greatest(1, ceil(length(text) / 128.0)) AS BIGINT) AS nf
             FROM documents),
      fr AS (SELECT doc_id, unnest(range(0, nf)) AS f, text, len, nf FROM d),
      fs AS (SELECT doc_id, nf, f,
               CAST(list_sum(list_transform(
                 range(CAST(f * 128 + 1 AS INT), CAST(least((f + 1) * 128, len) + 1 AS INT)),
                 i -> ord(text[i]))) AS BIGINT) AS s
             FROM fr),
      df AS (SELECT doc_id, nf, f,
               abs(s - lag(s) OVER (PARTITION BY doc_id ORDER BY f)) AS diff
             FROM fs)
      SELECT doc_id, nf AS n_frames,
             CAST(coalesce(SUM(CASE WHEN diff > $sceneCutThreshold THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cuts,
             CAST(coalesce(MAX(diff), 0) AS BIGINT) AS max_diff,
             CAST(coalesce(MIN(CASE WHEN diff > $sceneCutThreshold THEN f END), -1) AS BIGINT) AS first_cut
      FROM df GROUP BY doc_id, nf
      ORDER BY doc_id""",
    // m8's demux geometry plus the LOSSLESS pixel gate: frame f covers
    // source chars [f*128+1, (f+1)*128]; chars of even frames (the
    // sampled ones) contribute their code point to px_sum, zero
    // padding contributes nothing, and totals stay far below the 1e9+7
    // modulus the kernel reduces by — so a plain SUM matches. ASCII
    // corpus: ord == byte (the m2 contract).
    "m9_gif_frames" ->
      s"""SELECT doc_id, nf AS n_frames,
           CAST(ceil(nf / 2.0) AS BIGINT) AS n_sampled,
           CAST(CASE WHEN (nf - 1) % 2 = 0
                THEN (CAST(ceil(nf / 2.0) AS BIGINT) - 1) * 4 + hl
                ELSE CAST(ceil(nf / 2.0) AS BIGINT) * 4 END AS BIGINT) AS h_sum,
           CAST(coalesce(list_sum(list_transform(range(1, length(text) + 1), i ->
                CASE WHEN ((i - 1) // 128) % 2 = 0 THEN ord(text[i]) ELSE 0 END)), 0)
             AS BIGINT) AS px_sum
      FROM (SELECT doc_id, text,
              $frameGeomDuck
            FROM documents) t
      ORDER BY doc_id""",
    // m1: the generic metadata record reconstructed INDEPENDENTLY
    // from the encoding assignment (doc_id mod 4) and each codec's
    // contract — never from the container bytes. Geometry: PNG/JPEG
    // are 32-wide with h = ceil(len/32) (the m5/m7 layout), WAV is
    // the 1×frames raster (one frame per byte, m6), GIF stacks its
    // frames (full frames 4 rows, the last frame's height from the
    // residual — m9's arithmetic). All four encoders are
    // mono/grayscale -> channels = 1; px_check = plain byte sum for
    // the lossless kinds (sums sit far below the kernels' 1e9+7
    // modulus), -1 for the lossy JPEG by contract. ASCII corpus:
    // ord(text[i]) == byte i and length == octet_length (the shared
    // m-suite invariant — the kernel consumes UTF-8 BYTES of text, so
    // a non-ASCII regeneration would fail this oracle loudly, not
    // silently).
    "m1_multimodal_decode" ->
      s"""SELECT doc_id,
           CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
                WHEN 2 THEN 'jpeg' ELSE 'gif' END AS kind,
           CAST(CASE WHEN doc_id % 4 = 1 THEN length(text) ELSE 32 END AS BIGINT) AS width,
           CAST(CASE WHEN doc_id % 4 = 1 THEN 1
                     WHEN doc_id % 4 = 3 THEN (nf - 1) * 4 + hl
                     ELSE greatest(1, CAST(ceil(length(text) / 32.0) AS BIGINT))
                END AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS channels,
           CAST(CASE WHEN doc_id % 4 = 2 THEN -1
                     ELSE coalesce(list_sum(list_transform(range(1, length(text) + 1),
                            i -> ord(text[i]))), 0) % 1000000007
                END AS BIGINT) AS px_check
      FROM (SELECT doc_id, text,
              $frameGeomDuck
            FROM documents) t
      ORDER BY doc_id""",
    // m2 runs the real PNG roundtrip + the fixed integer projection on
    // DECODED samples; losslessness (pixel i = byte i, zero padding
    // contributes 0·w) lets the oracle restate every feature as exact
    // integer arithmetic over the source text, with the weight formula
    // ((7j+3b+1) % 13 − 6) spelled verbatim. ASCII corpus: ord == byte.
    // Long shape (doc_id, dim, value) — scalar columns, oracle-hashable.
    "m2_feature_extract" ->
      ("SELECT doc_id, CAST(dims.dim AS BIGINT) AS dim, " +
        "CAST(coalesce(list_sum(list_transform(range(1, length(text) + 1), " +
        "i -> ((7 * dims.dim + 3 * ((i - 1) % 16) + 1) % 13 - 6) * ord(text[i]))), 0) AS BIGINT) AS value " +
        "FROM documents CROSS JOIN (SELECT unnest(range(0, 8)) AS dim) dims " +
        "ORDER BY doc_id, dim"),
    // m3's demux + header-probe geometry, restated: nf 128-byte frames
    // (empty doc -> one empty frame), every frame's SOF header carries
    // 32 x 4 for a full chunk and 32 x hl for the last (residual)
    // chunk; every 3rd frame (0, 3, ...) is sampled, so the last frame
    // contributes hl iff its index (nf-1) is divisible by 3
    "m3_frame_sample" ->
      s"""SELECT doc_id, nf AS n_frames,
           CAST((nf - 1) // 3 + 1 AS BIGINT) AS n_sampled,
           CAST(CASE WHEN (nf - 1) % 3 = 0
                THEN ((nf - 1) // 3) * 4 + hl
                ELSE ((nf - 1) // 3 + 1) * 4 END AS BIGINT) AS h_sum
      FROM (SELECT doc_id,
              $frameGeomDuck
            FROM documents) t
      ORDER BY doc_id""",
    // m4 runs the real PNG roundtrip + 2×2 floor-mean downsample on
    // decoded samples; the oracle rebuilds every resized pixel from
    // the source text (lossless layout: pixel y·32+x = byte, zero
    // padding) — px() guards the padded tail, the denominator is 4
    // for full blocks and 2 when the bottom source row is clipped
    // (h odd), and // is non-negative floor division matching the
    // kernel's Long division. The outer CAST collapses DuckDB's
    // HUGEINT list_sum to Spark's BIGINT.
    "m4_resize" -> {
      def px(y: String, x: String) =
        s"(CASE WHEN ($y) * 32 + ($x) < length(text) THEN ord(text[($y) * 32 + ($x) + 1]) ELSE 0 END)"
      "SELECT doc_id, CAST(32 AS BIGINT) AS width, " +
        "CAST(h AS BIGINT) AS height, " +
        "CAST(16 AS BIGINT) AS r_width, " +
        "CAST((h + 1) // 2 AS BIGINT) AS r_height, " +
        "CAST(coalesce(list_sum(list_transform(range(0, (h + 1) // 2), j -> " +
        "list_sum(list_transform(range(0, 16), i -> " +
        s"(${px("2 * j", "2 * i")} + ${px("2 * j", "2 * i + 1")} + " +
        s"CASE WHEN 2 * j + 1 < h THEN ${px("2 * j + 1", "2 * i")} + ${px("2 * j + 1", "2 * i + 1")} ELSE 0 END) " +
        "// (CASE WHEN 2 * j + 1 < h THEN 4 ELSE 2 END))))), 0) " +
        "% 1000000007 AS BIGINT) AS r_px_sum " +
        "FROM (SELECT doc_id, text, " +
        "greatest(1, CAST(ceil(length(text) / 32.0) AS BIGINT)) AS h FROM documents) " +
        "ORDER BY doc_id"
    },
    // m5/m6 run REAL JDK codecs Spark-side (PNG / WAV); losslessness is
    // the contract that lets the oracle restate the decoded metadata as
    // plain arithmetic over the source text (ASCII corpus: bytes ==
    // code points). If the codec roundtrip mangled anything, the
    // checksums would diverge.
    // byte sums are spelled over range()+ord(text[i]) (the m4 pattern),
    // NOT string_split(text,''): DuckDB splits '' to [''] and ord('')
    // is -1, so the split spelling returns -1 instead of 0 for an
    // empty document while the kernels return 0
    // m5 geometry with the 16-bit expansion: sample = ord × 257, padded
    // zeros contribute nothing, decoded depth must be 16
    "m10_tiff_decode" ->
      ("SELECT doc_id, CAST(32 AS BIGINT) AS width, " +
        "CAST(greatest(1, CAST(ceil(length(text) / 32.0) AS BIGINT)) AS BIGINT) AS height, " +
        "CAST(16 AS BIGINT) AS bit_depth, " +
        "CAST(coalesce(list_sum(list_transform(range(1, length(text) + 1), i -> ord(text[i]) * 257)), 0) " +
        "% 1000000007 AS BIGINT) AS px_sum " +
        "FROM documents ORDER BY doc_id"),
    "m5_image_decode" ->
      ("SELECT doc_id, CAST(32 AS BIGINT) AS width, " +
        "CAST(greatest(1, CAST(ceil(length(text) / 32.0) AS BIGINT)) AS BIGINT) AS height, " +
        "CAST(coalesce(list_sum(list_transform(range(1, length(text) + 1), i -> ord(text[i]))), 0) " +
        "% 1000000007 AS BIGINT) AS px_sum " +
        "FROM documents ORDER BY doc_id"),
    "m6_audio_decode" ->
      ("SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels, " +
        "CAST(length(text) AS BIGINT) AS n_samples, " +
        "CAST(coalesce(list_sum(list_transform(range(1, length(text) + 1), i -> ord(text[i]))), 0) " +
        "% 1000000007 AS BIGINT) AS sample_sum " +
        "FROM documents ORDER BY doc_id"),
    // m7 runs the JDK's LOSSY JPEG codec: the geometry survives the
    // roundtrip exactly (oracle-computable), the signal only
    // approximately — so the oracle pins the bounded-error GATE
    // (within_tol = 1 for every document), not the pixel values. A
    // codec regression (stride, channel order, truncation, quality
    // misconfig) drives MAE far past the 8-grey-level bound and flips
    // the column.
    "m7_jpeg_decode" ->
      ("SELECT doc_id, CAST(32 AS BIGINT) AS width, " +
        "CAST(greatest(1, CAST(ceil(length(text) / 32.0) AS BIGINT)) AS BIGINT) AS height, " +
        "CAST(32 * greatest(1, CAST(ceil(length(text) / 32.0) AS BIGINT)) AS BIGINT) AS n_px, " +
        "CAST(1 AS BIGINT) AS within_tol " +
        "FROM documents ORDER BY doc_id"),
    // m8's demux + sample geometry, restated: nf 128-byte frames
    // (empty doc -> one empty frame), every full frame decodes 32x4,
    // the LAST frame's height follows its residual size, and the last
    // frame is sampled iff its index (nf-1) is even
    "m8_mjpeg_frames" ->
      s"""SELECT doc_id, nf AS n_frames,
           CAST(ceil(nf / 2.0) AS BIGINT) AS n_sampled,
           CAST(CASE WHEN (nf - 1) % 2 = 0
                THEN (CAST(ceil(nf / 2.0) AS BIGINT) - 1) * 4 + hl
                ELSE CAST(ceil(nf / 2.0) AS BIGINT) * 4 END AS BIGINT) AS h_sum
      FROM (SELECT doc_id,
              $frameGeomDuck
            FROM documents) t
      ORDER BY doc_id""",
  )
}

/** The real-codec kernels behind m5/m6 — separated so the spec can
  * exercise them directly (signature checks, roundtrip property). All
  * pure JDK (java.desktop module): no native libs, headless-safe. */
object MultimodalKernels {
  private val P = 1000000007L

  // ImageIO backs every read/write stream with a TEMP FILE by default;
  // for in-memory byte[] roundtrips that is pure overhead and fsync
  // contention across 32 decode tasks (measured: ~1.3 s → ~0.9 s for
  // the sf0.1 corpus). JVM-global, set once on first kernel use.
  javax.imageio.ImageIO.setUseCache(false)

  /** The 32-wide grayscale raster every image codec here encodes:
    * pixel i = byte i × `scale` in row-major order, zero-padded final
    * row, at least one row. */
  private def gray32(bytes: Array[Byte], imageType: Int, scale: Int): java.awt.image.BufferedImage = {
    val w = 32
    val h = math.max(1, (bytes.length + w - 1) / w)
    val img = new java.awt.image.BufferedImage(w, h, imageType)
    val raster = img.getRaster
    var i = 0
    while (i < bytes.length) {
      raster.setSample(i % w, i / w, 0, (bytes(i) & 0xff) * scale)
      i += 1
    }
    img
  }

  /** Band-0 samples of a decoded raster, row-major. */
  private def samples(img: java.awt.image.BufferedImage): Array[Int] = {
    val r = img.getRaster
    val w = img.getWidth
    val h = img.getHeight
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { px(y * w + x) = r.getSample(x, y, 0); x += 1 }
      y += 1
    }
    px
  }

  /** Band-0 sample sum of a decoded raster, mod P. */
  private def sampleSum(img: java.awt.image.BufferedImage): Long = {
    val r = img.getRaster
    var sum = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) { sum = (sum + r.getSample(x, y, 0)) % P; x += 1 }
      y += 1
    }
    sum
  }

  /** A decoded GIF frame's gray-level sum (no modulus: a frame is at
    * most 128 pixels of at most 255). Pixels are read through
    * `getRGB & 0xff`, NOT `raster.getSample`: the decoded frames are
    * palette-INDEXED images, and the writer owes no particular palette
    * order — the resolved color is the contract, the index is not. */
  private def grayRgbSum(img: java.awt.image.BufferedImage): Long = {
    var s = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) { s += (img.getRGB(x, y) & 0xff); x += 1 }
      y += 1
    }
    s
  }

  /** Runs `f(reader, frameCount)` over a GIF through the JDK reader's
    * multi-image API, disposing the reader and stream after. */
  private def readGif[T](gif: Array[Byte])(f: (javax.imageio.ImageReader, Int) => T): T = {
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(gif))
    try {
      reader.setInput(iis)
      f(reader, reader.getNumImages(true))
    } finally {
      reader.dispose()
      iis.close()
    }
  }

  /** bytes → real PNG: 32-wide, 8-bit grayscale, row-major pixels,
    * zero-padded final row. */
  def encodePng(bytes: Array[Byte]): Array[Byte] = {
    val img = gray32(bytes, java.awt.image.BufferedImage.TYPE_BYTE_GRAY, 1)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** PNG → (width, height, band-0 samples row-major) via the decoded
    * raster ONLY — the pixel-array sibling of [[decodePng]]; m2's
    * featurizer consumes the raw decoded samples. */
  def decodePngPixels(png: Array[Byte]): (Long, Long, Array[Int]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    require(img != null, s"payload (${png.length} bytes) is not a decodable PNG")
    (img.getWidth.toLong, img.getHeight.toLong, samples(img))
  }

  /** PNG → (width, height, pixel-sum mod P) via the decoded raster
    * ONLY — the production decode contract. */
  def decodePng(png: Array[Byte]): (Long, Long, Long) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    (img.getWidth.toLong, img.getHeight.toLong, sampleSum(img))
  }

  /** PNG → decoded BufferedImage → 2×2 AREA-AVERAGE downsample (the
    * PIL BOX-filter arithmetic) → (w, h, r_w, r_h, resized-pixel-sum
    * mod P). The round-9 replacement for m4's stride stub: a REAL
    * codec decodes the container, and the resize arithmetic runs on
    * DECODED samples only. Output pixel = floor-mean of its source
    * block in non-negative integer arithmetic, so with the lossless
    * PNG layout the oracle restates every resized pixel exactly from
    * the source bytes. Width is always even (32), so blocks only clip
    * vertically: an odd bottom row averages its 2 present samples
    * (denominator = present source rows × 2 — zero PADDING inside a
    * present row counts toward the mean; a clipped row does not). */
  def resizePngAreaAvg(png: Array[Byte]): (Long, Long, Long, Long, Long) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val r = img.getRaster
    val w = img.getWidth
    val h = img.getHeight
    val rw = w / 2
    val rh = (h + 1) / 2
    var sum = 0L
    var j = 0
    while (j < rh) {
      val rows = if (2 * j + 1 < h) 2 else 1
      var i = 0
      while (i < rw) {
        var block = 0L
        var dy = 0
        while (dy < rows) {
          block += r.getSample(2 * i, 2 * j + dy, 0)
          block += r.getSample(2 * i + 1, 2 * j + dy, 0)
          dy += 1
        }
        sum = (sum + block / (rows * 2)) % P
        i += 1
      }
      j += 1
    }
    (w.toLong, h.toLong, rw.toLong, rh.toLong, sum)
  }

  /** bytes → real JPEG: same 32-wide grayscale layout as [[encodePng]]
    * but through the JDK's LOSSY DCT codec, quality pinned to 0.95
    * explicitly (the default 0.75 loses ~3 grey levels MAE on random
    * bytes; 0.95 keeps the roundtrip within ~1–2 — tight enough that
    * m7's `within_tol` gate is meaningful). A writer instance per call:
    * ImageWriter is stateful and NOT thread-safe across the 32 decode
    * tasks. */
  def encodeJpeg(bytes: Array[Byte]): Array[Byte] = {
    val img = gray32(bytes, java.awt.image.BufferedImage.TYPE_BYTE_GRAY, 1)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(0.95f)
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    } finally {
      writer.dispose()
      ios.close()
    }
    baos.toByteArray
  }

  /** JPEG → (width, height, band-0 samples row-major) via the decoded
    * raster ONLY — the lossy twin of [[decodePng]]'s contract. */
  def decodeJpeg(jpeg: Array[Byte]): (Long, Long, Array[Int]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
    // ImageIO.read signals an undecodable payload with null, not an
    // exception — turn it into a diagnosable error, not a bare NPE
    require(img != null, s"payload (${jpeg.length} bytes) is not a decodable JPEG")
    (img.getWidth.toLong, img.getHeight.toLong, samples(img))
  }

  /** bytes → a real MJPEG-style stream: the payload chunked into
    * 128-byte frames, each encoded as an INDEPENDENT baseline JPEG
    * ([[encodeJpeg]]), concatenated — the motion-JPEG container shape
    * (every frame self-contained, no inter-frame prediction). */
  def encodeMjpeg(bytes: Array[Byte]): Array[Byte] = {
    val frames =
      if (bytes.isEmpty) Iterator(Array.empty[Byte]) else bytes.grouped(128)
    val baos = new java.io.ByteArrayOutputStream()
    frames.foreach(f => baos.write(encodeJpeg(f)))
    baos.toByteArray
  }

  /** Demux an MJPEG stream into its frames by scanning for EOI
    * (FF D9) — sound for baseline JPEG because 0xFF inside
    * entropy-coded data is byte-stuffed (FF 00) and restart markers
    * are FF D0–D7, so FF D9 only ever terminates a frame. (Streams
    * whose frames embed EXIF thumbnails — a whole JPEG inside an APP1
    * segment — would need a segment-walking demux instead; the JDK
    * encoder emits none.) */
  def demuxMjpeg(stream: Array[Byte]): Seq[Array[Byte]] = {
    val out = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var start = 0
    var i = 0
    while (i + 1 < stream.length) {
      if ((stream(i) & 0xff) == 0xff && (stream(i + 1) & 0xff) == 0xd9) {
        out += java.util.Arrays.copyOfRange(stream, start, i + 2)
        start = i + 2
        i += 2
      } else i += 1
    }
    // fail loudly on a truncated final frame / trailing garbage —
    // silently dropping the tail would undercount frames with no signal
    require(start == stream.length,
      s"MJPEG stream has ${stream.length - start} bytes after the last EOI " +
        "(truncated frame or trailing garbage)")
    out.toSeq
  }

  /** Header-only JPEG geometry probe: walk the marker segments to the
    * SOF frame header and read (width, height) with two big-endian
    * loads — NO entropy decode, no IDCT, no pixel buffer. This is the
    * pre-decode pass a video pipeline runs over every stored frame to
    * decide WHICH frames are worth paying the codec for (ffprobe-class
    * work: parse headers, skip entropy-coded data); m3 serves it.
    * Segment grammar: standalone markers (SOI, TEM, RST0–7) carry no
    * length; every other segment is FF xx + a 2-byte big-endian length
    * that includes the length field itself; the frame headers SOF0–15
    * (minus DHT/JPG/DAC at C4/C8/CC) carry precision(1), height(2),
    * width(2). Baseline JPEG always places its SOF before the
    * entropy-coded scan, so the walk terminates without touching
    * compressed data. (Fill bytes — FF padding between segments —
    * would desync the walk; no mainstream encoder emits them and the
    * kernel spec gates the probe on foreign-encoder fixtures.) */
  def probeJpegDims(jpeg: Array[Byte]): (Long, Long) = {
    require(jpeg.length >= 4 && (jpeg(0) & 0xff) == 0xff && (jpeg(1) & 0xff) == 0xd8,
      s"payload (${jpeg.length} bytes) is not a JPEG: missing SOI")
    var i = 2
    while (i + 3 < jpeg.length) {
      require((jpeg(i) & 0xff) == 0xff, s"JPEG segment walk desynced at byte $i")
      val marker = jpeg(i + 1) & 0xff
      if (marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
        // the loop bound only guarantees the 2-byte length field — a
        // stream truncated INSIDE the SOF payload must fail with the
        // same loud diagnosis as the other malformed paths, not an
        // ArrayIndexOutOfBounds (ADVICE r12)
        require(i + 8 < jpeg.length,
          s"JPEG truncated inside SOF header at byte $i (${jpeg.length} bytes)")
        val h = ((jpeg(i + 5) & 0xff) << 8) | (jpeg(i + 6) & 0xff)
        val w = ((jpeg(i + 7) & 0xff) << 8) | (jpeg(i + 8) & 0xff)
        return (w.toLong, h.toLong)
      }
      if (marker == 0xd8 || marker == 0x01 ||
          (marker >= 0xd0 && marker <= 0xd7)) i += 2
      else i += 2 + (((jpeg(i + 2) & 0xff) << 8) | (jpeg(i + 3) & 0xff))
    }
    throw new IllegalArgumentException(
      s"no SOF header found in ${jpeg.length}-byte JPEG before entropy data")
  }

  /** bytes → a real ANIMATED GIF: the payload chunked into 128-byte
    * frames, each a 32-wide 8-bit-grayscale image (full frames 4 rows,
    * the final frame's height following its residual, zero-padded),
    * written as ONE multi-frame GIF89a through the JDK writer's
    * sequence API. Unlike m7/m8's DCT codec, GIF's 256-entry palette
    * covers 8-bit grayscale EXACTLY — the container roundtrip is
    * lossless, so decoded pixel sums are oracle-computable from the
    * source bytes (the strongest decode gate of the media suite: a
    * palette-index mixup or frame-order bug breaks the sum, not just a
    * tolerance). A writer instance per call: ImageWriter is stateful
    * and NOT thread-safe across the 32 decode tasks. */
  def encodeGif(bytes: Array[Byte]): Array[Byte] = {
    val w = 32
    val frameBytes = 128
    val n = math.max(1, (bytes.length + frameBytes - 1) / frameBytes)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    // Interlace OFF: the writer interlaces by default, and the JDK
    // reader mis-reassembles interlaced frames only a few rows tall
    // (measured: a written 1 at row 1 of a 32×2 frame reads back 0) —
    // progressive mode is GIF interlacing in ImageIO terms.
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      // An EXPLICIT identity 256-gray palette: handed a TYPE_BYTE_GRAY
      // image the GIF writer runs its own quantization, which is NOT
      // the identity (measured: gray 1 → 0) — an indexed image makes
      // the writer embed this palette verbatim, and the roundtrip is
      // lossless by construction.
      val grays = Array.tabulate(256)(_.toByte)
      val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
      var f = 0
      while (f < n) {
        val start = f * frameBytes
        val len = math.max(0, math.min(frameBytes, bytes.length - start))
        val h = math.max(1, (len + w - 1) / w)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
        val raster = img.getRaster
        var i = 0
        while (i < len) {
          raster.setSample(i % w, i / w, 0, bytes(start + i) & 0xff)
          i += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), param)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    baos.toByteArray
  }

  /** GIF → (frame count, sampled count, height sum, pixel sum mod P
    * over every 2nd frame) via the JDK reader's multi-image API ONLY
    * (pixels via [[grayRgbSum]]). */
  def decodeGifFrames(gif: Array[Byte]): (Long, Long, Long, Long) =
    readGif(gif) { (reader, n) =>
      var hSum = 0L
      var pxSum = 0L
      var sampled = 0L
      var k = 0
      while (k < n) {
        if (k % 2 == 0) {
          val img = reader.read(k)
          hSum += img.getHeight
          sampled += 1
          pxSum = (pxSum + grayRgbSum(img)) % P
        }
        k += 1
      }
      (n.toLong, sampled, hSum, pxSum)
    }

  /** GIF → per-frame pixel sums over ALL frames (no sampling, no
    * modulus — a frame is ≤ 128 pixels of ≤ 255, so the sum fits a
    * Long with ten orders of magnitude to spare). Same reader
    * discipline as [[decodeGifFrames]]: multi-image API, pixels via
    * [[grayRgbSum]]. Feeds
    * m11's temporal frame-difference analysis. */
  def decodeGifFrameSums(gif: Array[Byte]): Array[Long] =
    readGif(gif)((reader, n) => Array.tabulate(n)(k => grayRgbSum(reader.read(k))))

  /** WAV → per-window signal energy over ALL 256-sample windows:
    * Σ (s−128)² per window (8-bit PCM is unsigned with midpoint 128 =
    * silence; a full window tops out at 256·128² ≈ 4.2M — ten orders
    * inside Long). Same parsed-stream discipline as [[decodeWav]].
    * Feeds m12's activity segmentation. */
  def decodeWavWindowEnergies(wav: Array[Byte], win: Int = 256): Array[Long] = {
    val in = waveReader.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val data = in.readAllBytes()
    val n = math.max(1, (data.length + win - 1) / win)
    val energies = new Array[Long](n)
    var i = 0
    while (i < data.length) {
      val d = (data(i) & 0xff) - 128
      energies(i / win) += d.toLong * d
      i += 1
    }
    energies
  }

  /** m13's FORMAT ROUTER: sniff the container's magic bytes and
    * dispatch to the right decoder — using NOTHING but the bytes (the
    * caller's encoding choice is invisible here; m13's oracle derives
    * the expected kind independently, so a wrong sniff or a
    * mis-dispatch fails the gate). Returns (kind, geometry, pixel
    * check): geometry is each kind's canonical shape scalar (PNG/JPEG
    * height, WAV frames, GIF frame count), the check the lossless
    * kinds' decoded sample sum (−1 for the lossy JPEG, whose gate is
    * geometry + the m7 tolerance). */
  def routeDecode(c: Array[Byte]): (String, Long, Long) = sniff(c) match {
    case "png" => val (_, h, sum) = decodePng(c); ("png", h, sum)
    case "wav" => val (_, _, frames, sum) = decodeWav(c); ("wav", frames, sum)
    case "jpeg" => val (_, h, _) = decodeJpeg(c); ("jpeg", h, -1L)
    case "gif" => val sums = decodeGifFrameSums(c); ("gif", sums.length.toLong, sums.sum)
    case _ => ("unknown", -1L, -1L)
  }

  /** The container kind from its magic bytes alone: png, wav, jpeg,
    * gif or unknown. */
  private def sniff(c: Array[Byte]): String = {
    def b(i: Int) = c(i) & 0xff
    if (c.length >= 8 && b(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
    else if (c.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F'
        && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') "wav"
    else if (c.length >= 2 && b(0) == 0xff && b(1) == 0xd8) "jpeg"
    else if (c.length >= 4 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') "gif"
    else "unknown"
  }

  /** m1's generic DESCRIBE: sniff the container ([[sniff]]'s magic
    * table) and decode it to the media-metadata record a lake
    * catalog stores — (kind, width, height, channels, px_check).
    * Every field comes from the DECODED object only (raster dims and
    * band count, parsed audio frames/channels, the reader's frame
    * walk), never from the encoder's inputs — m1's oracle
    * reconstructs the record independently from the encoding
    * assignment, so a wrong sniff, a stride bug, or a mis-dispatch
    * hash-fails. Conventions: audio is the 1×frames "raster" (width =
    * decoded frame count, height = 1); an animated GIF stacks its
    * frames (width = frame width, height = Σ frame heights);
    * px_check is the lossless kinds' decoded sample sum mod P and −1
    * for the lossy JPEG (whose signal gate is m7's tolerance line —
    * geometry still checks exactly). */
  def describeMedia(c: Array[Byte]): (String, Long, Long, Long, Long) =
    sniff(c) match {
      case kind @ ("png" | "jpeg") =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(c))
        require(img != null, s"payload (${c.length} bytes) is not a decodable $kind")
        val sum = if (kind != "jpeg") sampleSum(img) else -1L
        (kind, img.getWidth.toLong, img.getHeight.toLong, img.getRaster.getNumBands.toLong, sum)
      case "wav" =>
        val (_, ch, frames, sum) = decodeWav(c)
        ("wav", frames, 1L, ch, sum)
      // frame walk through the multi-image reader: width from the
      // first frame, height = Σ frame heights, pixels via getRGB
      // (palette order is not a contract — see grayRgbSum)
      case "gif" => readGif(c) { (reader, n) =>
        var w = 0L
        var hSum = 0L
        var pxSum = 0L
        var k = 0
        while (k < n) {
          val img = reader.read(k)
          if (k == 0) w = img.getWidth.toLong
          hSum += img.getHeight
          pxSum = (pxSum + grayRgbSum(img)) % P
          k += 1
        }
        ("gif", w, hSum, 1L, pxSum)
      }
      case _ => ("unknown", -1L, -1L, -1L, -1L)
    }

  /** The JDK's RIFF/WAVE codec, resolved ONCE per JVM.
    * `AudioSystem.write`/`getAudioInputStream` route every call through
    * a synchronized provider registry — 32 concurrent decode tasks
    * serialize on that lock (measured: the whole-corpus decode ran 10×
    * slower through AudioSystem than the raw codec). Service lookup
    * here, direct provider calls on the hot path. */
  private lazy val waveWriter: javax.sound.sampled.spi.AudioFileWriter = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .asScala
      .find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .getOrElse(throw new IllegalStateException("no RIFF/WAVE writer on this JVM"))
  }

  private lazy val waveReader: javax.sound.sampled.spi.AudioFileReader = {
    import scala.jdk.CollectionConverters._
    val probe = encodeWav(Array[Byte](1, 2, 3))
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala
      .find { r =>
        try { r.getAudioFileFormat(new java.io.ByteArrayInputStream(probe)); true }
        catch { case _: Exception => false }
      }
      .getOrElse(throw new IllegalStateException("no RIFF/WAVE reader on this JVM"))
  }

  /** bytes → real WAV container: 8-bit unsigned PCM, mono, 8 kHz,
    * written by the JDK's RIFF/WAVE writer. */
  def encodeWav(bytes: Array[Byte]): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val in = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, bytes.length.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    waveWriter.write(in, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** WAV → (rate, channels, frames, sample-sum mod P) via the parsed
    * stream ONLY. */
  def decodeWav(wav: Array[Byte]): (Long, Long, Long, Long) = {
    val in = waveReader.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val fmt = in.getFormat
    val data = in.readAllBytes()
    var sum = 0L
    var i = 0
    while (i < data.length) { sum = (sum + (data(i) & 0xff)) % P; i += 1 }
    // n_samples = frames actually decoded (1 byte/frame here), not the
    // header's claim — the honest decoded count
    (fmt.getSampleRate.toLong, fmt.getChannels.toLong, data.length.toLong, sum)
  }

  /** bytes → real TIFF: 32-wide, 16-BIT grayscale (TYPE_USHORT_GRAY),
    * sample i = byte i × 257 (the exact 8→16-bit range expansion),
    * zero-padded final row. TIFF is the scientific/scan-corpus format
    * and the one deep-sample container in the matrix — PNG/JPEG/GIF
    * here are all 8-bit paths; a stride or byte-order bug in 16-bit
    * little/big-endian sample handling is invisible to them. */
  def encodeTiff16(bytes: Array[Byte]): Array[Byte] = {
    val img = gray32(bytes, java.awt.image.BufferedImage.TYPE_USHORT_GRAY, 257)
    val baos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "tiff", baos),
      "JDK TIFF writer unavailable")
    baos.toByteArray
  }

  /** TIFF → (width, height, sample bit depth, 16-bit sample sum mod P)
    * via the decoded raster ONLY — the production decode contract.
    * Lossless, so the oracle recomputes the sum arithmetically. */
  def decodeTiff16(tiff: Array[Byte]): (Long, Long, Long, Long) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(tiff))
    require(img != null, "JDK TIFF reader returned null")
    val depth = img.getRaster.getSampleModel.getSampleSize(0).toLong
    (img.getWidth.toLong, img.getHeight.toLong, depth, sampleSum(img))
  }
}
