package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** Multimodal (image/audio/video) column plumbing (builder mandate).
  *
  * Media payloads are opaque `binary` columns + typed metadata. The
  * decoders here are REAL pure-JVM implementations, golden-pinned
  * against reference encoders in the test tree: pixel decode for PNG
  * (zlib inflate + all filter types), GIF (LZW), JPEG (baseline +
  * progressive, full IDCT), BMP, TIFF (LZW + PackBits + predictor)
  * and WebP-lossless (VP8L); sample decode for WAV PCM and FLAC;
  * structural/metadata walks for MP4 (tracks, keyframes, byte
  * ranges), MP3, OGG, AVIF, APNG, WebP, EXIF and ID3 (all four text
  * encodings). Remaining honest codec boundaries — formats where only
  * metadata is decoded, never misread — are the LOSSY bitstreams:
  * VP8/AV1 pixel reconstruction and MP3 audio synthesis (the walks
  * report `ok_metadata` for these). Spark-side everything is native
  * Catalyst expressions ([[graft.plans.MediaDecodeExpressions]] /
  * [[graft.plans.MediaArrayExpressions]]) kept inside whole-stage
  * codegen, plus the typed-metadata schema, null handling and
  * downstream joins/aggregations here.
  */
object Multimodal {

  /** Typed metadata carried next to every blob. */
  val MetaCols: Seq[String] = Seq("n_bytes", "content_sha", "kind")

  /** Attach an opaque blob + metadata view of a text column (the testdata
    * has no true media column; utf-8 bytes stand in as the payload while
    * keeping every byte-level operation real). Media-kind sniffing uses
    * magic-byte dispatch exactly as a real decoder front-end would. */
  def withBlob(df: DataFrame, textCol: String): DataFrame =
    withBlobMeta(df.withColumn("blob", encode(col(textCol), "utf-8")))

  /** Attach metadata to an existing binary `blob` column (real media
    * payloads enter here). */
  def withBlobMeta(df: DataFrame): DataFrame =
    df.withColumn("n_bytes", octet_length(col("blob")))
      .withColumn("content_sha", sha2(col("blob"), 256))
      .withColumn("kind", sniffKind(col("blob")))

  /** Magic-byte media-kind dispatch, exactly as a decoder front-end would
    * route payloads to codecs (PNG signature starts 0x89 P N G; JPEG is
    * 0xFFD8FF; GIF87a/GIF89a; RIFF containers carry WAV/AVI/WebP; BMP is
    * the 2-byte `BM` — near-last since it is a weak magic; MP4 is the
    * `ftyp` box type at offset 4; MP3 is recognized by its ID3v2 tag —
    * the bare MPEG frame sync (0xFFEx) is too weak a magic to dispatch
    * on, [[mp3MetaJvm]] still accepts untagged streams when routed). */
  def sniffKind(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(substring(blob, 1, 4) ===
      lit(Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47)), "png")
      .when(substring(blob, 1, 3) ===
        lit(Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte)), "jpeg")
      .when(substring(blob, 1, 4) === lit("GIF8".getBytes), "gif")
      .when(substring(blob, 1, 4) === lit("RIFF".getBytes) &&
        substring(blob, 9, 4) === lit("WEBP".getBytes), "webp")
      .when(substring(blob, 1, 4) === lit("RIFF".getBytes), "riff")
      .when(substring(blob, 1, 4) === lit("fLaC".getBytes), "flac")
      .when(substring(blob, 1, 4) ===
        lit(Array[Byte]('I', 'I', 42, 0)) ||
        substring(blob, 1, 4) === lit(Array[Byte]('M', 'M', 0, 42)),
        "tiff")
      .when(substring(blob, 1, 2) === lit("BM".getBytes), "bmp")
      .when(substring(blob, 5, 4) === lit("ftyp".getBytes) &&
        (substring(blob, 9, 4) === lit("avif".getBytes) ||
          substring(blob, 9, 4) === lit("avis".getBytes)), "avif")
      .when(substring(blob, 5, 4) === lit("ftyp".getBytes), "mp4")
      .when(substring(blob, 1, 5) ===
        lit(Array[Byte]('O', 'g', 'g', 'S', 0)), "ogg")
      .when(substring(blob, 1, 3) === lit("ID3".getBytes), "mp3")
      .when(substring(blob, 1, 5) === lit("%PDF-".getBytes), "pdf")
      .otherwise("bin")

  // ---- Real media header parsing (portable byte arithmetic) ----
  //
  // These read actual container headers — no codec needed: image
  // dimensions live in fixed-layout (PNG IHDR, GIF logical screen
  // descriptor) or walkable (JPEG marker segments) header structures.
  // Everything is built-in byte arithmetic (substr → hex → conv), so the
  // expressions stay codegen'd and the driver oracle can pin the results.

  /** Unsigned byte value at 1-based offset `i` (column offset). */
  private def byteAt(blob: Column, i: Column): Column =
    conv(hex(blob.substr(i, lit(1))), 16, 10).cast("long")

  /** Big-endian unsigned 32-bit at a LITERAL 1-based offset. */
  private def be32(blob: Column, off: Int): Column =
    conv(hex(substring(blob, off, 4)), 16, 10).cast("long")

  /** Big-endian unsigned 16-bit at a column 1-based offset. */
  private def be16At(blob: Column, off: Column): Column =
    byteAt(blob, off) * 256L + byteAt(blob, off + 1)

  /** PNG: IHDR is mandated to be the first chunk — width/height are
    * big-endian 32-bit at fixed offsets 17/21 (8 signature bytes + 4
    * length + "IHDR"). */
  def pngDims(blob: Column): Column =
    when(octet_length(blob) >= 24 &&
        substring(blob, 13, 4) === lit("IHDR".getBytes),
      struct(be32(blob, 17).as("width"), be32(blob, 21).as("height")))

  /** GIF: logical screen descriptor directly after the 6-byte version
    * block — width/height are LITTLE-endian 16-bit at offsets 7/9. */
  def gifDims(blob: Column): Column =
    when(octet_length(blob) >= 10,
      struct(
        (byteAt(blob, lit(7L)) + byteAt(blob, lit(8L)) * 256L).as("width"),
        (byteAt(blob, lit(9L)) + byteAt(blob, lit(10L)) * 256L)
          .as("height")))

  /** JPEG: dimensions live in the frame header (SOF0/SOF1/SOF2 baseline/
    * extended/progressive), which sits at a VARIABLE offset behind
    * arbitrary APPn/COM segments — so this is a real marker-segment walk,
    * not a fixed read: from offset 3 (after FFD8), each step either
    * recognizes an SOF marker (height BE16 at +5, width BE16 at +7) or
    * jumps 2 + big-endian segment length. Bounded at `maxSegments`
    * (production headers put SOF within the first few segments; a walk
    * that deep on a valid file means metadata soup, and an unbounded
    * fold cannot be expressed as a finite Catalyst expression anyway).
    * Malformed input (marker byte != FF, truncated segment) parks the
    * cursor past the payload and yields NULL. */
  def jpegDims(blob: Column, maxSegments: Int = 16): Column = {
    val len = octet_length(blob).cast("long")
    val step: (Column, Column) => Column = (st, _) => {
      val pos = st.getField("pos")
      val h = st.getField("h")
      val w = st.getField("w")
      val truncated = pos + 8L > len
      val marker = byteAt(blob, pos)
      val tb = byteAt(blob, pos + 1)
      val isSof = tb.isin(0xC0L, 0xC1L, 0xC2L)
      val segLen = be16At(blob, pos + 2)
      when(h >= 0L || truncated, st)
        .when(marker =!= 0xFFL, // malformed: park past the end
          struct((len + 9L).as("pos"), h.as("h"), w.as("w")))
        .when(isSof,
          struct(pos.as("pos"), be16At(blob, pos + 5).as("h"),
            be16At(blob, pos + 7).as("w")))
        .otherwise(
          struct((pos + 2L + segLen).as("pos"), h.as("h"), w.as("w")))
    }
    val folded = aggregate(
      sequence(lit(1), lit(maxSegments)),
      struct(lit(3L).as("pos"), lit(-1L).as("h"), lit(-1L).as("w")),
      step)
    when(folded.getField("h") >= 0L,
      struct(folded.getField("w").as("width"),
        folded.getField("h").as("height")))
  }

  /** Dimensions for any sniffable still-image payload:
    * `struct(width, height)`, NULL for non-image/opaque/malformed blobs.
    * Dispatches on the same magic bytes as [[sniffKind]]. */
  def mediaDims(blob: Column): Column = {
    val kind = sniffKind(blob)
    when(kind === "png", pngDims(blob))
      .when(kind === "gif", gifDims(blob))
      .when(kind === "jpeg", jpegDims(blob))
  }

  /** Little-endian unsigned 16-bit at a column 1-based offset. */
  private def le16At(blob: Column, off: Column): Column =
    byteAt(blob, off) + byteAt(blob, off + 1) * 256L

  /** Little-endian unsigned 32-bit at a column 1-based offset. */
  private def le32At(blob: Column, off: Column): Column =
    byteAt(blob, off) + byteAt(blob, off + 1) * 256L +
      byteAt(blob, off + 2) * 65536L + byteAt(blob, off + 3) * 16777216L

  /** WAV (RIFF/WAVE) audio metadata — a real CHUNK WALK, same discipline
    * as the JPEG marker walk: from offset 13 (after `RIFF<size>WAVE`),
    * each 8-byte chunk header is either the `fmt ` block (channels LE16
    * at +10, sample rate LE32 at +12, block align LE16 at +20, bits LE16
    * at +22) or the `data` chunk (payload size LE32 at +4), or is skipped
    * by `8 + size + (size % 2)` — RIFF pads odd chunks to even offsets,
    * and real encoders do emit LIST/INFO/fact chunks before either
    * target. Bounded at `maxChunks`; non-RIFF/WAVE payloads and walks
    * that never see both targets yield NULL.
    *
    * Output: `struct(channels, sample_rate, bits_per_sample, n_frames,
    * duration_ms)` — frames = data size / block align, duration =
    * data·1000 / byte rate, both exact int64 divisions. Row-local
    * built-in byte arithmetic (substr → hex → conv), codegen-resident
    * like the image parsers. */
  def wavMeta(blob: Column, maxChunks: Int = 8): Column = {
    val len = octet_length(blob).cast("long")
    val step: (Column, Column) => Column = (st, _) => {
      val pos = st.getField("pos")
      val ch = st.getField("ch")
      val sr = st.getField("sr")
      val blk = st.getField("blk")
      val bits = st.getField("bits")
      val dsz = st.getField("dsz")
      val done = ch >= 0L && dsz >= 0L
      val id = substring(blob, pos.cast("int"), lit(4))
      val size = le32At(blob, pos + 4)
      val next = pos + 8L + size + pmod(size, lit(2L))
      // an 8-byte chunk header occupies 1-based bytes pos..pos+7 — a
      // trailing `data` header with no payload is valid and must parse
      when(done || pos + 7L > len, st)
        .when(id === lit("fmt ".getBytes) && ch < 0L,
          struct(next.as("pos"), le16At(blob, pos + 10).as("ch"),
            le32At(blob, pos + 12).as("sr"),
            le16At(blob, pos + 20).as("blk"),
            le16At(blob, pos + 22).as("bits"), dsz.as("dsz")))
        .when(id === lit("data".getBytes) && dsz < 0L,
          struct(next.as("pos"), ch.as("ch"), sr.as("sr"), blk.as("blk"),
            bits.as("bits"), size.as("dsz")))
        .otherwise(struct(next.as("pos"), ch.as("ch"), sr.as("sr"),
          blk.as("blk"), bits.as("bits"), dsz.as("dsz")))
    }
    val folded = aggregate(
      sequence(lit(1), lit(maxChunks)),
      struct(lit(13L).as("pos"), lit(-1L).as("ch"), lit(-1L).as("sr"),
        lit(-1L).as("blk"), lit(-1L).as("bits"), lit(-1L).as("dsz")),
      step)
    when(substring(blob, 1, 4) === lit("RIFF".getBytes) &&
        substring(blob, 9, 4) === lit("WAVE".getBytes) &&
        folded.getField("ch") >= 0L && folded.getField("dsz") >= 0L &&
        folded.getField("blk") > 0L && folded.getField("sr") > 0L,
      struct(folded.getField("ch").as("channels"),
        folded.getField("sr").as("sample_rate"),
        folded.getField("bits").as("bits_per_sample"),
        TF.intDivNonNeg(folded.getField("dsz"), folded.getField("blk"))
          .as("n_frames"),
        TF.intDivNonNeg(folded.getField("dsz") * 1000L,
            folded.getField("sr") * folded.getField("blk"))
          .as("duration_ms")))
  }

  /** FLAC STREAMINFO metadata — the BIT-PACKED cousin of [[wavMeta]]'s
    * byte-aligned chunk walk: `fLaC` magic, then the STREAMINFO block
    * (spec-mandated FIRST, so its payload sits at fixed offset 9
    * 1-based) whose tail packs sample rate (20 bits), channels−1 (3),
    * bits-per-sample−1 (5) and total samples (36) across byte
    * boundaries — the parse is shifts/masks over [[byteAt]] reads, all
    * codegen'd built-ins. Output `struct(channels, sample_rate,
    * bits_per_sample, total_samples, duration_ms)`; non-FLAC /
    * truncated / non-STREAMINFO-first payloads yield NULL. Decoding
    * FLAC AUDIO needs a real codec (it is compressed) — this is the
    * honest header boundary, with [[auditPayload]]-style routing left
    * to the dispatch layer. */
  def flacMeta(blob: Column): Column = {
    // STREAMINFO payload is 1-based 9..42; the packed 64-bit tail lives
    // in bytes 19..26 (1-based): sr[20] ch[3] bps[5] total[36]
    def b(i: Int): Column = byteAt(blob, lit(i.toLong))
    val sr = b(19) * 4096L + b(20) * 16L +
      TF.intDivNonNeg(b(21), lit(16L))
    val ch = pmod(TF.intDivNonNeg(b(21), lit(2L)), lit(8L)) + 1L
    val bps = pmod(b(21), lit(2L)) * 16L +
      TF.intDivNonNeg(b(22), lit(16L)) + 1L
    val total = pmod(b(22), lit(16L)) * 4294967296L +
      b(23) * 16777216L + b(24) * 65536L + b(25) * 256L + b(26)
    when(octet_length(blob) >= 26 &&
        substring(blob, 1, 4) === lit("fLaC".getBytes) &&
        // block header: last-flag bit is don't-care, type bits must be 0
        // (STREAMINFO), declared length 34
        pmod(byteAt(blob, lit(5L)), lit(128L)) === 0L &&
        byteAt(blob, lit(6L)) === 0L && byteAt(blob, lit(7L)) === 0L &&
        byteAt(blob, lit(8L)) === 34L &&
        sr > 0L,
      struct(ch.as("channels"), sr.as("sample_rate"),
        bps.as("bits_per_sample"), total.as("total_samples"),
        TF.intDivNonNeg(total * 1000L, sr).as("duration_ms")))
  }

  final case class FeatureRow(doc_id: Long, n_bytes: Int, mean_byte: Double,
      features: Array[Float])

  /** One decoded audio channel's features (see [[extractAudioFeatures]]). */
  final case class AudioFeatureRow(doc_id: Long, channel: Long,
      n_frames: Long, peak_abs: Long, sum_sq: Long, zero_crossings: Long,
      rms: Double)

  /** REAL audio payload decode — this is the actual sample decode the
    * round-6 feature path lacked (no codec library needed: PCM16 WAV is
    * pure byte arithmetic). A JVM RIFF chunk walk (twin of the Catalyst
    * [[wavMeta]] walker, same skip rule `8 + size + size%2`) locates the
    * `fmt `/`data` chunks; PCM (format code 1), 16-bit payloads are then
    * decoded frame-by-frame as little-endian SIGNED 16-bit samples and
    * reduced per channel to:
    *  - `peak_abs`  max |s| (|−32768| = 32768, hence long),
    *  - `sum_sq`    exact Σ s² (≤ n·2³⁰, long-exact and double-exact
    *                below 2⁵³ — the oracle's SUM matches bit-for-bit),
    *  - `zero_crossings`  count of consecutive-frame sign flips, where
    *                "negative" is s < 0 (0 counts as non-negative),
    *  - `rms`       sqrt(sum_sq / n) in IEEE double — division and sqrt
    *                are correctly rounded on both the JVM and the oracle,
    *                so the doubles hash identically.
    * Non-RIFF / non-PCM16 / truncated / zero-frame payloads decode to no
    * rows (a real ingest would route those to a rejects side-channel). */
  /** Shared front half of the PCM decoders: RIFF walk to `fmt `/`data`,
    * format gate (integer PCM, 8 or 16 bit), frame count. Returns
    * (channels, bits, dataOff, nFrames). */
  private def locatePcm(bytes: Array[Byte])
      : Option[(Int, Int, Int, Int)] = {
    if (bytes == null || bytes.length < 12) return None
    def u8(i: Int): Int = bytes(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int, s: String): Boolean =
      i + 4 <= bytes.length && s.indices.forall(k => bytes(i + k) == s(k))
    if (!tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var pos = 12L
    var fmtCode = -1; var channels = -1; var bits = -1
    var dataOff = -1L; var dataSz = -1L
    var guard = 0
    while (pos + 8 <= bytes.length && (channels < 0 || dataOff < 0) &&
        guard < 64) {
      val p = pos.toInt
      val size = le32(p + 4)
      if (tag(p, "fmt ") && channels < 0 && p + 24 <= bytes.length) {
        fmtCode = le16(p + 8); channels = le16(p + 10); bits = le16(p + 22)
      } else if (tag(p, "data") && dataOff < 0) {
        dataOff = pos + 8
        dataSz = math.min(size, bytes.length - dataOff)
      }
      pos += 8L + size + (size % 2) // RIFF pads odd chunks to even offsets
      guard += 1
    }
    if (fmtCode != 1 || (bits != 16 && bits != 8) || channels < 1 ||
        dataOff < 0) None
    else {
      val n = (dataSz / (channels * (bits / 8))).toInt
      if (n == 0) None else Some((channels, bits, dataOff.toInt, n))
    }
  }

  /** 16-bit gate over [[locatePcm]] (the original decoder front). */
  private def locatePcm16(bytes: Array[Byte]): Option[(Int, Int, Int)] =
    locatePcm(bytes).collect { case (ch, 16, off, n) => (ch, off, n) }

  /** Shared per-channel reduce over an already-LOCATED PCM payload —
    * sample extraction dispatches on bit depth (16-bit little-endian
    * two's complement vs 8-bit offset-binary u8−128); the RIFF walk runs
    * exactly once per payload regardless of entry point. */
  private def reducePcm(bytes: Array[Byte], channels: Int, bits: Int,
      dataOff: Int, n: Int)
      : IndexedSeq[(Int, Long, Long, Long, Long, Double)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    val bytesPerSample = bits / 8
    val bytesPerFrame = channels * bytesPerSample
    val out = Vector.newBuilder[(Int, Long, Long, Long, Long, Double)]
    var c = 0
    while (c < channels) {
      var peak = 0L; var sumSq = 0L; var zc = 0L
      var prevNeg = false
      var f = 0
      while (f < n) {
        val off = dataOff + f * bytesPerFrame + c * bytesPerSample
        val s =
          if (bits == 16) ((u8(off + 1) << 8) | u8(off)).toShort.toInt
          else u8(off) - 128
        val a = math.abs(s.toLong)
        if (a > peak) peak = a
        sumSq += s.toLong * s
        val neg = s < 0
        if (f > 0 && neg != prevNeg) zc += 1
        prevNeg = neg
        f += 1
      }
      out += ((c, n.toLong, peak, sumSq, zc, math.sqrt(sumSq.toDouble / n)))
      c += 1
    }
    out.result()
  }

  def decodeWavPcm16(bytes: Array[Byte])
      : IndexedSeq[(Int, Long, Long, Long, Long, Double)] =
    locatePcm16(bytes) match {
      case None => Vector.empty
      case Some((channels, dataOff, n)) =>
        reducePcm(bytes, channels, 16, dataOff, n)
    }

  /** One decoded audio WINDOW's features (see [[extractAudioWindows]]). */
  final case class AudioWindowRow(doc_id: Long, channel: Long,
      window_idx: Long, n_frames: Long, peak_abs: Long, sum_sq: Long,
      rms: Double)

  /** Windowed audio features over real PCM16 decode — the time-series
    * feature shape a speech/audio training pipeline extracts (frame
    * windows → per-window energy), not just whole-clip stats: per
    * channel, frames are cut into fixed `windowFrames` windows (the last
    * window may be partial; its true frame count is emitted) and each
    * reduces to peak |s|, exact Σ s², and RMS. Same single-pass byte
    * decode as [[decodeWavPcm16]]; one output row per (channel, window).
    * Row-local — a 100 TB audio corpus fans out to window rows with no
    * shuffle, and downstream windowed aggregations group on
    * (doc, channel, window) keys that are already data-parallel. */
  def decodeWavPcm16Windows(bytes: Array[Byte], windowFrames: Int)
      : IndexedSeq[(Int, Long, Long, Long, Long, Double)] = {
    require(windowFrames >= 1, "windowFrames must be >= 1")
    val (channels, dataOff, n) = locatePcm16(bytes) match {
      case None => return Vector.empty
      case Some(t) => t
    }
    def u8(i: Int): Int = bytes(i) & 0xff
    val bytesPerFrame = channels * 2
    val out = Vector.newBuilder[(Int, Long, Long, Long, Long, Double)]
    var c = 0
    while (c < channels) {
      var w = 0
      while (w.toLong * windowFrames < n) {
        val f0 = w * windowFrames
        val f1 = math.min(f0 + windowFrames, n)
        var peak = 0L; var sumSq = 0L
        var f = f0
        while (f < f1) {
          val off = dataOff + f * bytesPerFrame + c * 2
          val s = ((u8(off + 1) << 8) | u8(off)).toShort.toInt
          val a = math.abs(s.toLong)
          if (a > peak) peak = a
          sumSq += s.toLong * s
          f += 1
        }
        val wn = f1 - f0
        out += ((c, w.toLong, wn.toLong, peak, sumSq,
          math.sqrt(sumSq.toDouble / wn)))
        w += 1
      }
      c += 1
    }
    out.result()
  }

  /** 8-bit PCM decode — the OFFSET-BINARY variant of [[decodeWavPcm16]]
    * (round 7): 8-bit WAV samples are UNSIGNED bytes centered at 128
    * (u8 − 128 ∈ [−128, 127]), a genuinely different sign convention
    * from 16-bit two's complement — exactly the dispatch a real decoder
    * front-end must get right per format branch. Same per-channel
    * peak/Σs²/zero-crossing/RMS reduction over the centered values. */
  def decodeWavPcm8(bytes: Array[Byte])
      : IndexedSeq[(Int, Long, Long, Long, Long, Double)] =
    locatePcm(bytes) match {
      case Some((channels, 8, dataOff, n)) =>
        reducePcm(bytes, channels, 8, dataOff, n)
      case _ => Vector.empty
    }

  /** Bit-depth-dispatching audio decode: ONE RIFF walk per payload —
    * dispatch and decode share the located (channels, bits, dataOff, n)
    * tuple — covering 8- AND 16-bit integer PCM (the production
    * front-end shape, [[decodeWavPcm16]]/[[decodeWavPcm8]] per branch). */
  def decodeWavPcmAnyDepth(bytes: Array[Byte])
      : IndexedSeq[(Int, Long, Long, Long, Long, Double)] =
    locatePcm(bytes) match {
      case Some((channels, bits, dataOff, n)) =>
        reducePcm(bytes, channels, bits, dataOff, n)
      case None => Vector.empty
    }

  /** Batch bit-depth-dispatching audio decode: one row per (payload,
    * channel) — a native array-expression projection since round 11
    * (`explode(wav_features(blob))`, no Dataset-encoder boundary). */
  def extractAudioFeaturesAnyDepth(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[AudioFeatureRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.wavAnyDepthCol).as[AudioFeatureRow]
  }

  /** Batch windowed-audio decode (see [[decodeWavPcm16Windows]]) — a
    * native array-expression projection since round 11. */
  def extractAudioWindows(df: DataFrame, idCol: String,
      blobCol: String = "blob", windowFrames: Int = 25)
      : Dataset[AudioWindowRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.wavWindowsCol(_, windowFrames))
      .as[AudioWindowRow]
  }

  /** Shared tail of the array-kernel extractors (round 11): id +
    * `explode(array-of-structs kernel)` → one output row per element.
    * `explode` IS the Generate barrier of [[barrierExtract]] — the
    * kernel runs once per input row, undecodable payloads yield an
    * EMPTY array and vanish without a filter, and the whole projection
    * stays inside Tungsten (no Dataset-encoder boundary). */
  private def explodeExtract(df: DataFrame, idCol: String,
      blobCol: String, features: Column => Column): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        explode(features(col(blobCol))).as("f"))
      .select(col("doc_id"), col("f.*"))

  /** MSB-first bit reader over a byte array — the FLAC bitstream shape
    * (frames and subframes are bit-packed; only frame boundaries are
    * byte-aligned). Every read returns a sentinel on starvation
    * (`Long.MinValue` / -1) and consumers abort the decode — the same
    * never-throw contract as [[JpegBitReader]]. */
  private final class FlacBitReader(bytes: Array[Byte]) {
    var pos: Int = 0      // next byte
    private var bit = 0   // bits consumed in bytes(pos)
    def bitPosition: Long = pos.toLong * 8 + bit
    def atEnd: Boolean = pos >= bytes.length
    def readBit(): Int = {
      if (pos >= bytes.length) return -1
      val v = (bytes(pos) >> (7 - bit)) & 1
      bit += 1
      if (bit == 8) { bit = 0; pos += 1 }
      v
    }
    /** n ≤ 63 bits, unsigned. Long.MinValue on starve. */
    def readBits(n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) {
        val b = readBit(); if (b < 0) return Long.MinValue
        v = (v << 1) | b; i += 1
      }
      v
    }
    /** n ≤ 32 bits, two's-complement signed. Long.MinValue on starve. */
    def readSigned(n: Int): Long = {
      if (n == 0) return 0L
      val u = readBits(n)
      if (u == Long.MinValue) return Long.MinValue
      (u << (64 - n)) >> (64 - n)
    }
    /** Zero-run unary (count 0s until the terminating 1). -1 on starve;
      * capped so adversarial all-zero tails cannot spin. */
    def readUnary(cap: Int = 1 << 20): Int = {
      var q = 0
      while (q <= cap) {
        val b = readBit(); if (b < 0) return -1
        if (b == 1) return q
        q += 1
      }
      -1
    }
    def align(): Unit = if (bit != 0) { bit = 0; pos += 1 }
  }

  /** FIXED-prediction coefficient rows, order 0-4 (the binomial
    * differences the FLAC format defines). */
  private val FlacFixedCoefs: Array[Array[Long]] = Array(
    Array(), Array(1L), Array(2L, -1L), Array(3L, -3L, 1L),
    Array(4L, -6L, 4L, -1L))

  /** REAL FLAC sample decode (round 10) — the compressed-audio twin of
    * [[decodeWavPcm16]], closing the audit's `flac → no_codec` gap: a
    * FLAC stream is rice-coded linear prediction, which is pure int64
    * arithmetic — no codec library needed. Supported: every subframe
    * type of the format (CONSTANT, VERBATIM, FIXED orders 0-4, LPC
    * orders 1-32), both rice residual methods (4- and 5-bit params)
    * including escaped raw partitions, all partition orders, wasted
    * bits, every channel assignment (independent 1-8, left/side,
    * right/side, mid/side — side channels carry the +1 sample-size
    * bit), streaminfo-coded and inline block size / sample size, and
    * multi-frame streams. Bits-per-sample 8/12/16/20/24.
    *
    * Deliberate scope: header CRC-8 and frame CRC-16 are parsed but not
    * VERIFIED (the [[decodePngPixels]] chunk-CRC rationale — transport
    * integrity belongs to the container/parquet layer; the in-plan
    * fixture still writes CORRECT CRCs so the emitted stream is legal
    * FLAC end-to-end), and decode is strict about structure: reserved
    * codes, bad sync, subframe overruns or a sample total that
    * disagrees with STREAMINFO all return None (PERMISSIVE).
    *
    * @return (channels, bitsPerSample, per-channel sample arrays) —
    *         interleaved-order channels, each `totalSamples` longs. */
  def decodeFlacPcm(bytes: Array[Byte], maxSamples: Long = 1L << 24)
      : Option[(Int, Int, Array[Array[Long]])] = {
    if (bytes == null || bytes.length < 42) return None
    def u8(i: Int): Int = bytes(i) & 0xff
    if (bytes(0) != 'f' || bytes(1) != 'L' || bytes(2) != 'a' ||
      bytes(3) != 'C') return None
    // STREAMINFO must be first (format requirement)
    if ((u8(4) & 0x7f) != 0 || u8(5) != 0 || u8(6) != 0 || u8(7) != 34)
      return None
    val siSr = (u8(18) << 12) | (u8(19) << 4) | (u8(20) >> 4)
    val siCh = ((u8(20) >> 1) & 7) + 1
    val siBps = (((u8(20) & 1) << 4) | (u8(21) >> 4)) + 1
    val siTotal = ((u8(21) & 0xf).toLong << 32) | (u8(22).toLong << 24) |
      (u8(23).toLong << 16) | (u8(24).toLong << 8) | u8(25).toLong
    if (siSr <= 0 || siTotal <= 0 || siTotal > maxSamples) return None
    if (siBps != 8 && siBps != 12 && siBps != 16 && siBps != 20 &&
      siBps != 24) return None
    if (siTotal * siCh * 8 > Int.MaxValue) return None
    // Anti-bomb: the allocation below is siCh × siTotal longs, sized
    // purely from the 38-byte STREAMINFO header. FLAC cannot code a
    // sample in under ~1 bit, so a payload claiming more samples than
    // 8× its byte length is lying — reject before allocating (the
    // maxPixels discipline of the image decoders applied to audio).
    if (siTotal > bytes.length.toLong * 8L) return None
    // walk metadata blocks to the first frame
    var pos = 4
    var last = false
    while (!last) {
      if (pos + 4 > bytes.length) return None
      last = (u8(pos) & 0x80) != 0
      val len = (u8(pos + 1) << 16) | (u8(pos + 2) << 8) | u8(pos + 3)
      pos += 4 + len
      if (pos > bytes.length) return None
    }
    val out = Array.fill(siCh)(new Array[Long](siTotal.toInt))
    var done = 0L
    val br = new FlacBitReader(bytes)
    br.pos = pos
    while (done < siTotal) {
      // ---- frame header (byte-aligned) ----
      if (br.readBits(14) != 0x3ffe) return None // sync
      if (br.readBit() != 0) return None          // reserved
      if (br.readBit() < 0) return None           // blocking strategy
      // starvation checks on the LONG values (a starved readBits is
      // Long.MinValue, whose .toInt is 0 — compare before narrowing)
      val bsCodeL = br.readBits(4)
      val srCodeL = br.readBits(4)
      val chAsgnL = br.readBits(4)
      val ssCodeL = br.readBits(3)
      if (bsCodeL < 0 || srCodeL < 0 || chAsgnL < 0 || ssCodeL < 0)
        return None
      if (br.readBit() != 0) return None          // reserved
      val bsCode = bsCodeL.toInt
      val srCode = srCodeL.toInt
      val chAsgn = chAsgnL.toInt
      val ssCode = ssCodeL.toInt
      if (srCode == 15 || chAsgn > 10) return None
      // coded frame/sample number: UTF-8-style, 1-7 bytes
      val leadL = br.readBits(8)
      if (leadL < 0) return None
      val lead = leadL.toInt
      var follow =
        if (lead < 0x80) 0
        else if (lead >= 0xc0 && lead < 0xe0) 1
        else if (lead < 0xf0) 2 else if (lead < 0xf8) 3
        else if (lead < 0xfc) 4 else if (lead < 0xfe) 5
        else if (lead == 0xfe) 6 else -1
      if (follow < 0) return None
      while (follow > 0) {
        val c = br.readBits(8)
        if (c < 0x80 || c >= 0xc0) return None // starved MinValue < 0x80
        follow -= 1
      }
      val blockSize: Int = bsCode match {
        case 0 => return None // reserved
        case 1 => 192
        case c if c >= 2 && c <= 5 => 576 << (c - 2)
        case 6 => val v = br.readBits(8); if (v < 0) return None
          v.toInt + 1
        case 7 => val v = br.readBits(16); if (v < 0) return None
          v.toInt + 1
        case c => 256 << (c - 8)
      }
      // inline sample-rate fields are informational — parse and drop
      srCode match {
        case 12 => if (br.readBits(8) < 0) return None
        case 13 | 14 => if (br.readBits(16) < 0) return None
        case _ =>
      }
      val bps: Int = ssCode match {
        case 0 => siBps
        case 1 => 8
        case 2 => 12
        case 4 => 16
        case 5 => 20
        case 6 => 24
        case _ => return None // reserved
      }
      if (bps != siBps) return None // must agree with STREAMINFO
      if (br.readBits(8) < 0) return None // header CRC-8 (not verified)
      val nCh = if (chAsgn < 8) chAsgn + 1 else 2
      if (nCh != siCh) return None
      if (done + blockSize > siTotal) return None
      // ---- subframes ----
      val chans = Array.ofDim[Long](nCh, blockSize)
      var c = 0
      var bad = false
      while (c < nCh && !bad) {
        // side channel carries one extra bit of sample width
        val sbps = bps + (chAsgn match {
          case 8 if c == 1 => 1
          case 9 if c == 0 => 1
          case 10 if c == 1 => 1
          case _ => 0
        })
        bad = !decodeSubframe(br, chans(c), blockSize, sbps)
        c += 1
      }
      if (bad) return None
      br.align()
      if (br.readBits(16) < 0) return None // frame CRC-16 (not verified)
      // ---- inter-channel reconstruction ----
      chAsgn match {
        case 8 => // left/side → right = left − side
          var i = 0
          while (i < blockSize) {
            chans(1)(i) = chans(0)(i) - chans(1)(i); i += 1 }
        case 9 => // right/side → left = right + side
          var i = 0
          while (i < blockSize) {
            chans(0)(i) = chans(1)(i) + chans(0)(i); i += 1 }
        case 10 => // mid/side
          var i = 0
          while (i < blockSize) {
            val s = chans(1)(i)
            val m = (chans(0)(i) << 1) | (s & 1L)
            chans(0)(i) = (m + s) >> 1
            chans(1)(i) = (m - s) >> 1
            i += 1
          }
        case _ =>
      }
      var ch2 = 0
      while (ch2 < nCh) {
        System.arraycopy(chans(ch2), 0, out(ch2), done.toInt, blockSize)
        ch2 += 1
      }
      done += blockSize
    }
    Some((siCh, siBps, out))
  }

  /** One subframe into `dst` (blockSize samples at `bps` bits). False =
    * malformed / starved. */
  private def decodeSubframe(br: FlacBitReader, dst: Array[Long],
      blockSize: Int, bps: Int): Boolean = {
    if (br.readBit() != 0) return false // padding bit
    val tpeL = br.readBits(6)
    if (tpeL < 0) return false
    val tpe = tpeL.toInt
    var wasted = 0
    val wflag = br.readBit()
    if (wflag < 0) return false
    if (wflag == 1) {
      val k = br.readUnary(64)
      if (k < 0) return false
      wasted = k + 1
    }
    val ebps = bps - wasted
    if (ebps <= 0 || ebps > 32) return false
    val ok: Boolean =
      if (tpe == 0) { // CONSTANT
        val v = br.readSigned(ebps)
        if (v == Long.MinValue) false
        else { java.util.Arrays.fill(dst, v); true }
      } else if (tpe == 1) { // VERBATIM
        var i = 0; var good = true
        while (i < blockSize && good) {
          val v = br.readSigned(ebps)
          if (v == Long.MinValue) good = false else { dst(i) = v; i += 1 }
        }
        good
      } else if (tpe >= 8 && tpe <= 12) { // FIXED order 0-4
        val order = tpe - 8
        decodePredicted(br, dst, blockSize, ebps, order,
          FlacFixedCoefs(order), 0)
      } else if (tpe >= 32) { // LPC order 1-32
        val order = tpe - 31
        var good = true
        // qlp precision and shift come AFTER the warmup samples — the
        // format's field order, unlike FIXED where warmup leads straight
        // into residuals
        val warm = new Array[Long](order)
        var i = 0
        while (i < order && good) {
          val v = br.readSigned(ebps)
          if (v == Long.MinValue) good = false else { warm(i) = v; i += 1 }
        }
        if (!good) false
        else {
          val precM1L = br.readBits(4)
          val precM1 = precM1L.toInt
          if (precM1L < 0 || precM1 == 15) false
          else {
            val prec = precM1 + 1
            val shift = br.readSigned(5)
            if (shift == Long.MinValue || shift < 0) false
            else {
              val coefs = new Array[Long](order)
              var j = 0
              var g2 = true
              while (j < order && g2) {
                val cv = br.readSigned(prec)
                if (cv == Long.MinValue) g2 = false
                else { coefs(j) = cv; j += 1 }
              }
              if (!g2) false
              else {
                System.arraycopy(warm, 0, dst, 0, order)
                decodeResidualInto(br, dst, blockSize, order) &&
                  reconstructLpc(dst, blockSize, order, coefs, shift.toInt)
              }
            }
          }
        }
      } else false // reserved type codes
    if (!ok) return false
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { dst(i) <<= wasted; i += 1 }
    }
    true
  }

  /** FIXED-prediction subframe body: warmup + residuals + integer
    * reconstruction (shift 0). */
  private def decodePredicted(br: FlacBitReader, dst: Array[Long],
      blockSize: Int, ebps: Int, order: Int, coefs: Array[Long],
      shift: Int): Boolean = {
    var i = 0
    while (i < order) {
      val v = br.readSigned(ebps)
      if (v == Long.MinValue) return false
      dst(i) = v; i += 1
    }
    decodeResidualInto(br, dst, blockSize, order) &&
      reconstructLpc(dst, blockSize, order, coefs, shift)
  }

  /** Rice-coded residual partitions into dst(order until blockSize). */
  private def decodeResidualInto(br: FlacBitReader, dst: Array[Long],
      blockSize: Int, order: Int): Boolean = {
    val method = br.readBits(2) // starved MinValue fails the gate below
    if (method != 0 && method != 1) return false
    val pbits = if (method == 0) 4 else 5
    val escape = (1 << pbits) - 1
    val poL = br.readBits(4)
    if (poL < 0) return false
    val po = poL.toInt
    val nParts = 1 << po
    if (blockSize % nParts != 0) return false
    val partLen = blockSize >> po
    if (partLen <= 0) return false
    var p = 0
    var idx = order
    while (p < nParts) {
      val n = if (p == 0) partLen - order else partLen
      if (n < 0) return false
      val paramL = br.readBits(pbits)
      if (paramL < 0) return false
      val param = paramL.toInt
      if (param == escape) {
        val rawL = br.readBits(5)
        if (rawL < 0) return false
        val raw = rawL.toInt
        var i = 0
        while (i < n) {
          val v = if (raw == 0) 0L else br.readSigned(raw)
          if (v == Long.MinValue) return false
          dst(idx) = v; idx += 1; i += 1
        }
      } else {
        var i = 0
        while (i < n) {
          val q = br.readUnary()
          if (q < 0) return false
          val rem = br.readBits(param)
          if (rem == Long.MinValue) return false
          val u = (q.toLong << param) | rem
          dst(idx) = (u >>> 1) ^ -(u & 1L) // zigzag → signed
          idx += 1; i += 1
        }
      }
      p += 1
    }
    true
  }

  /** In-place LPC/FIXED reconstruction: dst holds warmup in [0, order)
    * and residuals in [order, blockSize). */
  private def reconstructLpc(dst: Array[Long], blockSize: Int, order: Int,
      coefs: Array[Long], shift: Int): Boolean = {
    var i = order
    while (i < blockSize) {
      var acc = 0L
      var j = 0
      while (j < order) { acc += coefs(j) * dst(i - 1 - j); j += 1 }
      dst(i) += (acc >> shift)
      i += 1
    }
    true
  }

  /** Per-channel feature reduction over decoded FLAC samples — the same
    * peak/Σs²/zero-crossing/RMS profile as [[decodeWavPcm16]], so FLAC
    * and WAV payloads land in one relation downstream. */
  def decodeFlacSamples(bytes: Array[Byte])
      : IndexedSeq[(Int, Long, Long, Long, Long, Double)] =
    decodeFlacPcm(bytes) match {
      case None => Vector.empty
      case Some((channels, _, chans)) =>
        val out = Vector.newBuilder[(Int, Long, Long, Long, Long, Double)]
        var c = 0
        while (c < channels) {
          val s = chans(c)
          val n = s.length
          var peak = 0L; var sumSq = 0L; var zc = 0L
          var prevNeg = false
          var i = 0
          while (i < n) {
            val v = s(i)
            val a = math.abs(v)
            if (a > peak) peak = a
            sumSq += v * v
            val neg = v < 0
            if (i > 0 && neg != prevNeg) zc += 1
            prevNeg = neg
            i += 1
          }
          out += ((c, n.toLong, peak, sumSq, zc,
            math.sqrt(sumSq.toDouble / n)))
          c += 1
        }
        out.result()
    }

  /** Windowed per-channel reduction over decoded FLAC samples — the
    * compressed-audio twin of [[decodeWavPcm16Windows]] (same window
    * cut, same partial-last-window semantics), so FLAC clips fan out to
    * the identical per-window energy relation WAV clips do. */
  def decodeFlacWindows(bytes: Array[Byte], windowFrames: Int)
      : IndexedSeq[(Int, Long, Long, Long, Long, Double)] = {
    require(windowFrames >= 1, "windowFrames must be >= 1")
    decodeFlacPcm(bytes) match {
      case None => Vector.empty
      case Some((channels, _, chans)) =>
        val out = Vector.newBuilder[(Int, Long, Long, Long, Long, Double)]
        var c = 0
        while (c < channels) {
          val s = chans(c)
          val n = s.length
          var w = 0
          while (w.toLong * windowFrames < n) {
            val f0 = w * windowFrames
            val f1 = math.min(f0 + windowFrames, n)
            var peak = 0L; var sumSq = 0L
            var f = f0
            while (f < f1) {
              val v = s(f)
              val a = math.abs(v)
              if (a > peak) peak = a
              sumSq += v * v
              f += 1
            }
            val wn = f1 - f0
            out += ((c, w.toLong, wn.toLong, peak, sumSq,
              math.sqrt(sumSq.toDouble / wn)))
            w += 1
          }
          c += 1
        }
        out.result()
    }
  }

  /** Batch windowed FLAC decode (see [[decodeFlacWindows]]) — a native
    * array-expression projection since round 11. */
  def extractFlacWindows(df: DataFrame, idCol: String,
      blobCol: String = "blob", windowFrames: Int = 25)
      : Dataset[AudioWindowRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.flacWindowsCol(_, windowFrames))
      .as[AudioWindowRow]
  }

  /** Batch FLAC decode: one row per (payload, channel) — the
    * compressed-audio twin of [[extractAudioFeaturesAnyDepth]], a
    * native array-expression projection since round 11. */
  def extractFlacFeatures(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[AudioFeatureRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol, graft.plans.MediaExprs.flacCol)
      .as[AudioFeatureRow]
  }

  /** One decoded BMP image's features (see [[extractImageFeatures]]):
    * exact per-channel sums, position-weighted checksums (weight = x + y·w
    * over TOP-DOWN image coordinates — order-sensitive, so a bottom-up or
    * stride mistake cannot hide inside an order-independent sum), and
    * per-channel means as IEEE-double single divisions. */
  final case class ImageFeatureRow(doc_id: Long, width: Long, height: Long,
      n_px: Long, sum_b: Long, sum_g: Long, sum_r: Long,
      wsum_b: Long, wsum_g: Long, wsum_r: Long,
      mean_b: Double, mean_g: Double, mean_r: Double)

  /** REAL image payload decode — the raster twin of [[decodeWavPcm16]]
    * (round 7; no codec library needed: uncompressed 24-bit BMP is pure
    * byte arithmetic, and it carries the two layout quirks that make a
    * "real" decoder real: rows are padded to 4-byte STRIDE boundaries,
    * and rows are stored BOTTOM-UP for positive heights). Parses the
    * BITMAPFILEHEADER (pixel-array offset at bytes 10..13 LE32) +
    * BITMAPINFOHEADER (width/height signed LE32 at 18/22, planes=1,
    * bpp=24 LE16 at 28, compression=0/BI_RGB LE32 at 30), then walks
    * pixels in TOP-DOWN image order, mapping (x, y) to file offset
    * `dataOff + (h−1−y)·stride + 3x` for bottom-up storage (positive
    * height) or `dataOff + y·stride + 3x` for top-down (NEGATIVE height
    * — both storage orders of the signed-height spec are handled), and
    * reading B, G, R channel bytes (BMP stores BGR). Truncated pixel
    * arrays and other bpp/compression decode to None. */
  /** Shared front half of the BMP decoders: header parse + format gate.
    * Returns (width, |height|, dataOff, stride, topDown). */
  private def locateBmp24(bytes: Array[Byte])
      : Option[(Int, Int, Int, Int, Boolean)] = {
    if (bytes == null || bytes.length < 54) return None
    def u8(i: Int): Int = bytes(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    if (bytes(0) != 'B' || bytes(1) != 'M') return None
    val dataOff = le32(10)
    val w = le32(18).toInt // signed in spec
    // height is SIGNED: negative means top-down row order (no flip);
    // normalize to |h| here and expose the order flag via [[bmpTopDown]]
    val hRaw = le32(22).toInt
    val h = math.abs(hRaw)
    val bpp = le16(28)
    val compression = le32(30)
    if (w <= 0 || hRaw == 0 || hRaw == Int.MinValue || bpp != 24 ||
      compression != 0) return None
    // stride arithmetic in LONG: an adversarial 2^30-ish width overflows
    // a 32-bit 3·w to a NEGATIVE stride that slips past the length gate
    // and crashes the pixel walk (caught by the round-7 fuzz spec). The
    // gate below then also proves stride and every offset fit in Int.
    val stride = ((3L * w + 3L) / 4L) * 4L
    if (dataOff < 0 || dataOff + h.toLong * stride > bytes.length)
      return None
    Some((w, h, dataOff.toInt, stride.toInt, hRaw < 0))
  }

  def decodeBmp24(bytes: Array[Byte]): Option[ImageFeatureRow] = {
    val (w, h, dataOff, stride, topDown) = locateBmp24(bytes) match {
      case None => return None
      case Some(t) => t
    }
    def u8(i: Int): Int = bytes(i) & 0xff
    val sums = new Array[Long](3)
    val wsums = new Array[Long](3)
    var y = 0
    while (y < h) {
      // bottom-up unless the (negative-height) top-down flag is set
      val rowOff = dataOff.toInt +
        (if (topDown) y else h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val p = rowOff + 3 * x
        val weight = (x + y.toLong * w)
        var c = 0
        while (c < 3) {
          val v = u8(p + c).toLong
          sums(c) += v
          wsums(c) += weight * v
          c += 1
        }
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    Some(ImageFeatureRow(0L, w.toLong, h.toLong, n,
      sums(0), sums(1), sums(2), wsums(0), wsums(1), wsums(2),
      sums(0).toDouble / n, sums(1).toDouble / n, sums(2).toDouble / n))
  }

  /** Batch IMAGE decode: one row per decodable 24-bit BMP payload — a
    * native expression projection since round 11 (the struct shape of
    * [[extractPngFeatures]], BGR channel order). */
  def extractImageFeatures(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[ImageFeatureRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    barrierExtract(df, idCol, blobCol, graft.plans.MediaExprs.bmpCol)
      .as[ImageFeatureRow]
  }

  /** One decoded image PATCH's features (see [[extractImagePatches]]). */
  final case class ImagePatchRow(doc_id: Long, patch_x: Long, patch_y: Long,
      n_px: Long, sum_b: Long, sum_g: Long, sum_r: Long,
      mean_b: Double, mean_g: Double, mean_r: Double)

  /** Patch extraction over real BMP pixel decode — the ViT-style access
    * pattern (image → grid of fixed patches → per-patch features). The
    * grid is `ceil(w/patch) × ceil(h/patch)` in TOP-DOWN image
    * coordinates; edge patches are PARTIAL and report their true pixel
    * count (a training pipeline then crops/pads by policy — emitting the
    * honest partial is the decoder's job). One output row per patch,
    * exploded row-locally like [[sampleChunks]] — no shuffle; a 100 TB
    * image corpus becomes a patch relation in one scan. */
  def decodeBmp24Patches(bytes: Array[Byte], patch: Int)
      : IndexedSeq[(Int, Int, Long, Array[Long])] = {
    require(patch >= 1, "patch must be >= 1")
    val (w, h, dataOff, stride, topDown) = locateBmp24(bytes) match {
      case None => return Vector.empty
      case Some(t) => t
    }
    def u8(i: Int): Int = bytes(i) & 0xff
    val out = Vector.newBuilder[(Int, Int, Long, Array[Long])]
    var py = 0
    while (py * patch < h) {
      var px = 0
      while (px * patch < w) {
        val x1 = math.min(px * patch + patch, w)
        val y1 = math.min(py * patch + patch, h)
        val sums = new Array[Long](3)
        var y = py * patch
        while (y < y1) {
          val rowOff = dataOff +
            (if (topDown) y else h - 1 - y) * stride
          var x = px * patch
          while (x < x1) {
            val p = rowOff + 3 * x
            sums(0) += u8(p); sums(1) += u8(p + 1); sums(2) += u8(p + 2)
            x += 1
          }
          y += 1
        }
        val n = (x1 - px * patch).toLong * (y1 - py * patch)
        out += ((px, py, n, sums))
        px += 1
      }
      py += 1
    }
    out.result()
  }

  /** Batch patch extraction (see [[decodeBmp24Patches]]) — a native
    * array-expression projection since round 11. */
  def extractImagePatches(df: DataFrame, idCol: String,
      blobCol: String = "blob", patch: Int = 2): Dataset[ImagePatchRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.bmpPatchesCol(_, patch)).as[ImagePatchRow]
  }

  /** Batch AUDIO decode: one row per (payload, channel) with the
    * [[decodeWavPcm16]] stats — a native array-expression projection
    * since round 11 (swapping in a compressed-codec library later only
    * widens the format dispatch, the plan shape is final). */
  def extractAudioFeatures(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[AudioFeatureRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol, graft.plans.MediaExprs.wav16Col)
      .as[AudioFeatureRow]
  }

  object FeatureExtractor {
    val FeatureDim = 8

    /** Content-agnostic BYTE-LEVEL featurizer: mean byte value + an
      * 8-bucket byte histogram. Not a decode and not a stub — its job
      * is format-agnostic content statistics (entropy-ish
      * fingerprinting, corruption drift monitoring) that apply to
      * payloads no codec claims; format-specific pixel/sample decode
      * lives in the real decoders ([[decodePngFeatures]],
      * [[decodeJpegFeatures]], [[decodeWavPcm16]], …). Backs
      * [[graft.plans.ByteStats]] / the `mm_features` oracle query. */
    def byteStats(bytes: Array[Byte]): (Double, Array[Float]) = {
      if (bytes.isEmpty) return (0.0, new Array[Float](FeatureDim))
      var sum = 0L
      val hist = new Array[Long](FeatureDim)
      var i = 0
      while (i < bytes.length) {
        val b = bytes(i) & 0xff
        sum += b
        hist(b % FeatureDim) += 1
        i += 1
      }
      val feats = new Array[Float](FeatureDim)
      i = 0
      while (i < FeatureDim) {
        feats(i) = hist(i).toFloat / bytes.length; i += 1
      }
      (sum.toDouble / bytes.length, feats)
    }
  }

  /** One decoded raster image's features (PNG via
    * [[extractPngFeatures]], GIF via [[extractGifFeatures]]). */
  final case class RasterFeatureRow(doc_id: Long, width: Long, height: Long,
      channels: Long, n_px: Long, sum_r: Long, sum_g: Long, sum_b: Long,
      wsum_r: Long, wsum_g: Long, wsum_b: Long,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Shared per-channel feature reduction over a decoded top-down
    * raster: sums, position-weighted checksums (top-down coordinates —
    * row-order mistakes can't hide in an order-independent sum, the
    * [[decodeBmp24]] discipline) and means. 1-channel rasters replicate
    * into r=g=b; 4-channel (RGBA) ignores alpha in the features. */
  private[graft] def rasterFeatures(w: Int, h: Int, ch: Int,
      px: Array[Byte]): RasterFeatureRow = {
    val sums = new Array[Long](3)
    val wsums = new Array[Long](3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val base = (y * w + x) * ch
        val weight = x + y.toLong * w
        var c = 0
        while (c < 3) {
          val v = (px(base + (if (ch == 1) 0 else c)) & 0xff).toLong
          sums(c) += v
          wsums(c) += weight * v
          c += 1
        }
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    RasterFeatureRow(0L, w.toLong, h.toLong, ch.toLong, n,
      sums(0), sums(1), sums(2), wsums(0), wsums(1), wsums(2),
      sums(0).toDouble / n, sums(1).toDouble / n, sums(2).toDouble / n)
  }

  /** REAL PNG pixel decode — no codec library needed: zlib inflate is
    * `java.util.zip.Inflater` (in the JVM since 1.1) and scanline
    * un-filtering (None/Sub/Up/Average/Paeth, RFC 2083 §6.2-6.6) is pure
    * byte arithmetic. Supported: non-interlaced 8-bit-depth color types
    * 0 (grayscale, 1 channel), 2 (RGB, 3), 6 (RGBA, 4); anything else →
    * None — the PERMISSIVE contract of the other real decoders
    * ([[decodeWavPcm16]], [[decodeBmp24]]).
    *
    * Deliberate scope choices: chunk CRCs are NOT verified (the adler32
    * INSIDE the zlib stream — which [[java.util.zip.Inflater]] does
    * verify — already covers the pixel data; chunk CRCs guard transport,
    * which parquet checksums anyway), and inflate output is written into
    * a raster-sized buffer with a `maxPixels` gate on the header's
    * declared w·h — a deflate bomb can never allocate past the declared
    * raster, and an adversarial header fails the gate (same overflow
    * discipline as [[locateBmp24]]'s stride arithmetic).
    *
    * @return (width, height, channels, top-down raster of w·h·channels
    *         bytes) or None for anything undecodable. */
  def decodePngPixels(bytes: Array[Byte], maxPixels: Long = 1L << 24)
      : Option[(Int, Int, Int, Array[Byte])] = {
    if (bytes == null || bytes.length < 45) return None
    def u8(i: Int): Int = bytes(i) & 0xff
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    var s = 0
    while (s < 8) { if (u8(s) != sig(s)) return None; s += 1 }
    def be32(i: Int): Long = (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) |
      (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    // IHDR is required first (RFC 2083 §4.1.1)
    if (be32(8) != 13L || bytes(12) != 'I' || bytes(13) != 'H' ||
      bytes(14) != 'D' || bytes(15) != 'R') return None
    val w = be32(16)
    val h = be32(20)
    val bitDepth = u8(24)
    val colorType = u8(25)
    if (w <= 0 || h <= 0 || bitDepth != 8 ||
      u8(26) != 0 || u8(27) != 0 || u8(28) != 0) return None
    val ch = colorType match {
      case 0 => 1
      case 2 => 3
      case 6 => 4
      case _ => return None
    }
    if (w * h > maxPixels || w * ch + 1 > Int.MaxValue / math.max(h, 1))
      return None
    val idat = new java.io.ByteArrayOutputStream()
    var off = 33
    var ended = false
    while (!ended && off + 8 <= bytes.length) {
      val len = be32(off)
      if (off + 12 + len > bytes.length) return None // truncated chunk
      val isIdat = bytes(off + 4) == 'I' && bytes(off + 5) == 'D' &&
        bytes(off + 6) == 'A' && bytes(off + 7) == 'T'
      val isIend = bytes(off + 4) == 'I' && bytes(off + 5) == 'E' &&
        bytes(off + 6) == 'N' && bytes(off + 7) == 'D'
      if (isIdat) idat.write(bytes, off + 8, len.toInt)
      if (isIend) ended = true
      off += 12 + len.toInt
    }
    if (!ended || idat.size == 0) return None
    val wi = w.toInt
    val hi = h.toInt
    val stride = 1 + wi * ch
    val raw = new Array[Byte](hi * stride)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var got = 0
      var stalled = false
      while (got < raw.length && !inf.finished() && !stalled) {
        val n = inf.inflate(raw, got, raw.length - got)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          stalled = true // truncated or preset-dictionary stream
        got += n
      }
      if (got < raw.length) return None
      // drive the stream to its end even though the raster is full:
      // the adler32 trailer is only VERIFIED when zlib reaches it (a
      // corrupted checksum must reject, and a stream that inflates past
      // the header-declared raster is malformed, not silently cropped)
      val probe = new Array[Byte](1)
      while (!inf.finished() && !stalled) {
        val n = inf.inflate(probe, 0, 1)
        if (n > 0) return None // longer than the declared raster
        if (inf.needsInput() || inf.needsDictionary()) stalled = true
      }
      if (!inf.finished()) return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()
    // un-filter scanlines (predictors over RECONSTRUCTED neighbors)
    val rowLen = wi * ch
    val out = new Array[Byte](hi * rowLen)
    val bpp = ch
    var y = 0
    while (y < hi) {
      val f = raw(y * stride) & 0xff
      if (f > 4) return None
      var x = 0
      while (x < rowLen) {
        val cur = raw(y * stride + 1 + x) & 0xff
        val a = if (x >= bpp) out(y * rowLen + x - bpp) & 0xff else 0
        val b = if (y > 0) out((y - 1) * rowLen + x) & 0xff else 0
        val c =
          if (x >= bpp && y > 0) out((y - 1) * rowLen + x - bpp) & 0xff
          else 0
        val pred = f match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2 // floor of the true average (§6.5)
          case 4 => // Paeth predictor (§6.6) — tie order a, b, c
            val p = a + b - c
            val pa = math.abs(p - a)
            val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        out(y * rowLen + x) = ((cur + pred) & 0xff).toByte
        x += 1
      }
      y += 1
    }
    Some((wi, hi, ch, out))
  }

  /** PNG features via [[rasterFeatures]] over [[decodePngPixels]]. */
  def decodePngFeatures(bytes: Array[Byte]): Option[RasterFeatureRow] =
    decodePngPixels(bytes).map { case (w, h, ch, px) =>
      rasterFeatures(w, h, ch, px)
    }

  /** The raster decoders as NATIVE Catalyst expressions (round 10 —
    * the [[graft.plans.TextSignalsKernel]] pattern): `blob → features
    * struct` in one whole-stage-codegen'd projection; NULL = not
    * decodable. The round-9 `mapPartitions` formulation paid a
    * Dataset-encoder boundary (DeserializeToObject → MapPartitions →
    * SerializeFromObject) per decoder — these stay inside Tungsten. */
  def pngFeaturesCol(blob: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.PngFeatures(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(blob)))

  def gifFeaturesCol(blob: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.GifFeatures(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(blob)))

  def jpegFeaturesCol(blob: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.JpegFeatures(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(blob)))

  def mediaAuditCol(blob: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.MediaAudit(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(blob)))

  /** Shared tail of the raster extractors: id + struct → typed rows,
    * undecodable payloads filtered in-stage. The struct goes through
    * `explode(array(…))` — a Generate output is an optimizer barrier,
    * so the decodability filter CANNOT be alias-substituted and pushed
    * back down into a second kernel evaluation (a bare
    * `select(f).filter(isNotNull(f))` decodes every blob TWICE: once in
    * the pushed-down predicate, once in the projection — measured, and
    * pinned by the eval-count spec). One decode per row. */
  private def barrierExtract(df: DataFrame, idCol: String,
      blobCol: String, features: Column => Column): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        explode(array(features(col(blobCol)))).as("f"))
      .filter(col("f").isNotNull)
      .select(col("doc_id"), col("f.*"))

  private def rasterExtract(df: DataFrame, idCol: String, blobCol: String,
      features: Column => Column): Dataset[RasterFeatureRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    barrierExtract(df, idCol, blobCol, features).as[RasterFeatureRow]
  }

  /** Batch PNG decode: one row per decodable payload — a native
    * expression projection since round 10 (plan-shape spec-pinned). */
  def extractPngFeatures(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[RasterFeatureRow] =
    rasterExtract(df, idCol, blobCol, pngFeaturesCol)

  /** REAL GIF pixel decode — like [[decodePngPixels]], no codec library
    * needed: GIF's only compression is LZW (GIF87a Appendix C /
    * GIF89a §22), which is ~60 lines of table-building byte arithmetic;
    * perceptual-codec SAMPLE decode (MP3 audio, MP4 video tracks)
    * remains the honest library boundary — both get real metadata
    * walks instead ([[mp3MetaJvm]], [[mp4TracksJvm]]). Supported: the
    * FIRST image of a GIF87a/GIF89a stream, interlaced or not (the
    * 8/8/4/2 four-pass row reordering — the JDK's own writer interlaces
    * by default), rendered through its local-else-global color table
    * into a top-down RGB raster. Sub-rect frames composite onto the
    * logical screen filled with the background color. Extension blocks
    * are skipped (an animation decodes as frame 1). Anything else —
    * truncation, a code past the table, a missing color table, an
    * over-`maxPixels` screen — returns None (the PERMISSIVE contract).
    *
    * LZW specifics kept faithful: variable code width starting at
    * minCodeSize+1, LSB-first bit packing across sub-block boundaries,
    * CLEAR resets table and width, the KwKwK self-reference case, width
    * growth capped at 12 bits (table full → only literals/CLEAR/EOI
    * legal until a CLEAR). */
  def decodeGifPixels(bytes: Array[Byte], maxPixels: Long = 1L << 24)
      : Option[(Int, Int, Array[Byte])] = {
    if (bytes == null || bytes.length < 14) return None
    def u8(i: Int): Int = bytes(i) & 0xff
    val magic = new String(bytes, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (magic != "GIF87a" && magic != "GIF89a") return None
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    val sw = le16(6)
    val sh = le16(8)
    // Second conjunct mirrors decodePngPixels' stride guard: the RGB
    // buffer and (y*sw+x)*3 indexing use Int arithmetic, so a
    // caller-raised maxPixels must not admit sw*sh*3 > Int.MaxValue.
    if (sw <= 0 || sh <= 0 || sw.toLong * sh > maxPixels ||
        sw.toLong * sh * 3 > Int.MaxValue) return None
    val packed = u8(10)
    val bgIndex = u8(11)
    var off = 13
    val global: Option[Array[Byte]] =
      if ((packed & 0x80) != 0) {
        val n = 3 * (1 << ((packed & 0x07) + 1))
        if (off + n > bytes.length) return None
        val t = java.util.Arrays.copyOfRange(bytes, off, off + n)
        off += n
        Some(t)
      } else None
    // walk blocks to the first image descriptor
    while (off < bytes.length && u8(off) == 0x21) { // extension
      off += 2 // introducer + label
      while (off < bytes.length && u8(off) != 0) {
        off += 1 + u8(off)
      }
      if (off >= bytes.length) return None
      off += 1 // sub-block terminator
    }
    if (off >= bytes.length || u8(off) != 0x2c) return None
    if (off + 10 > bytes.length) return None
    val ix = le16(off + 1)
    val iy = le16(off + 3)
    val iw = le16(off + 5)
    val ih = le16(off + 7)
    val ipacked = u8(off + 9)
    off += 10
    // interlace (bit 6) is a pure ROW REORDERING — four passes at
    // strides 8/8/4/2 (GIF89a §20); the JDK's own writer interlaces by
    // default, so this path is exercised by the ImageIO cross-check
    val interlaced = (ipacked & 0x40) != 0
    if (iw <= 0 || ih <= 0 || ix + iw > sw || iy + ih > sh) return None
    val palette: Array[Byte] =
      if ((ipacked & 0x80) != 0) {
        val n = 3 * (1 << ((ipacked & 0x07) + 1))
        if (off + n > bytes.length) return None
        val t = java.util.Arrays.copyOfRange(bytes, off, off + n)
        off += n
        t
      } else global.getOrElse(return None)
    val nColors = palette.length / 3
    if (off >= bytes.length) return None
    val mcs = u8(off)
    off += 1
    if (mcs < 2 || mcs > 8) return None // GIF roots are palette indices
    // concatenate the LZW sub-blocks
    val data = new java.io.ByteArrayOutputStream()
    var term = false
    while (!term && off < bytes.length) {
      val len = u8(off)
      off += 1
      if (len == 0) term = true
      else {
        if (off + len > bytes.length) return None
        data.write(bytes, off, len)
        off += len
      }
    }
    if (!term) return None
    // LZW decode to pixel indices
    val idx = lzwDecode(data.toByteArray, mcs, iw * ih)
      .getOrElse(return None)
    // composite onto the logical screen, background-filled from the
    // GLOBAL table (the background index is defined against it; absent
    // or out of range → black, the conventional fallback)
    val out = new Array[Byte](sw * sh * 3)
    global.foreach { g =>
      if (bgIndex < g.length / 3) {
        var p = 0
        while (p < sw * sh) {
          out(p * 3) = g(bgIndex * 3)
          out(p * 3 + 1) = g(bgIndex * 3 + 1)
          out(p * 3 + 2) = g(bgIndex * 3 + 2)
          p += 1
        }
      }
    }
    val rowMap: Int => Int =
      if (!interlaced) identity
      else {
        val order = new Array[Int](ih)
        var r = 0
        for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2));
             y <- start until ih by step) {
          order(r) = y; r += 1
        }
        order(_)
      }
    var j = 0
    while (j < iw * ih) {
      val ci = idx(j) & 0xff
      if (ci >= nColors) return None
      val x = ix + j % iw
      val y = iy + rowMap(j / iw)
      val p = (y * sw + x) * 3
      out(p) = palette(ci * 3)
      out(p + 1) = palette(ci * 3 + 1)
      out(p + 2) = palette(ci * 3 + 2)
      j += 1
    }
    Some((sw, sh, out))
  }

  /** GIF-flavor LZW decode of `n` pixel indices: variable-width codes
    * LSB-first, CLEAR/EOI, 12-bit cap. None on any malformation —
    * truncated stream, code beyond the table, EOI before `n` indices. */
  private def lzwDecode(data: Array[Byte], minCodeSize: Int,
      n: Int): Option[Array[Byte]] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    // dictionary as (prefix code, appended byte); entries < clear are
    // roots. Expansion walks prefixes — depth bounded by entry count.
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var tableSize = eoi + 1
    var width = minCodeSize + 1
    val out = new Array[Byte](n)
    var produced = 0
    var bitPos = 0
    val totalBits = data.length * 8
    var prev = -1
    def readCode(): Int = {
      if (bitPos + width > totalBits) return -1
      var v = 0
      var i = 0
      while (i < width) {
        val b = bitPos + i
        if ((data(b >> 3) >> (b & 7) & 1) != 0) v |= 1 << i
        i += 1
      }
      bitPos += width
      v
    }
    def expand(code: Int): Boolean = {
      // write entry `code`'s byte string into out (suffix chain walks
      // backwards, so fill right-to-left)
      var len = 0
      var c = code
      while (c >= clear) { len += 1; c = prefix(c) }
      len += 1
      if (produced + len > n) return false
      var w = produced + len - 1
      c = code
      while (c >= clear) { out(w) = suffix(c); w -= 1; c = prefix(c) }
      out(w) = c.toByte
      produced += len
      true
    }
    def firstByte(code: Int): Int = {
      var c = code
      while (c >= clear) c = prefix(c)
      c
    }
    while (produced < n) {
      val code = readCode()
      if (code < 0 || code == eoi) return None // underflow
      if (code == clear) {
        tableSize = eoi + 1
        width = minCodeSize + 1
        prev = -1
      } else if (prev < 0) {
        if (code >= clear) return None // first code must be a root
        out(produced) = code.toByte
        produced += 1
        prev = code
      } else if (code < tableSize) {
        if (!expand(code)) return None
        if (tableSize < 4096) {
          prefix(tableSize) = prev
          suffix(tableSize) = firstByte(code).toByte
          tableSize += 1
          if (tableSize == (1 << width) && width < 12) width += 1
        }
        prev = code
      } else if (code == tableSize && tableSize < 4096) {
        // KwKwK: new entry = prev + firstByte(prev)
        val fb = firstByte(prev)
        prefix(tableSize) = prev
        suffix(tableSize) = fb.toByte
        tableSize += 1
        if (!expand(tableSize - 1)) return None
        if (tableSize == (1 << width) && width < 12) width += 1
        prev = tableSize - 1
      } else return None // code beyond the table
    }
    Some(out)
  }

  /** TIFF-variant LZW (round 13) — the GIF machinery with TIFF's three
    * deltas (TIFF6 §13): codes are packed MSB-FIRST, the code size is
    * fixed at 8-bit roots (Clear=256, EOI=257, first entry 258), and
    * the code width increments EARLY — when the table reaches
    * 2^width − 1, one code before the GIF rule (the historic libtiff
    * off-by-one that became the spec). Decodes exactly `n` bytes from
    * `data[off, off+len)`; None on any violation. */
  private[graft] def lzwDecodeTiff(data: Array[Byte], off: Int, len: Int,
      n: Int): Option[Array[Byte]] = {
    val clear = 256
    val eoi = 257
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var tableSize = eoi + 1
    var width = 9
    val out = new Array[Byte](n)
    var produced = 0
    var bitPos = off * 8
    val totalBits = (off + len) * 8
    var prev = -1
    def readCode(): Int = {
      if (bitPos + width > totalBits) return -1
      var v = 0
      var i = 0
      while (i < width) {
        val b = bitPos + i
        v = (v << 1) | ((data(b >> 3) >> (7 - (b & 7))) & 1)
        i += 1
      }
      bitPos += width
      v
    }
    def expand(code: Int): Boolean = {
      var l = 0
      var c = code
      while (c >= clear) { l += 1; c = prefix(c) }
      l += 1
      if (produced + l > n) return false
      var w = produced + l - 1
      c = code
      while (c >= clear) { out(w) = suffix(c); w -= 1; c = prefix(c) }
      out(w) = c.toByte
      produced += l
      true
    }
    def firstByte(code: Int): Int = {
      var c = code
      while (c >= clear) c = prefix(c)
      c
    }
    def bumpEarly(): Unit =
      if (tableSize == (1 << width) - 1 && width < 12) width += 1
    while (produced < n) {
      val code = readCode()
      if (code < 0 || code == eoi) return None // underflow
      if (code == clear) {
        tableSize = eoi + 1
        width = 9
        prev = -1
      } else if (prev < 0) {
        if (code >= clear) return None // first code must be a root
        out(produced) = code.toByte
        produced += 1
        prev = code
      } else if (code < tableSize) {
        if (!expand(code)) return None
        if (tableSize < 4096) {
          prefix(tableSize) = prev
          suffix(tableSize) = firstByte(code).toByte
          tableSize += 1
          bumpEarly()
        }
        prev = code
      } else if (code == tableSize && tableSize < 4096) {
        // KwKwK: new entry = prev + firstByte(prev)
        val fb = firstByte(prev)
        prefix(tableSize) = prev
        suffix(tableSize) = fb.toByte
        tableSize += 1
        if (!expand(tableSize - 1)) return None
        bumpEarly()
        prev = tableSize - 1
      } else return None // code beyond the table
    }
    Some(out)
  }

  /** PackBits (round 13) — TIFF compression 32773, the scanned-document
    * default (TIFF6 §9, the classic Mac run-length scheme): a signed
    * control byte n per run — 0..127 copies n+1 literal bytes,
    * -1..-127 repeats the next byte 1-n times, -128 is a no-op.
    * Decodes exactly `need` bytes from `data[off, off+len)`; None on
    * truncation or overrun (a corrupt stream must not silently yield
    * short pixels). */
  private[graft] def packBitsDecode(data: Array[Byte], off: Int, len: Int,
      need: Int): Option[Array[Byte]] = {
    val out = new Array[Byte](need)
    var i = off
    val end = off + len
    var w = 0
    while (w < need) {
      if (i >= end) return None
      val n = data(i)
      i += 1
      if (n >= 0) {
        val cnt = n + 1
        if (i + cnt > end || w + cnt > need) return None
        System.arraycopy(data, i, out, w, cnt)
        i += cnt
        w += cnt
      } else if (n != -128) {
        val cnt = 1 - n
        if (i >= end || w + cnt > need) return None
        java.util.Arrays.fill(out, w, w + cnt, data(i))
        i += 1
        w += cnt
      } // -128: no-op
    }
    Some(out)
  }

  /** Zlib inflate (round 13) — TIFF compression 8 (Adobe Deflate, the
    * TechNote 2 / de-facto standard) and its legacy alias 32946: a
    * zlib-wrapped deflate stream per strip. Decodes exactly `need`
    * bytes from `data[off, off+len)`; None on truncation, a stream
    * that regenerates short/long, or a zlib error (a corrupt strip
    * must not silently yield short pixels — the Inflater verifies the
    * Adler-32 trailer on `finished()`). */
  private[graft] def inflateZlib(data: Array[Byte], off: Int, len: Int,
      need: Int): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data, off, len)
      val out = new Array[Byte](need)
      var w = 0
      while (w < need && !inf.finished()) {
        val n = inf.inflate(out, w, need - w)
        if (n == 0 && !inf.finished()) return None // starved mid-strip
        w += n
      }
      // drain: a conforming strip ends exactly at `need` (one zero-
      // length call lets the Inflater read the Adler trailer)
      if (w == need && !inf.finished()) {
        val extra = inf.inflate(new Array[Byte](1), 0, 1)
        if (extra > 0 || !inf.finished()) return None
      }
      if (w == need) Some(out) else None
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  /** GIF features via [[rasterFeatures]] over [[decodeGifPixels]]. */
  def decodeGifFeatures(bytes: Array[Byte]): Option[RasterFeatureRow] =
    decodeGifPixels(bytes).map { case (w, h, px) =>
      rasterFeatures(w, h, 3, px)
    }

  /** Batch GIF decode: one row per decodable payload — a native
    * expression projection since round 10. */
  def extractGifFeatures(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[RasterFeatureRow] =
    rasterExtract(df, idCol, blobCol, gifFeaturesCol)

  /** Entropy-coded-segment bit reader: MSB-first bits with JPEG byte
    * stuffing (a 0xFF data byte is followed by 0x00 in the stream; any
    * other 0xFF-pair is a real marker and ends bit supply). `readBit`
    * returns -1 when the stream cannot supply (truncation or marker) —
    * every consumer aborts the decode on it, never throws. */
  private final class JpegBitReader(bytes: Array[Byte], start: Int) {
    var pos: Int = start
    private var acc = 0
    private var nbits = 0
    def readBit(): Int = {
      if (nbits == 0) {
        if (pos >= bytes.length) return -1
        var b = bytes(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          if (pos >= bytes.length) return -1
          if ((bytes(pos) & 0xff) == 0x00) pos += 1 // stuffed data 0xFF
          else { pos -= 1; return -1 }              // real marker
        }
        acc = b; nbits = 8
      }
      nbits -= 1
      (acc >> nbits) & 1
    }
    /** n additional bits as an unsigned int, Int.MinValue on starve. */
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) {
        val b = readBit(); if (b < 0) return Int.MinValue
        v = (v << 1) | b; i += 1
      }
      v
    }
    /** Byte-align and consume the expected RSTn marker (n cycles 0-7).
      * An unconsumed stuffed pad byte (an all-ones pad that landed on
      * 0xFF is written FF 00) is skipped first. */
    def expectRst(n: Int): Boolean = {
      nbits = 0
      if (pos + 1 < bytes.length && (bytes(pos) & 0xff) == 0xff &&
        (bytes(pos + 1) & 0xff) == 0x00) pos += 2
      if (pos + 1 >= bytes.length) return false
      if ((bytes(pos) & 0xff) != 0xff ||
        (bytes(pos + 1) & 0xff) != 0xd0 + n) return false
      pos += 2
      true
    }
    /** Byte-align (discarding pad bits) for the post-scan EOI check;
      * same stuffed-pad-byte skip as [[expectRst]]. */
    def align(): Unit = {
      nbits = 0
      if (pos + 1 < bytes.length && (bytes(pos) & 0xff) == 0xff &&
        (bytes(pos + 1) & 0xff) == 0x00) pos += 2
    }
  }

  /** Canonical JPEG Huffman table (ITU T.81 Annex C code assignment,
    * F.16 decode): `counts(l)` codes of length l (1-16), symbols in
    * code order. */
  private final class JpegHuffTable(counts: Array[Int],
      symbols: Array[Int]) {
    private val minCode = new Array[Int](17)
    private val maxCode = Array.fill(17)(-1)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l)
        if (counts(l) > 0) maxCode(l) = code - 1
        k += counts(l)
        code <<= 1
        l += 1
      }
    }
    /** Next symbol, or -1 on starve / 16-bit overrun (malformed). */
    def decode(br: JpegBitReader): Int = {
      var code = 0; var l = 0
      while (l < 16) {
        val b = br.readBit(); if (b < 0) return -1
        code = (code << 1) | b
        l += 1
        if (code <= maxCode(l)) return symbols(valPtr(l) + code - minCode(l))
      }
      -1
    }
  }

  /** Zigzag position → natural (row-major) coefficient index (T.81
    * Figure A.6). */
  private val JpegZigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** IDCT basis: cosTab(x*8+u) = C(u)/2 · cos((2x+1)uπ/16). Two
    * separable passes each carry one 1/2·C factor — together the T.81
    * A.3.3 1/4·C(u)C(v) normalization. */
  private val JpegCosTab: Array[Double] = Array.tabulate(64) { i =>
    val x = i / 8; val u = i % 8
    val c = if (u == 0) math.sqrt(0.5) else 1.0
    0.5 * c * math.cos((2 * x + 1) * u * math.Pi / 16)
  }

  /** T.81 F.12 EXTEND: map `v` (t additional bits) to its signed
    * coefficient value. */
  private def jpegExtend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  /** Dequantized-coefficient 8×8 inverse DCT + level shift, clamped to
    * a byte. The DC term is split out and scaled by an EXACT 0.125 (a
    * power of two), so a DC-ONLY block decodes to precisely
    * `clamp(round(dc·q/8) + 128)` — the closed-form contract the
    * mm_jpeg_features oracle replays in integers; the AC part runs the
    * separable double-precision basis (exactly zero when all ACs are).
    * `coef` is natural order; output row-major into `out` at
    * (ox, oy) with `stride`, cropping at (limW, limH). */
  private def jpegIdctBlock(coef: Array[Int], out: Array[Byte],
      ox: Int, oy: Int, stride: Int, limW: Int, limH: Int): Unit = {
    val dc = coef(0) * 0.125
    val tmp = new Array[Double](64)
    // vertical pass: tmp(r, hf) = Σ_vf cos(r,vf)·F(vf,hf) — natural
    // order is F(vf·8 + hf); the DC term is skipped (handled exactly)
    var hf = 0
    while (hf < 8) {
      var r = 0
      while (r < 8) {
        var s = 0.0
        var vf = 0
        while (vf < 8) {
          val f = coef(vf * 8 + hf)
          if (f != 0 && (vf | hf) != 0) s += JpegCosTab(r * 8 + vf) * f
          vf += 1
        }
        tmp(r * 8 + hf) = s
        r += 1
      }
      hf += 1
    }
    // horizontal pass: f(r, c) = Σ_hf cos(c,hf)·tmp(r,hf)
    var y = 0
    while (y < 8 && oy + y < limH) {
      var x = 0
      while (x < 8 && ox + x < limW) {
        var s = 0.0
        var k = 0
        while (k < 8) {
          val t = tmp(y * 8 + k)
          if (t != 0.0) s += JpegCosTab(x * 8 + k) * t
          k += 1
        }
        val p = math.round(dc + s).toInt + 128
        out((oy + y) * stride + ox + x) =
          (if (p < 0) 0 else if (p > 255) 255 else p).toByte
        x += 1
      }
      y += 1
    }
  }

  /** REAL baseline JPEG pixel decode — the last big no-codec-library
    * frontier after PNG ([[decodePngPixels]]) and GIF
    * ([[decodeGifPixels]]): sequential DCT JPEG (ITU T.81 / JFIF) is
    * canonical Huffman + differential DC + zigzag RLE dequantization +
    * 8×8 IDCT + YCbCr→RGB — pure JVM arithmetic. Supported: SOF0
    * (baseline sequential), 8-bit precision, 1 component (grayscale) or
    * 3 components (YCbCr, any h/v sampling factors 1-4 — chroma
    * upsampling is sample replication), byte stuffing, restart markers
    * (DRI/RSTn with predictor reset), multi-table DQT/DHT segments.
    * Progressive (SOF2) dispatches to [[decodeJpegProgressive]]
    * (round 11); arithmetic coding (SOF9+/DAC), 12-bit, 16-bit quant
    * tables, DNL, and 4-component CMYK → None — the PERMISSIVE
    * contract of the other real decoders.
    *
    * Numerics: the IDCT's DC term is exact ([[jpegIdctBlock]] — a
    * DC-only block is `clamp(round(dc·q/8) + 128)` in closed form, the
    * mm_jpeg_features full-value-oracle hook); general blocks use the
    * double-precision basis (well inside the T.81 Annex A accuracy
    * bound — the ImageIO cross-check spec pins ±1 against the JDK's
    * libjpeg on grayscale). Color conversion is the JFIF/BT.601
    * full-range formula with round-half-up.
    *
    * Same anti-bomb discipline as PNG/GIF: the SOF-declared raster is
    * gated by `maxPixels` AND an Int-stride guard BEFORE any
    * allocation; every allocation is bounded by the declared geometry.
    *
    * @return (width, height, channels ∈ {1, 3}, top-down raster of
    *         w·h·channels bytes) or None for anything undecodable. */
  def decodeJpegPixels(bytes: Array[Byte], maxPixels: Long = 1L << 24)
      : Option[(Int, Int, Int, Array[Byte])] = {
    if (bytes == null || bytes.length < 4) return None
    def u8(i: Int): Int = bytes(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    if (u8(0) != 0xff || u8(1) != 0xd8) return None
    val quant = new Array[Array[Int]](4)    // id → 64 entries, ZIGZAG order
    val dcTab = new Array[JpegHuffTable](4)
    val acTab = new Array[JpegHuffTable](4)
    var dri = 0
    // per-component SOF data: id, h, v, quant-table id
    var compId: Array[Int] = null
    var compH: Array[Int] = null
    var compV: Array[Int] = null
    var compQ: Array[Int] = null
    var width = 0
    var height = 0
    var pos = 2
    var sosAt = -1
    var compDc: Array[Int] = null           // scan: DC table per comp
    var compAc: Array[Int] = null
    while (sosAt < 0) {
      if (pos + 1 >= bytes.length) return None
      if (u8(pos) != 0xff) return None
      while (pos + 1 < bytes.length && u8(pos + 1) == 0xff) pos += 1 // fill
      if (pos + 1 >= bytes.length) return None
      val marker = u8(pos + 1)
      pos += 2
      marker match {
        case 0x01 => // TEM — standalone
        case m if m >= 0xd0 && m <= 0xd7 => // stray RST — standalone
        case 0xd8 | 0xd9 => return None // SOI inside / EOI before scan
        case _ =>
          if (pos + 1 >= bytes.length) return None
          val len = be16(pos)
          if (len < 2 || pos + len > bytes.length) return None
          val end = pos + len
          var p = pos + 2
          marker match {
            case 0xc0 => // SOF0 — baseline sequential
              if (compId != null) return None // second frame header
              if (p + 5 >= end || u8(p) != 8) return None // 8-bit only
              height = be16(p + 1); width = be16(p + 3)
              val nc = u8(p + 5)
              if (width <= 0 || height <= 0 || (nc != 1 && nc != 3))
                return None
              if (width.toLong * height > maxPixels ||
                width.toLong * height * 3 > Int.MaxValue) return None
              if (p + 6 + nc * 3 > end) return None
              compId = new Array[Int](nc); compH = new Array[Int](nc)
              compV = new Array[Int](nc); compQ = new Array[Int](nc)
              var i = 0
              while (i < nc) {
                compId(i) = u8(p + 6 + i * 3)
                val hv = u8(p + 7 + i * 3)
                compH(i) = hv >> 4; compV(i) = hv & 15
                compQ(i) = u8(p + 8 + i * 3)
                if (compH(i) < 1 || compH(i) > 4 || compV(i) < 1 ||
                  compV(i) > 4 || compQ(i) > 3) return None
                i += 1
              }
            case 0xc2 => // SOF2 — progressive DCT (round 11)
              if (compId != null) return None // second frame header
              return decodeJpegProgressive(bytes, maxPixels)
            case m if (m >= 0xc1 && m <= 0xcf) && m != 0xc4 && m != 0xc8 =>
              return None // extended/arithmetic/hierarchical/lossless
            case 0xc8 | 0xcc => return None // JPG reserved / DAC
            case 0xc4 => // DHT — possibly several tables
              while (p < end) {
                if (p + 17 > end) return None
                val tc = u8(p) >> 4; val th = u8(p) & 15
                if (tc > 1 || th > 3) return None
                val counts = new Array[Int](17)
                var tot = 0
                var l = 1
                while (l <= 16) {
                  counts(l) = u8(p + l); tot += counts(l); l += 1
                }
                if (tot == 0 || tot > 256 || p + 17 + tot > end) return None
                val syms = new Array[Int](tot)
                var k = 0
                while (k < tot) { syms(k) = u8(p + 17 + k); k += 1 }
                val t = new JpegHuffTable(counts, syms)
                if (tc == 0) dcTab(th) = t else acTab(th) = t
                p += 17 + tot
              }
            case 0xdb => // DQT — possibly several tables
              while (p < end) {
                val pq = u8(p) >> 4; val tq = u8(p) & 15
                if (pq != 0 || tq > 3 || p + 65 > end) return None // 8-bit
                val q = new Array[Int](64)
                var k = 0
                while (k < 64) { q(k) = u8(p + 1 + k); k += 1 }
                quant(tq) = q
                p += 65
              }
            case 0xdd => // DRI
              if (len != 4) return None
              dri = be16(p)
            case 0xda => // SOS
              if (compId == null) return None
              if (p >= end) return None
              val ns = u8(p)
              if (ns != compId.length || p + 1 + ns * 2 + 3 > end)
                return None
              compDc = new Array[Int](ns); compAc = new Array[Int](ns)
              var i = 0
              while (i < ns) {
                val cs = u8(p + 1 + i * 2)
                val ci = compId.indexOf(cs)
                if (ci != i) return None // interleaved in SOF order only
                compDc(i) = u8(p + 2 + i * 2) >> 4
                compAc(i) = u8(p + 2 + i * 2) & 15
                if (compDc(i) > 3 || compAc(i) > 3) return None
                i += 1
              }
              // spectral selection 0-63, no successive approximation
              val ss = u8(p + 1 + ns * 2)
              val se = u8(p + 2 + ns * 2)
              val ahl = u8(p + 3 + ns * 2)
              if (ss != 0 || se != 63 || ahl != 0) return None
              sosAt = end
            case 0xdc => return None // DNL — unsupported
            case _ => // APPn / COM / other tabled segment: skip
          }
          if (sosAt < 0) pos = end
      }
    }
    val nc = compId.length
    var hmax = 1; var vmax = 1
    var i = 0
    while (i < nc) {
      if (compH(i) > hmax) hmax = compH(i)
      if (compV(i) > vmax) vmax = compV(i)
      i += 1
    }
    if (nc == 1 && (compH(0) != 1 || compV(0) != 1)) return None
    val mcusX = (width + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (height + 8 * vmax - 1) / (8 * vmax)
    // component planes sized to the full MCU grid (≤ raster·factor ≤
    // maxPixels·4·64/64 per plane — bounded by the SOF gate above)
    val planeW = new Array[Int](nc)
    val planeH = new Array[Int](nc)
    val planes = new Array[Array[Byte]](nc)
    i = 0
    while (i < nc) {
      planeW(i) = mcusX * compH(i) * 8
      planeH(i) = mcusY * compV(i) * 8
      if (planeW(i).toLong * planeH(i) > Int.MaxValue) return None
      if (quant(compQ(i)) == null || dcTab(compDc(i)) == null ||
        acTab(compAc(i)) == null) return None
      planes(i) = new Array[Byte](planeW(i) * planeH(i))
      i += 1
    }
    val br = new JpegBitReader(bytes, sosAt)
    val dcPred = new Array[Int](nc)
    val coef = new Array[Int](64)
    var mcu = 0
    val nMcus = mcusX * mcusY
    var rstIdx = 0
    while (mcu < nMcus) {
      if (dri > 0 && mcu > 0 && mcu % dri == 0) {
        if (!br.expectRst(rstIdx)) return None
        rstIdx = (rstIdx + 1) % 8
        java.util.Arrays.fill(dcPred, 0)
      }
      val my = mcu / mcusX
      val mx = mcu % mcusX
      var c = 0
      while (c < nc) {
        val q = quant(compQ(c))
        var by = 0
        while (by < compV(c)) {
          var bx = 0
          while (bx < compH(c)) {
            java.util.Arrays.fill(coef, 0)
            val t = dcTab(compDc(c)).decode(br)
            if (t < 0 || t > 11) return None
            val dv = br.receive(t)
            if (dv == Int.MinValue) return None
            dcPred(c) += jpegExtend(dv, t)
            coef(0) = dcPred(c) * q(0)
            var k = 1
            var eob = false
            while (!eob && k < 64) {
              val rs = acTab(compAc(c)).decode(br)
              if (rs < 0) return None
              val r = rs >> 4; val s = rs & 15
              if (s == 0) {
                if (r == 15) k += 16 else eob = true // ZRL / EOB
              } else {
                k += r
                if (k > 63 || s > 10) return None
                val av = br.receive(s)
                if (av == Int.MinValue) return None
                coef(JpegZigzag(k)) = jpegExtend(av, s) * q(k)
                k += 1
              }
            }
            jpegIdctBlock(coef, planes(c),
              (mx * compH(c) + bx) * 8, (my * compV(c) + by) * 8,
              planeW(c), planeW(c), planeH(c))
            bx += 1
          }
          by += 1
        }
        c += 1
      }
      mcu += 1
    }
    // strict tail: pad bits, optional fill FFs, then EOI
    br.align()
    var tp = br.pos
    if (tp + 1 >= bytes.length) return None
    while (tp + 2 < bytes.length && u8(tp) == 0xff && u8(tp + 1) == 0xff)
      tp += 1
    if (u8(tp) != 0xff || u8(tp + 1) != 0xd9) return None
    Some(jpegAssemble(width, height, nc, planes, planeW, compH, compV,
      hmax, vmax))
  }

  /** Shared output tail of the sequential and progressive decoders:
    * crop the (MCU-padded) component planes to the declared raster —
    * grayscale directly, color through the JFIF/BT.601 full-range
    * matrix with replication chroma upsampling and round-half-up. */
  private def jpegAssemble(width: Int, height: Int, nc: Int,
      planes: Array[Array[Byte]], planeW: Array[Int], compH: Array[Int],
      compV: Array[Int], hmax: Int, vmax: Int)
      : (Int, Int, Int, Array[Byte]) = {
    if (nc == 1) {
      // crop the plane to the declared raster
      val out = new Array[Byte](width * height)
      var y = 0
      while (y < height) {
        System.arraycopy(planes(0), y * planeW(0), out, y * width, width)
        y += 1
      }
      (width, height, 1, out)
    } else {
      val out = new Array[Byte](width * height * 3)
      val yP = planes(0); val cbP = planes(1); val crP = planes(2)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          def samp(ci: Int, p: Array[Byte]): Int =
            p((y * compV(ci) / vmax) * planeW(ci) +
              (x * compH(ci) / hmax)) & 0xff
          val yy = samp(0, yP).toDouble
          val cb = samp(1, cbP) - 128.0
          val cr = samp(2, crP) - 128.0
          def clamp(d: Double): Byte = {
            val v = math.round(d).toInt
            (if (v < 0) 0 else if (v > 255) 255 else v).toByte
          }
          val base = (y * width + x) * 3
          out(base) = clamp(yy + 1.402 * cr)
          out(base + 1) = clamp(yy - 0.344136 * cb - 0.714136 * cr)
          out(base + 2) = clamp(yy + 1.772 * cb)
          x += 1
        }
        y += 1
      }
      (width, height, 3, out)
    }
  }

  /** REAL progressive JPEG decode (round 11) — spectral selection +
    * successive approximation (ITU T.81 Annex G) over the sequential
    * machinery ([[JpegHuffTable]], [[jpegExtend]], [[jpegIdctBlock]],
    * [[jpegAssemble]]): coefficients accumulate in a per-component
    * zigzag-order store across scans — DC first/refinement (point
    * transform `<< Al`, then one appended bit per pass), AC first
    * (per-band runs with EOBRUN block skips), AC refinement (the
    * G.1.2.3 correction-bit walk: ±1·2^Al placements between
    * zero-history runs, one bit per already-nonzero coefficient) — and
    * one dequantize + IDCT pass runs after EOI. Interleaved multi-
    * component DC scans use the MCU grid; single-component scans use
    * the component's own ceil(dim/8) block grid (T.81 A.2.2 — edge
    * MCU-padding blocks are NOT coded there). DRI/RSTn reset both DC
    * predictors and the EOB run. Arithmetic coding (SOF10), 12-bit,
    * and scans violating the Annex G progression constraints → None.
    * Memory: the coefficient store is 4 bytes per padded sample per
    * component — bounded by the same SOF `maxPixels` gate as the
    * output raster (the price of multi-pass reconstruction; sequential
    * streams never allocate it). */
  private def decodeJpegProgressive(bytes: Array[Byte], maxPixels: Long)
      : Option[(Int, Int, Int, Array[Byte])] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    val quant = new Array[Array[Int]](4)
    val dcTab = new Array[JpegHuffTable](4)
    val acTab = new Array[JpegHuffTable](4)
    var dri = 0
    var compId: Array[Int] = null
    var compH: Array[Int] = null
    var compV: Array[Int] = null
    var compQ: Array[Int] = null
    var width = 0; var height = 0
    var hmax = 1; var vmax = 1
    var mcusX = 0; var mcusY = 0
    var blocksW: Array[Int] = null // MCU-padded grid, blocks
    var blocksH: Array[Int] = null
    var compBW: Array[Int] = null  // non-interleaved grid, blocks
    var compBH: Array[Int] = null
    var coefs: Array[Array[Int]] = null // zigzag order per block
    var dcPred: Array[Int] = null
    var nScans = 0
    var pos = 2
    var done = false
    while (!done) {
      if (pos + 1 >= bytes.length) return None
      if (u8(pos) != 0xff) return None
      while (pos + 1 < bytes.length && u8(pos + 1) == 0xff) pos += 1
      if (pos + 1 >= bytes.length) return None
      val marker = u8(pos + 1)
      pos += 2
      marker match {
        case 0x01 => // TEM
        case m if m >= 0xd0 && m <= 0xd7 => // stray RST
        case 0xd8 => return None // SOI inside the stream
        case 0xd9 => // EOI — legal once at least one scan landed
          if (nScans == 0) return None
          done = true
        case _ =>
          if (pos + 1 >= bytes.length) return None
          val len = be16(pos)
          if (len < 2 || pos + len > bytes.length) return None
          val end = pos + len
          var p = pos + 2
          marker match {
            case 0xc2 => // SOF2
              if (compId != null) return None
              if (p + 5 >= end || u8(p) != 8) return None
              height = be16(p + 1); width = be16(p + 3)
              val nc = u8(p + 5)
              if (width <= 0 || height <= 0 || (nc != 1 && nc != 3))
                return None
              if (width.toLong * height > maxPixels ||
                width.toLong * height * 3 > Int.MaxValue) return None
              if (p + 6 + nc * 3 > end) return None
              compId = new Array[Int](nc); compH = new Array[Int](nc)
              compV = new Array[Int](nc); compQ = new Array[Int](nc)
              var i = 0
              while (i < nc) {
                compId(i) = u8(p + 6 + i * 3)
                val hv = u8(p + 7 + i * 3)
                compH(i) = hv >> 4; compV(i) = hv & 15
                compQ(i) = u8(p + 8 + i * 3)
                if (compH(i) < 1 || compH(i) > 4 || compV(i) < 1 ||
                  compV(i) > 4 || compQ(i) > 3) return None
                i += 1
              }
              if (nc == 1 && (compH(0) != 1 || compV(0) != 1)) return None
              i = 0
              while (i < nc) {
                if (compH(i) > hmax) hmax = compH(i)
                if (compV(i) > vmax) vmax = compV(i)
                i += 1
              }
              mcusX = (width + 8 * hmax - 1) / (8 * hmax)
              mcusY = (height + 8 * vmax - 1) / (8 * vmax)
              blocksW = new Array[Int](nc); blocksH = new Array[Int](nc)
              compBW = new Array[Int](nc); compBH = new Array[Int](nc)
              coefs = new Array[Array[Int]](nc)
              i = 0
              while (i < nc) {
                blocksW(i) = mcusX * compH(i)
                blocksH(i) = mcusY * compV(i)
                // 64 ints per block = padded samples; same Int gate as
                // the baseline planes (coef store ≤ 4 bytes/sample)
                if (blocksW(i).toLong * blocksH(i) * 64 > Int.MaxValue)
                  return None
                compBW(i) = ((width * compH(i) + hmax - 1) / hmax + 7) / 8
                compBH(i) = ((height * compV(i) + vmax - 1) / vmax + 7) / 8
                coefs(i) = new Array[Int](blocksW(i) * blocksH(i) * 64)
                i += 1
              }
              dcPred = new Array[Int](nc)
              pos = end
            case m if (m >= 0xc0 && m <= 0xcf) && m != 0xc2 &&
                m != 0xc4 && m != 0xc8 =>
              return None // a second/other frame type
            case 0xc8 | 0xcc => return None
            case 0xc4 => // DHT
              while (p < end) {
                if (p + 17 > end) return None
                val tc = u8(p) >> 4; val th = u8(p) & 15
                if (tc > 1 || th > 3) return None
                val counts = new Array[Int](17)
                var tot = 0
                var l = 1
                while (l <= 16) {
                  counts(l) = u8(p + l); tot += counts(l); l += 1
                }
                if (tot == 0 || tot > 256 || p + 17 + tot > end) return None
                val syms = new Array[Int](tot)
                var k = 0
                while (k < tot) { syms(k) = u8(p + 17 + k); k += 1 }
                val t = new JpegHuffTable(counts, syms)
                if (tc == 0) dcTab(th) = t else acTab(th) = t
                p += 17 + tot
              }
              pos = end
            case 0xdb => // DQT
              while (p < end) {
                val pq = u8(p) >> 4; val tq = u8(p) & 15
                if (pq != 0 || tq > 3 || p + 65 > end) return None
                val q = new Array[Int](64)
                var k = 0
                while (k < 64) { q(k) = u8(p + 1 + k); k += 1 }
                quant(tq) = q
                p += 65
              }
              pos = end
            case 0xdd => // DRI
              if (len != 4) return None
              dri = be16(p)
              pos = end
            case 0xdc => return None // DNL
            case 0xda => // SOS — one progressive scan
              if (compId == null) return None
              val nc = compId.length
              if (p >= end) return None
              val ns = u8(p)
              if (ns < 1 || ns > nc || p + 1 + ns * 2 + 3 > end)
                return None
              val sComp = new Array[Int](ns)
              val sDc = new Array[Int](ns)
              val sAc = new Array[Int](ns)
              var i = 0
              var prev = -1
              while (i < ns) {
                val ci = compId.indexOf(u8(p + 1 + i * 2))
                if (ci <= prev) return None // SOF order, no repeats
                prev = ci
                sComp(i) = ci
                sDc(i) = u8(p + 2 + i * 2) >> 4
                sAc(i) = u8(p + 2 + i * 2) & 15
                if (sDc(i) > 3 || sAc(i) > 3) return None
                i += 1
              }
              val ss = u8(p + 1 + ns * 2)
              val se = u8(p + 2 + ns * 2)
              val ahl = u8(p + 3 + ns * 2)
              val ah = ahl >> 4; val al = ahl & 15
              if (ah > 13 || al > 13) return None
              if (ah != 0 && al != ah - 1) return None // G.1.1.1.2
              val isDc = ss == 0
              if (isDc && se != 0) return None // DC band is {0} alone
              if (!isDc && (ns != 1 || se < ss || se > 63)) return None
              if (isDc && ah == 0) {
                i = 0
                while (i < ns) {
                  if (dcTab(sDc(i)) == null) return None
                  i += 1
                }
              }
              if (!isDc && acTab(sAc(0)) == null) return None
              val br = new JpegBitReader(bytes, end)
              var eobrun = 0
              // one block of the scan; (c, base) give the coef slot
              def dcFirst(c: Int, base: Int): Boolean = {
                val t = dcTab(sDc(sComp.indexOf(c))).decode(br)
                if (t < 0 || t > 11) return false
                val dv = br.receive(t)
                if (dv == Int.MinValue) return false
                dcPred(c) += jpegExtend(dv, t)
                coefs(c)(base) = dcPred(c) << al
                true
              }
              def dcRefine(c: Int, base: Int): Boolean = {
                val b = br.readBit()
                if (b < 0) return false
                if (b == 1) coefs(c)(base) |= (1 << al)
                true
              }
              def acFirst(c: Int, base: Int): Boolean = {
                if (eobrun > 0) { eobrun -= 1; return true }
                val cf = coefs(c)
                var k = ss
                while (k <= se) {
                  val rs = acTab(sAc(0)).decode(br)
                  if (rs < 0) return false
                  val r = rs >> 4; val s = rs & 15
                  if (s == 0) {
                    if (r == 15) k += 16 // ZRL
                    else {
                      eobrun = (1 << r) - 1
                      if (r > 0) {
                        val e = br.receive(r)
                        if (e == Int.MinValue) return false
                        eobrun += e
                      }
                      return true // EOB ends this block
                    }
                  } else {
                    k += r
                    if (k > se || s > 10) return false
                    val av = br.receive(s)
                    if (av == Int.MinValue) return false
                    cf(base + k) = jpegExtend(av, s) << al
                    k += 1
                  }
                }
                true
              }
              def acRefine(c: Int, base: Int): Boolean = {
                val cf = coefs(c)
                val p1 = 1 << al
                val m1 = -1 << al
                // correction bit for an already-nonzero coefficient
                def correct(k: Int): Boolean = {
                  val b = br.readBit()
                  if (b < 0) return false
                  if (b == 1 && (cf(base + k) & p1) == 0)
                    cf(base + k) += (if (cf(base + k) >= 0) p1 else m1)
                  true
                }
                var k = ss
                if (eobrun == 0) {
                  var atEob = false
                  while (!atEob && k <= se) {
                    val rs = acTab(sAc(0)).decode(br)
                    if (rs < 0) return false
                    val r = rs >> 4; val s = rs & 15
                    var newval = 0
                    if (s == 0) {
                      if (r < 15) {
                        // NOT pre-decremented (unlike acFirst): the
                        // current block still consumes its remaining
                        // correction bits in the eobrun>0 tail below,
                        // which then decrements for it
                        eobrun = 1 << r
                        if (r > 0) {
                          val e = br.receive(r)
                          if (e == Int.MinValue) return false
                          eobrun += e
                        }
                        atEob = true
                      } // r == 15 (ZRL): skip 16 zero-history slots below
                    } else {
                      if (s != 1) return false // refinement codes ±1 only
                      val sb = br.readBit()
                      if (sb < 0) return false
                      newval = if (sb == 1) p1 else m1
                    }
                    if (!atEob) {
                      // advance past r zero-HISTORY slots (a correction
                      // bit rides every nonzero slot on the way), then
                      // stop at the next zero slot: newval lands there
                      // (ZRL lands nothing — its 16th zero slot is just
                      // consumed by the trailing k += 1)
                      var skip = r
                      var stopped = false
                      while (!stopped && k <= se) {
                        if (cf(base + k) != 0) {
                          if (!correct(k)) return false
                          k += 1
                        } else if (skip == 0) {
                          stopped = true
                        } else { skip -= 1; k += 1 }
                      }
                      if (newval != 0) {
                        if (!stopped) return false // overran the band
                        cf(base + k) = newval
                      }
                      k += 1
                    }
                  }
                }
                if (eobrun > 0) {
                  while (k <= se) {
                    if (cf(base + k) != 0 && !correct(k)) return false
                    k += 1
                  }
                  eobrun -= 1
                }
                true
              }
              def block(c: Int, bx: Int, by: Int): Boolean = {
                val base = (by * blocksW(c) + bx) * 64
                if (isDc) {
                  if (ah == 0) dcFirst(c, base) else dcRefine(c, base)
                } else {
                  if (ah == 0) acFirst(c, base) else acRefine(c, base)
                }
              }
              var rstIdx = 0
              var unit = 0 // MCU (interleaved) / block (single-comp)
              def restartGate(): Boolean = {
                if (dri > 0 && unit > 0 && unit % dri == 0) {
                  if (!br.expectRst(rstIdx)) return false
                  rstIdx = (rstIdx + 1) % 8
                  java.util.Arrays.fill(dcPred, 0)
                  eobrun = 0
                }
                true
              }
              if (ns > 1) { // interleaved (DC) scan over the MCU grid
                val nMcus = mcusX * mcusY
                while (unit < nMcus) {
                  if (!restartGate()) return None
                  val my = unit / mcusX; val mx = unit % mcusX
                  i = 0
                  while (i < ns) {
                    val c = sComp(i)
                    var by = 0
                    while (by < compV(c)) {
                      var bx = 0
                      while (bx < compH(c)) {
                        if (!block(c, mx * compH(c) + bx,
                          my * compV(c) + by)) return None
                        bx += 1
                      }
                      by += 1
                    }
                    i += 1
                  }
                  unit += 1
                }
              } else { // single-component scan over ITS block grid
                val c = sComp(0)
                val nBlocks = compBW(c) * compBH(c)
                while (unit < nBlocks) {
                  if (!restartGate()) return None
                  if (!block(c, unit % compBW(c), unit / compBW(c)))
                    return None
                  unit += 1
                }
              }
              br.align()
              pos = br.pos
              nScans += 1
            case _ => // APPn / COM: skip
              pos = end
          }
      }
    }
    // reconstruction: dequantize + IDCT every padded block
    val nc = compId.length
    val planeW = new Array[Int](nc)
    val planeH = new Array[Int](nc)
    val planes = new Array[Array[Byte]](nc)
    var c = 0
    while (c < nc) {
      if (quant(compQ(c)) == null) return None
      planeW(c) = blocksW(c) * 8
      planeH(c) = blocksH(c) * 8
      planes(c) = new Array[Byte](planeW(c) * planeH(c))
      c += 1
    }
    val nat = new Array[Int](64)
    c = 0
    while (c < nc) {
      val q = quant(compQ(c))
      val cf = coefs(c)
      var by = 0
      while (by < blocksH(c)) {
        var bx = 0
        while (bx < blocksW(c)) {
          val base = (by * blocksW(c) + bx) * 64
          java.util.Arrays.fill(nat, 0)
          var k = 0
          while (k < 64) {
            val v = cf(base + k)
            if (v != 0) nat(JpegZigzag(k)) = v * q(k)
            k += 1
          }
          jpegIdctBlock(nat, planes(c), bx * 8, by * 8, planeW(c),
            planeW(c), planeH(c))
          bx += 1
        }
        by += 1
      }
      c += 1
    }
    Some(jpegAssemble(width, height, nc, planes, planeW, compH, compV,
      hmax, vmax))
  }

  /** JPEG features via [[rasterFeatures]] over [[decodeJpegPixels]]. */
  def decodeJpegFeatures(bytes: Array[Byte]): Option[RasterFeatureRow] =
    decodeJpegPixels(bytes).map { case (w, h, ch, px) =>
      rasterFeatures(w, h, ch, px)
    }

  /** Batch JPEG decode: one row per decodable payload — a native
    * expression projection since round 10. */
  def extractJpegFeatures(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[RasterFeatureRow] =
    rasterExtract(df, idCol, blobCol, jpegFeaturesCol)

  /** Baseline TIFF (round 12, LZW + PackBits + Deflate round 13) as a
    * top-down raster — the IFD walk both byte orders (`II`/`MM`),
    * strip-organized, UNCOMPRESSED (tag 259 = 1), LZW (tag 259 = 5,
    * the TIFF6 §13 early-change variant via [[lzwDecodeTiff]]),
    * PackBits (tag 259 = 32773, TIFF6 §9 via [[packBitsDecode]] — the
    * scanned-document default), or Deflate (tag 259 = 8 per Adobe
    * TechNote 2, legacy alias 32946 — zlib-wrapped per strip via
    * [[inflateZlib]]), each with the horizontal-differencing
    * predictor (tag 317 = 2) inverted per row, 8-bit RGB (photometric
    * 2, 3 samples) or grayscale (photometric 1, 1 sample).
    * JPEG-in-TIFF and other compressions return None (PERMISSIVE —
    * route to a codec when one ships); inline values vs offset values
    * resolved per the 4-byte rule; every offset bounds-checked.
    * Returns (w, h, channels, top-down samples). */
  def decodeTiffPixels(bytes: Array[Byte])
      : Option[(Int, Int, Int, Array[Byte])] = {
    val b = bytes
    if (b == null || b.length < 8) return None
    val le =
      if (b(0) == 'I' && b(1) == 'I') true
      else if (b(0) == 'M' && b(1) == 'M') false
      else return None
    def u16(p: Int): Int =
      if (p < 0 || p + 2 > b.length) -1
      else if (le) (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
      else ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
    def u32(p: Int): Long =
      if (p < 0 || p + 4 > b.length) -1L
      else if (le) (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
        ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
      else ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
        ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)
    if (u16(2) != 42) return None
    val ifd = u32(4)
    if (ifd < 8 || ifd + 2 > b.length) return None
    val n = u16(ifd.toInt)
    if (n <= 0 || ifd + 2 + 12L * n > b.length) return None
    var w = -1L; var h = -1L; var comp = 1L; var photo = -1L
    var spp = 1L; var rowsPerStrip = Long.MaxValue
    var predictor = 1L
    var bitsOk = true
    var stripOff: Seq[Long] = Nil; var stripCnt: Seq[Long] = Nil
    var jpegTablesOff = -1L; var jpegTablesLen = -1L
    var i = 0
    while (i < n) {
      val e = ifd.toInt + 2 + 12 * i
      val tag = u16(e)
      val typ = u16(e + 2)
      val cnt = u32(e + 4)
      val typeSize = typ match {
        case 1 | 2 | 6 | 7 => 1L  // byte/ascii/undefined
        case 3 | 8 => 2L          // short
        case 4 | 9 | 11 => 4L     // long/float
        case 5 | 10 | 12 => 8L    // rational (XResolution etc.)/double
        case _ => 0L
      }
      // cnt is an untrusted u32: an unbounded (0L until cnt) would
      // materialize a multi-billion-element Seq (fuzz-caught) — no
      // legitimate tag here needs more than strip-count entries, and
      // the strip data itself is bounded by the payload length
      if (typeSize == 0L || cnt < 0 || cnt > (1L << 20)) return None
      // values ≤ 4 bytes are INLINE at e+8, else e+8 holds an offset
      val inline = typeSize * cnt <= 4
      def valAt(j: Long): Long = {
        val base = if (inline) (e + 8).toLong else u32(e + 8)
        val p = base + j * typeSize
        if (p < 0 || p + typeSize > b.length) return -1L
        if (typeSize == 2) u16(p.toInt).toLong else u32(p.toInt)
      }
      def vals: Seq[Long] = (0L until cnt).map(valAt)
      tag match {
        case 256 => w = valAt(0)
        case 257 => h = valAt(0)
        case 258 => bitsOk = vals.forall(_ == 8L)
        case 259 => comp = valAt(0)
        case 262 => photo = valAt(0)
        case 273 => stripOff = vals
        case 277 => spp = valAt(0)
        case 278 => rowsPerStrip = valAt(0)
        case 279 => stripCnt = vals
        case 317 => predictor = valAt(0)
        case 347 => // JPEGTables: raw abbreviated-stream bytes
          jpegTablesOff =
            if (typeSize * cnt <= 4) (e + 8).toLong else u32(e + 8)
          jpegTablesLen = cnt
        case _ => ()
      }
      i += 1
    }
    if ((comp != 1L && comp != 5L && comp != 32773L && comp != 8L &&
        comp != 32946L && comp != 7L) || !bitsOk)
      return None
    if (predictor != 1L && predictor != 2L) return None
    if (comp == 7L) // new-style JPEG strips have their own pipeline
      return decodeTiffJpegStrips(b, w, h, spp, photo, rowsPerStrip,
        stripOff, stripCnt, jpegTablesOff, jpegTablesLen)
    val ch = photo match {
      case 2 if spp >= 3 => 3
      case 1 | 0 if spp == 1 => 1
      case _ => return None
    }
    if (w <= 0 || h <= 0 || w * h > (1L << 26)) return None
    if (stripOff.isEmpty || stripOff.size != stripCnt.size) return None
    if (stripOff.exists(_ < 0) || stripCnt.exists(_ < 0)) return None
    val need = w * h * spp
    if (comp == 1L && stripCnt.sum < need) return None
    val out = new Array[Byte]((w * h * ch).toInt)
    var written = 0L
    if (comp == 1L && predictor == 1L) {
      var s = 0
      while (s < stripOff.size && written < need) {
        val off = stripOff(s); val len = stripCnt(s)
        if (off + len > b.length) return None
        var j = 0L
        while (j < len && written < need) {
          // spp may exceed ch (extra samples ignored per pixel)
          val pix = written / spp
          val samp = written % spp
          if (samp < ch)
            out((pix * ch + samp).toInt) = b((off + j).toInt)
          written += 1
          j += 1
        }
        s += 1
      }
    } else {
      // LZW strips decode to exactly rowsInStrip·w·spp bytes; the
      // predictor inverts per row WITHIN each strip (TIFF6 §14)
      val rps = if (rowsPerStrip <= 0 || rowsPerStrip > h) h
        else rowsPerStrip
      val rowBytes = (w * spp).toInt
      var s = 0
      var row0 = 0L
      while (s < stripOff.size && row0 < h) {
        val off = stripOff(s); val len = stripCnt(s)
        if (off < 0 || len <= 0 || off + len > b.length) return None
        val rowsHere = math.min(rps, h - row0)
        val decodedLen = (rowsHere * rowBytes).toInt
        val src: Array[Byte] =
          if (comp == 5L)
            lzwDecodeTiff(b, off.toInt, len.toInt, decodedLen) match {
              case Some(a) => a
              case None => return None
            }
          else if (comp == 32773L)
            packBitsDecode(b, off.toInt, len.toInt, decodedLen) match {
              case Some(a) => a
              case None => return None
            }
          else if (comp == 8L || comp == 32946L)
            inflateZlib(b, off.toInt, len.toInt, decodedLen) match {
              case Some(a) => a
              case None => return None
            }
          else {
            if (len < decodedLen) return None
            java.util.Arrays.copyOfRange(b, off.toInt,
              off.toInt + decodedLen)
          }
        if (predictor == 2L) {
          var r = 0
          while (r < rowsHere) {
            val base = r * rowBytes
            var i = spp.toInt
            while (i < rowBytes) {
              src(base + i) =
                (src(base + i) + src(base + i - spp.toInt)).toByte
              i += 1
            }
            r += 1
          }
        }
        var j = 0
        while (j < decodedLen) {
          val pix = written / spp
          val samp = written % spp
          if (samp < ch)
            out((pix * ch + samp).toInt) = src(j)
          written += 1
          j += 1
        }
        row0 += rowsHere
        s += 1
      }
    }
    if (written < need) return None
    Some((w.toInt, h.toInt, ch, out))
  }

  /** TIFF compression 7 ("new-style" JPEG, TIFF-F / TTN2): each strip
    * is a complete or ABBREVIATED baseline JPEG stream; the shared
    * `JPEGTables` tag (347) carries the DQT/DHT segments abbreviated
    * strips omit. The tables interior (between its SOI and EOI) is
    * spliced after each strip's SOI — a strip carrying its own tables
    * just parses them again, last-wins, exactly like a real JPEG
    * decoder. Photometric 6 (YCbCr — the common camera/scan shape) and
    * 2 (RGB) decode through [[decodeJpegPixels]]'s 3-channel path
    * (which already does the BT.601 conversion); photometric 0/1 is
    * grayscale. Old-style compression 6 stays declined (deprecated,
    * under-specified — TTN2's own advice). */
  private def decodeTiffJpegStrips(b: Array[Byte], w: Long, h: Long,
      spp: Long, photo: Long, rowsPerStrip: Long, stripOff: Seq[Long],
      stripCnt: Seq[Long], tOff: Long, tLen: Long)
      : Option[(Int, Int, Int, Array[Byte])] = {
    val ch = photo match {
      case 6 | 2 if spp == 3 => 3
      case 1 | 0 if spp == 1 => 1
      case _ => return None
    }
    if (w <= 0 || h <= 0 || w * h > (1L << 26)) return None
    if (stripOff.isEmpty || stripOff.size != stripCnt.size) return None
    // tables interior: bytes between the abbreviated stream's SOI and
    // its trailing EOI (both required when the tag is present)
    val tables: Array[Byte] =
      if (tOff < 0) null
      else {
        if (tLen < 4 || tOff + tLen > b.length) return None
        val t0 = tOff.toInt
        if ((b(t0) & 0xff) != 0xff || (b(t0 + 1) & 0xff) != 0xd8 ||
          (b(t0 + tLen.toInt - 2) & 0xff) != 0xff ||
          (b(t0 + tLen.toInt - 1) & 0xff) != 0xd9) return None
        java.util.Arrays.copyOfRange(b, t0 + 2, t0 + tLen.toInt - 2)
      }
    val rps = if (rowsPerStrip <= 0 || rowsPerStrip > h) h
      else rowsPerStrip
    val out = new Array[Byte]((w * h * ch).toInt)
    var row0 = 0L
    var s = 0
    while (s < stripOff.size && row0 < h) {
      val off = stripOff(s); val len = stripCnt(s)
      if (off < 0 || len < 4 || off + len > b.length) return None
      if ((b(off.toInt) & 0xff) != 0xff ||
        (b(off.toInt + 1) & 0xff) != 0xd8) return None
      val stream: Array[Byte] =
        if (tables == null)
          java.util.Arrays.copyOfRange(b, off.toInt, (off + len).toInt)
        else {
          val a = new Array[Byte](2 + tables.length + (len - 2).toInt)
          a(0) = 0xff.toByte; a(1) = 0xd8.toByte
          System.arraycopy(tables, 0, a, 2, tables.length)
          System.arraycopy(b, off.toInt + 2, a, 2 + tables.length,
            (len - 2).toInt)
          a
        }
      val (jw, jh, jch, jpx) = decodeJpegPixels(stream) match {
        case Some(x) => x
        case None => return None
      }
      if (jw != w || jch != ch) return None
      val rowsHere = math.min(math.min(rps, h - row0), jh.toLong)
      if (rowsHere < math.min(rps, h - row0)) return None // short strip
      val rowBytes = (w * ch).toInt
      var r = 0
      while (r < rowsHere) {
        System.arraycopy(jpx, r * rowBytes, out,
          ((row0 + r) * rowBytes).toInt, rowBytes)
        r += 1
      }
      row0 += rowsHere
      s += 1
    }
    if (row0 < h) return None
    Some((w.toInt, h.toInt, ch, out))
  }

  /** Baseline TIFF → the shared raster profile. */
  def decodeTiffFeatures(bytes: Array[Byte]): Option[RasterFeatureRow] =
    decodeTiffPixels(bytes).map { case (w, h, ch, px) =>
      rasterFeatures(w, h, ch, px)
    }

  /** 24-bit BMP as a top-down RGB raster — [[decodePngPixels]]'s return
    * shape, so BMP rides the same [[rasterFeatures]] reduction as the
    * other image formats (the file stores BGR bottom-up; both flips
    * happen here). */
  def decodeBmpPixels(bytes: Array[Byte])
      : Option[(Int, Int, Int, Array[Byte])] =
    locateBmp24(bytes).map { case (w, h, dataOff, stride, topDown) =>
      val out = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        val rowOff = dataOff + (if (topDown) y else h - 1 - y) * stride
        var x = 0
        while (x < w) {
          val p = rowOff + 3 * x
          val q = (y * w + x) * 3
          out(q) = bytes(p + 2) // file is BGR
          out(q + 1) = bytes(p + 1)
          out(q + 2) = bytes(p)
          x += 1
        }
        y += 1
      }
      (w, h, 3, out)
    }

  /** RIFF/WEBP chunk walk → the image-bearing chunk: fourcc + (offset,
    * len) of the payload for `VP8L` (lossless) or `VP8 ` (lossy),
    * scanning past `VP8X`/`ICCP`/`EXIF`/… chunks (extended container).
    * Chunks are 2-byte aligned; sizes are little-endian. */
  private[graft] def locateWebpCoded(b: Array[Byte])
      : Option[(String, Int, Int)] = {
    if (b == null || b.length < 12 || sniffKindJvm(b) != "webp") return None
    var p = 12
    while (p + 8 <= b.length) {
      val fourcc = new String(b, p, 4, "ISO-8859-1")
      val size = (b(p + 4) & 0xff) | ((b(p + 5) & 0xff) << 8) |
        ((b(p + 6) & 0xff) << 16) | ((b(p + 7) & 0xff) << 24)
      if (size < 0 || p + 8 + size > b.length) return None
      if (fourcc == "VP8L" || fourcc == "VP8 ")
        return Some((fourcc.trim, p + 8, size))
      p += 8 + size + (size & 1) // chunks are 2-byte aligned
    }
    None
  }

  /** WebP container metadata (round 12) — the curation-filter surface
    * that needs NO pixel decode: alpha/animation flags + canvas
    * geometry from VP8X (or the coded stream's own header for simple
    * files), frame count / summed duration / loop count from the
    * ANIM/ANMF walk. Frame payloads are SKIPPED by size — a thousand-
    * frame animation costs a header walk, not a decode. */
  final case class WebpMetaRow(doc_id: Long, has_alpha: Boolean,
      has_anim: Boolean, canvas_w: Long, canvas_h: Long, n_frames: Long,
      total_duration_ms: Long, loop_count: Long)

  private[graft] def webpMetaJvm(b: Array[Byte])
      : Option[(Boolean, Boolean, Long, Long, Long, Long, Long)] = {
    if (b == null || b.length < 12 || sniffKindJvm(b) != "webp")
      return None
    def u24(p: Int): Long = (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16)
    def u16(p: Int): Long = (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8)
    def u32(p: Int): Long = u16(p) | (u16(p + 2) << 16)
    var hasAlpha = false; var hasAnim = false
    var cw = -1L; var chh = -1L
    var nFrames = 0L; var dur = 0L; var loop = 0L
    var sawStill = false
    var p = 12
    while (p + 8 <= b.length) {
      val fourcc = new String(b, p, 4, "ISO-8859-1")
      val size = u32(p + 4)
      if (size < 0 || p + 8 + size > b.length) return None
      val dp = p + 8
      fourcc match {
        case "VP8X" if size >= 10 =>
          val flags = b(dp) & 0xff
          hasAlpha = (flags & 0x10) != 0
          hasAnim = (flags & 0x02) != 0
          cw = u24(dp + 4) + 1
          chh = u24(dp + 7) + 1
        case "ANIM" if size >= 6 =>
          loop = u16(dp + 4)
        case "ANMF" if size >= 16 =>
          nFrames += 1
          dur += u24(dp + 12)
        case "VP8L" if size >= 5 && (b(dp) & 0xff) == 0x2f =>
          sawStill = true
          if (cw < 0) {
            // 14+14 bit dimensions, LSB-first from byte dp+1
            val v = u32(dp + 1)
            cw = (v & 0x3fff) + 1
            chh = ((v >> 14) & 0x3fff) + 1
          }
        case "VP8 " if size >= 10 =>
          sawStill = true
          // keyframe: 3-byte frame tag, then 9d 01 2a, w u16le, h u16le
          if (cw < 0 && (b(dp + 3) & 0xff) == 0x9d &&
            (b(dp + 4) & 0xff) == 0x01 && (b(dp + 5) & 0xff) == 0x2a) {
            cw = u16(dp + 6) & 0x3fff
            chh = u16(dp + 8) & 0x3fff
          }
        case _ => ()
      }
      p = dp + size.toInt + (size.toInt & 1)
    }
    if (cw < 0 || chh < 0) return None
    if (hasAnim && nFrames == 0) return None
    if (!hasAnim && !sawStill) return None
    Some((hasAlpha, hasAnim, cw, chh,
      if (hasAnim) nFrames else 1L, dur, loop))
  }

  /** Batch WebP metadata (native-expression projection — NULL for
    * non-WebP / malformed payloads, the [[extractMp4Meta]] shape). */
  def extractWebpMeta(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[WebpMetaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    barrierExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.webpMetaCol).as[WebpMetaRow]
  }

  /** GIF container metadata (round 12) — the animated-GIF curation
    * surface without pixel decode: logical-screen geometry, frame
    * count (image descriptors), summed GCE delays (centiseconds → ms)
    * and the NETSCAPE2.0 loop count; LZW frame payloads skipped by
    * their sub-block length chain. Malformed block structure → None
    * (PERMISSIVE). */
  final case class GifMetaRow(doc_id: Long, width: Long, height: Long,
      n_frames: Long, total_duration_ms: Long, loop_count: Long)

  private[graft] def gifMetaJvm(b: Array[Byte])
      : Option[(Long, Long, Long, Long, Long)] = {
    if (b == null || b.length < 14 || sniffKindJvm(b) != "gif") return None
    def u16(p: Int): Int = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
    val w = u16(6).toLong; val h = u16(8).toLong
    val packed = b(10) & 0xff
    var p = 13
    if ((packed & 0x80) != 0) p += 3 * (1 << ((packed & 7) + 1))
    var frames = 0L; var dur = 0L; var loop = 0L
    var done = false
    // skip a length-prefixed sub-block chain from position q; -1 if it
    // runs off the payload
    def skipSubBlocks(q0: Int): Int = {
      var q = q0
      while (q < b.length && (b(q) & 0xff) != 0) q += 1 + (b(q) & 0xff)
      if (q >= b.length) -1 else q + 1
    }
    while (!done) {
      if (p < 0 || p >= b.length) return None
      (b(p) & 0xff) match {
        case 0x3b => done = true
        case 0x2c => // image descriptor: one frame
          frames += 1
          if (p + 10 > b.length) return None
          val ip = b(p + 9) & 0xff
          p += 10
          if ((ip & 0x80) != 0) p += 3 * (1 << ((ip & 7) + 1))
          if (p >= b.length) return None
          p += 1 // LZW min code size
          p = skipSubBlocks(p)
        case 0x21 => // extension
          if (p + 2 > b.length) return None
          val label = b(p + 1) & 0xff
          val q = p + 2
          if (label == 0xf9 && q + 6 <= b.length && (b(q) & 0xff) == 4)
            dur += u16(q + 2) * 10L // delay is centiseconds
          if (label == 0xff && q + 18 <= b.length &&
            (b(q) & 0xff) == 11 &&
            new String(b, q + 1, 11, "ISO-8859-1") == "NETSCAPE2.0" &&
            (b(q + 12) & 0xff) == 3 && (b(q + 13) & 0xff) == 1)
            loop = u16(q + 14).toLong
          p = skipSubBlocks(q)
        case _ => return None
      }
    }
    if (frames == 0) return None
    Some((w, h, frames, dur, loop))
  }

  /** APNG/PNG container metadata (round 12) — IHDR geometry plus the
    * APNG animation-control walk: `acTL` frame/play counts and summed
    * `fcTL` frame delays (num/den seconds; den 0 means 1/100 s per the
    * spec; ms = 1000·num/den integer division). Plain PNGs report one
    * frame, zero duration. IDAT/fdAT payloads skipped by chunk
    * length — no inflate. */
  final case class PngMetaRow(doc_id: Long, width: Long, height: Long,
      n_frames: Long, total_duration_ms: Long, n_plays: Long)

  private[graft] def pngMetaJvm(b: Array[Byte])
      : Option[(Long, Long, Long, Long, Long)] = {
    if (b == null || b.length < 16 || sniffKindJvm(b) != "png") return None
    def u32(p: Int): Long = ((b(p) & 0xffL) << 24) |
      ((b(p + 1) & 0xffL) << 16) | ((b(p + 2) & 0xffL) << 8) |
      (b(p + 3) & 0xffL)
    def u16(p: Int): Long = ((b(p) & 0xffL) << 8) | (b(p + 1) & 0xffL)
    var w = -1L; var h = -1L
    var frames = -1L; var plays = 0L; var dur = 0L; var fctl = 0L
    var p = 8
    var sawEnd = false
    while (!sawEnd) {
      if (p + 8 > b.length) return None
      val len = u32(p)
      val typ = new String(b, p + 4, 4, "ISO-8859-1")
      val dp = p + 8
      if (len < 0 || dp + len + 4 > b.length) return None
      typ match {
        case "IHDR" if len >= 8 => w = u32(dp); h = u32(dp + 4)
        case "acTL" if len >= 8 =>
          frames = u32(dp); plays = u32(dp + 4)
        case "fcTL" if len >= 26 =>
          fctl += 1
          val num = u16(dp + 20)
          val den = u16(dp + 22)
          dur += num * 1000L / (if (den == 0) 100L else den)
        case "IEND" => sawEnd = true
        case _ => ()
      }
      p = dp + len.toInt + 4 // skip data + CRC
    }
    if (w <= 0 || h <= 0) return None
    if (frames >= 0 && fctl != frames) return None // APNG must be whole
    Some((w, h, if (frames >= 0) frames else 1L, dur,
      if (frames >= 0) plays else 0L))
  }

  /** AVIF container metadata (round 12) — the ISOBMFF `meta` walk the
    * modern crawl formats need: primary-item geometry resolved
    * PROPERLY through `pitm` → `ipma` associations → the `ispe`
    * property in `ipco` (the first-ispe shortcut silently returns the
    * ALPHA plane's extent on alpha-first encoders), item count from
    * `iinf`, animation from the `avis` brand or a `moov` box. AV1
    * payload (mdat) untouched — a perceptual codec this container
    * honestly does not ship; the walk is the keep/route/skip curation
    * surface. */
  final case class AvifMetaRow(doc_id: Long, width: Long, height: Long,
      n_items: Long, animated: Boolean)

  private[graft] def avifMetaJvm(b: Array[Byte])
      : Option[(Long, Long, Long, Boolean)] = {
    if (b == null || b.length < 16) return None
    def u32(p: Int): Long =
      if (p < 0 || p + 4 > b.length) -1L
      else ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
        ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)
    def u16(p: Int): Int =
      if (p < 0 || p + 2 > b.length) -1
      else ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
    def typ(p: Int): String =
      if (p + 8 > b.length) "" else new String(b, p + 4, 4, "ISO-8859-1")
    // iterate child boxes of [s, e); f receives (type, dataStart, dataEnd)
    def children(s0: Int, e: Int)(f: (String, Int, Int) => Unit): Boolean = {
      var p = s0
      while (p + 8 <= e) {
        val sz = u32(p)
        if (sz < 8 || p + sz > e) return false
        f(typ(p), p + 8, p + sz.toInt)
        p += sz.toInt
      }
      p == e
    }
    if (typ(0) != "ftyp") return None
    val brand = new String(b, 8, 4, "ISO-8859-1")
    if (brand != "avif" && brand != "avis") return None
    var animated = brand == "avis"
    var metaRange: Option[(Int, Int)] = None
    if (!children(0, b.length) { (t, s, e) =>
      if (t == "meta") metaRange = Some((s, e))
      if (t == "moov") animated = true
    }) return None
    val (ms0, me) = metaRange.getOrElse(return None)
    val ms = ms0 + 4 // meta is a FullBox
    var primary = -1L
    var nItems = -1L
    var ipcoRange: Option[(Int, Int)] = None
    var ipmaRange: Option[(Int, Int)] = None
    if (!children(ms, me) { (t, s, e) =>
      t match {
        case "pitm" =>
          val v = b(s) & 0xff
          primary = if (v == 0) u16(s + 4).toLong else u32(s + 4)
        case "iinf" =>
          val v = b(s) & 0xff
          nItems = if (v == 0) u16(s + 4).toLong else u32(s + 4)
        case "iprp" =>
          children(s, e) { (t2, s2, e2) =>
            if (t2 == "ipco") ipcoRange = Some((s2, e2))
            if (t2 == "ipma") ipmaRange = Some((s2, e2))
          }
          ()
        case _ => ()
      }
    }) return None
    val (cs, ce) = ipcoRange.getOrElse(return None)
    // ipco properties in order (1-based indices)
    val props = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    if (!children(cs, ce) { (t, s, e) => props += ((t, s, e)) })
      return None
    // primary item's property indices via ipma; fall back to the first
    // ispe only if pitm/ipma are absent entirely
    def ispeAt(idx: Int): Option[(Long, Long)] =
      if (idx < 1 || idx > props.size) None
      else props(idx - 1) match {
        case ("ispe", s, e) if e - s >= 12 =>
          Some((u32(s + 4), u32(s + 8)))
        case _ => None
      }
    var dims: Option[(Long, Long)] = None
    ipmaRange match {
      case Some((s, e)) if primary >= 0 =>
        val version = b(s) & 0xff
        val flags = u32(s) & 0xffffff
        val n = u32(s + 4)
        var p = s + 8
        var i = 0L
        while (i < n && p < e) {
          val itemId: Long =
            if (version < 1) { val v = u16(p); p += 2; v.toLong }
            else { val v = u32(p); p += 4; v }
          if (p >= e) return None
          val cnt = b(p) & 0xff
          p += 1
          var a = 0
          while (a < cnt) {
            val idx =
              if ((flags & 1) != 0) { val v = u16(p) & 0x7fff; p += 2; v }
              else { val v = b(p) & 0x7f; p += 1; v }
            if (itemId == primary && dims.isEmpty) dims = ispeAt(idx)
            a += 1
          }
          i += 1
        }
      case _ =>
        dims = props.collectFirst { case ("ispe", s, e)
          if e - s >= 12 => (u32(s + 4), u32(s + 8)) }
    }
    val (w, h) = dims.getOrElse(return None)
    if (w <= 0 || h <= 0) return None
    Some((w, h, if (nItems >= 0) nItems else 1L, animated))
  }

  /** OGG container metadata (round 12) — the audio twin of the image
    * walks: page-structure walk of the first logical stream (BOS
    * serial), codec identification from the id header (OpusHead /
    * ␁vorbis / ␡FLAC), channels + rate from it, duration from the
    * LAST page's granule position (Opus granules run at a fixed
    * 48 kHz minus the pre-skip; Vorbis at the nominal rate). Packet
    * payloads beyond the id header are skipped by the lacing tables —
    * no codec. */
  final case class OggMetaRow(doc_id: Long, codec: String,
      channels: Long, sample_rate: Long, duration_ms: Long,
      n_pages: Long)

  private[graft] def oggMetaJvm(b: Array[Byte])
      : Option[(String, Long, Long, Long, Long)] = {
    if (b == null || b.length < 28 || b(0) != 'O' || b(1) != 'g' ||
      b(2) != 'g' || b(3) != 'S') return None
    def u16(p: Int): Long = (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8)
    def u32(p: Int): Long = u16(p) | (u16(p + 2) << 16)
    def u64(p: Int): Long = u32(p) | (u32(p + 4) << 32)
    var codec = ""
    var channels = -1L; var rate = -1L; var preSkip = 0L
    var serial = -1L
    var lastGranule = -1L
    var nPages = 0L
    var p = 0
    while (p + 27 <= b.length) {
      if (!(b(p) == 'O' && b(p + 1) == 'g' && b(p + 2) == 'g' &&
        b(p + 3) == 'S' && b(p + 4) == 0)) return None
      val hdrType = b(p + 5) & 0xff
      val granule = u64(p + 6)
      val ser = u32(p + 14)
      val nSegs = b(p + 26) & 0xff
      if (p + 27 + nSegs > b.length) return None
      var payLen = 0
      var i = 0
      while (i < nSegs) { payLen += b(p + 27 + i) & 0xff; i += 1 }
      val dp = p + 27 + nSegs
      if (dp + payLen > b.length) return None
      if (serial < 0 && (hdrType & 0x02) != 0) {
        serial = ser
        // id header sniff on the BOS payload
        if (payLen >= 19 && new String(b, dp, 8, "ISO-8859-1") ==
          "OpusHead") {
          codec = "opus"
          channels = b(dp + 9) & 0xffL
          preSkip = u16(dp + 10)
          rate = u32(dp + 12) // informational input rate
        } else if (payLen >= 30 && (b(dp) & 0xff) == 1 &&
          new String(b, dp + 1, 6, "ISO-8859-1") == "vorbis") {
          codec = "vorbis"
          channels = b(dp + 11) & 0xffL
          rate = u32(dp + 12)
        } else if (payLen >= 5 && (b(dp) & 0xff) == 0x7f &&
          new String(b, dp + 1, 4, "ISO-8859-1") == "FLAC") {
          codec = "flac"
        } else return None
      }
      if (ser == serial) {
        nPages += 1
        if (granule >= 0) lastGranule = math.max(lastGranule, granule)
      }
      p = dp + payLen
    }
    if (p != b.length || codec.isEmpty || nPages == 0) return None
    val durMs = codec match {
      case "opus" =>
        if (lastGranule < 0) 0L
        else math.max(0L, lastGranule - preSkip) * 1000L / 48000L
      case "vorbis" if rate > 0 =>
        if (lastGranule < 0) 0L else lastGranule * 1000L / rate
      case _ => 0L
    }
    Some((codec, channels, rate, durMs, nPages))
  }

  /** EXIF orientation from a JPEG's APP1 segment (round 12) — the
    * rotate-before-train curation bit: marker walk to APP1/"Exif",
    * then a bounds-checked TIFF IFD0 scan (both byte orders) for tag
    * 0x0112. `orientation` 1-8 per TIFF; 0 = no EXIF / no tag (a
    * plain JPEG is not an error). None only for non-JPEG payloads. */
  final case class ExifMetaRow(doc_id: Long, has_exif: Boolean,
      orientation: Long)

  private[graft] def exifOrientationJvm(b: Array[Byte])
      : Option[(Boolean, Long)] = {
    if (b == null || b.length < 4 || sniffKindJvm(b) != "jpeg")
      return None
    def u16be(p: Int): Int =
      if (p + 2 > b.length) -1
      else ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
    var p = 2
    while (p + 4 <= b.length) {
      if ((b(p) & 0xff) != 0xff) return Some((false, 0L))
      val marker = b(p + 1) & 0xff
      if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) {
        p += 2 // standalone markers
      } else if (marker == 0xda || marker == 0xd9) {
        return Some((false, 0L)) // entropy data / EOI: no APP1 found
      } else {
        val len = u16be(p + 2)
        if (len < 2 || p + 2 + len > b.length) return Some((false, 0L))
        if (marker == 0xe1 && len >= 16 &&
          new String(b, p + 4, 6, "ISO-8859-1") == "Exif\u0000\u0000") {
          val t = p + 10 // TIFF header base
          val le =
            if (b(t) == 'I' && b(t + 1) == 'I') true
            else if (b(t) == 'M' && b(t + 1) == 'M') false
            else return Some((true, 0L))
          def u16t(q: Int): Int =
            if (q + 2 > b.length) -1
            else if (le) (b(q) & 0xff) | ((b(q + 1) & 0xff) << 8)
            else ((b(q) & 0xff) << 8) | (b(q + 1) & 0xff)
          def u32t(q: Int): Long =
            if (q + 4 > b.length) -1L
            else if (le) (u16t(q) & 0xffffL) | ((u16t(q + 2) & 0xffffL) << 16)
            else ((u16t(q) & 0xffffL) << 16) | (u16t(q + 2) & 0xffffL)
          val ifd = u32t(t + 4)
          if (ifd < 8) return Some((true, 0L))
          val e0 = t + ifd.toInt
          val n = u16t(e0)
          if (n < 0 || e0 + 2 + 12 * n > b.length) return Some((true, 0L))
          var i = 0
          while (i < n) {
            val e = e0 + 2 + 12 * i
            if (u16t(e) == 0x0112 && u16t(e + 2) == 3) {
              val v = u16t(e + 8).toLong
              return Some((true, if (v >= 1 && v <= 8) v else 0L))
            }
            i += 1
          }
          return Some((true, 0L))
        }
        p += 2 + len
      }
    }
    Some((false, 0L))
  }

  /** ID3v2 text frames (round 12) — title/artist/album from an MP3's
    * leading tag (the catalog surface for audio corpora): ID3v2.3
    * (plain u32 frame sizes) and v2.4 (syncsafe) both handled, latin-1
    * and UTF-8 encodings decoded, UTF-16 frames skipped (absent = "");
    * padding terminates the walk. The audio stream is untouched. */
  final case class Id3TextRow(doc_id: Long, title: String,
    artist: String, album: String)

  private[graft] def id3TextJvm(b: Array[Byte])
      : Option[(String, String, String)] = {
    if (b == null || b.length < 10 || sniffKindJvm(b) != "mp3") return None
    val ver = b(3) & 0xff
    if (ver < 3 || ver > 4) return None
    def syncsafe(p: Int): Long = ((b(p) & 0x7fL) << 21) |
      ((b(p + 1) & 0x7fL) << 14) | ((b(p + 2) & 0x7fL) << 7) |
      (b(p + 3) & 0x7fL)
    def u32be(p: Int): Long = ((b(p) & 0xffL) << 24) |
      ((b(p + 1) & 0xffL) << 16) | ((b(p + 2) & 0xffL) << 8) |
      (b(p + 3) & 0xffL)
    val end = 10 + syncsafe(6)
    if (end > b.length) return None
    var title = ""; var artist = ""; var album = ""
    var p = 10
    var done = false
    while (!done && p + 10 <= end) {
      if (b(p) == 0) done = true // padding
      else {
        val id = new String(b, p, 4, "ISO-8859-1")
        val sz = if (ver == 4) syncsafe(p + 4) else u32be(p + 4)
        if (sz < 0 || p + 10 + sz > end) return None
        if (id.startsWith("T") && sz >= 1) {
          // encodings per ID3v2.4 §4: 0 latin-1, 1 UTF-16 with BOM
          // (v2.3's only Unicode form), 2 UTF-16BE without BOM
          // (v2.4), 3 UTF-8. The JDK's "UTF-16" charset consumes the
          // BOM and defaults to BE without one — exactly the spec's
          // rule for encoding 1.
          val enc = b(p + 10) & 0xff
          val charset = enc match {
            case 0 => "ISO-8859-1"
            case 1 => "UTF-16"
            case 2 => "UTF-16BE"
            case 3 => "UTF-8"
            case _ => null
          }
          if (charset != null) {
            var len = (sz - 1).toInt
            // strip one trailing terminator if present: a 00 00 pair
            // for the UTF-16 forms, a single 00 otherwise
            if (enc == 1 || enc == 2) {
              if (len >= 2 && b(p + 10 + len) == 0 &&
                b(p + 9 + len) == 0) len -= 2
            } else if (len > 0 && b(p + 10 + len) == 0) len -= 1
            val txt = new String(b, p + 11, len, charset)
            id match {
              case "TIT2" => title = txt
              case "TPE1" => artist = txt
              case "TALB" => album = txt
              case _ => ()
            }
          }
        }
        p += 10 + sz.toInt
      }
    }
    Some((title, artist, album))
  }

  /** ZIP central-directory walk (round 12, DEFLATE round 13) — the
    * archive-routing surface (docx/epub/jar are zips): EOCD scan from
    * the tail, then per-entry name / method / sizes from the central
    * directory, with entry CONTENT extracted by resolving the local
    * header's variable-length fields (proof the offsets are walked,
    * not guessed). STORED (method 0) entries slice directly; DEFLATED
    * (method 8) entries drive a real raw `Inflater` over the csize
    * bytes. `crc_ok` is true only when the content bytes were
    * RECOVERED and their CRC32 matches the central directory's —
    * failed inflate, size mismatch, or an oversized entry (> 64 MiB,
    * skipped) report crc_ok=false with NULL content. One row per
    * entry. */
  final case class ZipEntryRow(doc_id: Long, name: String, method: Long,
    usize: Long, content: String, crc_ok: Boolean)

  private[graft] def zipEntriesJvm(b: Array[Byte])
      : IndexedSeq[(String, Long, Long, String, Boolean)] = {
    val empty = Vector.empty[(String, Long, Long, String, Boolean)]
    if (b == null || b.length < 22) return empty
    def u16(p: Int): Int =
      if (p < 0 || p + 2 > b.length) -1
      else (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
    def u32(p: Int): Long =
      if (p < 0 || p + 4 > b.length) -1L
      else (u16(p) & 0xffffL) | ((u16(p + 2) & 0xffffL) << 16)
    // EOCD: PK\5\6 within the last 64 KiB + 22
    var eocd = -1
    var p = b.length - 22
    val floor = math.max(0, b.length - 22 - 65535)
    while (eocd < 0 && p >= floor) {
      if (b(p) == 'P' && b(p + 1) == 'K' && b(p + 2) == 5 && b(p + 3) == 6)
        eocd = p
      p -= 1
    }
    if (eocd < 0) return empty
    val n = u16(eocd + 10)
    val cdOff = u32(eocd + 16)
    if (n <= 0 || n > 65535 || cdOff < 0) return empty
    val out = Vector.newBuilder[(String, Long, Long, String, Boolean)]
    var q = cdOff.toInt
    var i = 0
    while (i < n) {
      if (q + 46 > b.length || !(b(q) == 'P' && b(q + 1) == 'K' &&
        b(q + 2) == 1 && b(q + 3) == 2)) return empty
      val method = u16(q + 10).toLong
      val crcDeclared = u32(q + 16)
      val csize = u32(q + 20)
      val usize = u32(q + 24)
      val nameLen = u16(q + 28)
      val extraLen = u16(q + 30)
      val commentLen = u16(q + 32)
      val localOff = u32(q + 42)
      if (nameLen < 0 || q + 46 + nameLen > b.length) return empty
      val name = new String(b, q + 46, nameLen, "UTF-8")
      // recover the entry's bytes through the local header: STORED
      // slices, DEFLATED inflates (raw deflate — the gzip machinery)
      var recovered: Array[Byte] = null
      if ((method == 0L || method == 8L) && localOff >= 0 &&
        usize <= CodecCap.MaxBytes && localOff + 30 <= b.length &&
        b(localOff.toInt) == 'P' && b(localOff.toInt + 1) == 'K' &&
        b(localOff.toInt + 2) == 3 && b(localOff.toInt + 3) == 4) {
        val lp = localOff.toInt
        val lNameLen = u16(lp + 26)
        val lExtraLen = u16(lp + 28)
        val dataOff = lp + 30 + lNameLen + lExtraLen
        if (lNameLen >= 0 && lExtraLen >= 0 && csize >= 0 &&
          dataOff + csize <= b.length) {
          if (method == 0L) {
            if (csize == usize)
              recovered = java.util.Arrays.copyOfRange(b, dataOff,
                dataOff + csize.toInt)
          } else {
            val inf = new java.util.zip.Inflater(true)
            inf.setInput(b, dataOff, csize.toInt)
            val buf = new Array[Byte](usize.toInt)
            try {
              var got = 0
              var stuck = false
              while (got < usize && !inf.finished() && !stuck) {
                val k = inf.inflate(buf, got, usize.toInt - got)
                if (k > 0) got += k else stuck = true
              }
              // drive past the last byte so finished() is authoritative
              val probe = new Array[Byte](1)
              val extra = if (!inf.finished()) inf.inflate(probe) else 0
              if (got == usize && extra == 0 && inf.finished())
                recovered = buf
            } catch {
              case _: java.util.zip.DataFormatException => ()
            } finally inf.end()
          }
        }
      }
      // crc_ok = bytes recovered AND verified against the central
      // directory — never claimed for metadata-only rows
      var crcOk = false
      var content: String = null
      if (recovered != null) {
        val crc = new java.util.zip.CRC32()
        crc.update(recovered, 0, recovered.length)
        crcOk = crc.getValue == crcDeclared
        if (crcOk && usize <= 65536)
          content = new String(recovered, 0, recovered.length, "UTF-8")
      }
      out += ((name, method, usize, content, crcOk))
      q += 46 + nameLen + extraLen + commentLen
      i += 1
    }
    out.result()
  }

  /** WARC record walk (round 12) — the crawl-archive source itself:
    * per record, the WARC-Type / WARC-Target-URI / Content-Length
    * headers and (for response records carrying HTTP) the status
    * code; record bodies are SKIPPED by Content-Length (the 100 TB
    * contract — a WARC reader that scans bodies for separators
    * re-reads the archive). Any framing violation — bad version line,
    * missing Content-Length, body overrun, absent record terminator —
    * returns an EMPTY listing (fail loud: a partially-parsed archive
    * must not masquerade as a complete one). */
  final case class WarcRecordRow(doc_id: Long, rec_type: String,
    target_uri: String, content_length: Long, http_status: Long)

  private[graft] def warcRecordsJvm(b: Array[Byte])
      : IndexedSeq[(String, String, Long, Long)] = {
    val empty = Vector.empty[(String, String, Long, Long)]
    if (b == null || b.length < 9) return empty
    val out = Vector.newBuilder[(String, String, Long, Long)]
    var p = 0
    def line(from: Int): (String, Int) = {
      var q = from
      while (q + 1 < b.length && !(b(q) == '\r' && b(q + 1) == '\n'))
        q += 1
      if (q + 1 >= b.length) (null, -1)
      else (new String(b, from, q - from, "UTF-8"), q + 2)
    }
    while (p < b.length) {
      val (version, p1) = line(p)
      if (version == null || !version.startsWith("WARC/")) return empty
      var q = p1
      var recType = ""; var uri = ""; var clen = -1L
      var headersDone = false
      while (!headersDone) {
        val (l, nq) = line(q)
        if (l == null) return empty
        q = nq
        if (l.isEmpty) headersDone = true
        else {
          val i = l.indexOf(':')
          if (i > 0) {
            val k = l.substring(0, i).trim.toLowerCase
            val v = l.substring(i + 1).trim
            k match {
              case "warc-type" => recType = v
              case "warc-target-uri" => uri = v
              case "content-length" =>
                clen = try v.toLong catch { case _: Exception => -1L }
              case _ => ()
            }
          }
        }
      }
      if (clen < 0 || q + clen > b.length) return empty
      // HTTP status for response records carrying an HTTP payload
      var status = 0L
      if (recType == "response" && clen >= 12 &&
        new String(b, q, 5, "ISO-8859-1") == "HTTP/") {
        val sp = q + 9 // after "HTTP/1.1 "
        if (sp + 3 <= q + clen) {
          val st = new String(b, sp, 3, "ISO-8859-1")
          if (st.forall(_.isDigit)) status = st.toLong
        }
      }
      out += ((recType, uri, clen, status))
      p = q + clen.toInt
      // record terminator: \r\n\r\n
      if (p + 4 > b.length || b(p) != '\r' || b(p + 1) != '\n' ||
        b(p + 2) != '\r' || b(p + 3) != '\n') return empty
      p += 4
    }
    out.result()
  }

  /** HTTP response-body extraction out of WARC response records
    * (round 15) — the last hop of the actual Common Crawl text
    * pipeline: per response record, parse the HTTP/1.1 status line and
    * headers (Content-Type / Content-Encoding / Transfer-Encoding),
    * de-chunk a `Transfer-Encoding: chunked` payload, inflate a
    * `Content-Encoding: gzip` payload (full member walk, CRC + ISIZE
    * verified), and decode the bytes with the Content-Type charset
    * (utf-8 default; the latin-1 family and windows-1252 honored) —
    * yielding the page TEXT the html-strip / quality / dedup battery
    * runs on. WARC FRAMING violations empty the whole listing (the
    * [[warcRecordsJvm]] fail-loud discipline); a malformed HTTP
    * payload inside ONE record is PERMISSIVE — that row carries
    * body_len -1 and a NULL body_text so the rest of the archive
    * listing survives (one broken page must not sink a shard). */
  final case class WarcHttpRow(doc_id: Long, rec_idx: Long,
    target_uri: String, http_status: Long, content_type: String,
    content_encoding: String, transfer_encoding: String,
    body_len: Long, body: Array[Byte], body_text: String)

  /** Max decoded body size surfaced as TEXT (larger bodies keep their
    * real body_len but a NULL body_text — the 64 KiB content-cap
    * discipline of the other container walks, sized up for web pages). */
  private val MaxHttpTextBytes = 1 << 20

  /** Inflate a complete deflate stream (zlib-wrapped or raw) to its
    * end, 64 MiB bomb-guarded; null on any violation or trailing
    * garbage. */
  private def inflateFully(b: Array[Byte], raw: Boolean): Array[Byte] = {
    val inf = new java.util.zip.Inflater(raw)
    inf.setInput(b)
    val out = new java.io.ByteArrayOutputStream(math.min(
      math.max(64, b.length * 4), 1 << 20))
    val chunk = new Array[Byte](8192)
    try {
      var total = 0L
      while (!inf.finished()) {
        val n = inf.inflate(chunk)
        if (n > 0) {
          total += n
          if (total > CodecCap.MaxBytes) return null
          out.write(chunk, 0, n)
        } else if (!inf.finished()) return null // truncated/needs dict
      }
      if (inf.getRemaining > 0) return null // trailing garbage
      out.toByteArray
    } catch {
      case _: java.util.zip.DataFormatException => null
    } finally inf.end()
  }

  /** True for content types whose payload is TEXT (charset decode is
    * meaningful): the text family, the json/xml application types and
    * their `+json`/`+xml` suffix families, or an ABSENT content type
    * (many servers omit it; a wrong guess only mangles body_text —
    * the binary `body` column is always exact). */
  private def isTextualType(ctype: String): Boolean = {
    val lower = ctype.toLowerCase(java.util.Locale.ROOT)
    val main = { val i = lower.indexOf(';')
      (if (i >= 0) lower.substring(0, i) else lower).trim }
    main.isEmpty || main.startsWith("text/") ||
      main == "application/json" || main == "application/xml" ||
      main == "application/javascript" ||
      main.endsWith("+json") || main.endsWith("+xml")
  }

  private[graft] def warcHttpBodiesJvm(b: Array[Byte]): IndexedSeq[
      (Long, String, Long, String, String, String, Long, Array[Byte],
        String)] = {
    type Row = (Long, String, Long, String, String, String, Long,
      Array[Byte], String)
    val empty = Vector.empty[Row]
    if (b == null || b.length < 9) return empty
    val out = Vector.newBuilder[Row]
    var p = 0
    var recIdx = -1L
    def line(from: Int, until: Int): (String, Int) = {
      var q = from
      while (q + 1 < until && !(b(q) == '\r' && b(q + 1) == '\n')) q += 1
      if (q + 1 >= until) (null, -1)
      else (new String(b, from, q - from, "ISO-8859-1"), q + 2)
    }
    // De-chunk a Transfer-Encoding: chunked payload in b[from, until).
    // Returns null on any violation (hex size line, data overrun,
    // missing chunk CRLF, unterminated trailer section).
    def dechunk(from: Int, until: Int): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      var q = from
      var done = false
      while (!done) {
        val (sz, nq) = line(q, until)
        if (sz == null) return null
        val hexPart = { val i = sz.indexOf(';'); if (i >= 0) sz.substring(0, i) else sz }.trim
        if (hexPart.isEmpty || !hexPart.forall(c => Character.digit(c, 16) >= 0))
          return null
        val n = try java.lang.Long.parseLong(hexPart, 16)
          catch { case _: NumberFormatException => return null }
        if (n < 0 || n > CodecCap.MaxBytes ||
          buf.size + n > CodecCap.MaxBytes) return null
        q = nq
        if (n == 0L) {
          // trailer section: header lines until one empty line
          var trailersDone = false
          while (!trailersDone) {
            val (t, tq) = line(q, until)
            if (t == null) return null
            q = tq
            if (t.isEmpty) trailersDone = true
          }
          done = true
        } else {
          if (q + n + 2 > until) return null
          buf.write(b, q, n.toInt)
          q += n.toInt
          if (b(q) != '\r' || b(q + 1) != '\n') return null
          q += 2
        }
      }
      buf.toByteArray
    }
    def nameToCharset(name: String): java.nio.charset.Charset =
      name match {
        case "" | "utf-8" | "utf8" => java.nio.charset.StandardCharsets.UTF_8
        case "iso-8859-1" | "latin-1" | "latin1" | "us-ascii" | "ascii" =>
          java.nio.charset.StandardCharsets.ISO_8859_1
        case other =>
          try java.nio.charset.Charset.forName(other)
          catch { case _: Exception =>
            java.nio.charset.StandardCharsets.UTF_8 }
      }
    def headerCharsetName(ctype: String): String = {
      val lower = ctype.toLowerCase(java.util.Locale.ROOT)
      val i = lower.indexOf("charset=")
      if (i < 0) ""
      else {
        var v = lower.substring(i + 8).trim
        val j = v.indexOf(';'); if (j >= 0) v = v.substring(0, j)
        v.stripPrefix("\"").stripSuffix("\"").trim
      }
    }
    // `<meta charset=…>` / http-equiv sniff over the first 1 KiB
    // (ASCII-superset scan — a BOM-less UTF-16 meta is out of scope)
    def metaCharsetName(body: Array[Byte]): String = {
      val n = math.min(body.length, 1024)
      val head = new String(body, 0, n,
        java.nio.charset.StandardCharsets.ISO_8859_1)
        .toLowerCase(java.util.Locale.ROOT)
      var at = head.indexOf("<meta")
      while (at >= 0) {
        val end = head.indexOf('>', at)
        val span = if (end >= 0) head.substring(at, end)
          else head.substring(at)
        val c = span.indexOf("charset=")
        if (c >= 0) {
          var v = span.substring(c + 8).trim
          var k = 0
          if (v.startsWith("\"") || v.startsWith("'")) {
            val quote = v.charAt(0); v = v.substring(1)
            k = v.indexOf(quote); if (k < 0) k = v.length
          } else {
            k = v.indexWhere(ch => ch == ';' || ch == ' ' ||
              ch == '"' || ch == '\'' || ch == '/' || ch == '>')
            if (k < 0) k = v.length
          }
          return v.substring(0, k).trim
        }
        at = head.indexOf("<meta", at + 1)
      }
      ""
    }
    /** Charset decision (round 16 hardening): BOM is authoritative
      * (WHATWG precedence), then the Content-Type header, then a
      * `<meta charset>` declaration, then the UTF-8 default. Returns
      * (charset, bomBytesToSkip) — the BOM never reaches the text. */
    def detectCharset(decoded: Array[Byte], ctype: String)
        : (java.nio.charset.Charset, Int) = {
      if (decoded.length >= 3 && (decoded(0) & 0xff) == 0xef &&
        (decoded(1) & 0xff) == 0xbb && (decoded(2) & 0xff) == 0xbf)
        (java.nio.charset.StandardCharsets.UTF_8, 3)
      else if (decoded.length >= 2 && (decoded(0) & 0xff) == 0xff &&
        (decoded(1) & 0xff) == 0xfe)
        (java.nio.charset.StandardCharsets.UTF_16LE, 2)
      else if (decoded.length >= 2 && (decoded(0) & 0xff) == 0xfe &&
        (decoded(1) & 0xff) == 0xff)
        (java.nio.charset.StandardCharsets.UTF_16BE, 2)
      else {
        val fromHeader = headerCharsetName(ctype)
        val name =
          if (fromHeader.nonEmpty) fromHeader
          else metaCharsetName(decoded)
        (nameToCharset(name), 0)
      }
    }
    while (p < b.length) {
      val (version, p1) = line(p, b.length)
      if (version == null || !version.startsWith("WARC/")) return empty
      var q = p1
      var recType = ""; var uri = ""; var clen = -1L
      var headersDone = false
      while (!headersDone) {
        val (l, nq) = line(q, b.length)
        if (l == null) return empty
        q = nq
        if (l.isEmpty) headersDone = true
        else {
          val i = l.indexOf(':')
          if (i > 0) {
            val k = l.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)
            val v = l.substring(i + 1).trim
            k match {
              case "warc-type" => recType = v
              case "warc-target-uri" => uri = v
              case "content-length" =>
                clen = try v.toLong catch { case _: Exception => -1L }
              case _ => ()
            }
          }
        }
      }
      if (clen < 0 || q + clen > b.length) return empty
      recIdx += 1
      if (recType == "response") {
        val recEnd = q + clen.toInt
        // HTTP head: status line + headers until the blank line —
        // everything PERMISSIVE from here down (body_len -1 row).
        var status = 0L; var ctype = ""; var cenc = ""; var tenc = ""
        var bodyLen = -1L
        var bodyBytes: Array[Byte] = null
        var bodyText: String = null
        val (statusLine, h1) = line(q, recEnd)
        if (statusLine != null && statusLine.startsWith("HTTP/") &&
            statusLine.length >= 12) {
          val sp = statusLine.indexOf(' ')
          val st =
            if (sp > 0 && sp + 4 <= statusLine.length)
              statusLine.substring(sp + 1, sp + 4) else ""
          if (st.length == 3 && st.forall(_.isDigit)) {
            status = st.toLong
            var hq = h1
            var httpHeadOk = true
            var httpHeadersDone = false
            while (!httpHeadersDone && httpHeadOk) {
              val (l, nq) = line(hq, recEnd)
              if (l == null) httpHeadOk = false
              else {
                hq = nq
                if (l.isEmpty) httpHeadersDone = true
                else {
                  val i = l.indexOf(':')
                  if (i > 0) {
                    val k = l.substring(0, i).trim
                      .toLowerCase(java.util.Locale.ROOT)
                    val v = l.substring(i + 1).trim
                    k match {
                      case "content-type" => ctype = v
                      case "content-encoding" =>
                        cenc = v.toLowerCase(java.util.Locale.ROOT)
                      case "transfer-encoding" =>
                        tenc = v.toLowerCase(java.util.Locale.ROOT)
                      case _ => ()
                    }
                  }
                }
              }
            }
            if (httpHeadOk && httpHeadersDone) {
              // transport decode: de-chunk first (wire layer), then
              // content decode (gzip) — RFC 9112 §6 ordering
              val transport: Array[Byte] =
                if (tenc.contains("chunked")) dechunk(hq, recEnd)
                else java.util.Arrays.copyOfRange(b, hq, recEnd)
              val decoded: Array[Byte] =
                if (transport == null) null
                else if (cenc == "gzip" || cenc == "x-gzip")
                  gzipWalkJvm(transport) match {
                    case Some(ms) if ms.nonEmpty && ms.forall(_._5) =>
                      if (ms.length == 1) ms.head._4
                      else {
                        val buf = new java.io.ByteArrayOutputStream()
                        ms.foreach(m => buf.write(m._4, 0, m._4.length))
                        buf.toByteArray
                      }
                    case _ => null
                  }
                else if (cenc == "deflate")
                  // zlib-wrapped per RFC 9110; real servers also ship
                  // raw deflate under this name — try zlib first, raw
                  // second (the lenient-client behavior)
                  inflateFully(transport, raw = false) match {
                    case null => inflateFully(transport, raw = true)
                    case ok => ok
                  }
                else if (cenc == "zstd")
                  // RFC 8878 in HTTP (round 16), decoded by libzstd
                  ZstdDecode.decompress(transport).orNull
                else if (cenc.isEmpty || cenc == "identity") transport
                else null // unsupported coding (br, …): PERMISSIVE row
              if (decoded != null) {
                bodyLen = decoded.length.toLong
                if (decoded.length <= MaxHttpTextBytes) {
                  bodyBytes = decoded
                  if (isTextualType(ctype)) {
                    val (cs, skip) = detectCharset(decoded, ctype)
                    bodyText = new String(decoded, skip,
                      decoded.length - skip, cs)
                  }
                }
              }
            }
          }
        }
        out += ((recIdx, uri, status, ctype, cenc, tenc, bodyLen,
          bodyBytes, bodyText))
      }
      p = q + clen.toInt
      if (p + 4 > b.length || b(p) != '\r' || b(p + 1) != '\n' ||
        b(p + 2) != '\r' || b(p + 3) != '\n') return empty
      p += 4
    }
    out.result()
  }

  /** [[warcHttpBodiesJvm]] over a `.warc.zst` blob — decompress via
    * [[ZstdDecode.decompressDictAware]] (IIPC dictionary frames
    * honored) and run the HTTP body walk: the one-plan Common Crawl
    * composition `.warc.zst → HTTP body → text`. */
  private[graft] def warcZstHttpBodiesJvm(b: Array[Byte]): IndexedSeq[
      (Long, String, Long, String, String, String, Long, Array[Byte],
        String)] =
    ZstdDecode.decompressDictAware(b) match {
      case Some(buf) => warcHttpBodiesJvm(buf)
      case None => Vector.empty
    }

  /** TAR entry walk (round 12) — WebDataset shards (the multimodal
    * training-data loader format) are plain tars: per 512-byte header,
    * name / octal size / typeflag, CHECKSUM VERIFIED (header summed
    * with the checksum field as spaces — corrupt headers fail loud),
    * content skipped by size rounded to the block, extracted as UTF-8
    * for small regular files. A zero block terminates. */
  final case class TarEntryRow(doc_id: Long, name: String, size: Long,
    typeflag: String, content: String)

  /** One row per TAR entry with its CONTENT BYTE RANGE instead of
    * extracted content — the WebDataset loader shape: the walk stays
    * metadata-speed and the caller slices exactly the members it
    * wants (`substr` = the ranged GET), e.g. routing image members
    * through the raster front door without stringifying bytes. */
  final case class TarEntryRangeRow(doc_id: Long, name: String,
    offset: Long, size: Long, typeflag: String)

  private[graft] def tarEntriesJvm(b: Array[Byte])
      : IndexedSeq[(String, Long, String, String)] =
    tarWalkJvm(b).map { case (name, size, tf, dataOff) =>
      val content =
        if (tf == "0" && size <= 4096)
          new String(b, dataOff.toInt, size.toInt, "UTF-8")
        else null
      (name, size, tf, content)
    }

  private[graft] def tarEntryRangesJvm(b: Array[Byte])
      : IndexedSeq[(String, Long, Long, String)] =
    tarWalkJvm(b).map { case (name, size, tf, dataOff) =>
      (name, dataOff, size, tf)
    }

  /** Core TAR walk: (name, size, typeflag, data offset) per entry. */
  private[graft] def tarWalkJvm(b: Array[Byte])
      : IndexedSeq[(String, Long, String, Long)] = {
    val empty = Vector.empty[(String, Long, String, Long)]
    if (b == null || b.length < 512) return empty
    def octal(p: Int, len: Int): Long = {
      var v = 0L; var i = p; var seen = false
      while (i < p + len) {
        val c = b(i) & 0xff
        if (c >= '0' && c <= '7') { v = v * 8 + (c - '0'); seen = true }
        else if (c == 0 || c == ' ') { if (seen) i = p + len }
        else return -1L
        i += 1
      }
      if (seen) v else -1L
    }
    def cstr(p: Int, len: Int): String = {
      var e = p
      while (e < p + len && b(e) != 0) e += 1
      new String(b, p, e - p, "UTF-8")
    }
    val out = Vector.newBuilder[(String, Long, String, Long)]
    var p = 0
    var done = false
    while (!done) {
      if (p + 512 > b.length) return empty
      var allZero = true
      var i = p
      while (allZero && i < p + 512) { if (b(i) != 0) allZero = false; i += 1 }
      if (allZero) { done = true }
      else {
        // checksum: header summed with bytes 148..155 as spaces
        var sum = 0L
        i = p
        while (i < p + 512) {
          sum += (if (i >= p + 148 && i < p + 156) 0x20L
            else (b(i) & 0xffL))
          i += 1
        }
        val declared = octal(p + 148, 8)
        if (declared < 0 || declared != sum) return empty
        val name = cstr(p, 100)
        val size = octal(p + 124, 12)
        if (name.isEmpty || size < 0) return empty
        val tf = {
          val c = b(p + 156) & 0xff
          if (c == 0) "0" else String.valueOf(c.toChar)
        }
        val dataOff = p + 512
        val blocks = ((size + 511) / 512).toInt
        if (dataOff + blocks * 512L > b.length) return empty
        out += ((name, size, tf, dataOff.toLong))
        p = dataOff + blocks * 512
      }
    }
    out.result()
  }

  /** GZIP member walk (round 12, multi-member round 13) — per member:
    * header metadata (FNAME, mtime) plus a REAL inflate of the deflate
    * stream via `java.util.zip.Inflater` (the PNG discipline), the
    * member boundary recovered from the inflater's consumed-byte count
    * (`getRemaining` after `finished`), and the 8-byte trailer CRC32 +
    * ISIZE verified against the inflated bytes. Concatenated members —
    * the layout `.warc.gz` and pigz actually ship — walk to one row
    * each. A CRC mismatch flags that member (`crc_ok=false`) WITHOUT
    * killing the listing (the boundary is still sound); a STRUCTURAL
    * violation — bad magic, broken deflate stream, ISIZE disagreeing
    * with the inflated length, truncated trailer — returns an EMPTY
    * listing (fail loud, the WARC-walk discipline). Content extracted
    * as UTF-8 for small members (≤ 64 KiB), NULL beyond. */
  final case class GzipMemberRow(doc_id: Long, fname: String,
    mtime: Long, isize: Long, content: String, crc_ok: Boolean)

  /** One row per gzip member: (member_idx, fname, mtime, isize,
    * content, crc_ok). */
  final case class GzipMembersRow(doc_id: Long, member_idx: Long,
    fname: String, mtime: Long, isize: Long, content: String,
    crc_ok: Boolean)

  /** Core walk: per member (fname, mtime, isize, inflated bytes,
    * crc_ok); None on any structural violation. Total inflated output
    * capped at 64 MiB (a decompression bomb must not OOM an executor —
    * cap exceeded is a structural failure, not a silent truncation). */
  private[graft] def gzipWalkJvm(b: Array[Byte])
      : Option[Vector[(String, Long, Long, Array[Byte], Boolean)]] = {
    if (b == null || b.length < 18) return None
    def u16(p: Int): Int = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
    def u32(p: Int): Long = (u16(p) & 0xffffL) | ((u16(p + 2) & 0xffffL) << 16)
    val out = Vector.newBuilder[(String, Long, Long, Array[Byte], Boolean)]
    var p = 0
    var totalOut = 0L
    while (p < b.length) {
      if (p + 18 > b.length || (b(p) & 0xff) != 0x1f ||
        (b(p + 1) & 0xff) != 0x8b || (b(p + 2) & 0xff) != 8) return None
      val flg = b(p + 3) & 0xff
      val mtime = u32(p + 4)
      var q = p + 10
      if ((flg & 0x04) != 0) { // FEXTRA
        if (q + 2 > b.length) return None
        q += 2 + u16(q)
      }
      var fname = ""
      if ((flg & 0x08) != 0) { // FNAME, zero-terminated
        val start = q
        while (q < b.length && b(q) != 0) q += 1
        if (q >= b.length) return None
        fname = new String(b, start, q - start, "ISO-8859-1")
        q += 1
      }
      if ((flg & 0x10) != 0) { // FCOMMENT
        while (q < b.length && b(q) != 0) q += 1
        if (q >= b.length) return None
        q += 1
      }
      if ((flg & 0x02) != 0) q += 2 // FHCRC
      if (q + 8 > b.length) return None
      val inf = new java.util.zip.Inflater(true)
      inf.setInput(b, q, b.length - q)
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var clean = true
      try {
        while (!inf.finished() && clean) {
          val n = inf.inflate(chunk)
          if (n > 0) {
            totalOut += n
            if (totalOut > CodecCap.MaxBytes) return None
            buf.write(chunk, 0, n)
          } else if (!inf.finished()) clean = false // needs input: truncated
        }
      } catch { case _: java.util.zip.DataFormatException => clean = false }
      // member boundary: bytes the inflater actually consumed
      val consumed = (b.length - q) - inf.getRemaining
      inf.end()
      if (!clean) return None
      val trailerOff = q + consumed
      if (trailerOff + 8 > b.length) return None
      val crcDeclared = u32(trailerOff)
      val isize = u32(trailerOff + 4)
      val payload = buf.toByteArray
      // ISIZE is the uncompressed length mod 2^32 — a mismatch means a
      // mis-framed member (structural), unlike a CRC mismatch (content)
      if ((payload.length.toLong & 0xffffffffL) != isize) return None
      val crc = new java.util.zip.CRC32()
      crc.update(payload, 0, payload.length)
      out += ((fname, mtime, isize, payload, crc.getValue == crcDeclared))
      p = trailerOff + 8
    }
    Some(out.result())
  }

  private def gzipContentOf(payload: Array[Byte]): String =
    if (payload.length <= 65536) new String(payload, 0, payload.length,
      "UTF-8")
    else null

  /** First member of a (possibly multi-member) gzip stream — the
    * round-12 single-member surface, now a view over [[gzipWalkJvm]]. */
  private[graft] def gzipMemberJvm(b: Array[Byte])
      : Option[(String, Long, Long, String, Boolean)] =
    gzipWalkJvm(b).flatMap(_.headOption).map { case (f, mt, isz, pay, ok) =>
      (f, mt, isz, gzipContentOf(pay), ok)
    }

  /** All members of a concatenated gzip stream, one tuple per member. */
  private[graft] def gzipMembersJvm(b: Array[Byte])
      : IndexedSeq[(Long, String, Long, Long, String, Boolean)] =
    gzipWalkJvm(b) match {
      case Some(ms) => ms.zipWithIndex.map {
        case ((f, mt, isz, pay, ok), i) =>
          (i.toLong, f, mt, isz, gzipContentOf(pay), ok)
      }
      case None => Vector.empty
    }

  /** WARC records out of a `.warc.gz` blob — the Common Crawl layout
    * (one gzip member per WARC record, concatenated): inflate every
    * member (CRC-verified — a corrupt member fails the whole listing
    * loud, since its records can't be trusted), concatenate the
    * payloads, and run the standard WARC record walk over the result.
    * A `.warc.gz` therefore yields exactly its uncompressed twin's
    * listing. */
  private[graft] def warcGzRecordsJvm(b: Array[Byte])
      : IndexedSeq[(String, String, Long, Long)] =
    gzipWalkJvm(b) match {
      case Some(ms) if ms.nonEmpty && ms.forall(_._5) =>
        val total = ms.map(_._4.length.toLong).sum
        if (total > CodecCap.MaxBytes) Vector.empty
        else {
          val buf = new Array[Byte](total.toInt)
          var off = 0
          ms.foreach { m =>
            System.arraycopy(m._4, 0, buf, off, m._4.length)
            off += m._4.length
          }
          warcRecordsJvm(buf)
        }
      case _ => Vector.empty
    }

  /** Batch GZIP member metadata + inflate (native expression). */
  def extractGzipMember(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[GzipMemberRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    barrierExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.gzipMemberCol).as[GzipMemberRow]
  }

  /** Batch multi-member GZIP walk (native array-kernel expression,
    * one output row per member). */
  def extractGzipMembers(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[GzipMembersRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.gzipMembersCol).as[GzipMembersRow]
  }

  /** Batch `.warc.gz` record listing (native array-kernel expression):
    * inflate the concatenated per-record gzip members, then the WARC
    * record walk — one output row per record, same schema as
    * [[extractWarcRecords]] on the uncompressed twin. */
  def extractWarcGzRecords(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[WarcRecordRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.warcGzRecordsCol).as[WarcRecordRow]
  }

  /** One row per bzip2 stream member (see
    * [[graft.operators.Bzip2Decode.membersJvm]]). */
  final case class Bz2MemberRow(doc_id: Long, member_idx: Long,
    level: Long, n_blocks: Long, usize: Long, content: String,
    crc_ok: Boolean, compressed_len: Long)

  /** Batch multi-stream bzip2 walk (native array-kernel expression,
    * one output row per stream member; commons-compress decodes, the
    * libbz2 golden vectors pin the bytes). */
  def extractBz2Members(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[Bz2MemberRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.bz2MembersCol).as[Bz2MemberRow]
  }

  /** One row per XZ stream member (see
    * [[graft.operators.XzDecode.membersJvm]]). */
  final case class XzMemberRow(doc_id: Long, member_idx: Long,
    check: String, n_blocks: Long, usize: Long, content: String,
    checks_ok: Boolean, compressed_len: Long)

  /** Batch multi-stream XZ walk (native array-kernel expression, one
    * output row per stream member; tukaani xz decodes each stream). */
  def extractXzMembers(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[XzMemberRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.xzMembersCol).as[XzMemberRow]
  }

  /** Batch `.tar.xz` entry listing (native array-kernel expression):
    * full XZ decompression, then the TAR entry walk — one output row
    * per entry, same schema as [[extractTarEntries]] on the
    * uncompressed twin. */
  def extractTarXzEntries(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[TarEntryRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.tarXzEntriesCol).as[TarEntryRow]
  }

  /** One row per TFRecord frame (see
    * [[graft.operators.TfRecord.recordsJvm]]); payloads stay BINARY
    * so tf.Example protobufs survive intact. */
  final case class TfRecordRow(doc_id: Long, rec_idx: Long,
    length: Long, data_crc_ok: Boolean, payload: Array[Byte])

  /** Batch TFRecord framing walk (native array-kernel expression, one
    * output row per record; masked CRC-32C verified). */
  def extractTfRecords(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[TfRecordRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.tfRecordsCol).as[TfRecordRow]
  }

  /** Batch `.tar.gz` / `.tar.bz2` entry listings (native array-kernel
    * expressions; same schema as [[extractTarEntries]]). */
  def extractTarGzEntries(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[TarEntryRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.tarGzEntriesCol).as[TarEntryRow]
  }

  def extractTarBz2Entries(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[TarEntryRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.tarBz2EntriesCol).as[TarEntryRow]
  }

  /** One row per MediaWiki `<page>` (see
    * [[graft.operators.WikiDump.pagesJvm]]). */
  final case class WikiPageRow(doc_id: Long, page_idx: Long,
    page_id: Long, ns: Long, title: String, redirect: String,
    text: String, text_bytes: Long)

  /** Batch MediaWiki dump page walk (native array-kernel expression):
    * `.xml.bz2` multistream blobs decompress first; plain XML passes
    * straight through — one output row per page either way. */
  def extractWikiPages(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[WikiPageRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.wikiPagesCol).as[WikiPageRow]
  }

  /** Batch TAR entry listing (native array-kernel expression, one
    * output row per entry). */
  def extractTarEntries(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[TarEntryRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.tarEntriesCol).as[TarEntryRow]
  }

  /** Batch TAR entry byte-range listing (native array-kernel
    * expression, one output row per entry — no content extraction). */
  def extractTarEntryRanges(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[TarEntryRangeRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.tarEntryRangesCol).as[TarEntryRangeRow]
  }

  /** WebDataset sample assembly — the loader shape the TAR walk was
    * built for: members of one shard grouped by SAMPLE KEY (the
    * basename before its first '.', the WebDataset convention — a
    * sample is `xxx.jpg` + `xxx.txt` + …), the text member carried as
    * a caption column, the image member routed through the
    * mixed-format raster front door. Returns one row per sample:
    * (id, key, caption, image struct = [[AnyRasterRow]] minus id).
    *
    * 100 TB design: the tar walk emits byte RANGES, not content — the
    * image member is sliced out with substr (binary-safe, never
    * stringified), so the exploded rows carry member-sized slices,
    * not the whole shard per member. The groupBy shuffles those
    * slices clustered by (shard, key) — member bytes move once — and
    * the decode runs ONCE per assembled sample after the aggregation,
    * pinned behind a Generate barrier (explode(array(…))) so
    * CollapseProject cannot inline one decode per projected field. */
  def assembleWebdatasetSamples(df: DataFrame, idCol: String,
      blobCol: String = "blob"): DataFrame = {
    val rasterExts =
      Seq("bmp", "png", "gif", "jpg", "jpeg", "webp", "tif", "tiff")
    val entries = df.select(col(idCol), col(blobCol),
        explode(graft.plans.MediaExprs.tarEntryRangesCol(col(blobCol)))
          .as("e"))
      .select(col(idCol),
        substring_index(col("e.name"), ".", 1).as("key"),
        lower(substring_index(col("e.name"), ".", -1)).as("ext"),
        col(blobCol).substr((col("e.offset") + 1L).cast("int"),
          col("e.size").cast("int")).as("bytes"))
    val samples = entries.groupBy(col(idCol), col("key")).agg(
      max(when(col("ext") === "txt", col("bytes").cast("string")))
        .as("caption"),
      max(when(col("ext").isin(rasterExts: _*), col("bytes"))).as("img"))
    samples.select(col(idCol), col("key"), col("caption"),
      explode(array(anyRasterCol(col("img")))).as("image"))
  }

  // ---- zstd frame walk (round 13) ----

  /** One row per zstd or skippable frame in a concatenated stream. */
  final case class ZstdFrameRow(doc_id: Long, frame_idx: Long,
    kind: String, window_size: Long, dict_id: Long, content_size: Long,
    n_blocks: Long, compressed_len: Long, has_checksum: Boolean,
    content: String, checksum_ok: java.lang.Boolean)

  /** Zstandard frame walk (RFC 8878) — the `.warc.zst`
    * routing/splitting story: Common Crawl's zstd layout
    * concatenates skippable frames (shared-dictionary carrier) with
    * data frames, and a 100 TB ingest wants frame boundaries, window
    * sizes, dictionary ids, and declared content sizes BEFORE
    * committing decoder resources — all of which live in headers and
    * block-length chains this walk reads with zero entropy decoding.
    * Per frame: kind (`zstd`/`skippable`), window size (the
    * Window_Descriptor exponent/mantissa arithmetic, or the frame
    * content size under Single_Segment), dictionary id (0 = none),
    * declared content size (-1 = unknown), block count, total frame
    * byte length, and the checksum flag. Frames whose blocks are ALL
    * Raw/RLE additionally EXTRACT their content (≤ 64 KiB, the stored-
    * deflate discipline — real zstd fixtures are closed-form
    * constructible in-plan without an entropy coder) and, when the
    * frame carries a Content_Checksum, VERIFY it (low 32 bits of
    * XXH64(content, seed 0) — Spark's own XXH64, matching RFC 8878
    * §4.1; the empty-input vector 0xEF46DB3751D8E999 is spec-pinned);
    * frames with Compressed blocks are decoded by libzstd
    * ([[ZstdDecode.decodeFrame]]); one that fails to decode keeps its
    * metadata row with NULL content. Structural violations —
    * bad magic, set Reserved_bit, Reserved block type, any truncation
    * — return an EMPTY listing (fail loud, the WARC-walk rule). */
  private[graft] def zstdFramesJvm(b: Array[Byte]): IndexedSeq[(String,
      Long, Long, Long, Long, Long, Boolean, Array[Byte],
      java.lang.Boolean)] = {
    val empty = Vector.empty[(String, Long, Long, Long, Long, Long,
      Boolean, Array[Byte], java.lang.Boolean)]
    if (b == null || b.length < 4) return empty
    def u32(p: Int): Long =
      (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
        ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
    val out = Vector.newBuilder[(String, Long, Long, Long, Long, Long,
      Boolean, Array[Byte], java.lang.Boolean)]
    var p = 0
    while (p < b.length) {
      if (p + 4 > b.length) return empty
      val magic = u32(p)
      if ((magic & 0xfffffff0L) == 0x184d2a50L) {
        // skippable frame: 4-byte LE size + opaque payload
        if (p + 8 > b.length) return empty
        val n = u32(p + 4)
        if (n < 0 || p + 8 + n > b.length) return empty
        out += (("skippable", 0L, 0L, n, 0L, (8 + n), false, null, null))
        p += (8 + n).toInt
      } else if (magic == 0xfd2fb528L) {
        val start = p
        if (p + 5 > b.length) return empty
        val desc = b(p + 4) & 0xff
        if ((desc & 0x08) != 0) return empty // Reserved_bit MUST be 0
        val fcsFlag = (desc >> 6) & 3
        val singleSegment = (desc & 0x20) != 0
        val hasChecksum = (desc & 0x04) != 0
        val didFlag = desc & 3
        var q = p + 5
        var windowSize = 0L
        if (!singleSegment) {
          if (q >= b.length) return empty
          val wd = b(q) & 0xff
          val base = 1L << (10 + (wd >> 3))
          windowSize = base + (base >> 3) * (wd & 7)
          q += 1
        }
        val didLen = didFlag match {
          case 0 => 0; case 1 => 1; case 2 => 2; case _ => 4
        }
        if (q + didLen > b.length) return empty
        var dictId = 0L
        var i = 0
        while (i < didLen) {
          dictId |= (b(q + i) & 0xffL) << (8 * i); i += 1
        }
        q += didLen
        val fcsLen = fcsFlag match {
          case 0 => if (singleSegment) 1 else 0
          case 1 => 2; case 2 => 4; case _ => 8
        }
        if (q + fcsLen > b.length) return empty
        var contentSize = -1L
        if (fcsLen > 0) {
          contentSize = 0L
          i = 0
          while (i < fcsLen) {
            contentSize |= (b(q + i) & 0xffL) << (8 * i); i += 1
          }
          if (fcsLen == 2) contentSize += 256L
        }
        q += fcsLen
        if (singleSegment) windowSize = contentSize
        // block chain: 3-byte LE header — last | type<<1 | size<<3
        var nBlocks = 0L
        var allStored = true
        val content = new java.io.ByteArrayOutputStream()
        var last = false
        while (!last) {
          if (q + 3 > b.length) return empty
          val hdr = (b(q) & 0xffL) | ((b(q + 1) & 0xffL) << 8) |
            ((b(q + 2) & 0xffL) << 16)
          q += 3
          last = (hdr & 1L) != 0
          val btype = ((hdr >> 1) & 3L).toInt
          val bsize = (hdr >> 3).toInt
          nBlocks += 1
          btype match {
            case 0 => // Raw
              if (q + bsize > b.length) return empty
              if (allStored && content.size() + bsize <= (1 << 16))
                content.write(b, q, bsize)
              else allStored = false
              q += bsize
            case 1 => // RLE: one byte, regenerated bsize times
              if (q >= b.length) return empty
              if (allStored && content.size() + bsize <= (1 << 16)) {
                val run = new Array[Byte](bsize)
                java.util.Arrays.fill(run, b(q))
                content.write(run, 0, bsize)
              } else allStored = false
              q += 1
            case 2 => // Compressed: metadata only
              if (q + bsize > b.length) return empty
              allStored = false
              q += bsize
            case _ => return empty // Reserved block type
          }
        }
        var checksumOk: java.lang.Boolean = null
        if (hasChecksum) {
          if (q + 4 > b.length) return empty
          if (allStored) {
            val c = content.toByteArray
            val h = org.apache.spark.sql.catalyst.expressions.XXH64
              .hashUnsafeBytes(c,
                org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
                c.length, 0L)
            checksumOk = java.lang.Boolean.valueOf(
              (h & 0xffffffffL) == u32(q))
          }
          q += 4
        }
        var payload =
          if (allStored &&
            (contentSize < 0 || contentSize == content.size()))
            content.toByteArray
          else null
        // a declared content size contradicted by stored blocks is
        // structural (fail loud) — sizes are the walk's whole product
        if (allStored && contentSize >= 0 &&
          contentSize != content.size()) return empty
        // Compressed blocks: libzstd decodes the frame
        // ([[ZstdDecode.decodeFrame]]). Success
        // yields the content (the frame's own checksum verified inside
        // when present); failure keeps the metadata row with NULL
        // content — the walk's framing is sound either way.
        if (!allStored) ZstdDecode.decodeFrame(b, start) match {
          case Some((c, consumed)) if consumed == (q - start) =>
            if (c.length <= (1 << 16)) payload = c
            if (hasChecksum) checksumOk = java.lang.Boolean.TRUE
          case _ => ()
        }
        out += (("zstd", windowSize, dictId, contentSize, nBlocks,
          (q - start).toLong, hasChecksum, payload, checksumOk))
        p = q
      } else return empty
    }
    out.result()
  }

  /** Batch zstd frame walk (native array-kernel expression, one output
    * row per frame). */
  def extractZstdFrames(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[ZstdFrameRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.zstdFramesCol).as[ZstdFrameRow]
  }

  /** One row per LZ4 frame (or skippable frame) of a concatenated
    * stream (see [[Lz4Snappy.lz4FramesJvm]]). */
  final case class Lz4FrameRow(doc_id: Long, frame_idx: Long,
    kind: String, block_indep: Boolean, content_checksum: Boolean,
    content_size: Long, n_blocks: Long, compressed_len: Long,
    content: String, checksum_ok: java.lang.Boolean)

  /** Batch LZ4 frame walk (native array-kernel expression, one output
    * row per frame; golden-pinned decoder). */
  def extractLz4Frames(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[Lz4FrameRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.lz4FramesCol).as[Lz4FrameRow]
  }

  /** One row per RecordBatch v2 of a dumped Kafka segment (see
    * [[KafkaSegment.batchesJvm]]). */
  final case class KafkaBatchRow(doc_id: Long, base_offset: Long,
    records_count: Long, codec: String, crc_ok: Boolean,
    transactional: Boolean, control: Boolean, base_timestamp: Long,
    max_timestamp: Long, batch_bytes: Long)

  /** One row per Kafka record (see [[KafkaSegment.recordsJvm]]);
    * values stay BINARY so Avro/protobuf bodies survive intact. */
  final case class KafkaRecordRow(doc_id: Long, offset: Long,
    timestamp: Long, key: String, value: Array[Byte], n_headers: Long,
    codec: String)

  /** Batch Kafka RecordBatch v2 metadata walk (native array-kernel
    * expression, one output row per batch; CRC-32C verified). */
  def extractKafkaBatches(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[KafkaBatchRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.kafkaBatchesCol).as[KafkaBatchRow]
  }

  /** Batch Kafka record walk (native array-kernel expression, one
    * output row per record, codec-decompressed). */
  def extractKafkaRecords(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[KafkaRecordRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.kafkaRecordsCol).as[KafkaRecordRow]
  }

  /** Decoded Snappy raw block: content (≤ 64 KiB as UTF-8) + size. */
  final case class SnappyRow(doc_id: Long, usize: Long, content: String)

  /** Batch Snappy raw-block decode (native-expression projection, NULL
    * struct for undecodable payloads; aircompressor decodes, the
    * reference-encoder golden vectors pin the bytes). */
  def extractSnappy(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[SnappyRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    barrierExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.snappyCol).as[SnappyRow]
  }

  /** WARC records out of a `.warc.zst` blob — Common Crawl's current
    * layout (one zstd frame per record or record-batch, concatenated;
    * per the IIPC WARC/1.1 zstd annex a leading `0x184D2A5D` skippable
    * frame may carry a dictionary, raw or itself zstd-compressed, that
    * every record frame references): decompress via
    * [[ZstdDecode.decompressDictAware]] (libzstd, with the in-band
    * dictionary harvest) and run the standard WARC record walk
    * over the result, the exact [[warcGzRecordsJvm]] discipline on the
    * newer wire format. Frames whose dictionary is missing or wrong,
    * any structural violation, or a checksum mismatch fail the whole
    * listing loud — records from a stream that didn't fully decode
    * can't be trusted. */
  private[graft] def warcZstRecordsJvm(b: Array[Byte])
      : IndexedSeq[(String, String, Long, Long)] =
    ZstdDecode.decompressDictAware(b) match {
      case Some(buf) => warcRecordsJvm(buf)
      case None => Vector.empty
    }

  /** Batch `.warc.zst` record listing (native array-kernel expression,
    * one output row per WARC record). */
  def extractWarcZstRecords(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[WarcRecordRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.warcZstRecordsCol).as[WarcRecordRow]
  }

  /** Batch WARC record listing (native array-kernel expression, one
    * output row per record). */
  def extractWarcRecords(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[WarcRecordRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.warcRecordsCol).as[WarcRecordRow]
  }

  /** Batch HTTP response-body extraction over plain WARC blobs (native
    * array-kernel expression, one output row per RESPONSE record:
    * status, Content-Type, transport/content codings, decoded body
    * text). */
  def extractWarcHttpBodies(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[WarcHttpRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.warcHttpBodiesCol).as[WarcHttpRow]
  }

  /** [[extractWarcHttpBodies]] over `.warc.zst` blobs — the whole
    * Common Crawl text pipeline (`.warc.zst` → de-chunk → gunzip →
    * charset decode) in one declarative plan. */
  def extractWarcZstHttpBodies(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[WarcHttpRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.warcZstHttpBodiesCol).as[WarcHttpRow]
  }

  /** One extracted PDF page (round 16). */
  final case class PdfPageRow(doc_id: Long, page_idx: Long,
    n_shows: Long, text: String, declined: String)

  /** Batch PDF text extraction (native array-kernel expression, one
    * output row per page) — [[PdfText]]'s classic-core parse behind
    * the PERMISSIVE barrier. */
  def extractPdfPages(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[PdfPageRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.pdfPagesCol).as[PdfPageRow]
  }

  /** One PDF document-metadata row (round 16). */
  final case class PdfMetaRow(doc_id: Long, version: String,
    n_pages: Long, title: String, author: String, via_scan: Boolean,
    reason: String)

  /** Batch PDF document metadata (native expression projection):
    * header version, page count, Info title/author
    * (UTF-16BE-BOM-aware), scan-fallback flag. */
  def extractPdfMeta(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[PdfMetaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id"), explode(array(
        graft.plans.MediaExprs.pdfMetaCol(col(blobCol)))).as("m"))
      .select(col("doc_id"), col("m.*"))
      .as[PdfMetaRow]
  }

  /** Batch ZIP entry listing + STORED extraction (native array-kernel
    * expression, one output row per archive entry). */
  def extractZipEntries(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[ZipEntryRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.zipEntriesCol).as[ZipEntryRow]
  }

  /** Batch ID3 text extraction (native-expression projection). */
  def extractId3Text(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[Id3TextRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    barrierExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.id3TextCol).as[Id3TextRow]
  }

  /** Batch EXIF orientation (native-expression projection). */
  def extractExifMeta(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[ExifMetaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    barrierExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.exifMetaCol).as[ExifMetaRow]
  }

  /** Batch OGG metadata (native-expression projection, NULL for
    * non-OGG / malformed payloads). */
  def extractOggMeta(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[OggMetaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    barrierExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.oggMetaCol).as[OggMetaRow]
  }

  /** Batch AVIF metadata (native-expression projection, NULL for
    * non-AVIF / malformed payloads). */
  def extractAvifMeta(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[AvifMetaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    barrierExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.avifMetaCol).as[AvifMetaRow]
  }

  /** Batch PNG/APNG metadata (native-expression projection, NULL for
    * non-PNG / malformed payloads). */
  def extractPngMeta(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[PngMetaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    barrierExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.pngMetaCol).as[PngMetaRow]
  }

  /** Batch GIF metadata (native-expression projection, NULL for
    * non-GIF / malformed payloads). */
  def extractGifMeta(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[GifMetaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    barrierExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.gifMetaCol).as[GifMetaRow]
  }

  /** WebP lossless decode → (width, height, ARGB pixels); None for
    * lossy VP8 (perceptual codec — honest `no_codec` upstream) and
    * anything malformed. The VP8L bitstream work lives in [[Vp8l]]. */
  def decodeWebpArgb(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    locateWebpCoded(bytes).flatMap {
      case ("VP8L", off, len) => Vp8l.decode(bytes, off, len)
      case _ => None
    }

  /** WebP lossless → the shared raster profile (ARGB unpacked to RGBA
    * bytes; alpha ignored by [[rasterFeatures]]'s 4-channel path). */
  def decodeWebpFeatures(bytes: Array[Byte]): Option[RasterFeatureRow] =
    decodeWebpArgb(bytes).map { case (w, h, argb) =>
      val px = new Array[Byte](w * h * 4)
      var i = 0
      while (i < argb.length) {
        val p = argb(i)
        px(i * 4) = ((p >> 16) & 0xff).toByte     // R
        px(i * 4 + 1) = ((p >> 8) & 0xff).toByte  // G
        px(i * 4 + 2) = (p & 0xff).toByte         // B
        px(i * 4 + 3) = ((p >>> 24) & 0xff).toByte
        i += 1
      }
      rasterFeatures(w, h, 4, px)
    }

  /** ONE FRONT DOOR for a mixed-format image corpus (round 10): sniff
    * the magic, decode with the right real decoder, reduce through the
    * shared [[rasterFeatures]] profile. A production 100 TB corpus is
    * never single-format — this is the dispatch the per-format
    * extractors compose into, with the format surfaced as a column so
    * downstream can slice by it. */
  def decodeAnyRaster(bytes: Array[Byte])
      : Option[(String, RasterFeatureRow)] =
    sniffKindJvm(bytes) match {
      case "png" => decodePngFeatures(bytes).map(("png", _))
      case "gif" => decodeGifFeatures(bytes).map(("gif", _))
      case "jpeg" => decodeJpegFeatures(bytes).map(("jpeg", _))
      case "webp" => decodeWebpFeatures(bytes).map(("webp", _))
      case "tiff" => decodeTiffFeatures(bytes).map(("tiff", _))
      case "bmp" => decodeBmpPixels(bytes).map { case (w, h, ch, px) =>
        ("bmp", rasterFeatures(w, h, ch, px)) }
      case _ => None
    }

  /** [[RasterFeatureRow]] plus the sniffed format. */
  final case class AnyRasterRow(doc_id: Long, kind: String, width: Long,
      height: Long, channels: Long, n_px: Long,
      sum_r: Long, sum_g: Long, sum_b: Long,
      wsum_r: Long, wsum_g: Long, wsum_b: Long,
      mean_r: Double, mean_g: Double, mean_b: Double)

  def anyRasterCol(blob: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.AnyRasterFeatures(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(blob)))

  /** Batch mixed-format image decode — the shared native-expression +
    * Generate-barrier body, one decode per row. */
  def extractAnyImageFeatures(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[AnyRasterRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    barrierExtract(df, idCol, blobCol, anyRasterCol).as[AnyRasterRow]
  }

  /** [[AudioFeatureRow]] plus the sniffed container/codec. */
  final case class AnyAudioRow(doc_id: Long, kind: String, channel: Long,
      n_frames: Long, peak_abs: Long, sum_sq: Long, zero_crossings: Long,
      rms: Double)

  /** The audio front door: integer-PCM WAV (8/16-bit) or FLAC, one
    * per-channel profile relation out. */
  def decodeAnyAudio(bytes: Array[Byte])
      : Option[(String, IndexedSeq[(Int, Long, Long, Long, Long, Double)])] =
    sniffKindJvm(bytes) match {
      case "riff" => locatePcm(bytes).map { case (ch, bits, off, n) =>
        ("riff", reducePcm(bytes, ch, bits, off, n)) }
      case "flac" =>
        val rows = decodeFlacSamples(bytes)
        if (rows.isEmpty) None else Some(("flac", rows))
      case _ => None
    }

  /** Batch mixed-format audio decode: one row per (payload, channel) —
    * a native array-expression projection since round 11. */
  def extractAnyAudioFeatures(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[AnyAudioRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol, graft.plans.MediaExprs.anyAudioCol)
      .as[AnyAudioRow]
  }

  /** Parsed MP4/ISO-BMFF container metadata (see [[mp4MetaJvm]]). */
  final case class Mp4MetaRow(doc_id: Long, n_tracks: Long, n_video: Long,
      n_audio: Long, timescale: Long, duration_ms: Long, width: Long,
      height: Long)

  /** REAL MP4 (ISO-BMFF) metadata walk (round 10) — the VIDEO leg of
    * the multimodal surface: an MP4 is a tree of length-prefixed
    * big-endian boxes, so the movie header (`moov/mvhd` — timescale +
    * duration), track fan-out (`trak`), per-track handler types
    * (`mdia/hdlr` — `vide`/`soun`) and the presentation geometry
    * (`tkhd` 16.16 fixed-point width/height of the first video track)
    * are pure byte arithmetic — the [[wavMeta]]/[[flacMeta]] discipline
    * applied to the container a video corpus actually ships. SAMPLE
    * decode (H.264 et al.) genuinely needs a codec library and stays
    * out of scope — container metadata is what a curation pipeline
    * filters on (duration buckets, resolution gates, track sanity)
    * before any expensive frame work ([[sampleChunks]] is the
    * frame-access pattern next door). Both mvhd/tkhd versions 0 (32-bit
    * times) and 1 (64-bit) parse; malformed or truncated trees → None
    * (PERMISSIVE, never throws). */
  def mp4MetaJvm(bytes: Array[Byte]): Option[Mp4MetaRow] = {
    if (bytes == null || bytes.length < 16) return None
    def u8(i: Int): Int = bytes(i) & 0xff
    def be32(i: Int): Long = (u8(i).toLong << 24) | (u8(i + 1) << 16) |
      (u8(i + 2) << 8) | u8(i + 3)
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def typ(i: Int): String = new String(bytes, i + 4, 4, "ISO-8859-1")
    // the brand gate: first box must be ftyp (the sniffable magic)
    if (be32(0) < 16 || typ(0) != "ftyp") return None
    // walk the children of [start, end) yielding (type, payloadStart,
    // payloadEnd); size 1 = 64-bit largesize, size 0 = to-end-of-parent
    def children(start: Int, end: Int): Iterator[(String, Int, Int)] =
      new Iterator[(String, Int, Int)] {
        private var p = start
        private var dead = false
        def hasNext: Boolean = !dead && p + 8 <= end
        def next(): (String, Int, Int) = {
          val sz = be32(p)
          val t = typ(p)
          val (hdr, bsz): (Int, Long) =
            if (sz == 1L && p + 16 <= end) (16, be64(p + 8))
            else if (sz == 0L) (8, (end - p).toLong)
            else (8, sz)
          if (bsz < hdr || p + bsz > end) { dead = true; (t, -1, -1) }
          else {
            val r = (t, p + hdr, (p + bsz).toInt)
            p = (p + bsz).toInt
            r
          }
        }
      }
    val moov = children(0, bytes.length)
      .collectFirst { case ("moov", s, e) if s >= 0 => (s, e) }
      .getOrElse(return None)
    var timescale = -1L
    var duration = -1L
    var nTracks = 0L; var nVideo = 0L; var nAudio = 0L
    var width = 0L; var height = 0L
    children(moov._1, moov._2).foreach {
      case ("mvhd", s, e) if s >= 0 =>
        val v = u8(s)
        // version-1 duration is 8 bytes at s+24 — the full read ends at
        // s+32, so that is the bound (s+28 would let a truncated box
        // throw past the array, breaking the never-throws contract)
        if (v == 1 && s + 32 <= e) {
          timescale = be32(s + 20); duration = be64(s + 24)
        } else if (v == 0 && s + 20 <= e) {
          timescale = be32(s + 12); duration = be32(s + 16)
        } else return None
      case ("trak", s, e) if s >= 0 =>
        nTracks += 1
        var isVideo = false; var isAudio = false
        var tw = 0L; var th = 0L
        children(s, e).foreach {
          case ("tkhd", ts, te) if ts >= 0 =>
            // width/height are the LAST 8 payload bytes (16.16 fixed)
            if (te - ts >= 8) {
              tw = be32(te - 8) >> 16
              th = be32(te - 4) >> 16
            }
          case ("mdia", ms, me) if ms >= 0 =>
            children(ms, me).foreach {
              case ("hdlr", hs, he) if hs >= 0 && hs + 12 <= he =>
                typ(hs + 4) match { // handler_type at payload offset 8
                  case "vide" => isVideo = true
                  case "soun" => isAudio = true
                  case _ =>
                }
              case _ =>
            }
          case _ =>
        }
        if (isVideo) {
          nVideo += 1
          if (width == 0L) { width = tw; height = th }
        }
        if (isAudio) nAudio += 1
      case (_, s, _) if s < 0 => return None // malformed child
      case _ =>
    }
    if (timescale <= 0 || duration < 0 || nTracks == 0) return None
    Some(Mp4MetaRow(0L, nTracks, nVideo, nAudio, timescale,
      duration * 1000L / timescale, width, height))
  }

  /** Batch MP4 metadata extraction: one row per parseable container —
    * a native expression projection since round 11. */
  def extractMp4Meta(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[Mp4MetaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    barrierExtract(df, idCol, blobCol, graft.plans.MediaExprs.mp4MetaCol)
      .as[Mp4MetaRow]
  }

  /** Sample-table profile of an MP4's first video track (see
    * [[mp4TracksJvm]]): frame count, byte volume, media timebase, exact
    * duration, bitrate and keyframe count — the curation filters that
    * come after [[Mp4MetaRow]]'s duration/geometry gates. */
  final case class Mp4TracksRow(doc_id: Long, n_frames: Long,
      total_bytes: Long, media_timescale: Long, media_duration: Long,
      duration_ms: Long, bitrate_bps: Long, n_chunks: Long, n_sync: Long)

  /** REAL MP4 sample-table walk (round 11) — [[mp4MetaJvm]] extended
    * past the movie header into the first VIDEO track's
    * `mdia → {mdhd, minf → stbl → {stts, stsz, stco/co64, stss}}`:
    *  - `n_frames`        stsz sample count,
    *  - `total_bytes`     Σ sample sizes (uniform via the stsz
    *                      sample_size field, or the explicit table),
    *  - `media_timescale` mdhd units/second (v0 and v1 both parse),
    *  - `media_duration`  Σ count·delta over the stts run-length table
    *                      (the EXACT presentation length in media units
    *                      — mdhd.duration is advisory and often stale),
    *  - `duration_ms`     media_duration · 1000 / media_timescale,
    *  - `bitrate_bps`     total_bytes · 8 · media_timescale /
    *                      media_duration (exact int64 via a 128-bit
    *                      intermediate),
    *  - `n_chunks`        stco (32-bit) or co64 (64-bit) entry count,
    *  - `n_sync`          stss entry count; an ABSENT stss means every
    *                      sample is a sync sample (ISO 14496-12 §8.6.2)
    *                      → n_frames, so keyframe density is n_sync /
    *                      n_frames either way.
    * Sample DATA stays untouched — this reads the index tables a
    * curation pipeline filters on (frame count sanity, bitrate bands,
    * keyframe density for seek-ability) before any codec work.
    * Malformed, truncated, or table-less trees → None (PERMISSIVE,
    * never throws); every table's declared entry count is bounds-checked
    * against its box before any read. */
  def mp4TracksJvm(bytes: Array[Byte]): Option[Mp4TracksRow] = {
    if (bytes == null || bytes.length < 16) return None
    def u8(i: Int): Int = bytes(i) & 0xff
    def be32(i: Int): Long = (u8(i).toLong << 24) | (u8(i + 1) << 16) |
      (u8(i + 2) << 8) | u8(i + 3)
    def typ(i: Int): String = new String(bytes, i + 4, 4, "ISO-8859-1")
    if (be32(0) < 16 || typ(0) != "ftyp") return None
    def children(start: Int, end: Int): Iterator[(String, Int, Int)] =
      new Iterator[(String, Int, Int)] {
        private var p = start
        private var dead = false
        def hasNext: Boolean = !dead && p + 8 <= end
        def next(): (String, Int, Int) = {
          val sz = be32(p)
          val t = typ(p)
          val (hdr, bsz): (Int, Long) =
            if (sz == 1L && p + 16 <= end)
              (16, (be32(p + 8) << 32) | be32(p + 12))
            else if (sz == 0L) (8, (end - p).toLong)
            else (8, sz)
          if (bsz < hdr || p + bsz > end) { dead = true; (t, -1, -1) }
          else {
            val r = (t, p + hdr, (p + bsz).toInt)
            p = (p + bsz).toInt
            r
          }
        }
      }
    val moov = children(0, bytes.length)
      .collectFirst { case ("moov", s, e) if s >= 0 => (s, e) }
      .getOrElse(return None)
    // first video trak: hdlr says vide AND a complete stbl exists
    children(moov._1, moov._2).foreach {
      case ("trak", ts, te) if ts >= 0 =>
        var isVideo = false
        var mdhdTs = -1L; var stbl: Option[(Int, Int)] = None
        children(ts, te).foreach {
          case ("mdia", ms, me) if ms >= 0 =>
            children(ms, me).foreach {
              case ("mdhd", hs, he) if hs >= 0 =>
                val v = u8(hs)
                if (v == 1 && hs + 24 <= he) mdhdTs = be32(hs + 20)
                else if (v == 0 && hs + 16 <= he) mdhdTs = be32(hs + 12)
              case ("hdlr", hs, he) if hs >= 0 && hs + 12 <= he =>
                if (typ(hs + 4) == "vide") isVideo = true
              case ("minf", fs, fe) if fs >= 0 =>
                children(fs, fe).foreach {
                  case ("stbl", ss, se) if ss >= 0 =>
                    stbl = Some((ss, se))
                  case _ =>
                }
              case _ =>
            }
          case _ =>
        }
        if (isVideo && mdhdTs > 0 && stbl.isDefined) {
          val (ss, se) = stbl.get
          var nFrames = -1L; var totalBytes = -1L
          var mediaDur = -1L; var nChunks = -1L; var nSync = -1L
          children(ss, se).foreach {
            case ("stts", s, e) if s >= 0 && s + 8 <= e =>
              val cnt = be32(s + 4)
              if (s + 8 + 8 * cnt <= e) {
                var d = 0L; var i = 0
                while (i < cnt) {
                  d += be32(s + 8 + 8 * i) * be32(s + 12 + 8 * i)
                  i += 1
                }
                mediaDur = d
              }
            case ("stsz", s, e) if s >= 0 && s + 12 <= e =>
              val uniform = be32(s + 4)
              val cnt = be32(s + 8)
              if (uniform != 0L) {
                // uniform-size fast path: no table follows
                if (cnt <= Long.MaxValue / uniform) {
                  nFrames = cnt; totalBytes = uniform * cnt
                }
              } else if (s + 12 + 4 * cnt <= e) {
                var t = 0L; var i = 0
                while (i < cnt) { t += be32(s + 12 + 4 * i); i += 1 }
                nFrames = cnt; totalBytes = t
              }
            case ("stco", s, e) if s >= 0 && s + 8 <= e =>
              val cnt = be32(s + 4)
              if (s + 8 + 4 * cnt <= e) nChunks = cnt
            case ("co64", s, e) if s >= 0 && s + 8 <= e =>
              val cnt = be32(s + 4)
              if (s + 8 + 8 * cnt <= e) nChunks = cnt
            case ("stss", s, e) if s >= 0 && s + 8 <= e =>
              val cnt = be32(s + 4)
              if (s + 8 + 4 * cnt <= e) nSync = cnt
            case _ =>
          }
          if (nFrames > 0 && totalBytes >= 0 && mediaDur > 0 &&
              nChunks >= 0) {
            // exact int64 bitrate via a 128-bit intermediate: the
            // three factors are each ≤ 2^32-ish but their product is
            // not — BigInt once per payload, not per sample
            val bps = (BigInt(totalBytes) * 8 * mdhdTs) / mediaDur
            if (bps.isValidLong)
              return Some(Mp4TracksRow(0L, nFrames, totalBytes, mdhdTs,
                mediaDur, mediaDur * 1000L / mdhdTs, bps.toLong, nChunks,
                if (nSync >= 0) nSync else nFrames))
          }
          return None // first video track's tables are broken: reject
        }
      case (_, s, _) if s < 0 => return None
      case _ =>
    }
    None
  }

  /** Batch sample-table extraction: one row per container whose first
    * video track carries complete tables — a native expression
    * projection like [[extractMp4Meta]]. */
  def extractMp4Tracks(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[Mp4TracksRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    barrierExtract(df, idCol, blobCol, graft.plans.MediaExprs.mp4TracksCol)
      .as[Mp4TracksRow]
  }

  /** One sync sample's byte-range plan (see [[mp4SyncRangesJvm]]):
    * 1-based sample and chunk indexes, absolute file offset, size. */
  final case class Mp4SyncRangeRow(doc_id: Long, sample_idx: Long,
      chunk_idx: Long, offset: Long, size: Long)

  /** KEYFRAME BYTE-RANGE PLAN (round 11) — the frame-access pattern a
    * video-sampling pipeline runs at scale: instead of decoding, read
    * the first video track's full sample-table quartet
    * (stsc sample→chunk runs, stco/co64 chunk offsets, stsz sizes,
    * stss sync list — absent stss = every sample) and emit the EXACT
    * `(sample, chunk, file offset, size)` of every sync sample: the
    * byte ranges a ranged GET fetches to materialize keyframes without
    * touching the rest of the payload (a 100 TB corpus plans its frame
    * reads as one row-local projection, then fetches only keyframe
    * bytes). Offsets follow ISO 14496-12: samples are contiguous
    * within a chunk in sample order; an stsc run covers chunks
    * [first_chunk_k, first_chunk_k+1); the LAST chunk's true count is
    * governed by the total sample count. Uniform-or-table stsz both
    * parse; declared counts are bounds-checked; anything malformed —
    * including more samples than the chunk plan can hold — yields no
    * rows, and sync ids past the sample count are ignored (stss is a
    * hint table). PERMISSIVE, never throws. */
  def mp4SyncRangesJvm(bytes: Array[Byte], maxSamples: Long = 1L << 22)
      : IndexedSeq[Mp4SyncRangeRow] = {
    if (bytes == null || bytes.length < 16) return Vector.empty
    def u8(i: Int): Int = bytes(i) & 0xff
    def be32(i: Int): Long = (u8(i).toLong << 24) | (u8(i + 1) << 16) |
      (u8(i + 2) << 8) | u8(i + 3)
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def typ(i: Int): String = new String(bytes, i + 4, 4, "ISO-8859-1")
    if (be32(0) < 16 || typ(0) != "ftyp") return Vector.empty
    def children(start: Int, end: Int): Iterator[(String, Int, Int)] =
      new Iterator[(String, Int, Int)] {
        private var p = start
        private var dead = false
        def hasNext: Boolean = !dead && p + 8 <= end
        def next(): (String, Int, Int) = {
          val sz = be32(p)
          val t = typ(p)
          val (hdr, bsz): (Int, Long) =
            if (sz == 1L && p + 16 <= end) (16, be64(p + 8))
            else if (sz == 0L) (8, (end - p).toLong)
            else (8, sz)
          if (bsz < hdr || p + bsz > end) { dead = true; (t, -1, -1) }
          else {
            val r = (t, p + hdr, (p + bsz).toInt)
            p = (p + bsz).toInt
            r
          }
        }
      }
    val moov = children(0, bytes.length)
      .collectFirst { case ("moov", s, e) if s >= 0 => (s, e) }
      .getOrElse(return Vector.empty)
    var stbl: Option[(Int, Int)] = None
    children(moov._1, moov._2).foreach {
      case ("trak", ts, te) if ts >= 0 && stbl.isEmpty =>
        var isVideo = false
        var tkStbl: Option[(Int, Int)] = None
        children(ts, te).foreach {
          case ("mdia", ms, me) if ms >= 0 =>
            children(ms, me).foreach {
              case ("hdlr", hs, he) if hs >= 0 && hs + 12 <= he =>
                if (typ(hs + 4) == "vide") isVideo = true
              case ("minf", fs, fe) if fs >= 0 =>
                children(fs, fe).foreach {
                  case ("stbl", ss, se) if ss >= 0 =>
                    tkStbl = Some((ss, se))
                  case _ =>
                }
              case _ =>
            }
          case _ =>
        }
        if (isVideo) stbl = tkStbl
      case (_, s, _) if s < 0 => return Vector.empty
      case _ =>
    }
    val (ss0, se0) = stbl.getOrElse(return Vector.empty)
    // table slots: (payload start, entry count) per box
    var stszAt = -1; var stszUniform = -1L; var nSamples = -1L
    var stscAt = -1; var stscCnt = -1L
    var stcoAt = -1; var stcoCnt = -1L; var co64 = false
    var stssAt = -1; var stssCnt = -1L
    children(ss0, se0).foreach {
      case ("stsz", s, e) if s >= 0 && s + 12 <= e =>
        val uniform = be32(s + 4)
        val cnt = be32(s + 8)
        if (uniform != 0L) { stszAt = s; stszUniform = uniform
          nSamples = cnt }
        else if (s + 12 + 4 * cnt <= e) { stszAt = s; nSamples = cnt }
      case ("stsc", s, e) if s >= 0 && s + 8 <= e =>
        val cnt = be32(s + 4)
        if (s + 8 + 12 * cnt <= e) { stscAt = s; stscCnt = cnt }
      case ("stco", s, e) if s >= 0 && s + 8 <= e =>
        val cnt = be32(s + 4)
        if (s + 8 + 4 * cnt <= e) { stcoAt = s; stcoCnt = cnt }
      case ("co64", s, e) if s >= 0 && s + 8 <= e =>
        val cnt = be32(s + 4)
        if (s + 8 + 8 * cnt <= e) { stcoAt = s; stcoCnt = cnt
          co64 = true }
      case ("stss", s, e) if s >= 0 && s + 8 <= e =>
        val cnt = be32(s + 4)
        if (s + 8 + 4 * cnt <= e) { stssAt = s; stssCnt = cnt }
      case _ =>
    }
    if (stszAt < 0 || stscAt < 0 || stcoAt < 0 || stscCnt < 1 ||
      stcoCnt < 1 || nSamples < 1 || nSamples > maxSamples)
      return Vector.empty
    def sizeOf(i: Long): Long = // 0-based sample index
      if (stszUniform > 0) stszUniform
      else be32(stszAt + 12 + 4 * i.toInt)
    def chunkOffset(c: Long): Long = // 0-based chunk index
      if (co64) be64(stcoAt + 8 + 8 * c.toInt)
      else be32(stcoAt + 8 + 4 * c.toInt)
    // sync set: absent stss = every sample is sync
    val syncAll = stssAt < 0
    val sync = if (syncAll) null
      else {
        val set = new java.util.HashSet[Long]()
        var i = 0
        while (i < stssCnt) {
          set.add(be32(stssAt + 8 + 4 * i)); i += 1
        }
        set
      }
    // walk samples in order through the stsc chunk plan
    val out = Vector.newBuilder[Mp4SyncRangeRow]
    var entry = 0          // stsc entry index
    var chunk = be32(stscAt + 8) - 1 // current chunk, 0-based
    if (chunk != 0) return Vector.empty // first run must start at chunk 1
    var spc = be32(stscAt + 12) // entry 0's samples_per_chunk
    if (spc < 1) return Vector.empty
    var nextFirst = // first chunk (0-based) of the NEXT stsc run
      if (stscCnt > 1) be32(stscAt + 8 + 12) - 1 else Long.MaxValue
    var inChunk = 0L       // samples consumed in the current chunk
    var off = chunkOffset(0)
    var i = 0L             // 0-based sample index
    while (i < nSamples) {
      if (inChunk == spc) { // advance to the next chunk
        chunk += 1
        if (chunk >= stcoCnt) return Vector.empty // more samples than plan
        if (chunk >= nextFirst) {
          entry += 1
          spc = be32(stscAt + 8 + 12 * entry + 4)
          if (spc < 1) return Vector.empty
          nextFirst = if (entry + 1 < stscCnt)
            be32(stscAt + 8 + 12 * (entry + 1)) - 1 else Long.MaxValue
        }
        inChunk = 0L
        off = chunkOffset(chunk)
      }
      val sz = sizeOf(i)
      if (syncAll || sync.contains(i + 1)) // stss ids are 1-based
        out += Mp4SyncRangeRow(0L, i + 1, chunk + 1, off, sz)
      off += sz
      inChunk += 1
      i += 1
    }
    out.result()
  }

  /** Batch keyframe byte-range planning: one row per (payload, sync
    * sample) — a native array-expression projection. */
  def extractMp4SyncRanges(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[Mp4SyncRangeRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    explodeExtract(df, idCol, blobCol,
      graft.plans.MediaExprs.mp4SyncRangesCol).as[Mp4SyncRangeRow]
  }

  /** Parsed MPEG-audio frame-header metadata (see [[mp3MetaJvm]]):
    * `version_x10` is the MPEG version ×10 (10/20/25 — 2.5 needs the
    * fraction), layer 1-3, and the exact sample/byte accounting the
    * header walk yields. */
  final case class Mp3MetaRow(doc_id: Long, version_x10: Long, layer: Long,
      sample_rate: Long, channels: Long, n_frames: Long, n_samples: Long,
      duration_ms: Long, bitrate_bps: Long, frame_bytes: Long)

  // MPEG audio header tables (ISO 11172-3 / 13818-3): bitrates in kbps
  // by [version group][layer][index-1]; sample rates by version.
  private val Mp3KbpsV1 = Array(
    Array(32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    Array(32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320))
  private val Mp3KbpsV2 = Array(
    Array(32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    Array(8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    Array(8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160))
  private val Mp3SampleRates = Map(
    10 -> Array(44100, 48000, 32000),
    20 -> Array(22050, 24000, 16000),
    25 -> Array(11025, 12000, 8000))

  /** REAL MP3 (MPEG audio) frame-header walk (round 11) — the last
    * `unknown_format` audit branch closed at the honest-metadata level
    * ([[mp4MetaJvm]]'s discipline): sample DECODE genuinely needs a
    * perceptual codec library, but the stream's frame grid is pure
    * header arithmetic. Walks an optional ID3v2 tag (syncsafe size,
    * footer flag honored), then back-to-back MPEG frames — each 4-byte
    * header gives version/layer/bitrate/samplerate, frame length by the
    * ISO formula (Layer I slots ×4; Layer II/III 144·b/sr, 72·b/sr for
    * MPEG2/2.5 Layer III) — to an optional 128-byte ID3v1 trailer.
    * Per-frame bitrates are summed exactly, so VBR streams report their
    * true mean bitrate (`frame_bytes·8·sr / n_samples`, 128-bit exact).
    * Consistency is enforced (version/layer/samplerate/channels fixed
    * across frames); free-format (index 0), reserved fields, truncated
    * frames, or trailing garbage → None (PERMISSIVE, never throws). */
  def mp3MetaJvm(bytes: Array[Byte]): Option[Mp3MetaRow] = {
    if (bytes == null || bytes.length < 4) return None
    def u8(i: Int): Int = bytes(i) & 0xff
    var pos = 0
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
        bytes(2) == '3') {
      var sz = 0
      var i = 0
      while (i < 4) {
        val b = u8(6 + i)
        if (b >= 0x80) return None // syncsafe bytes are 7-bit
        sz = (sz << 7) | b
        i += 1
      }
      pos = 10 + sz + (if ((u8(5) & 0x10) != 0) 10 else 0)
      if (pos > bytes.length) return None
    }
    var ver = -1L; var layer = -1L; var sr = -1; var ch = -1L
    var nFrames = 0L; var nSamples = 0L; var frameBytes = 0L
    var done = false
    while (pos < bytes.length && !done) {
      if (bytes.length - pos == 128 && bytes(pos) == 'T' &&
          bytes(pos + 1) == 'A' && bytes(pos + 2) == 'G') {
        done = true // ID3v1 trailer ends the stream
      } else {
        if (pos + 4 > bytes.length) return None
        if (u8(pos) != 0xff || (u8(pos + 1) & 0xe0) != 0xe0) return None
        val vBits = (u8(pos + 1) >> 3) & 3 // 0=2.5, 1=reserved, 2=2, 3=1
        val lBits = (u8(pos + 1) >> 1) & 3 // 1=III, 2=II, 3=I
        if (vBits == 1 || lBits == 0) return None
        val v10 = if (vBits == 3) 10 else if (vBits == 2) 20 else 25
        val ly = 4 - lBits
        val bIdx = (u8(pos + 2) >> 4) & 15
        val sIdx = (u8(pos + 2) >> 2) & 3
        // free-format (0) needs sync scanning; 15 is forbidden
        if (bIdx == 0 || bIdx == 15 || sIdx == 3) return None
        val pad = (u8(pos + 2) >> 1) & 1
        val c = if ((u8(pos + 3) >> 6) == 3) 1L else 2L
        val kbps = (if (vBits == 3) Mp3KbpsV1 else Mp3KbpsV2)(ly - 1)(bIdx - 1)
        val srate = Mp3SampleRates(v10)(sIdx)
        val b = kbps * 1000
        val flen = ly match {
          case 1 => (12 * b / srate + pad) * 4
          case 2 => 144 * b / srate + pad
          case _ => (if (vBits == 3) 144 else 72) * b / srate + pad
        }
        val spf = ly match {
          case 1 => 384
          case 2 => 1152
          case _ => if (vBits == 3) 1152 else 576
        }
        if (flen < 4 || pos + flen > bytes.length) return None
        if (nFrames == 0L) { ver = v10; layer = ly; sr = srate; ch = c }
        else if (ver != v10 || layer != ly || sr != srate || ch != c)
          return None
        nFrames += 1; nSamples += spf; frameBytes += flen
        pos += flen
      }
    }
    if (nFrames == 0L) return None
    val bps = (BigInt(frameBytes) * 8 * sr) / nSamples
    if (!bps.isValidLong) return None
    Some(Mp3MetaRow(0L, ver, layer, sr.toLong, ch, nFrames, nSamples,
      nSamples * 1000L / sr, bps.toLong, frameBytes))
  }

  /** Batch MP3 metadata extraction: one row per parseable stream — a
    * native expression projection like [[extractMp4Meta]]. */
  def extractMp3Meta(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[Mp3MetaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    barrierExtract(df, idCol, blobCol, graft.plans.MediaExprs.mp3MetaCol)
      .as[Mp3MetaRow]
  }

  /** One payload's decode-dispatch verdict (see [[extractDecodeAudit]]). */
  final case class DecodeAuditRow(doc_id: Long, kind: String, ok: Boolean,
      reason: String)

  /** JVM twin of the [[sniffKind]] magic dispatch (same order, same
    * prefixes) for the batch decoders' front end. */
  private def sniffKindJvm(b: Array[Byte]): String =
    if (b == null || b.length < 2) "bin"
    else if (b.length >= 4 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
      b(2) == 'N' && b(3) == 'G') "png"
    else if (b.length >= 3 && (b(0) & 0xff) == 0xff &&
      (b(1) & 0xff) == 0xd8 && (b(2) & 0xff) == 0xff) "jpeg"
    else if (b.length >= 4 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8') "gif"
    else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' &&
      b(11) == 'P') "webp"
    else if (b.length >= 4 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F') "riff"
    else if (b.length >= 4 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' &&
      b(3) == 'C') "flac"
    else if (b.length >= 4 && ((b(0) == 'I' && b(1) == 'I' &&
      b(2) == 42 && b(3) == 0) || (b(0) == 'M' && b(1) == 'M' &&
      b(2) == 0 && b(3) == 42))) "tiff"
    else if (b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b.length >= 12 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' &&
      b(7) == 'p' && b(8) == 'a' && b(9) == 'v' && b(10) == 'i' &&
      (b(11) == 'f' || b(11) == 's')) "avif"
    else if (b.length >= 8 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' &&
      b(7) == 'p') "mp4"
    else if (b.length >= 5 && b(0) == 'O' && b(1) == 'g' && b(2) == 'g' &&
      b(3) == 'S' && b(4) == 0) "ogg"
    else if (b.length >= 3 && b(0) == 'I' && b(1) == 'D' && b(2) == '3')
      "mp3"
    else if (b.length >= 5 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' &&
      b(3) == 'F' && b(4) == '-') "pdf"
    else "bin"

  /** PERMISSIVE decode audit — the reference's error-swallow discipline
    * (its PERMISSIVE mode forwards undecodable records and counts them;
    * SURVEY §2.1 #14) applied to the multimodal family: every payload
    * gets a verdict row instead of silently vanishing from the feature
    * relations. `(kind, ok, reason)` per payload: RIFF/BMP/PNG/GIF/JPEG/
    * FLAC payloads are probed with the real decoders ([[locatePcm]],
    * [[locateBmp24]], [[decodePngPixels]], [[decodeGifPixels]],
    * [[decodeJpegPixels]], [[decodeFlacPcm]] — PNG and GIF gained their
    * real branches in round 9, baseline JPEG and FLAC in round 10,
    * progressive JPEG in round 11); MP4 and MP3 carry metadata-level
    * verdicts ([[mp4MetaJvm]]/[[mp3MetaJvm]] — `ok_metadata` means
    * routable and well-formed short of perceptual-codec sample decode);
    * unknown magics are `unknown_format`. A
    * production ingest routes `ok = false` rows to a rejects sink and
    * alerts on reason-rate drift. */
  def auditPayload(bytes: Array[Byte]): (String, Boolean, String) =
    sniffKindJvm(bytes) match {
      case "riff" =>
        if (locatePcm(bytes).isDefined) ("riff", true, "ok")
        else ("riff", false, "undecodable_pcm")
      case "bmp" =>
        if (locateBmp24(bytes).isDefined) ("bmp", true, "ok")
        else ("bmp", false, "undecodable_bmp24")
      case "png" =>
        if (decodePngPixels(bytes).isDefined) ("png", true, "ok")
        else ("png", false, "undecodable_png")
      case "gif" =>
        if (decodeGifPixels(bytes).isDefined) ("gif", true, "ok")
        else ("gif", false, "undecodable_gif")
      case "jpeg" =>
        if (decodeJpegPixels(bytes).isDefined) ("jpeg", true, "ok")
        else ("jpeg", false, "undecodable_jpeg")
      // baseline TIFF (round 12): uncompressed strips really decode;
      // LZW/JPEG-in-TIFF need codecs and fail loud
      case "tiff" =>
        if (decodeTiffPixels(bytes).isDefined) ("tiff", true, "ok")
        else ("tiff", false, "undecodable_tiff")
      // WebP (round 12): VP8L really decodes; lossy VP8 is a perceptual
      // codec this container honestly does not ship — the container
      // walk still validates it as routable
      case "webp" =>
        locateWebpCoded(bytes) match {
          case Some(("VP8L", off, len)) =>
            if (Vp8l.decode(bytes, off, len).isDefined)
              ("webp", true, "ok")
            else ("webp", false, "undecodable_webp")
          case Some(_) => ("webp", true, "ok_metadata")
          case None => ("webp", false, "undecodable_webp")
        }
      case "flac" =>
        if (decodeFlacPcm(bytes).isDefined) ("flac", true, "ok")
        else ("flac", false, "undecodable_flac")
      // container/codec metadata verdicts (round 11): MP4 sample data
      // and MP3 audio genuinely need codec libraries, but the container
      // walks are real — ok_metadata says "routable and well-formed at
      // the metadata level", the honest boundary short of sample decode
      case "mp4" =>
        if (mp4MetaJvm(bytes).isDefined) ("mp4", true, "ok_metadata")
        else ("mp4", false, "undecodable_mp4")
      // AVIF (round 12): the meta walk is real; AV1 pixel decode needs
      // a perceptual codec this container does not ship
      case "avif" =>
        if (avifMetaJvm(bytes).isDefined) ("avif", true, "ok_metadata")
        else ("avif", false, "undecodable_avif")
      case "mp3" =>
        if (mp3MetaJvm(bytes).isDefined) ("mp3", true, "ok_metadata")
        else ("mp3", false, "undecodable_mp3")
      // OGG (round 12): the page walk + id header are real; Opus/Vorbis
      // sample decode needs perceptual codecs this container lacks
      case "ogg" =>
        if (oggMetaJvm(bytes).isDefined) ("ogg", true, "ok_metadata")
        else ("ogg", false, "undecodable_ogg")
      // PDF (round 16): text extraction through the classic core is
      // real ([[PdfText]]); ok means at least one page yielded text
      case "pdf" =>
        val pages = PdfText.extractPagesJvm(bytes)
        if (pages.exists(r => r._3 != null)) ("pdf", true, "ok")
        else ("pdf", false, "undecodable_pdf")
      case k => (k, false, "unknown_format")
    }

  /** Batch decode audit (see [[auditPayload]]) — a native expression
    * projection since round 10. One row per payload, always: a NULL
    * blob coalesces to empty bytes (→ `unknown_format`), preserving the
    * every-payload-gets-a-verdict contract. */
  def extractDecodeAudit(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[DecodeAuditRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id"),
        mediaAuditCol(coalesce(col(blobCol),
          lit(Array.emptyByteArray))).as("v"))
      .select(col("doc_id"), col("v.*"))
      .as[DecodeAuditRow]
  }

  final case class ChunkRow(doc_id: Long, chunk_index: Int, offset: Int,
      chunk: Array[Byte])

  /** Frame/segment sampling over an opaque media blob: deterministically
    * sample `nChunks` fixed-size chunks at evenly spaced offsets (the
    * video-frame-sampling access pattern — decode only the sampled
    * offsets, never the whole payload). One output row per sampled
    * chunk. PURE BUILT-INS since round 11 — the offset arithmetic is
    * `sequence`/`transform`/`substr` Column algebra exploded in-plan
    * (whole-stage codegen'd, no custom kernel, no Dataset-encoder
    * boundary); null/empty blobs yield NULL and explode drops them —
    * the old flatMap semantics exactly. Integer division via
    * `floor(a/b)`: every numerator that reaches it is non-negative
    * (a negative stride numerator is clamped to 1 first), where floor
    * equals the JVM's truncating division. */
  def sampleChunks(df: DataFrame, idCol: String, blobCol: String = "blob",
      chunkSize: Int = 64, nChunks: Int = 4): Dataset[ChunkRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    val len = octet_length(col("blob"))
    val n = least(lit(nChunks),
      greatest(lit(1), floor(len / chunkSize).cast("int")))
    val stride = greatest(lit(1),
      floor((len - chunkSize) / greatest(lit(1), n - 1)).cast("int"))
    val chunks = transform(sequence(lit(0), n - 1), i => {
      val off = least(i * stride, greatest(lit(0), len - 1))
      struct(i.as("chunk_index"), off.as("offset"),
        col("blob").substr(off + 1, lit(chunkSize)).as("chunk"))
    })
    df.select(col(idCol).cast("long").as("doc_id"), col(blobCol).as("blob"))
      .select(col("doc_id"),
        explode(when(len > 0, chunks)).as("f"))
      .select(col("doc_id"), col("f.*"))
      .as[ChunkRow]
  }

  /** Format-agnostic byte statistics per blob — since round 12 a
    * native Catalyst expression projection (the same promotion every
    * real decoder got in round 11), retiring the repo's last
    * `mapPartitions` and its Dataset-encoder boundary. NULL blobs
    * coalesce to empty payloads (the historical semantics: a zero
    * row, not a null row). */
  def extractFeatures(df: DataFrame, idCol: String,
      blobCol: String = "blob"): Dataset[FeatureRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id"),
        graft.plans.MediaExprs.byteStatsCol(
          coalesce(col(blobCol), lit(Array.emptyByteArray))).as("s"))
      .select(col("doc_id"), col("s.n_bytes").as("n_bytes"),
        col("s.mean_byte").as("mean_byte"),
        col("s.features").as("features"))
      .as[FeatureRow]
  }
}
