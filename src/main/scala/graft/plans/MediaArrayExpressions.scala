package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Multimodal

/** The audio/container decoders as NATIVE Catalyst expressions
  * (round 11) — the raster pattern of [[MediaDecodeExpressions.scala]]
  * extended to multi-row outputs: a kernel returns an ARRAY of structs
  * (one per channel / window / patch), the extractor explodes it, and
  * the whole `blob → rows` fan-out happens inside one codegen'd
  * projection + Generate instead of the round-10 `mapPartitions`
  * formulation whose Dataset-encoder boundary (DeserializeToObject →
  * MapPartitions → SerializeFromObject) serialized every row out of
  * Tungsten and back. Undecodable payloads yield an EMPTY array —
  * explode then emits no rows, which is exactly the old flatMap
  * semantics, with no filter and no second kernel evaluation.
  *
  * The decode kernels themselves are unchanged row-local JVM byte
  * arithmetic; only the plan boundary moved. */
object MediaArrayKernel {

  /** [[Multimodal.AudioFeatureRow]] minus doc_id. */
  val audioSchema: StructType = StructType(Seq(
    StructField("channel", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("peak_abs", LongType, nullable = false),
    StructField("sum_sq", LongType, nullable = false),
    StructField("zero_crossings", LongType, nullable = false),
    StructField("rms", DoubleType, nullable = false)))

  /** [[Multimodal.AudioWindowRow]] minus doc_id. */
  val windowSchema: StructType = StructType(Seq(
    StructField("channel", LongType, nullable = false),
    StructField("window_idx", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("peak_abs", LongType, nullable = false),
    StructField("sum_sq", LongType, nullable = false),
    StructField("rms", DoubleType, nullable = false)))

  /** [[Multimodal.AnyAudioRow]] minus doc_id — the mixed front door. */
  val anyAudioSchema: StructType = StructType(
    StructField("kind", StringType, nullable = false) +:
      audioSchema.fields.toSeq)

  /** [[Multimodal.ImageFeatureRow]] minus doc_id (BMP channel order —
    * B, G, R — distinct from the PNG/GIF/JPEG rasterSchema). */
  val bmpSchema: StructType = StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("n_px", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("wsum_b", LongType, nullable = false),
    StructField("wsum_g", LongType, nullable = false),
    StructField("wsum_r", LongType, nullable = false),
    StructField("mean_b", DoubleType, nullable = false),
    StructField("mean_g", DoubleType, nullable = false),
    StructField("mean_r", DoubleType, nullable = false)))

  /** [[Multimodal.ImagePatchRow]] minus doc_id. */
  val patchSchema: StructType = StructType(Seq(
    StructField("patch_x", LongType, nullable = false),
    StructField("patch_y", LongType, nullable = false),
    StructField("n_px", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("mean_b", DoubleType, nullable = false),
    StructField("mean_g", DoubleType, nullable = false),
    StructField("mean_r", DoubleType, nullable = false)))

  /** [[Multimodal.Mp4MetaRow]] minus doc_id. */
  val mp4Schema: StructType = StructType(Seq(
    StructField("n_tracks", LongType, nullable = false),
    StructField("n_video", LongType, nullable = false),
    StructField("n_audio", LongType, nullable = false),
    StructField("timescale", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false)))

  /** [[Multimodal.Mp4SyncRangeRow]] minus doc_id. */
  val mp4SyncSchema: StructType = StructType(Seq(
    StructField("sample_idx", LongType, nullable = false),
    StructField("chunk_idx", LongType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("size", LongType, nullable = false)))

  /** [[Multimodal.Mp3MetaRow]] minus doc_id. */
  val mp3Schema: StructType = StructType(Seq(
    StructField("version_x10", LongType, nullable = false),
    StructField("layer", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("channels", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("bitrate_bps", LongType, nullable = false),
    StructField("frame_bytes", LongType, nullable = false)))

  /** [[Multimodal.Mp4TracksRow]] minus doc_id. */
  val mp4TracksSchema: StructType = StructType(Seq(
    StructField("n_frames", LongType, nullable = false),
    StructField("total_bytes", LongType, nullable = false),
    StructField("media_timescale", LongType, nullable = false),
    StructField("media_duration", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("bitrate_bps", LongType, nullable = false),
    StructField("n_chunks", LongType, nullable = false),
    StructField("n_sync", LongType, nullable = false)))

  private def audioRows(
      rows: IndexedSeq[(Int, Long, Long, Long, Long, Double)]): ArrayData =
    new GenericArrayData(rows.map { case (c, n, peak, sumSq, zc, rms) =>
      InternalRow(c.toLong, n, peak, sumSq, zc, rms)
    }.toArray[Any])

  def wavAnyDepth(b: Array[Byte]): ArrayData =
    audioRows(Multimodal.decodeWavPcmAnyDepth(b))

  def wav16(b: Array[Byte]): ArrayData =
    audioRows(Multimodal.decodeWavPcm16(b))

  def flac(b: Array[Byte]): ArrayData =
    audioRows(Multimodal.decodeFlacSamples(b))

  def anyAudio(b: Array[Byte]): ArrayData =
    Multimodal.decodeAnyAudio(b) match {
      case Some((kind, rows)) =>
        val k = UTF8String.fromString(kind)
        new GenericArrayData(rows.map {
          case (c, n, peak, sumSq, zc, rms) =>
            InternalRow(k, c.toLong, n, peak, sumSq, zc, rms)
        }.toArray[Any])
      case None => new GenericArrayData(Array.empty[Any])
    }

  private def windowRows(
      rows: IndexedSeq[(Int, Long, Long, Long, Long, Double)]): ArrayData =
    new GenericArrayData(rows.map { case (c, w, wn, peak, sumSq, rms) =>
      InternalRow(c.toLong, w, wn, peak, sumSq, rms)
    }.toArray[Any])

  def wavWindows(b: Array[Byte], windowFrames: Int): ArrayData =
    windowRows(Multimodal.decodeWavPcm16Windows(b, windowFrames))

  def flacWindows(b: Array[Byte], windowFrames: Int): ArrayData =
    windowRows(Multimodal.decodeFlacWindows(b, windowFrames))

  def bmp(b: Array[Byte]): InternalRow =
    Multimodal.decodeBmp24(b) match {
      case Some(r) => InternalRow(r.width, r.height, r.n_px,
        r.sum_b, r.sum_g, r.sum_r, r.wsum_b, r.wsum_g, r.wsum_r,
        r.mean_b, r.mean_g, r.mean_r)
      case None => null
    }

  def bmpPatches(b: Array[Byte], patch: Int): ArrayData =
    new GenericArrayData(Multimodal.decodeBmp24Patches(b, patch).map {
      case (px, py, n, sums) =>
        InternalRow(px.toLong, py.toLong, n, sums(0), sums(1), sums(2),
          sums(0).toDouble / n, sums(1).toDouble / n, sums(2).toDouble / n)
    }.toArray[Any])

  def mp4Meta(b: Array[Byte]): InternalRow =
    Multimodal.mp4MetaJvm(b) match {
      case Some(m) => InternalRow(m.n_tracks, m.n_video, m.n_audio,
        m.timescale, m.duration_ms, m.width, m.height)
      case None => null
    }

  def mp4Tracks(b: Array[Byte]): InternalRow =
    Multimodal.mp4TracksJvm(b) match {
      case Some(m) => InternalRow(m.n_frames, m.total_bytes,
        m.media_timescale, m.media_duration, m.duration_ms,
        m.bitrate_bps, m.n_chunks, m.n_sync)
      case None => null
    }

  def mp4SyncRanges(b: Array[Byte]): ArrayData =
    new GenericArrayData(Multimodal.mp4SyncRangesJvm(b).map { r =>
      InternalRow(r.sample_idx, r.chunk_idx, r.offset, r.size)
    }.toArray[Any])

  /** [[Multimodal.FeatureRow]] minus doc_id — format-agnostic byte
    * statistics. The kernel is TOTAL (empty blob → zeros), so the
    * struct is never null for a non-null blob. */
  val byteStatsSchema: StructType = StructType(Seq(
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("mean_byte", DoubleType, nullable = false),
    StructField("features", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  def byteStats(b: Array[Byte]): InternalRow = {
    val (mean, feats) = Multimodal.FeatureExtractor.byteStats(b)
    InternalRow(b.length, mean, new GenericArrayData(feats))
  }

  /** [[Multimodal.WebpMetaRow]] minus doc_id. */
  val webpMetaSchema: StructType = StructType(Seq(
    StructField("has_alpha", BooleanType, nullable = false),
    StructField("has_anim", BooleanType, nullable = false),
    StructField("canvas_w", LongType, nullable = false),
    StructField("canvas_h", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("total_duration_ms", LongType, nullable = false),
    StructField("loop_count", LongType, nullable = false)))

  /** [[Multimodal.GifMetaRow]] minus doc_id. */
  val gifMetaSchema: StructType = StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("total_duration_ms", LongType, nullable = false),
    StructField("loop_count", LongType, nullable = false)))

  /** [[Multimodal.GzipMemberRow]] minus doc_id. */
  val gzipMemberSchema: StructType = StructType(Seq(
    StructField("fname", StringType, nullable = false),
    StructField("mtime", LongType, nullable = false),
    StructField("isize", LongType, nullable = false),
    StructField("content", StringType, nullable = true),
    StructField("crc_ok", BooleanType, nullable = false)))

  def gzipMember(b: Array[Byte]): InternalRow =
    Multimodal.gzipMemberJvm(b) match {
      case Some((f, mt, isz, c, ok)) =>
        InternalRow(UTF8String.fromString(f), mt, isz,
          if (c == null) null else UTF8String.fromString(c), ok)
      case None => null
    }

  /** [[Multimodal.GzipMembersRow]] minus doc_id. */
  val gzipMembersSchema: StructType = StructType(Seq(
    StructField("member_idx", LongType, nullable = false),
    StructField("fname", StringType, nullable = false),
    StructField("mtime", LongType, nullable = false),
    StructField("isize", LongType, nullable = false),
    StructField("content", StringType, nullable = true),
    StructField("crc_ok", BooleanType, nullable = false)))

  def gzipMembers(b: Array[Byte]): ArrayData =
    new GenericArrayData(Multimodal.gzipMembersJvm(b).map {
      case (i, f, mt, isz, c, ok) => InternalRow(i,
        UTF8String.fromString(f), mt, isz,
        if (c == null) null else UTF8String.fromString(c), ok)
    }.toArray[Any])

  def warcGzRecords(b: Array[Byte]): ArrayData =
    new GenericArrayData(Multimodal.warcGzRecordsJvm(b).map {
      case (t, u, cl, st) => InternalRow(UTF8String.fromString(t),
        UTF8String.fromString(u), cl, st)
    }.toArray[Any])

  /** [[Multimodal.Bz2MemberRow]] minus doc_id. */
  val bz2MemberSchema: StructType = StructType(Seq(
    StructField("member_idx", LongType, nullable = false),
    StructField("level", LongType, nullable = false),
    StructField("n_blocks", LongType, nullable = false),
    StructField("usize", LongType, nullable = false),
    StructField("content", StringType, nullable = true),
    StructField("crc_ok", BooleanType, nullable = false),
    StructField("compressed_len", LongType, nullable = false)))

  def bz2Members(b: Array[Byte]): ArrayData =
    new GenericArrayData(
      graft.operators.Bzip2Decode.membersJvm(b).zipWithIndex.map {
        case (m, i) => InternalRow(i.toLong, m.level.toLong,
          m.nBlocks.toLong, m.content.length.toLong,
          if (m.content.length <= (1 << 16))
            UTF8String.fromBytes(m.content)
          else null,
          m.crcOk, m.compressedLen.toLong)
      }.toArray[Any])

  /** [[Multimodal.XzMemberRow]] minus doc_id. */
  val xzMemberSchema: StructType = StructType(Seq(
    StructField("member_idx", LongType, nullable = false),
    StructField("check", StringType, nullable = false),
    StructField("n_blocks", LongType, nullable = false),
    StructField("usize", LongType, nullable = false),
    StructField("content", StringType, nullable = true),
    StructField("checks_ok", BooleanType, nullable = false),
    StructField("compressed_len", LongType, nullable = false)))

  def xzMembers(b: Array[Byte]): ArrayData =
    new GenericArrayData(
      graft.operators.XzDecode.membersJvm(b).zipWithIndex.map {
        case (m, i) => InternalRow(i.toLong,
          UTF8String.fromString(m.check), m.nBlocks.toLong,
          m.content.length.toLong,
          if (m.content.length <= (1 << 16))
            UTF8String.fromBytes(m.content)
          else null,
          m.checksOk, m.compressedLen.toLong)
      }.toArray[Any])

  def tarXzEntries(b: Array[Byte]): ArrayData =
    tarRows(graft.operators.XzDecode.decompress(b))

  def tarBz2Entries(b: Array[Byte]): ArrayData =
    tarRows(graft.operators.Bzip2Decode.decompress(b))

  /** `.tar.gz`: inflate ALL members (tarballs are usually one member,
    * but pigz-style concatenation is legal) and walk the RAW-BYTE
    * concatenation (the core walk, not the string-typed member view);
    * a CRC-corrupt member kills the listing — unlike the member WALK,
    * an archive must decode fully or not at all. */
  def tarGzEntries(b: Array[Byte]): ArrayData =
    tarRows(Multimodal.gzipWalkJvm(b).flatMap { parts =>
      if (parts.isEmpty || parts.exists(!_._5)) None
      else Some(parts.toArray.flatMap(_._4))
    })

  private def tarRows(bytes: Option[Array[Byte]]): ArrayData =
    new GenericArrayData(bytes
      .map(Multimodal.tarEntriesJvm)
      .getOrElse(Vector.empty).map {
        case (n, sz, tf, c) => InternalRow(UTF8String.fromString(n), sz,
          UTF8String.fromString(tf),
          if (c == null) null else UTF8String.fromString(c))
      }.toArray[Any])

  private val sharedEmpty = new GenericArrayData(Array.empty[Any])

  /** The empty array-of-structs shape — the exception-barrier
    * fallback of every [[MediaArrayExpression]] (static forwarder so
    * generated Java can call it). */
  def emptyArray(): ArrayData = sharedEmpty

  def cborJson(b: Array[Byte]): UTF8String =
    graft.operators.CborDecode.toJson(b)
      .map(UTF8String.fromString).orNull

  /** [[Multimodal.TfRecordRow]] minus doc_id. */
  val tfRecordSchema: StructType = StructType(Seq(
    StructField("rec_idx", LongType, nullable = false),
    StructField("length", LongType, nullable = false),
    StructField("data_crc_ok", BooleanType, nullable = false),
    StructField("payload", BinaryType, nullable = true)))

  def tfRecords(b: Array[Byte]): ArrayData =
    new GenericArrayData(
      graft.operators.TfRecord.recordsJvm(b).zipWithIndex.map {
        case (r, i) => InternalRow(i.toLong, r.length, r.dataCrcOk,
          r.payload)
      }.toArray[Any])

  /** [[Multimodal.WikiPageRow]] minus doc_id. */
  val wikiPageSchema: StructType = StructType(Seq(
    StructField("page_idx", LongType, nullable = false),
    StructField("page_id", LongType, nullable = false),
    StructField("ns", LongType, nullable = false),
    StructField("title", StringType, nullable = false),
    StructField("redirect", StringType, nullable = true),
    StructField("text", StringType, nullable = false),
    StructField("text_bytes", LongType, nullable = false)))

  def wikiPages(b: Array[Byte]): ArrayData =
    new GenericArrayData(graft.operators.WikiDump.pagesJvm(b).map {
      case (i, id, ns, t, r, x, n) => InternalRow(i, id, ns,
        UTF8String.fromString(t),
        if (r == null) null else UTF8String.fromString(r),
        UTF8String.fromString(x), n)
    }.toArray[Any])

  /** [[Multimodal.TarEntryRow]] minus doc_id. */
  val tarEntrySchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("typeflag", StringType, nullable = false),
    StructField("content", StringType, nullable = true)))

  def tarEntries(b: Array[Byte]): ArrayData =
    new GenericArrayData(Multimodal.tarEntriesJvm(b).map {
      case (n, sz, tf, c) => InternalRow(UTF8String.fromString(n), sz,
        UTF8String.fromString(tf),
        if (c == null) null else UTF8String.fromString(c))
    }.toArray[Any])

  /** [[Multimodal.TarEntryRangeRow]] minus doc_id. */
  val tarEntryRangeSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("typeflag", StringType, nullable = false)))

  def tarEntryRanges(b: Array[Byte]): ArrayData =
    new GenericArrayData(Multimodal.tarEntryRangesJvm(b).map {
      case (n, off, sz, tf) => InternalRow(UTF8String.fromString(n), off,
        sz, UTF8String.fromString(tf))
    }.toArray[Any])

  /** [[Multimodal.WarcRecordRow]] minus doc_id. */
  val warcRecordSchema: StructType = StructType(Seq(
    StructField("rec_type", StringType, nullable = false),
    StructField("target_uri", StringType, nullable = false),
    StructField("content_length", LongType, nullable = false),
    StructField("http_status", LongType, nullable = false)))

  def warcRecords(b: Array[Byte]): ArrayData =
    new GenericArrayData(Multimodal.warcRecordsJvm(b).map {
      case (t, u, cl, st) => InternalRow(UTF8String.fromString(t),
        UTF8String.fromString(u), cl, st)
    }.toArray[Any])

  /** [[Multimodal.WarcHttpRow]] minus doc_id. `body` carries the
    * decoded payload BYTES (image/binary crawls route them to the
    * media front doors); `body_text` is the charset decode, present
    * only for textual content types. */
  val warcHttpSchema: StructType = StructType(Seq(
    StructField("rec_idx", LongType, nullable = false),
    StructField("target_uri", StringType, nullable = false),
    StructField("http_status", LongType, nullable = false),
    StructField("content_type", StringType, nullable = false),
    StructField("content_encoding", StringType, nullable = false),
    StructField("transfer_encoding", StringType, nullable = false),
    StructField("body_len", LongType, nullable = false),
    StructField("body", BinaryType, nullable = true),
    StructField("body_text", StringType, nullable = true)))

  private def warcHttpRows(rows: IndexedSeq[
      (Long, String, Long, String, String, String, Long, Array[Byte],
        String)]): ArrayData =
    new GenericArrayData(rows.map {
      case (i, u, st, ct, ce, te, bl, bb, bt) =>
        InternalRow(i, UTF8String.fromString(u), st,
          UTF8String.fromString(ct), UTF8String.fromString(ce),
          UTF8String.fromString(te), bl, bb,
          if (bt == null) null else UTF8String.fromString(bt))
    }.toArray[Any])

  def warcHttpBodies(b: Array[Byte]): ArrayData =
    warcHttpRows(Multimodal.warcHttpBodiesJvm(b))

  def warcZstHttpBodies(b: Array[Byte]): ArrayData =
    warcHttpRows(Multimodal.warcZstHttpBodiesJvm(b))

  /** One struct per PDF page (round 16): page index, show-op count,
    * extracted text (NULL when the page declines), decline reasons
    * ('' when clean). Doc-level failure → one page_idx = -1 row. */
  val pdfPageSchema: StructType = StructType(Seq(
    StructField("page_idx", LongType, nullable = false),
    StructField("n_shows", LongType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("declined", StringType, nullable = false)))

  def pdfPages(b: Array[Byte]): ArrayData =
    new GenericArrayData(
      graft.operators.PdfText.extractPagesJvm(b).map {
        case (i, n, t, d) => InternalRow(i, n,
          if (t == null) null else UTF8String.fromString(t),
          UTF8String.fromString(d))
      }.toArray[Any])

  /** Document-level PDF metadata (round 16): header version, page
    * count (-1 + reason on a failed parse), Info title/author
    * (UTF-16BE-BOM-aware), whether the object-scan fallback ran. */
  val pdfMetaSchema: StructType = StructType(Seq(
    StructField("version", StringType, nullable = false),
    StructField("n_pages", LongType, nullable = false),
    StructField("title", StringType, nullable = true),
    StructField("author", StringType, nullable = true),
    StructField("via_scan", BooleanType, nullable = false),
    StructField("reason", StringType, nullable = false)))

  def pdfMeta(b: Array[Byte]): InternalRow = {
    val (v, n, t, a, vs, r) =
      graft.operators.PdfText.extractMetaJvm(b)
    InternalRow(UTF8String.fromString(v), n,
      if (t == null) null else UTF8String.fromString(t),
      if (a == null) null else UTF8String.fromString(a),
      vs, UTF8String.fromString(r))
  }

  /** [[Multimodal.ZipEntryRow]] minus doc_id. */
  val zipEntrySchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("method", LongType, nullable = false),
    StructField("usize", LongType, nullable = false),
    StructField("content", StringType, nullable = true),
    StructField("crc_ok", BooleanType, nullable = false)))

  def zipEntries(b: Array[Byte]): ArrayData =
    new GenericArrayData(Multimodal.zipEntriesJvm(b).map {
      case (n, m, u, c, ok) => InternalRow(UTF8String.fromString(n), m, u,
        if (c == null) null else UTF8String.fromString(c), ok)
    }.toArray[Any])

  /** [[Multimodal.ZstdFrameRow]] minus doc_id. */
  val zstdFrameSchema: StructType = StructType(Seq(
    StructField("frame_idx", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("window_size", LongType, nullable = false),
    StructField("dict_id", LongType, nullable = false),
    StructField("content_size", LongType, nullable = false),
    StructField("n_blocks", LongType, nullable = false),
    StructField("compressed_len", LongType, nullable = false),
    StructField("has_checksum", BooleanType, nullable = false),
    StructField("content", StringType, nullable = true),
    StructField("checksum_ok", BooleanType, nullable = true)))

  /** [[Multimodal.Lz4FrameRow]] minus doc_id. */
  val lz4FrameSchema: StructType = StructType(Seq(
    StructField("frame_idx", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("block_indep", BooleanType, nullable = false),
    StructField("content_checksum", BooleanType, nullable = false),
    StructField("content_size", LongType, nullable = false),
    StructField("n_blocks", LongType, nullable = false),
    StructField("compressed_len", LongType, nullable = false),
    StructField("content", StringType, nullable = true),
    StructField("checksum_ok", BooleanType, nullable = true)))

  def lz4Frames(b: Array[Byte]): ArrayData =
    new GenericArrayData(
      graft.operators.Lz4Snappy.lz4FramesJvm(b).zipWithIndex.map {
        case ((k, bi, cc, cs, nb, cl, c, ok), i) =>
          InternalRow(i.toLong, UTF8String.fromString(k), bi, cc, cs,
            nb, cl,
            if (c == null) null else UTF8String.fromBytes(c),
            if (ok == null) null else ok.booleanValue())
      }.toArray[Any])

  /** [[Multimodal.SnappyRow]] minus doc_id. */
  val snappySchema: StructType = StructType(Seq(
    StructField("usize", LongType, nullable = false),
    StructField("content", StringType, nullable = true)))

  def snappy(b: Array[Byte]): InternalRow =
    graft.operators.Lz4Snappy.snappyDecompress(b) match {
      case Some(c) => InternalRow(c.length.toLong,
        if (c.length <= (1 << 16)) UTF8String.fromBytes(c) else null)
      case None => null
    }

  /** [[Multimodal.KafkaBatchRow]] minus doc_id. */
  val kafkaBatchSchema: StructType = StructType(Seq(
    StructField("base_offset", LongType, nullable = false),
    StructField("records_count", LongType, nullable = false),
    StructField("codec", StringType, nullable = false),
    StructField("crc_ok", BooleanType, nullable = false),
    StructField("transactional", BooleanType, nullable = false),
    StructField("control", BooleanType, nullable = false),
    StructField("base_timestamp", LongType, nullable = false),
    StructField("max_timestamp", LongType, nullable = false),
    StructField("batch_bytes", LongType, nullable = false)))

  def kafkaBatches(b: Array[Byte]): ArrayData =
    new GenericArrayData(
      graft.operators.KafkaSegment.batchesJvm(b).map { bt =>
        InternalRow(bt.baseOffset, bt.recordsCount,
          UTF8String.fromString(bt.codec), bt.crcOk, bt.transactional,
          bt.control, bt.baseTimestamp, bt.maxTimestamp, bt.batchBytes)
      }.toArray[Any])

  /** [[Multimodal.KafkaRecordRow]] minus doc_id. */
  val kafkaRecordSchema: StructType = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("value", BinaryType, nullable = true),
    StructField("n_headers", LongType, nullable = false),
    StructField("codec", StringType, nullable = false)))

  def kafkaRecords(b: Array[Byte]): ArrayData =
    new GenericArrayData(
      graft.operators.KafkaSegment.recordsJvm(b).map { r =>
        InternalRow(r.offset, r.timestamp,
          if (r.key == null) null else UTF8String.fromString(r.key),
          r.value, r.nHeaders, UTF8String.fromString(r.codec))
      }.toArray[Any])

  /** Column-at-rest zstd compression ([[graft.operators.ZstdEncode]],
    * libzstd): one RFC 8878 frame with content size + checksum. NULL
    * when the input exceeds the 64 MiB frame guard. */
  def zstdCompress(b: Array[Byte]): Array[Byte] =
    if (b.length > graft.operators.CodecCap.MaxBytes) null
    else graft.operators.ZstdEncode.compress(b)

  /** Full-stream zstd decompression as a scalar column (dict-aware —
    * a leading IIPC `0x184D2A5D` skippable frame is harvested); NULL
    * on any violation (PERMISSIVE). */
  def zstdDecompress(b: Array[Byte]): Array[Byte] =
    graft.operators.ZstdDecode.decompressDictAware(b).orNull

  def warcZstRecords(b: Array[Byte]): ArrayData =
    new GenericArrayData(Multimodal.warcZstRecordsJvm(b).map {
      case (t, u, cl, st) => InternalRow(UTF8String.fromString(t),
        UTF8String.fromString(u), cl, st)
    }.toArray[Any])

  /** Column-at-rest LZ4 frame compression (round 15,
    * [[graft.operators.Lz4Snappy.lz4Compress]]): one frame,
    * independent 64 KiB blocks, content size + XXH32 checksums. NULL
    * past the 64 MiB guard. */
  def lz4Compress(b: Array[Byte]): Array[Byte] =
    if (b.length > graft.operators.CodecCap.MaxBytes) null
    else graft.operators.Lz4Snappy.lz4Compress(b)

  /** Full LZ4 frame-stream decompression as a scalar column; NULL on
    * any violation (PERMISSIVE). */
  def lz4Decompress(b: Array[Byte]): Array[Byte] =
    graft.operators.Lz4Snappy.lz4Decompress(b).orNull

  def zstdFrames(b: Array[Byte]): ArrayData =
    new GenericArrayData(Multimodal.zstdFramesJvm(b).zipWithIndex.map {
      case ((k, w, did, cs, nb, cl, hc, c, ok), i) =>
        InternalRow(i.toLong, UTF8String.fromString(k), w, did, cs, nb,
          cl, hc,
          if (c == null) null
          else UTF8String.fromBytes(c),
          if (ok == null) null else ok.booleanValue())
    }.toArray[Any])

  /** [[Multimodal.Id3TextRow]] minus doc_id. */
  val id3TextSchema: StructType = StructType(Seq(
    StructField("title", StringType, nullable = false),
    StructField("artist", StringType, nullable = false),
    StructField("album", StringType, nullable = false)))

  def id3Text(b: Array[Byte]): InternalRow =
    Multimodal.id3TextJvm(b) match {
      case Some((t, a, al)) => InternalRow(UTF8String.fromString(t),
        UTF8String.fromString(a), UTF8String.fromString(al))
      case None => null
    }

  /** [[Multimodal.ExifMetaRow]] minus doc_id. */
  val exifMetaSchema: StructType = StructType(Seq(
    StructField("has_exif", BooleanType, nullable = false),
    StructField("orientation", LongType, nullable = false)))

  def exifMeta(b: Array[Byte]): InternalRow =
    Multimodal.exifOrientationJvm(b) match {
      case Some((has, o)) => InternalRow(has, o)
      case None => null
    }

  /** [[Multimodal.OggMetaRow]] minus doc_id. */
  val oggMetaSchema: StructType = StructType(Seq(
    StructField("codec", StringType, nullable = false),
    StructField("channels", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("n_pages", LongType, nullable = false)))

  def oggMeta(b: Array[Byte]): InternalRow =
    Multimodal.oggMetaJvm(b) match {
      case Some((c, ch, r, dur, np)) =>
        InternalRow(UTF8String.fromString(c), ch, r, dur, np)
      case None => null
    }

  /** [[Multimodal.AvifMetaRow]] minus doc_id. */
  val avifMetaSchema: StructType = StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("n_items", LongType, nullable = false),
    StructField("animated", BooleanType, nullable = false)))

  def avifMeta(b: Array[Byte]): InternalRow =
    Multimodal.avifMetaJvm(b) match {
      case Some((w, h, n, anim)) => InternalRow(w, h, n, anim)
      case None => null
    }

  /** [[Multimodal.PngMetaRow]] minus doc_id. */
  val pngMetaSchema: StructType = StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("total_duration_ms", LongType, nullable = false),
    StructField("n_plays", LongType, nullable = false)))

  def pngMeta(b: Array[Byte]): InternalRow =
    Multimodal.pngMetaJvm(b) match {
      case Some((w, h, nf, dur, pl)) => InternalRow(w, h, nf, dur, pl)
      case None => null
    }

  def gifMeta(b: Array[Byte]): InternalRow =
    Multimodal.gifMetaJvm(b) match {
      case Some((w, h, nf, dur, loop)) => InternalRow(w, h, nf, dur, loop)
      case None => null
    }

  def webpMeta(b: Array[Byte]): InternalRow =
    Multimodal.webpMetaJvm(b) match {
      case Some((al, an, w, h, nf, dur, loop)) =>
        InternalRow(al, an, w, h, nf, dur, loop)
      case None => null
    }

  def mp3Meta(b: Array[Byte]): InternalRow =
    Multimodal.mp3MetaJvm(b) match {
      case Some(m) => InternalRow(m.version_x10, m.layer, m.sample_rate,
        m.channels, m.n_frames, m.n_samples, m.duration_ms,
        m.bitrate_bps, m.frame_bytes)
      case None => null
    }
}

/** Array-kernel shape: kernel is a method on [[MediaArrayKernel]],
  * result is array-of-structs (empty = undecodable, never null for a
  * non-null blob → nullable tracks the child, and the fixed codegen
  * template skips the isNull assignment when non-nullable). */
sealed abstract class MediaArrayExpression extends MediaDecodeExpression {
  protected def structSchema: StructType
  override def dataType: DataType =
    ArrayType(structSchema, containsNull = false)
  override def nullable: Boolean = child.nullable
  // array expressions may be non-nullable (nullable tracks the
  // child) — a kernel throw degrades to the empty array, which
  // explode() then drops, matching the documented PERMISSIVE shape
  override protected def fallbackValue: Any = MediaArrayKernel.emptyArray()
  override protected def fallbackJava: String =
    "graft.plans.MediaArrayKernel.emptyArray()"
}

/** `wav_features(blob)` → per-channel PCM stats, 8- and 16-bit. */
case class WavFeatures(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.audioSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.wavAnyDepth($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.wavAnyDepth(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_wav_features"
}

/** `wav16_features(blob)` → per-channel PCM stats, 16-bit only. */
case class Wav16Features(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.audioSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.wav16($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.wav16(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_wav16_features"
}

/** `flac_features(blob)` → per-channel decoded-sample stats. */
case class FlacFeatures(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.audioSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.flac($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.flac(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_flac_features"
}

/** `any_audio_features(blob)` → (kind, per-channel stats) for WAV or
  * FLAC — the mixed-corpus audio front door as one expression. */
case class AnyAudioFeatures(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.anyAudioSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.anyAudio($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.anyAudio(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_any_audio_features"
}

/** `wav_windows(blob, windowFrames)` → per-(channel, window) energy. */
case class WavWindows(child: Expression, windowFrames: Int)
  extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.windowSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.wavWindows($c, $windowFrames)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.wavWindows(b, windowFrames)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_wav_windows"
}

/** `flac_windows(blob, windowFrames)` → per-(channel, window) energy. */
case class FlacWindows(child: Expression, windowFrames: Int)
  extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.windowSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.flacWindows($c, $windowFrames)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.flacWindows(b, windowFrames)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_flac_windows"
}

/** `bmp_features(blob)` → whole-image BGR profile struct, NULL if not
  * a decodable 24-bit BMP. */
case class BmpFeatures(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaArrayKernel.bmpSchema
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.bmp($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.bmp(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_bmp_features"
}

/** `bmp_patches(blob, patch)` → ViT-style fixed-grid patch profiles. */
case class BmpPatches(child: Expression, patch: Int)
  extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.patchSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.bmpPatches($c, $patch)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.bmpPatches(b, patch)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_bmp_patches"
}

/** `mp4_meta(blob)` → ISO-BMFF container metadata struct, NULL if not
  * a parseable MP4. */
case class Mp4Meta(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaArrayKernel.mp4Schema
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.mp4Meta($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.mp4Meta(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_mp4_meta"
}

/** `mp4_tracks(blob)` → first-video-track sample-table profile struct,
  * NULL if not a parseable MP4 with complete tables. */
case class Mp4Tracks(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaArrayKernel.mp4TracksSchema
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.mp4Tracks($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.mp4Tracks(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_mp4_tracks"
}

/** `mp4_sync_ranges(blob)` → per-sync-sample (sample, chunk, offset,
  * size) byte-range plan; empty for anything but a parseable MP4 with
  * the full sample-table quartet. */
case class Mp4SyncRanges(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.mp4SyncSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.mp4SyncRanges($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.mp4SyncRanges(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_mp4_sync_ranges"
}

/** `mp3_meta(blob)` → MPEG-audio frame-grid metadata struct, NULL if
  * not a parseable (optionally ID3-tagged) MPEG audio stream. */
case class Mp3Meta(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaArrayKernel.mp3Schema
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.mp3Meta($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.mp3Meta(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_mp3_meta"
}

/** Column constructors for the round-11 media expressions — the
  * [[Multimodal.pngFeaturesCol]] convention, collected here so the
  * operators module reads declaratively. */
/** `webp_meta(blob)` → container metadata struct (alpha/anim flags,
  * canvas geometry, frame count / duration / loop), NULL for non-WebP
  * or malformed payloads. */
/** `gif_meta(blob)` → container metadata struct (geometry, frame
  * count, summed GCE delays, NETSCAPE loop), NULL for non-GIF or
  * malformed payloads. */
/** `ogg_meta(blob)` → codec/channels/rate/duration/page-count from
  * the OGG page walk, NULL for non-OGG or malformed payloads. */
/** `exif_meta(blob)` → (has_exif, orientation 0-8) from a JPEG's
  * APP1/TIFF IFD0, NULL for non-JPEG payloads. */
/** `tar_entries(blob)` → one struct per TAR entry (name, size,
  * typeflag, small-file content); checksum-verified headers; empty
  * for malformed archives. */
/** `gzip_member(blob)` -> header metadata + inflated content with the
  * trailer CRC verified; NULL for non-gzip or broken streams. */
case class GzipMember(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaArrayKernel.gzipMemberSchema
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.gzipMember($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.gzipMember(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_gzip_member"
}

/** `gzip_members(blob)` -> one struct per member of a concatenated
  * gzip stream (the `.warc.gz`/pigz layout); CRC-corrupt members are
  * flagged (`crc_ok=false`) without killing the listing; structural
  * violations yield an empty array. */
case class GzipMembers(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.gzipMembersSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.gzipMembers($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.gzipMembers(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_gzip_members"
}

/** `bz2_members(blob)` -> one struct per stream of a concatenated
  * multi-stream bzip2 blob (the Wikipedia-multistream layout), fully
  * decoded and CRC-verified by commons-compress (golden vectors from
  * libbz2 pin the bytes);
  * structural violations yield an empty array. */
case class Bz2Members(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.bz2MemberSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.bz2Members($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.bz2Members(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_bz2_members"
}

/** `xz_members(blob)` -> one struct per stream of a concatenated
  * multi-stream `.xz` blob, fully decoded with every container CRC32
  * and the per-block check (CRC32/CRC64/SHA-256/none) verified
  * (tukaani xz; liblzma golden vectors pin the bytes); structural
  * violations yield an empty array. */
case class XzMembers(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.xzMemberSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.xzMembers($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.xzMembers(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_xz_members"
}

/** `tar_xz_entries(blob)` -> the TAR entry walk over a decompressed
  * `.tar.xz` (the dataset-shipping layout); identical output schema to
  * `tar_entries` on the uncompressed twin. */
case class TarXzEntries(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.tarEntrySchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.tarXzEntries($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.tarXzEntries(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_tar_xz_entries"
}

/** `cbor_to_json(blob)` -> the RFC 8949 data item rendered as JSON
  * (§6.1 conversion rules; pinned against the RFC's own Appendix A
  * vectors); NULL for malformed/truncated/trailing-garbage input. */
case class CborToJson(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.cborJson($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.cborJson(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_cbor_to_json"
}

/** `tf_records(blob)` -> one struct per TFRecord frame (length +
  * masked-CRC32C framing, the TensorFlow training-data container);
  * corrupt data CRCs are flagged with content withheld, corrupt
  * length CRCs end the walk loud. */
case class TfRecords(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.tfRecordSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.tfRecords($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.tfRecords(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_tf_records"
}

/** `tar_gz_entries(blob)` / `tar_bz2_entries(blob)` -> the TAR entry
  * walk over decompressed `.tar.gz` / `.tar.bz2`; identical output
  * schema to `tar_entries` on the uncompressed twin. */
case class TarGzEntries(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.tarEntrySchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.tarGzEntries($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.tarGzEntries(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_tar_gz_entries"
}

case class TarBz2Entries(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.tarEntrySchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.tarBz2Entries($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.tarBz2Entries(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_tar_bz2_entries"
}

/** `wiki_pages(blob)` -> one struct per MediaWiki `<page>` element;
  * a `BZh` prefix routes through the multi-stream bzip2 decoder (the
  * `pages-articles-multistream.xml.bz2` layout), anything else is
  * plain dump XML. */
case class WikiPages(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.wikiPageSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.wikiPages($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.wikiPages(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_wiki_pages"
}

/** `warc_gz_records(blob)` -> the WARC record walk over an inflated
  * `.warc.gz` (one gzip member per record, concatenated); identical
  * output schema to `warc_records` on the uncompressed twin. */
case class WarcGzRecords(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.warcRecordSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.warcGzRecords($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.warcGzRecords(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_warc_gz_records"
}

/** `lz4_frames(blob)` -> one struct per LZ4 frame of a concatenated
  * stream, fully decoded (golden-pinned against the reference
  * encoder), every present checksum verified; structural violations
  * yield an empty array. */
case class Lz4Frames(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.lz4FrameSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.lz4Frames($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.lz4Frames(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_lz4_frames"
}

/** `snappy_decode(blob)` -> (usize, content) for a raw-format Snappy
  * block (the Parquet/Kafka codec); NULL struct on violation. */
case class SnappyDecode(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaArrayKernel.snappySchema
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.snappy($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.snappy(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_snappy_decode"
}

/** `kafka_batches(blob)` -> one struct per RecordBatch v2 of a dumped
  * Kafka segment (CRC-32C verified, codec named); structural
  * violations yield an empty array. */
case class KafkaBatches(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.kafkaBatchSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.kafkaBatches($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.kafkaBatches(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_kafka_batches"
}

/** `kafka_records(blob)` -> one struct per RECORD of a dumped Kafka
  * segment, the records section decompressed by attribute codec
  * (none/gzip/snappy/lz4/zstd); values stay BINARY (Avro bodies
  * survive). CRC-corrupt and control batches contribute no rows. */
case class KafkaRecords(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.kafkaRecordSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.kafkaRecords($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.kafkaRecords(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_kafka_records"
}

/** `zstd_compress(blob)` -> one compressed RFC 8878 zstd frame
  * (round 14): the column-at-rest codec hop — compress a payload
  * column before an export sink, or re-compress decoded archive
  * members. Any zstd tool (and [[ZstdDecompress]]) reads the output;
  * NULL past the 64 MiB frame guard. */
case class ZstdCompress(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.zstdCompress($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.zstdCompress(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_zstd_compress"
}

/** `zstd_decompress(blob)` -> the concatenated content of a (possibly
  * multi-frame, possibly dictionary-led) zstd stream; NULL on any
  * violation — the scalar twin of the [[ZstdFrames]] walk for callers
  * that want the bytes, not the frame metadata. */
case class ZstdDecompress(child: Expression)
    extends MediaDecodeExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.zstdDecompress($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.zstdDecompress(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_zstd_decompress"
}

/** `lz4_compress(blob)` -> one LZ4 frame (independent 64 KiB blocks,
  * content size + XXH32 checksums); NULL past the 64 MiB guard. */
case class Lz4Compress(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.lz4Compress($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.lz4Compress(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_lz4_compress"
}

/** `lz4_decompress(blob)` -> the concatenated content of a (possibly
  * multi-frame) LZ4 frame stream; NULL on any violation — the scalar
  * twin of [[Lz4Frames]] for callers that want the bytes. */
case class Lz4Decompress(child: Expression)
    extends MediaDecodeExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.lz4Decompress($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.lz4Decompress(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_lz4_decompress"
}

/** `warc_zst_records(blob)` -> the WARC record walk over a fully
  * zstd-decompressed `.warc.zst` (Common Crawl's current layout);
  * identical output schema to `warc_records` on the uncompressed
  * twin. */
case class WarcZstRecords(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.warcRecordSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.warcZstRecords($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.warcZstRecords(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_warc_zst_records"
}

/** `zstd_frames(blob)` -> one struct per RFC 8878 frame (zstd or
  * skippable) of a concatenated stream: header and block-chain metadata,
  * plus the content (up to 64 KiB). Raw/RLE-only frames are copied out
  * and their XXH64 content checksum verified; frames with Compressed
  * blocks are decoded (checksum included) by libzstd, and one that fails
  * to decode keeps its metadata with NULL content. Structural violations
  * yield an empty array. */
case class ZstdFrames(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.zstdFrameSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.zstdFrames($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.zstdFrames(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_zstd_frames"
}

case class TarEntries(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.tarEntrySchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.tarEntries($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.tarEntries(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_tar_entries"
}

/** `tar_entry_ranges(blob)` → one struct per TAR entry carrying the
  * content BYTE RANGE (name, offset, size, typeflag) instead of
  * extracted text — the WebDataset loader shape: callers slice the
  * members they want with substr (binary-safe), so image bytes never
  * round-trip through UTF-8. */
case class TarEntryRanges(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.tarEntryRangeSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.tarEntryRanges($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.tarEntryRanges(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_tar_entry_ranges"
}

/** `warc_records(blob)` → one struct per WARC record (type, target
  * URI, content length, HTTP status); empty for malformed framing. */
case class WarcRecords(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.warcRecordSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.warcRecords($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.warcRecords(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_warc_records"
}

/** `warc_http_bodies(blob)` → one struct per WARC RESPONSE record
  * (rec_idx, target URI, status, Content-Type, codings, decoded body
  * length + text); empty for malformed WARC framing, a body_len -1 /
  * NULL-text row for a record whose HTTP payload fails to decode. */
case class WarcHttpBodies(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.warcHttpSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.warcHttpBodies($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.warcHttpBodies(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_warc_http_bodies"
}

/** `warc_zst_http_bodies(blob)` → [[WarcHttpBodies]] over a
  * `.warc.zst` blob (dict-aware zstd decompression first) — the
  * one-expression Common Crawl text hop. */
case class WarcZstHttpBodies(child: Expression)
    extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.warcHttpSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.warcZstHttpBodies($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.warcZstHttpBodies(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_warc_zst_http_bodies"
}

/** `pdf_pages(blob)` → one struct per PDF page (page_idx, n_shows,
  * text, declined) through [[graft.operators.PdfText]] — classic
  * xref walk (+ object-scan fallback), FlateDecode, BT/ET text
  * operators, simple-font decode; PERMISSIVE per page. */
case class PdfPages(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.pdfPageSchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.pdfPages($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.pdfPages(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_pdf_pages"
}

/** `pdf_meta(blob)` → document-level PDF metadata struct (version,
  * n_pages, Info title/author, via_scan, reason) — the audit-side
  * sibling of [[PdfPages]]. */
case class PdfMeta(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaArrayKernel.pdfMetaSchema
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.pdfMeta($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.pdfMeta(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_pdf_meta"
}

/** `zip_entries(blob)` → one struct per archive entry (name, method,
  * usize, STORED content); empty array for non-zip payloads. */
case class ZipEntries(child: Expression) extends MediaArrayExpression {
  override protected def structSchema: StructType =
    MediaArrayKernel.zipEntrySchema
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.zipEntries($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.zipEntries(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_zip_entries"
}

/** `id3_text(blob)` → (title, artist, album) from an MP3's leading
  * ID3v2 tag, NULL for non-MP3 payloads. */
case class Id3Text(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaArrayKernel.id3TextSchema
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.id3Text($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.id3Text(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_id3_text"
}

case class ExifMeta(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaArrayKernel.exifMetaSchema
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.exifMeta($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.exifMeta(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_exif_meta"
}

case class OggMeta(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaArrayKernel.oggMetaSchema
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.oggMeta($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.oggMeta(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_ogg_meta"
}

/** `avif_meta(blob)` → primary-item geometry (pitm→ipma→ispe), item
  * count, animation flag; NULL for non-AVIF or malformed payloads. */
case class AvifMeta(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaArrayKernel.avifMetaSchema
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.avifMeta($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.avifMeta(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_avif_meta"
}

/** `png_meta(blob)` → IHDR geometry + APNG acTL/fcTL animation
  * metadata, NULL for non-PNG or malformed payloads. */
case class PngMeta(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaArrayKernel.pngMetaSchema
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.pngMeta($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.pngMeta(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_png_meta"
}

case class GifMeta(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaArrayKernel.gifMetaSchema
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.gifMeta($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.gifMeta(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_gif_meta"
}

case class WebpMeta(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaArrayKernel.webpMetaSchema
  override def nullable: Boolean = true
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.webpMeta($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.webpMeta(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_webp_meta"
}

/** `byte_stats(blob)` → format-agnostic content statistics (byte
  * count, mean byte, 8-bucket histogram fractions) — the round-12
  * promotion of the LAST `mapPartitions` extractor
  * ([[Multimodal.extractFeatures]]) onto the native-expression path;
  * unlike the decoders the kernel is total, so nullability tracks the
  * child only. */
case class ByteStats(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaArrayKernel.byteStatsSchema
  override def nullable: Boolean = child.nullable
  override protected def kernelCall(c: String): String =
    s"graft.plans.MediaArrayKernel.byteStats($c)"
  override protected def evalKernel(b: Array[Byte]): Any =
    MediaArrayKernel.byteStats(b)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "graft_byte_stats"
}

object MediaExprs {
  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(col: Column): Expression = ColumnBridge.expression(col)

  def wavAnyDepthCol(blob: Column): Column = c(WavFeatures(e(blob)))
  def wav16Col(blob: Column): Column = c(Wav16Features(e(blob)))
  def flacCol(blob: Column): Column = c(FlacFeatures(e(blob)))
  def anyAudioCol(blob: Column): Column = c(AnyAudioFeatures(e(blob)))
  def wavWindowsCol(blob: Column, windowFrames: Int): Column =
    c(WavWindows(e(blob), windowFrames))
  def flacWindowsCol(blob: Column, windowFrames: Int): Column =
    c(FlacWindows(e(blob), windowFrames))
  def bmpCol(blob: Column): Column = c(BmpFeatures(e(blob)))
  def bmpPatchesCol(blob: Column, patch: Int): Column =
    c(BmpPatches(e(blob), patch))
  def mp4MetaCol(blob: Column): Column = c(Mp4Meta(e(blob)))
  def mp4TracksCol(blob: Column): Column = c(Mp4Tracks(e(blob)))
  def mp3MetaCol(blob: Column): Column = c(Mp3Meta(e(blob)))
  def mp4SyncRangesCol(blob: Column): Column = c(Mp4SyncRanges(e(blob)))
  def byteStatsCol(blob: Column): Column = c(ByteStats(e(blob)))
  def webpMetaCol(blob: Column): Column = c(WebpMeta(e(blob)))
  def gifMetaCol(blob: Column): Column = c(GifMeta(e(blob)))
  def pngMetaCol(blob: Column): Column = c(PngMeta(e(blob)))
  def avifMetaCol(blob: Column): Column = c(AvifMeta(e(blob)))
  def oggMetaCol(blob: Column): Column = c(OggMeta(e(blob)))
  def exifMetaCol(blob: Column): Column = c(ExifMeta(e(blob)))
  def id3TextCol(blob: Column): Column = c(Id3Text(e(blob)))
  def zipEntriesCol(blob: Column): Column = c(ZipEntries(e(blob)))
  def warcRecordsCol(blob: Column): Column = c(WarcRecords(e(blob)))
  def tarEntriesCol(blob: Column): Column = c(TarEntries(e(blob)))
  def zstdFramesCol(blob: Column): Column = c(ZstdFrames(e(blob)))
  def zstdCompressCol(blob: Column): Column = c(ZstdCompress(e(blob)))
  def zstdDecompressCol(blob: Column): Column =
    c(ZstdDecompress(e(blob)))
  def warcZstRecordsCol(blob: Column): Column = c(WarcZstRecords(e(blob)))
  def warcHttpBodiesCol(blob: Column): Column = c(WarcHttpBodies(e(blob)))
  def warcZstHttpBodiesCol(blob: Column): Column =
    c(WarcZstHttpBodies(e(blob)))
  def pdfPagesCol(blob: Column): Column = c(PdfPages(e(blob)))
  def pdfMetaCol(blob: Column): Column = c(PdfMeta(e(blob)))
  def lz4FramesCol(blob: Column): Column = c(Lz4Frames(e(blob)))
  def lz4CompressCol(blob: Column): Column = c(Lz4Compress(e(blob)))
  def lz4DecompressCol(blob: Column): Column = c(Lz4Decompress(e(blob)))
  def snappyCol(blob: Column): Column = c(SnappyDecode(e(blob)))
  def kafkaBatchesCol(blob: Column): Column = c(KafkaBatches(e(blob)))
  def kafkaRecordsCol(blob: Column): Column = c(KafkaRecords(e(blob)))
  def tarEntryRangesCol(blob: Column): Column = c(TarEntryRanges(e(blob)))
  def gzipMemberCol(blob: Column): Column = c(GzipMember(e(blob)))
  def gzipMembersCol(blob: Column): Column = c(GzipMembers(e(blob)))
  def warcGzRecordsCol(blob: Column): Column = c(WarcGzRecords(e(blob)))
  def bz2MembersCol(blob: Column): Column = c(Bz2Members(e(blob)))
  def wikiPagesCol(blob: Column): Column = c(WikiPages(e(blob)))
  def xzMembersCol(blob: Column): Column = c(XzMembers(e(blob)))
  def tarXzEntriesCol(blob: Column): Column = c(TarXzEntries(e(blob)))
  def tfRecordsCol(blob: Column): Column = c(TfRecords(e(blob)))
  def cborToJsonCol(blob: Column): Column = c(CborToJson(e(blob)))
  def tarGzEntriesCol(blob: Column): Column = c(TarGzEntries(e(blob)))
  def tarBz2EntriesCol(blob: Column): Column = c(TarBz2Entries(e(blob)))
}
