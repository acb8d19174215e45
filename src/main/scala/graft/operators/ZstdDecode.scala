package graft.operators

import com.github.luben.zstd.{Zstd, ZstdDecompressCtx, ZstdException,
  ZstdInputStreamNoFinalizer}

/** Zstandard decompression (RFC 8878) over libzstd, through the
  * zstd-jni binding Spark ships.
  *
  * What stays here is the byte-aligned stream walk libzstd does not
  * expose: concatenated frames, skippable frames, and the IIPC
  * `.warc.zst` layout whose leading `0x184D2A5D` skippable frame
  * carries the dictionary, raw or itself zstd-compressed
  * ([[decompressDictAware]]). libzstd decodes each frame and verifies
  * its content size and checksum. Dictionaries (RFC 8878 §5) are
  * structured (`zstd --train`) or raw-content, supplied out-of-band
  * ([[decompress(b,dict)*]], the `zstd -D` layout) or harvested
  * in-band; a frame declaring a dictionary it was not given, or given
  * the wrong one, is declined.
  *
  * Contract: malformed input returns None and never throws — only
  * libzstd's decode errors (`ZstdException`, `IOException`) are
  * caught, so a native library that fails to load fails the query
  * instead of nulling every row. Output is capped at 64 MiB per call
  * ([[CodecCap]]): a frame declaring more is declined before
  * allocation, and a frame of unknown size is read as a stream that
  * stops at the cap. The committed libzstd golden vectors
  * (`ZstdGoldenSpec`, `ZstdDictGoldenSpec`) pin the decoded bytes.
  */
object ZstdDecode {

  private val FrameMagic = 0xfd2fb528L
  private val DictMagic = 0xec30a437L

  private def u32(b: Array[Byte], p: Int): Long =
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)

  // ---- dictionaries (RFC 8878 §5) ------------------------------------

  /** A zstd dictionary: structured (`id` from its header, entropy
    * tables validated by libzstd) or raw-content (`id == 0`, the whole
    * blob is window prefix). */
  final class ZDict private[ZstdDecode] (val id: Long,
      private[ZstdDecode] val bytes: Array[Byte])

  /** The dictionary a blob's header declares: magic `0xEC30A437` +
    * LE32 non-zero id is structured, a blob without the magic is
    * raw-content. Its tables are checked when libzstd loads it. */
  private def dictHeader(b: Array[Byte]): Option[ZDict] =
    if (b == null || b.length == 0 || b.length > CodecCap.MaxBytes) None
    else if (b.length < 8 || u32(b, 0) != DictMagic) Some(new ZDict(0L, b))
    else Some(new ZDict(u32(b, 4), b))
      .filter(_.id != 0L) // structured dicts carry a real id

  /** Parse a dictionary blob: magic `0xEC30A437` + LE32 non-zero id +
    * entropy tables + rep offsets + content is a structured dictionary,
    * accepted only when libzstd loads it; a blob without the magic is
    * a raw-content dictionary. */
  def parseDict(b: Array[Byte]): Option[ZDict] =
    dictHeader(b).filter { d =>
      val ctx = new ZstdDecompressCtx()
      try { ctx.loadDict(d.bytes); true }
      catch { case _: ZstdException => false }
      finally ctx.close()
    }

  // ---- frames ----------------------------------------------------------

  /** Decode the zstd frame at `off` with `ctx` (and `dict`, already
    * loaded into `ctx`); (content, bytes consumed). None when `off`
    * holds no zstd frame or the frame would regenerate more than
    * `cap` bytes; corrupt frames throw libzstd's errors. */
  private def frameAt(ctx: ZstdDecompressCtx, dict: ZDict,
      b: Array[Byte], off: Int, cap: Int): Option[(Array[Byte], Int)] = {
    if (off + 4 > b.length || u32(b, off) != FrameMagic) return None
    val len = Zstd.findFrameCompressedSize(b, off, b.length - off).toInt
    val size = Zstd.getFrameContentSize(b, off, len)
    if (size < -1L || size > cap) return None // -1: size not declared
    if (size >= 0L) {
      val out = new Array[Byte](size.toInt)
      if (ctx.decompressByteArray(out, 0, out.length, b, off, len) !=
        out.length) return None
      return Some((out, len))
    }
    // Size not declared (streaming writers): one call into a buffer of
    // 16x the frame fits a typical record; a frame that outgrows it is
    // read as a stream that stops at the cap (setting up a stream
    // costs ~20x the one call on a 40-byte record frame).
    val guess = math.min(cap.toLong, math.max(4096L, 16L * len)).toInt
    val out = new Array[Byte](guess)
    val n =
      try ctx.decompressByteArray(out, 0, guess, b, off, len)
      catch {
        case e: ZstdException
            if e.getErrorCode == Zstd.errDstSizeTooSmall() => -1
      }
    if (n >= 0) return Some((java.util.Arrays.copyOf(out, n), len))
    val in = new ZstdInputStreamNoFinalizer(
      new java.io.ByteArrayInputStream(b, off, len))
    try {
      if (dict != null) in.setDict(dict.bytes)
      CodecCap.readCapped(in, cap).map(c => (c, len))
    } finally in.close()
  }

  /** Decode ONE zstd frame starting at `off`; returns (content, bytes
    * consumed). Skippable frames and frames that need a dictionary
    * return None — route those through the metadata walk. */
  def decodeFrame(b: Array[Byte], off: Int): Option[(Array[Byte], Int)] = {
    if (b == null || off < 0) return None
    val ctx = new ZstdDecompressCtx()
    try frameAt(ctx, null, b, off, CodecCap.MaxBytes)
    catch { case _: ZstdException | _: java.io.IOException => None }
    finally ctx.close()
  }

  /** Decode a whole (possibly multi-frame, possibly skippable-frame-
    * interleaved) zstd stream; None on any violation. */
  def decompress(b: Array[Byte]): Option[Array[Byte]] =
    decompressImpl(b, null, harvest = false)

  /** [[decompress]] with an externally-supplied dictionary (the plain
    * `zstd -D` layout: the dictionary travels out-of-band). */
  def decompress(b: Array[Byte], dict: ZDict): Option[Array[Byte]] =
    decompressImpl(b, dict, harvest = false)

  /** [[decompress]] for the Common Crawl `.warc.zst` layout (IIPC
    * WARC/1.1 zstd annex): the dictionary travels IN-BAND as a leading
    * skippable frame with magic `0x184D2A5D`, raw or itself
    * zstd-compressed, and every record frame references it. Harvested
    * dictionaries apply to subsequent data frames; other skippable
    * frames are skipped as before, and a blob with no dictionary frame
    * decodes exactly like [[decompress]]. */
  def decompressDictAware(b: Array[Byte]): Option[Array[Byte]] =
    decompressImpl(b, null, harvest = true)

  private def decompressImpl(b: Array[Byte], dict0: ZDict,
      harvest: Boolean): Option[Array[Byte]] = {
    if (b == null || b.length < 4) return None
    val ctx = new ZstdDecompressCtx()
    try {
      var dict = dict0
      if (dict != null) ctx.loadDict(dict.bytes)
      val parts = Vector.newBuilder[Array[Byte]]
      var total = 0
      var p = 0
      while (p < b.length) {
        if (p + 4 > b.length) return None
        val magic = u32(b, p)
        if ((magic & 0xfffffff0L) == 0x184d2a50L) {
          if (p + 8 > b.length) return None
          val n = u32(b, p + 4)
          if (p + 8 + n > b.length) return None
          if (harvest && magic == 0x184d2a5dL) {
            // the WARC-zstd dictionary frame: payload is the dictionary,
            // raw or itself a (dictionary-less) zstd frame
            val payload = java.util.Arrays.copyOfRange(b, p + 8,
              p + 8 + n.toInt)
            val raw =
              if (payload.length >= 4 && u32(payload, 0) == FrameMagic)
                decompress(payload) match {
                  case Some(d) => d
                  case None => return None // corrupt wrapped dictionary
                }
              else payload
            // a dict frame must parse; libzstd's load checks its tables
            dict = dictHeader(raw) match {
              case Some(d) => d
              case None => return None
            }
            ctx.loadDict(dict.bytes)
          }
          p += (8 + n).toInt
        } else frameAt(ctx, dict, b, p, CodecCap.MaxBytes - total) match {
          case Some((c, consumed)) =>
            parts += c
            total += c.length
            p += consumed
          case None => return None
        }
      }
      val all = parts.result()
      if (all.length == 1) Some(all.head)
      else {
        val out = new Array[Byte](total)
        var q = 0
        all.foreach { c =>
          System.arraycopy(c, 0, out, q, c.length)
          q += c.length
        }
        Some(out)
      }
    } catch { case _: ZstdException | _: java.io.IOException => None }
    finally ctx.close()
  }
}
