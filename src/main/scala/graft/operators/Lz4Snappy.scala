package graft.operators

import io.airlift.compress.MalformedInputException
import io.airlift.compress.snappy.SnappyDecompressor
import net.jpountz.lz4.LZ4Factory
import net.jpountz.xxhash.{XXHash32, XXHashFactory}

/** LZ4 (block + frame, spec v1.6.2) and Snappy (raw block format)
  * decompression, and the LZ4 frame encoder.
  *
  * With zstd ([[ZstdDecode]], libzstd), gzip/DEFLATE (JDK
  * `Inflater`), and these two, the engine reads every general-purpose
  * codec a data platform actually meets: LZ4 and Snappy are Kafka's
  * and Parquet's default compression codecs, so Kafka message batches
  * and foreign Parquet pages stop being opaque at the byte level.
  *
  * Snappy blocks decode with aircompressor and the encoder's block
  * parse and every XXH32 checksum come from lz4-java, both of which
  * Spark ships. The LZ4 frame walk and its block decoder stay here:
  * the reference encoder's default frame makes blocks DEPENDENT (a
  * match may reach into earlier blocks), which lz4-java's frame reader
  * rejects, and commons-compress decodes such frames about 50x slower
  * than the ~50-line block loop below.
  *
  * Validation: golden vectors from REAL reference encoders (pyarrow's
  * bundled lz4/snappy via `tools/gen_lz4_snappy_vectors.py`, committed
  * under `src/test/resources/lz4/` and `/snappy/`) decode byte-exactly
  * — decoder-vs-reference-encoder, no bug cancellation. Every golden
  * LZ4 frame's header-checksum byte (HC = bits 15-8 of XXH32 over the
  * descriptor) and content checksum verify.
  *
  * All reads bounds-checked; any violation returns None. Output capped
  * at 64 MiB ([[CodecCap]]).
  */
object Lz4Snappy {

  // lz4-java's fastest instances: its JNI build of liblz4 where that
  // loads (as for Spark's own LZ4 codec), its Java port otherwise. The
  // Java fast compressor allocates a 16 KiB hash table per call, which
  // costs more than the whole JNI compression of a small record.

  /** XXH32, the LZ4 frame checksum (seed 0). */
  private[graft] val xxHash32: XXHash32 =
    XXHashFactory.fastestInstance().hash32()

  private val blockCompressor = LZ4Factory.fastestInstance()
    .fastCompressor()

  private val snappy = new SnappyDecompressor()

  // ---- LZ4 block format ----------------------------------------------

  /** Decode one LZ4 block (`b[off, off+len)`) appending to `out` from
    * `outPos`; `out` must already be sized for the regenerated bytes
    * (the frame layer knows the bound). Returns the new output
    * position, or -1 on any violation. Token high nibble = literal
    * run (15 → 255-extended), low nibble = match length - 4; matches
    * may self-overlap; the last sequence is literals-only. */
  private[graft] def lz4Block(b: Array[Byte], off: Int, len: Int,
      out: Array[Byte], outPos: Int): Int = {
    var p = off
    val end = off + len
    var w = outPos
    while (p < end) {
      val token = b(p) & 0xff
      p += 1
      var litLen = token >> 4
      if (litLen == 15) {
        var more = 255
        while (more == 255) {
          if (p >= end) return -1
          more = b(p) & 0xff
          p += 1
          litLen += more
        }
      }
      if (p + litLen > end || w + litLen > out.length) return -1
      System.arraycopy(b, p, out, w, litLen)
      p += litLen
      w += litLen
      if (p >= end) return w // last sequence: literals only
      if (p + 2 > end) return -1
      val offset = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
      p += 2
      if (offset == 0 || offset > w) return -1
      var matchLen = (token & 0xf) + 4
      if ((token & 0xf) == 15) {
        var more = 255
        while (more == 255) {
          if (p >= end) return -1
          more = b(p) & 0xff
          p += 1
          matchLen += more
        }
      }
      if (w + matchLen > out.length) return -1
      var src = w - offset
      var i = 0
      while (i < matchLen) { // may overlap — byte-by-byte
        out(w + i) = out(src)
        src += 1
        i += 1
      }
      w += matchLen
    }
    w
  }

  // ---- LZ4 encoding ----------------------------------------------------

  /** One LZ4 FRAME (v1.6.1 frame spec): magic, FLG with independent
    * 64 KiB blocks + exact content size + content checksum, XXH32
    * header checksum byte, blocks compressed by lz4-java's fast
    * compressor where they shrink (stored otherwise, high-bit size
    * flag), EndMark — byte-compatible with the `lz4` CLI and with
    * [[lz4Decompress]], the golden-pinned arbiter. The cheap-CPU export
    * codec next to [[ZstdEncode.compress]]. */
  def lz4Compress(content: Array[Byte]): Array[Byte] = {
    require(content.length <= CodecCap.MaxBytes,
      s"content ${content.length} exceeds ${CodecCap.MaxBytes}")
    val out = new java.io.ByteArrayOutputStream(content.length / 2 + 32)
    def u32le(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 24) & 0xff).toInt)
    }
    u32le(0x184d2204L)
    val hdr = new Array[Byte](10)
    hdr(0) = ((1 << 6) | 0x20 | 0x08 | 0x04).toByte // v1, indep, csize, ccheck
    hdr(1) = 0x40 // BD: 64 KiB max block
    var k = 0
    while (k < 8) {
      hdr(2 + k) = ((content.length.toLong >> (8 * k)) & 0xff).toByte
      k += 1
    }
    out.write(hdr, 0, 10)
    out.write((xxHash32.hash(hdr, 0, 10, 0) >> 8) & 0xff)
    val blockMax = 1 << 16
    val comp = new Array[Byte](blockCompressor.maxCompressedLength(
      math.min(blockMax, content.length)))
    var p = 0
    while (p < content.length) {
      val take = math.min(blockMax, content.length - p)
      val n = blockCompressor.compress(content, p, take, comp, 0,
        comp.length)
      if (n < take) {
        u32le(n.toLong)
        out.write(comp, 0, n)
      } else {
        u32le(take.toLong | 0x80000000L)
        out.write(content, p, take)
      }
      p += take
    }
    u32le(0L) // EndMark
    u32le(xxHash32.hash(content, 0, content.length, 0) & 0xffffffffL)
    out.toByteArray
  }

  /** One row per LZ4 frame (or skippable frame) of a concatenated
    * stream: flags, declared content size (-1 unknown), block count,
    * frame byte length, and the fully decoded content with every
    * present checksum (header HC, per-block, content) VERIFIED.
    * Structural violations return an empty listing (the zstd walk's
    * rule); a checksum mismatch flags `checksum_ok=false` on that
    * frame without killing the listing when framing stays sound. */
  private[graft] def lz4FramesJvm(b: Array[Byte]): IndexedSeq[(String,
      Boolean, Boolean, Long, Long, Long, Array[Byte],
      java.lang.Boolean)] =
    lz4FramesFull(b).map { r =>
      if (r._7 != null && r._7.length > (1 << 16)) r.copy(_7 = null)
      else r
    }

  /** The walk with UNCAPPED content (feeds [[lz4Decompress]]); the
    * public walk caps the content column at 64 KiB. */
  private def lz4FramesFull(b: Array[Byte]): IndexedSeq[(String,
      Boolean, Boolean, Long, Long, Long, Array[Byte],
      java.lang.Boolean)] = {
    val empty = Vector.empty[(String, Boolean, Boolean, Long, Long,
      Long, Array[Byte], java.lang.Boolean)]
    if (b == null || b.length < 4) return empty
    def u32(p: Int): Long =
      (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
        ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
    val out = Vector.newBuilder[(String, Boolean, Boolean, Long, Long,
      Long, Array[Byte], java.lang.Boolean)]
    var p = 0
    while (p < b.length) {
      if (p + 4 > b.length) return empty
      val magic = u32(p)
      if ((magic & 0xfffffff0L) == 0x184d2a50L) { // skippable
        if (p + 8 > b.length) return empty
        val n = u32(p + 4)
        if (p + 8 + n > b.length) return empty
        out += (("skippable", false, false, n, 0L, 8 + n, null, null))
        p += (8 + n).toInt
      } else if (magic == 0x184d2204L) {
        val start = p
        if (p + 7 > b.length) return empty
        val flg = b(p + 4) & 0xff
        if ((flg >> 6) != 1 || (flg & 2) != 0) return empty // version/rsvd
        val blockIndep = (flg & 0x20) != 0
        val blockChecksum = (flg & 0x10) != 0
        val hasCSize = (flg & 0x08) != 0
        val contentChecksum = (flg & 0x04) != 0
        val hasDictId = (flg & 0x01) != 0
        val bd = b(p + 5) & 0xff
        if ((bd & 0x8f) != 0) return empty // reserved BD bits
        val bmax = (bd >> 4) & 7
        if (bmax < 4) return empty
        val blockMax = 1 << (8 + 2 * bmax) // 4→64 KiB … 7→4 MiB
        var q = p + 6
        var contentSize = -1L
        if (hasCSize) {
          if (q + 8 > b.length) return empty
          contentSize = 0L
          var i = 0
          while (i < 8) {
            contentSize |= (b(q + i) & 0xffL) << (8 * i); i += 1
          }
          q += 8
        }
        if (hasDictId) return empty // external dictionary — decline
        if (contentSize > CodecCap.MaxBytes) return empty
        // HC: bits 15-8 of XXH32 over FLG..dictID
        if (q >= b.length) return empty
        val hc = b(q) & 0xff
        var checksumOk: java.lang.Boolean = java.lang.Boolean.valueOf(
          ((xxHash32.hash(b, p + 4, q - (p + 4), 0) >> 8) & 0xff) == hc)
        q += 1
        // ONE shared output buffer for the whole frame: with
        // B.Indep=0 (the reference encoder's default) match offsets
        // legitimately reach back into PREVIOUS blocks' output, so
        // per-block buffers would be wrong. Independent-block frames
        // decode identically (we are merely lenient about the
        // boundary they promise not to cross).
        var frameBuf = new Array[Byte](math.min(blockMax.toLong * 2,
          CodecCap.MaxBytes.toLong).toInt)
        var w = 0
        var nBlocks = 0L
        var done = false
        while (!done) {
          if (q + 4 > b.length) return empty
          val bs = u32(q)
          q += 4
          if (bs == 0L) done = true
          else {
            val uncompressed = (bs & 0x80000000L) != 0
            val size = (bs & 0x7fffffffL).toInt
            if (size > blockMax || q + size > b.length) return empty
            nBlocks += 1
            if (w.toLong + blockMax > CodecCap.MaxBytes) return empty
            if (w + blockMax > frameBuf.length)
              frameBuf = java.util.Arrays.copyOf(frameBuf,
                math.min(math.max(frameBuf.length.toLong * 2,
                  w.toLong + blockMax), CodecCap.MaxBytes.toLong).toInt)
            if (uncompressed) {
              System.arraycopy(b, q, frameBuf, w, size)
              w += size
            } else {
              val n = lz4Block(b, q, size, frameBuf, w)
              if (n < 0 || n - w > blockMax) return empty
              w = n
            }
            if (blockChecksum) {
              if (q + size + 4 > b.length) return empty
              if ((xxHash32.hash(b, q, size, 0) & 0xffffffffL) != u32(q + size))
                checksumOk = java.lang.Boolean.FALSE
              q += size + 4
            } else q += size
          }
        }
        val c = java.util.Arrays.copyOf(frameBuf, w)
        if (contentSize >= 0 && contentSize != c.length) return empty
        if (contentChecksum) {
          if (q + 4 > b.length) return empty
          if ((xxHash32.hash(c, 0, c.length, 0) & 0xffffffffL) != u32(q))
            checksumOk = java.lang.Boolean.FALSE
          q += 4
        }
        out += (("lz4", blockIndep, contentChecksum,
          contentSize, nBlocks, (q - start).toLong, c, checksumOk))
        p = q
      } else return empty
    }
    out.result()
  }

  /** Full LZ4 frame-stream decompression: concatenated frames with
    * every checksum REQUIRED to verify (unlike the walk's flagging);
    * None on any violation. */
  def lz4Decompress(b: Array[Byte]): Option[Array[Byte]] = {
    val frames = lz4FramesFull(b)
    if (frames.isEmpty && (b == null || b.length > 0)) return None
    val out = new java.io.ByteArrayOutputStream()
    frames.foreach {
      case ("lz4", _, _, _, _, _, c, ok) =>
        if (ok != java.lang.Boolean.TRUE || c == null) return None
        out.write(c)
      case _ => () // skippable
    }
    Some(out.toByteArray)
  }

  // ---- Snappy (raw block format) --------------------------------------

  /** Decode a raw-format Snappy block (the Parquet/Kafka codec): a
    * varint32 uncompressed length, then literal / copy1 / copy2 /
    * copy4 tagged elements. The declared length is checked against the
    * cap before allocating; None on any violation, including a block
    * whose elements (every input byte of them) do not regenerate
    * exactly the declared length. */
  def snappyDecompress(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null || b.length == 0) return None
    try {
      val n = SnappyDecompressor.getUncompressedLength(b, 0)
      if (n < 0 || n > CodecCap.MaxBytes) return None
      val out = new Array[Byte](n)
      if (snappy.decompress(b, 0, b.length, out, 0, n) == n) Some(out)
      else None
    } catch { case _: MalformedInputException => None }
  }
}
