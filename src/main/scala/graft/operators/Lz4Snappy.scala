package graft.operators

/** Pure-JVM LZ4 (block + frame, spec v1.6.2) and Snappy (raw block
  * format) decompression — round 13.
  *
  * With zstd ([[ZstdDecode]], libzstd), gzip/DEFLATE (JDK
  * `Inflater`), and these two, the engine reads every general-purpose
  * codec a data platform actually meets: LZ4 and Snappy are Kafka's
  * and Parquet's default compression codecs, so Kafka message batches
  * and foreign Parquet pages stop being opaque at the byte level.
  *
  * Validation follows the zstd discipline: golden vectors from REAL
  * reference encoders (pyarrow's bundled lz4/snappy via
  * `tools/gen_lz4_snappy_vectors.py`, committed under
  * `src/test/resources/lz4/` and `/snappy/`) decode byte-exactly —
  * decoder-vs-reference-encoder, no bug cancellation. The XXH32
  * implementation is pinned three ways: the spec's empty-input vector
  * (0x02CC5D05), every golden LZ4 frame's header-checksum byte (HC =
  * bits 15-8 of XXH32 over the descriptor), and content checksums
  * where frames carry them.
  *
  * All reads bounds-checked; any violation returns None. Output capped
  * at 64 MiB (decompression-bomb guard).
  */
object Lz4Snappy {

  private val MaxOutput = 1 << 26 // 64 MiB

  // ---- XXH32 (xxHash spec, seed 0 unless stated) ---------------------

  private val P1 = 0x9e3779b1
  private val P2 = 0x85ebca77
  private val P3 = 0xc2b2ae3d
  private val P4 = 0x27d4eb2f
  private val P5 = 0x165667b1

  /** XXH32 over `b[off, off+len)` — LZ4 frame checksums (xxHash spec;
    * the empty-input vector 0x02CC5D05 is spec-pinned). */
  private[graft] def xxh32(b: Array[Byte], off: Int, len: Int,
      seed: Int): Int = {
    def u32(p: Int): Int =
      (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
        ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
    var p = off
    val end = off + len
    var h = 0
    if (len >= 16) {
      var v1 = seed + P1 + P2
      var v2 = seed + P2
      var v3 = seed
      var v4 = seed - P1
      while (p + 16 <= end) {
        v1 = Integer.rotateLeft(v1 + u32(p) * P2, 13) * P1
        v2 = Integer.rotateLeft(v2 + u32(p + 4) * P2, 13) * P1
        v3 = Integer.rotateLeft(v3 + u32(p + 8) * P2, 13) * P1
        v4 = Integer.rotateLeft(v4 + u32(p + 12) * P2, 13) * P1
        p += 16
      }
      h = Integer.rotateLeft(v1, 1) + Integer.rotateLeft(v2, 7) +
        Integer.rotateLeft(v3, 12) + Integer.rotateLeft(v4, 18)
    } else h = seed + P5
    h += len
    while (p + 4 <= end) {
      h = Integer.rotateLeft(h + u32(p) * P3, 17) * P4
      p += 4
    }
    while (p < end) {
      h = Integer.rotateLeft(h + (b(p) & 0xff) * P5, 11) * P1
      p += 1
    }
    h ^= h >>> 15
    h *= P2
    h ^= h >>> 13
    h *= P3
    h ^= h >>> 16
    h
  }

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

  // ---- LZ4 ENCODING (round 15) ----------------------------------------

  /** Greedy LZ4 block compression of `src[from, until)` — 4-byte
    * hash-table match finder, token/extension emission per the block
    * spec, with the format's end-of-block rules honored: the last 5
    * bytes stay literal, the last match starts ≥ 12 bytes before the
    * block end, offsets ≤ 65535 and within the block (independent
    * blocks). Returns null when the block doesn't shrink — the frame
    * layer then stores it uncompressed, so output never inflates past
    * the 4-byte block headers. */
  private[graft] def lz4CompressBlock(src: Array[Byte], from: Int,
      until: Int): Array[Byte] = {
    val len = until - from
    if (len < 13) return null // end-rules leave nothing to match
    val out = new java.io.ByteArrayOutputStream(len)
    val hashLog = math.min(14, math.max(8,
      32 - Integer.numberOfLeadingZeros(math.max(1, len))))
    val shift = 32 - hashLog
    val tab = new Array[Int](1 << hashLog)
    java.util.Arrays.fill(tab, -1)
    @inline def v4(p: Int): Int =
      (src(p) & 0xff) | ((src(p + 1) & 0xff) << 8) |
        ((src(p + 2) & 0xff) << 16) | ((src(p + 3) & 0xff) << 24)
    @inline def h(v: Int): Int = (v * 0x9e3779b1) >>> shift
    def ext(v0: Int): Unit = { // 255-chunked length extension
      var v = v0
      while (v >= 255) { out.write(255); v -= 255 }
      out.write(v)
    }
    def emit(litFrom: Int, litLen: Int, matchLen: Int,
        offset: Int): Unit = {
      val lt = math.min(litLen, 15)
      val mt = if (matchLen < 0) 0 else math.min(matchLen - 4, 15)
      out.write((lt << 4) | mt)
      if (litLen >= 15) ext(litLen - 15)
      out.write(src, litFrom, litLen)
      if (matchLen >= 0) {
        out.write(offset & 0xff); out.write((offset >> 8) & 0xff)
        if (matchLen - 4 >= 15) ext(matchLen - 4 - 15)
      }
    }
    val mfLimit = until - 12 // last match starts before this
    val matchEnd = until - 5 // last 5 bytes stay literal
    var i = from
    var anchor = from
    var miss = 0
    while (i < mfLimit) {
      val v = v4(i)
      val slot = h(v)
      val cand = tab(slot)
      tab(slot) = i
      var took = false
      if (cand >= from && cand < i && i - cand <= 65535 &&
        v4(cand) == v) {
        var mlen = 4
        val lim = matchEnd - i
        while (mlen < lim && src(cand + mlen) == src(i + mlen)) mlen += 1
        if (mlen >= 4) {
          // extend backward into pending literals
          var s = i
          var m = cand
          while (s > anchor && m > from && src(s - 1) == src(m - 1)) {
            s -= 1; m -= 1; mlen += 1
          }
          emit(anchor, s - anchor, mlen, s - m)
          anchor = s + mlen
          i = s + mlen
          took = true
          miss = 0
        }
      }
      if (!took) {
        miss += 1
        i += 1 + (miss >> 6)
      }
    }
    emit(anchor, until - anchor, -1, 0) // trailing literals-only
    if (out.size() >= len) null else out.toByteArray
  }

  /** One LZ4 FRAME (v1.6.1 frame spec): magic, FLG with independent
    * 64 KiB blocks + exact content size + content checksum, XXH32
    * header checksum byte, compressed blocks where they shrink
    * (stored otherwise, high-bit size flag), EndMark — byte-compatible
    * with the `lz4` CLI and with [[lz4Decompress]], the golden-pinned
    * arbiter. The cheap-CPU export codec next to
    * [[ZstdEncode.compress]]. */
  def lz4Compress(content: Array[Byte]): Array[Byte] = {
    require(content.length <= MaxOutput,
      s"content ${content.length} exceeds $MaxOutput")
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
    out.write((xxh32(hdr, 0, 10, 0) >> 8) & 0xff)
    val blockMax = 1 << 16
    var p = 0
    while (p < content.length) {
      val take = math.min(blockMax, content.length - p)
      val comp = lz4CompressBlock(content, p, p + take)
      if (comp != null && comp.length < take) {
        u32le(comp.length.toLong)
        out.write(comp, 0, comp.length)
      } else {
        u32le(take.toLong | 0x80000000L)
        out.write(content, p, take)
      }
      p += take
    }
    u32le(0L) // EndMark
    u32le(xxh32(content, 0, content.length, 0) & 0xffffffffL)
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
        if (contentSize > MaxOutput) return empty
        // HC: bits 15-8 of XXH32 over FLG..dictID
        if (q >= b.length) return empty
        val hc = b(q) & 0xff
        var checksumOk: java.lang.Boolean = java.lang.Boolean.valueOf(
          ((xxh32(b, p + 4, q - (p + 4), 0) >> 8) & 0xff) == hc)
        q += 1
        // ONE shared output buffer for the whole frame: with
        // B.Indep=0 (the reference encoder's default) match offsets
        // legitimately reach back into PREVIOUS blocks' output, so
        // per-block buffers would be wrong. Independent-block frames
        // decode identically (we are merely lenient about the
        // boundary they promise not to cross).
        var frameBuf = new Array[Byte](math.min(blockMax.toLong * 2,
          MaxOutput.toLong).toInt)
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
            if (w.toLong + blockMax > MaxOutput) return empty
            if (w + blockMax > frameBuf.length)
              frameBuf = java.util.Arrays.copyOf(frameBuf,
                math.min(math.max(frameBuf.length.toLong * 2,
                  w.toLong + blockMax), MaxOutput.toLong).toInt)
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
              if ((xxh32(b, q, size, 0) & 0xffffffffL) != u32(q + size))
                checksumOk = java.lang.Boolean.FALSE
              q += size + 4
            } else q += size
          }
        }
        val c = java.util.Arrays.copyOf(frameBuf, w)
        if (contentSize >= 0 && contentSize != c.length) return empty
        if (contentChecksum) {
          if (q + 4 > b.length) return empty
          if ((xxh32(c, 0, c.length, 0) & 0xffffffffL) != u32(q))
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
    * copy4 tagged elements; copies may self-overlap. None on any
    * violation, including a length prefix the elements don't exactly
    * regenerate. */
  def snappyDecompress(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null || b.length == 0) return None
    var p = 0
    // varint32 uncompressed length
    var ulen = 0L
    var shift = 0
    var more = true
    while (more) {
      if (p >= b.length || shift > 31) return None
      val v = b(p) & 0xff
      p += 1
      ulen |= (v & 0x7fL) << shift
      shift += 7
      more = (v & 0x80) != 0
    }
    if (ulen > MaxOutput) return None
    val out = new Array[Byte](ulen.toInt)
    var w = 0
    while (p < b.length) {
      val tag = b(p) & 0xff
      p += 1
      (tag & 3) match {
        case 0 => // literal
          var len = (tag >> 2) + 1
          if (len > 60) {
            val extra = len - 60 // 1..4 length bytes
            if (p + extra > b.length) return None
            len = 0
            var i = 0
            while (i < extra) {
              len |= (b(p + i) & 0xff) << (8 * i); i += 1
            }
            len += 1
            p += extra
          }
          if (len < 0 || p + len > b.length || w + len > out.length)
            return None
          System.arraycopy(b, p, out, w, len)
          p += len
          w += len
        case 1 => // copy, 1-byte offset tail
          if (p >= b.length) return None
          val len = ((tag >> 2) & 7) + 4
          val offset = ((tag >> 5) << 8) | (b(p) & 0xff)
          p += 1
          if (!copy(out, w, offset, len)) return None
          w += len
        case 2 => // copy, 2-byte offset
          if (p + 2 > b.length) return None
          val len = (tag >> 2) + 1
          val offset = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
          p += 2
          if (!copy(out, w, offset, len)) return None
          w += len
        case _ => // copy, 4-byte offset
          if (p + 4 > b.length) return None
          val len = (tag >> 2) + 1
          val offL = (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
            ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
          p += 4
          if (offL > Int.MaxValue) return None
          if (!copy(out, w, offL.toInt, len)) return None
          w += len
      }
    }
    if (w != out.length) return None
    Some(out)
  }

  private def copy(out: Array[Byte], w: Int, offset: Int,
      len: Int): Boolean = {
    if (offset <= 0 || offset > w || w + len > out.length) return false
    var src = w - offset
    var i = 0
    while (i < len) {
      out(w + i) = out(src)
      src += 1
      i += 1
    }
    true
  }
}
