package graft.operators

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream

/** bzip2 decompression over commons-compress, the decoder Spark ships.
  *
  * Wikipedia database dumps ship as MULTI-STREAM `.xml.bz2` (one
  * independent bzip2 stream per page batch, concatenated — the layout
  * `pages-articles-multistream.xml.bz2` is named for), and older
  * Common Crawl / Internet Archive corpora use `.bz2` throughout. The
  * library decodes each stream and verifies every block CRC and the
  * stream's combined CRC; this object walks the concatenation and
  * reports per-member metadata (level, block count, compressed length)
  * under the 64 MiB output cap ([[CodecCap]]).
  *
  * The block count is the number of 48-bit block magics
  * (`0x314159265359`) at any bit offset within the member, counted the
  * way `bzip2recover` finds blocks: blocks are bit-aligned, so their
  * boundaries are otherwise known only by entropy-decoding them.
  * Huffman data can produce the pattern by chance, about once per 2^48
  * bit offsets, which would overcount by one.
  *
  * Corrupt or truncated input returns empty/None and never throws; only
  * the library's `IOException`s are caught. Blocks with the deprecated
  * `randomized` flag (bzip2 ≤ 0.9.0) decode, under their block CRC. The
  * committed libbz2 golden vectors (`Bzip2GoldenSpec`) pin the decoded
  * bytes.
  */
object Bzip2Decode {

  /** One decoded stream member of a concatenated (multi-stream) blob:
    * level digit (1-9), block count, decoded bytes, CRC verdict
    * (always true on Some — the walk fails loud), compressed byte
    * length of this member (byte-aligned). */
  final case class Member(level: Int, nBlocks: Int,
    content: Array[Byte], crcOk: Boolean, compressedLen: Int)

  private val BlockMagic = 0x314159265359L

  /** Block magics at any bit offset of `b[from, until)`. */
  private def countBlocks(b: Array[Byte], from: Int, until: Int): Int = {
    var window = 0L
    var bits = 0L
    var n = 0
    var p = from
    while (p < until) {
      window = (window << 8) | (b(p) & 0xff)
      bits += 8
      var s = 7 // the windows ending at each of the byte's 8 bits
      while (s >= 0) {
        if (bits - s >= 48 && ((window >>> s) & 0xffffffffffffL) ==
          BlockMagic) n += 1
        s -= 1
      }
      p += 1
    }
    n
  }

  /** Decodes the bzip2 stream starting at `off`; None when it would
    * regenerate more than `cap` bytes. Corruption throws the library's
    * `IOException`s. */
  private def memberAt(b: Array[Byte], off: Int, cap: Int)
      : Option[Member] = {
    val in = new BZip2CompressorInputStream(
      new java.io.ByteArrayInputStream(b, off, b.length - off), false)
    try CodecCap.readCapped(in, cap).map { c =>
      val len = in.getCompressedCount.toInt
      Member(b(off + 3) - '0', countBlocks(b, off + 4, off + len), c,
        crcOk = true, len)
    } finally in.close()
  }

  /** All members of a concatenated multi-stream blob (the Wikipedia
    * `pages-articles-multistream` layout); empty on the first
    * corrupt/truncated member. Trailing garbage after a valid member
    * boundary invalidates the WHOLE walk only if it starts with `BZh`
    * and fails — non-bzip2 trailing bytes stop the walk at the last
    * good member (archive tools tolerate padding). */
  def membersJvm(b: Array[Byte]): IndexedSeq[Member] = {
    val out = Vector.newBuilder[Member]
    var off = 0
    var total = 0
    try {
      while (off + 4 <= b.length && b(off) == 'B' && b(off + 1) == 'Z' &&
          b(off + 2) == 'h') {
        memberAt(b, off, CodecCap.MaxBytes - total) match {
          case Some(m) =>
            total += m.content.length
            out += m
            off += m.compressedLen
          case None => return Vector.empty
        }
      }
    } catch { case _: java.io.IOException => return Vector.empty }
    if (off == 0) Vector.empty else out.result()
  }

  /** Full decompression of a (possibly multi-stream) blob — the
    * concatenation of every member's content; None if any member is
    * corrupt or the blob isn't bzip2. */
  def decompress(b: Array[Byte]): Option[Array[Byte]] = {
    val ms = membersJvm(b)
    if (ms.isEmpty) None
    else if (ms.length == 1) Some(ms.head.content)
    else {
      val out = new Array[Byte](ms.map(_.content.length).sum)
      var p = 0
      ms.foreach { m =>
        System.arraycopy(m.content, 0, out, p, m.content.length)
        p += m.content.length
      }
      Some(out)
    }
  }
}
