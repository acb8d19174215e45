package graft.operators

import org.tukaani.xz.{BasicArrayCache, SingleXZInputStream}

/** XZ decompression over tukaani xz, the decoder Spark ships.
  *
  * `.tar.xz` / `.jsonl.xz` corpora and software dumps are concatenated
  * XZ streams. The library decodes each stream — LZMA2 with the Delta
  * and BCJ filter chains, block and index verification, every check
  * type — and this object walks the concatenation: stream padding
  * between streams, per-member metadata (check type, block count from
  * the stream index, compressed length) and the 64 MiB output cap.
  *
  * Corrupt or truncated input returns empty/None and never throws;
  * only the library's `IOException`s are caught. Every decoded byte
  * is under its block check. The committed liblzma golden vectors
  * (`XzGoldenSpec`) pin the decoded bytes.
  */
object XzDecode {

  /** The library's memory limit (KiB): room for a 64 MiB LZMA2
    * dictionary; a stream declaring a larger one is declined. */
  private val MemoryLimitKiB = (CodecCap.MaxBytes >> 10) + 1024

  /** One decoded XZ stream of a concatenated blob: check-type name,
    * block count, decoded bytes, check verdict (always true on Some —
    * the walk fails loud), compressed length (stream padding
    * excluded). */
  final case class Member(check: String, nBlocks: Int,
    content: Array[Byte], checksOk: Boolean, compressedLen: Int)

  private val CheckNames = Map(0 -> "none", 1 -> "crc32", 4 -> "crc64",
    10 -> "sha256")

  private def le32(b: Array[Byte], p: Int): Long =
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)

  /** The record count of the index of the (verified) stream ending at
    * `end`: the footer's backward size locates the index, whose
    * indicator byte is followed by the count as a VLI. */
  private def indexRecordCount(b: Array[Byte], end: Int): Int = {
    val indexSize = (le32(b, end - 8) + 1) * 4
    var p = (end - 12 - indexSize).toInt + 1
    var n = 0L
    var shift = 0
    var more = true
    while (more) {
      val x = b(p) & 0xff
      n |= (x & 0x7fL) << shift
      shift += 7
      p += 1
      more = (x & 0x80) != 0
    }
    n.toInt
  }

  /** Decodes the XZ stream starting at `off`; None when it would
    * regenerate more than `cap` bytes. Corruption throws the library's
    * `IOException`s. */
  private def streamAt(b: Array[Byte], off: Int, cap: Int)
      : Option[Member] = {
    val src = new java.io.ByteArrayInputStream(b, off, b.length - off)
    val in = new SingleXZInputStream(src, MemoryLimitKiB, true,
      BasicArrayCache.getInstance())
    val content = try CodecCap.readCapped(in, cap) finally in.close()
    content.map { c =>
      val end = b.length - src.available()
      Member(CheckNames(in.getCheckType),
        indexRecordCount(b, end), c, checksOk = true, end - off)
    }
  }

  /** All members of a concatenated multi-stream blob; stream padding
    * (4-byte-aligned zeros) between streams is skipped per spec.
    * Empty on the first corrupt member or non-xz input. */
  def membersJvm(b: Array[Byte]): IndexedSeq[Member] = {
    if (b == null) return Vector.empty
    val out = Vector.newBuilder[Member]
    var off = 0
    var total = 0
    var any = false
    try {
      while (off + 12 <= b.length) {
        // stream padding: four zero bytes at a time
        if (b(off) == 0) {
          if (off + 4 > b.length || b(off + 1) != 0 || b(off + 2) != 0 ||
            b(off + 3) != 0) return if (any) out.result() else Vector.empty
          off += 4
        } else if (b(off) == 0xfd.toByte) {
          streamAt(b, off, CodecCap.MaxBytes - total) match {
            case Some(m) =>
              total += m.content.length
              out += m
              any = true
              off += m.compressedLen
            case None => return Vector.empty
          }
        } else return if (any) out.result() else Vector.empty
      }
    } catch { case _: java.io.IOException => return Vector.empty }
    if (!any) Vector.empty else out.result()
  }

  /** Full decompression of a (possibly multi-stream) `.xz` blob. */
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
