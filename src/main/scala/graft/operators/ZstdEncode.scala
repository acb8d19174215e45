package graft.operators

import com.github.luben.zstd.ZstdCompressCtx

/** Zstandard COMPRESSION (RFC 8878) over libzstd, through the zstd-jni
  * binding Spark ships — the write half of [[ZstdDecode]].
  *
  * Every frame is one call at one fixed level, declares its exact
  * content size and carries the XXH64-low32 content checksum, so any
  * zstd tool (and [[ZstdDecode.decompress]]) reads it.
  */
object ZstdEncode {

  /** Why 5: per-record frames of the sf0.1 `documents` text compress
    * to 0.556 of their size (0.393 with a 2 KiB trained dictionary) at
    * 16 MB/s on one Xeon core; libzstd's default 3 gives 0.577 / 0.453,
    * and 9 gives no better ratio at a quarter of the dictionary speed. */
  private val Level = 5

  /** One frame holding `content`. */
  def compress(content: Array[Byte]): Array[Byte] =
    compress(content, Array.emptyByteArray)

  /** DICTIONARY (raw-content / prefix) compression: matches may reach
    * back into `prefix`, which the decoder must hold as the same
    * dictionary. As with `zstd -D <rawfile>`, NO dictionary id is
    * declared in the frame header (raw dictionaries have none) — the
    * reader supplies the prefix out-of-band
    * (`ZstdDecode.decompress(b, dict)`) or in-band via the IIPC
    * skippable frame ([[ZstdDecode.decompressDictAware]]). A prefix
    * that starts with the structured-dictionary magic is read as a
    * structured dictionary, by libzstd here and by
    * [[ZstdDecode.parseDict]] there. */
  def compress(content: Array[Byte],
      prefix: Array[Byte]): Array[Byte] = {
    require(content.length.toLong + prefix.length <= CodecCap.MaxBytes,
      s"frame content ${content.length} + prefix ${prefix.length} " +
        s"exceeds ${CodecCap.MaxBytes}")
    val ctx = new ZstdCompressCtx()
    try {
      ctx.setLevel(Level).setChecksum(true).setContentSize(true)
        .setDictID(false)
      if (prefix.length > 0) ctx.loadDict(prefix)
      ctx.compress(content)
    } finally ctx.close()
  }
}
