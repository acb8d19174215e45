package graft.operators

/** The decompression-bomb guard every codec in this package shares: no
  * call regenerates (or, for an encoder, accepts) more than
  * [[MaxBytes]]. A decoder declines input that declares more before
  * allocating, and reads input of unknown size through [[readCapped]],
  * which stops at the cap. */
private[graft] object CodecCap {

  /** 64 MiB per call. */
  final val MaxBytes = 1 << 26

  /** All of `in`, or None when it yields more than `cap` bytes. Reads
    * chunks of 8 KiB doubling to 1 MiB and assembles them only on
    * success, so a stream past the cap costs about `cap` bytes of
    * allocation and a small one little more than its size. */
  def readCapped(in: java.io.InputStream,
      cap: Int = MaxBytes): Option[Array[Byte]] = {
    val chunks = Vector.newBuilder[Array[Byte]]
    var total = 0L
    var size = 1 << 13
    var full = true
    while (full) {
      val c = new Array[Byte](size)
      val n = in.readNBytes(c, 0, c.length)
      total += n
      if (total > cap) return None
      chunks += c
      full = n == c.length
      size = math.min(size * 2, 1 << 20)
    }
    val out = new Array[Byte](total.toInt)
    var p = 0
    chunks.result().foreach { c =>
      val n = math.min(c.length, out.length - p)
      System.arraycopy(c, 0, out, p, n)
      p += n
    }
    Some(out)
  }
}
