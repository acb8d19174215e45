package graft.operators

/** TFRecord framing walk — round 13.
  *
  * THE training-data container of the TensorFlow ecosystem, read here
  * without any TF dependency. The format (public spec in the TF docs):
  * per record an 8-byte little-endian length, a 4-byte MASKED CRC-32C
  * of those length bytes, the payload, and a 4-byte masked CRC-32C of
  * the payload — where mask(crc) = ((crc >>> 15) | (crc << 17)) +
  * 0xa282ead8 (the Castagnoli polynomial via the JDK's own
  * `java.util.zip.CRC32C`). Payloads are almost always serialized
  * `tf.train.Example` protobufs — [[ProtoDecode]]'s nested-message
  * support decodes those; this walk only frames.
  *
  * Corrupt length CRCs end the walk loud (an empty listing — without
  * a trusted length there is no resynchronization point); corrupt
  * DATA CRCs are flagged per record (`data_crc_ok=false`, content
  * withheld) while the walk continues on the trusted length — the
  * `KafkaSegment` discipline. Validated against an INDEPENDENT python
  * writer's vectors (pure-python Castagnoli table) plus fuzz.
  */
object TfRecord {

  /** One framed record: (length, data_crc_ok, payload bytes — null
    * when the data CRC fails). */
  final case class Rec(length: Long, dataCrcOk: Boolean,
    payload: Array[Byte])

  private def maskedCrc(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(b, off, len)
    val crc = c.getValue.toInt
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8
  }

  /** All records of a TFRecord blob; empty on a corrupt length CRC,
    * truncation mid-record, or non-TFRecord input. */
  def recordsJvm(b: Array[Byte]): IndexedSeq[Rec] = {
    if (b == null || b.length < 16) return Vector.empty
    val out = Vector.newBuilder[Rec]
    var p = 0
    var total = 0L
    def le32(q: Int): Int =
      (b(q) & 0xff) | ((b(q + 1) & 0xff) << 8) |
        ((b(q + 2) & 0xff) << 16) | ((b(q + 3) & 0xff) << 24)
    while (p < b.length) {
      if (p + 12 > b.length) return Vector.empty
      var len = 0L
      var i = 0
      while (i < 8) { len |= (b(p + i) & 0xffL) << (8 * i); i += 1 }
      if (maskedCrc(b, p, 8) != le32(p + 8)) return Vector.empty
      if (len < 0 || len > CodecCap.MaxBytes) return Vector.empty
      val dataOff = p + 12
      if (dataOff + len + 4 > b.length) return Vector.empty
      total += len
      if (total > CodecCap.MaxBytes) return Vector.empty
      val ok = maskedCrc(b, dataOff, len.toInt) ==
        le32(dataOff + len.toInt)
      out += Rec(len, ok,
        if (ok) java.util.Arrays.copyOfRange(b, dataOff,
          dataOff + len.toInt)
        else null)
      p = dataOff + len.toInt + 4
    }
    out.result()
  }

  /** Fixture writer (reader-checked, the `buildBatchV2` discipline). */
  def write(payloads: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    payloads.foreach { d =>
      val hdr = new Array[Byte](8)
      var i = 0
      while (i < 8) {
        hdr(i) = ((d.length.toLong >> (8 * i)) & 0xff).toByte
        i += 1
      }
      out.write(hdr)
      val mc = maskedCrc(hdr, 0, 8)
      (0 until 4).foreach(k => out.write((mc >> (8 * k)) & 0xff))
      out.write(d)
      val dc = maskedCrc(d, 0, d.length)
      (0 until 4).foreach(k => out.write((dc >> (8 * k)) & 0xff))
    }
    out.toByteArray
  }
}
