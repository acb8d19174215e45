package graft.operators

/** Kafka RecordBatch v2 (magic 2) segment reader.
  *
  * The reference engine is a Kafka Connect transform: it sees records
  * only after a broker and a consumer framework have unpacked them.
  * This reader closes the loop at the BYTE level — a dumped segment
  * file (or a raw fetch response body) is a concatenation of
  * RecordBatch v2 structures, and a 100 TB replay/backfill pipeline
  * wants to read those at rest, in parallel, without standing up a
  * broker. Batch headers are big-endian; record fields are
  * zigzag-varint; the records section is compressed as a whole with
  * the codec in the attributes bits — none/gzip/snappy/lz4/zstd, all
  * of which this package decodes (JDK Inflater for gzip, [[Lz4Snappy]]
  * for lz4 frames and snappy blocks, libzstd's [[ZstdDecode]] for zstd;
  * snappy accepts BOTH raw blocks and the xerial-framed layout real
  * producers emit), each under the 64 MiB [[CodecCap]]. The CRC-32C
  * over attributes..end is verified with the JDK's own
  * `java.util.zip.CRC32C` — a corrupt batch is FLAGGED
  * (`crc_ok=false`) with its records withheld (they cannot be
  * trusted), while the walk continues via the length field, which sits
  * OUTSIDE the CRC span by design.
  *
  * Validated against vectors from an independent python writer
  * (`tools/gen_kafka_vectors.py` — reference codecs + RFC-3720-checked
  * CRC-32C) across all five codecs, multi-batch segments, and
  * transactional/control batches.
  */
object KafkaSegment {

  /** Per-batch metadata row (minus doc_id). */
  final case class Batch(baseOffset: Long, recordsCount: Long,
    codec: String, crcOk: Boolean, transactional: Boolean,
    control: Boolean, baseTimestamp: Long, maxTimestamp: Long,
    batchBytes: Long)

  /** Per-record row (minus doc_id): absolute offset/timestamp, key as
    * UTF-8, value as RAW BYTES (Kafka values are arbitrary binary —
    * Avro bodies, protobuf, … — so a string column would be lossy;
    * null tombstones preserved), header count. */
  final case class Rec(offset: Long, timestamp: Long, key: String,
    value: Array[Byte], nHeaders: Long, codec: String)

  private def u32be(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
      ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)

  private def i32be(b: Array[Byte], p: Int): Int =
    (((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) |
      ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff))

  private def i64be(b: Array[Byte], p: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(p + i) & 0xffL); i += 1 }
    v
  }

  private def i16be(b: Array[Byte], p: Int): Int =
    ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)

  /** Zigzag varint (the record-level integer encoding). Returns
    * (value, next position), or null on overrun. */
  private final class VarReader(b: Array[Byte], var p: Int,
      val end: Int) {
    var failed = false
    def read(): Long = {
      var z = 0L
      var shift = 0
      while (true) {
        if (p >= end || shift > 63) { failed = true; return 0L }
        val v = b(p) & 0xff
        p += 1
        z |= (v & 0x7fL) << shift
        shift += 7
        if ((v & 0x80) == 0)
          return (z >>> 1) ^ -(z & 1L) // un-zigzag
      }
      0L
    }
  }

  private val CodecNames =
    Array("none", "gzip", "snappy", "lz4", "zstd")

  private def gunzip(b: Array[Byte], off: Int, len: Int)
      : Option[Array[Byte]] =
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b, off, len))
      try CodecCap.readCapped(in) finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Xerial-framed snappy (what real Kafka producers emit via
    * snappy-java): magic `82 53 4e 41 50 50 59 00` + two int32s +
    * [int32 chunk length, raw snappy block]*. Raw blocks route through
    * [[Lz4Snappy.snappyDecompress]]. */
  private def snappyAny(b: Array[Byte], off: Int, len: Int)
      : Option[Array[Byte]] = {
    val XerialMagic = Array[Byte](-126, 'S', 'N', 'A', 'P', 'P', 'Y', 0)
    if (len >= 16 && (0 until 8).forall(i => b(off + i) == XerialMagic(i))) {
      val out = new java.io.ByteArrayOutputStream()
      var p = off + 16 // magic + version + compat
      val end = off + len
      while (p < end) {
        if (p + 4 > end) return None
        val n = i32be(b, p)
        p += 4
        if (n <= 0 || p + n > end) return None
        Lz4Snappy.snappyDecompress(
          java.util.Arrays.copyOfRange(b, p, p + n)) match {
          case Some(c) =>
            if (out.size().toLong + c.length > CodecCap.MaxBytes)
              return None
            out.write(c)
          case None => return None
        }
        p += n
      }
      Some(out.toByteArray)
    } else Lz4Snappy.snappyDecompress(
      java.util.Arrays.copyOfRange(b, off, off + len))
  }

  /** Fixture/spec WRITER: one RecordBatch v2 with the given
    * (key, value, headers) records, codec 0 (none) or 1 (gzip — the
    * JDK's own encoder). Not part of the read surface; its output is
    * checked BY the reader, which is itself pinned by the independent
    * python vectors — so writer bugs surface as read mismatches
    * instead of cancelling out. Timestamps are baseTs + 10·i, the
    * vector recipe's spacing. */
  private[graft] def buildBatchV2(baseOffset: Long, baseTs: Long,
      records: Seq[(Array[Byte], Array[Byte])],
      codec: Int = 0): Array[Byte] = {
    require(codec == 0 || codec == 1, "writer supports none/gzip")
    def writeVar(out: java.io.ByteArrayOutputStream, n: Long): Unit = {
      var z = (n << 1) ^ (n >> 63)
      while ((z & ~0x7fL) != 0L) {
        out.write(((z & 0x7f) | 0x80).toInt)
        z >>>= 7
      }
      out.write(z.toInt)
    }
    val recs = new java.io.ByteArrayOutputStream()
    records.zipWithIndex.foreach { case ((k, v), i) =>
      val body = new java.io.ByteArrayOutputStream()
      body.write(0) // record attributes
      writeVar(body, 10L * i) // timestamp delta
      writeVar(body, i.toLong) // offset delta
      if (k == null) writeVar(body, -1L)
      else { writeVar(body, k.length.toLong); body.write(k) }
      if (v == null) writeVar(body, -1L)
      else { writeVar(body, v.length.toLong); body.write(v) }
      writeVar(body, 0L) // headers
      val bb = body.toByteArray
      writeVar(recs, bb.length.toLong)
      recs.write(bb)
    }
    var recBytes = recs.toByteArray
    if (codec == 1) {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(recBytes); gz.close()
      recBytes = bos.toByteArray
    }
    val body = java.nio.ByteBuffer.allocate(40 + recBytes.length)
    body.putShort(codec.toShort) // attributes
    body.putInt(records.size - 1) // lastOffsetDelta
    body.putLong(baseTs)
    body.putLong(baseTs + 10L * (records.size - 1))
    body.putLong(-1L).putShort(-1).putInt(-1) // producer id/epoch/seq
    body.putInt(records.size)
    body.put(recBytes)
    val bodyArr = body.array()
    val c = new java.util.zip.CRC32C
    c.update(bodyArr)
    val out = java.nio.ByteBuffer.allocate(61 + recBytes.length)
    out.putLong(baseOffset)
    out.putInt(4 + 1 + 4 + bodyArr.length) // batchLength
    out.putInt(0) // partitionLeaderEpoch
    out.put(2.toByte) // magic
    out.putInt(c.getValue.toInt)
    out.put(bodyArr)
    out.array()
  }

  /** Walk the batches of a segment blob. Structural violations (short
    * header, bad magic, length overrun) end the listing EMPTY — unlike
    * a CRC mismatch, framing errors mean nothing after the bad point
    * can be trusted, including its extent. */
  private[graft] def batchesJvm(b: Array[Byte]): IndexedSeq[Batch] = {
    val empty = Vector.empty[Batch]
    if (b == null || b.length < 61) return empty
    val out = Vector.newBuilder[Batch]
    var p = 0
    while (p < b.length) {
      if (p + 61 > b.length) return empty // minimal v2 batch header
      val baseOffset = i64be(b, p)
      val batchLength = i32be(b, p + 8)
      val magic = b(p + 16)
      if (magic != 2) return empty
      val batchEnd = p + 12 + batchLength
      if (batchLength < 49 || batchEnd > b.length) return empty
      val crc = u32be(b, p + 17)
      val c = new java.util.zip.CRC32C
      c.update(b, p + 21, batchEnd - (p + 21))
      val crcOk = c.getValue == crc
      val attrs = i16be(b, p + 21)
      val codecId = attrs & 7
      if (codecId > 4) return empty
      val baseTs = i64be(b, p + 27)
      val maxTs = i64be(b, p + 35)
      val recordsCount = i32be(b, p + 57)
      if (recordsCount < 0) return empty
      out += Batch(baseOffset, recordsCount, CodecNames(codecId),
        crcOk, (attrs & 0x10) != 0, (attrs & 0x20) != 0, baseTs, maxTs,
        (batchEnd - p).toLong)
      p = batchEnd
    }
    out.result()
  }

  /** Walk the RECORDS of a segment blob: per record the absolute
    * offset/timestamp (base + delta), key/value (UTF-8; null
    * tombstones preserved), header count, and the batch's codec.
    * CRC-corrupt batches contribute NO records (flagged in
    * [[batchesJvm]]); control batches are skipped (their records are
    * protocol markers, not data — the consumer contract). */
  private[graft] def recordsJvm(b: Array[Byte]): IndexedSeq[Rec] = {
    val empty = Vector.empty[Rec]
    if (b == null || b.length < 61) return empty
    val out = Vector.newBuilder[Rec]
    var p = 0
    while (p < b.length) {
      if (p + 61 > b.length) return empty
      val baseOffset = i64be(b, p)
      val batchLength = i32be(b, p + 8)
      if (b(p + 16) != 2) return empty
      val batchEnd = p + 12 + batchLength
      if (batchLength < 49 || batchEnd > b.length) return empty
      val crc = u32be(b, p + 17)
      val c = new java.util.zip.CRC32C
      c.update(b, p + 21, batchEnd - (p + 21))
      val attrs = i16be(b, p + 21)
      val codecId = attrs & 7
      if (codecId > 4) return empty
      val baseTs = i64be(b, p + 27)
      val recordsCount = i32be(b, p + 57)
      if (recordsCount < 0) return empty
      val skip = c.getValue != crc || (attrs & 0x20) != 0 // corrupt/control
      if (!skip && recordsCount > 0) {
        val rawOff = p + 61
        val rawLen = batchEnd - rawOff
        val recs: Array[Byte] = codecId match {
          case 0 => java.util.Arrays.copyOfRange(b, rawOff, batchEnd)
          case 1 => gunzip(b, rawOff, rawLen) match {
            case Some(x) => x; case None => return empty
          }
          case 2 => snappyAny(b, rawOff, rawLen) match {
            case Some(x) => x; case None => return empty
          }
          case 3 => Lz4Snappy.lz4Decompress(
            java.util.Arrays.copyOfRange(b, rawOff, batchEnd)) match {
            case Some(x) => x; case None => return empty
          }
          case _ => ZstdDecode.decompress(
            java.util.Arrays.copyOfRange(b, rawOff, batchEnd)) match {
            case Some(x) => x; case None => return empty
          }
        }
        val in = new VarReader(recs, 0, recs.length)
        var i = 0
        while (i < recordsCount) {
          val len = in.read()
          if (in.failed || len < 0) return empty
          val recEnd = in.p + len.toInt
          if (recEnd > recs.length) return empty
          if (in.p >= recs.length) return empty
          in.p += 1 // record attributes (unused by the protocol)
          val tsDelta = in.read()
          val offDelta = in.read()
          val keyLen = in.read()
          if (in.failed) return empty
          var key: String = null
          if (keyLen >= 0) {
            if (in.p + keyLen > recEnd) return empty
            key = new String(recs, in.p, keyLen.toInt, "UTF-8")
            in.p += keyLen.toInt
          }
          val valLen = in.read()
          if (in.failed) return empty
          var value: Array[Byte] = null
          if (valLen >= 0) {
            if (in.p + valLen > recEnd) return empty
            value = java.util.Arrays.copyOfRange(recs, in.p,
              in.p + valLen.toInt)
            in.p += valLen.toInt
          }
          val nHeaders = in.read()
          if (in.failed || nHeaders < 0) return empty
          var h = 0L
          while (h < nHeaders) { // skip header bodies, count them
            val hkLen = in.read()
            if (in.failed || hkLen < 0 || in.p + hkLen > recEnd)
              return empty
            in.p += hkLen.toInt
            val hvLen = in.read()
            if (in.failed) return empty
            if (hvLen > 0) {
              if (in.p + hvLen > recEnd) return empty
              in.p += hvLen.toInt
            }
            h += 1
          }
          if (in.p != recEnd) return empty // record must close exactly
          out += Rec(baseOffset + offDelta, baseTs + tsDelta, key,
            value, nHeaders, CodecNames(codecId))
          i += 1
        }
        if (in.p != recs.length) return empty // batch must close exactly
      }
      p = batchEnd
    }
    out.result()
  }
}
