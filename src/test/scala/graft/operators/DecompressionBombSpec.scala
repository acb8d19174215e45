package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The 64 MiB output cap ([[CodecCap]]) of every decoder: inputs that
  * expand past it (or declare that they will) decode to None, and the
  * decoding thread's allocation stays bounded while it finds out. The
  * bombs are built here with the reference encoders (zstd-jni's
  * libzstd, tukaani xz, commons-compress bzip2, lz4-java, the JDK's
  * gzip, Arrow Java's stream writer). */
class DecompressionBombSpec extends AnyFunSuite {

  private val Cap = 1L << 26
  private def zeros = new Array[Byte](65 << 20) // 65 MiB, past the cap

  private val threads = java.lang.management.ManagementFactory
    .getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes this thread allocated while running `f`. */
  private def allocatedBy[A](f: => A): (A, Long) = {
    val self = Thread.currentThread().getId
    val before = threads.getThreadAllocatedBytes(self)
    val a = f
    val n = threads.getThreadAllocatedBytes(self) - before
    info(s"decoder allocated ${n >> 20} MiB")
    (a, n)
  }

  private def u32le(b: Array[Byte], p: Int): Long =
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)

  test("a zstd frame of 65 MiB zeros (content size declared) is " +
      "declined before decoding") {
    val frame = com.github.luben.zstd.Zstd.compress(zeros, 3)
    assert(com.github.luben.zstd.Zstd.getFrameContentSize(frame) ==
      (65L << 20))
    val (got, allocated) = allocatedBy(ZstdDecode.decompress(frame))
    assert(got.isEmpty)
    assert(allocated < (16L << 20), s"allocated $allocated bytes")
  }

  test("a zstd frame whose header declares a content size over 2^26 " +
      "is declined before decoding") {
    // a real 100 KiB frame (4-byte content-size field) whose declared
    // size is then raised past the cap
    val frame = com.github.luben.zstd.Zstd.compress(
      new Array[Byte](100 << 10), 3)
    val desc = frame(4) & 0xff
    assert((desc >> 6) == 2 && (desc & 0x20) != 0 && (desc & 3) == 0,
      f"expected a single-segment, 4-byte FCS header, got $desc%02x")
    assert(u32le(frame, 5) == (100 << 10))
    val big = Cap + 1
    (0 until 4).foreach(i => frame(5 + i) = ((big >> (8 * i)) & 0xff).toByte)
    val (got, allocated) = allocatedBy(ZstdDecode.decompress(frame))
    assert(got.isEmpty)
    assert(allocated < (16L << 20), s"allocated $allocated bytes")
  }

  test("a zstd frame of 65 MiB zeros with no declared content size " +
      "stops at the cap") {
    val bos = new java.io.ByteArrayOutputStream()
    val zo = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(bos)
    try zo.write(zeros) finally zo.close()
    val frame = bos.toByteArray
    assert(com.github.luben.zstd.Zstd.getFrameContentSize(frame) == -1L,
      "the streaming encoder must leave the content size unknown")
    val (got, allocated) = allocatedBy(ZstdDecode.decompress(frame))
    assert(got.isEmpty)
    assert(allocated < 4 * Cap, s"allocated $allocated bytes")
  }

  test("an xz stream of 65 MiB zeros stops at the cap") {
    val bos = new java.io.ByteArrayOutputStream()
    val xo = new org.tukaani.xz.XZOutputStream(bos,
      new org.tukaani.xz.LZMA2Options(0))
    try xo.write(zeros) finally xo.close()
    val stream = bos.toByteArray
    val (got, allocated) = allocatedBy(XzDecode.decompress(stream))
    assert(got.isEmpty)
    assert(XzDecode.membersJvm(stream).isEmpty)
    assert(allocated < 4 * Cap, s"allocated $allocated bytes")
  }

  test("a bzip2 stream of 65 MiB zeros stops at the cap") {
    val bos = new java.io.ByteArrayOutputStream()
    val bo = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(bos)
    try bo.write(zeros) finally bo.close()
    val stream = bos.toByteArray
    val (got, allocated) = allocatedBy(Bzip2Decode.decompress(stream))
    assert(got.isEmpty)
    assert(Bzip2Decode.membersJvm(stream).isEmpty)
    assert(allocated < 4 * Cap, s"allocated $allocated bytes")
  }

  test("an lz4 frame of 65 MiB zeros with no declared content size " +
      "stops at the cap") {
    val bos = new java.io.ByteArrayOutputStream()
    val lo = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
    try lo.write(zeros) finally lo.close()
    val frame = bos.toByteArray
    assert((frame(4) & 0x08) == 0, "the frame must not declare its size")
    val (got, allocated) = allocatedBy(Lz4Snappy.lz4Decompress(frame))
    assert(got.isEmpty)
    assert(Lz4Snappy.lz4FramesJvm(frame).isEmpty)
    assert(allocated < 4 * Cap, s"allocated $allocated bytes")
  }

  test("a snappy block declaring 2^26+1 bytes is declined before " +
      "decoding") {
    // varint32 length 2^26 + 1, then one literal byte
    val block = Array[Byte](0x81.toByte, 0x80.toByte, 0x80.toByte,
      0x20, 0, 'a')
    val (got, allocated) = allocatedBy(Lz4Snappy.snappyDecompress(block))
    assert(got.isEmpty)
    assert(allocated < (16L << 20), s"allocated $allocated bytes")
  }

  test("an Arrow stream whose zstd body buffer declares 65 MiB is " +
      "declined before it is decompressed") {
    import org.apache.arrow.vector.{BigIntVector, VectorSchemaRoot}
    val n = (65 << 20) / 8
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val v = new BigIntVector("z", alloc)
    v.allocateNew(n) // zero-filled
    (0 until n).foreach(v.setIndexDefined)
    v.setValueCount(n)
    val root = VectorSchemaRoot.of(v)
    val bos = new java.io.ByteArrayOutputStream()
    val w = new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, null,
      java.nio.channels.Channels.newChannel(bos),
      org.apache.arrow.vector.ipc.message.IpcOption.DEFAULT,
      org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE,
      org.apache.arrow.vector.compression.CompressionUtil.CodecType.ZSTD)
    try {
      w.start()
      w.writeBatch()
      w.end()
    } finally {
      w.close()
      root.close()
      alloc.close()
    }
    val stream = bos.toByteArray
    // the data buffer's 8-byte length prefix: 65 MiB, little-endian
    val prefix = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(65L << 20).array()
    assert(stream.sliding(8).exists(_.sameElements(prefix)))
    val (got, allocated) = allocatedBy(ArrowIpc.batchesJvm(stream))
    assert(got.isEmpty)
    assert(allocated < (16L << 20), s"allocated $allocated bytes")
  }

  test("an Arrow stream whose metadata length prefix is 0x7FFFFFF0 is " +
      "declined without allocating that size") {
    // continuation marker, then the length, then a few bytes of padding
    val stream = Array[Byte](-1, -1, -1, -1, 0xf0.toByte, -1, -1, 0x7f) ++
      new Array[Byte](64)
    val (got, allocated) = allocatedBy(ArrowIpc.batchesJvm(stream))
    assert(got.isEmpty)
    assert(allocated < (16L << 20), s"allocated $allocated bytes")
  }

  test("a kafka batch whose gzip records expand past 65 MiB yields no " +
      "records") {
    val batch = KafkaSegment.buildBatchV2(0L, 0L,
      Seq((null, zeros)), codec = 1)
    val (got, allocated) = allocatedBy(KafkaSegment.recordsJvm(batch))
    assert(got.isEmpty)
    assert(allocated < 4 * Cap, s"allocated $allocated bytes")
  }
}
