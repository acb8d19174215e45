package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.flatbuf.{Message, MessageHeader}
import org.apache.arrow.memory.{ArrowBuf, BufferAllocator, RootAllocator}
import org.apache.arrow.vector.{BaseIntVector, BigIntVector, BitVector,
  FieldVector, Float4Vector, Float8Vector, IntVector, SmallIntVector,
  TinyIntVector, ValueVector, VarCharVector}
import org.apache.arrow.vector.complex.{ListVector, MapVector,
  NonNullableStructVector}
import org.apache.arrow.vector.compression.{AbstractCompressionCodec,
  CompressionCodec, NoCompressionCodec}
import org.apache.arrow.vector.compression.CompressionUtil.CodecType
import org.apache.arrow.vector.dictionary.DictionaryProvider
import org.apache.arrow.vector.ipc.{ArrowReader, ArrowStreamReader,
  ReadChannel}
import org.apache.arrow.vector.ipc.message.{MessageChannelReader,
  MessageResult}
import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
import org.apache.arrow.vector.validate.ValidateVectorBufferVisitor

/** Arrow IPC reading on Arrow Java (`arrow-vector` 18.3, which Spark
  * ships).
  *
  * [[ArrowStreamReader]] reads the stream: one Schema message, then
  * dictionary and record batches up to the end-of-stream marker. An
  * Arrow FILE (`ARROW1` magic) is that same stream after the 8-byte
  * magic, then a footer that indexes it for seeking; a sequential read
  * does not need the footer and skips it. The library replays
  * dictionary batches (replacements and deltas) and decompresses the
  * bodies ([[BodyCodecs]]); this object maps the loaded vectors to
  * Scala values: signed int 8/16/32/64 → Long, float64 → Double,
  * float32 → Double (exact binary widening), utf8 → String, bool →
  * Boolean, list → Seq, struct → Seq of member values (null rows masked
  * over the children), map → the spec's list<struct<key,value>> layout,
  * and dictionary-encoded leaf columns (signed int indices, at any
  * nesting depth) → their values. Anything else — unions, unsigned ints,
  * half floats, binary, temporal and decimal types — is DECLINED
  * honestly (empty), never misread, as is anything malformed.
  *
  * Bounds on hostile input: each decode allocates from its own
  * allocator, limited to the blob's size plus 4 × [[CodecCap.MaxBytes]];
  * a compressed buffer whose length prefix declares more than
  * [[CodecCap.MaxBytes]] is declined before it is decompressed; a
  * message whose metadata or body would run past the blob is declined
  * before Arrow allocates for it (Arrow sizes a heap buffer from the
  * declared metadata length).
  *
  * Validation: GOLDEN VECTORS from real pyarrow
  * (`tools/gen_arrow_vectors.py` → committed `.arrows`/`.arrow`
  * resources): multi-batch streams, null runs, empty batches, both
  * container formats, dictionary columns (including delta growth),
  * LZ4- and zstd-compressed bodies, lists, structs and maps.
  */
object ArrowIpc {

  private val MaxRows = 1 << 24
  private val MaxDepth = 8
  /** Arrow's stream reader recurses once per dictionary batch that
    * precedes a record batch. */
  private val MaxDictionaryRun = 1 << 10

  /** One decoded cell value: null | Long | Double | String |
    * Boolean | Seq. A decoded batch is rows × columns. */
  final case class Col(name: String, kind: String,
    values: IndexedSeq[Any])

  /** One record batch: (batch_idx, nRows, columns). */
  final case class Batch(idx: Int, nRows: Long, cols: IndexedSeq[Col])

  /** All record batches of an Arrow IPC stream or file blob; empty on
    * anything malformed, unsupported, or inconsistent. */
  def batchesJvm(blob: Array[Byte]): IndexedSeq[Batch] = {
    if (blob == null || blob.length < 8) return Vector.empty
    val start = if (new String(blob, 0, 6, US_ASCII) == "ARROW1") 8 else 0
    // a root of its own: children of one shared root register in a
    // synchronized map that concurrent decodes contend on
    val alloc = new RootAllocator(blob.length + 4L * CodecCap.MaxBytes)
    val held = new Held
    try {
      val reader = new ArrowStreamReader(
        new BoundedMessages(blob, start, alloc, held), alloc,
        new CappedCodecs(held))
      try read(reader) finally reader.close()
    } catch {
      // a cyclic flatbuffer sends Arrow's recursive field conversion
      // into unbounded recursion
      case NonFatal(_) | _: StackOverflowError => Vector.empty
    } finally {
      held.release()
      alloc.close()
    }
  }

  private def read(reader: ArrowReader): IndexedSeq[Batch] = {
    val root = reader.getVectorSchemaRoot
    val out = Vector.newBuilder[Batch]
    var idx = 0
    while (reader.loadNextBatch()) {
      require(root.getRowCount <= MaxRows, "too many rows")
      root.getFieldVectors.forEach(validate)
      val cols = root.getFieldVectors.asScala.toVector.map { v =>
        val (kind, values) = convert(v, reader, 0)
        Col(v.getName, kind, values)
      }
      out += Batch(idx, root.getRowCount, cols)
      idx += 1
    }
    out.result()
  }

  /** Arrow's buffer checks: each buffer as large as the vector's length
    * needs. [[physical]] checks the offsets it reads. (Arrow's data
    * visitor would check them too, and validate the UTF-8 of every
    * string, which costs a sixth of a small stream's decode; a string
    * is decoded with replacement characters instead.) */
  private def validate(v: ValueVector): Unit =
    v.accept(new ValidateVectorBufferVisitor, null)

  /** (kind, values) of one loaded vector; throws on a type that is not
    * mapped. */
  private def convert(v: FieldVector, dicts: DictionaryProvider,
      depth: Int): (String, IndexedSeq[Any]) = {
    // only int vectors carry dictionary indices (and a nested vector
    // builds its field anew on every call)
    val enc = v match {
      case _: BaseIntVector => v.getField.getDictionary
      case _ => null
    }
    if (enc == null) physical(v, dicts, depth)
    else {
      val dict = dicts.lookup(enc.getId)
      require(dict != null, s"no dictionary ${enc.getId}")
      validate(dict.getVector)
      // the dictionary's values are converted once and shared by every
      // row that indexes them
      val (kind, values) = convert(dict.getVector, dicts, depth)
      require(!kind.contains('<'), "dictionary of nested values")
      // the indices are a signed int vector (unsigned ones are not
      // mapped), so they read as longs
      val (_, indices) = physical(v, dicts, depth)
      (kind, indices.map {
        case null => null
        case k: Long =>
          require(k >= 0 && k < values.size, "dictionary index out of range")
          values(k.toInt)
      })
    }
  }

  /** [[convert]] of `v`'s own layout, its dictionary encoding ignored.
    * Values are read from heap copies of the vector's buffers, which
    * [[validate]] has sized: Arrow's per-value getters check the
    * buffer's reference count and bounds on every call. */
  private def physical(v: FieldVector, dicts: DictionaryProvider,
      depth: Int): (String, IndexedSeq[Any]) = {
    val n = v.getValueCount
    require(depth <= MaxDepth && n <= MaxRows, "too deep or too long")
    val valid =
      if (v.getNullCount == 0) null else heap(v.getValidityBuffer, (n + 7) / 8)
    def cells(f: Int => Any): IndexedSeq[Any] =
      ArraySeq.unsafeWrapArray(Array.tabulate[Any](n)(i =>
        if (valid != null && !bit(valid, i)) null else f(i)))
    /** A fixed-width vector: `get(data, byte offset)` reads one value. */
    def fixed(kind: String, width: Int)(get: (ByteBuffer, Int) => Any) = {
      val d = heap(v.getDataBuffer, width.toLong * n)
      (kind, cells(i => get(d, width * i)))
    }
    /** The n + 1 offsets of a string or list vector, checked to run in
      * order from 0 or more up to at most `limit`. */
    def offsets(limit: Long): ByteBuffer = {
      val o = heap(v.getOffsetBuffer, if (n == 0) 0 else 4L * (n + 1))
      require(n == 0 || o.getInt(0) >= 0 && o.getInt(4 * n) <= limit &&
        (0 until n).forall(i => o.getInt(4 * i) <= o.getInt(4 * i + 4)),
        "offsets out of order")
      o
    }
    v match {
      case _: TinyIntVector => fixed("long", 1)(_.get(_).toLong)
      case _: SmallIntVector => fixed("long", 2)(_.getShort(_).toLong)
      case _: IntVector => fixed("long", 4)(_.getInt(_).toLong)
      case _: BigIntVector => fixed("long", 8)(_.getLong(_))
      case _: Float4Vector => fixed("double", 4)(_.getFloat(_).toDouble)
      case _: Float8Vector => fixed("double", 8)(_.getDouble(_))
      case _: VarCharVector =>
        val o = offsets(v.getDataBuffer.capacity)
        val chars =
          heap(v.getDataBuffer, if (n == 0) 0 else o.getInt(4 * n)).array
        ("string", cells { i =>
          val at = o.getInt(4 * i)
          new String(chars, at, o.getInt(4 * i + 4) - at, UTF_8)
        })
      case _: BitVector =>
        val d = heap(v.getDataBuffer, (n + 7) / 8)
        ("bool", cells(bit(d, _)))
      case x: ListVector => // a MapVector too: its entries are a struct
        x match {
          case m: MapVector => require(m.getDataVector match {
            case s: NonNullableStructVector => s.size == 2
            case _ => false
          }, "map entries must be a key/value struct")
          case _ => ()
        }
        val (kind, items) = convert(x.getDataVector, dicts, depth + 1)
        val o = offsets(items.size)
        (s"array<$kind>", cells(i => items.slice(o.getInt(4 * i),
          o.getInt(4 * i + 4))))
      case x: NonNullableStructVector if x.size > 0 =>
        val kids = x.getChildrenFromFields.asScala.toVector.map { c =>
          val (kind, values) = convert(c, dicts, depth + 1)
          require(values.size == n, "struct member length")
          (s"${c.getName}:$kind", values)
        }
        (kids.map(_._1).mkString("struct<", ",", ">"),
          cells(i => kids.map(_._2(i))))
      case _ => throw new IllegalArgumentException(
        s"unmapped Arrow type ${v.getField.getType}")
    }
  }

  /** The first `len` bytes of `buf`, copied to a little-endian heap
    * buffer with one checked read. */
  private def heap(buf: ArrowBuf, len: Long): ByteBuffer = {
    val b = new Array[Byte](Math.toIntExact(len))
    buf.getBytes(0, b)
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
  }

  /** Bit `i` of an Arrow bitmap (least significant bit first). */
  private def bit(bitmap: ByteBuffer, i: Int): Boolean =
    (bitmap.get(i >> 3) >> (i & 7) & 1) != 0

  /** Arrow's message reader from `blob` at `start`, behind three checks
    * of each message made before Arrow allocates for it: the 8 bytes of
    * a message prefix or end-of-stream marker remain (a stream must end
    * with its marker), the metadata and body the message declares lie
    * inside the blob, and it is not the [[MaxDictionaryRun]]+1-th
    * dictionary batch in a row. */
  private final class BoundedMessages(blob: Array[Byte], start: Int,
      alloc: BufferAllocator, held: Held) extends MessageChannelReader(
      new ReadChannel(
        new ByteArrayReadableSeekableByteChannel(blob).position(start)),
      alloc) {
    private val le = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN)
    private var dictionaryRun = 0

    override def readNext(): MessageResult = {
      val p = start + in.bytesRead()
      require(p + 8 <= blob.length, "no end-of-stream marker")
      // a continuation marker, then the length (pre-0.15 framing: the
      // length alone)
      val (at, len) =
        if (le.getInt(p.toInt) == -1) (p + 8, le.getInt(p.toInt + 4))
        else (p + 4, le.getInt(p.toInt))
      if (len != 0) {
        require(len > 0 && at + len <= blob.length, "metadata past the end")
        val msg = Message.getRootAsMessage(
          ByteBuffer.wrap(blob, at.toInt, len).slice())
        require(msg.bodyLength >= 0 &&
          at + len + msg.bodyLength <= blob.length, "body past the end")
        dictionaryRun =
          if (msg.headerType == MessageHeader.DictionaryBatch)
            dictionaryRun + 1
          else 0
        require(dictionaryRun <= MaxDictionaryRun,
          "too many dictionary batches in a row")
      }
      val r = super.readNext()
      if (r != null) held(r.getBodyBuffer)
      r
    }
  }

  /** The body codecs, for reading and writing: LZ4 frames through
    * [[Lz4Body]], zstd through Arrow's libzstd codec. (Compression
    * levels are not used.) */
  private[graft] object BodyCodecs extends CompressionCodec.Factory {
    def createCodec(t: CodecType): CompressionCodec = t match {
      case CodecType.LZ4_FRAME => Lz4Body
      case CodecType.NO_COMPRESSION => NoCompressionCodec.INSTANCE
      case _ => CommonsCompressionFactory.INSTANCE.createCodec(t)
    }
    def createCodec(t: CodecType, level: Int): CompressionCodec =
      createCodec(t)
  }

  /** LZ4-frame bodies on [[Lz4Snappy]]: frames of 64 KiB blocks, decoded
    * under the cap. Arrow's own LZ4 codec writes 4 MiB blocks, for which
    * the frame decoder allocates 8 MiB per buffer, and copies however
    * much a frame expands to. */
  private object Lz4Body extends AbstractCompressionCodec {
    def getCodecType: CodecType = CodecType.LZ4_FRAME

    private def bytes(buf: ArrowBuf, from: Int): Array[Byte] = {
      val b = new Array[Byte]((buf.writerIndex - from).toInt)
      buf.getBytes(from, b)
      b
    }

    /** `b` after 8 bytes that [[compress]] fills with the length. */
    private def prefixed(a: BufferAllocator, b: Array[Byte]): ArrowBuf = {
      val out = a.buffer(8L + b.length)
      out.setBytes(8, b)
      out.writerIndex(8L + b.length)
      out
    }

    protected def doCompress(a: BufferAllocator, plain: ArrowBuf): ArrowBuf =
      prefixed(a, Lz4Snappy.lz4Compress(bytes(plain, 0)))

    protected def doDecompress(a: BufferAllocator,
        comp: ArrowBuf): ArrowBuf = {
      val want = readUncompressedLength(comp)
      val plain = Lz4Snappy.lz4Decompress(bytes(comp, 8))
        .filter(_.length == want)
        .getOrElse(throw new IllegalArgumentException("bad LZ4 body"))
      val out = a.buffer(want)
      out.setBytes(0, plain)
      out.writerIndex(want)
      out
    }
  }

  /** [[BodyCodecs]] behind the [[CodecCap]]: a buffer whose 8-byte
    * uncompressed-length prefix declares more than [[CodecCap.MaxBytes]]
    * is declined before it is decompressed. */
  private final class CappedCodecs(held: Held)
      extends CompressionCodec.Factory {
    def createCodec(t: CodecType): CompressionCodec =
      capped(BodyCodecs.createCodec(t))
    def createCodec(t: CodecType, level: Int): CompressionCodec =
      createCodec(t)

    private def capped(c: CompressionCodec): CompressionCodec =
      new CompressionCodec {
        def getCodecType: CodecType = c.getCodecType
        def compress(a: BufferAllocator, buf: ArrowBuf): ArrowBuf =
          c.compress(a, buf)
        def decompress(a: BufferAllocator, buf: ArrowBuf): ArrowBuf = {
          val want = if (buf.writerIndex < 8) 0L else buf.getLong(0)
          require(want <= CodecCap.MaxBytes, s"buffer declares $want bytes")
          held(c.decompress(a, buf))
        }
      }
  }

  /** The message bodies and decompressed buffers of one decode. Arrow's
    * reader drops some unreleased when it fails on malformed input: the
    * body of a message it cannot deserialize, the decompressed buffers
    * of a vector whose next buffer fails to decompress. After the reader
    * is closed, which releases all it still uses, [[release]] frees
    * what is left. */
  private final class Held {
    private val bufs = scala.collection.mutable.ArrayBuffer[ArrowBuf]()
    def apply(b: ArrowBuf): ArrowBuf = {
      if (b != null) bufs += b
      b
    }
    def release(): Unit = bufs.foreach { b =>
      val n = b.refCnt
      if (n > 0) b.getReferenceManager.release(n)
    }
  }
}
