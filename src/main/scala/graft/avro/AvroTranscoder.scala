package graft.avro

import java.io.{EOFException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.avro.{AvroRuntimeException, Schema, SystemLimitException}
import org.apache.avro.util.Utf8

/** Avro binary → JSON transcoder compiled once per writer schema: a tree of
  * small nodes that reads the binary body in place and writes JSON bytes,
  * with no `GenericRecord`, no Jackson encoder and no intermediate `String`.
  *
  * The output is byte-identical to the reference's per-record
  * `GenericDatumReader` → `JsonEncoder` pass (`AvroTransform.java:241-251`):
  * unions wrap non-null branches as `{"<full name>":value}`, bytes and
  * fixed render as ISO-8859-1 strings, floats print as the widened double,
  * non-finite numbers as quoted strings, supplementary characters as
  * uppercase `\uXXXX` surrogate escapes, and map entries come out in the
  * iteration order of the `HashMap` the reader builds.
  *
  * Two output modes share one tree. PLAIN is that JSON text. ENVELOPE is
  * the same text already escaped as an `org.json` string body
  * ([[AvroEnvelope.escape]]), so the value envelope is written in one pass
  * instead of encoding, decoding and escaping the message again.
  *
  * Malformed input fails with an `IOException` or `AvroRuntimeException`
  * (both [[DecodeKernel.isDecodeFailure]]). Every string/bytes length and
  * every array/map block count is checked against the bytes left before
  * anything is allocated or looped over, so a corrupt length cannot ask for
  * gigabytes; element types that encode in zero bytes are capped by Avro's
  * own collection limit and by the output their JSON would need. */
final class AvroTranscoder private (root: AvroTranscoder.Node) {
  import AvroTranscoder._

  /** Plain JSON of the body in `bytes` from `offset` to the end. */
  def json(bytes: Array[Byte], offset: Int): Array[Byte] = {
    val t = Cursor.get()
    try {
      t.begin(bytes, offset, envelope = false, 0)
      root.emit(t)
      t.result(0)
    } finally t.release()
  }

  /** Value envelope (`AvroTransform.java:230-237`):
    * `prefix` + escaped message + `","originSchemaId":<id>}`, where `prefix`
    * is the schema's ready-made `{"originSchema":"…","originMessage":"`. */
  def valueEnvelope(bytes: Array[Byte], offset: Int, prefix: Array[Byte],
      schemaId: Int): Array[Byte] = {
    val t = Cursor.get()
    try {
      t.begin(bytes, offset, envelope = true, 0)
      t.put(prefix, 0, prefix.length)
      root.emit(t)
      t.put(IdField, 0, IdField.length)
      t.long(schemaId)
      t.byte('}')
      t.result(0)
    } finally t.release()
  }

  /** Key envelope (`AvroTransform.java:224-229`): an object's fields are
    * inlined with `"originSchema"` appended; any other value is wrapped as
    * `{"originKey":<json>,"originSchema":"…"}`. `prefix` is the value
    * envelope prefix, whose `"originSchema":"…"` member is reused. */
  def keyEnvelope(bytes: Array[Byte], offset: Int,
      prefix: Array[Byte]): Array[Byte] = {
    val t = Cursor.get()
    try {
      val start = OriginKey.length
      t.begin(bytes, offset, envelope = false, start)
      root.emit(t)
      val from =
        if (t.len > start && t.out(start) == '{') {
          t.len -= 1 // reopen the object
          if (t.len - start > 1) t.byte(',')
          start
        } else {
          System.arraycopy(OriginKey, 0, t.out, 0, start)
          t.byte(',')
          0
        }
      t.put(prefix, 1, prefix.length - 1 - MessageField.length)
      t.byte('}')
      t.result(from)
    } finally t.release()
  }
}

object AvroTranscoder {

  /** Compile `schema` (recursive schemas included). */
  def compile(schema: Schema): AvroTranscoder =
    new AvroTranscoder(
      if (writesNothing(schema, Nil)) EmptyNode
      else new Compiler().node(schema))

  /** `JsonEncoder` writes a record's braces only once its grammar reaches
    * a value, so a datum made of records alone (no field of any other
    * type, at any depth) comes out as no text at all. */
  private def writesNothing(s: Schema, seen: List[Schema]): Boolean =
    s.getType == Schema.Type.RECORD && !seen.exists(_ eq s) &&
      s.getFields.asScala.forall(f => writesNothing(f.schema, s :: seen))

  /** `{"originSchema":"<escaped schema>","originMessage":"`. */
  def envelopePrefix(schemaJson: String): Array[Byte] =
    ("{\"originSchema\":\"" + AvroEnvelope.escape(schemaJson) + "\"" +
      MessageField).getBytes(UTF_8)

  private val MessageField = ",\"originMessage\":\""
  private val IdField = "\",\"originSchemaId\":".getBytes(UTF_8)
  private val OriginKey = "{\"originKey\":".getBytes(UTF_8)

  /** A per-thread output buffer larger than this is dropped after use. */
  private val MaxRetained = 1 << 20
  private val InitialBuffer = 8 << 10
  private val MaxArray = Int.MaxValue - 8
  /** Jackson's default `StreamWriteConstraints` nesting limit, which the
    * reference's `JsonEncoder` enforces while writing. */
  private val MaxDepth = 1000

  private val Hex = "0123456789ABCDEF".getBytes(UTF_8)
  private val HexLower = "0123456789abcdef".getBytes(UTF_8)

  /** Jackson's escape of each ASCII character (null: written raw). */
  private val PlainEscape: Array[Array[Byte]] = Array.tabulate(128) { c =>
    val s = c match {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\b' => "\\b"
      case '\t' => "\\t"
      case '\n' => "\\n"
      case '\f' => "\\f"
      case '\r' => "\\r"
      case _ if c < 0x20 =>
        "\\u00" + Hex(c >> 4).toChar + Hex(c & 0xf).toChar
      case _ => null
    }
    if (s == null) null else s.getBytes(UTF_8)
  }

  /** The same escapes, escaped again as an `org.json` string body. */
  private val EnvelopeEscape: Array[Array[Byte]] = PlainEscape.map(e =>
    if (e == null) null
    else AvroEnvelope.escape(new String(e, UTF_8)).getBytes(UTF_8))

  /** Bytes that are copied unchanged inside a string, per mode. `/` is not
    * safe in envelope mode: `org.json` escapes it after `<`. */
  private val PlainSafe: Array[Boolean] =
    Array.tabulate(256)(b => b < 0x80 && PlainEscape(b) == null)
  private val EnvelopeSafe: Array[Boolean] =
    Array.tabulate(256)(b => PlainSafe(b) && b != '/')

  private def eof(): Nothing = throw new EOFException()
  private def malformed(msg: String): Nothing =
    throw new AvroRuntimeException("Malformed Avro data: " + msg)

  /** Reader over one body and writer of its JSON, one per thread. */
  private[avro] final class Cursor(initial: Int) {
    var in: Array[Byte] = _
    var pos = 0
    var end = 0
    var out = new Array[Byte](initial)
    var len = 0
    var envelope = false
    var depth = 0
    private val number = new java.lang.StringBuilder(32)

    def begin(bytes: Array[Byte], offset: Int, envelope: Boolean,
        reserve: Int): Unit = {
      in = bytes; pos = offset; end = bytes.length
      this.envelope = envelope
      len = reserve; depth = 0
    }

    def result(from: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(out, from, len)

    def release(): Unit = {
      in = null
      if (out.length > MaxRetained) out = new Array[Byte](InitialBuffer)
    }

    // ---- reading ----

    def left: Int = end - pos

    def readByte(): Int = {
      if (pos >= end) eof()
      val b = in(pos) & 0xff
      pos += 1
      b
    }

    /** Zig-zag varint of at most 5 bytes (`BinaryDecoder.readInt`). */
    def readInt(): Int = {
      var b = readByte()
      var n = b & 0x7f
      var shift = 7
      while (b > 0x7f) {
        if (shift > 28) malformed("invalid int encoding")
        b = readByte()
        n ^= (b & 0x7f) << shift
        shift += 7
      }
      (n >>> 1) ^ -(n & 1)
    }

    /** Zig-zag varint of at most 10 bytes (`BinaryDecoder.readLong`). */
    def readLong(): Long = {
      var b = readByte()
      var n = (b & 0x7f).toLong
      var shift = 7
      while (b > 0x7f) {
        if (shift > 63) malformed("invalid long encoding")
        b = readByte()
        n ^= (b & 0x7fL) << shift
        shift += 7
      }
      (n >>> 1) ^ -(n & 1L)
    }

    /** A string/bytes length, checked before any byte is read. */
    def readLength(): Int = {
      val n = readLong()
      if (n < 0) malformed(s"negative length $n")
      if (n > left) eof()
      n.toInt
    }

    /** One array/map block count (`BinaryDecoder.doReadItemCount`), with
      * Avro's collection limit on the running total and the bytes-left
      * bound for elements of at least `minBytes` each. Elements of zero
      * bytes still write at least 3 (`{},`), which bounds them too. */
    def readBlock(total: Long, minBytes: Int): Long = {
      var n = readLong()
      if (n < 0) { readLong(); n = -n }
      // -Long.MinValue stays negative: Avro's first-block check passes it
      // and truncates it to the int 0, a later block's check rejects it
      if (n < 0) { if (total == 0) n = 0 else malformed(s"block count $n") }
      if (minBytes > 0) { if (n > left / minBytes) eof() }
      else if (n > (MaxArray - len) / 3)
        malformed(s"$n elements cannot fit in the JSON output")
      // Avro throws UnsupportedOperationException past the VM limit
      if (n > MaxArray - total) malformed(s"collection of ${total + n} items")
      SystemLimitException.checkMaxCollectionLength(total, n)
      n
    }

    // ---- writing ----

    def ensure(n: Int): Unit = if (out.length - len < n) grow(n)

    private def grow(n: Int): Unit = {
      val need = len.toLong + n
      if (need > MaxArray)
        throw new AvroRuntimeException(s"JSON output exceeds $MaxArray bytes")
      out = java.util.Arrays.copyOf(out,
        math.max(need, math.min(out.length * 2L, MaxArray.toLong)).toInt)
    }

    def byte(b: Int): Unit = {
      ensure(1)
      out(len) = b.toByte
      len += 1
    }

    def put(a: Array[Byte], from: Int, n: Int): Unit = {
      ensure(n)
      System.arraycopy(a, from, out, len, n)
      len += n
    }

    def token(t: Token): Unit = {
      val a = if (envelope) t.envelope else t.plain
      put(a, 0, a.length)
    }

    def quote(): Unit = if (envelope) { byte('\\'); byte('"') } else byte('"')

    def open(b: Int): Unit = {
      depth += 1
      if (depth > MaxDepth)
        throw new IOException(
          s"Document nesting depth exceeds the maximum allowed ($MaxDepth)")
      byte(b)
    }

    def close(b: Int): Unit = { depth -= 1; byte(b) }

    def long(v: Long): Unit = {
      if (v == Long.MinValue) { put(MinLong, 0, MinLong.length); return }
      ensure(20)
      var x = v
      if (x < 0) { out(len) = '-'; len += 1; x = -x }
      var digits = 1
      var p = x
      while (p >= 10) { p /= 10; digits += 1 }
      var i = len + digits - 1
      while (i >= len) { out(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 }
      len += digits
    }

    /** Jackson's `writeNumber(double)`: `Double.toString`, except that
      * non-finite values are written as strings. */
    def double(d: Double): Unit = {
      val finite = !d.isNaN && !d.isInfinite
      if (!finite) quote()
      number.setLength(0)
      number.append(d)
      val n = number.length
      ensure(n)
      var i = 0
      while (i < n) { out(len + i) = number.charAt(i).toByte; i += 1 }
      len += n
      if (!finite) quote()
    }

    // ---- string bodies ----

    /** ASCII character `c` (preceded by `prev`) inside a string. */
    private def ascii(c: Int, prev: Int): Unit =
      if (envelope && c == '/' && prev == '<') { byte('\\'); byte('/') }
      else {
        val e = (if (envelope) EnvelopeEscape else PlainEscape)(c)
        if (e == null) byte(c) else put(e, 0, e.length)
      }

    /** `\uXXXX` as Jackson writes it (uppercase), escaped again in
      * envelope mode. */
    private def jacksonEscape(c: Int): Unit = {
      ensure(7)
      out(len) = '\\'; len += 1
      if (envelope) { out(len) = '\\'; len += 1 }
      out(len) = 'u'
      out(len + 1) = Hex((c >> 12) & 0xf)
      out(len + 2) = Hex((c >> 8) & 0xf)
      out(len + 3) = Hex((c >> 4) & 0xf)
      out(len + 4) = Hex(c & 0xf)
      len += 5
    }

    /** `\uxxxx` as `org.json` writes it (lowercase); envelope mode only. */
    private def envelopeEscape(c: Int): Unit = {
      ensure(6)
      out(len) = '\\'; out(len + 1) = 'u'
      out(len + 2) = HexLower((c >> 12) & 0xf)
      out(len + 3) = HexLower((c >> 8) & 0xf)
      out(len + 4) = HexLower((c >> 4) & 0xf)
      out(len + 5) = HexLower(c & 0xf)
      len += 6
    }

    /** Copy the run of unchanged bytes of `in` from `i` (below `e`). */
    private def safeRun(i: Int, e: Int, safe: Array[Boolean]): Int = {
      var j = i
      while (j < e && safe(in(j) & 0xff)) j += 1
      if (j > i) put(in, i, j - i)
      j
    }

    /** A UTF-8 string body of `n` bytes at `pos`: what Jackson writes for
      * `new String(bytes, UTF_8)` (Avro's `Utf8.toString`). Malformed
      * UTF-8 takes the same decode, so replacement characters agree. */
    def utf8(n: Int): Unit = {
      val s = pos
      pos += n
      val mark = len
      if (!utf8Valid(s, s + n)) {
        len = mark
        chars(new String(in, s, n, UTF_8))
      }
    }

    private def utf8Valid(s: Int, e: Int): Boolean = {
      val safe = if (envelope) EnvelopeSafe else PlainSafe
      var i = s
      while (i < e) {
        i = safeRun(i, e, safe)
        if (i < e) {
          val b = in(i) & 0xff
          if (b < 0x80) {
            ascii(b, if (i > s) in(i - 1) else 0)
            i += 1
          } else {
            val k =
              if (b < 0xc2) 0
              else if (b < 0xe0) 2
              else if (b < 0xf0) 3
              else if (b < 0xf5) 4
              else 0
            if (k == 0 || i + k > e) return false
            val b1 = in(i + 1) & 0xff
            if ((b1 & 0xc0) != 0x80) return false
            k match {
              case 2 =>
                val c = ((b & 0x1f) << 6) | (b1 & 0x3f)
                if (envelope && c < 0xa0) envelopeEscape(c)
                else put(in, i, 2)
              case 3 =>
                val b2 = in(i + 2) & 0xff
                if ((b2 & 0xc0) != 0x80 ||
                    (b == 0xe0 && b1 < 0xa0) || (b == 0xed && b1 >= 0xa0))
                  return false
                val c = ((b & 0x0f) << 12) | ((b1 & 0x3f) << 6) | (b2 & 0x3f)
                if (envelope && (c >> 8) == 0x20) envelopeEscape(c)
                else put(in, i, 3)
              case _ =>
                val b2 = in(i + 2) & 0xff
                val b3 = in(i + 3) & 0xff
                if ((b2 & 0xc0) != 0x80 || (b3 & 0xc0) != 0x80 ||
                    (b == 0xf0 && b1 < 0x90) || (b == 0xf4 && b1 >= 0x90))
                  return false
                val c = ((b & 0x07) << 18) | ((b1 & 0x3f) << 12) |
                  ((b2 & 0x3f) << 6) | (b3 & 0x3f)
                jacksonEscape(Character.highSurrogate(c))
                jacksonEscape(Character.lowSurrogate(c))
            }
            i += k
          }
        }
      }
      true
    }

    /** A string body given as UTF-16 characters. */
    def chars(s: String): Unit = {
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i).toInt
        if (c < 0x80) ascii(c, if (i > 0) s.charAt(i - 1) else 0)
        else if (c < 0x800) {
          if (envelope && c < 0xa0) envelopeEscape(c)
          else { byte(0xc0 | (c >> 6)); byte(0x80 | (c & 0x3f)) }
        } else if (c >= 0xd800 && c <= 0xdfff) jacksonEscape(c)
        else if (envelope && (c >> 8) == 0x20) envelopeEscape(c)
        else {
          byte(0xe0 | (c >> 12))
          byte(0x80 | ((c >> 6) & 0x3f))
          byte(0x80 | (c & 0x3f))
        }
        i += 1
      }
    }

    /** A bytes/fixed body of `n` bytes at `pos`, each byte one ISO-8859-1
      * character (`JsonEncoder.writeBytes`). */
    def latin1(n: Int): Unit = {
      val s = pos
      val e = s + n
      pos = e
      val safe = if (envelope) EnvelopeSafe else PlainSafe
      var i = s
      while (i < e) {
        i = safeRun(i, e, safe)
        if (i < e) {
          val c = in(i) & 0xff
          if (c < 0x80) ascii(c, if (i > s) in(i - 1) else 0)
          else if (envelope && c < 0xa0) envelopeEscape(c)
          else { byte(0xc0 | (c >> 6)); byte(0x80 | (c & 0x3f)) }
          i += 1
        }
      }
    }
  }

  private val MinLong = Long.MinValue.toString.getBytes(UTF_8)

  private object Cursor {
    private val local =
      ThreadLocal.withInitial[Cursor](() => new Cursor(InitialBuffer))
    def get(): Cursor = local.get()
  }

  /** A constant JSON fragment in both output modes. */
  private final class Token(val plain: Array[Byte], val envelope: Array[Byte])

  // ---- the node tree ----

  private[avro] abstract class Node {
    def emit(t: Cursor): Unit
  }

  private object EmptyNode extends Node {
    def emit(t: Cursor): Unit = ()
  }

  private object NullNode extends Node {
    private val Null = "null".getBytes(UTF_8)
    def emit(t: Cursor): Unit = t.put(Null, 0, 4)
  }

  private object BooleanNode extends Node {
    private val True = "true".getBytes(UTF_8)
    private val False = "false".getBytes(UTF_8)
    // BinaryDecoder.readBoolean: only the byte 1 is true
    def emit(t: Cursor): Unit =
      if (t.readByte() == 1) t.put(True, 0, 4) else t.put(False, 0, 5)
  }

  private object IntNode extends Node {
    def emit(t: Cursor): Unit = t.long(t.readInt())
  }

  private object LongNode extends Node {
    def emit(t: Cursor): Unit = t.long(t.readLong())
  }

  private def littleEndian(t: Cursor, n: Int): Long = {
    if (t.left < n) eof()
    var v = 0L
    var i = n - 1
    while (i >= 0) { v = (v << 8) | (t.in(t.pos + i) & 0xffL); i -= 1 }
    t.pos += n
    v
  }

  private object FloatNode extends Node {
    // JsonEncoder.writeFloat writes `f + 0d`, so -0.0f prints as 0.0
    def emit(t: Cursor): Unit =
      t.double(java.lang.Float.intBitsToFloat(littleEndian(t, 4).toInt) + 0d)
  }

  private object DoubleNode extends Node {
    def emit(t: Cursor): Unit =
      t.double(java.lang.Double.longBitsToDouble(littleEndian(t, 8)))
  }

  private object StringNode extends Node {
    def emit(t: Cursor): Unit = {
      val n = t.readLength()
      SystemLimitException.checkMaxStringLength(n)
      t.quote(); t.utf8(n); t.quote()
    }
  }

  private object BytesNode extends Node {
    def emit(t: Cursor): Unit = {
      val n = t.readLength()
      SystemLimitException.checkMaxBytesLength(n)
      t.quote(); t.latin1(n); t.quote()
    }
  }

  private final class FixedNode(size: Int) extends Node {
    def emit(t: Cursor): Unit = {
      if (t.left < size) eof()
      t.quote(); t.latin1(size); t.quote()
    }
  }

  private final class EnumNode(symbols: Array[Token]) extends Node {
    def emit(t: Cursor): Unit = {
      val i = t.readInt()
      if (i < 0 || i >= symbols.length)
        malformed(s"enum index $i out of range 0..${symbols.length - 1}")
      t.token(symbols(i))
    }
  }

  /** Fields are filled in after construction, so a record can contain
    * itself. `names(i)` is `"name":`, with a leading comma after the first. */
  private final class RecordNode extends Node {
    var names: Array[Token] = _
    var fields: Array[Node] = _
    def emit(t: Cursor): Unit = {
      t.open('{')
      var i = 0
      while (i < fields.length) {
        t.token(names(i))
        fields(i).emit(t)
        i += 1
      }
      t.close('}')
    }
  }

  private final class UnionNode(branches: Array[Node], labels: Array[Token])
      extends Node {
    def emit(t: Cursor): Unit = {
      val i = t.readInt()
      if (i < 0 || i >= branches.length)
        malformed(s"union index $i out of range 0..${branches.length - 1}")
      if (labels(i) == null) NullNode.emit(t)
      else {
        t.open('{')
        t.token(labels(i))
        branches(i).emit(t)
        t.close('}')
      }
    }
  }

  private final class ArrayNode(items: Node, minBytes: Int) extends Node {
    def emit(t: Cursor): Unit = {
      t.open('[')
      var total = 0L
      var n = t.readBlock(total, minBytes)
      while (n > 0) {
        var i = 0L
        while (i < n) {
          if (total + i > 0) t.byte(',')
          items.emit(t)
          i += 1
        }
        total += n
        n = t.readBlock(total, minBytes)
      }
      t.close(']')
    }
  }

  /** Entries are written in wire order, then reordered as the `new
    * HashMap()` of the reader (`FastReaderBuilder.MapReader`) iterates
    * them; a repeated key keeps its first position and its last value, as
    * `HashMap.put` does. Keys are `Utf8`, or `String` when the map schema
    * sets `avro.java.string: String`. */
  private final class MapNode(values: Node, stringKeys: Boolean,
      minBytes: Int) extends Node {
    def emit(t: Cursor): Unit = {
      t.open('{')
      val base = t.len
      var total = 0L
      val first = t.readBlock(total, minBytes)
      // per entry: key offset, key length, output end
      var ents = new Array[Int](3 * math.min(first, 16L).toInt)
      var n = first
      while (n > 0) {
        var i = 0L
        while (i < n) {
          val k = t.readLength()
          SystemLimitException.checkMaxStringLength(k)
          val e = 3 * (total + i).toInt
          if (e + 3 > ents.length)
            ents = java.util.Arrays.copyOf(ents, 2 * ents.length + 3)
          ents(e) = t.pos
          ents(e + 1) = k
          t.quote(); t.utf8(k); t.quote(); t.byte(':')
          values.emit(t)
          ents(e + 2) = t.len
          i += 1
        }
        total += n
        n = t.readBlock(total, minBytes)
      }
      if (total > 1) reorder(t, base, total.toInt, ents)
      t.close('}')
    }

    private def reorder(t: Cursor, base: Int, count: Int,
        ents: Array[Int]): Unit = {
      val order = new java.util.HashMap[AnyRef, Integer]()
      var i = 0
      while (i < count) {
        val off = ents(3 * i)
        val k = ents(3 * i + 1)
        val key: AnyRef =
          if (stringKeys) new String(t.in, off, k, UTF_8)
          else new Utf8(java.util.Arrays.copyOfRange(t.in, off, off + k))
        order.put(key, Integer.valueOf(i))
        i += 1
      }
      val written = java.util.Arrays.copyOfRange(t.out, base, t.len)
      t.len = base
      val it = order.values().iterator()
      var sep = false
      while (it.hasNext) {
        val j: Int = it.next()
        val from = if (j == 0) 0 else ents(3 * j - 1) - base
        if (sep) t.byte(',')
        t.put(written, from, ents(3 * j + 2) - base - from)
        sep = true
      }
    }
  }

  private final class Compiler {
    private val records = new java.util.IdentityHashMap[Schema, RecordNode]()
    private val scratch = new Cursor(64)

    /** `"<s>"` followed by `suffix`, with `lead` before it. */
    private def token(lead: String, s: String, suffix: String): Token = {
      def render(envelope: Boolean): Array[Byte] = {
        scratch.begin(Array.emptyByteArray, 0, envelope, 0)
        scratch.chars(lead)
        scratch.quote(); scratch.chars(s); scratch.quote()
        scratch.chars(suffix)
        scratch.result(0)
      }
      new Token(render(false), render(true))
    }

    def node(s: Schema): Node = s.getType match {
      case Schema.Type.NULL => NullNode
      case Schema.Type.BOOLEAN => BooleanNode
      case Schema.Type.INT => IntNode
      case Schema.Type.LONG => LongNode
      case Schema.Type.FLOAT => FloatNode
      case Schema.Type.DOUBLE => DoubleNode
      case Schema.Type.STRING => StringNode
      case Schema.Type.BYTES => BytesNode
      case Schema.Type.FIXED => new FixedNode(s.getFixedSize)
      case Schema.Type.ENUM =>
        new EnumNode(s.getEnumSymbols.toArray(new Array[String](0))
          .map(token("", _, "")))
      case Schema.Type.ARRAY =>
        new ArrayNode(node(s.getElementType), minBytes(s.getElementType))
      case Schema.Type.MAP =>
        new MapNode(node(s.getValueType),
          "String" == s.getProp("avro.java.string"),
          1 + minBytes(s.getValueType))
      case Schema.Type.UNION =>
        val bs = s.getTypes.toArray(new Array[Schema](0))
        new UnionNode(bs.map(node),
          bs.map(b => if (b.getType == Schema.Type.NULL) null
            else token("", b.getFullName, ":")))
      case Schema.Type.RECORD =>
        val known = records.get(s)
        if (known != null) known
        else {
          val r = new RecordNode
          records.put(s, r)
          val fs = s.getFields.toArray(new Array[Schema.Field](0))
          r.names = fs.zipWithIndex.map { case (f, i) =>
            token(if (i == 0) "" else ",", f.name, ":")
          }
          r.fields = fs.map(f => node(f.schema))
          r
        }
    }

    /** Fewest bytes one value of `s` encodes in; a record met again on
      * the way down counts 0, which keeps the bound a lower bound. */
    private def minBytes(s: Schema,
        seen: List[Schema] = Nil): Int = s.getType match {
      case Schema.Type.NULL => 0
      case Schema.Type.FLOAT => 4
      case Schema.Type.DOUBLE => 8
      case Schema.Type.FIXED => s.getFixedSize
      case Schema.Type.RECORD =>
        if (seen.exists(_ eq s)) 0
        else {
          val inner = s :: seen
          s.getFields.toArray(new Array[Schema.Field](0)).foldLeft(0L)(
            (acc, f) => acc + minBytes(f.schema, inner))
            .min(Int.MaxValue.toLong).toInt
        }
      case _ => 1
    }
  }
}
