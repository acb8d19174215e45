package graft.avro

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema, SystemLimitException}
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter}
import org.apache.avro.io.{DecoderFactory, Encoder, EncoderFactory}
import org.apache.avro.util.Utf8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.BinaryType

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkFunSuite
import graft.plans.AvroDecodeStruct

/** The shape of a random writer schema, and one schema's test case. */
object AvroTranscoderSpec {
  sealed trait Shape
  final case class Prim(t: Schema.Type, logical: Boolean) extends Shape
  final case class EnumShape(symbols: Int) extends Shape
  final case class FixedShape(size: Int) extends Shape
  final case class ArrayShape(items: Shape) extends Shape
  final case class MapShape(values: Shape, javaString: Boolean)
      extends Shape
  final case class UnionShape(branches: List[Shape]) extends Shape
  final case class RecordShape(fields: List[Shape]) extends Shape
  /** `Node {v: int, next: [null, Node], kids: array<Node>}`. */
  case object TreeShape extends Shape

  final case class Case(id: Int, json: String, schema: Schema,
      bodies: Seq[Array[Byte]])
}

/** Differential property spec for [[AvroTranscoder]]: on random writer
  * schemas and random data, every decode surface must produce the bytes of
  * the path it replaced — Avro's `GenericDatumReader` + `JsonEncoder`
  * followed by [[AvroEnvelope]] — and every truncated or corrupted body
  * must fail on both sides. ScalaCheck generators with fixed seeds. */
class AvroTranscoderSpec extends SparkFunSuite {
  import AvroTranscoderSpec._

  private def sample[A](g: Gen[A], seed: Long): A =
    Iterator.from(0).flatMap(k =>
      g.apply(Gen.Parameters.default, Seed(seed * 1000L + k))).next()

  // ---- the reference: the decode path the transcoder replaced ----

  private def referenceJson(schema: Schema, bytes: Array[Byte],
      offset: Int): String = {
    val datum = new GenericDatumReader[AnyRef](schema).read(null,
      DecoderFactory.get().binaryDecoder(bytes, offset, bytes.length - offset,
        null))
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().jsonEncoder(schema, out, false)
    new GenericDatumWriter[AnyRef](schema).write(datum, enc)
    enc.flush()
    out.toString(UTF_8)
  }

  private def attempt[A](f: => A): Either[Throwable, A] =
    try Right(f) catch { case t: Throwable => Left(t) }

  /** Both sides give identical bytes, or both fail and the transcoder's
    * failure is a decode failure. Returns whether they failed. */
  private def agree(what: => String, ref: Either[Throwable, Array[Byte]],
      got: Either[Throwable, Array[Byte]]): Boolean = (ref, got) match {
    case (Right(r), Right(g)) =>
      assert(java.util.Arrays.equals(r, g),
        s"$what:\n  reference ${new String(r, UTF_8)}\n  transcoder ${new String(g, UTF_8)}")
      false
    case (Left(_), Left(e)) =>
      assert(DecodeKernel.isDecodeFailure(e), s"$e is no decode failure: $what")
      true
    case (Left(e), Right(g)) =>
      fail(s"$what: reference failed ($e), transcoder gave ${new String(g, UTF_8)}")
    case (Right(r), Left(e)) =>
      fail(s"$what: transcoder failed ($e), reference gave ${new String(r, UTF_8)}", e)
  }

  /** Avro's own size limits, lowered while corrupt bodies are decoded so
    * that a corrupt length cannot make the reference allocate gigabytes. */
  private def withAvroLimits[A](n: Int)(f: => A): A = {
    val props = Seq(SystemLimitException.MAX_BYTES_LENGTH_PROPERTY,
      SystemLimitException.MAX_COLLECTION_LENGTH_PROPERTY,
      SystemLimitException.MAX_STRING_LENGTH_PROPERTY)
    val reset = classOf[SystemLimitException].getDeclaredMethod("resetLimits")
    reset.setAccessible(true)
    props.foreach(System.setProperty(_, n.toString))
    reset.invoke(null)
    try f
    finally {
      props.foreach(System.clearProperty)
      reset.invoke(null)
    }
  }

  // ---- random schemas ----

  private val NonNull = List(Schema.Type.BOOLEAN, Schema.Type.INT,
    Schema.Type.LONG, Schema.Type.FLOAT, Schema.Type.DOUBLE,
    Schema.Type.STRING, Schema.Type.BYTES)

  private def shuffled[A](xs: List[A]): Gen[List[A]] =
    Gen.long.map(s => new scala.util.Random(s).shuffle(xs))

  private val primGen: Gen[Shape] = for {
    t <- Gen.oneOf(Schema.Type.NULL :: NonNull)
    logical <- Gen.oneOf(false, false, true)
  } yield Prim(t, logical)

  private val enumGen: Gen[Shape] = Gen.choose(1, 5).map(EnumShape(_))
  private val fixedGen: Gen[Shape] = Gen.choose(0, 6).map(FixedShape(_))

  private def namedGen(depth: Int): Gen[Shape] =
    Gen.frequency(2 -> enumGen, 2 -> fixedGen, 3 -> recordGen(depth),
      1 -> Gen.const(TreeShape))

  private def recordGen(depth: Int): Gen[Shape] =
    Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, shapeGen(depth + 1)))
      .map(RecordShape(_))

  private def unionGen(depth: Int): Gen[Shape] = for {
    withNull <- Gen.oneOf(true, true, false)
    prims <- Gen.choose(0, 2).flatMap(Gen.pick(_, NonNull))
    named <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, namedGen(depth + 1)))
    array <- Gen.option(Gen.lzy(shapeGen(depth + 1)).map(ArrayShape(_)))
    map <- Gen.option(Gen.lzy(shapeGen(depth + 1)).map(MapShape(_, false)))
    all = (if (withNull) List(Prim(Schema.Type.NULL, false)) else Nil) ++
      prims.map(Prim(_, false)) ++ named ++ array ++ map
    branches <- shuffled(if (all.isEmpty) List(Prim(Schema.Type.INT, false))
      else all)
  } yield UnionShape(branches)

  private def shapeGen(depth: Int): Gen[Shape] =
    if (depth >= 3) Gen.oneOf(primGen, enumGen, fixedGen)
    else Gen.frequency(
      4 -> primGen, 1 -> enumGen, 1 -> fixedGen,
      2 -> Gen.lzy(shapeGen(depth + 1)).map(ArrayShape(_)),
      2 -> (for {
        v <- Gen.lzy(shapeGen(depth + 1))
        js <- Gen.oneOf(false, false, true)
      } yield MapShape(v, js)),
      3 -> Gen.lzy(unionGen(depth)),
      3 -> Gen.lzy(recordGen(depth)),
      1 -> Gen.const(TreeShape))

  /** Top level: mostly records, sometimes any other type (non-record keys). */
  private val topGen: Gen[Shape] =
    Gen.frequency(3 -> recordGen(0), 2 -> shapeGen(0))

  private def build(shape: Shape): Schema = {
    var n = 0
    def name(p: String) = { n += 1; s"$p$n" }
    def field(i: Int, s: Schema) =
      new Schema.Field(s"f$i", s, null, null.asInstanceOf[AnyRef])
    def go(sh: Shape): Schema = sh match {
      case Prim(t, logical) =>
        val s = Schema.create(t)
        if (logical) t match {
          case Schema.Type.INT => LogicalTypes.date().addToSchema(s)
          case Schema.Type.LONG => LogicalTypes.timestampMillis().addToSchema(s)
          case Schema.Type.STRING => LogicalTypes.uuid().addToSchema(s)
          case Schema.Type.BYTES => LogicalTypes.decimal(9, 2).addToSchema(s)
          case _ => s
        }
        else s
      case EnumShape(k) =>
        Schema.createEnum(name("E"), null, "t.e",
          (0 until k).map(i => s"S$i").asJava)
      case FixedShape(size) => Schema.createFixed(name("F"), null, "t.f", size)
      case ArrayShape(items) => Schema.createArray(go(items))
      case MapShape(values, javaString) =>
        val m = Schema.createMap(go(values))
        if (javaString) m.addProp("avro.java.string", "String")
        m
      case UnionShape(bs) => Schema.createUnion(bs.map(go).asJava)
      case RecordShape(fs) =>
        Schema.createRecord(name("R"), null, "t.r", false,
          fs.zipWithIndex.map { case (f, i) => field(i, go(f)) }.asJava)
      case TreeShape =>
        val r = Schema.createRecord(name("Node"), null, "t.n", false)
        r.setFields(List(field(0, Schema.create(Schema.Type.INT)),
          field(1, Schema.createUnion(Schema.create(Schema.Type.NULL), r)),
          field(2, Schema.createArray(r))).asJava)
        r
    }
    go(shape)
  }

  // ---- random data, written with Avro's own encoders ----

  private type W = Encoder => Unit

  private val piece: Gen[String] = Gen.frequency(
    6 -> Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.alphaNumChar))
      .map(_.mkString),
    3 -> Gen.oneOf("\"", "\\", "/", "</", "<", "<\\/", " ", "\u007f",
      "\u00e9", "\u4e2d", "\ufffd", "\ufeff", "\u2028", "\u2029", "\u20ac",
      "\u2000", "\u20ff", "\u00a0", "\u00ff", "\u0800", "\uffff",
      new String(Character.toChars(0x1F600)),
      new String(Character.toChars(0x10000)),
      new String(Character.toChars(0x10FFFF))),
    2 -> Gen.choose(0, 0x1f).map(_.toChar.toString),
    1 -> Gen.choose(0x80, 0x9f).map(_.toChar.toString),
    1 -> Gen.choose(0x2000, 0x20ff).map(_.toChar.toString),
    1 -> Gen.choose(0x100, 0xd7ff).map(_.toChar.toString))

  private val text: Gen[String] =
    Gen.choose(0, 6).flatMap(Gen.listOfN(_, piece)).map(_.mkString)

  private val rawBytes: Gen[Array[Byte]] = Gen.choose(0, 12)
    .flatMap(Gen.listOfN(_, Gen.choose(-128, 127).map(_.toByte)))
    .map(_.toArray)

  /** Strings, including raw bytes that are not valid UTF-8. */
  private val utf8: Gen[Utf8] =
    Gen.frequency(9 -> text.map(new Utf8(_)), 1 -> rawBytes.map(new Utf8(_)))

  /** Map keys: odd text, repeats, equal-hash pairs, long keys. */
  private val mapKey: Gen[Utf8] = Gen.frequency(
    3 -> utf8,
    2 -> Gen.oneOf("", "a", "b", "Aa", "BB", "key_longer_than_seven",
      "key_longer_than_eight", "\u0000", "</x>").map(new Utf8(_)),
    1 -> Gen.choose(0, 99).map(i => new Utf8(s"k$i")))

  private val intGen: Gen[Int] = Gen.frequency(
    3 -> Gen.choose(-100, 100), 2 -> Gen.choose(Int.MinValue, Int.MaxValue),
    1 -> Gen.oneOf(Int.MinValue, Int.MaxValue, 0, -1))
  private val longGen: Gen[Long] = Gen.frequency(
    3 -> Gen.choose(-100L, 100L), 2 -> Gen.choose(Long.MinValue, Long.MaxValue),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L))
  private val floatGen: Gen[Float] = Gen.frequency(
    2 -> Gen.oneOf(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
      -0.0f, 0.0f, 0.1f, Float.MinPositiveValue, Float.MaxValue, 1e-10f,
      1e10f),
    3 -> Gen.choose(-1e6f, 1e6f),
    1 -> Gen.choose(Int.MinValue, Int.MaxValue)
      .map(java.lang.Float.intBitsToFloat))
  private val doubleGen: Gen[Double] = Gen.frequency(
    2 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, 0.1, Double.MinPositiveValue,
      Double.MaxValue, 1e-300, 1e22, 123456789.0),
    3 -> Gen.choose(-1e9, 1e9),
    1 -> Gen.choose(Long.MinValue, Long.MaxValue)
      .map(java.lang.Double.longBitsToDouble))

  private val MaxDepth = 5

  private def count(depth: Int): Gen[Int] =
    if (depth >= MaxDepth) Gen.const(0)
    else Gen.frequency(1 -> Gen.const(0), 3 -> Gen.choose(1, 5))

  private def all(gs: List[Gen[W]]): Gen[List[W]] =
    gs.foldRight(Gen.const(List.empty[W]))((g, acc) =>
      for { w <- g; ws <- acc } yield w :: ws)

  private def writer(s: Schema, depth: Int): Gen[W] = s.getType match {
    case Schema.Type.NULL => Gen.const(_.writeNull())
    case Schema.Type.BOOLEAN => Gen.oneOf(true, false).map(b => _.writeBoolean(b))
    case Schema.Type.INT => intGen.map(i => _.writeInt(i))
    case Schema.Type.LONG => longGen.map(l => _.writeLong(l))
    case Schema.Type.FLOAT => floatGen.map(f => _.writeFloat(f))
    case Schema.Type.DOUBLE => doubleGen.map(d => _.writeDouble(d))
    case Schema.Type.STRING => utf8.map(u => _.writeString(u))
    case Schema.Type.BYTES => rawBytes.map(b => _.writeBytes(b))
    case Schema.Type.FIXED =>
      Gen.listOfN(s.getFixedSize, Gen.choose(-128, 127).map(_.toByte))
        .map(b => _.writeFixed(b.toArray))
    case Schema.Type.ENUM =>
      Gen.choose(0, s.getEnumSymbols.size - 1).map(i => _.writeEnum(i))
    case Schema.Type.ARRAY =>
      for {
        n <- count(depth)
        items <- Gen.listOfN(n, writer(s.getElementType, depth + 1))
      } yield { (e: Encoder) =>
        e.writeArrayStart(); e.setItemCount(n.toLong)
        items.foreach { w => e.startItem(); w(e) }
        e.writeArrayEnd()
      }
    case Schema.Type.MAP =>
      for {
        n <- count(depth)
        keys <- Gen.listOfN(n, mapKey)
        values <- Gen.listOfN(n, writer(s.getValueType, depth + 1))
      } yield { (e: Encoder) =>
        e.writeMapStart(); e.setItemCount(n.toLong)
        keys.zip(values).foreach { case (k, w) =>
          e.startItem(); e.writeString(k); w(e)
        }
        e.writeMapEnd()
      }
    case Schema.Type.UNION =>
      val bs = s.getTypes.asScala.toList
      val nulls = bs.indices.filter(bs(_).getType == Schema.Type.NULL)
      val choices =
        if (depth >= MaxDepth && nulls.nonEmpty) nulls else bs.indices
      Gen.oneOf(choices).flatMap(i =>
        writer(bs(i), depth + 1).map(w => (e: Encoder) => {
          e.writeIndex(i); w(e)
        }))
    case Schema.Type.RECORD =>
      all(s.getFields.asScala.toList.map(f => Gen.lzy(writer(f.schema, depth + 1))))
        .map(ws => (e: Encoder) => ws.foreach(_(e)))
  }

  /** A body, written as one block per collection or, through a 64-byte
    * blocking encoder, as several negative-count blocks with byte sizes. */
  private def encode(w: W, blocking: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val e =
      if (blocking)
        new EncoderFactory().configureBlockSize(64).blockingBinaryEncoder(out, null)
      else EncoderFactory.get().binaryEncoder(out, null)
    w(e)
    e.flush()
    out.toByteArray
  }

  private lazy val cases: Seq[Case] = (1 to 80).map { id =>
    val schema = build(sample(topGen, id))
    val json = schema.toString
    val parsed = new Schema.Parser().parse(json)
    val gen = for {
      w <- writer(parsed, 0)
      blocking <- Gen.oneOf(false, false, true)
    } yield encode(w, blocking)
    Case(id, json, parsed, (0 until 25).map(k => sample(gen, id * 100L + k)))
  }

  private lazy val provider = InMemorySchemaProvider(
    cases.map(c => c.id -> c.json).toMap, Some("transcoder-spec"))
  private lazy val state = new AvroDecoderState(provider, 1000)

  test("random schemas: value envelope, key envelopes, struct and " +
      "decodeToJson are byte-identical to GenericDatumReader + JsonEncoder") {
    val kinds = cases.map(_.schema.getType).toSet
    assert(kinds.size >= 5, s"top-level types covered: $kinds")
    var bodies, keyUnstrippedFailures = 0
    // unstripped keys decode header bytes, which may claim huge lengths
    withAvroLimits(1 << 16)(for (c <- cases; body <- c.bodies) {
      bodies += 1
      def what = s"schema ${c.json} body ${body.mkString(",")}"
      val json = referenceJson(c.schema, body, 0)
      val jsonBytes = json.getBytes(UTF_8)
      assert(state.decodeToJson(state.cachedSchema(c.id), c.id, body) == json,
        what)
      // a framed payload needs a body: an empty one is a wire-format error
      if (body.nonEmpty) {
        val framed = WireFormat.frame(c.id, body)
        agree(s"value $what",
          Right(AvroEnvelope.valueEnvelope(c.id, json, c.json)),
          attempt(DecodeKernel.decodeValue(framed, state, permissive = false)))
        agree(s"key $what", Right(AvroEnvelope.keyEnvelope(json, c.json)),
          attempt(DecodeKernel.decodeKey(framed, state, permissive = false,
            strip = true)))
        // stripKeyWireHeader=false decodes the header bytes as the body
        if (agree(s"unstripped key $what",
            attempt(AvroEnvelope.keyEnvelope(
              referenceJson(c.schema, framed, 0), c.json)),
            attempt(DecodeKernel.decodeKey(framed, state, permissive = false,
              strip = false)))) keyUnstrippedFailures += 1
        val row = AvroDecodeStruct(Literal(framed, BinaryType), provider,
          1000, permissive = false).eval(InternalRow.empty)
          .asInstanceOf[InternalRow]
        assert(row.getInt(0) == c.id)
        assert(java.util.Arrays.equals(row.getUTF8String(1).getBytes,
          jsonBytes), s"struct $what")
        assert(row.getUTF8String(2).toString == c.json)
      }
    })
    assert(bodies == 2000)
    assert(keyUnstrippedFailures < bodies)
  }

  test("every truncation and single-byte corruption fails on both sides " +
      "(as a decode failure) or gives identical bytes") {
    var total, failed = 0
    withAvroLimits(1 << 16) {
      for (c <- cases; body <- c.bodies) {
        val variants =
          (0 until body.length).map(body.take) ++
            body.indices.flatMap(i =>
              Seq(0x00, 0xff, 0x80, 0x7f, (body(i) ^ 0x01) & 0xff,
                (body(i) ^ 0x40) & 0xff).distinct.map { v =>
                val b = body.clone(); b(i) = v.toByte; b
              })
        for (v <- variants if v.nonEmpty) {
          total += 1
          val framed = WireFormat.frame(c.id, v)
          val ref = attempt(referenceJson(c.schema, v, 0))
          def what = s"schema ${c.json} body ${v.mkString(",")}"
          val bothFailed = agree(s"value $what",
            ref.map(j => AvroEnvelope.valueEnvelope(c.id, j, c.json)),
            attempt(DecodeKernel.decodeValue(framed, state,
              permissive = false)))
          agree(s"json $what", ref.map(_.getBytes(UTF_8)),
            attempt(state.cachedSchema(c.id).transcoder.json(v, 0)))
          if (bothFailed) failed += 1
        }
      }
    }
    info(s"$failed of $total variants failed on both sides")
    assert(total > 10000 && failed > total / 10, s"$failed of $total failed")
  }

  /** The schema with id 1 and a decoder state holding it. */
  private def single(schemaJson: String): (Schema, AvroDecoderState) = {
    val st = new AvroDecoderState(
      InMemorySchemaProvider(Map(1 -> schemaJson)), 10)
    (st.schemaById(1), st)
  }

  private def value(st: AvroDecoderState, body: Array[Byte]): String =
    new String(DecodeKernel.decodeValue(WireFormat.frame(1, body), st,
      permissive = false), UTF_8)

  private def plain(st: AvroDecoderState, body: Array[Byte]): String =
    st.decodeToJson(st.cachedSchema(1), 1, body)

  test("parity rule: map entries come out in `new HashMap[Utf8]()` " +
      "order, not wire order; a repeated key keeps its first slot and " +
      "last value") {
    val (schema, st) = single("""{"type":"map","values":"int"}""")
    def check(keys: Seq[String], presizedDiffers: Boolean): Unit = {
      val body = encode({ e =>
        e.writeMapStart(); e.setItemCount(keys.size.toLong)
        keys.zipWithIndex.foreach { case (k, i) =>
          e.startItem(); e.writeString(k); e.writeInt(i)
        }
        e.writeMapEnd()
      }, blocking = false)
      def render(m: java.util.Map[Utf8, Integer]) = {
        keys.zipWithIndex.foreach { case (k, i) => m.put(new Utf8(k), i) }
        m.asScala.toSeq.map { case (k, v) => s""""$k":$v""" }
          .mkString("{", ",", "}")
      }
      val expected = render(new java.util.HashMap[Utf8, Integer]())
      // neither wire order nor a map presized to the block count
      assert(expected != render(new java.util.LinkedHashMap[Utf8, Integer]()))
      if (presizedDiffers)
        assert(expected != render(new java.util.HashMap[Utf8, Integer](keys.size)))
      assert(referenceJson(schema, body, 0) == expected)
      assert(plain(st, body) == expected)
    }
    check(Seq("k5", "k2", "k1"), presizedDiffers = true)
    check(Seq("zeta", "k1", "alpha", "k10", "key_longer_than_seven", "Aa",
      "BB", "k3", "k9", "k1"), presizedDiffers = false)
  }

  test("parity rule: float renders as the widened double, -0.0f as 0.0, " +
      "non-finite numbers as strings") {
    val (_, st) = single(""""float"""")
    def f(x: Float) = plain(st, encode(_.writeFloat(x), blocking = false))
    assert(f(0.1f) == "0.10000000149011612")
    assert(f(-0.0f) == "0.0")
    assert(f(Float.NaN) == "\"NaN\"")
    assert(f(Float.NegativeInfinity) == "\"-Infinity\"")
    val (_, sd) = single(""""double"""")
    assert(plain(sd, encode(_.writeDouble(-0.0), blocking = false)) == "-0.0")
  }

  test("parity rule: supplementary characters are uppercase surrogate " +
      "escapes; U+2028 is raw JSON and escaped only by the envelope") {
    val (schema, st) = single(""""string"""")
    val body = encode(_.writeString("\uD83D\uDE00\u2028</"),
      blocking = false)
    val json = plain(st, body)
    val bs = "\\"
    assert(json == s"\"${bs}uD83D${bs}uDE00\u2028</\"")
    assert(referenceJson(schema, body, 0) == json)
    assert(value(st, body).contains("\"originMessage\":\"" +
      s"$bs\"$bs${bs}uD83D$bs${bs}uDE00${bs}u2028<$bs/$bs\"\""))
  }

  test("nesting deeper than the JSON writer's limit fails like the " +
      "reference") {
    val tree = """{"type":"record","name":"L","fields":[{"name":"v",""" +
      """"type":"int"},{"name":"next","type":["null","L"]}]}"""
    val (schema, st) = single(tree)
    for (levels <- Seq(1, 499, 500, 501, 600)) {
      val body = encode({ e =>
        (1 until levels).foreach { _ => e.writeInt(1); e.writeIndex(1) }
        e.writeInt(1); e.writeIndex(0)
      }, blocking = false)
      val failed = agree(s"$levels levels",
        attempt(referenceJson(schema, body, 0).getBytes(UTF_8)),
        attempt(st.cachedSchema(1).transcoder.json(body, 0)))
      // two JSON objects per level: the record and its union branch
      assert(failed == (2 * levels > 1000), s"$levels levels")
    }
  }
}
