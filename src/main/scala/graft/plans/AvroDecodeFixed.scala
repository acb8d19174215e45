package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}

import org.apache.spark.sql.avro.SchemaConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.AvroBridge
import org.apache.spark.sql.types._

import graft.avro.{DecodeKernel, SchemaLookupException, WireFormat}

/** `graft_from_avro(bytes)` — FIXED-schema typed decode fast path
  * (SURVEY.md §7.3): for a topic declared to carry a single writer schema,
  * decode Confluent-framed Avro straight to a typed Catalyst struct.
  *
  * vs. the dynamic path ([[AvroDecodeEnvelope]]): no per-row schema-id
  * lookup, no GenericRecord→JSON→parse round-trip, and the output is a
  * first-class struct column (`.select($"e.field")` prunes/pushes like any
  * other nested column). This is Spark's `from_avro` with the Confluent
  * wire header checked first: the Catalyst type comes from Spark's
  * `SchemaConverters.toSqlType` and values from its `AvroDeserializer`,
  * so logical types decode as `from_avro` decodes them (decimal →
  * `DecimalType`, date → `DateType`, timestamp-micros → `TimestampType`).
  * Multi-branch unions are rejected when the type is resolved: they have
  * no faithful static Catalyst type (Spark would invent
  * `struct<member0,…>`), and the dynamic JSON envelope path handles them
  * (`AvroComplexTypesSpec`).
  *
  * Wire violations throw in both modes (reference `AvroTransform.java:
  * 173-177`). A frame whose embedded schema id differs from
  * `expectedSchemaId` (when ≥ 0) throws [[SchemaLookupException]] — the
  * single-schema contract made loud instead of silently mis-decoding.
  * `permissive=true` maps Avro DECODE failures to a null struct (the
  * envelope path forwards original bytes, but a typed column has nowhere
  * to put them — documented deviation). Null input → null (tombstones).
  *
  * READER-SCHEMA EVOLUTION: `readerSchemaJson`, when set, decodes with
  * Avro schema resolution (writer bytes, reader shape): added fields fill
  * their defaults, dropped fields are skipped, int→long / float→double
  * promotions and alias renames apply — the standard consumer-upgrade
  * path. The output Catalyst type follows the READER schema.
  */
case class AvroDecodeFixed(
    child: Expression,
    schemaJson: String,
    expectedSchemaId: Int = -1,
    permissive: Boolean = false,
    readerSchemaJson: Option[String] = None) extends UnaryExpression {

  @transient private lazy val schema: Schema =
    new Schema.Parser().parse(schemaJson)

  @transient private lazy val readerSchema: Schema =
    readerSchemaJson.map(new Schema.Parser().parse(_)).getOrElse(schema)

  override lazy val dataType: DataType = {
    AvroDecodeFixed.rejectMultiBranchUnions(readerSchema, Set.empty)
    SchemaConverters.toSqlType(readerSchema).dataType
  }
  override def nullable: Boolean = true

  // GenericDatumReader and AvroDeserializer are not thread-safe;
  // BinaryDecoder is reusable per thread — same executor-side state shape
  // as AvroDecoderState.
  private final class ThreadState {
    val reader = new GenericDatumReader[AnyRef](schema, readerSchema)
    // a root ["null", T] union decodes as T (a null datum stays null)
    val toCatalyst: Any => Any =
      AvroBridge.deserializer(AvroDecodeFixed.nonNullRoot(readerSchema),
        dataType)
    var decoder: BinaryDecoder = _
  }
  @transient private lazy val local: ThreadLocal[ThreadState] =
    ThreadLocal.withInitial(() => new ThreadState)

  override def nullSafeEval(input: Any): Any = {
    val framed = WireFormat.parse(input.asInstanceOf[Array[Byte]])
    if (expectedSchemaId >= 0 && framed.schemaId != expectedSchemaId)
      throw new SchemaLookupException(
        s"Fixed-schema decode declared schema id $expectedSchemaId but " +
          s"frame carries id ${framed.schemaId}")
    val st = local.get()
    try {
      st.decoder = DecoderFactory.get()
        .binaryDecoder(framed.body, 0, framed.body.length, st.decoder)
      val datum = st.reader.read(null, st.decoder)
      // the deserializer overwrites its result row on the next call; a
      // copy keeps each result independent of later ones
      if (datum == null) null
      else InternalRow.copyValue(st.toCatalyst(datum))
    } catch {
      case t: Throwable if permissive && DecodeKernel.isDecodeFailure(t) =>
        null
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("avroDecodeFixed", this,
      classOf[AvroDecodeFixed].getName)
    // cast follows dataType: top-level schemas need not be records
    // (string/long/array/map all map to non-InternalRow java types)
    val boxed = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ($boxed) $self.nullSafeEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : AvroDecodeFixed = copy(child = newChild)
  override def prettyName: String = "graft_from_avro"
}

object AvroDecodeFixed {

  private def nonNull(s: Schema): Seq[Schema] =
    s.getTypes.asScala.toSeq.filter(_.getType != Schema.Type.NULL)

  private def nonNullRoot(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION && nonNull(s).size == 1) nonNull(s).head
    else s

  /** Throws on any union with more than one non-null branch, at any
    * depth (`seen` stops the walk at a recursive record). */
  private def rejectMultiBranchUnions(s: Schema, seen: Set[String]): Unit =
    s.getType match {
      case Schema.Type.UNION =>
        if (nonNull(s).size > 1) throw new IllegalArgumentException(
          s"Unsupported Avro union for typed decode (use the dynamic JSON " +
            s"envelope path instead): $s")
        nonNull(s).foreach(rejectMultiBranchUnions(_, seen))
      case Schema.Type.RECORD if !seen(s.getFullName) =>
        s.getFields.asScala.foreach(f =>
          rejectMultiBranchUnions(f.schema, seen + s.getFullName))
      case Schema.Type.ARRAY => rejectMultiBranchUnions(s.getElementType, seen)
      case Schema.Type.MAP => rejectMultiBranchUnions(s.getValueType, seen)
      case _ => ()
    }
}

/** `graft_to_avro(struct)` — FIXED-schema typed ENCODE: the mirror of
  * [[AvroDecodeFixed]] (and the engine analogue of `to_avro`). Takes a
  * struct column whose fields line up, by position, with the schema's and
  * emits the Avro binary body through Spark's `AvroSerializer` (which
  * also rejects a FIXED value of the wrong size: the datum writer would
  * silently truncate it). Per-thread serializer + writer + encoder reuse
  * for the JVM's life (the reference allocates all three per record —
  * `AvroTransform.java:241-246`); used by the framed-corpus fixture so the
  * encode side of round-trip queries is native, not a ScalaUDF. Null
  * input → null. */
case class AvroEncodeFixed(child: Expression, schemaJson: String)
    extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  @transient private lazy val encoders: ThreadLocal[AvroEncodeFixed.Encoder] =
    AvroEncodeFixed.encoders(child.dataType, schemaJson, child.nullable)

  override def nullSafeEval(input: Any): Any = encoders.get().encode(input)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("avroEncodeFixed", this,
      classOf[AvroEncodeFixed].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (byte[]) $self.nullSafeEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : AvroEncodeFixed = copy(child = newChild)
  override def prettyName: String = "graft_to_avro"
}

object AvroEncodeFixed {

  /** Spark's `AvroSerializer` and an Avro writer over one reused output
    * buffer; neither is thread-safe. */
  private final class Encoder(dataType: DataType, schema: Schema,
      nullable: Boolean) {
    private val toAvro = AvroBridge.serializer(dataType, schema, nullable)
    private val writer = new GenericDatumWriter[Any](schema)
    private val out = new java.io.ByteArrayOutputStream(128)
    private var encoder: BinaryEncoder = _

    def encode(input: Any): Array[Byte] = {
      out.reset()
      encoder = EncoderFactory.get().binaryEncoder(out, encoder)
      writer.write(toAvro(input), encoder)
      encoder.flush()
      out.toByteArray
    }
  }

  /** One encoder per (input type, schema, nullability) and thread, kept
    * for the JVM's life. An expression's own state would be rebuilt by
    * every deserialized copy of it, once per task, and building Spark's
    * serializer logs a WARN for each nullable input field that the
    * schema declares non-null. */
  private val byKey =
    new ConcurrentHashMap[(DataType, String, Boolean), ThreadLocal[Encoder]]()

  /** (schema JSON, thread id) of every encoder built, in build order. */
  private[graft] val builds =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()

  private def encoders(dataType: DataType, schemaJson: String,
      nullable: Boolean): ThreadLocal[Encoder] =
    byKey.computeIfAbsent((dataType, schemaJson, nullable), _ => {
      val schema = new Schema.Parser().parse(schemaJson)
      ThreadLocal.withInitial { () =>
        builds.add((schemaJson, Thread.currentThread().getId))
        new Encoder(dataType, schema, nullable)
      }
    })
}
