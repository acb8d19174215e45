package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

import graft.avro.{AvroDecoderState, DecodeKernel, SchemaProvider}

/** Native Catalyst expression for the fused
  * wire-parse → registry-lookup → Avro-decode → JSON-envelope kernel
  * (SURVEY.md §4.3 #1 / §7.1 M3 — the UDF→Expression promotion).
  *
  * No `ScalaUDF` wrapper (no catalyst-to-scala converters, no extra null
  * boxing): codegen embeds a direct virtual call via [[doGenCode]], so the
  * expression participates in whole-stage codegen as a leaf call instead
  * of forcing a fallback projection for the whole operator subtree.
  * Executor-side state (the schema LRU with each schema's compiled
  * transcoder) is resolved lazily from the JVM-wide registry keyed by the
  * provider's cache token — the reference's two-level cache design
  * (`AvroTransform.java:108-109`) relocated per executor.
  *
  * Null semantics: null input → null output (tombstone passthrough,
  * `AvroTransform.java:168-170`) via `UnaryExpression`'s default
  * null-intolerant eval.
  */
case class AvroDecodeEnvelope(
    child: Expression,
    provider: SchemaProvider,
    capacity: Int,
    permissive: Boolean,
    isKey: Boolean,
    stripKey: Boolean) extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  @transient private lazy val state: AvroDecoderState =
    AvroDecoderState.forProvider(provider, capacity)

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    if (isKey) DecodeKernel.decodeKey(bytes, state, permissive, stripKey)
    else DecodeKernel.decodeValue(bytes, state, permissive)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    // Reference this expression instance from generated code and call the
    // kernel directly — the surrounding operator stays in whole-stage
    // codegen and pays one virtual call per row.
    val self = ctx.addReferenceObj("avroDecode", this,
      classOf[AvroDecodeEnvelope].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (byte[]) $self.nullSafeEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : AvroDecodeEnvelope = copy(child = newChild)
  override def prettyName: String =
    if (isKey) "graft_avro_decode_key" else "graft_avro_decode"
}

/** Introspection variant: decode to a typed struct
  * `(origin_schema_id int, origin_message string, origin_schema string)`
  * instead of re-serialized envelope bytes — the relational face of the
  * pipeline for queries over decoded fields. Native (no ScalaUDF encoder
  * round-trip); null input → null struct (tombstone). PERMISSIVE turns an
  * undecodable body into a null struct and counts it, as the byte
  * envelope forwards the original bytes (`AvroTransform.java:188-191`);
  * wire-format violations and registry lookup failures throw in both
  * modes. */
case class AvroDecodeStruct(
    child: Expression,
    provider: SchemaProvider,
    capacity: Int,
    permissive: Boolean) extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("originSchemaId",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("originMessage",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("originSchema",
        org.apache.spark.sql.types.StringType, nullable = false)))
  override def nullable: Boolean = true

  @transient private lazy val state: AvroDecoderState =
    AvroDecoderState.forProvider(provider, capacity)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val id = graft.avro.WireFormat.schemaId(bytes)
    val cached = state.cachedSchema(id)
    try {
      val json = cached.transcoder.json(bytes, graft.avro.WireFormat.HeaderLen)
      org.apache.spark.sql.catalyst.InternalRow(
        id,
        org.apache.spark.unsafe.types.UTF8String.fromBytes(json),
        cached.jsonUtf8)
    } catch {
      case t: Throwable if permissive && DecodeKernel.isDecodeFailure(t) =>
        state.swallowedErrors.increment()
        null
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("avroDecodeStruct", this,
      classOf[AvroDecodeStruct].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) " +
        s"$self.nullSafeEval($c); ${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : AvroDecodeStruct = copy(child = newChild)
  override def prettyName: String = "graft_avro_decode_struct"
}
