package graft.avro

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.config.{EngineConfig, ErrorMode}

/** Raised by the analysis-time type gate (SURVEY.md §2.1 #4): the Spark
  * analogue of the reference's `ConnectException("... Record value does not
  * have a byte[] schema.")` (`AvroTransform.java:135-137`, `:194-197`,
  * gate predicate `ConnectSchemaUtil.java:7-13`). Raised EAGERLY at plan
  * construction — a mistyped column fails with the offending column and
  * type named, not with a ClassCastException deep inside an executor. */
final class TypeGateException(msg: String)
    extends IllegalArgumentException(msg)

/** Decoded payload view for introspection pipelines: the three envelope
  * fields before re-serialization. */
final case class DecodedPayload(
    originSchemaId: Int,
    originMessage: String,
    originSchema: String)

/** The engine's core pipeline: Confluent-wire-format Avro bytes → decoded
  * self-describing JSON envelope, per configured topic — the Spark-native
  * re-expression of the reference SMT's `apply(R r)` hot path
  * (`/root/reference/src/main/java/com/ing/eventbus/connect/schema/converters/AvroTransform.java:118-214`;
  * dataflow trace SURVEY.md §3.2).
  *
  * Shape: one declarative logical plan —
  * {{{
  *   kafkaDF
  *     .withColumn("value", when(topic ∈ enabled, envelope(decode(value)))
  *                          .otherwise(value))           // §2.1 #2,#8-#10
  *     .withColumn("key",   when(topic ∈ keyTopics, keyEnvelope(decode(key)))
  *                          .otherwise(key))             // §2.1 #3,#11
  *     [.drop/rebuild headers]                           // §2.1 #12
  * }}}
  * Catalyst plans scan→filter→project natively; the only non-built-in piece
  * is the dynamic-schema decode (schema id varies per ROW, so `from_avro`'s
  * literal-schema contract cannot express it — SURVEY.md §4.3 #1).
  *
  * Null semantics: null payloads (Kafka tombstones) pass through untouched
  * (`AvroTransform.java:133-135`, `:168-170`) — the UDFs are null-in/null-out
  * and `when` keeps the original null column value.
  */
object AvroTransform {

  /** Names of the Kafka-source-shaped input columns we transform. */
  val TopicCol = "topic"
  val KeyCol = "key"
  val ValueCol = "value"

  /** VALUE-side fused decode as a native Catalyst expression column
    * (M3 — `graft.plans.AvroDecodeEnvelope`). PERMISSIVE swallows decode
    * failures and forwards the original bytes (`AvroTransform.java:188-191`);
    * wire-format violations throw in both modes (`:173-177`). */
  def valueDecoder(cfg: EngineConfig, provider: SchemaProvider)
      (c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.AvroDecodeEnvelope(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c),
        provider, cfg.schemaCapacity,
        cfg.errorMode == ErrorMode.Permissive,
        isKey = false, stripKey = true))

  /** KEY-side decode (`AvroTransform.java:131-158`): fields inlined +
    * `originSchema` injected. `cfg.stripKeyWireHeader=false` reproduces the
    * reference's unstripped-key bug (`:148`; SURVEY.md §7.4). */
  def keyDecoder(cfg: EngineConfig, provider: SchemaProvider)
      (c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.AvroDecodeEnvelope(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c),
        provider, cfg.schemaCapacity,
        cfg.errorMode == ErrorMode.Permissive,
        isKey = true, stripKey = cfg.stripKeyWireHeader))

  /** Introspection decoder: envelope fields as a typed struct column
    * (null on tombstone, and on an undecodable body under PERMISSIVE).
    * Used by verification queries that re-project the decoded message
    * relationally instead of re-serializing to bytes. Native expression —
    * no ScalaUDF encoder round-trip. */
  def decodedStruct(cfg: EngineConfig, provider: SchemaProvider)
      (c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.AvroDecodeStruct(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c),
        provider, cfg.schemaCapacity,
        cfg.errorMode == ErrorMode.Permissive))

  /** Analysis-time BinaryType gate (`ConnectSchemaUtil.isBytesSchema` —
    * the reference checks the Connect schema per record and throws
    * `ConnectException`; Spark's column types are static, so the rebuild
    * checks ONCE at plan construction). Nullability is irrelevant, like the
    * reference's BYTES vs OPTIONAL_BYTES. */
  def requireBinary(df: DataFrame, colName: String, side: String): Unit = {
    val field = df.schema.fields.find(_.name == colName).getOrElse(
      throw new TypeGateException(
        s"AvroTransform - Transform failed. Record $side column " +
          s"'$colName' is missing from the input schema " +
          s"(${df.schema.fieldNames.mkString(", ")})."))
    if (field.dataType != org.apache.spark.sql.types.BinaryType)
      throw new TypeGateException(
        s"AvroTransform - Transform failed. Record $side column " +
          s"'$colName' does not have a byte[] (binary) schema; found " +
          s"${field.dataType.simpleString}.")
  }

  /** Fixed-schema typed decode fast path (SURVEY.md §7.3) for topics
    * DECLARED to carry a single writer schema: Confluent-framed bytes →
    * typed struct column, no per-row registry lookup, no JSON round-trip
    * (`graft.plans.AvroDecodeFixed`). `expectedSchemaId ≥ 0` turns the
    * single-schema declaration into a checked contract. */
  def fromAvroFixed(schemaJson: String, expectedSchemaId: Int = -1,
      permissive: Boolean = false)(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.AvroDecodeFixed(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c),
        schemaJson, expectedSchemaId, permissive))

  /** [[fromAvroFixed]] with READER-SCHEMA EVOLUTION: bytes written with
    * `writerSchemaJson` decode into the shape of `readerSchemaJson` via
    * Avro schema resolution — added-with-default fields filled, dropped
    * fields skipped, numeric promotions and alias renames applied. The
    * consumer-upgrade path: readers move to a new schema before (or
    * after) producers do. */
  def fromAvroEvolved(writerSchemaJson: String, readerSchemaJson: String,
      expectedSchemaId: Int = -1, permissive: Boolean = false)
      (c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.AvroDecodeFixed(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c),
        writerSchemaJson, expectedSchemaId, permissive,
        Some(readerSchemaJson)))

  /** Typed ENCODE mirror of [[fromAvroFixed]] (the engine analogue of
    * `to_avro`): a struct column shaped like the schema → Avro binary body
    * (`graft.plans.AvroEncodeFixed`). Frame with
    * `WireFormat.frameCol(id, _)` for the Confluent wire format. */
  def toAvroFixed(schemaJson: String)(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.AvroEncodeFixed(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c),
        schemaJson))

  /** The full record-stream transform over a Kafka-source-shaped DataFrame
    * (columns: topic, partition, key, value, timestamp, headers — any subset
    * containing `topic`+`value` works). Batch and streaming DataFrames both
    * accepted: the transform is stateless, so streaming is pure wiring
    * (SURVEY.md §7.1 M2).
    *
    * Records on non-configured topics pass through UNCHANGED
    * (`AvroTransform.java:121`, `:211-213`). Pushing the topic predicate
    * into the Kafka source's `subscribe` list is strictly better when the
    * caller controls the source (SURVEY.md §4.1) — this operator handles the
    * mixed-topic case.
    */
  def apply(df: DataFrame, cfg: EngineConfig,
      provider: SchemaProvider): DataFrame = {
    val decodeValue = valueDecoder(cfg, provider) _
    val decodeKey = keyDecoder(cfg, provider) _
    val topics = cfg.enabledTopics
    val keyTopics = cfg.keyTopics

    requireBinary(df, ValueCol, "value")
    if (keyTopics.nonEmpty && df.columns.contains(KeyCol))
      requireBinary(df, KeyCol, "key")

    val valueDecoded = df.withColumn(ValueCol,
      when(col(TopicCol).isin(topics: _*), decodeValue(col(ValueCol)))
        .otherwise(col(ValueCol)))

    val keyDecoded =
      if (keyTopics.isEmpty || !df.columns.contains(KeyCol)) valueDecoded
      else valueDecoded.withColumn(KeyCol,
        when(col(TopicCol).isin(keyTopics: _*), decodeKey(col(KeyCol)))
          .otherwise(col(KeyCol)))

    // `include.headers=false` drops header carry-over (`:199-209`, `:53`).
    if (!cfg.includeHeaders && keyDecoded.columns.contains("headers"))
      keyDecoded.drop("headers")
    else keyDecoded
  }

  /** Decoded envelope as queryable columns:
    * `origin_schema_id`, `origin_message`, `origin_schema` (null for
    * tombstones / non-enabled topics, and for undecodable bodies under
    * PERMISSIVE — counted like [[apply]]'s forwarded ones). */
  def decoded(df: DataFrame, cfg: EngineConfig,
      provider: SchemaProvider): DataFrame = {
    requireBinary(df, ValueCol, "value")
    val dec = decodedStruct(cfg, provider) _
    val gate: Column =
      when(col(TopicCol).isin(cfg.enabledTopics: _*), dec(col(ValueCol)))
    df.withColumn("_dec", gate)
      .withColumn("origin_schema_id", col("_dec.originSchemaId"))
      .withColumn("origin_message", col("_dec.originMessage"))
      .withColumn("origin_schema", col("_dec.originSchema"))
      .drop("_dec")
  }
}
