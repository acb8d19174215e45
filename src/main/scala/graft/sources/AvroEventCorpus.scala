package graft.sources

import java.io.ByteArrayOutputStream
import java.util.concurrent.ConcurrentHashMap

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter}
import org.apache.avro.io.EncoderFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.avro.WireFormat

/** Deterministic Confluent-wire-format Avro corpus derived from the driver's
  * `events` parquet table (TESTDATA.md) — the rebuild's stand-in for a live
  * Kafka topic (the reference runs inside MirrorMaker2; its test fixture
  * encodes records the same way — `TransformTest.java:114-131`).
  *
  * Produces the Kafka-source-shaped schema (topic, partition, key, value,
  * timestamp, headers — SURVEY.md §1.1) so the whole SURVEY §2.1 operator
  * inventory can be exercised and oracle-checked against the plain `events`
  * table: encode here + decode in the engine must be the identity on every
  * field, which the driver's DuckDB compare then verifies relationally.
  */
object AvroEventCorpus {

  /** Writer schema for an events row (ts carried as micros-since-epoch
    * long; Avro JSON renders it as a plain number). */
  val EventSchemaJson: String =
    """{"type":"record","name":"Event","namespace":"graft.events","fields":[
      |{"name":"event_id","type":"long"},
      |{"name":"user_id","type":"long"},
      |{"name":"event_type","type":"string"},
      |{"name":"value","type":"double"},
      |{"name":"props","type":"string"},
      |{"name":"ts_us","type":"long"}]}""".stripMargin.replace("\n", "")

  // Executor-local parsed-schema/writer cache for the ENCODE side (the
  // decode side has its own in AvroDecoderState).
  private val schemaCache = new ConcurrentHashMap[String, Schema]()
  private def parsedSchema(json: String): Schema =
    schemaCache.computeIfAbsent(json, j => new Schema.Parser().parse(j))

  private val writerCache =
    ThreadLocal.withInitial[java.util.HashMap[String, GenericDatumWriter[AnyRef]]](
      () => new java.util.HashMap)

  /** Avro-binary encode of one events row. Deterministic. */
  def encodeEventBody(eventId: Long, userId: Long, eventType: String,
      value: Double, props: String, tsUs: Long): Array[Byte] = {
    val schema = parsedSchema(EventSchemaJson)
    val rec = new GenericData.Record(schema)
    rec.put("event_id", eventId)
    rec.put("user_id", userId)
    rec.put("event_type", eventType)
    rec.put("value", value)
    rec.put("props", props)
    rec.put("ts_us", tsUs)
    var writer = writerCache.get().get(EventSchemaJson)
    if (writer == null) {
      writer = new GenericDatumWriter[AnyRef](schema)
      writerCache.get().put(EventSchemaJson, writer)
    }
    val out = new ByteArrayOutputStream(64)
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    writer.write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  /** events parquet → kafka-shaped DataFrame with Confluent-framed Avro
    * `value` bytes.
    *
    * @param topicExpr    SQL expression for the topic column (e.g.
    *                     `"'events'"` or `"event_type"` to fan records out
    *                     over several topics for routing tests)
    * @param schemaId     registered id for [[EventSchemaJson]]
    * @param tombstoneEvery if > 0, every Nth event_id gets a NULL value
    *                     (Kafka tombstone; `AvroTransform.java:168-170`)
    * @param corruptEvery if > 0, every Nth event_id gets its Avro body
    *                     truncated to 1 byte — decodes fail with EOF, which
    *                     PERMISSIVE mode must swallow (`:188-191`)
    */
  // The framed corpus is the test INPUT, not the engine under test — but
  // rebuilding it costs a full native encode of the events table, and the
  // sweep's nine avro queries each re-derived it (fixture encode dominated
  // their timings, hiding decode cost). Cache the persisted DataFrame per
  // exact parameterization: a handful of configs × ~10 MB each, reused by
  // every query/verify pass in the JVM.
  private val framedCache =
    new ConcurrentHashMap[(String, Int, String, Int, Int, Boolean), DataFrame]()

  def framedEvents(spark: SparkSession, sfDir: String,
      schemaId: Int,
      topicExpr: String = "'events'",
      tombstoneEvery: Int = 0,
      corruptEvery: Int = 0,
      frameKey: Boolean = false): DataFrame =
    framedCache.computeIfAbsent(
      (sfDir, schemaId, topicExpr, tombstoneEvery, corruptEvery, frameKey),
      _ => buildFramedEvents(spark, sfDir, schemaId, topicExpr,
        tombstoneEvery, corruptEvery, frameKey)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))

  private def buildFramedEvents(spark: SparkSession, sfDir: String,
      schemaId: Int,
      topicExpr: String,
      tombstoneEvery: Int,
      corruptEvery: Int,
      frameKey: Boolean): DataFrame = {
    // the testdata's events.parquet is ONE row group; KernelPlacement
    // spreads its scan beneath the encode kernel below, so the cached
    // corpus arrives partition-parallel, as a Kafka source would
    val events = graft.queries.Q.events(spark, sfDir)
    // native typed encode (graft.plans.AvroEncodeFixed) — byte-identical
    // to the GenericDatumWriter reference encode in [[encodeEventBody]]
    // (spec-pinned), but codegen-resident: no ScalaUDF boundary in the
    // encode half of every round-trip query. Struct field order follows
    // the schema's field order.
    val cleanBody = graft.avro.AvroTransform.toAvroFixed(EventSchemaJson)(
      struct(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props"), unix_micros(col("ts")).as("ts_us")))
    var body = cleanBody
    if (corruptEvery > 0)
      body = when(col("event_id") % corruptEvery === 0,
        substring(body, 1, 1)).otherwise(body)
    var framed = WireFormat.frameCol(schemaId, body)
    if (tombstoneEvery > 0)
      framed = when(col("event_id") % tombstoneEvery === 0,
        lit(null).cast("binary")).otherwise(framed)
    val keyCol =
      if (frameKey) WireFormat.frameCol(schemaId, cleanBody)
      else col("event_id").cast("string").cast("binary")

    events.select(
        expr(topicExpr).as("topic"),
        (col("event_id") % 32).cast("int").as("partition"),
        keyCol.as("key"),
        framed.as("value"),
        col("ts").as("timestamp"),
        array(struct(lit("origin").as("key"),
          lit("graft").cast("binary").as("value"))).as("headers"))
  }

  /** Register the event schema in a fresh stub registry; returns
    * (provider, schemaId). */
  def registry(): (graft.avro.InMemorySchemaProvider, Int) = {
    val stub = new graft.avro.SchemaRegistryStub
    val id = stub.registerValueSchema("events", EventSchemaJson)
    (stub.toProvider, id)
  }
}
