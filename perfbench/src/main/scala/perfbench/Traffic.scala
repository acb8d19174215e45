package perfbench

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter}
import org.apache.avro.io.{BinaryEncoder, EncoderFactory}

/** Kafka-source-shaped record, the input of `AvroTransform.apply`. */
final case class KafkaRow(topic: String, partition: Int, offset: Long,
    key: Array[Byte], value: Array[Byte], timestamp: java.sql.Timestamp)

/** Source `events` rows, column-major, broadcast to the corpus generator. */
final case class EventsTable(eventId: Array[Long], userId: Array[Long],
    eventType: Array[String], value: Array[Double], props: Array[String],
    tsUs: Array[Long]) {
  def size: Int = eventId.length
}

/** Thread-confined Avro binary encoder: Avro's own `GenericDatumWriter`,
  * independent of the program's encoders, so a decode bug cannot be
  * cancelled by a matching encode bug. */
final class AvroWriter {
  private val parsed = new java.util.HashMap[String, (Schema, GenericDatumWriter[AnyRef])]
  private val out = new ByteArrayOutputStream(512)
  private var enc: BinaryEncoder = _

  def schema(json: String): Schema = entry(json)._1

  private def entry(json: String) = {
    var e = parsed.get(json)
    if (e == null) {
      val s = new Schema.Parser().parse(json)
      e = (s, new GenericDatumWriter[AnyRef](s))
      parsed.put(json, e)
    }
    e
  }

  def encode(json: String, rec: GenericData.Record): Array[Byte] = {
    out.reset()
    enc = EncoderFactory.get().binaryEncoder(out, enc)
    entry(json)._2.write(rec, enc)
    enc.flush()
    out.toByteArray
  }
}

object Traffic {
  val Words: Array[String] = Array("spark", "join", "window", "batch", "scan",
    "merge", "hash", "sort", "filter", "group", "order", "table")
  val EventTypes: Array[String] = Array("view", "click", "purchase", "signup",
    "error")
  val Ts0Us: Long = 1704067200L * 1000000L

  /** Confluent wire format: magic 0x00, big-endian int32 id, Avro body. */
  def frame(schemaId: Int, body: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(5 + body.length).put(0.toByte).putInt(schemaId)
      .put(body).array()

  /** The events record shape; `name` varies so that several registry ids
    * carry the same binary layout under distinct schemas. */
  def eventsSchema(name: String): String =
    s"""{"type":"record","name":"$name","namespace":"perfbench.events",""" +
      """"fields":[{"name":"event_id","type":"long"},""" +
      """{"name":"user_id","type":"long"},""" +
      """{"name":"event_type","type":"string"},""" +
      """{"name":"value","type":"double"},""" +
      """{"name":"props","type":"string"},""" +
      """{"name":"ts_us","type":"long"}]}"""

  /** A nested shape exercising union, array, map, enum and bytes. */
  def nestedSchema(name: String): String =
    s"""{"type":"record","name":"$name","namespace":"perfbench.orders",""" +
      """"fields":[{"name":"id","type":"long"},""" +
      """{"name":"status","type":{"type":"enum","name":"Status",""" +
      """"symbols":["NEW","PAID","SHIPPED","RETURNED"]}},""" +
      """{"name":"note","type":["null","string"],"default":null},""" +
      """{"name":"tags","type":{"type":"array","items":"string"}},""" +
      """{"name":"attrs","type":{"type":"map","values":"long"}},""" +
      """{"name":"digest","type":"bytes"},""" +
      """{"name":"amount","type":"double"}]}"""

  val KeySchema: String =
    """{"type":"record","name":"Key","namespace":"perfbench.keys",""" +
      """"fields":[{"name":"id","type":"long"}]}"""

  def eventsBody(w: AvroWriter, json: String, eventId: Long, userId: Long,
      eventType: String, value: Double, props: String, tsUs: Long)
      : Array[Byte] = {
    val r = new GenericData.Record(w.schema(json))
    r.put("event_id", eventId)
    r.put("user_id", userId)
    r.put("event_type", eventType)
    r.put("value", value)
    r.put("props", props)
    r.put("ts_us", tsUs)
    w.encode(json, r)
  }

  /** The `decode_batch` corpus: the events table replicated `copies` times,
    * copy c shifting every event id by `c * idStride` so all ids stay
    * distinct, framed under one schema id on topic `events`. */
  def eventsCorpusRow(src: EventsTable, j: Long, idStride: Long,
      schemaId: Int, json: String, w: AvroWriter): KafkaRow = {
    val n = src.size
    val i = (j % n).toInt
    val copy = j / n
    val id = src.eventId(i) + copy * idStride
    val body = eventsBody(w, json, id, src.userId(i), src.eventType(i),
      src.value(i), src.props(i), src.tsUs(i))
    KafkaRow("events", (j % 16).toInt, j, id.toString.getBytes(UTF_8),
      frame(schemaId, body), new java.sql.Timestamp(src.tsUs(i) / 1000))
  }
}

/** The `decode_stream_mixed` traffic: a seeded, per-record-deterministic
  * stream over four topics with planted tombstones and truncated bodies,
  * and schema ids drawn from a Zipf law over more ids than the program's
  * default schema-cache capacity.
  *
  * Record `i` depends only on `(seed, i)`, so any slice of the backlog can
  * be regenerated, and its expected counts recomputed, independently.
  *
  * The tombstone and truncation rates and the id count above capacity are
  * the workload's definition. The Zipf exponent and the topic mix are
  * assumptions, not measurements of real traffic: together they set the
  * miss rate (about 1% of records) and so the share of a batch spent in
  * the registry. */
object MixedTraffic {
  val NumIds = 128 // > EngineConfig.DefaultSchemaCapacity (100)
  val ZipfExponent = 1.6
  val KeySchemaId = 9001
  val TombstoneRate = 0.01
  val TruncateRate = 0.001

  /** Decoded value topics; the key of `KeyTopic` is decoded too. */
  val ValueTopics: Seq[String] = Seq("orders", "users")
  val KeyTopic = "users"
  /** Pass-through topics: Avro-framed bytes on a topic that is not
    * enabled, and plain JSON bytes. */
  val PassTopics: Seq[String] = Seq("clicks_raw", "logs_raw")
  private val Topics = Array("orders", "users", "clicks_raw", "logs_raw")
  private val TopicCdf = Array(0.40, 0.70, 0.85, 1.0)

  /** Odd ids carry the events shape, even ids the nested shape; rank 1 of
    * the Zipf law is id 1. */
  def schemaFor(id: Int): String =
    if (id % 2 == 1) Traffic.eventsSchema(s"Event_v$id")
    else Traffic.nestedSchema(s"Order_v$id")

  val registry: Map[Int, String] =
    (1 to NumIds).map(id => id -> schemaFor(id)).toMap +
      (KeySchemaId -> Traffic.KeySchema)

  private val zipfCdf: Array[Double] = {
    val w = (1 to NumIds).map(k => math.pow(k.toDouble, -ZipfExponent))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  private def pick(cdf: Array[Double], u: Double): Int = {
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    math.min(i, cdf.length - 1)
  }

  final val Decoded = 0
  final val Tombstone = 1
  final val Truncated = 2
  final val Pass = 3

  final case class Plan(topic: String, kind: Int, schemaId: Int)

  def rng(seed: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L)

  /** First draws of record i's generator: topic, kind and schema id. */
  def plan(r: SplittableRandom): Plan = {
    val topic = Topics(pick(TopicCdf, r.nextDouble()))
    val u = r.nextDouble()
    val decodedTopic = ValueTopics.contains(topic)
    val kind =
      if (u < TombstoneRate) Tombstone
      else if (decodedTopic && u < TombstoneRate + TruncateRate) Truncated
      else if (decodedTopic) Decoded
      else Pass
    Plan(topic, kind, pick(zipfCdf, r.nextDouble()) + 1)
  }

  def row(seed: Long, i: Long, w: AvroWriter): KafkaRow = {
    val r = rng(seed, i)
    val p = plan(r)
    val body = p.schemaId % 2 match {
      case 1 =>
        Traffic.eventsBody(w, schemaFor(p.schemaId), i, r.nextInt(15000),
          Traffic.EventTypes(r.nextInt(5)), r.nextInt(100000) / 100.0,
          s"""{"k": ${r.nextInt(100)}}""", Traffic.Ts0Us + i * 1000L)
      case _ => nestedBody(w, schemaFor(p.schemaId), i, r)
    }
    val value = p.kind match {
      case Tombstone => null
      case Truncated => Traffic.frame(p.schemaId, body.take(1))
      case _ if p.topic == "logs_raw" =>
        s"""{"level":"info","seq":$i,"msg":"${Traffic.Words(r.nextInt(12))}"}"""
          .getBytes(UTF_8)
      case _ => Traffic.frame(p.schemaId, body)
    }
    val key =
      if (p.topic == KeyTopic) {
        val k = new GenericData.Record(w.schema(Traffic.KeySchema))
        k.put("id", i)
        Traffic.frame(KeySchemaId, w.encode(Traffic.KeySchema, k))
      } else i.toString.getBytes(UTF_8)
    KafkaRow(p.topic, (i % 8).toInt, i, key, value,
      new java.sql.Timestamp((Traffic.Ts0Us + i * 1000L) / 1000))
  }

  private val Statuses = Array("NEW", "PAID", "SHIPPED", "RETURNED")

  private def nestedBody(w: AvroWriter, json: String, id: Long,
      r: SplittableRandom): Array[Byte] = {
    val s = w.schema(json)
    val rec = new GenericData.Record(s)
    rec.put("id", id)
    rec.put("status", new GenericData.EnumSymbol(s.getField("status").schema(),
      Statuses(r.nextInt(Statuses.length))))
    rec.put("note",
      if (r.nextInt(3) == 0) null
      else s"note \"${Traffic.Words(r.nextInt(12))}\"\t$id")
    val tags = new java.util.ArrayList[String]()
    (0 until r.nextInt(4)).foreach(_ => tags.add(Traffic.Words(r.nextInt(12))))
    rec.put("tags", tags)
    val attrs = new java.util.HashMap[String, java.lang.Long]()
    (0 until r.nextInt(4)).foreach(k =>
      attrs.put(s"a$k", java.lang.Long.valueOf(r.nextLong(1000000L))))
    rec.put("attrs", attrs)
    val digest = new Array[Byte](8)
    r.nextBytes(digest)
    rec.put("digest", ByteBuffer.wrap(digest))
    rec.put("amount", r.nextInt(1000000) / 100.0)
    w.encode(json, rec)
  }

  /** Counts the generator planted among records `[0, n)`. */
  final case class Expected(records: Long, tombstones: Long, truncated: Long,
      decoded: Long, pass: Long, keyRows: Long, decodedIdSum: Long)

  def expected(seed: Long, n: Long): Expected = {
    var tomb, trunc, dec, pass, keys, idSum = 0L
    var i = 0L
    while (i < n) {
      val p = plan(rng(seed, i))
      p.kind match {
        case Tombstone => tomb += 1
        case Truncated => trunc += 1
        case Decoded => dec += 1; idSum += i
        case _ =>
      }
      if (PassTopics.contains(p.topic)) pass += 1
      if (p.topic == KeyTopic) keys += 1
      i += 1
    }
    Expected(n, tomb, trunc, dec, pass, keys, idSum)
  }
}
