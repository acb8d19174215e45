package graft.avro

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Raised on Confluent wire-format violations: payload too short
  * (`AvroTransform.java:139-142`, `:173-177`) or wrong magic byte
  * (`AvroTransform.java:276`) — the Spark analogue of Kafka's
  * `SerializationException`. Thrown in BOTH error modes. */
final class WireFormatException(msg: String) extends RuntimeException(msg)

/** Confluent wire format: `0x00 | int32 schema id (big-endian) | avro body`
  * (`/root/reference/src/main/java/com/ing/eventbus/connect/schema/converters/AvroTransform.java:57-60`;
  * encoder fixture `TransformTest.java:114-131`).
  *
  * Two API layers:
  *  - JVM byte-level helpers ([[frame]]/[[parse]]) used inside the fused
  *    decode UDF/expression and by test fixtures;
  *  - Column-level parsers built ONLY from codegen'd Spark built-ins
  *    ([[schemaIdCol]]/[[bodyCol]]/[[isFramedCol]]/[[frameCol]]) for
  *    pipelines that want the header without the Avro decode (SURVEY.md
  *    §2.1 #6 — stays inside WholeStageCodegen, no UDF boundary).
  */
object WireFormat {
  val Magic: Byte = 0x00
  val HeaderLen: Int = 5 // magic (1) + schema id (4)

  /** Parsed header view: schema id + Avro body. */
  final case class Framed(schemaId: Int, body: Array[Byte])

  def frame(schemaId: Int, body: Array[Byte]): Array[Byte] = {
    val buf = ByteBuffer.allocate(HeaderLen + body.length)
    buf.put(Magic).putInt(schemaId).put(body)
    buf.array()
  }

  /** Validate a framed payload's header and return its schema id; the body
    * is `bytes` from [[HeaderLen]]. Mirrors the reference's checks:
    * length ≤ 5 (`:139-142`/`:173-177`) and magic byte (`:276`). */
  def schemaId(bytes: Array[Byte]): Int = {
    if (bytes.length <= HeaderLen)
      throw new WireFormatException(
        s"Payload of ${bytes.length} bytes is too short for the Confluent " +
          s"wire format (magic + int32 schema id + body)")
    if (bytes(0) != Magic)
      throw new WireFormatException(
        f"Unknown magic byte 0x${bytes(0)}%02x (expected 0x00)")
    ((bytes(1) & 0xff) << 24) | ((bytes(2) & 0xff) << 16) |
      ((bytes(3) & 0xff) << 8) | (bytes(4) & 0xff)
  }

  /** Validate + split a framed payload (the body is copied). */
  def parse(bytes: Array[Byte]): Framed =
    Framed(schemaId(bytes),
      java.util.Arrays.copyOfRange(bytes, HeaderLen, bytes.length))

  /** Schema id (offset 1..4, big-endian) via built-ins only:
    * `conv(hex(substring(v, 2, 4)), 16, 10)`. Codegen-friendly; valid for
    * the non-negative ids the Confluent registry hands out. */
  def schemaIdCol(value: Column): Column =
    conv(hex(substring(value, 2, 4)), 16, 10).cast("int")

  /** Avro body (offset 5..) via built-ins only. */
  def bodyCol(value: Column): Column =
    value.substr(lit(HeaderLen + 1), length(value) - HeaderLen)

  /** True iff the payload is long enough and starts with the magic byte. */
  def isFramedCol(value: Column): Column =
    (length(value) > HeaderLen) && (substring(value, 1, 1) === lit(Array(Magic)))

  /** Frame a body column with a literal schema id, in pure built-ins:
    * `concat(X'00', unhex(lpad(hex(id), 8, '0')), body)`. */
  def frameCol(schemaId: Int, body: Column): Column = {
    val idHex = f"$schemaId%08x"
    concat(lit(Array(Magic)), unhex(lit(idHex)), body)
  }
}
