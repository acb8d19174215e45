package org.apache.spark.sql.graftbridge

import org.apache.avro.Schema

import org.apache.spark.sql.avro.{AvroDeserializer, AvroSerializer}
import org.apache.spark.sql.internal.LegacyBehaviorPolicy
import org.apache.spark.sql.types.DataType

/** Spark's Avro ↔ Catalyst value converters (the ones behind its Avro
  * file format and `from_avro` / `to_avro`) are `private[sql]`; the typed
  * fixed-schema decode and encode ([[graft.plans.AvroDecodeFixed]],
  * [[graft.plans.AvroEncodeFixed]]) build them here. Dates and
  * timestamps are never rebased (`CORRECTED`, Spark's default). Neither
  * converter is thread-safe: keep one per thread. */
object AvroBridge {

  /** Avro datum of `schema` → Catalyst value of `dataType`. A struct
    * result is one row that the next call overwrites. */
  def deserializer(schema: Schema, dataType: DataType): Any => Any = {
    val d = new AvroDeserializer(schema, dataType, "CORRECTED", false, "", -1)
    v => d.deserialize(v).orNull
  }

  /** Catalyst value of `dataType` → Avro datum of `schema`; struct fields
    * match the schema's fields by position, not by name. */
  def serializer(dataType: DataType, schema: Schema,
      nullable: Boolean): Any => Any =
    new AvroSerializer(dataType, schema, nullable,
      true, LegacyBehaviorPolicy.CORRECTED).serialize
}
