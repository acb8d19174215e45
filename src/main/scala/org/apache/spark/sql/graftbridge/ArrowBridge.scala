package org.apache.spark.sql.graftbridge

import org.apache.arrow.vector.types.pojo.Schema

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.ArrowUtils

/** Spark's Catalyst → Arrow schema mapping is `private[sql]`; the Arrow
  * shard export ([[graft.sources.ArrowShards]]) reaches it here. */
object ArrowBridge {

  /** The Arrow schema Spark's `ArrowWriter` fills for `schema`: strings
    * map to `utf8`, arrays to `list`, maps to the Arrow `map` type
    * (non-null `key`, nullable `value` in an `entries` struct). */
  def arrowSchema(schema: StructType): Schema =
    ArrowUtils.toArrowSchema(schema, "UTC",
      errorOnDuplicatedFieldNames = true, largeVarTypes = false)
}
