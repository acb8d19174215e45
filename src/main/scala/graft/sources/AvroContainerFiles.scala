package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.avro.SchemaConverters
import org.apache.spark.sql.graftbridge.PlanBridge

/** Avro OBJECT CONTAINER FILES (`.avro` — magic `Obj1`, writer schema
  * in the header, sync-marked blocks) as a batch source AND sink — the
  * at-rest sibling of the engine's Confluent-framed wire format
  * (`avro/WireFormat.scala` decodes the per-message framing). Both
  * directions are Spark's own Avro file format: one file per non-empty
  * partition on write; on read, columns resolve BY NAME against the
  * first file's schema, and files split on sync markers, so a corpus
  * archived as a few huge containers still fans out across tasks.
  * Types are Spark's mapping (nested structs ↔ records, string-keyed
  * maps, decimal / timestamp / timestamp_ntz / date logical types);
  * dates and timestamps are never rebased. */
object AvroContainerFiles {

  // the short name "avro" is not registered in spark-sql's service file
  private val Format = "org.apache.spark.sql.avro.AvroFileFormat"

  /** Append `df` as container files under `path`. `syncInterval` is the
    * approximate block size in bytes — the reader's split granularity
    * (small values force many blocks, used by the split-read specs). */
  def write(df: DataFrame, path: String,
      syncInterval: Int = 64 * 1024, codec: String = "null"): Unit = {
    require(codec == "null" || codec == "deflate" || codec == "snappy",
      s"unsupported avro codec '$codec' (null | deflate | snappy)")
    try SchemaConverters.toAvroType(df.schema)
    catch { case e: Exception => throw new IllegalArgumentException(
      s"cannot write ${df.schema.simpleString} as Avro (map keys must " +
        s"be strings): ${e.getMessage}", e) }
    df.write.format(Format).mode("append")
      .option("compression", if (codec == "null") "uncompressed" else codec)
      .option("avro.mapred.sync.interval", syncInterval.toLong)
      .save(path)
  }

  /** Read every `*.avro` file under `path`. Files larger than
    * `maxSplitBytes` (default: the session's
    * `spark.sql.files.maxPartitionBytes`) split on sync markers; a set
    * value is scoped to a child session that otherwise keeps `spark`'s
    * settings, so neither `spark`'s conf nor its later queries see it. */
  def read(spark: SparkSession, path: String,
      maxSplitBytes: Long = -1L): DataFrame = {
    val session =
      if (maxSplitBytes <= 0) spark
      else {
        val iso = PlanBridge.childSession(spark)
        iso.conf.set("spark.sql.files.maxPartitionBytes", maxSplitBytes)
        iso
      }
    session.read.format(Format).load(path)
  }
}
