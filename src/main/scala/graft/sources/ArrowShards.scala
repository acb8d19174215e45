package graft.sources

import java.nio.ByteBuffer
import java.nio.channels.Channels

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{FieldVector, IntVector, VarCharVector,
  VectorSchemaRoot}
import org.apache.arrow.vector.compression.CompressionUtil.CodecType
import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryEncoder,
  DictionaryProvider}
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.arrow.vector.ipc.message.IpcOption
import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding,
  Field, FieldType}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.arrow.ArrowWriter
import org.apache.spark.sql.graftbridge.ArrowBridge
import org.apache.spark.sql.types._

import graft.operators.ArrowIpc

/** Arrow IPC shard export — the sink side of the
  * [[graft.operators.ArrowIpc]] reader: one `.arrows` stream file per
  * non-empty partition. Spark's own Catalyst → Arrow writer fills record
  * batches of `batchRows` executor-side (a partition never materializes
  * in memory) and Arrow Java's stream writer writes them, schema derived
  * from the DataFrame. pyarrow / polars / duckdb load the shards directly;
  * the repo reads them back through the `graft_arrow_rows` expression.
  * The 100 TB story: the shard count follows the upstream partitioning,
  * each file an independent sequential stream — the standard layout for
  * feeding GPU loaders. */
object ArrowShards {

  /** `dt` with every integral type widened to long (Arrow readers see the
    * exact values; the repo's own reader outputs long for every int width
    * anyway); throws for a type that reader does not map. */
  private def widened(dt: DataType): DataType = dt match {
    case LongType | IntegerType | ShortType | ByteType => LongType
    case DoubleType | FloatType | StringType | BooleanType => dt
    case ArrayType(et, nulls) => ArrayType(widened(et), nulls)
    case StructType(fields) =>
      StructType(fields.map(f => f.copy(dataType = widened(f.dataType))))
    case MapType(kt, vt, nulls) => MapType(widened(kt), widened(vt), nulls)
    case other => throw new IllegalArgumentException(
      s"unsupported Arrow export type $other")
  }

  private def codecTypeOf(codec: String): CodecType = codec match {
    case null | "" | "none" => CodecType.NO_COMPRESSION
    case "lz4" => CodecType.LZ4_FRAME
    case "zstd" => CodecType.ZSTD
    case other => throw new IllegalArgumentException(
      s"unsupported Arrow body codec '$other' (lz4, zstd or none)")
  }

  /** @param codec    `"zstd"` or `"lz4"` compresses every body buffer
    *                  (the spec's per-buffer framing,
    *                  [[ArrowIpc.BodyCodecs]]); null = uncompressed
    * @param dictCols  string columns to dictionary-encode (int32
    *                  indices) — the low-cardinality-label export shape.
    *                  A column's dictionary holds every value its shard
    *                  has seen; the stream carries it as a replacement
    *                  DictionaryBatch before each record batch that
    *                  added values. */
  def writeArrowShards(df: DataFrame, path: String,
      batchRows: Int = 8192, codec: String = null,
      dictCols: Set[String] = Set.empty): Unit = {
    require(batchRows > 0, "batchRows must be positive")
    val codecType = codecTypeOf(codec)
    val out = df.select(df.schema.fields.toSeq.map { f =>
      df.col("`" + f.name.replace("`", "``") + "`")
        .cast(widened(f.dataType)).as(f.name)
    }: _*)
    val schema = out.schema
    schema.fields.filter(f => dictCols(f.name)).foreach { f =>
      require(f.dataType == StringType,
        s"dictionary column ${f.name} must be a string column")
    }
    out.queryExecution.toRdd.foreachPartition { rows =>
      if (rows.hasNext) {
        val part = org.apache.spark.TaskContext.get().partitionId()
        val p = new Path(path,
          f"part-$part%05d-${java.util.UUID.randomUUID()}.arrows")
        val os = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
          .create(p, true)
        writeStream(os, schema, rows, batchRows, codecType, dictCols)
      }
    }
  }

  /** Writes `rows` as one Arrow IPC stream onto `os`, and closes it. */
  private def writeStream(os: java.io.OutputStream, schema: StructType,
      rows: Iterator[InternalRow], batchRows: Int, codec: CodecType,
      dictCols: Set[String]): Unit = {
    val alloc = new RootAllocator()
    val rowWriter = ArrowWriter.create(
      VectorSchemaRoot.create(ArrowBridge.arrowSchema(schema), alloc))
    val plain = rowWriter.root.getFieldVectors.asScala.toVector
    val provider = new DictionaryProvider.MapDictionaryProvider()
    // dictionary columns go out as int32 index vectors, the rest as
    // the row writer fills them
    val encoded = plain.zipWithIndex.collect {
      case (v: VarCharVector, i) if dictCols(v.getName) =>
        val enc = new DictionaryEncoding(i.toLong, false,
          new ArrowType.Int(32, true))
        val dict = new Dictionary(new VarCharVector(v.getName, alloc), enc)
        provider.put(dict)
        val indices = new Field(v.getName, new FieldType(
          v.getField.isNullable, enc.getIndexType, enc), null)
          .createVector(alloc).asInstanceOf[IntVector]
        i -> (dict, indices, scala.collection.mutable.HashSet
          .empty[ByteBuffer])
    }.toMap
    val vectors: Seq[FieldVector] = plain.indices.map(i =>
      encoded.get(i).map(_._2: FieldVector).getOrElse(plain(i)))
    val root = new VectorSchemaRoot(vectors.asJava)
    val writer = new ArrowStreamWriter(root, provider,
      Channels.newChannel(os), IpcOption.DEFAULT, ArrowIpc.BodyCodecs, codec)
    try {
      writer.start()
      var n = 0
      def flush(): Unit = {
        rowWriter.finish()
        encoded.foreach { case (i, (dict, indices, seen)) =>
          encode(plain(i).asInstanceOf[VarCharVector], dict, seen, indices)
        }
        root.setRowCount(n)
        writer.writeBatch()
        rowWriter.reset()
        n = 0
      }
      rows.foreach { r =>
        rowWriter.write(r)
        n += 1
        if (n == batchRows) flush()
      }
      if (n > 0) flush()
      writer.end()
    } finally {
      writer.close()
      root.close()
      rowWriter.root.close()
      provider.close()
      alloc.close()
    }
  }

  /** Appends the values of `plain` that `dict` lacks (`seen` holds what
    * it has), then writes `plain` as indices into `dict` to `indices`. */
  private def encode(plain: VarCharVector, dict: Dictionary,
      seen: scala.collection.mutable.HashSet[ByteBuffer],
      indices: IntVector): Unit = {
    val values = dict.getVector.asInstanceOf[VarCharVector]
    var size = values.getValueCount
    (0 until plain.getValueCount).foreach { i =>
      if (!plain.isNull(i)) {
        val b = plain.get(i)
        if (seen.add(ByteBuffer.wrap(b))) {
          values.setSafe(size, b)
          size += 1
        }
      }
    }
    values.setValueCount(size)
    val e = DictionaryEncoder.encode(plain, dict)
    try e.makeTransferPair(indices).transfer() finally e.close()
  }
}
