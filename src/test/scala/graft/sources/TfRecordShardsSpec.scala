package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** TFRecord shard export ([[TfRecordShards]], round 14): shards
  * round-trip through the golden-pinned framing walk + nested proto
  * decode. */
class TfRecordShardsSpec extends SparkFunSuite {

  test("exampleRecord frames one Example; the framing walk and proto " +
      "decode recover the features") {
    val rec = TfRecordShards.exampleRecord(42L, "héllo tf", 8L)
    val recs = graft.operators.TfRecord.recordsJvm(rec)
    assert(recs.length == 1 && recs.head.dataCrcOk)
    // concatenated records keep walking (the shard shape)
    val two = rec ++ TfRecordShards.exampleRecord(43L, "x", 1L)
    assert(graft.operators.TfRecord.recordsJvm(two).length == 2)
  }

  test("writeExampleShards round-trips: one shard per partition, " +
      "read back to identity") {
    val s = spark
    import s.implicits._
    val docs = (0L until 30L)
      .map(i => (i, s"doc-$i body", 100L + i))
      .toDF("doc_id", "text", "n_chars").repartition(3)
    val dir = graft.TestPaths.dir("graft_tfrecord_export").toString
    TfRecordShards.writeExampleShards(docs, dir)
    val shards = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tfrecord"))
    assert(shards.length == 3, "one shard per non-empty partition")
    val recs = graft.operators.Multimodal.extractTfRecords(
      spark.read.format("binaryFile").load(dir + "/*.tfrecord")
        .select(monotonically_increasing_id().as("doc_id"),
          col("content").as("blob")), "doc_id").toDF()
    val ent = col("m.features.feature")
    val got = recs
      .select(graft.plans.ProtoExprs.protoDecodeCol(col("payload"),
        graft.operators.ProtoDecode.TfExample.example).as("m"))
      .select(
        element_at(ent, 2).getField("value").getField("int64_list")
          .getField("value").getItem(0).as("doc_id"),
        decode(element_at(ent, 1).getField("value")
          .getField("bytes_list").getField("value").getItem(0),
          "UTF-8").as("text"),
        element_at(ent, 2).getField("value").getField("int64_list")
          .getField("value").getItem(1).as("n_chars"))
      .collect()
    assert(got.length == 30)
    val byId = got.map(r => r.getLong(0) -> ((r.getString(1),
      r.getLong(2)))).toMap
    (0L until 30L).foreach { i =>
      assert(byId(i) == ((s"doc-$i body", 100L + i)), s"doc $i")
    }
  }
}
