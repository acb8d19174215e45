package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.sources.ZstdSeekable

/** The zstd seekable-format split reader (round 14): seek-table
  * parse, positioned range reads, dictionary-frame prepend, and the
  * PLAN-PINNED split count (one task per frame group — the whole
  * point at 100 TB). Frames come from the committed round-14 golden
  * vectors (real `zstd --train` dictionary + CLI frames). */
class ZstdSeekableSpec extends SparkFunSuite {

  private def vector(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/zstd/$name")
    assert(in != null, s"missing golden vector $name")
    try in.readAllBytes() finally in.close()
  }

  /** Byte-identical twin of the generator's `dict_records()`. */
  private def dictRecord(i: Int): Array[Byte] = {
    val body = s"field${i % 7}=value${(i * 13) % 97}&" * (3 + i % 5)
    ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " +
      s"http://example.com/dict/$i\r\nContent-Length: ${body.length}" +
      s"\r\n\r\n$body\r\n\r\n").getBytes("UTF-8")
  }

  private def skippable(payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x5d, 0x2a, 0x4d, 0x18).map(_.toByte))
    val n = payload.length
    out.write(Array(n & 0xff, (n >> 8) & 0xff, (n >> 16) & 0xff,
      (n >> 24) & 0xff).map(_.toByte))
    out.write(payload)
    out.toByteArray
  }

  private def writeSeekable(nCopies: Int): (String, Int) = {
    val dictFrame = skippable(vector("warcdict.dict"))
    val recs = (0 until 8).map(i => vector(s"dictrec${i}_l3.zst"))
    val n = 8 * nCopies
    val frames = dictFrame +: (0 until n).map(i => recs(i % 8))
    val dsizes = 0L +: (0 until n).map(i => dictRecord(i % 8).length.toLong)
    val blob = ZstdSeekable.assemble(frames, dsizes)
    val f = graft.TestPaths.file("graft_seek", ".warczst")
    java.nio.file.Files.write(f, blob)
    (f.toString, n)
  }

  test("seek table parses with cumulative offsets; frame sizes must " +
      "reach the table exactly") {
    val (path, n) = writeSeekable(1)
    val (entries, _) = ZstdSeekable.seekEntries(spark, path)
    assert(entries.size == n + 1)
    assert(entries.head.dsize == 0) // the dictionary frame
    assert(entries.head.offset == 0)
    (1 until entries.size).foreach { i =>
      assert(entries(i).offset ==
        entries(i - 1).offset + entries(i - 1).csize)
    }
  }

  test("PLAN CONTRACT: framesPerSplit groups data frames into " +
      "ceil(n/k) partitions — the split fan-out at scale") {
    val (path, n) = writeSeekable(3) // 24 data frames
    val df = ZstdSeekable.readFrames(spark, path, framesPerSplit = 4)
    assert(df.rdd.getNumPartitions == (n + 3) / 4)
    assert(df.count() == n)
    val df1 = ZstdSeekable.readFrames(spark, path, framesPerSplit = 100)
    assert(df1.rdd.getNumPartitions == 1)
  }

  test("every frame decodes independently through the dict-aware " +
      "walk (dictionary frame prepended per blob); records match " +
      "the golden plaintexts") {
    val (path, n) = writeSeekable(2) // 16 data frames
    val rows = ZstdSeekable.readFrames(spark, path, framesPerSplit = 3)
      .select(col("frame_idx"),
        explode(graft.plans.MediaExprs.warcZstRecordsCol(col("blob")))
          .as("r"))
      .select(col("frame_idx"), col("r.target_uri"),
        col("r.content_length"))
      .orderBy(col("frame_idx")).collect()
    assert(rows.length == n)
    rows.zipWithIndex.foreach { case (r, k) =>
      val ri = k % 8
      assert(r.getLong(0) == k + 1) // seek-table idx (0 = dict)
      assert(r.getString(1) == s"http://example.com/dict/$ri")
    }
  }

  test("rawFrame: CLI-VERIFIED golden bytes ('hello zstd world' " +
      "frame decoded byte-exactly by the real zstd binary at " +
      "generation time), empty/1-byte/multi-block round-trips, and " +
      "checksum enforcement") {
    val hello = "hello zstd world".getBytes("UTF-8")
    val f = ZstdSeekable.rawFrame(hello)
    // the exact bytes `zstd -d` accepted and decoded (round-14 dev
    // verification) — encoder vs the REFERENCE decoder
    assert(f.map(b => f"${b & 0xff}%02x").mkString ==
      "28b52ffd241081000068656c6c6f207a73746420776f726c647f816860")
    for (payload <- Seq(Array.empty[Byte], Array[Byte](7),
        Array.tabulate(70000)(i => (i * 31).toByte),
        Array.tabulate(200000)(i => (i % 251).toByte))) {
      val frame = ZstdSeekable.rawFrame(payload)
      val got = graft.operators.ZstdDecode.decompress(frame)
      assert(got.isDefined, s"rawFrame(${payload.length}) undecodable")
      assert(java.util.Arrays.equals(got.get, payload))
    }
    // the checksum is real: flipping a content byte fails the decode
    val bad = f.clone(); bad(10) = (bad(10) ^ 1).toByte
    assert(graft.operators.ZstdDecode.decompress(bad).isEmpty)
  }

  test("writeWarcZstShards round-trips: per-partition seekable " +
      "shards, one record per row, read back to identity through " +
      "readShardFrames + the record walk") {
    val s = spark
    import s.implicits._
    val docs = (0L until 50L)
      .map(i => (i, s"body-$i " * (1 + (i % 5)).toInt))
      .toDF("doc_id", "text").repartition(3)
    val dir = graft.TestPaths.dir("graft_warczst_export").toString
    ZstdSeekable.writeWarcZstShards(docs, dir)
    val shards = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warczst"))
    assert(shards.length == 3, "one shard per non-empty partition")
    val frames = ZstdSeekable.readShardFrames(spark, dir, 8)
    assert(frames.count() == 50)
    // every frame decodes through the dict-aware walk to ONE record
    val recs = frames.select(org.apache.spark.sql.functions.explode(
        graft.plans.MediaExprs.warcZstRecordsCol(
          org.apache.spark.sql.functions.col("blob"))).as("r"))
      .select("r.rec_type", "r.target_uri", "r.content_length")
      .collect()
    assert(recs.length == 50)
    assert(recs.forall(_.getString(0) == "resource"))
    val ids = recs.map(_.getString(1)
      .stripPrefix("http://corpus.local/doc/").toLong).sorted
    assert(ids.toSeq == (0L until 50L))
  }

  test("corrupt tails fail loud: bad footer magic, truncated table, " +
      "frame sizes not reaching the table") {
    val (path, _) = writeSeekable(1)
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path))
    def writeTmp(b: Array[Byte]): String = {
      val f = graft.TestPaths.file("graft_seekbad", ".z")
      java.nio.file.Files.write(f, b)
      f.toString
    }
    val noMagic = bytes.clone(); noMagic(bytes.length - 1) = 0x00
    intercept[IllegalArgumentException] {
      ZstdSeekable.seekEntries(spark, writeTmp(noMagic))
    }
    val shortTable = bytes.take(bytes.length - 20) ++
      bytes.takeRight(9)
    intercept[IllegalArgumentException] {
      ZstdSeekable.seekEntries(spark, writeTmp(shortTable))
    }
  }
}
