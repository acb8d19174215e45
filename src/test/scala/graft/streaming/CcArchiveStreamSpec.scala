package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Streaming Common Crawl ingest ([[StreamingPipelines
  * .ingestCcArchiveStream]], round 15): the full `.warc.zst` → text
  * pipeline per micro-batch, feeding the ledgered exact-dedup ingest.
  * Archive blobs come from the SAME fixture builder as the batch
  * capstone (`cc_pipeline_survivors`), so batch and stream decode
  * identical bytes. */
class CcArchiveStreamSpec extends SparkFunSuite {

  private def longText(tag: String): String =
    (s"page $tag with " + ("meaningful corpus words " * 8)).trim

  /** (doc_id, source, text) rows → one `.warc.zst` archive blob per
    * row, via the shared query-fixture builder. */
  private def blobs(rows: Seq[(Long, String, String)])
      : Seq[(Long, Array[Byte])] = {
    val s = spark
    import s.implicits._
    graft.queries.ExtensionQueries
      .warcHtmlZstBlobs(rows.toDF("doc_id", "source", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]]("blob")))
      .toSeq
  }

  test("ccArchiveBatch: decode -> strip -> gate -> ledgered dedup; " +
      "within-batch dups collapse, cross-batch re-crawls suppress, " +
      "replays no-op") {
    val s = spark
    import s.implicits._
    val dir = graft.TestPaths.dir("graft_cc_stream").toString
    val index = s"$dir/digests"
    var sinkCalls = 0
    var survivors: Seq[String] = Nil
    def run(batchId: Long, rows: Seq[(Long, String, String)]): Unit = {
      val batch = blobs(rows).map(_._2).toDF("blob")
      StreamingPipelines.ccArchiveBatch(batch, batchId, "ccq1",
        index, minWords = 20) { (fresh, _) =>
        sinkCalls += 1
        survivors = fresh.select("survivor_id").collect()
          .map(_.getString(0)).toSeq.sorted
      }
    }
    // batch 0: two distinct long pages, one duplicated page pair, one
    // short page (gated out)
    run(0L, Seq(
      (1L, "crawlA", longText("alpha")),
      (2L, "crawlA", longText("beta")),
      (3L, "crawlA", longText("gamma")),
      (4L, "crawlA", longText("gamma")), // exact dup of 3
      (5L, "crawlA", "too short")))
    assert(sinkCalls == 1)
    assert(survivors == Seq(
      "http://site1.example/doc1", "http://site2.example/doc2",
      "http://site3.example/doc3"),
      s"batch-0 survivors: $survivors")
    // replay of batch 0: ledger no-ops, sink not re-run
    run(0L, Seq((1L, "crawlA", longText("alpha"))))
    assert(sinkCalls == 1, "replayed batch must not re-run the sink")
    // batch 1: a re-crawl of alpha (suppressed by the INDEX — same
    // source label too, since the page title carries it) + a new page
    run(1L, Seq(
      (6L, "crawlA", longText("alpha")), // re-crawl, same clean text
      (7L, "crawlB", longText("delta"))))
    assert(sinkCalls == 2)
    assert(survivors == Seq("http://site7.example/doc7"),
      s"batch-1 survivors: $survivors")
  }

  test("split fan-out (round 16): a SEEKABLE streamed archive plans " +
      "ceil(frames/k) positioned-range partitions; path-batch results " +
      "are identical to the round-15 whole-blob batch; replay no-ops") {
    val s = spark
    import s.implicits._
    val root = graft.TestPaths.dir("graft_cc_seekable")
    // one seekable archive holding 5 record frames (each fixture blob
    // is one complete zstd frame of a mini WARC)
    val rows = Seq(
      (1L, "crawlA", longText("alpha")),
      (2L, "crawlA", longText("beta")),
      (3L, "crawlA", longText("gamma")),
      (4L, "crawlA", longText("gamma")), // exact dup of 3
      (5L, "crawlA", "too short"))
    val frames = blobs(rows).map(_._2)
    val dsizes = frames.map(f =>
      graft.operators.ZstdDecode.decompress(f).get.length.toLong)
    val archive = root.resolve("seg-00000.warc.zst")
    java.nio.file.Files.write(archive,
      graft.sources.ZstdSeekable.assemble(frames, dsizes))
    // (a) partition pin: 5 frames at k=2 -> 3 range-read tasks
    val split = graft.sources.ZstdSeekable
      .readArchives(s, Seq(archive.toString), framesPerSplit = 2)
    assert(split.rdd.getNumPartitions == 3,
      s"expected ceil(5/2)=3 partitions, got ${split.rdd.getNumPartitions}")
    assert(split.count() == 5)
    // (b) identity: path-batch vs the round-15 whole-blob batch over
    // the same records, fresh index each
    var viaPaths: Seq[String] = Nil
    StreamingPipelines.ccArchivePathsBatch(s, Seq(archive.toString),
      0L, "ccq-split", root.resolve("idxA").toString, minWords = 20,
      framesPerSplit = 2) { (fresh, _) =>
      viaPaths = fresh.select("survivor_id").collect()
        .map(_.getString(0)).toSeq.sorted
    }
    var viaBlobs: Seq[String] = Nil
    StreamingPipelines.ccArchiveBatch(frames.toDF("blob"), 0L,
      "ccq-blob", root.resolve("idxB").toString, minWords = 20) {
      (fresh, _) =>
        viaBlobs = fresh.select("survivor_id").collect()
          .map(_.getString(0)).toSeq.sorted
    }
    assert(viaPaths == viaBlobs && viaPaths.nonEmpty,
      s"split-read survivors $viaPaths != whole-blob $viaBlobs")
    // (c) replay of the same (queryId, batchId): ledger no-ops
    var replayCalls = 0
    StreamingPipelines.ccArchivePathsBatch(s, Seq(archive.toString),
      0L, "ccq-split", root.resolve("idxA").toString, minWords = 20,
      framesPerSplit = 2) { (_, _) => replayCalls += 1 }
    assert(replayCalls == 0, "replayed path-batch must not re-run sink")
  }

  test("metadata-only source really prunes the content read: with " +
      "binaryFile.maxLength below the file size, a path-only scan " +
      "succeeds while a content scan throws") {
    val s = spark
    val root = graft.TestPaths.dir("graft_cc_prune")
    java.nio.file.Files.write(root.resolve("big.warc.zst"),
      new Array[Byte](4096))
    val key = "spark.sql.sources.binaryFile.maxLength"
    val old = s.conf.getOption(key)
    s.conf.set(key, "1024")
    try {
      val df = s.read.format("binaryFile").load(root.toString)
      // path-only: content never read, the length guard never fires
      assert(df.select("path").count() == 1)
      // content: the guard fires — proof the branch we avoid is the
      // one that materializes bytes
      val err = intercept[org.apache.spark.SparkException] {
        df.select("content").collect()
      }
      assert(err.getMessage.contains("exceeds the max length") ||
        err.getCause != null)
    } finally {
      old match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }
  }

  test("end-to-end file-source stream over a growing archive " +
      "directory") {
    val s = spark
    import s.implicits._
    val root = graft.TestPaths.dir("graft_cc_stream_e2e")
    val archives = root.resolve("archives")
    java.nio.file.Files.createDirectories(archives)
    val index = root.resolve("digests").toString
    def drop(name: String, rows: Seq[(Long, String, String)]): Unit =
      blobs(rows).foreach { case (id, b) =>
        java.nio.file.Files.write(
          archives.resolve(s"$name-$id.warc.zst"), b)
      }
    drop("a", Seq(
      (11L, "crawlA", longText("one")),
      (12L, "crawlA", longText("two"))))
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = StreamingPipelines.ingestCcArchiveStream(s,
      archives.toString, index,
      checkpointLocation = Some(root.resolve("ckpt").toString)) {
      (fresh, _) =>
        got ++= fresh.select("survivor_id").collect()
          .map(_.getString(0))
        ()
    }
    try {
      q.processAllAvailable()
      assert(got.sorted == Seq("http://site11.example/doc11",
        "http://site12.example/doc12"), s"first drop: $got")
      // grow the directory: one re-crawl (suppressed), one new page
      drop("b", Seq(
        (13L, "crawlA", longText("one")),
        (14L, "crawlB", longText("three"))))
      q.processAllAvailable()
      assert(got.sorted == Seq(
        "http://site11.example/doc11", "http://site12.example/doc12",
        "http://site14.example/doc14"), s"after growth: $got")
    } finally q.stop()
  }
}
