package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.avro.{Fixtures, WireFormat}

/** Streaming twin of the golden/batch tests: same transform, MemoryStream
  * source, memory sink (SURVEY.md §5 — replaces a live broker). */
class StreamingSpec extends SparkFunSuite {

  test("streaming media triage: per-payload verdicts stream through " +
      "append mode; valid WAV routes ok, garbage routes to reasons") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val wav = "RIFF".getBytes ++ le32(0) ++ "WAVE".getBytes ++
      ("fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
        le32(16000) ++ le16(2) ++ le16(16)) ++
      "data".getBytes ++ le32(4) ++ le16(1) ++ le16(2)
    val input = MemoryStream[(Long, Array[Byte])]
    val out = StreamingPipelines.mediaAuditStream(
      input.toDF().toDF("doc_id", "blob"), "doc_id")
    val q = out.writeStream.format("memory").queryName("media_triage")
      .outputMode("append").start()
    try {
      input.addData((1L, wav), (2L, "plain text".getBytes(UTF_8)))
      q.processAllAvailable()
      input.addData((3L, wav.take(20)), (4L, "GIF89a...".getBytes(UTF_8)))
      q.processAllAvailable()
      val rows = s.sql(
        "SELECT doc_id, kind, ok, reason FROM media_triage ORDER BY doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getBoolean(2), r.getString(3))).toSeq
      assert(rows == Seq(
        (1L, "riff", true, "ok"),
        (2L, "bin", false, "unknown_format"),
        (3L, "riff", false, "undecodable_pcm"),
        // a bare GIF header probes the REAL decoder since round 9
        (4L, "gif", false, "undecodable_gif")),
        s"got $rows")
    } finally q.stop()
  }

  test("round-11 metadata extractors lift to streaming unchanged: MP4 " +
      "sample tables and MP3 frame-grid metadata over a MemoryStream " +
      "equal their batch twins (stateless expression projections)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // render fixture blobs in batch, then replay them through a stream
    def blobs(c: org.apache.spark.sql.Column): Seq[(Long, Array[Byte])] =
      (0L until 4L).toDF("doc_id").select(col("doc_id"), c.as("blob"))
        .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("blob")))
        .toSeq
    val mp4 = blobs(graft.queries.ExtensionQueries.mp4Blob)
    val mp3 = blobs(graft.queries.ExtensionQueries.mp3Blob)
    def run(data: Seq[(Long, Array[Byte])],
        f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        name: String): Seq[String] = {
      val input = MemoryStream[(Long, Array[Byte])]
      val q = f(input.toDF().toDF("doc_id", "blob"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData(data: _*); q.processAllAvailable()
      } finally q.stop()
      s.sql(s"SELECT * FROM $name ORDER BY doc_id")
        .collect().map(_.toString).toSeq
    }
    val gotTracks = run(mp4,
      df => graft.operators.Multimodal.extractMp4Tracks(df, "doc_id")
        .toDF(), "mp4_tracks_stream")
    val wantTracks = graft.operators.Multimodal
      .extractMp4Tracks(mp4.toDF("doc_id", "blob"), "doc_id")
      .toDF().orderBy("doc_id").collect().map(_.toString).toSeq
    assert(gotTracks == wantTracks, "mp4 tracks: stream != batch")
    val gotMp3 = run(mp3,
      df => graft.operators.Multimodal.extractMp3Meta(df, "doc_id")
        .toDF(), "mp3_meta_stream")
    val wantMp3 = graft.operators.Multimodal
      .extractMp3Meta(mp3.toDF("doc_id", "blob"), "doc_id")
      .toDF().orderBy("doc_id").collect().map(_.toString).toSeq
    assert(gotMp3 == wantMp3, "mp3 meta: stream != batch")
    val gotSync = run(mp4,
      df => graft.operators.Multimodal.extractMp4SyncRanges(df, "doc_id")
        .toDF(), "mp4_sync_stream")
    val wantSync = graft.operators.Multimodal
      .extractMp4SyncRanges(mp4.toDF("doc_id", "blob"), "doc_id")
      .toDF().orderBy("doc_id", "sample_idx").collect()
      .map(_.toString).toSeq
    assert(gotSync.sorted == wantSync.sorted,
      "mp4 sync ranges: stream != batch")
    // round-12 extractors lift identically: WebP container metadata
    // (mixed still/animated fixture) and the TIFF/webp branches of the
    // mixed-raster front door
    val webp = blobs(graft.queries.ExtensionQueries.webpAnimBlob)
    val gotWebp = run(webp,
      df => graft.operators.Multimodal.extractWebpMeta(df, "doc_id")
        .toDF(), "webp_meta_stream")
    val wantWebp = graft.operators.Multimodal
      .extractWebpMeta(webp.toDF("doc_id", "blob"), "doc_id")
      .toDF().orderBy("doc_id").collect().map(_.toString).toSeq
    assert(gotWebp == wantWebp, "webp meta: stream != batch")
    assert(gotWebp.nonEmpty)
    val tiff = blobs(graft.queries.ExtensionQueries.tiffBlob)
    val gotTiff = run(tiff,
      df => graft.operators.Multimodal.extractAnyImageFeatures(df,
        "doc_id").toDF(), "tiff_stream")
    val wantTiff = graft.operators.Multimodal
      .extractAnyImageFeatures(tiff.toDF("doc_id", "blob"), "doc_id")
      .toDF().orderBy("doc_id").collect().map(_.toString).toSeq
    assert(gotTiff == wantTiff && gotTiff.nonEmpty,
      "tiff front door: stream != batch")
    // round-13 archive/codec walks lift identically: the Kafka segment
    // record walk (codec-decompressed) and the zstd frame walk
    val kafka = blobs(unhex(lit(graft.queries.ExtensionQueries
      .kafkaBatchHexFor(1))))
    val gotKafka = run(kafka,
      df => graft.operators.Multimodal.extractKafkaRecords(df, "doc_id")
        .toDF().drop("value"), "kafka_rec_stream")
    val wantKafka = graft.operators.Multimodal
      .extractKafkaRecords(kafka.toDF("doc_id", "blob"), "doc_id")
      .toDF().drop("value").orderBy("doc_id", "offset").collect()
      .map(_.toString).toSeq
    assert(gotKafka.sorted == wantKafka.sorted && gotKafka.nonEmpty,
      "kafka records: stream != batch")
    val zstd = blobs(graft.queries.ExtensionQueries.zstdBlob)
    val gotZstd = run(zstd,
      df => graft.operators.Multimodal.extractZstdFrames(df, "doc_id")
        .toDF(), "zstd_frames_stream")
    val wantZstd = graft.operators.Multimodal
      .extractZstdFrames(zstd.toDF("doc_id", "blob"), "doc_id")
      .toDF().orderBy("doc_id", "frame_idx").collect()
      .map(_.toString).toSeq
    assert(gotZstd.sorted == wantZstd.sorted && gotZstd.nonEmpty,
      "zstd frames: stream != batch")
    // the Wikipedia page walk (bzip2 multistream + plain-XML front
    // doors in one fixture) lifts identically
    val wiki = blobs(graft.queries.ExtensionQueries.wikiBlob)
    val gotWiki = run(wiki,
      df => graft.operators.Multimodal.extractWikiPages(df, "doc_id")
        .toDF(), "wiki_pages_stream")
    val wantWiki = graft.operators.Multimodal
      .extractWikiPages(wiki.toDF("doc_id", "blob"), "doc_id")
      .toDF().orderBy("doc_id", "page_idx").collect()
      .map(_.toString).toSeq
    assert(gotWiki.sorted == wantWiki.sorted && gotWiki.nonEmpty,
      "wiki pages: stream != batch")
    // TFRecord framing (payload column dropped: binary Rows don't
    // toString stably) and the CBOR projection lift identically
    val tfBlob = lit(graft.operators.TfRecord.write(
      (0 until 3).map(e => s"s-$e".getBytes("UTF-8"))))
    val tf = blobs(tfBlob)
    val gotTf = run(tf,
      df => graft.operators.Multimodal.extractTfRecords(df, "doc_id")
        .toDF().select(col("doc_id"), col("rec_idx"), col("length"),
          col("data_crc_ok"), decode(col("payload"), "UTF-8")
            .as("content")), "tfrecord_stream")
    val wantTf = graft.operators.Multimodal
      .extractTfRecords(tf.toDF("doc_id", "blob"), "doc_id")
      .toDF().select(col("doc_id"), col("rec_idx"), col("length"),
        col("data_crc_ok"), decode(col("payload"), "UTF-8")
          .as("content"))
      .orderBy("doc_id", "rec_idx").collect().map(_.toString).toSeq
    assert(gotTf.sorted == wantTf.sorted && gotTf.nonEmpty,
      "tfrecord: stream != batch")
    val cborBlob = unhex(lit("a26161016162820203")) // {"a":1,"b":[2,3]}
    val cbor = blobs(cborBlob)
    val gotCbor = run(cbor,
      df => df.select(col("doc_id"),
        graft.plans.MediaExprs.cborToJsonCol(col("blob")).as("json")),
      "cbor_stream")
    val wantCbor = cbor.map(_._1).sorted
      .map(d => s"[$d,{" + "\"a\":1,\"b\":[2,3]}]")
    assert(gotCbor.sorted == wantCbor, "cbor: stream != batch")
    // the XZ member walk lifts identically
    val xzBlobs = graft.queries.ExtensionQueries
      .xzFixture(s, "/root/testdata/sf0.001")
      .limit(4).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]]("blob"))).toSeq
    val gotXz = run(xzBlobs,
      df => graft.operators.Multimodal.extractXzMembers(df, "doc_id")
        .toDF(), "xz_stream")
    val wantXz = graft.operators.Multimodal
      .extractXzMembers(xzBlobs.toDF("doc_id", "blob"), "doc_id")
      .toDF().orderBy("doc_id", "member_idx").collect()
      .map(_.toString).toSeq
    assert(gotXz.sorted == wantXz.sorted && gotXz.nonEmpty,
      "xz members: stream != batch")
  }

  test("streaming decode: golden envelope via MemoryStream (M2 wiring)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val (provider, id) = Fixtures.registry()
    val input = MemoryStream[(String, Array[Byte])]
    val df = input.toDF().toDF("topic", "value")
    val out = StreamingPipelines.decodeStream(df, Fixtures.cfg(), provider)

    val q = out.writeStream.format("memory").queryName("golden_stream")
      .outputMode("append").start()
    try {
      input.addData(("TransformTest",
        WireFormat.frame(id, Fixtures.encodeFullName("fname", "lname"))))
      input.addData(("otherTopic", "raw".getBytes(UTF_8)))
      q.processAllAvailable()
      val rows = s.sql("SELECT topic, value FROM golden_stream").collect()
      val decoded = rows.find(_.getString(0) == "TransformTest").get
      assert(new String(decoded.getAs[Array[Byte]](1), UTF_8) ==
        Fixtures.GoldenEnvelope)
      val passthrough = rows.find(_.getString(0) == "otherTopic").get
      assert(passthrough.getAs[Array[Byte]](1).sameElements("raw".getBytes(UTF_8)))
    } finally q.stop()
  }

  test("streaming typed decode: fixed-schema struct fields on a stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val (_, id) = Fixtures.registry()
    val input = MemoryStream[Array[Byte]]
    val out = StreamingPipelines.decodeTypedStream(
      input.toDF().toDF("value"), Fixtures.FullNameSchemaJson, id)
      .select(col("event.first").as("first"), col("event.last").as("last"))
    val q = out.writeStream.format("memory").queryName("typed_stream")
      .outputMode("append").start()
    try {
      input.addData(WireFormat.frame(id,
        Fixtures.encodeFullName("fname", "lname")))
      q.processAllAvailable()
      val rows = s.sql("SELECT first, last FROM typed_stream").collect()
      assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("fname", "lname")))
    } finally q.stop()
  }

  test("streaming exact dedup: duplicates within the watermark horizon " +
      "suppressed, state bounded by the horizon") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val out = StreamingPipelines.dedupExactStream(
      input.toDF().toDF("ts", "text"), "text", "ts", horizon = "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      input.addData((t(1), "alpha"), (t(2), "alpha"), (t(2), "beta"))
      q.processAllAvailable()
      // same content again within the horizon → suppressed
      input.addData((t(4), "alpha"))
      q.processAllAvailable()
      val texts = s.sql("SELECT text FROM dedup_stream").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(texts == Seq("alpha", "beta"))
    } finally q.stop()
  }

  test("streaming incremental ingest: re-crawls suppressed across " +
      "micro-batches via the persistent digest index; within-batch dups " +
      "collapse; the index outlives the query") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = graft.TestPaths.dir("graft_ingest")
      .toString + "/digests"
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def run(batches: Seq[Seq[(Long, String)]]): Unit = {
      val input = MemoryStream[(Long, String)]
      val q = StreamingPipelines.ingestNewStream(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id", dir) {
        (fresh, _) =>
          emitted ++= fresh.collect().map(r =>
            r.getAs[Long]("survivor_id") -> r.getAs[Long]("n_copies"))
      }
      try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
    }
    run(Seq(
      Seq(1L -> "alpha", 2L -> "beta"),
      // beta is a re-crawl (suppressed by the index written by batch 1);
      // gamma arrives twice in one batch (collapses to smallest id)
      Seq(3L -> "beta", 4L -> "gamma", 5L -> "gamma")))
    assert(emitted.toSet == Set(1L -> 1L, 2L -> 1L, 4L -> 2L))
    // a SECOND query over the same index: everything known is suppressed,
    // only the genuinely new doc lands
    emitted.clear()
    run(Seq(Seq(6L -> "alpha", 7L -> "delta")))
    assert(emitted.toSet == Set(7L -> 1L),
      "the digest index must outlive the streaming query")
  }

  test("streaming archive export: every micro-batch lands as its own " +
      "seekable warc.zst shard directory; replayed batches no-op " +
      "(staged commit); all records read back to identity") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val out = graft.TestPaths.dir("graft_stream_export").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamingPipelines.exportWarcZstStream(
      input.toDF().toDF("doc_id", "text"), out)
    try {
      input.addData(1L -> "first doc", 2L -> "second doc")
      q.processAllAvailable()
      input.addData(3L -> "third doc")
      q.processAllAvailable()
    } finally q.stop()
    val batchDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch-"))
    assert(batchDirs.length == 2, batchDirs.mkString(","))
    // replay of a committed batch id must no-op
    val replay = StreamingPipelines.exportWarcZstBatch(
      Seq(9L -> "ghost").toDF("doc_id", "text"), 0L, out)
    assert(!replay, "a committed batch id must not re-commit")
    // all shards read back to the union of the two batches
    val got = batchDirs.flatMap { d =>
      graft.sources.ZstdSeekable.readShardFrames(s, d.toString, 8)
        .select(org.apache.spark.sql.functions.col("blob")).collect()
        .map { r =>
          val rec = new String(graft.operators.ZstdDecode
            .decompressDictAware(r.getAs[Array[Byte]](0)).get, "UTF-8")
          val id = "doc/(\\d+)".r.findFirstMatchIn(rec).get.group(1).toLong
          val body = rec.substring(rec.indexOf("\r\n\r\n") + 4,
            rec.length - 4)
          id -> body
        }
    }.toSet
    assert(got == Set(1L -> "first doc", 2L -> "second doc",
      3L -> "third doc"))
  }

  test("streaming CDC merge: upserts/deletes fold into the persistent " +
      "snapshot across micro-batches and across queries; batch twin " +
      "semantics (delta wins version ties)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = graft.TestPaths.dir("graft_cdcs")
      .toString + "/snap"
    var last: Map[Long, (String, Long)] = Map.empty
    def run(batches: Seq[Seq[(Long, String, Long, Boolean)]]): Unit = {
      val input = MemoryStream[(Long, String, Long, Boolean)]
      val q = StreamingPipelines.mergeCdcStream(
        input.toDF().toDF("doc_id", "text", "version", "deleted"),
        "doc_id", "version", "deleted", dir) { (merged, _) =>
        last = merged.collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("text"), r.getAs[Long]("version"))).toMap
      }
      try batches.foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
    }
    run(Seq(
      Seq((1L, "one", 1L, false), (2L, "two", 1L, false)),
      // update 1, delete 2, insert 3; re-delivery of version 1 for key 1
      // would lose to its own v2 — assert the winner chain instead
      Seq((1L, "one-v2", 2L, false), (2L, "x", 2L, true),
        (3L, "three", 1L, false))))
    assert(last == Map(1L -> ("one-v2", 2L), 3L -> ("three", 1L)))
    // a SECOND query over the same snapshot: state survives the stream
    run(Seq(Seq((1L, "one-redelivered", 2L, false)))) // tie → delta wins
    assert(last == Map(1L -> ("one-redelivered", 2L),
      3L -> ("three", 1L)),
      "the snapshot must outlive the streaming query")
  }

  test("CDC snapshot publish is crash-safe: intra-batch duplicate " +
      "(key, version) delivery collapses to one row; a lost _latest " +
      "pointer recovers to the newest version, never an empty corpus") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = graft.TestPaths.dir("graft_cdcc")
      .toString + "/snap"
    var rows: Seq[(Long, String, Long)] = Nil
    def run(batches: Seq[Seq[(Long, String, Long, Boolean)]]): Unit = {
      val input = MemoryStream[(Long, String, Long, Boolean)]
      val q = StreamingPipelines.mergeCdcStream(
        input.toDF().toDF("doc_id", "text", "version", "deleted"),
        "doc_id", "version", "deleted", dir) { (merged, _) =>
        rows = merged.collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[String]("text"), r.getAs[Long]("version"))).toSeq
      }
      try batches.foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
    }
    // at-least-once re-delivery of (1, v1) inside one batch: the old
    // tie-pass-through kept BOTH copies in the snapshot
    run(Seq(Seq((1L, "one", 1L, false), (1L, "one", 1L, false),
      (2L, "two", 1L, false))))
    assert(rows.sorted == Seq((1L, "one", 1L), (2L, "two", 1L)),
      s"duplicate delivery must collapse, got $rows")
    // crash simulation: the pointer flip is the last step — kill the
    // pointer as if the JVM died right before it; recovery must fall
    // back to the newest manifest file, not restart the corpus from empty
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base, "_latest"), false)
    assert(BucketedSnapshotStore.resolveManifest(s, dir).isDefined,
      "pointerless state must resolve to the newest manifest")
    run(Seq(Seq((3L, "three", 1L, false))))
    assert(rows.sorted == Seq((1L, "one", 1L), (2L, "two", 1L),
      (3L, "three", 1L)),
      s"recovery lost the pre-crash corpus, got $rows")
    // retention: current + previous manifests remain, older pruned
    val ms = fs.listStatus(new org.apache.hadoop.fs.Path(base, "manifests"))
      .map(_.getPath.getName).filter(_.matches("m\\d+")).sorted.toSeq
    assert(ms.size <= 2, s"manifest pruning must keep at most 2, got $ms")
    // an UNCOMMITTED version dir (crash mid-write: no manifest ever
    // referenced it) must be invisible — resolution is manifest-driven,
    // so a partial write can never read as live state
    val junk = new org.apache.hadoop.fs.Path(base, "v999")
    fs.mkdirs(junk)
    assert(!BucketedSnapshotStore.resolveManifest(s, dir).get.buckets
      .valuesIterator.contains(999L),
      "no manifest may reference the uncommitted version")
    assert(BucketedSnapshotStore.read(s, dir).get.count() == 3,
      "the uncommitted version must not change the live state")
    fs.delete(junk, true)
    // pre-round-7 layout migration: a snapshot dir holding only
    // `current/` must seed the merge, not silently restart from empty
    val dirOld = graft.TestPaths.dir("graft_cdcm")
      .toString + "/snap"
    Seq((10L, "ten", 1L, false)).toDF("doc_id", "text", "version",
        "deleted")
      .write.parquet(s"$dirOld/current")
    rows = Nil
    def runOld(batches: Seq[Seq[(Long, String, Long, Boolean)]]): Unit = {
      val input = MemoryStream[(Long, String, Long, Boolean)]
      val q = StreamingPipelines.mergeCdcStream(
        input.toDF().toDF("doc_id", "text", "version", "deleted"),
        "doc_id", "version", "deleted", dirOld) { (merged, _) =>
        rows = merged.collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[String]("text"), r.getAs[Long]("version"))).toSeq
      }
      try batches.foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
    }
    runOld(Seq(Seq((11L, "eleven", 1L, false))))
    assert(rows.sorted == Seq((10L, "ten", 1L), (11L, "eleven", 1L)),
      s"legacy current/ corpus must survive the upgrade, got $rows")
    val fsOld = new org.apache.hadoop.fs.Path(dirOld)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // same grace rule as legacy v-dirs: a reader that resolved current/
    // just before the migration publish may still be scanning it
    assert(fsOld.exists(new org.apache.hadoop.fs.Path(dirOld, "current")),
      "legacy current/ gets one manifest generation of grace")
    runOld(Seq(Seq((12L, "twelve", 1L, false))))
    assert(rows.sorted == Seq((10L, "ten", 1L), (11L, "eleven", 1L),
      (12L, "twelve", 1L)), s"post-grace merge must keep all rows: $rows")
    assert(!fsOld.exists(new org.apache.hadoop.fs.Path(dirOld, "current")),
      "the migrated legacy dir is superseded after the second publish")
  }

  test("incremental snapshot publish: a small delta rewrites only its " +
      "touched buckets — bytes written per batch scale with the delta, " +
      "not the state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = graft.TestPaths.dir("graft_cdci")
      .toString + "/snap"
    def run(batches: Seq[Seq[(Long, String, Long, Boolean)]]): Unit = {
      val input = MemoryStream[(Long, String, Long, Boolean)]
      val q = StreamingPipelines.mergeCdcStream(
        input.toDF().toDF("doc_id", "text", "version", "deleted"),
        "doc_id", "version", "deleted", dir, nBuckets = 16) { (_, _) => () }
      try batches.foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
    }
    // batch 1: 200 keys spread over all 16 buckets
    run(Seq((1L to 200L).map(k => (k, s"doc $k", 1L, false))))
    val m1 = BucketedSnapshotStore.resolveManifest(s, dir).get
    assert(m1.nBuckets == 16 && m1.buckets.size == 16,
      s"200 hashed keys must populate all 16 buckets, got $m1")
    // batch 2: one update + one delete — a 2-key delta
    run(Seq(Seq((7L, "doc 7 v2", 2L, false), (8L, "gone", 2L, true))))
    val m2 = BucketedSnapshotStore.resolveManifest(s, dir).get
    val touchedExpected = Seq(7L, 8L).toDF("doc_id")
      .select(BucketedSnapshotStore.bucketExpr(Seq("doc_id"), 16))
      .collect().map(_.getInt(0)).toSet
    // THE write-amplification pin: exactly the delta's buckets repointed
    // to the new version; every other bucket still reads batch-1 files
    val repointed = m2.buckets.filter(_._2 > m1.seq).keySet
    assert(repointed == touchedExpected,
      s"expected only buckets $touchedExpected rewritten, got $m2")
    assert((m2.buckets -- touchedExpected) ==
      (m1.buckets -- touchedExpected),
      "untouched buckets must keep their previous version pointers")
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    val v2Leaves = fs.listStatus(
        new org.apache.hadoop.fs.Path(base, s"v${m2.seq}"))
      .map(_.getPath.getName).filter(_.startsWith("__bucket="))
      .map(_.stripPrefix("__bucket=").toInt).toSet
    assert(v2Leaves == touchedExpected,
      s"batch 2's version dir must hold ONLY the touched buckets, " +
        s"got $v2Leaves")
    // and the incrementally-assembled state is the full correct corpus
    val state = BucketedSnapshotStore.read(s, dir).get.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text"), r.getAs[Long]("version"))).toMap
    assert(state.size == 199, s"200 docs - 1 delete, got ${state.size}")
    assert(state(7L) == ("doc 7 v2", 2L) && !state.contains(8L) &&
      state(100L) == ("doc 100", 1L))
  }

  test("bucketed publish is exactly-once per (publisher, batchId): a " +
      "replayed batch re-flips the pointer but never re-applies its " +
      "non-idempotent delta; ANONYMOUS publishes get no replay guard") {
    val s = spark
    import s.implicits._
    val dir = graft.TestPaths.dir("graft_snapx")
      .toString + "/store"
    def pub(batchId: Long, who: String = "job-a"): Unit =
      BucketedSnapshotStore.publish(s, dir, batchId,
          Seq((1L, 5L)).toDF("k", "n"), Seq("k"), nBuckets = 8,
          publisherId = who) {
        (cur, d) => cur.unionByName(d).groupBy(col("k"))
          .agg(sum(col("n")).as("n"))
      }
    def total: Long = BucketedSnapshotStore.read(s, dir).get
      .agg(sum(col("n"))).collect().head.getLong(0)
    pub(0L)
    assert(total == 5L)
    pub(0L) // replay of the same (publisher, batchId): must NOT double-count
    assert(total == 5L, "a replayed batch must not re-apply its delta")
    // crash-after-publish replay with a lost pointer: the guard restores it
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base, "_latest"), false)
    pub(0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(base, "_latest")) &&
      total == 5L, "replay must restore the pointer without re-applying")
    pub(1L) // a genuinely new batch with the same payload applies
    assert(total == 10L)
    // a DIFFERENT publisher reusing batchId 1 is NOT a replay
    pub(1L, who = "job-b")
    assert(total == 15L, "distinct publishers must both apply")
    // anonymous publishes (no streaming queryId, no publisherId) carry
    // no identity — every one applies; review finding: two unrelated
    // ad-hoc jobs reusing a batchId must not silently drop the second
    pub(2L, who = "")
    pub(2L, who = "")
    assert(total == 25L, "anonymous publishes must all apply")
  }

  test("crashed migration replay: a bucketed ORPHAN v-dir (complete " +
      "data, no manifest) must not shadow the legacy monolithic corpus") {
    val s = spark
    import s.implicits._
    val dir = graft.TestPaths.dir("graft_snapo")
      .toString + "/store"
    // round-9 layout: complete monolithic v5 + pointer
    Seq((1L, "one"), (2L, "two")).toDF("k", "v")
      .write.parquet(s"$dir/v5")
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    // crash simulation: a bucketed migration publish wrote its data dir
    // (newer, complete, __bucket= leaves) but DIED before the manifest
    Seq((3L, "three")).toDF("k", "v")
      .withColumn("__bucket",
        BucketedSnapshotStore.bucketExpr(Seq("k"), 8))
      .write.partitionBy("__bucket").parquet(s"$dir/v6")
    // read() must still surface the LEGACY corpus, not treat the orphan
    // as the newest version (data loss) or as "no legacy state" (empty)
    val rows = BucketedSnapshotStore.read(s, dir)
      .getOrElse(fail("legacy corpus lost behind the orphan"))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(rows == Set(1L, 2L),
      s"expected the v5 legacy corpus, got $rows")
    // and the replayed migration publish folds the legacy corpus
    BucketedSnapshotStore.publish(s, dir, 0L,
        Seq((3L, "three")).toDF("k", "v"), Seq("k"), nBuckets = 8,
        publisherId = "migrator") { (cur, d) => cur.unionByName(d) }
    val after = BucketedSnapshotStore.read(s, dir).get
      .select("k").collect().map(_.getLong(0)).toSet
    assert(after == Set(1L, 2L, 3L),
      s"migration must fold legacy + delta, got $after")
  }

  test("streaming IVF-PQ ingest: per-batch probes equal the batch " +
      "build->append->probe composition; a batch never matches itself") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def vec(id: Long): Array[Float] = {
      // 3 well-separated clusters + per-id jitter, dim 8
      val c = (id % 3).toInt
      Array.tabulate(8)(p =>
        (if (p % 3 == c) 1.0f else 0.05f) + 0.01f * ((id * 7 + p) % 5))
    }
    def frame(ids: Seq[Long]) = ids.map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    val base = frame(0L until 24L)
    val b1 = (24L until 32L).toSeq
    val b2 = (32L until 40L).toSeq
    val root = graft.TestPaths.dir("graft_ivfpq_s")
      .toString
    // streaming run
    val sIdx = graft.operators.Similarity.buildIvfPqIndex(base,
      s"$root/stream", nlist = 4, m = 4, ksub = 8)
    val got = scala.collection.mutable.Map.empty[Long, Seq[(Long, Int, Long)]]
    val input = MemoryStream[(Long, Array[Float])]
    val q = StreamingPipelines.ingestIvfPqStream(
        input.toDF().toDF("vec_id", "embedding"), sIdx, k = 3) {
      (hits, batchId) =>
        got(batchId) = hits.collect().map(r => (r.getAs[Long]("query_id"),
          r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))).toSeq
    }
    try {
      input.addData(b1.map(i => i -> vec(i)): _*); q.processAllAvailable()
      input.addData(b2.map(i => i -> vec(i)): _*); q.processAllAvailable()
    } finally q.stop()
    // batch composition twin: base index, append b1, probe b2
    val bIdx = graft.operators.Similarity.buildIvfPqIndex(base,
      s"$root/batch", nlist = 4, m = 4, ksub = 8)
    val batch1Probe = graft.operators.Similarity
      .ivfPqTopKIndexed(bIdx, frame(b1), k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))).toSeq
    graft.operators.Similarity.appendToIvfPqIndex(bIdx, frame(b1))
    val batch2Probe = graft.operators.Similarity
      .ivfPqTopKIndexed(bIdx, frame(b2), k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))).toSeq
    assert(got(0L).sorted == batch1Probe.sorted,
      "batch 0 probe must equal the batch composition over the base index")
    assert(got(1L).sorted == batch2Probe.sorted,
      "batch 1 probe must equal the batch composition over base+b1")
    // probe-before-append: no batch-0 query may surface a batch-0 id
    assert(!got(0L).exists { case (_, _, n) => b1.contains(n) },
      "a batch must never match itself")
    // and b2 CAN see b1 (the append landed): some neighbor from b1
    assert(got(1L).exists { case (_, _, n) => b1.contains(n) },
      "later batches must see earlier admitted vectors")
  }

  test("trending terms: windowed Misra-Gries state folds across " +
      "micro-batches; n exact, dominant terms guaranteed, windows close " +
      "on watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val out = StreamingPipelines.trendingTermsStream(
      input.toDF().toDF("ts", "text"), "text", window_ = "10 minutes",
      lateness = "0 seconds", sketchK = 8)
    val q = out.writeStream.format("memory").queryName("trending")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      // two batches into the SAME 10-min window — forces the stored
      // sketch buffer to merge with the second batch's partial
      input.addData((t(1), "spark spark spark rare1"),
        (t(2), "spark flink"))
      q.processAllAvailable()
      input.addData((t(3), "spark spark beam"), (t(4), "spark flink"))
      q.processAllAvailable()
      // advance the watermark past the window to close it
      input.addData((t(25), "closer"))
      q.processAllAvailable()
      val rows = s.sql(
        "SELECT window_start, n_tokens, candidates FROM trending")
        .collect()
      val w10 = rows.filter(_.getTimestamp(0) == t(0)).head
      assert(w10.getLong(1) == 11L, s"11 tokens in the window: $w10")
      val cands = w10.getSeq[String](2)
      // spark: 7 of 11 > 11/9 — must survive any merge shape
      assert(cands.contains("spark"), s"dominant term must survive: $w10")
    } finally q.stop()
  }

  test("streaming NEAR-dup ingest: batches probe the persistent LSH " +
      "index, matches accumulate across batches, the index outlives the " +
      "query") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = graft.TestPaths.dir("graft_neardup_ing")
      .toString + "/lsh"
    val base = "the quick brown fox jumps over the lazy dog again today"
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    def run(batches: Seq[Seq[(Long, String)]]): Unit = {
      val input = MemoryStream[(Long, String)]
      val q = StreamingPipelines.ingestNearDupStream(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id", dir,
        threshold = 0.6) { (pairs, _) =>
        emitted ++= pairs.collect().map(r =>
          (r.getAs[Long]("a"), r.getAs[Long]("b"),
            r.getAs[Double]("jaccard")))
      }
      try batches.foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
    }
    run(Seq(
      // batch 1 seeds the index — nothing to probe against yet
      Seq(1L -> base, 2L -> "completely different content about engines"),
      // batch 2: re-crawl of 1 (jaccard 1.0) + one edited near-copy
      Seq(3L -> base, 4L -> (base + " with tail drift"))))
    assert(emitted.exists { case (a, b, j) => a == 1L && b == 3L && j == 1.0 },
      s"re-crawl must match its source exactly: $emitted")
    assert(emitted.exists { case (a, b, _) => a == 1L && b == 4L },
      s"edited near-copy must match: $emitted")
    assert(!emitted.exists { case (_, b, _) => b == 2L || b == 1L },
      s"batch-1 docs must not probe (index was empty): $emitted")
    // a SECOND query over the same index: batch-2 docs are now corpus
    emitted.clear()
    run(Seq(Seq(9L -> base)))
    assert(emitted.map(p => (p._1, p._2)).toSet
        .intersect(Set((1L, 9L), (3L, 9L))) == Set((1L, 9L), (3L, 9L)),
      s"the LSH index must outlive the streaming query: $emitted")
  }

  test("streaming near-dup: LSH band self-join finds exact and near pairs " +
      "within the horizon, matches the batch operator on the same corpus") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val out = StreamingPipelines.nearDupPairsStream(docs, "text", "doc_id",
      "ts", horizon = "10 minutes")
    val q = out.writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      val corpus = Seq(
        (1L, t(1), "the quick brown fox jumps over the lazy dog again today"),
        (2L, t(2), "the quick brown fox jumps over the lazy dog again today"),
        (3L, t(3), "the quick brown fox leaps over the lazy dog again today"),
        (4L, t(2), "completely different content about spark engines here"))
      input.addData(corpus: _*)
      q.processAllAvailable()
      // advance the watermark far enough to finalize append-mode results
      input.addData((99L, t(59), "watermark advancer row nothing shared"))
      q.processAllAvailable()
      val got = s.sql("SELECT a, b, jaccard FROM neardup_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.rint(r.getDouble(2) * 1e9) / 1e9)).toSet
      val batch = graft.operators.Dedup.minhashNearDup(
          corpus.toDF("doc_id", "ts", "text"), "text", "doc_id")
        .collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
          math.rint(r.getAs[Double]("jaccard") * 1e9) / 1e9)).toSet
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
      assert(!got.exists { case (a, b, _) => a == 4L || b == 4L })
    } finally q.stop()
  }

  test("streaming near-dup: a twin arriving beyond the horizon is NOT " +
      "paired (band state expired with the watermark)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val out = StreamingPipelines.nearDupPairsStream(docs, "text", "doc_id",
      "ts", horizon = "10 minutes")
    val q = out.writeStream.format("memory").queryName("neardup_late")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      val text = "the quick brown fox jumps over the lazy dog again today"
      input.addData((1L, t(0), text))
      q.processAllAvailable()
      // 40 min later: far past the 10-minute join bound relative to doc 1
      input.addData((2L, t(40), text))
      q.processAllAvailable()
      input.addData((3L, t(55), "watermark advancer row nothing shared"))
      q.processAllAvailable()
      val got = s.sql("SELECT a, b FROM neardup_late").collect()
      assert(got.isEmpty, s"out-of-horizon twin must not pair: " +
        got.mkString(","))
    } finally q.stop()
  }

  test("stream-stream interval join: follows within the window matched, " +
      "outside-window and self pairs excluded") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, Long, Timestamp, String)]
    val events = input.toDF().toDF("user_id", "event_id", "ts", "event_type")
    val joined = StreamingPipelines.followWithin(events,
      window_ = "1 hour", lateness = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("follow_stream")
      .outputMode("append").start()
    try {
      def t(h: Int, min: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")
      input.addData(
        (1L, 100L, t(10, 0), "purchase"),
        (1L, 101L, t(10, 30), "click"),  // within 1h of purchase 100
        (1L, 102L, t(11, 30), "click"),  // outside the window
        (2L, 200L, t(10, 15), "click"))  // other user, no purchase
      q.processAllAvailable()
      val got = s.sql("SELECT trigger_id, event_id FROM follow_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((100L, 101L)))
    } finally q.stop()
  }

  test("watermarked windowed agg emits closed windows, drops late data") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingPipelines.windowedAgg(events,
      window_ = "10 minutes", lateness = "5 minutes")

    val q = agg.writeStream.format("memory").queryName("win_stream")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      input.addData((t(1), "click", 1.0), (t(2), "click", 2.0))
      q.processAllAvailable()
      // advance watermark far past the first window
      input.addData((t(40), "click", 5.0))
      q.processAllAvailable()
      // this event is older than watermark (10:40 - 5min) → dropped
      input.addData((t(3), "click", 100.0))
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-01 11:30:00"), "click", 9.0))
      q.processAllAvailable()

      val rows = s.sql(
        "SELECT window_start, cnt, total_value FROM win_stream").collect()
      val first = rows.find(_.getTimestamp(0) ==
        Timestamp.valueOf("2024-01-01 10:00:00")).get
      assert(first.getLong(1) == 2 && first.getDouble(2) == 3.0) // late row dropped
    } finally q.stop()
  }

  test("sessionize: gap splits sessions, state closes on later batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import StreamingPipelines.{Event, Session}
    val input = MemoryStream[Event]
    val sessions = StreamingPipelines.sessionize(input.toDS(),
      gapMs = 60 * 1000L)

    val q = sessions.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      def t(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)
      // two bursts for user 1 separated by > gap, in one batch:
      input.addData(
        Event(1L, t(0), "click", 1.0), Event(1L, t(10), "click", 2.0),
        Event(1L, t(200), "view", 3.0), // new session (190s > 60s gap)
        Event(2L, t(5), "click", 4.0))
      q.processAllAvailable()
      val closed = s.sql("SELECT * FROM sess_stream").as[Session].collect()
      // first burst closed by the in-batch gap
      assert(closed.exists(x => x.user_id == 1L && x.n_events == 2 &&
        x.total_value == 3.0))
      // user 2 closed by the event-time timeout: watermark reached t(200),
      // past its last event t(5) + 60s gap
      assert(closed.exists(x => x.user_id == 2L && x.n_events == 1 &&
        x.total_value == 4.0))
      // user 1's second burst still open: timeout t(260) > watermark t(200)
      assert(!closed.exists(x => x.user_id == 1L && x.n_events == 1))
      // advance the watermark far past every open session's gap → event-time
      // timeouts close them
      input.addData(Event(3L, t(10000), "click", 0.0))
      q.processAllAvailable()
      input.addData(Event(3L, t(20000), "click", 0.0))
      q.processAllAvailable()
      val after = s.sql("SELECT * FROM sess_stream").as[Session].collect()
      assert(after.exists(x => x.user_id == 2L && x.n_events == 1))
      assert(after.exists(x => x.user_id == 1L && x.n_events == 1 &&
        x.total_value == 3.0))
    } finally q.stop()
  }
}

class StreamingScrubSpec extends graft.SparkFunSuite {
  import java.sql.Timestamp

  test("stateless scrub+chunk pipeline runs unchanged under streaming: " +
      "PII redacted, token windows emitted per micro-batch") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    // the same Column expressions used by the batch queries — stateless,
    // so Structured Streaming accepts them with no watermark/state
    val scrubbed = input.toDF().toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.TextFunctions.redactPii(col("text")).as("clean"),
        graft.functions.TextFunctions.fingerprintPoly(col("text")).as("fp"))
    val q = scrubbed.writeStream.format("memory").queryName("scrub_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, "ping alice@example.com now"),
        (2L, "server 10.0.0.1 up"))
      q.processAllAvailable()
      input.addData((3L, "call 555-123-4567 soon"))
      q.processAllAvailable()
      val rows = s.sql("SELECT doc_id, clean FROM scrub_stream ORDER BY doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(rows == Seq(
        (1L, "ping <EMAIL> now"),
        (2L, "server <IP> up"),
        (3L, "call <PHONE> soon")))
    } finally q.stop()

    // token-window chunking is a stateless explode — also streamable
    val input2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val chunks = graft.operators.Chunking.tokenWindows(
      input2.toDF().toDF("doc_id", "text"), "text", "doc_id",
      window = 3, stride = 2)
    val q2 = chunks.writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    try {
      input2.addData((1L, "a b c d e"))
      q2.processAllAvailable()
      val n = s.sql("SELECT COUNT(*) FROM chunk_stream").head().getLong(0)
      assert(n == 3) // starts 0, 2, 4
    } finally q2.stop()
  }
}

class StreamStaticContaminationSpec extends graft.SparkFunSuite {

  test("stream-static join: streaming docs checked against a static " +
      "benchmark shingle set (broadcast, no state)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = s.sqlContext
    val TF = graft.functions.TextFunctions
    // static side: the benchmark's distinct shingle hashes
    val bench = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
      .select(explode(TF.wordShingleHashes(col("text"), 3)).as("h"))
      .distinct()
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val streamShingles = input.toDF().toDF("doc_id", "text")
      .select(col("doc_id"),
        explode(TF.wordShingleHashes(col("text"), 3)).as("h"))
    // stream-static inner join: per-batch broadcast lookup, stateless
    val hits = streamShingles.join(broadcast(bench), "h")
      .groupBy("doc_id").count()
    val q = hits.writeStream.format("memory").queryName("contam_stream")
      .outputMode("complete").start()
    try {
      input.addData((1L, "alpha beta gamma delta epsilon"), // 3 shingles hit
        (2L, "one two three four five"))                    // 0 hits
      q.processAllAvailable()
      val got = s.sql("SELECT doc_id, count FROM contam_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == Map(1L -> 3L))
    } finally q.stop()
  }
}

class StreamingQualityMonitorSpec extends graft.SparkFunSuite {
  import java.sql.Timestamp

  test("watermarked windowed corpus-quality monitor over the signals " +
      "kernel: per-window doc counts and mean quality, late docs dropped") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = s.sqlContext
    val TF = graft.functions.TextFunctions
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, Long, String)]
    val agg = input.toDF().toDF("ts", "doc_id", "text")
      .withColumn("sig", TF.textSignals(col("text")))
      .withColumn("quality", TF.qualityScoreFromSignals(col("sig")))
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_docs"),
        avg(col("quality")).as("mean_quality"),
        sum(col("sig.n_norm_toks").cast("long")).as("n_tokens"))
      .select(col("window.start").as("w"), col("n_docs"),
        col("mean_quality"), col("n_tokens"))
    val q = agg.writeStream.format("memory").queryName("quality_stream")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      val good = "the quick brown fox jumps over the lazy dog and then " +
        "some more words to pass the length gate for quality scoring"
      input.addData((t(1), 1L, good), (t(4), 2L, good))
      q.processAllAvailable()
      // advance the watermark past the first window, closing it
      input.addData((t(40), 3L, good))
      q.processAllAvailable()
      // late arrival for the closed window -> dropped
      input.addData((t(2), 4L, good))
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-01 11:30:00"), 5L, good))
      q.processAllAvailable()
      val first = s.sql("SELECT n_docs, n_tokens FROM quality_stream " +
          "WHERE w = timestamp'2024-01-01 10:00:00'").collect()
      assert(first.length == 1)
      assert(first(0).getLong(0) == 2, "late doc must not be counted")
      assert(first(0).getLong(1) > 0)
    } finally q.stop()
  }

  test("streaming near-dup ingest REPLAY over the sf0.01 corpus: three " +
      "batches reproduce the hand-driven batch sequence, and the " +
      "corpus-vs-delta slice equals the dedup_incremental_near output") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val corpus = s.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint()
    val delta = corpus.select((col("doc_id") + 1000000L).as("doc_id"),
      col("text"))
    val h1 = delta.filter(col("doc_id") % 2 === 0).localCheckpoint()
    val h2 = delta.filter(col("doc_id") % 2 =!= 0).localCheckpoint()

    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        math.rint(r.getAs[Double]("jaccard") * 1e9) / 1e9)).toSet

    // hand-driven batch sequence: seed corpus, probe+append h1, probe h2
    val tmp = graft.TestPaths.dir("graft_replay")
    val refPath = s"$tmp/ref_lsh"
    val refIdx = graft.operators.Dedup.buildLshIndex(corpus, "text",
      "doc_id", refPath)
    val e1 = pairSet(graft.operators.Dedup.lshProbeNearDup(refIdx, h1,
      "text", "doc_id", threshold = 0.8))
    graft.operators.Dedup.appendToLshIndex(refIdx, h1, "text", "doc_id")
    val e2 = pairSet(graft.operators.Dedup.lshProbeNearDup(refIdx, h2,
      "text", "doc_id", threshold = 0.8))
    val expected = e1 ++ e2

    // the same three batches through the STREAMING wrapper
    val streamPath = s"$tmp/stream_lsh"
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val input = MemoryStream[(Long, String)]
    val q = StreamingPipelines.ingestNearDupStream(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id", streamPath,
      threshold = 0.8) { (pairs, _) =>
      emitted ++= pairs.collect().map(r =>
        (r.getAs[Long]("a"), r.getAs[Long]("b"),
          math.rint(r.getAs[Double]("jaccard") * 1e9) / 1e9))
    }
    try {
      Seq(corpus, h1, h2).foreach { b =>
        input.addData(b.collect().map(r =>
          (r.getLong(0), r.getString(1))).toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(emitted.toSet == expected,
      s"streamed pair set must equal the hand-driven batch replay " +
        s"(stream ${emitted.size} vs batch ${expected.size})")

    // and the corpus-indexed slice IS the dedup_incremental_near output
    val driverOut = pairSet(
      graft.SparkEntry.queries("dedup_incremental_near")(s,
        "/root/testdata/sf0.01"))
    val corpusSlice = emitted.toSet.filter(_._1 < 1000000L)
    assert(corpusSlice == driverOut,
      s"corpus-vs-delta slice (${corpusSlice.size}) must equal the " +
        s"driver query output (${driverOut.size})")
  }

  test("streaming transition edges: 2-batch ordered replay emits the " +
      "batch operator's edge multiset; last-node state spans batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import StreamingPipelines.{NodeEvent, TransitionEdge}
    def ev(u: Long, t: Long, id: Long, n: Long) =
      NodeEvent(u, new Timestamp(t), id, n)
    // batch 1: u1 walks 10→20, u2 emits 30; batch 2 (later event time):
    // u1 continues 20→10 (the cross-batch edge needs carried state),
    // u2 30→40, u3 starts fresh
    val b1 = Seq(ev(1, 1000, 1, 10), ev(1, 2000, 2, 20), ev(2, 1500, 3, 30))
    val b2 = Seq(ev(1, 9000, 4, 10), ev(2, 8000, 5, 40), ev(3, 8500, 6, 50))
    val input = MemoryStream[NodeEvent]
    val q = StreamingPipelines.transitionEdgesStream(input.toDS())
      .writeStream.format("memory").queryName("edges_out")
      .outputMode("append").start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = s.table("edges_out").as[TransitionEdge].collect()
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val batch = graft.operators.Graph.transitionEdges(
        (b1 ++ b2).toDF("user_id", "ts", "event_id", "node"),
        actor = col("user_id"), node = col("node"),
        order = Seq(col("ts"), col("event_id")))
      .collect()
      .map(r => TransitionEdge(r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed(TransitionEdge(20, 10)) == 1L,
      "the cross-batch edge proves state carried over")
  }

  test("streaming PageRank maintenance: the versioned edge snapshot " +
      "equals the batch operator's aggregated relation after every " +
      "batch, and the re-rank matches batch pageRank bit-for-bit") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import StreamingPipelines.NodeEvent
    def ev(u: Long, t: Long, id: Long, n: Long) =
      NodeEvent(u, new Timestamp(t), id, n)
    val b1 = Seq(ev(1, 1000, 1, 10), ev(1, 2000, 2, 20),
      ev(2, 1500, 3, 30))
    val b2 = Seq(ev(1, 9000, 4, 10), ev(2, 8000, 5, 40),
      ev(3, 8500, 6, 50), ev(1, 9500, 7, 20))
    val edgePath = graft.TestPaths.dir("graft_edges_snap").toString
    val input = MemoryStream[NodeEvent]
    val q = StreamingPipelines.maintainEdgesStream(input.toDS(), edgePath)()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def edgeSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"),
        r.getAs[Long]("w"))).toSet
    val batchEdges = graft.operators.Graph.transitionEdges(
      (b1 ++ b2).toDF("user_id", "ts", "event_id", "node"),
      actor = col("user_id"), node = col("node"),
      order = Seq(col("ts"), col("event_id")))
    val maintained = BucketedSnapshotStore.read(s, edgePath)
      .getOrElse(fail("no published edge snapshot"))
    assert(edgeSet(maintained) == edgeSet(batchEdges),
      "maintained edge relation must equal the batch extraction")
    // periodic re-rank over the maintained snapshot == batch pageRank
    val streamedPr = StreamingPipelines
      .pageRankFromSnapshot(s, edgePath, iters = 3)
      .getOrElse(fail("no snapshot to rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batchPr = graft.operators.Graph.pageRank(batchEdges, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamedPr == batchPr)
  }

  test("watermarked streaming quantiles: histogram state folds across " +
      "micro-batches; closed-window estimates equal the batch sketch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val out = StreamingPipelines.windowedQuantilesStream(
      input.toDF().toDF("ts", "v"), "v", window_ = "10 minutes",
      lateness = "0 seconds", binWidth = 10L, ps = Seq(25, 50, 90))
    val q = out.writeStream.format("memory").queryName("stream_q")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      val vals1 = Seq(5L, 17L, 23L, 42L, 99L)
      val vals2 = Seq(7L, 31L, 64L, 88L)
      // two batches into the SAME window — forces the stored histogram
      // buffer to merge with the second batch's partial
      input.addData(vals1.map(v => (t(1), v)): _*)
      q.processAllAvailable()
      input.addData(vals2.map(v => (t(4), v)): _*)
      q.processAllAvailable()
      input.addData((t(25), 1L)) // advance the watermark, close window
      q.processAllAvailable()
      val got = s.sql("SELECT p, est_lo, est_hi, n_values FROM stream_q " +
          "WHERE window_start = timestamp'2024-01-01 10:00:00'")
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      assert(got.forall(_._4 == 9L), s"window count must be exact: " +
        got.mkString(","))
      val batch = graft.operators.Sketches.histQuantiles(
          (vals1 ++ vals2).toDF("v"), "v", binWidth = 10L,
          ps = Seq(25, 50, 90))
        .collect()
        .map(r => (r.getAs[Int]("p"), r.getAs[Long]("est_lo"),
          r.getAs[Long]("est_hi")))
        .sortBy(_._1)
      assert(got.map(g => (g._1, g._2, g._3)).toSeq == batch.toSeq,
        s"streaming estimates must equal the batch sketch: " +
          s"got=${got.toSeq} batch=${batch.toSeq}")
    } finally q.stop()
  }
}
