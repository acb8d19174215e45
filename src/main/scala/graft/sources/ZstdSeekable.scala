package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The zstd SEEKABLE format (round 14) — facebook/zstd's published
  * `seekable_format` spec: a stream of independent frames followed by
  * a seek-table SKIPPABLE frame (magic `0x184D2A5E`) whose footer
  * (`Number_Of_Frames` LE32, descriptor byte, seekable magic
  * `0x8F92EAB1`) and per-frame `(compressed, decompressed[, crc])`
  * entries give random access WITHOUT walking the stream.
  *
  * This is the split story for huge `.warc.zst` archives: one 100 GB
  * crawl file fans out into one task per frame group — the
  * `source_avro_split` discipline on the zstd container. The driver
  * reads ONLY the bounded tail (9-byte footer + the table); each task
  * does one positioned range read of its frames. When the stream
  * leads with an IIPC dictionary skippable frame (`0x184D2A5D`, the
  * Common Crawl layout), the driver reads that small frame once and
  * PREPENDS it to every emitted data-frame blob, so the existing
  * dict-aware record walk decodes each split independently.
  *
  * [[assemble]] is the writer half: frames in, seekable stream out
  * (framing only — the frames themselves come from any encoder). */
object ZstdSeekable {

  private val SeekTableMagic = 0x184d2a5eL
  private val DictFrameMagic = 0x184d2a5dL
  private val SeekableMagic = 0x8f92eab1L

  /** One seek-table row: data-frame byte range + declared output. */
  final case class Entry(idx: Int, offset: Long, csize: Long,
    dsize: Long)

  private def u32le(v: Long): Array[Byte] = Array(
    (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  /** Frames (+ per-frame decompressed sizes; 0 for skippable frames)
    * → one seekable stream: the frames verbatim, then the seek-table
    * skippable frame (no per-frame checksums). */
  def assemble(frames: Seq[Array[Byte]], dsizes: Seq[Long])
      : Array[Byte] = {
    require(frames.size == dsizes.size,
      "one decompressed size per frame")
    val out = new java.io.ByteArrayOutputStream()
    frames.foreach(out.write)
    out.write(u32le(SeekTableMagic))
    out.write(u32le(frames.size * 8L + 9L))
    frames.zip(dsizes).foreach { case (f, d) =>
      out.write(u32le(f.length.toLong))
      out.write(u32le(d))
    }
    out.write(u32le(frames.size.toLong))
    out.write(0x00) // descriptor: no checksums
    out.write(u32le(SeekableMagic))
    out.toByteArray
  }

  /** One RFC 8878 frame with RAW blocks only — VALID zstd with zero
    * entropy coding (the stored-deflate discipline; any zstd tool
    * decodes it): single-segment header carrying the exact content
    * size, ≤ 64 KiB raw blocks, XXH64-low32 content checksum. The
    * export sink's frame shape — compression can be layered later by
    * swapping this encoder without touching the container. */
  def rawFrame(content: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(content.length + 32)
    out.write(u32le(0xfd2fb528L))
    val n = content.length
    val fcsFlag = if (n <= 255) 0 else if (n <= 65535 + 256) 1 else 2
    // descriptor: FCS flag | single-segment (0x20) | checksum (0x04)
    out.write((fcsFlag << 6) | 0x20 | 0x04)
    fcsFlag match {
      case 0 => out.write(n & 0xff)
      case 1 =>
        val v = n - 256
        out.write(v & 0xff); out.write((v >> 8) & 0xff)
      case _ => out.write(u32le(n.toLong))
    }
    val blockMax = 1 << 16
    var p = 0
    do {
      val take = math.min(blockMax, n - p)
      val last = if (p + take >= n) 1 else 0
      val hdr = (take.toLong << 3) | last // type 0 = raw
      out.write((hdr & 0xff).toInt)
      out.write(((hdr >> 8) & 0xff).toInt)
      out.write(((hdr >> 16) & 0xff).toInt)
      out.write(content, p, take)
      p += take
    } while (p < n)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(content,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        content.length, 0L)
    out.write(u32le(h & 0xffffffffL))
    out.toByteArray
  }

  /** Export (id, text) rows as per-partition SEEKABLE `.warc.zst`
    * shards — the Common-Crawl-shaped corpus export: one WARC resource
    * record per row, one zstd frame per record, one seek-tabled shard
    * file per non-empty partition (executor-side streaming — rows
    * never materialize on the driver). Frames are genuinely COMPRESSED
    * by default ([[graft.operators.ZstdEncode]], libzstd); `compress = false`
    * keeps the stored-frame shape ([[rawFrame]]). Any zstd/WARC tool
    * reads the shards either way; [[readFrames]] splits them per frame
    * group. */
  /** The WARC-header boilerplate as a raw-content dictionary: every
    * record repeats it, but each record is its own frame — only a
    * shared prefix window captures the cross-record redundancy (the
    * reason Common Crawl ships dictionary-compressed `.warc.zst`). */
  val WarcDict: Array[Byte] =
    ("WARC/1.0\r\nWARC-Type: resource\r\nContent-Length: " +
      "\r\n\r\nWARC/1.0\r\nWARC-Type: resource\r\n" +
      "WARC-Target-URI: http://corpus.local/doc/")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** The IIPC in-band dictionary frame: skippable magic `0x184D2A5D`
    * + LE32 length + the raw dictionary payload. */
  def dictFrame(payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(payload.length + 8)
    out.write(u32le(DictFrameMagic))
    out.write(u32le(payload.length.toLong))
    out.write(payload, 0, payload.length)
    out.toByteArray
  }

  /** @param recType WARC record type per record: `resource` (the
    *                 default raw-corpus shape) or `conversion` — the
    *                 WET layout Common Crawl distributes for text-only
    *                 consumers (stripped page text re-archived). */
  def writeWarcZstShards(df: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text",
      uriPrefix: String = "http://corpus.local/doc/",
      compress: Boolean = true,
      dict: Array[Byte] = null,
      recType: String = "resource"): Unit = {
    require(dict == null || compress,
      "dictionary compression requires compress = true")
    val rows = df.select(df(idCol).cast("long"),
      df(textCol).cast("string"))
    rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
      if (it.hasNext) {
        val frames = Vector.newBuilder[Array[Byte]]
        val dsizes = Vector.newBuilder[Long]
        val prefix = if (dict == null) Array.emptyByteArray else dict
        if (dict != null) { // leading in-band dictionary frame
          frames += dictFrame(dict)
          dsizes += 0L
        }
        it.foreach { r =>
          val id = r.getLong(0)
          val body = Option(r.getString(1)).getOrElse("")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val hdr = (s"WARC/1.0\r\nWARC-Type: $recType\r\n" +
            s"WARC-Target-URI: $uriPrefix$id\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val rec = new Array[Byte](hdr.length + body.length + 4)
          System.arraycopy(hdr, 0, rec, 0, hdr.length)
          System.arraycopy(body, 0, rec, hdr.length, body.length)
          rec(rec.length - 4) = '\r'; rec(rec.length - 3) = '\n'
          rec(rec.length - 2) = '\r'; rec(rec.length - 1) = '\n'
          frames += (if (compress) graft.operators.ZstdEncode
            .compress(rec, prefix) else rawFrame(rec))
          dsizes += rec.length.toLong
        }
        val blob = assemble(frames.result(), dsizes.result())
        val part = org.apache.spark.TaskContext.get().partitionId()
        val p = new Path(path,
          f"part-$part%05d-${java.util.UUID.randomUUID()}.warczst")
        val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
        val out = fs.create(p, true)
        try out.write(blob) finally out.close()
      }
    }
  }

  /** All shards of a [[writeWarcZstShards]] directory, one DataFrame
    * (union of per-shard [[readFrames]]). */
  def readShardFrames(spark: SparkSession, dir: String,
      framesPerSplit: Int = 16): DataFrame = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(d).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".warczst")).map(_.toString).sorted
    require(files.nonEmpty, s"no .warczst shards under $dir")
    files.map(readFrames(spark, _, framesPerSplit)).reduce(_.union(_))
  }

  /** Parse the seek table from the file tail: (all entries with
    * cumulative offsets, file length). Bounded tail reads only. */
  def seekEntries(spark: SparkSession,
      path: String): (Seq[Entry], Long) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(p).getLen
    require(len >= 17, s"$path too short for a seekable stream")
    val in = fs.open(p)
    try {
      val footer = new Array[Byte](9)
      in.readFully(len - 9, footer)
      def u32(b: Array[Byte], o: Int): Long =
        (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
          ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      require(u32(footer, 5) == SeekableMagic,
        s"$path: no seekable footer magic")
      val n = u32(footer, 0)
      val desc = footer(4) & 0xff
      require((desc & 0x7c) == 0, s"$path: reserved descriptor bits")
      val entrySize = if ((desc & 0x80) != 0) 12 else 8
      val tableBytes = n * entrySize
      val tableStart = len - 9 - tableBytes
      require(tableStart >= 8, s"$path: seek table larger than file")
      val hdr = new Array[Byte](8)
      in.readFully(tableStart - 8, hdr)
      require(u32(hdr, 0) == SeekTableMagic &&
        u32(hdr, 4) == tableBytes + 9,
        s"$path: seek-table skippable frame header mismatch")
      val table = new Array[Byte](tableBytes.toInt)
      in.readFully(tableStart, table)
      var off = 0L
      val entries = (0 until n.toInt).map { i =>
        val c = u32(table, i * entrySize)
        val d = u32(table, i * entrySize + 4)
        val e = Entry(i, off, c, d)
        off += c
        e
      }
      require(off == tableStart - 8,
        s"$path: frame sizes (${off}) don't reach the seek table " +
          s"(${tableStart - 8})")
      (entries, len)
    } finally in.close()
  }

  private val frameSchema = StructType(Seq(
    StructField("frame_idx", LongType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("compressed_len", LongType, nullable = false),
    StructField("dsize", LongType, nullable = false),
    StructField("blob", BinaryType, nullable = false)))

  /** Distributed per-frame read: one row per DATA frame (skippable
    * frames are consumed structurally), `framesPerSplit` frames per
    * task, each task one positioned range read. A leading dictionary
    * skippable frame is read once on the driver and prepended to every
    * blob, so each row decodes independently through the dict-aware
    * walk. Partition count = ceil(nDataFrames / framesPerSplit) —
    * spec-pinned. */
  def readFrames(spark: SparkSession, path: String,
      framesPerSplit: Int = 16): DataFrame = {
    require(framesPerSplit > 0, "framesPerSplit must be positive")
    val (entries, _) = seekEntries(spark, path)
    // harvest a LEADING dict skippable frame (dsize 0, dict magic)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dictBytes: Array[Byte] = entries.headOption match {
      case Some(e0) if e0.dsize == 0 && e0.csize >= 8 =>
        val head = new Array[Byte](e0.csize.toInt)
        val in = fs.open(p)
        try in.readFully(e0.offset, head) finally in.close()
        def u32(o: Int): Long =
          (head(o) & 0xffL) | ((head(o + 1) & 0xffL) << 8) |
            ((head(o + 2) & 0xffL) << 16) | ((head(o + 3) & 0xffL) << 24)
        if (u32(0) == DictFrameMagic) head else Array.empty[Byte]
      case _ => Array.empty[Byte]
    }
    val data = entries.filter(_.dsize > 0)
    val groups = data.grouped(framesPerSplit).toSeq
    val bcDict = spark.sparkContext.broadcast(dictBytes)
    val rows = spark.sparkContext
      .parallelize(groups, math.max(groups.size, 1))
      .flatMap { group =>
        // executor-side default Hadoop conf (Configuration is not
        // serializable; the default resolves local and HDFS schemes)
        val fp = new Path(path)
        val gfs = fp.getFileSystem(
          new org.apache.hadoop.conf.Configuration())
        val in = gfs.open(fp)
        val dict = bcDict.value
        try group.map { e =>
          val buf = new Array[Byte](dict.length + e.csize.toInt)
          System.arraycopy(dict, 0, buf, 0, dict.length)
          in.readFully(e.offset, buf, dict.length, e.csize.toInt)
          Row(e.idx.toLong, e.offset, e.csize, e.dsize, buf)
        } finally in.close()
      }
    spark.createDataFrame(rows, frameSchema)
  }

  /** Bounded-tail probe: does `path` end in a seekable-format seek
    * table? One 9-byte positioned read — the per-file planning cost of
    * [[readArchives]], never a content read. */
  def hasSeekTable(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(p).getLen
    if (len < 17) return false
    val in = fs.open(p)
    try {
      val footer = new Array[Byte](9)
      in.readFully(len - 9, footer)
      ((footer(5) & 0xffL) | ((footer(6) & 0xffL) << 8) |
        ((footer(7) & 0xffL) << 16) |
        ((footer(8) & 0xffL) << 24)) == SeekableMagic
    } finally in.close()
  }

  /** PLANNED split read over a set of `.warc.zst` archive files — the
    * streaming-ingest shape (round 16, replacing the whole-blob
    * binaryFile source): the driver touches only METADATA (a 9-byte
    * tail probe + the seek table per file); content moves on
    * executors. A seekable archive fans out into ceil(frames /
    * framesPerSplit) tasks of positioned range reads ([[readFrames]]
    * — exactly the batch reader), so a 100 GB crawl segment decodes
    * across the cluster instead of one core, with per-task memory
    * bounded by the frame group, not the file. A NON-seekable file
    * (a bare single-frame `.warc.zst`) cannot be split by
    * construction — it is read whole in ONE executor task (never
    * materialized on the driver), guarded by the JVM array ceiling
    * with a loud error naming the fix (re-shard seekable).
    * Output schema = [[readFrames]]'s; each row's `blob` decodes
    * independently through the dict-aware record walk. */
  def readArchives(spark: SparkSession, paths: Seq[String],
      framesPerSplit: Int = 16): DataFrame = {
    require(framesPerSplit > 0, "framesPerSplit must be positive")
    if (paths.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], frameSchema)
    val (seekable, whole) =
      paths.partition(p => hasSeekTable(spark, p))
    val seekableDfs = seekable.map(readFrames(spark, _, framesPerSplit))
    val wholeDf: Option[DataFrame] = if (whole.isEmpty) None else {
      val rows = spark.sparkContext
        .parallelize(whole, whole.size)
        .map { pathStr =>
          val fp = new Path(pathStr)
          val gfs = fp.getFileSystem(
            new org.apache.hadoop.conf.Configuration())
          val len = gfs.getFileStatus(fp).getLen
          require(len <= Int.MaxValue - 16,
            s"$pathStr: ${len} B non-seekable archive exceeds the " +
              "single-task byte-array ceiling; re-shard it as " +
              "seekable zstd (writeWarcZstShards) to enable the " +
              "split read")
          val buf = new Array[Byte](len.toInt)
          val in = gfs.open(fp)
          try in.readFully(0L, buf) finally in.close()
          Row(0L, 0L, len, -1L, buf)
        }
      Some(spark.createDataFrame(rows, frameSchema))
    }
    (seekableDfs ++ wholeDf).reduce(_.union(_))
  }
}
