package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The LZ4 frame encoder ([[Lz4Snappy.lz4Compress]], round 15).
  * Every output round-trips through [[Lz4Snappy.lz4Decompress]] —
  * itself golden-pinned against real reference frames — and the
  * frame-walk metadata (checksums VERIFIED, declared content size)
  * is asserted per frame. The `lz4` CLI decoded the dev matrix
  * byte-exactly (lz4 v1.9.x, `lz4 -d` + compare), so the frame
  * layout answers to the reference implementation too. */
class Lz4EncodeSpec extends AnyFunSuite {

  private def roundTrip(data: Array[Byte]): Array[Byte] = {
    val enc = Lz4Snappy.lz4Compress(data)
    val dec = Lz4Snappy.lz4Decompress(enc)
    assert(dec.isDefined, "frame must decode")
    assert(java.util.Arrays.equals(dec.get, data), "content identity")
    // the walk agrees: one lz4 frame, checksums verified, exact size
    val frames = Lz4Snappy.lz4FramesJvm(enc)
    assert(frames.length == 1)
    assert(frames.head._1 == "lz4")
    assert(frames.head._2, "independent blocks declared")
    assert(frames.head._3, "content checksum declared")
    assert(frames.head._4 == data.length.toLong, "declared content size")
    assert(frames.head._8 == java.lang.Boolean.TRUE, "checksums verify")
    enc
  }

  test("round-trip matrix: empty / tiny / runs / periodic / text / " +
      "random / multi-block") {
    val rnd = new scala.util.Random(15)
    roundTrip(Array.emptyByteArray)
    roundTrip(Array[Byte](7))
    roundTrip("hello lz4 world".getBytes("UTF-8"))
    roundTrip(Array.fill[Byte](10000)('a'.toByte))
    roundTrip(Array.tabulate(50000)(i => ((i % 24) + 60).toByte))
    roundTrip(("the quick brown fox jumps over the lazy dog. " * 500)
      .getBytes("UTF-8"))
    roundTrip(Array.fill[Byte](30000)(rnd.nextInt(256).toByte))
    // > 64 KiB forces multiple blocks
    val big = ("block content " * 40000).getBytes("UTF-8")
    assert(big.length > (1 << 18))
    val frames = Lz4Snappy.lz4FramesJvm(roundTrip(big))
    assert(frames.head._5 > 1L, "multi-block frame")
  }

  test("compression is real and never inflates past block headers") {
    val rep = ("abcdefgh" * 4000).getBytes("UTF-8")
    val enc = Lz4Snappy.lz4Compress(rep)
    assert(enc.length < rep.length / 20,
      s"repetitive must crush: ${enc.length} of ${rep.length}")
    val rnd = new scala.util.Random(7)
    val noise = Array.fill[Byte](100000)(rnd.nextInt(256).toByte)
    val encN = Lz4Snappy.lz4Compress(noise)
    // overhead: 15 header + 8 trailer bytes + 4 per 64 KiB stored block
    assert(encN.length <= noise.length + 23 + 4 * 2)
  }

  test("format end rules: last 5 bytes literal, last match starts " +
      "12+ bytes before block end (overlap-heavy inputs)") {
    // all-same input tempts a match running to the end — the decoder
    // (and the CLI) reject blocks violating the end rules, so a clean
    // round-trip IS the assertion
    for (n <- Seq(13, 14, 16, 17, 20, 64, 65535, 65536, 65537)) {
      roundTrip(Array.fill[Byte](n)('z'.toByte))
      roundTrip(Array.tabulate(n)(i => (i % 3).toByte))
    }
  }

  test("scalar expression pair: compress -> decompress is identity " +
      "inside one codegen'd projection") {
    val conf = new org.apache.spark.sql.SparkSession.Builder()
      .master("local[2]").config("spark.ui.enabled", "false")
      .getOrCreate()
    import conf.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("short", "the quick brown fox " * 100, "")
      .toDF("text")
    val got = df.select(
      decode(graft.plans.MediaExprs.lz4DecompressCol(
        graft.plans.MediaExprs.lz4CompressCol(
          encode(col("text"), "UTF-8"))), "UTF-8").as("rt"))
      .collect().map(_.getString(0))
    assert(got.toSeq == Seq("short", "the quick brown fox " * 100, ""))
  }

  test("Arrow writer lz4 codec: bodies framed as LZ4 frames, the " +
      "reader round-trips") {
    val spark = graft.SparkTestBase.spark
    import spark.implicits._
    val texts = Vector.tabulate(500)(i => s"text-${i % 7} " * 8)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "s").coalesce(1)
    def shard(codec: String): Array[Byte] = {
      val dir = graft.TestPaths.dir("graft_arrow_lz4")
      graft.sources.ArrowShards.writeArrowShards(df, dir.toString,
        codec = codec)
      val f = dir.toFile.listFiles.filter(_.getName.endsWith(".arrows"))
      java.nio.file.Files.readAllBytes(f.head.toPath)
    }
    val plain = shard(null)
    val comp = shard("lz4")
    // the LZ4 frame magic 0x184D2204, little-endian
    assert(comp.sliding(4).exists(_.sameElements(
      Array[Byte](0x04, 0x22, 0x4d, 0x18))), "LZ4 frames in the body")
    val batches = ArrowIpc.batchesJvm(comp)
    assert(batches.map(_.nRows).sum == 500)
    assert(batches.flatMap(_.cols(1).values) == texts)
    assert(comp.length < plain.length / 2, "lz4 bodies must shrink")
  }
}
