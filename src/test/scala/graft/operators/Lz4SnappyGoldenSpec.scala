package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** LZ4 frame + Snappy raw decoders against golden vectors from the
  * real reference encoders (`tools/gen_lz4_snappy_vectors.py` →
  * resources under `lz4/` and `snappy/`). Plaintext recipes are
  * byte-identical twins of the generator's — change BOTH or neither.
  * The `mix` vector spans multiple 64 KiB LZ4 blocks in DEPENDENT
  * mode (matches reaching into previous blocks), the hardest frame
  * shape. */
class Lz4SnappyGoldenSpec extends AnyFunSuite {

  private def vector(path: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(path)
    assert(in != null, s"missing golden vector $path")
    try in.readAllBytes() finally in.close()
  }

  private def xorshiftBytes(seed: Long, n: Int): Array[Byte] = {
    var x = seed
    Array.fill(n) {
      x ^= x << 13
      x ^= x >>> 7
      x ^= x << 17
      (x & 0xff).toByte
    }
  }

  private val plaintexts: Seq[(String, Array[Byte])] = Seq(
    "rep" -> ("lz4 and snappy golden " * 300).getBytes,
    "seq" -> Array.tabulate(100000)(i => ((i * 7 + 3) % 251).toByte),
    "rand" -> xorshiftBytes(0x9e3779b97f4a7c15L, 5000),
    "text" -> (0 until 20000).map(i => s"w${(i * 31) % 97}")
      .mkString(" ").getBytes,
    "runs" -> ("a" * 10000 + "b" * 5000 + "abc" * 1000).getBytes,
    "mix" -> (0 until 6250).flatMap { i =>
      f"record-$i%08d|".getBytes.toSeq ++
        (0 until 52).map(j => ((j * 13 + i) % 256).toByte)
    }.toArray,
    "tiny" -> "a".getBytes,
    "empty" -> Array.empty[Byte])

  test("XXH32 spec vectors: empty input and the golden frames' own " +
      "header-checksum bytes pin the hash") {
    assert(Lz4Snappy.xxHash32.hash(Array.empty[Byte], 0, 0, 0) ==
      0x02cc5d05)
    // every golden frame's HC byte = bits 15-8 of XXH32(FLG..dictID):
    // verified implicitly by lz4FramesJvm flagging checksum_ok=true,
    // pinned explicitly here on one frame
    val f = vector("/lz4/rep.lz4")
    assert(((Lz4Snappy.xxHash32.hash(f, 4, 2, 0) >> 8) & 0xff) ==
      (f(6) & 0xff))
  }

  for ((name, data) <- plaintexts) {
    test(s"golden lz4 $name decodes byte-exactly (${data.length} b)") {
      val got = Lz4Snappy.lz4Decompress(vector(s"/lz4/$name.lz4"))
      assert(got.isDefined, s"lz4 decode failed for $name")
      assert(java.util.Arrays.equals(got.get, data))
    }
    test(s"golden snappy $name decodes byte-exactly (${data.length} b)") {
      val got = Lz4Snappy.snappyDecompress(vector(s"/snappy/$name.snappy"))
      assert(got.isDefined, s"snappy decode failed for $name")
      assert(java.util.Arrays.equals(got.get, data))
    }
  }

  test("lz4 frame walk: flags, block counts, frame lengths, and " +
      "skippable interleave; corrupted header checksum flags " +
      "checksum_ok=false without killing the listing") {
    val f = vector("/lz4/mix.lz4")
    val skip = Array[Byte](0x52, 0x2a, 0x4d, 0x18, 2, 0, 0, 0, 7, 7)
    val rows = Lz4Snappy.lz4FramesJvm(skip ++ f)
    assert(rows.size == 2)
    assert(rows(0)._1 == "skippable" && rows(0)._4 == 2L &&
      rows(0)._6 == 10L)
    val r = rows(1)
    assert(r._1 == "lz4" && r._5 > 1L, "mix must span multiple blocks")
    assert(r._6 == f.length.toLong)
    assert(r._8 == java.lang.Boolean.TRUE, "HC must verify")
    assert(r._7 == null, "425 KB content exceeds the 64 KiB column cap")
    // flip the HC byte: flagged, framing intact
    val bad = f.clone(); bad(6) = (bad(6) ^ 1).toByte
    val flagged = Lz4Snappy.lz4FramesJvm(bad)
    assert(flagged.size == 1 && flagged.head._8 == java.lang.Boolean.FALSE)
    // and lz4Decompress REQUIRES checksums to verify
    assert(Lz4Snappy.lz4Decompress(bad).isEmpty)
  }

  test("structural failures return empty/None and never throw: " +
      "truncation, reserved bits, garbage, dictionary frames; seeded " +
      "mutation fuzz is total") {
    val f = vector("/lz4/rep.lz4")
    assert(Lz4Snappy.lz4FramesJvm(f.take(f.length - 3)).isEmpty)
    assert(Lz4Snappy.lz4FramesJvm("no lz4 here".getBytes).isEmpty)
    val rsvd = f.clone(); rsvd(4) = (rsvd(4) | 0x02).toByte
    assert(Lz4Snappy.lz4FramesJvm(rsvd).isEmpty, "reserved FLG bit")
    val dict = f.clone(); dict(4) = (dict(4) | 0x01).toByte
    assert(Lz4Snappy.lz4FramesJvm(dict).isEmpty,
      "dictionary frames declined")
    val rnd = new scala.util.Random(99)
    val targets = Seq(vector("/lz4/mix.lz4") -> "lz4",
      vector("/snappy/mix.snappy") -> "snappy")
    targets.foreach { case (base, tag) =>
      (0 until 300).foreach { _ =>
        val m = base.clone()
        (0 to rnd.nextInt(3)).foreach { _ =>
          m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        }
        try {
          if (tag == "lz4") Lz4Snappy.lz4Decompress(m)
          else Lz4Snappy.snappyDecompress(m)
        } catch {
          case t: Throwable =>
            fail(s"$tag decoder threw ${t.getClass.getSimpleName}")
        }
      }
    }
    // snappy: truncated stream and lying length prefix fail
    val s = vector("/snappy/rep.snappy")
    assert(Lz4Snappy.snappyDecompress(s.take(s.length / 2)).isEmpty)
    assert(Lz4Snappy.snappyDecompress(Array[Byte](5, 0)).isEmpty,
      "length prefix the elements don't regenerate")
  }

  test("a snappy block followed by trailing bytes is declined: every " +
      "input byte must belong to the declared length") {
    val s = vector("/snappy/rep.snappy")
    assert(Lz4Snappy.snappyDecompress(s).isDefined)
    assert(Lz4Snappy.snappyDecompress(s ++ Array[Byte](0, 1, 2)).isEmpty)
  }
}
