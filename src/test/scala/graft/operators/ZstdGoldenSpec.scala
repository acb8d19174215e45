package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The zstd decoder against GOLDEN VECTORS from real libzstd
  * (`tools/gen_zstd_vectors.py` → `.zst` files under
  * `src/test/resources/zstd/`):
  * every plaintext recipe below is byte-identical to the generator's —
  * change BOTH or neither. Levels 1/3/9/19 produce different block
  * shapes (raw, RLE, compressed literals 1- and 4-stream, treeless
  * repeats, predefined and FSE-described sequence tables, multi-block
  * streams); two hand-built RFC frames add the shapes libzstd never
  * emits. */
class ZstdGoldenSpec extends AnyFunSuite {

  private def vector(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/zstd/$name.zst")
    assert(in != null, s"missing golden vector $name.zst")
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
    "rep" -> ("hello zstd world " * 400).getBytes,
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
    "empty" -> Array.empty[Byte],
    "onebyte" -> Array.fill(200000)('z'.toByte),
    "fewsym" -> xorshiftBytes(42L, 4000).map(b => "abcd"(b & 3).toByte),
    "qlit" -> Array.fill(100)(
      "q" * 30 + "the same filler block here! ").flatMap(_.getBytes))

  for ((name, data) <- plaintexts; lvl <- Seq(1, 3, 9, 19)) {
    test(s"golden $name level $lvl decodes byte-exactly " +
        s"(${data.length} bytes)") {
      val got = ZstdDecode.decompress(vector(s"${name}_l$lvl"))
      assert(got.isDefined, s"decode failed for ${name}_l$lvl")
      assert(java.util.Arrays.equals(got.get, data),
        s"${name}_l$lvl decoded wrong bytes")
    }
  }

  test("RLE literals (hand-built RFC frame — libzstd never emits the " +
      "shape): a compressed block whose literals section is type 1 " +
      "with zero sequences regenerates the run") {
    // magic | desc 0x20 (single-segment, 1-byte FCS) | FCS=25 |
    // block hdr (last, Compressed, size 3) | lit hdr type=1 sf=0
    // regen=25 | the byte | nbSeq=0
    val f = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte,
      0x20, 25,
      ((3 << 3) | (2 << 1) | 1).toByte, 0, 0,
      (1 | (25 << 3)).toByte, 'r', 0)
    val got = ZstdDecode.decompress(f)
    assert(got.isDefined &&
      java.util.Arrays.equals(got.get, Array.fill(25)('r'.toByte)))
  }

  test("direct Huffman weights (hand-built RFC frame): 4-bit weights " +
      "a=2 b=1 c=1 (d implied w=3), canonical codes b=000 c=001 " +
      "a=01 d=1, one stream, zero sequences") {
    // weights index literal byte VALUES: symbols here are bytes 0-3
    // ("a"=0 … "d"=3). Lengths maxBits+1-w -> 0:2 1:3 2:3 3:1;
    // canonical table fills longest first in symbol order:
    // 1=000, 2=001, 0=01, 3=1
    val code = Map(0 -> (1, 2), 1 -> (0, 3), 2 -> (1, 3), 3 -> (1, 1))
    val text = Array[Byte](3, 0, 1, 2, 0, 3, 3, 2, 1, 0)
    // backwards bitstream: first symbol's code sits at the TOP (just
    // below the sentinel), MSB of each code highest
    val bits = scala.collection.mutable.ArrayBuffer[Int]()
    text.foreach { ch =>
      val (v, n) = code(ch.toInt)
      (n - 1 to 0 by -1).foreach(k => bits += ((v >> k) & 1))
    }
    val total = bits.length
    val nBytes = (total + 1 + 7) / 8
    val stream = new Array[Byte](nBytes)
    bits.zipWithIndex.foreach { case (bit, i) =>
      val p = total - 1 - i // descending from the top
      if (bit == 1)
        stream(p >> 3) = (stream(p >> 3) | (1 << (p & 7))).toByte
    }
    stream(total >> 3) = // sentinel
      (stream(total >> 3) | (1 << (total & 7))).toByte
    // tree description: direct, 3 weights -> header 127+3, nibbles 2,1,1
    val tree = Array[Byte]((127 + 3).toByte, 0x21, 0x10)
    val comp = tree.length + stream.length
    val regen = text.length
    // literals header type=2 sf=0 (1 stream, 10-bit sizes, 3 bytes)
    val h = 2 | (0 << 2) | (regen << 4) | (comp << 14)
    val lits = Array[Byte]((h & 0xff).toByte, ((h >> 8) & 0xff).toByte,
      ((h >> 16) & 0xff).toByte) ++ tree ++ stream
    val block = lits ++ Array[Byte](0) // nbSeq = 0
    val bh = (block.length << 3) | (2 << 1) | 1
    val f = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte,
      0x20, regen.toByte,
      (bh & 0xff).toByte, ((bh >> 8) & 0xff).toByte,
      ((bh >> 16) & 0xff).toByte) ++ block
    val got = ZstdDecode.decompress(f)
    assert(got.isDefined && java.util.Arrays.equals(got.get, text),
      s"got ${got.map(_.mkString(","))}")
  }

  test("content checksum: a real frame with the checksum flag set and " +
      "the XXH64-low32 appended decodes; a corrupted checksum or a " +
      "corrupted body fails loud") {
    val base = vector("rep_l3")
    val data = plaintexts.find(_._1 == "rep").get._2
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(data,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        data.length, 0L) & 0xffffffffL
    val withCk = new Array[Byte](base.length + 4)
    System.arraycopy(base, 0, withCk, 0, base.length)
    withCk(4) = (withCk(4) | 0x04).toByte // Content_Checksum_flag
    var i = 0
    while (i < 4) {
      withCk(base.length + i) = ((h >> (8 * i)) & 0xff).toByte
      i += 1
    }
    val got = ZstdDecode.decompress(withCk)
    assert(got.isDefined && java.util.Arrays.equals(got.get, data))
    val bad = withCk.clone()
    bad(bad.length - 1) = (bad(bad.length - 1) ^ 1).toByte
    assert(ZstdDecode.decompress(bad).isEmpty,
      "corrupt checksum must fail loud")
  }

  test("multi-frame streams concatenate; interleaved skippable frames " +
      "are skipped; truncation and garbage never throw") {
    val a = vector("rep_l1")
    val b = vector("text_l19")
    val wantA = plaintexts.find(_._1 == "rep").get._2
    val wantB = plaintexts.find(_._1 == "text").get._2
    val skip = Array[Byte](0x5a, 0x2a, 0x4d, 0x18, 3, 0, 0, 0, 9, 9, 9)
    val stream = a ++ skip ++ b
    val got = ZstdDecode.decompress(stream)
    assert(got.isDefined &&
      java.util.Arrays.equals(got.get, wantA ++ wantB))
    // truncations return None, never throw
    (1 until stream.length by 37).foreach { cut =>
      assert(ZstdDecode.decompress(stream.take(cut)).isEmpty ||
        cut >= a.length, s"truncation at $cut")
    }
    assert(ZstdDecode.decompress("garbage not zstd".getBytes).isEmpty)
    // seeded byte-flips: total behavior, no exceptions (content-size
    // and table-consistency checks catch most corruptions; a flip in
    // unprotected literal bytes may legitimately still decode)
    val rnd = new scala.util.Random(1234)
    val target = vector("mix_l3")
    (0 until 300).foreach { _ =>
      val m = target.clone()
      (0 to rnd.nextInt(3)).foreach { _ =>
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      }
      try ZstdDecode.decompress(m)
      catch {
        case t: Throwable =>
          fail(s"decoder threw ${t.getClass.getSimpleName} on mutation")
      }
    }
  }

  test("dictionary frames are declined (external content by " +
      "definition), not misdecoded") {
    val base = vector("rep_l3")
    // splice a 2-byte dictionary id into the header: set DID flag 2
    val withDid = new Array[Byte](base.length + 2)
    withDid(0) = base(0); withDid(1) = base(1); withDid(2) = base(2)
    withDid(3) = base(3)
    withDid(4) = (base(4) | 0x02).toByte
    withDid(5) = 0x42; withDid(6) = 0x42
    System.arraycopy(base, 5, withDid, 7, base.length - 5)
    assert(ZstdDecode.decompress(withDid).isEmpty)
  }
}
