package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The bzip2 decoder against GOLDEN VECTORS from real libbz2
  * (`tools/gen_bz2_vectors.py` → `.bz2` files under
  * `src/test/resources/bz2/`): every plaintext recipe below is
  * byte-identical to the generator's — change BOTH or neither.
  * Decoder-vs-reference-encoder means encoder/decoder bug cancellation
  * is impossible here, unlike a round-trip test. Levels 1 and 9
  * exercise 100 KiB and 900 KiB block sizes (the `blocks` recipe is
  * multi-block at level 1), incompressible input (rand: more Huffman
  * groups, denser selectors), few-symbol alphabets (sparse presence
  * map), and every RLE1 shape (runs of exactly 4, 4+251, >255). */
class Bzip2GoldenSpec extends AnyFunSuite {

  private def vector(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/bz2/$name.bz2")
    assert(in != null, s"missing golden vector $name.bz2")
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
    "rep" -> ("hello bzip2 world " * 400).getBytes,
    "seq" -> Array.tabulate(100000)(i => ((i * 7 + 3) % 251).toByte),
    "rand" -> xorshiftBytes(0x9e3779b97f4a7c15L, 5000),
    "text" -> (0 until 20000).map(i => s"w${(i * 31) % 97}")
      .mkString(" ").getBytes,
    "runs" -> (("a" * 4 + "x" + "b" * 255 + "c" * 1000 + "d" * 10000)
      .getBytes ++ ("abc" * 1000).getBytes),
    "mix" -> (0 until 6250).flatMap { i =>
      f"record-$i%08d|".getBytes.toSeq ++
        (0 until 52).map(j => ((j * 13 + i) % 256).toByte)
    }.toArray,
    "tiny" -> "a".getBytes,
    "empty" -> Array.empty[Byte],
    "onebyte" -> Array.fill(200000)('z'.toByte),
    "fewsym" -> xorshiftBytes(42L, 4000).map(b => "abcd"(b & 3).toByte),
    "blocks" -> (0 until 12000).flatMap { i =>
      f"$i%06d:".getBytes.toSeq ++ xorshiftBytes(i.toLong, 25)
    }.toArray)

  for ((name, data) <- plaintexts; lvl <- Seq(1, 9)) {
    test(s"golden $name level $lvl decodes byte-exactly " +
        s"(${data.length} bytes)") {
      val got = Bzip2Decode.decompress(vector(s"${name}_l$lvl"))
      assert(got.isDefined, s"decode failed for ${name}_l$lvl")
      assert(java.util.Arrays.equals(got.get, data),
        s"${name}_l$lvl decoded wrong bytes")
    }
  }

  test("block accounting: level-1 `blocks` (384 KB) is multi-block, " +
      "level-9 single-block; levels echo back; member walk agrees " +
      "with full decompression") {
    val m1 = Bzip2Decode.membersJvm(vector("blocks_l1"))
    val m9 = Bzip2Decode.membersJvm(vector("blocks_l9"))
    assert(m1.length == 1 && m9.length == 1)
    assert(m1.head.level == 1 && m9.head.level == 9)
    assert(m1.head.nBlocks == 4, s"got ${m1.head.nBlocks}") // 384000/100000
    assert(m9.head.nBlocks == 1)
    assert(m1.head.crcOk && m9.head.crcOk)
    assert(m1.head.compressedLen == vector("blocks_l1").length)
    assert(java.util.Arrays.equals(m1.head.content, m9.head.content))
  }

  test("multi-stream blobs (the Wikipedia multistream layout) walk " +
      "member-by-member and concatenate") {
    val blob = vector("multi")
    val ms = Bzip2Decode.membersJvm(blob)
    assert(ms.length == 2)
    assert(ms(0).level == 9 && ms(1).level == 1)
    assert(new String(ms(0).content) == "first stream " * 50)
    assert(new String(ms(1).content) == "second stream " * 30)
    assert(ms.map(_.compressedLen).sum == blob.length)
    val whole = Bzip2Decode.decompress(blob)
    assert(whole.isDefined && java.util.Arrays.equals(whole.get,
      ("first stream " * 50 + "second stream " * 30).getBytes))
    // hand-concatenated golden vectors walk the same way
    val two = vector("rep_l9") ++ vector("tiny_l1")
    val ms2 = Bzip2Decode.membersJvm(two)
    assert(ms2.length == 2 && new String(ms2(1).content) == "a")
  }

  test("empty-input stream: zero blocks, empty content, clean footer") {
    val ms = Bzip2Decode.membersJvm(vector("empty_l1"))
    assert(ms.length == 1 && ms.head.nBlocks == 0 &&
      ms.head.content.isEmpty && ms.head.crcOk)
  }

  test("truncation, garbage, and seeded byte-flips never throw; " +
      "corruptions fail loud (CRC), never yield wrong bytes silently") {
    val base = vector("mix_l9")
    val want = plaintexts.find(_._1 == "mix").get._2
    (1 until base.length by 131).foreach { cut =>
      assert(Bzip2Decode.decompress(base.take(cut)).isEmpty,
        s"truncation at $cut must fail")
    }
    assert(Bzip2Decode.decompress("garbage not bzip2".getBytes).isEmpty)
    assert(Bzip2Decode.decompress(Array.empty[Byte]).isEmpty)
    val rnd = new scala.util.Random(1234)
    var survived = 0
    (0 until 300).foreach { _ =>
      val m = base.clone()
      (0 to rnd.nextInt(3)).foreach { _ =>
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      }
      val got = try Bzip2Decode.decompress(m)
        catch {
          case t: Throwable =>
            fail(s"decoder threw ${t.getClass.getSimpleName} on mutation")
        }
      // every byte of a bzip2 stream is under a CRC (header bytes
      // change the framing instead) — a "successful" decode of a
      // mutated stream must still produce the right bytes (the flip
      // landed in the magic/level and reframed, or was CRC-colliding
      // — astronomically unlikely at 300 trials)
      got.foreach { g =>
        survived += 1
        assert(java.util.Arrays.equals(g, want),
          "mutated stream decoded to WRONG bytes — CRC hole")
      }
    }
    assert(survived <= 2, s"$survived mutations decoded — CRC not biting")
  }

  test("randomized blocks (deprecated bzip2 <= 0.9.0 flag) decode " +
      "under the block CRC") {
    // flip the randomized bit in a real stream: it's the bit right
    // after the 48-bit block magic + 32-bit CRC = bit 80 of the block,
    // which starts at byte 4 of the stream -> bit position 32+80 = 112.
    // The first byte de-randomization touches is the 619th, so the
    // one-byte block decodes unchanged and its CRC still verifies.
    val b = vector("tiny_l1").clone()
    b(112 / 8) = (b(112 / 8) ^ (1 << (7 - 112 % 8))).toByte
    val got = Bzip2Decode.decompress(b)
    assert(got.map(new String(_, "UTF-8")).contains("a"))
  }
}
