package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The XZ/LZMA decoder against GOLDEN VECTORS from real liblzma
  * (`tools/gen_xz_vectors.py` → files under `src/test/resources/xz/`):
  * every plaintext recipe below is byte-identical to the generator's —
  * change BOTH or neither. Decoder-vs-reference-encoder means
  * encoder/decoder bug cancellation is impossible here. Presets 0/6
  * and 9|EXTREME exercise different match finders and dict sizes;
  * separate vectors cover all four check types, a delta+LZMA2 filter
  * chain, the BCJ filters, a two-block stream (liblzma-verified
  * splice) and a two-stream blob with stream padding. */
class XzGoldenSpec extends AnyFunSuite {

  private def vector(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/xz/$name")
    assert(in != null, s"missing golden vector $name")
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
    "rep" -> ("hello xz world " * 400).getBytes,
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

  private def plain(name: String) = plaintexts.find(_._1 == name).get._2

  for ((name, data) <- plaintexts; tag <- Seq("p0", "p6", "p9e")) {
    test(s"golden $name preset $tag decodes byte-exactly " +
        s"(${data.length} bytes)") {
      val got = XzDecode.decompress(vector(s"${name}_$tag.xz"))
      assert(got.isDefined, s"decode failed for ${name}_$tag")
      assert(java.util.Arrays.equals(got.get, data),
        s"${name}_$tag decoded wrong bytes")
    }
  }

  test("all four check types verify: CRC64 (default, covered above), " +
      "CRC32, SHA-256, and none — and the member walk reports them") {
    for ((tag, want) <- Seq("crc32" -> "crc32", "none" -> "none",
        "sha256" -> "sha256")) {
      val ms = XzDecode.membersJvm(vector(s"mix_$tag.xz"))
      assert(ms.length == 1, tag)
      assert(ms.head.check == want && ms.head.checksOk, tag)
      assert(java.util.Arrays.equals(ms.head.content, plain("mix")), tag)
    }
    assert(XzDecode.membersJvm(vector("mix_p6.xz")).head.check == "crc64")
  }

  test("delta+LZMA2 filter chain decodes (the chain plumbing, not " +
      "the ratio)") {
    val got = XzDecode.decompress(vector("mix_delta.xz"))
    assert(got.isDefined && java.util.Arrays.equals(got.get,
      plain("mix")))
  }

  test("two-BLOCK stream (liblzma-verified splice): both blocks " +
      "decode, the index's per-block records are verified, " +
      "n_blocks = 2") {
    val ms = XzDecode.membersJvm(vector("twoblocks.xz"))
    assert(ms.length == 1 && ms.head.nBlocks == 2)
    assert(java.util.Arrays.equals(ms.head.content,
      plain("rep") ++ plain("runs")))
  }

  test("two-STREAM blob with 4-byte stream padding walks member-by-" +
      "member; small-dict single-block variant decodes") {
    val ms = XzDecode.membersJvm(vector("multi.xz"))
    assert(ms.length == 2)
    assert(new String(ms(0).content) == "first stream " * 50)
    assert(new String(ms(1).content) == "second stream " * 30)
    val whole = XzDecode.decompress(vector("multi.xz"))
    assert(whole.isDefined && java.util.Arrays.equals(whole.get,
      ("first stream " * 50 + "second stream " * 30).getBytes))
    val sd = XzDecode.decompress(vector("seq_smalldict.xz"))
    assert(sd.isDefined && java.util.Arrays.equals(sd.get, plain("seq")))
  }

  /** Byte-identical twin of the generator's `x86ish`. */
  private def x86ish(n: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var x = 12345L
    while (out.size < n) {
      x = (x * 1103515245L + 12345L) & 0x7fffffffL
      val r = x % 7
      if (r == 0) {
        out.write(0xe8)
        out.write((x & 0xff).toInt); out.write(((x >> 8) & 0xff).toInt)
        out.write(((x >> 16) & 0xff).toInt); out.write(0x00)
      } else if (r == 1) {
        out.write(0xe9)
        out.write((x & 0xff).toInt); out.write(((x >> 8) & 0xff).toInt)
        out.write(0xff); out.write(0xff)
      } else {
        out.write(((x >> 3) & 0xff).toInt)
        out.write(((x >> 11) & 0xff).toInt)
      }
    }
    java.util.Arrays.copyOf(out.toByteArray, n)
  }

  test("BCJ x86 filter chains decode byte-exactly against liblzma: " +
      "default start offset, start_offset=16, and a delta+x86+lzma2 " +
      "chain applied in reverse encode order") {
    val code = x86ish(50000)
    for (name <- Seq("x86", "x86_off", "x86_delta")) {
      val got = XzDecode.decompress(vector(s"code_$name.xz"))
      assert(got.isDefined, s"code_$name.xz failed to decode")
      assert(java.util.Arrays.equals(got.get, code),
        s"code_$name.xz decoded wrong bytes")
    }
  }

  /** Byte-identical twin of the generator's `archish`. */
  private def archish(arch: String, n: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var x = 99L
    def nxt(): Long = {
      x = (x * 1103515245L + 12345L) & 0x7fffffffL
      x
    }
    def w(bs: Int*): Unit = bs.foreach(b => out.write(b & 0xff))
    while (out.size < n) {
      val r = nxt().toInt
      val hit = r % 3 == 0
      arch match {
        case "arm" =>
          if (hit) w(r & 0xff, (r >> 8) & 0xff, (r >> 16) & 0x3f, 0xeb)
          else w(r & 0xff, (r >> 8) & 0xff, (r >> 16) & 0xff,
            (r >> 24) & 0xff)
        case "armthumb" =>
          if (hit) w(r & 0xff, 0xf0 | ((r >> 8) & 7), (r >> 16) & 0xff,
            0xf8 | ((r >> 20) & 7))
          else w(r & 0xff, (r >> 8) & 0x3f, (r >> 16) & 0xff,
            (r >> 24) & 0x3f)
        case "ppc" =>
          if (hit) w(0x48 | ((r >> 20) & 3), (r >> 12) & 0xff,
            (r >> 4) & 0xff, (r & 0xfc) | 1)
          else w((r >> 24) & 0x3f, (r >> 16) & 0xff, (r >> 8) & 0xff,
            r & 0xfc)
        case _ => // sparc
          if (hit) w(0x40, (r >> 16) & 0x3f, (r >> 8) & 0xff, r & 0xff)
          else w(((r >> 24) & 0x3f) | 0x10, (r >> 16) & 0xff,
            (r >> 8) & 0xff, r & 0xff)
      }
    }
    java.util.Arrays.copyOf(out.toByteArray, n)
  }

  test("BCJ ARM / ARM-Thumb / PowerPC / SPARC filters decode " +
      "byte-exactly against liblzma over branch-dense payloads") {
    for (arch <- Seq("arm", "armthumb", "ppc", "sparc")) {
      val code = archish(arch, 40000)
      val got = XzDecode.decompress(vector(s"code_$arch.xz"))
      assert(got.isDefined, s"code_$arch.xz failed to decode")
      assert(java.util.Arrays.equals(got.get, code),
        s"code_$arch.xz decoded wrong bytes")
    }
  }

  /** Byte-identical twin of the generator's `ia64ish` (round 15). */
  private def ia64ish(n: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var x = 99L
    def nxt(): Long = {
      x = (x * 1103515245L + 12345L) & 0x7fffffffL
      x
    }
    val templates = Array(0x16, 0x17, 0x10, 0x11, 0x12, 0x00)
    while (out.size < n) {
      val r = nxt()
      val template = templates((r % 6).toInt)
      val b = new Array[Byte](16)
      b(0) = (template | ((r & 0x7) << 5)).toByte
      var j = 1
      while (j < 16) {
        b(j) = ((r >> (j % 4)) & 0xff).toByte
        j += 1
      }
      if (r % 2 == 0) {
        val inst = (5L << 37) | ((r & 0xfffffL) << 13) |
          (((r >> 20) & 1L) << 36)
        var merged = 0L
        j = 0
        while (j < 6) { merged |= (b(j) & 0xffL) << (8 * j); j += 1 }
        merged &= ~(((1L << 41) - 1L) << 5)
        merged |= inst << 5
        j = 0
        while (j < 6) { b(j) = ((merged >> (8 * j)) & 0xff).toByte
          j += 1 }
        b(0) = ((b(0) & 0xe0) | template).toByte
      }
      out.write(b, 0, 16)
    }
    java.util.Arrays.copyOf(out.toByteArray, n)
  }

  test("BCJ IA64 filter (round 15) decodes byte-exactly against " +
      "liblzma — bundle templates, planted opcode-5 slots, and the " +
      "start_offset=32 variant") {
    val code = ia64ish(40000)
    for (name <- Seq("code_ia64.xz", "code_ia64_off.xz")) {
      val got = XzDecode.decompress(vector(name))
      assert(got.isDefined, s"$name failed to decode")
      assert(java.util.Arrays.equals(got.get, code),
        s"$name decoded wrong bytes")
    }
  }

  test("truncation, garbage, and seeded byte-flips never throw; " +
      "corruptions fail loud (every output byte is under a block " +
      "check), never yield wrong bytes silently") {
    val base = vector("mix_p6.xz")
    val want = plain("mix")
    (1 until base.length by 53).foreach { cut =>
      assert(XzDecode.decompress(base.take(cut)).isEmpty,
        s"truncation at $cut must fail")
    }
    assert(XzDecode.decompress("garbage not xz at all".getBytes).isEmpty)
    // a legacy LZMA_Alone blob is not an xz stream
    assert(XzDecode.decompress(vector("rep.lzma")).isEmpty)
    assert(XzDecode.decompress(Array.empty[Byte]).isEmpty)
    val rnd = new scala.util.Random(1234)
    var survived = 0
    (0 until 300).foreach { _ =>
      val m = base.clone()
      (0 to rnd.nextInt(3)).foreach { _ =>
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      }
      val got = try XzDecode.decompress(m)
        catch {
          case t: Throwable =>
            fail(s"decoder threw ${t.getClass.getSimpleName} on mutation")
        }
      got.foreach { g =>
        survived += 1
        assert(java.util.Arrays.equals(g, want),
          "mutated stream decoded to WRONG bytes — check hole")
      }
    }
    assert(survived <= 2, s"$survived mutations decoded — checks not biting")
  }

  test("BCJ filters and unknown filter ids are declined, not " +
      "misdecoded (flip the LZMA2 filter id in a real block header " +
      "and fix the header CRC)") {
    val b = vector("rep_p6.xz").clone()
    // block header starts at 12: size byte, flags, then filter id VLI
    val hdrSize = ((b(12) & 0xff) + 1) * 4
    b(14) = 0x04 // x86 BCJ filter id (was 0x21 LZMA2)
    val crc = new java.util.zip.CRC32()
    crc.update(b, 12, hdrSize - 4)
    var v = crc.getValue
    var i = 0
    while (i < 4) {
      b(12 + hdrSize - 4 + i) = ((v >> (8 * i)) & 0xff).toByte
      i += 1
    }
    assert(XzDecode.decompress(b).isEmpty)
  }
}
