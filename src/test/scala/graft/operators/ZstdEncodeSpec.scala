package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The zstd ENCODER ([[ZstdEncode]], libzstd at one fixed level).
  *
  * Every output must round-trip through [[ZstdDecode]], whose golden
  * vectors (`ZstdGoldenSpec`) anchor the format; the size bounds below
  * pin that compression is real, and the gated CLI referee has the
  * real `zstd -d` decode the frames when a `zstd` binary is on PATH.
  */
class ZstdEncodeSpec extends AnyFunSuite {

  private def roundTrip(in: Array[Byte]): Array[Byte] = {
    val enc = ZstdEncode.compress(in)
    val dec = ZstdDecode.decompress(enc)
    assert(dec.isDefined, s"decoder rejected encoder output " +
      s"(${in.length} bytes in, ${enc.length} out)")
    assert(java.util.Arrays.equals(dec.get, in),
      s"round-trip mismatch at ${in.length} bytes")
    enc
  }

  test("CLI-VERIFIED golden: compressed block ('abcdefgh' x 8 -> one " +
    "sequence over predefined FSE tables; offset 8 hits the initial " +
    "rep history {1,4,8} and emits the 2-bit repeat code)") {
    // the size bound, not libzstd's exact bytes, is what this pins
    val enc = roundTrip(("abcdefgh" * 8).getBytes("UTF-8"))
    assert(enc.length < 30) // 64 bytes in: the block really compresses
  }

  test("round-trip matrix: empty / single byte / runs / periodic / " +
    "text / random / multi-block / mixed") {
    val rnd = new java.util.Random(42)
    def rndBytes(n: Int): Array[Byte] = {
      val b = new Array[Byte](n); rnd.nextBytes(b); b
    }
    val text = ("WARC/1.0\r\nWARC-Type: resource\r\n" +
      "the quick brown fox jumps over the lazy dog. ") * 800
    val cases: Seq[Array[Byte]] = Seq(
      Array.empty[Byte],
      Array[Byte](0x41),
      Array.fill[Byte](65536)(0x61),
      Array.fill[Byte](300000)(0x7a), // crosses the 128 KiB block span
      text.getBytes("UTF-8"),
      rndBytes(1000),
      rndBytes(200000),
      rndBytes(5000) ++ text.getBytes("UTF-8") ++ rndBytes(5000),
      Array.tabulate[Byte](150000)(i =>
        (if ((i & 1) == 0) 'a' else 'b').toByte),
      // exactly one byte past a block boundary
      Array.tabulate[Byte](131073)(i => (i % 7 + 65).toByte),
      Array.tabulate[Byte](131072)(i => (i % 251).toByte),
      ("the quick brown fox. " * 3000).getBytes("UTF-8"))
    cases.foreach(roundTrip)
  }

  test("compression is real: repetitive shrinks 100x+, incompressible " +
    "grows by headers only") {
    val rep = ("abcdefgh" * 40000).getBytes("UTF-8") // 320 KB
    val encRep = roundTrip(rep)
    assert(encRep.length * 100 < rep.length,
      s"repetitive input: ${rep.length} -> ${encRep.length}")
    val rnd = new java.util.Random(7)
    val noise = new Array[Byte](200000)
    rnd.nextBytes(noise)
    val encNoise = roundTrip(noise)
    // frame header + checksum + 2 block headers: well under 64 bytes
    assert(encNoise.length <= noise.length + 64,
      s"incompressible grew: ${noise.length} -> ${encNoise.length}")
  }

  test("Huffman literals engage on low-redundancy ASCII: 1-stream " +
      "and 4-stream forms, decoder path coverage, CLI-verified class " +
      "of output (zstd -d decoded the dev matrix byte-exactly)") {
    val r = new java.util.Random(5)
    def skewed(n: Int): Array[Byte] = {
      val freq = "etaoinshrdlcumwfgypbvk"
      val sb = new StringBuilder
      while (sb.length < n) {
        (0 until 2 + r.nextInt(9)).foreach(_ => sb.append(
          freq(math.min(r.nextInt(8) + r.nextInt(15), freq.length - 1))))
        sb.append(' ')
      }
      sb.toString.getBytes("UTF-8")
    }
    val small = skewed(600) // regen ≤ 1023 → 1 backward stream
    val encS = ZstdEncode.compress(small)
    assert(encS.length < small.length * 7 / 10,
      s"Huffman should shrink skewed ASCII: ${small.length} -> " +
        s"${encS.length}")
    assert(java.util.Arrays.equals(
      ZstdDecode.decompress(encS).get, small))
    val big = skewed(50000) // > 1023 literals → 4-stream jump table
    val encB = ZstdEncode.compress(big)
    assert(encB.length < big.length * 8 / 10)
    assert(java.util.Arrays.equals(
      ZstdDecode.decompress(encB).get, big))
    // RLE literals: same-byte literal runs with a structure break
    val rle = ("x" * 200 + "Q" + "x" * 200).getBytes("UTF-8")
    assert(java.util.Arrays.equals(
      ZstdDecode.decompress(ZstdEncode.compress(rle)).get, rle))
    // a 3-symbol alphabet with NO repeated 4-grams (de Bruijn
    // B(3,4) — LZ finds nothing, every byte stays literal)
    val tiny = {
      val a = new Array[Int](3 * 4 + 1)
      val seq = scala.collection.mutable.ArrayBuffer[Byte]()
      def db(t: Int, p: Int): Unit =
        if (t > 4) {
          if (4 % p == 0) (1 to p).foreach(j => seq += a(j).toByte)
        } else {
          a(t) = a(t - p); db(t + 1, p)
          var j = a(t - p) + 1
          while (j < 3) { a(t) = j; db(t + 1, t); j += 1 }
        }
      db(1, 1)
      seq.toArray
    }
    assert(tiny.length == 81)
    assert(java.util.Arrays.equals(
      ZstdDecode.decompress(ZstdEncode.compress(tiny)).get, tiny))
  }

  test("alphabets past 128 distinct byte values now compress via " +
      "FSE weights (round 15 — the direct form's ceiling lifted); " +
      "uniform random bytes still land raw") {
    val r = new java.util.Random(13)
    // ~200 distinct byte values, heavily skewed → Huffman-compressible
    // but impossible for the 128-weight direct form
    val wide = Array.tabulate[Byte](20000) { _ =>
      val v = r.nextInt(256)
      (if (r.nextInt(4) == 0) v else v % 24).toByte
    }
    assert(wide.map(_ & 0xff).distinct.length > 128)
    val enc = ZstdEncode.compress(wide)
    assert(enc.length < wide.length, "skewed wide alphabet shrinks")
    assert(java.util.Arrays.equals(
      ZstdDecode.decompress(enc).get, wide))
    // genuinely uniform bytes stay raw (headers-only growth)
    val hi = new Array[Byte](5000)
    r.nextBytes(hi)
    roundTrip(hi)
  }

  test("CLI-VERIFIED golden: dictionary (prefix) compression — " +
      "`zstd -d -D <rawdict>` decoded these exact bytes; matches " +
      "reach into the shared prefix window") {
    val dict = graft.sources.ZstdSeekable.WarcDict
    val rec = ("WARC/1.0\r\nWARC-Type: resource\r\n" +
      "WARC-Target-URI: http://corpus.local/doc/42\r\n" +
      "Content-Length: 11\r\n\r\nhello world\r\n\r\n").getBytes("UTF-8")
    val enc = ZstdEncode.compress(rec, dict)
    // the dictionary pays decisively: less than half of what plain
    // compression manages on the record alone
    assert(enc.length < rec.length &&
      enc.length * 2 < ZstdEncode.compress(rec).length)
    // mirror of the CLI convention: NO dict id declared (desc 0x24)
    assert((enc(4) & 0x03) == 0)
    val zd = ZstdDecode.parseDict(dict).get
    assert(java.util.Arrays.equals(
      ZstdDecode.decompress(enc, zd).get, rec))
    // without the dictionary the frame is DECLINED, never misread
    assert(ZstdDecode.decompress(enc).isEmpty)
  }

  test("dictionary round-trip matrix + the in-band IIPC layout " +
      "(dict skippable frame + record frames through " +
      "decompressDictAware)") {
    val dict = ("shared boilerplate header: " * 8).getBytes("UTF-8")
    val zd = ZstdDecode.parseDict(dict).get
    val rnd = new java.util.Random(21)
    val cases = Seq(
      "shared boilerplate header: unique tail 1".getBytes("UTF-8"),
      ("shared boilerplate header: " * 3 + "x").getBytes("UTF-8"),
      Array.empty[Byte],
      { val b = new Array[Byte](5000); rnd.nextBytes(b); b })
    cases.foreach { c =>
      val enc = ZstdEncode.compress(c, dict)
      val dec = ZstdDecode.decompress(enc, zd)
      assert(dec.isDefined && java.util.Arrays.equals(dec.get, c),
        s"dict round-trip at ${c.length}")
    }
    // in-band: [dict frame][frame(c1)][frame(c2)] → concatenation
    val stream = graft.sources.ZstdSeekable.dictFrame(dict) ++
      ZstdEncode.compress(cases(0), dict) ++
      ZstdEncode.compress(cases(1), dict)
    val got = ZstdDecode.decompressDictAware(stream)
    assert(got.isDefined &&
      java.util.Arrays.equals(got.get, cases(0) ++ cases(1)))
  }

  test("repeat-offset history: stride data compresses via rep codes " +
      "and the encoder's history walk never diverges from the " +
      "decoder's (small-alphabet stress)") {
    // one dominant stride: after the first sequence every offset is a
    // rep0 reuse — tiny sequences, tiny stream
    val stride = Array.tabulate[Byte](40000)(i => ((i % 37) + 48).toByte)
    val encS = roundTrip(stride)
    assert(encS.length < 200, s"stride data: 40000 -> ${encS.length}")
    // alternating strides rotate the history (idx 2/3 paths); random
    // small-alphabet text exercises arbitrary interleavings — any
    // encoder/decoder history divergence breaks these round-trips
    val r = new java.util.Random(31)
    (0 until 200).foreach { _ =>
      val n = 50 + r.nextInt(3000)
      val b = new Array[Byte](n)
      var i = 0
      while (i < n) { b(i) = (97 + r.nextInt(4)).toByte; i += 1 }
      roundTrip(b)
    }
  }

  test("offsets reach across block boundaries (frame-wide window)") {
    // block 2 opens with a verbatim copy of block 1's opening bytes:
    // a correct encoder matches back across the 128 KiB boundary
    val head = "0123456789abcdef" * 64 // 1 KiB recognizable prefix
    val rnd = new java.util.Random(11)
    val mid = new Array[Byte](140000)
    rnd.nextBytes(mid)
    val in = head.getBytes("UTF-8") ++ mid ++ head.getBytes("UTF-8")
    val enc = roundTrip(in)
    assert(enc.length < in.length)
  }

  test("sequence-count header forms: 1-byte, 2-byte, 3-byte nbSeq") {
    // many tiny matches: 'abcdabcd...' yields ~1 sequence, so build
    // counts by alternating unique noise with repeated 8-grams
    val rnd = new java.util.Random(3)
    def withSeqs(approx: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val word = "QWERTYUI".getBytes("UTF-8")
      var i = 0
      while (i < approx) {
        val junk = new Array[Byte](3); rnd.nextBytes(junk)
        out.write(junk); out.write(word)
        i += 1
      }
      out.toByteArray
    }
    roundTrip(withSeqs(100))   // < 128
    roundTrip(withSeqs(5000))  // 2-byte form
    roundTrip(withSeqs(33000)) // > 0x7eff within one block? spans blocks;
    // force the 3-byte form directly: one block of max-density matches
    val dense = new java.io.ByteArrayOutputStream()
    val w = "ZXCV".getBytes("UTF-8")
    var i = 0
    while (dense.size() < 131000) { dense.write(w); dense.write(i & 0xff); i += 1 }
    roundTrip(dense.toByteArray)
  }

  /** Deterministic skewed pseudo-text: enough symbol spread that
    * Huffman weights go FSE-compressed, enough match structure that
    * the sequence tables fit better than predefined. */
  private def skewedText(n: Int): Array[Byte] = {
    val rnd = new java.util.Random(16)
    val freq = "eeeeettttaaaooiinnsshhrrdlcumwfgypbvkjxqz .,;:!?-'\"()[]0123456789ABCDEFGH"
    val sb = new StringBuilder
    while (sb.length < n) {
      sb.append(freq.charAt(rnd.nextInt(freq.length)))
      if (rnd.nextInt(9) == 0) sb.append(" the ")
      if (rnd.nextInt(23) == 0) sb.append("jumped over")
      if (rnd.nextInt(31) == 0) sb.append(" WARC-Target-URI: https://example.com/path ")
    }
    sb.toString.substring(0, n).getBytes("UTF-8")
  }

  test("gated CLI referee: real `zstd -d` decodes the fitted-FSE / " +
      "FSE-weights frames byte-exactly (skipped when no zstd on PATH)") {
    val zstd = (sys.env.getOrElse("PATH", "").split(":").toSeq
        .map(_ + "/zstd") ++
        Seq("/usr/bin/zstd", "/usr/local/bin/zstd", "/bin/zstd"))
      .find(p => new java.io.File(p).canExecute)
    assume(zstd.isDefined, "no zstd CLI on this host")
    for (n <- Seq(2000, 4000)) { // 1-stream and 4-stream Huffman forms
      val in = skewedText(n)
      val enc = ZstdEncode.compress(in)
      val f = graft.TestPaths.file("graft16", ".zst").toFile
      try {
        java.nio.file.Files.write(f.toPath, enc)
        val pb = new ProcessBuilder(zstd.get, "-d", "-c", f.getPath)
        pb.redirectErrorStream(false)
        val proc = pb.start()
        val out = proc.getInputStream.readAllBytes()
        assert(proc.waitFor() == 0, s"zstd CLI exit != 0 at n=$n")
        assert(java.util.Arrays.equals(out, in),
          s"CLI decode mismatch at n=$n")
      } finally f.delete()
    }
    // the raw-content dictionary frame: `zstd -d -D <rawdict>`
    val dict = graft.sources.ZstdSeekable.WarcDict
    val rec = ("WARC/1.0\r\nWARC-Type: resource\r\n" +
      "WARC-Target-URI: http://corpus.local/doc/42\r\n" +
      "Content-Length: 11\r\n\r\nhello world\r\n\r\n").getBytes("UTF-8")
    val f = graft.TestPaths.file("graft16", ".zst").toFile
    val d = graft.TestPaths.file("graft16", ".dict").toFile
    try {
      java.nio.file.Files.write(f.toPath, ZstdEncode.compress(rec, dict))
      java.nio.file.Files.write(d.toPath, dict)
      val proc = new ProcessBuilder(zstd.get, "-d", "-c", "-D", d.getPath,
        f.getPath).start()
      val out = proc.getInputStream.readAllBytes()
      assert(proc.waitFor() == 0, "zstd CLI exit != 0 on the dict frame")
      assert(java.util.Arrays.equals(out, rec), "CLI dict decode mismatch")
    } finally { f.delete(); d.delete() }
  }
}
