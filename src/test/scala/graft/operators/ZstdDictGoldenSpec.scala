package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** RFC 8878 §5 dictionary decode against GOLDEN VECTORS from the real
  * zstd CLI (`tools/gen_zstd_vectors.py` → `src/test/resources/zstd/`):
  * a `zstd --train` dictionary (committed as data), record frames
  * compressed against it (every frame CLI-round-trip-verified at
  * generation time), a raw-content dictionary, and both IIPC
  * `.warc.zst` in-band layouts (raw / zstd-compressed dictionary in
  * the leading `0x184D2A5D` skippable frame — the layout Common Crawl
  * actually publishes). The record plaintext recipe below is
  * byte-identical to the generator's `dict_records()` — change BOTH
  * or neither. */
class ZstdDictGoldenSpec extends AnyFunSuite {

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

  private lazy val dict: ZstdDecode.ZDict = {
    val d = ZstdDecode.parseDict(vector("warcdict.dict"))
    assert(d.isDefined, "trained dictionary failed to parse")
    d.get
  }

  test("the zstd --train dictionary parses: structured magic, " +
      "non-zero id, entropy tables + rep offsets + content") {
    assert(dict.id != 0L)
  }

  for (i <- 0 until 8; lvl <- Seq(3, 19)) {
    test(s"dictrec$i level $lvl decodes byte-exactly WITH the " +
        "dictionary and is declined without it") {
      val frame = vector(s"dictrec${i}_l$lvl.zst")
      val got = ZstdDecode.decompress(frame, dict)
      assert(got.isDefined, s"dictrec${i}_l$lvl failed with dict")
      assert(java.util.Arrays.equals(got.get, dictRecord(i)),
        s"dictrec${i}_l$lvl decoded wrong bytes")
      // no dictionary → honest decline, never a misdecode
      assert(ZstdDecode.decompress(frame).isEmpty)
    }
  }

  test("a dictionary with the WRONG id is declined (id check is " +
      "enforced for structured dictionaries)") {
    val blob = vector("warcdict.dict").clone()
    blob(4) = (blob(4) + 1).toByte // perturb the LE32 dictionary id
    val wrong = ZstdDecode.parseDict(blob)
    assert(wrong.isDefined && wrong.get.id != dict.id)
    assert(ZstdDecode.decompress(vector("dictrec0_l3.zst"),
      wrong.get).isEmpty)
  }

  test("raw-content dictionary (no magic, id 0): the shared record " +
      "head as window prefix decodes the CLI frame byte-exactly") {
    val rd = ZstdDecode.parseDict(vector("rawcontent.dict"))
    assert(rd.isDefined && rd.get.id == 0L)
    val got = ZstdDecode.decompress(vector("rawdictrec0.zst"), rd.get)
    assert(got.isDefined, "raw-content dict frame failed")
    assert(java.util.Arrays.equals(got.get, dictRecord(0)))
  }

  test("IIPC warc.zst layout, RAW in-band dictionary: the leading " +
      "0x184D2A5D skippable frame is harvested and all 8 record " +
      "frames decode; the plain walk declines the same blob") {
    val blob = vector("warc_dict_raw.warczst")
    val want = (0 until 8).toArray.flatMap(dictRecord)
    val got = ZstdDecode.decompressDictAware(blob)
    assert(got.isDefined, "in-band raw-dict blob failed")
    assert(java.util.Arrays.equals(got.get, want))
    // without harvest the dict frame is skipped and record frames
    // have no dictionary — decline, never misdecode
    assert(ZstdDecode.decompress(blob).isEmpty)
    // and the full WARC record walk sees all 8 records
    val recs = Multimodal.warcZstRecordsJvm(blob)
    assert(recs.size == 8)
    assert(recs.forall(_._1 == "response"))
    assert(recs.map(_._2).toSet ==
      (0 until 8).map(i => s"http://example.com/dict/$i").toSet)
  }

  test("IIPC warc.zst layout, zstd-COMPRESSED in-band dictionary " +
      "(the smaller wire form) harvests through the inner decode") {
    val blob = vector("warc_dict_z.warczst")
    val want = (0 until 8).toArray.flatMap(dictRecord)
    val got = ZstdDecode.decompressDictAware(blob)
    assert(got.isDefined, "in-band compressed-dict blob failed")
    assert(java.util.Arrays.equals(got.get, want))
    assert(Multimodal.warcZstRecordsJvm(blob).size == 8)
  }

  test("no-dict path unchanged: decompressDictAware on dictionary-" +
      "less blobs equals decompress (multi-frame + skippable)") {
    Seq("rep_l3.zst", "mix_l19.zst", "tiny_l1.zst").foreach { v =>
      val b = vector(v)
      assert(java.util.Arrays.equals(
        ZstdDecode.decompressDictAware(b).get,
        ZstdDecode.decompress(b).get), v)
    }
  }

  test("truncations and byte-flips of the dict blob and the in-band " +
      "layout never throw; a corrupt dictionary fails the whole " +
      "listing loud") {
    val blob = vector("warc_dict_raw.warczst")
    (1 until blob.length by 37).foreach { cut =>
      try ZstdDecode.decompressDictAware(blob.take(cut))
      catch { case t: Throwable =>
        fail(s"threw ${t.getClass.getSimpleName} at cut $cut")
      }
    }
    val rnd = new scala.util.Random(11)
    (0 until 300).foreach { _ =>
      val m = blob.clone()
      (0 to rnd.nextInt(3)).foreach { _ =>
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      }
      try ZstdDecode.decompressDictAware(m)
      catch { case t: Throwable =>
        fail(s"threw ${t.getClass.getSimpleName} on mutation")
      }
    }
    // corrupt the dictionary's entropy region specifically: the walk
    // must return None (fail loud), not decode records wrongly
    val m = blob.clone()
    m(20) = (m(20) ^ 0x55).toByte
    val got = ZstdDecode.decompressDictAware(m)
    assert(got.isEmpty ||
      java.util.Arrays.equals(got.get, (0 until 8).toArray.flatMap(dictRecord)))
  }
}
