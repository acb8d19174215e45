package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{BpeTokenizer => Bpe, TextFunctions => TF,
  VectorFunctions => VF}
import graft.operators.{Cdc, Chunking, Contamination, Dedup, InvertedIndex,
  Layout, Multimodal, QualityRules, Ranking, Relevance, Retrieval,
  Sampling, Similarity, Sketches}

/** Driver-checkable queries for the training-data pipeline operators:
  * dedup (exact + 4 near-dup families), similarity search (brute + IVF),
  * text analysis, multimodal plumbing.
  *
  * Documents/embeddings at every SF contain no duplicates, so dedup
  * queries run on `corpus ∪ shifted-id-corpus` — every doc then has an
  * exact twin, guaranteeing deterministic non-empty near-dup output while
  * genuine near-pairs (if any) are still surfaced.
  *
  * Oracle strategy: every query here carries a full DuckDB oracle.
  * `text_fingerprint`'s raw xxhash64 family is engine-defined (not
  * expressible in portable SQL), so its driver row checks the portable
  * INJECTIVITY facts instead — count(distinct fp) per bucket vs the
  * oracle's count(distinct normalized text) — with the raw values pinned
  * by ScalaTest invariants. The LSH families are
  * oracle-checkable because their OUTPUT is hash-independent: the verify
  * stage emits exact word-shingle / char-n-gram Jaccard (recomputable over
  * raw text in SQL) or raw-text equality, and at verification SF the
  * nearest sub-threshold pair sits far below the cut (measured: word-3-
  * shingle 0.067 vs threshold 0.8; char-5-gram 0.31 vs 0.5; cosine 0.51 vs
  * 0.95), so LSH recall is exact and the all-pairs SQL recomputation
  * matches. Dedup oracles exploit the twin construction: pair Jaccards are
  * computed over the 500 original docs and expanded 4-ways to the union
  * (twin text is byte-identical ⇒ identical shingle sets ⇒ identical j).
  */
object ExtensionQueries {
  import Q._

  // Artifacts that more than one query reads: one memoized build each,
  // under one name (see [[Artifact]]).
  private def lshIndex(s: SparkSession, dir: String): Dedup.LshIndex =
    Artifact.memoized("lsh_index", dir)(Dedup.buildLshIndex(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "text", "doc_id", _))

  private def ivfPqIndex(s: SparkSession, dir: String)
      : Similarity.IvfPqIndex =
    Artifact.memoized("ivfpq_index", dir)(Similarity.buildIvfPqIndex(
      t(s, dir, "embeddings"), _, nlist = 16, m = 4, ksub = 16, iters = 1))

  private def termIndex(s: SparkSession, dir: String)
      : InvertedIndex.TermIndex =
    Artifact.memoized("term_index", dir)(InvertedIndex.build(
      t(s, dir, "documents"), "text", "doc_id", _, nBuckets = 64))

  private def posIndex(s: SparkSession, dir: String)
      : InvertedIndex.TermIndex =
    Artifact.memoized("pos_index", dir)(InvertedIndex.buildPositional(
      t(s, dir, "documents"), "text", "doc_id", _, nBuckets = 64))

  /** documents ∪ documents-with-shifted-ids (adds exact twins). */
  private def docsUnion(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"),
      col("lang"), col("source"))
    d.unionAll(d.withColumn("doc_id", col("doc_id") + 1000000L))
  }

  private def embUnion(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    e.unionAll(e.withColumn("vec_id", col("vec_id") + 1000000L))
  }

  private def le16b(x: org.apache.spark.sql.Column) = unhex(concat(
    lpad(hex(pmod(x, lit(256L))), 2, "0"),
    lpad(hex(pmod((x / lit(256L)).cast("long"), lit(256L))), 2, "0")))

  private def le32b(x: org.apache.spark.sql.Column) = unhex(concat(
    lpad(hex(pmod(x, lit(256L))), 2, "0"),
    lpad(hex(pmod((x / lit(256L)).cast("long"), lit(256L))), 2, "0"),
    lpad(hex(pmod((x / lit(65536L)).cast("long"), lit(256L))), 2, "0"),
    lpad(hex(pmod((x / lit(16777216L)).cast("long"), lit(256L))), 2, "0")))

  /** PCM16 WAV fixture shared by mm_audio_features / mm_audio_windows /
    * mm_decode_audit: data BYTES are the primitive — b(j) = (doc_id·37 +
    * j·101) % 256 — channels 1..2, 50..249 frames, a LIST clutter chunk
    * on every third doc. The oracles recombine byte pairs into
    * two's-complement samples independently (see mm_audio_features). */
  private[graft] def wavPcmBlob: org.apache.spark.sql.Column = {
    val ch = lit(1L) + col("doc_id") % 2L
    val nf = lit(50L) + col("doc_id") % 200L
    val blk = ch * 2L // 16-bit PCM
    val sr = lit(16000L)
    val dsz = nf * blk
    val pcm = unhex(array_join(
      transform(sequence(lit(0L), dsz - 1L),
        j => lpad(hex(pmod(col("doc_id") * 37L + j * 101L, lit(256L))),
          2, "0")),
      ""))
    val listChunk = when(col("doc_id") % 3 === 0,
      concat(lit("LIST".getBytes), le32b(lit(6L)),
        unhex(repeat(lit("00"), 6))))
      .otherwise(lit(Array.empty[Byte]))
    concat(lit("RIFF".getBytes), le32b(lit(0L)),
      lit("WAVE".getBytes), listChunk,
      lit("fmt ".getBytes), le32b(lit(16L)), le16b(lit(1L)), le16b(ch),
      le32b(sr), le32b(sr * blk), le16b(blk), le16b(lit(16L)),
      lit("data".getBytes), le32b(dsz), pcm)
  }

  private def wavPcmFixture(s: SparkSession, dir: String): DataFrame =
    // blob hoisted into its own projection (mm_wav_meta discipline)
    t(s, dir, "documents")
      .select(col("doc_id"), wavPcmBlob.as("blob"))

  /** 24-bit BMP fixture shared by mm_bmp_features / mm_bmp_patches /
    * mm_decode_audit: pixel-array FILE bytes (padding included) are the
    * primitive — b(j) = (doc_id·11 + j·17) % 256 — width 3..8 (stride
    * padding 0..3), height 2..5. */
  private[graft] def bmpBlob: org.apache.spark.sql.Column = {
    val w = lit(3L) + col("doc_id") % 6L
    val h = lit(2L) + col("doc_id") % 4L
    val stride = ((w * 3L + 3L) / 4L).cast("long") * 4L
    val imgSz = h * stride
    val pixels = unhex(array_join(
      transform(sequence(lit(0L), imgSz - 1L),
        j => lpad(hex(pmod(col("doc_id") * 11L + j * 17L, lit(256L))),
          2, "0")),
      ""))
    concat(
      lit("BM".getBytes), le32b(lit(54L) + imgSz), le32b(lit(0L)),
      le32b(lit(54L)), // pixel-array offset
      le32b(lit(40L)), le32b(w), le32b(h), le16b(lit(1L)),
      le16b(lit(24L)), le32b(lit(0L)), le32b(imgSz),
      le32b(lit(0L)), le32b(lit(0L)), le32b(lit(0L)), le32b(lit(0L)),
      pixels)
  }

  private def bmpFixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), bmpBlob.as("blob"))

  /** Big-endian byte renderers (PNG is network byte order). */
  private def be32b(x: org.apache.spark.sql.Column) =
    unhex(lpad(hex(x.cast("long")), 8, "0"))

  private def be16b(x: org.apache.spark.sql.Column) =
    unhex(lpad(hex(x.cast("long")), 4, "0"))

  /** PNG fixture shared by mm_png_features / mm_decode_audit — the
    * byte-primitive pattern WITHOUT a deflate implementation in the
    * plan: the IDAT zlib stream uses a STORED (uncompressed) deflate
    * block, legal zlib that `java.util.zip.Inflater` consumes like any
    * other, so every byte the decoder sees is closed-form. The raw
    * pixel stream is the primitive — p(j) = (doc_id·13 + j·23) % 256,
    * top-down RGB — which the oracle recomputes DIRECTLY (it never does
    * filter math). Scanlines alternate filter None / Sub, both built
    * in-plan ((p(j) − p(j−3)) mod 256 for Sub), so the engine's
    * un-filtering must invert an INDEPENDENT SQL-expression encoding —
    * and the zlib adler32 (which Inflater verifies) is an in-plan
    * (s1, s2) fold over the scanline bytes. Chunk CRCs are zeros (the
    * decoder's documented non-goal). Width 3..6, height 2..4.
    * Average/Up/Paeth filters can't be built in closed form (non-linear
    * recursions) — those unfilter paths are pinned by the two-sided
    * ImageIO cross-check in MultimodalSpec instead. */
  private[graft] def pngScan: org.apache.spark.sql.Column = {
    val w = lit(3L) + col("doc_id") % 4L
    val h = lit(2L) + col("doc_id") % 3L
    val rowBytes = w * 3L
    def p(j: org.apache.spark.sql.Column) =
      pmod(col("doc_id") * 13L + j * 23L, lit(256L))
    transform(sequence(lit(0L), h * (rowBytes + 1L) - 1L), idx => {
      val y = TF.intDivNonNeg(idx, rowBytes + 1L)
      val r = pmod(idx, rowBytes + 1L)
      val k = r - 1L
      val j = y * rowBytes + k
      when(r === 0L, pmod(y, lit(2L))) // filter byte: None / Sub
        .when(pmod(y, lit(2L)) === 0L || k < 3L, p(j))
        .otherwise(pmod(p(j) - p(j - 3L), lit(256L)))
    })
  }

  /** Assemble the PNG container around a pre-aliased scanline-value
    * array (hoisted so the adler fold and the byte render share ONE
    * evaluation — the mm_wav_meta discipline). */
  private[graft] def pngAssemble(scan: org.apache.spark.sql.Column,
      w: org.apache.spark.sql.Column,
      h: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val dataLen = size(scan).cast("long")
    val data = unhex(array_join(
      transform(scan, v => lpad(hex(v), 2, "0")), ""))
    val ad = aggregate(scan,
      struct(lit(1L).as("s1"), lit(0L).as("s2")),
      (acc, b) => struct(
        pmod(acc.getField("s1") + b, lit(65521L)).as("s1"),
        pmod(acc.getField("s2") + acc.getField("s1") + b,
          lit(65521L)).as("s2")))
    val adler = ad.getField("s2") * 65536L + ad.getField("s1")
    val crc0 = unhex(lit("00000000"))
    concat(
      unhex(lit("89504e470d0a1a0a")), // signature
      be32b(lit(13L)), lit("IHDR".getBytes), be32b(w), be32b(h),
      unhex(lit("0802000000")), crc0, // depth 8, RGB, no interlace
      be32b(dataLen + 11L), lit("IDAT".getBytes),
      unhex(lit("7801")), // zlib header, no preset dictionary
      unhex(lit("01")), le16b(dataLen), le16b(lit(65535L) - dataLen),
      data, be32b(adler), crc0,
      be32b(lit(0L)), lit("IEND".getBytes), crc0)
  }

  private def pngFixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), pngScan.as("scan"),
        (lit(3L) + col("doc_id") % 4L).as("w"),
        (lit(2L) + col("doc_id") % 3L).as("h"))
      .select(col("doc_id"),
        pngAssemble(col("scan"), col("w"), col("h")).as("blob"))

  /** GIF fixture shared by mm_gif_features and the specs — the
    * byte-primitive pattern WITHOUT an LZW compressor in the plan: with
    * minCodeSize = 7 every code is exactly one byte (width 8), and a
    * CLEAR before every pixel keeps the table at its initial size so
    * the width NEVER grows — the LZW stream is literally
    * `[0x80, idx(0), 0x80, idx(1), …, 0x81]`, closed-form in-plan. The
    * engine's decoder is the fully general one (variable widths,
    * dictionary growth, KwKwK — exercised by the two-sided ImageIO
    * cross-check in MultimodalSpec, whose writer emits real compressed
    * LZW); the oracle recomputes features straight from
    * `palette[idx(j)]`: idx(j) = (doc_id·13 + j·23) % 128 over a
    * 128-color global table with bytes (doc_id·7 + k·11) % 256. Width
    * 3..6, height 2..4, full-screen first frame, GIF89a. */
  private[graft] def gifBlob: org.apache.spark.sql.Column = {
    val w = lit(3L) + col("doc_id") % 4L
    val h = lit(2L) + col("doc_id") % 3L
    val npx = w * h
    def u8h(x: org.apache.spark.sql.Column) =
      lpad(hex(pmod(x, lit(256L))), 2, "0")
    val palette = unhex(array_join(
      transform(sequence(lit(0L), lit(383L)),
        k => u8h(col("doc_id") * 7L + k * 11L)), ""))
    def idx(j: org.apache.spark.sql.Column) =
      pmod(col("doc_id") * 13L + j * 23L, lit(128L))
    // [clear, idx(0), clear, idx(1), …, EOI] — 2·npx+1 bytes, one
    // sub-block (≤ 49 at these sizes)
    val lzw = unhex(array_join(
      transform(sequence(lit(0L), npx * 2L),
        i => when(i === npx * 2L, lit("81"))
          .when(pmod(i, lit(2L)) === 0L, lit("80"))
          .otherwise(u8h(idx(TF.intDivNonNeg(i - 1L, lit(2L)))))), ""))
    concat(
      lit("GIF89a".getBytes),
      le16b(w), le16b(h),
      unhex(lit("f60000")), // global table, 128 entries; bg 0; aspect 0
      palette,
      unhex(lit("2c")), le16b(lit(0L)), le16b(lit(0L)),
      le16b(w), le16b(h), unhex(lit("00")), // full frame, no local table
      unhex(lit("07")), // LZW min code size
      unhex(u8h(npx * 2L + 1L)), lzw, unhex(lit("00")), // one sub-block
      unhex(lit("3b"))) // trailer
  }

  private[graft] def gifFixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), gifBlob.as("blob"))

  /** Baseline-JPEG fixture shared by mm_jpeg_features / mm_decode_audit
    * — the byte-primitive pattern applied to a DCT codec WITHOUT a DCT
    * in the plan: every 8×8 block is DC-ONLY, where the decoder's IDCT
    * is EXACT by construction (`clamp(round(dc·q/8) + 128)` — see
    * [[graft.operators.Multimodal.decodeJpegPixels]]'s numerics
    * contract), so the oracle replays the whole pipeline in integers.
    * The entropy stream is closed-form because the Huffman tables are
    * chosen to make every block EXACTLY ONE BYTE: the DC table's only
    * symbol (category 6) gets the 1-bit canonical code `0`, the AC
    * table's only symbol (EOB) gets `0`, and every DC diff has
    * magnitude 32..63 (category 6 by construction) — one block =
    * `0 | 6 diff bits | 0`. Positive diff m encodes as m·2; negative
    * −m as (63−m)·2 (T.81 F.12 EXTEND inverted); no byte can be 0xFF,
    * so no stuffing arises. The engine still runs the fully general
    * path — canonical DHT/DQT parsing, differential DC, EXTEND,
    * dequantization, IDCT, clamp — and the general-AC/chroma paths are
    * pinned by the two-sided ImageIO cross-checks in MultimodalSpec
    * (whose writer emits real multi-coefficient scans). Geometry:
    * 1..3 × 1..2 blocks (W = 8·bw, H = 8·bh), quant table all-17 (odd,
    * so dc·17/8 exercises true rounding), DC walk alternates +m/−m to
    * exercise negative diffs and the high clamp. */
  private[graft] def jpegBlob: org.apache.spark.sql.Column = {
    val bw = lit(1L) + col("doc_id") % 3L
    val bh = lit(1L) + col("doc_id") % 2L
    val nb = bw * bh
    def u8h(x: org.apache.spark.sql.Column) =
      lpad(hex(pmod(x, lit(256L))), 2, "0")
    def mag(k: org.apache.spark.sql.Column) =
      lit(32L) + pmod(col("doc_id") * 7L + k * 11L, lit(32L))
    val entropy = unhex(array_join(
      transform(sequence(lit(0L), nb - 1L),
        k => u8h(when(pmod(k, lit(2L)) === 0L, mag(k) * 2L)
          .otherwise((lit(63L) - mag(k)) * 2L))), ""))
    concat(
      unhex(lit("ffd8")), // SOI
      unhex(lit("ffdb0043" + "00" + "11" * 64)), // DQT 0: all 17
      unhex(lit("ffc0000b08")), be16b(bh * 8L), be16b(bw * 8L),
      unhex(lit("01011100")), // SOF0: 1 comp, 1x1, quant 0
      unhex(lit("ffc40014" + "00" + "01" + "00" * 15 + "06")), // DC: {6}
      unhex(lit("ffc40014" + "10" + "01" + "00" * 15 + "00")), // AC: {EOB}
      unhex(lit("ffda0008010100003f00")), // SOS
      entropy,
      unhex(lit("ffd9"))) // EOI
  }

  private[graft] def jpegFixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), jpegBlob.as("blob"))

  /** TIFF-JPEG fixture (round 14) — compression 7, the "new-style"
    * JPEG-in-TIFF of scanned-document corpora: TWO abbreviated
    * grayscale JPEG strips (8 rows each) sharing one `JPEGTables` tag
    * (the DQT/DHT block [[jpegBlob]] uses), DC-only blocks so the
    * whole pipeline replays in integers (v = (dc·17 + 1028) // 8
    * clamped). Per strip the JPEG stream is SOI + SOF0(8 × w) + SOS +
    * one entropy byte per block + EOI; the DC walk alternates sign on
    * the GLOBAL block index t = s·bw + k but accumulates PER STRIP
    * (each strip is its own stream — dcPred resets). Layout: header 8
    * + count 2 + 10·12 + next 4 = 134 → strip offsets, 142 → counts,
    * 150 → tables (117 B), 267 → strips. */
  private[graft] def tiffJpegBlob: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val bw = lit(1L) + d % 3L
    val w = bw * 8L
    def u8h(x: org.apache.spark.sql.Column) =
      lpad(hex(pmod(x, lit(256L))), 2, "0")
    def mag(t: org.apache.spark.sql.Column) =
      lit(32L) + pmod(d * 7L + t * 11L, lit(32L))
    def entropyHex(s: Long) = array_join(
      transform(sequence(lit(0L), bw - 1L), k => {
        val t = lit(s) * bw + k
        u8h(when(pmod(t, lit(2L)) === 0L, mag(t) * 2L)
          .otherwise((lit(63L) - mag(t)) * 2L))
      }), "")
    val tables = unhex(lit(
      "ffd8" + "ffdb0043" + "00" + "11" * 64 +
        "ffc40014" + "00" + "01" + "00" * 15 + "06" +
        "ffc40014" + "10" + "01" + "00" * 15 + "00" + "ffd9")) // 117 B
    def strip(s: Long) = concat(
      unhex(lit("ffd8" + "ffc0000b08" + "0008")), // SOI, SOF0, h=8
      be16b(w), unhex(lit("01011100")),
      unhex(lit("ffda0008010100003f00")),
      unhex(entropyHex(s)), unhex(lit("ffd9")))
    val stripLen = lit(27L) + bw
    def entry(tag: Long, typ: Long, cnt: Long,
        value: org.apache.spark.sql.Column) =
      concat(le16b(lit(tag)), le16b(lit(typ)), le32b(lit(cnt)), value)
    def shortVal(v: org.apache.spark.sql.Column) =
      concat(le16b(v), le16b(lit(0L)))
    concat(
      lit("II".getBytes), le16b(lit(42L)), le32b(lit(8L)),
      le16b(lit(10L)),
      entry(256, 3, 1, shortVal(w)),
      entry(257, 3, 1, shortVal(lit(16L))),
      entry(258, 3, 1, shortVal(lit(8L))),
      entry(259, 3, 1, shortVal(lit(7L))),
      entry(262, 3, 1, shortVal(lit(1L))),
      entry(273, 4, 2, le32b(lit(134L))),
      entry(277, 3, 1, shortVal(lit(1L))),
      entry(278, 3, 1, shortVal(lit(8L))),
      entry(279, 4, 2, le32b(lit(142L))),
      entry(347, 7, 117, le32b(lit(150L))),
      le32b(lit(0L)), // next IFD
      le32b(lit(267L)), le32b(lit(267L) + stripLen), // strip offsets
      le32b(stripLen), le32b(stripLen), // strip byte counts
      tables, strip(0), strip(1))
  }

  private[graft] def tiffJpegFixture(s: SparkSession,
      dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), tiffJpegBlob.as("blob"))

  /** PROGRESSIVE-JPEG fixture (round 11) — [[jpegBlob]]'s DC-only
    * byte-primitive rebuilt as a three-scan SOF2 stream exercising
    * spectral selection AND successive approximation in closed form:
    *  1. DC first scan (Al=1) codes the same ±category-6 differential
    *     walk, but of v = dc>>1; the DC table's single symbol sits at
    *     code length 2 (`00`), so a block is exactly one byte
    *     `00 ++ 6 diff bits` — positive diff m is the byte m, negative
    *     −m is 63−m, never 0xFF.
    *  2. DC refinement scan (Ah=1, Al=0) appends the low bit of each
    *     block's dc — nb ≤ 6 raw bits packed MSB-first into one byte.
    *  3. AC first scan (ss=1..63) is one EOB per block — the 1-bit
    *     code `0` from the {EOB} table, nb bits in one zero byte.
    * Reconstruction: dc = (v << 1) | bit, pixel = the same exact
    * `clamp(round(dc·17/8) + 128)` contract, so the oracle replays the
    * whole progressive pipeline in integers. */
  private[graft] def jpegProgBlob: org.apache.spark.sql.Column = {
    val bw = lit(1L) + col("doc_id") % 3L
    val bh = lit(1L) + col("doc_id") % 2L
    val nb = bw * bh
    def u8h(x: org.apache.spark.sql.Column) =
      lpad(hex(pmod(x, lit(256L))), 2, "0")
    def mag(k: org.apache.spark.sql.Column) =
      lit(32L) + pmod(col("doc_id") * 7L + k * 11L, lit(32L))
    val dcScan = unhex(array_join(
      transform(sequence(lit(0L), nb - 1L),
        k => u8h(when(pmod(k, lit(2L)) === 0L, mag(k))
          .otherwise(lit(63L) - mag(k)))), ""))
    val pow2 = typedlit(Array(128L, 64L, 32L, 16L, 8L, 4L, 2L, 1L))
    val refByte = unhex(u8h(aggregate(sequence(lit(0L), nb - 1L),
      lit(0L), (acc, k) => acc + pmod(col("doc_id") + k, lit(2L)) *
        element_at(pow2, (k + 1L).cast("int")))))
    concat(
      unhex(lit("ffd8")), // SOI
      unhex(lit("ffdb0043" + "00" + "11" * 64)), // DQT 0: all 17
      unhex(lit("ffc2000b08")), be16b(bh * 8L), be16b(bw * 8L),
      unhex(lit("01011100")), // SOF2: 1 comp, 1x1, quant 0
      unhex(lit("ffc40014" + "00" + "0001" + "00" * 14 + "06")), // DC {6}@len2
      unhex(lit("ffc40014" + "10" + "01" + "00" * 15 + "00")), // AC {EOB}@len1
      unhex(lit("ffda000801010000" + "0001")), // SOS: DC first, Al=1
      dcScan,
      unhex(lit("ffda000801010000" + "0010")), // SOS: DC refine, Ah=1
      refByte,
      unhex(lit("ffda000801010001" + "3f00")), // SOS: AC 1..63 first
      unhex(lit("00")), // nb ≤ 6 one-bit EOBs
      unhex(lit("ffd9"))) // EOI
  }

  private[graft] def jpegProgFixture(s: SparkSession, dir: String)
      : DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), jpegProgBlob.as("blob"))

  /** Standard MSB-first CRC byte table, computed at plan-build time. */
  private def crcTable(width: Int, poly: Long): Seq[Long] = {
    val top = 1L << (width - 1)
    val mask = (1L << width) - 1
    (0 until 256).map { b =>
      var c = b.toLong << (width - 8)
      (0 until 8).foreach { _ =>
        c = if ((c & top) != 0) ((c << 1) ^ poly) & mask
        else (c << 1) & mask
      }
      c
    }
  }

  /** MSB-first CRC fold over an array of byte VALUES — `width` 8 or 16
    * (in-plan, like the PNG fixture's adler32 fold). Used to stamp
    * CORRECT CRC-8/CRC-16 into the FLAC fixture so the emitted stream
    * is legal FLAC end-to-end; the spec cross-checks against an
    * independent table-free bitwise implementation.
    *
    * TABLE-DRIVEN on purpose: the naive form — 8 chained
    * `when(c >= top, …)` rounds inside the aggregate lambda — re-reads
    * `c` three times per round, TRIPLING the lambda's expression tree
    * every round (3^8 ≈ 6.5k interpreted nodes PER BYTE; measured 55 s
    * for the sf0.001 fixture sweep vs sub-second with the 256-entry
    * literal-array lookup, which is O(1) `element_at`). */
  private def crcFold(vals: org.apache.spark.sql.Column, width: Int,
      poly: Long): org.apache.spark.sql.Column = {
    val table = typedLit(crcTable(width, poly))
    if (width == 8)
      aggregate(vals, lit(0L), (acc, b) =>
        element_at(table, acc.bitwiseXOR(b).cast("int") + 1))
    else
      aggregate(vals, lit(0L), (acc, b) =>
        pmod(acc * 256L, lit(1L << width)).bitwiseXOR(
          element_at(table,
            TF.intDivNonNeg(acc, lit(256L)).bitwiseXOR(b).cast("int") + 1)))
  }

  /** FLAC fixture, part 1: the whole FRAME as an array of byte values —
    * hoisted behind one alias because the CRC-16 fold and the byte
    * render both consume it (the mm_wav_meta discipline). Mono, 16-bit,
    * ONE VERBATIM frame of `nf = 50 + doc_id % 200` samples: with
    * bps 16 the verbatim samples are byte-aligned, so the sample bytes
    * ARE the file bytes — the same b(j) = (doc_id·37 + j·101) % 256
    * primitive as the WAV fixture, just big-endian pairs. Frame header:
    * sync FFF8, blockSize code 7 (explicit 16-bit n−1), sample rate
    * from STREAMINFO, channel asgn 0, sample size code 4 (16-bit),
    * frame number 0, then a CORRECT in-plan CRC-8; subframe header
    * 0x02 (VERBATIM, no wasted bits). The decoder exercises the fully
    * general path (metadata walk, header field decode, subframe
    * dispatch, sample extraction); the compressed paths — rice
    * partitions, FIXED/LPC prediction, stereo decorrelation, wasted
    * bits — are pinned by the spec-side encoder round-trips in
    * MultimodalSpec (no FLAC reader ships in the JVM to cross-check
    * against, so the fixture's legality is pinned by the independent
    * table-driven CRC reimplementation there instead). */
  private[graft] def flacFrameVals: org.apache.spark.sql.Column = {
    val nf = lit(50L) + col("doc_id") % 200L
    def b(j: org.apache.spark.sql.Column) =
      pmod(col("doc_id") * 37L + j * 101L, lit(256L))
    val hdr = array(lit(255L), lit(248L), lit(0x70L), lit(0x08L),
      lit(0L), TF.intDivNonNeg(nf - 1L, lit(256L)),
      pmod(nf - 1L, lit(256L)))
    concat(hdr, array(crcFold(hdr, 8, 0x07L)), array(lit(2L)),
      transform(sequence(lit(0L), nf * 2L - 1L), b(_)))
  }

  /** FLAC fixture, part 2: fLaC magic + STREAMINFO (sr 16000, 1
    * channel, 16 bps, `nf` total samples, min = max blocksize = nf,
    * zero MD5 — unknown, per spec) + the frame bytes + its CRC-16. */
  private[graft] def flacBlob(
      frameVals: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val nf = lit(50L) + col("doc_id") % 200L
    def u8h(x: org.apache.spark.sql.Column) =
      lpad(hex(pmod(x, lit(256L))), 2, "0")
    concat(
      lit("fLaC".getBytes),
      unhex(lit("80000022")), // last metadata block, type 0, length 34
      be16b(nf), be16b(nf),   // min/max block size
      unhex(lit("000000000000")), // min/max frame size unknown
      unhex(lit("03E800F0")), // sr 16000 | ch 1 | bps 16 | total hi 0
      be32b(nf),              // total samples (low 32)
      unhex(lit("00" * 16)),  // MD5 unknown
      unhex(array_join(transform(frameVals, u8h(_)), "")),
      be16b(crcFold(frameVals, 16, 0x8005L)))
  }

  /** MP4 (ISO-BMFF) fixture — the byte-primitive pattern for a BOX TREE:
    * every box is length-prefixed big-endian, so the whole container is
    * closed-form; mvhd's duration and tkhd's 16.16 width/height vary
    * per doc (timescale 1000 ⇒ duration_ms = duration). One video trak
    * always; odd docs add an audio trak (constant bytes). Round 11 gives
    * the video trak a REAL sample-table spine
    * (mdia → {mdhd, minf → stbl → {stts, stsz, stco[, stss]}}) with
    * closed-form tables: n = 24 + d%8 frames of size 80 + d%32 + (i%2)
    * bytes, one stts run of delta = 100 + d%50 at media timescale
    * 90000, 1 + d%3 chunks, and (odd docs only) every-8th-sample sync
    * points — absent stss on even docs exercises the all-sync default.
    * The engine walks the tree to recover what the oracle recomputes
    * from the formulas. */
  private[graft] def mp4Blob: org.apache.spark.sql.Column = {
    def beHex(v: Long, n: Int): String = (0 until n)
      .map(i => f"${(v >> (8 * (n - 1 - i))) & 0xff}%02x").mkString
    def asciiHex(t: String): String =
      t.getBytes("ISO-8859-1").map(b => f"$b%02x").mkString
    // constant box skeleton hex (sizes hand-summed: hdlr 33, bare mdia
    // 41, tkhd 92 (v0: 76-byte prefix + w + h), bare trak 141, mvhd 108)
    def hdlr(t: String) = beHex(33, 4) + asciiHex("hdlr") + "00" * 8 +
      asciiHex(t) + "00" * 13
    // the audio trak keeps the bare table-less mdia: the sample-table
    // walker profiles the first VIDEO track only
    def mdiaBare(t: String) = beHex(41, 4) + asciiHex("mdia") + hdlr(t)
    val trakAudio = beHex(141, 4) + asciiHex("trak") +
      beHex(92, 4) + asciiHex("tkhd") + "00" * 84 + mdiaBare("soun")
    val d = col("doc_id")
    val dur = lit(5000L) + (d % 1000L) * 37L
    val w = lit(320L) + (d % 16L) * 8L
    val h = lit(240L) + (d % 9L) * 8L
    val mvhd = concat(
      unhex(lit(beHex(108, 4) + asciiHex("mvhd") + "00" * 12)),
      be32b(lit(1000L)), be32b(dur), unhex(lit("00" * 80)))
    // ---- sample-table closed forms (round 11) ----
    val n = lit(24L) + d % 8L
    val s0 = lit(80L) + d % 32L
    val delta = lit(100L) + d % 50L
    val nc = lit(1L) + d % 3L
    val ns = expr("(31 + doc_id % 8) DIV 8") // ceil(n/8), n = 24 + d%8
    val hasStss = d % 2L === 1L
    // mdhd v0 (32 B): timescale 90000; duration mirrors the stts sum
    val mdhd = concat(
      unhex(lit(beHex(32, 4) + asciiHex("mdhd") + "00" * 12)),
      be32b(lit(90000L)), be32b(n * delta), unhex(lit("00" * 4)))
    // stts (24 B): ONE run of n samples, delta ticks each
    val stts = concat(
      unhex(lit(beHex(24, 4) + asciiHex("stts") + "00" * 4)),
      be32b(lit(1L)), be32b(n), be32b(delta))
    // stsc (28 B): ONE run — every chunk holds spc = ceil(n/nc) samples
    // (the last chunk's true count is governed by n, per ISO 14496-12)
    val spc = expr(
      "((24 + doc_id % 8) + (doc_id % 3)) DIV (1 + doc_id % 3)")
    val stsc = concat(
      unhex(lit(beHex(28, 4) + asciiHex("stsc") + "00" * 4)),
      be32b(lit(1L)), be32b(lit(1L)), be32b(spc), be32b(lit(1L)))
    // stsz (20 + 4n B): explicit table, sizes s0 + (i % 2)
    val stsz = concat(
      be32b(lit(20L) + n * 4L), lit("stsz".getBytes),
      unhex(lit("00" * 8)), // vf + sample_size 0 (table follows)
      be32b(n),
      unhex(array_join(transform(sequence(lit(0L), n - 1L),
        i => lpad(hex(s0 + pmod(i, lit(2L))), 8, "0")), "")))
    // stco (16 + 4nc B): nc chunk offsets at 4096·(i+1)
    val stco = concat(
      be32b(lit(16L) + nc * 4L), lit("stco".getBytes),
      unhex(lit("00" * 4)), be32b(nc),
      unhex(array_join(transform(sequence(lit(1L), nc),
        i => lpad(hex(i * 4096L), 8, "0")), "")))
    // stss (16 + 4·ns B, odd docs): 1-based sync samples 1, 9, 17, …
    val stss = concat(
      be32b(lit(16L) + ns * 4L), lit("stss".getBytes),
      unhex(lit("00" * 4)), be32b(ns),
      unhex(array_join(transform(sequence(lit(0L), ns - 1L),
        i => lpad(hex(i * 8L + 1L), 8, "0")), "")))
    val stblSize = lit(8L + 24L + 28L) + (lit(20L) + n * 4L) +
      (lit(16L) + nc * 4L) +
      when(hasStss, lit(16L) + ns * 4L).otherwise(lit(0L))
    val stbl = concat(be32b(stblSize), lit("stbl".getBytes),
      stts, stsc, stsz, stco,
      when(hasStss, stss).otherwise(lit(Array.empty[Byte])))
    val minf = concat(be32b(stblSize + 8L), lit("minf".getBytes), stbl)
    val mdiaVSize = lit(8L + 32L + 33L + 8L) + stblSize
    val mdiaV = concat(be32b(mdiaVSize), lit("mdia".getBytes), mdhd,
      unhex(lit(hdlr("vide"))), minf)
    val trakVSize = mdiaVSize + lit(8L + 92L)
    val trakVideo = concat(
      be32b(trakVSize), lit("trak".getBytes),
      unhex(lit(beHex(92, 4) + asciiHex("tkhd") + "00" * 76)),
      be32b(w * 65536L), be32b(h * 65536L),
      mdiaV)
    val moovSize = lit(8L + 108L) + trakVSize +
      when(d % 2 === 1, lit(141L)).otherwise(lit(0L))
    concat(
      unhex(lit(beHex(16, 4) + asciiHex("ftyp") + asciiHex("isom") +
        "00000000")),
      be32b(moovSize), lit("moov".getBytes), mvhd, trakVideo,
      when(d % 2 === 1, unhex(lit(trakAudio)))
        .otherwise(lit(Array.empty[Byte])))
  }

  private[graft] def mp4Fixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), mp4Blob.as("blob"))

  /** WebP/VP8L fixture bit array (round 12) — a complete lossless
    * stream in closed form: 8×(4+d%4) pixels, no transforms, SIMPLE
    * prefix codes (2-symbol green {g0,g1} with g0<128≤g1 so canonical
    * and listing order agree; 1-symbol r/b/a/distance read zero bits),
    * one pixel bit each, `(x+y+d)%2` checkerboard. 98 header/tree bits
    * + 8h pixel bits + 6 pad bits — a whole number of bytes. The bits
    * are LSB-first within each byte (the VP8L convention). */
  private[graft] def webpBits: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val h = lit(4L) + d % 4L
    val g0 = lit(10L) + d % 60L
    val g1 = lit(128L) + d % 60L
    val r = lit(20L) + d % 77L
    val bl = lit(30L) + d % 88L
    def bitsOf(v: org.apache.spark.sql.Column, n: Int)
        : org.apache.spark.sql.Column =
      transform(sequence(lit(0), lit(n - 1)), i =>
        pmod((v.cast("double") / pow(lit(2.0), i.cast("double")))
          .cast("long"), lit(2L)).cast("int"))
    def arr(vs: Int*): org.apache.spark.sql.Column =
      array(vs.map(v => lit(v)): _*)
    concat(
      bitsOf(lit(7L), 14),      // width - 1
      bitsOf(h - 1L, 14),       // height - 1
      bitsOf(lit(0L), 4),       // alpha hint + version 0
      arr(0, 0, 0),             // no transforms, no cache, no meta
      arr(1, 1, 1), bitsOf(g0, 8), bitsOf(g1, 8), // green simple2
      arr(1, 0, 1), bitsOf(r, 8),                 // red simple1
      arr(1, 0, 1), bitsOf(bl, 8),                // blue simple1
      arr(1, 0, 1), bitsOf(lit(255L), 8),         // alpha simple1
      arr(1, 0, 1), bitsOf(lit(0L), 8),           // distance simple1
      transform(sequence(lit(0L), h * 8L - 1L), p =>
        pmod(pmod(p, lit(8L)) + TF.intDivNonNeg(p, lit(8L)) + d,
          lit(2L)).cast("int")),
      arr(0, 0, 0, 0, 0, 0))    // byte-align padding
  }

  /** Pack a pre-aliased bit array LSB-first into bytes and wrap it as
    * a RIFF/WEBP container with one VP8L chunk (chunk sizes little-
    * endian, odd payloads padded). `bits` MUST be a bound attribute
    * (the pngAssemble hoisting discipline) — the packing lambda
    * references it per byte. */
  private[graft] def webpAssemble(bits: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val nBytes = TF.intDivNonNeg(size(bits).cast("long"), lit(8L))
    val payBytes = unhex(array_join(
      transform(sequence(lit(0L), nBytes - 1L),
        k => lpad(hex(aggregate(sequence(lit(0L), lit(7L)), lit(0L),
          (acc, j) => acc +
            element_at(bits, (k * 8L + j + 1L).cast("int"))
              .cast("long") *
            pow(lit(2.0), j.cast("double")).cast("long"))), 2, "0")),
      ""))
    val payLen = nBytes + 1L // + signature byte
    val pad = pmod(payLen, lit(2L))
    concat(
      lit("RIFF".getBytes), le32b(lit(4L) + 8L + payLen + pad),
      lit("WEBP".getBytes), lit("VP8L".getBytes), le32b(payLen),
      unhex(lit("2f")), payBytes,
      when(pad === 1L, lit(Array[Byte](0)))
        .otherwise(lit(Array.empty[Byte])))
  }

  /** TIFF fixture (round 12, LZW + predictor round 13) — little-endian,
    * one IFD of 10 sorted entries, BitsPerSample as OFFSET data (6
    * bytes > the 4-byte inline rule — exercising the offset path), one
    * RGB strip whose DECODED bytes are the closed-form primitive
    * `(doc_id·23 + j·29) % 256` (the BMP discipline, oracle unchanged).
    * Docs ≡ 0 (mod 4) store the strip UNCOMPRESSED; odd docs store a
    * REAL TIFF-LZW stream built in-plan (Clear + literal codes + EOI,
    * 9-bit MSB-first — the table never reaches the 511 early-change
    * point at these strip sizes, and the decoder must still drive its
    * full code loop); docs ≡ 2 (mod 4) store a PACKBITS stream (one
    * all-literal run — dsz ≤ 120 < 128, so a single control byte
    * frames the strip; repeat runs are spec territory); docs ≡ 4
    * (mod 8) store an ADOBE-DEFLATE (comp 8) zlib stream with a real
    * Adler-32 trailer; docs ≡ 3
    * (mod 4) additionally apply the horizontal-differencing predictor
    * (tag 317 = 2), so the STORED values are row-wise deltas the
    * decoder must re-accumulate. Layout: header 8 + count 2 + 10·12 +
    * nextIFD 4 = 134 → bits data, 140 → strip. */
  private[graft] def tiffBlob: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val w = lit(3L) + d % 6L
    val h = lit(2L) + d % 4L
    val dsz = w * h * 3L
    val comp5 = d % 2L === 1L
    val pred2 = d % 4L === 3L
    def entry(tag: Long, typ: Long, cnt: Long,
        value: org.apache.spark.sql.Column) =
      concat(le16b(lit(tag)), le16b(lit(typ)), le32b(lit(cnt)), value)
    def shortVal(v: org.apache.spark.sql.Column) =
      concat(le16b(v), le16b(lit(0L)))
    def p(j: org.apache.spark.sql.Column) =
      pmod(d * 23L + j * 29L, lit(256L))
    // stored sample values: raw, or row-wise horizontal deltas
    val rowB = w * 3L
    val stored = transform(sequence(lit(0L), dsz - 1L), j =>
      when(pred2 && pmod(j, rowB) >= 3L, pmod(p(j) - p(j - 3L), lit(256L)))
        .otherwise(p(j)))
    val rawBytes = unhex(array_join(
      transform(stored, v => lpad(hex(v), 2, "0")), ""))
    // all-literal TIFF-LZW stream: Clear(256) + one 9-bit code per
    // stored byte + EOI(257), packed MSB-first, zero-padded to a byte.
    // Packed CLOSED-FORM, never via element_at over a constructed
    // array: an expression referenced inside a HOF lambda re-evaluates
    // per call (the CollapseProject trap — the first cut of this
    // fixture cost 10 s/query at sf0.001 rebuilding a ~1100-element
    // bit array 8× per output byte). Output byte k covers bit window
    // [8k, 8k+8) ⊂ codes a=(8k)div9 and a+1 (9 < 16, so never a
    // third); with o = 8k mod 9 the byte is bits o..o+7 of the 18-bit
    // window (code(a)·512 + code(a+1)) — two O(1) closed-form code
    // lookups and one shift per byte.
    def codeAt(i: org.apache.spark.sql.Column) =
      when(i === 0L, lit(256L))
        .when(i === dsz + 1L, lit(257L))
        .when(i > dsz + 1L, lit(0L)) // zero bit padding past EOI
        .otherwise({
          val j = i - 1L
          when(pred2 && pmod(j, rowB) >= 3L,
            pmod(p(j) - p(j - 3L), lit(256L))).otherwise(p(j))
        })
    val nBits = (dsz + 2L) * 9L
    val nBytes = TF.intDivNonNeg(nBits + 7L, lit(8L))
    val lzwBytes = unhex(array_join(
      transform(sequence(lit(0L), nBytes - 1L), k => {
        val a = TF.intDivNonNeg(k * 8L, lit(9L))
        val o = pmod(k * 8L, lit(9L))
        val w18 = codeAt(a) * 512L + codeAt(a + 1L)
        lpad(hex(pmod(TF.intDivNonNeg(w18,
          pow(lit(2.0), (lit(10L) - o).cast("double")).cast("long")),
          lit(256L))), 2, "0")
      }), ""))
    // PackBits twin: one literal run (control byte = dsz-1) + the raw
    // strip — the minimal conforming stream; repeat/no-op runs are
    // exercised by the JVM spec's real encoder
    val packBytes = concat(unhex(lpad(hex(dsz - 1L), 2, "0")), rawBytes)
    val packbits = d % 4L === 2L
    // Deflate twin (round 13, docs ≡ 4 mod 8 — carved out of the
    // uncompressed residue): a REAL zlib stream — header 78 01, one
    // STORED deflate block (the transparent-compressed-layer
    // discipline), and the Adler-32 trailer computed in closed form
    // (A = 1+Σb, B = n+Σ(n-j)·b, both < 65521 barriers since dsz ≤
    // 120·255) so the Inflater's trailer check is non-vacuous
    val comp8 = d % 8L === 4L
    val sumA = aggregate(sequence(lit(0L), dsz - 1L), lit(0L),
      (a, j) => a + p(j))
    val sumB = aggregate(sequence(lit(0L), dsz - 1L), lit(0L),
      (a, j) => a + (dsz - j) * p(j))
    val adler = pmod(dsz + sumB, lit(65521L)) * 65536L +
      pmod(lit(1L) + sumA, lit(65521L))
    val zlibBytes = concat(unhex(lit("780101")),
      le16b(dsz), le16b(lit(65535L) - dsz), rawBytes,
      unhex(lpad(hex(adler), 8, "0")))
    val strip = when(comp5, lzwBytes).when(packbits, packBytes)
      .when(comp8, zlibBytes)
      .otherwise(rawBytes)
    val stripLen = when(comp5, nBytes).when(packbits, dsz + 1L)
      .when(comp8, dsz + 11L)
      .otherwise(dsz)
    concat(
      lit("II".getBytes), le16b(lit(42L)), le32b(lit(8L)),
      le16b(lit(10L)),
      entry(256, 3, 1, shortVal(w)),
      entry(257, 3, 1, shortVal(h)),
      entry(258, 3, 3, le32b(lit(134L))),
      entry(259, 3, 1, shortVal(when(comp5, lit(5L))
        .when(packbits, lit(32773L)).when(comp8, lit(8L))
        .otherwise(lit(1L)))),
      entry(262, 3, 1, shortVal(lit(2L))),
      entry(273, 4, 1, le32b(lit(140L))),
      entry(277, 3, 1, shortVal(lit(3L))),
      entry(278, 3, 1, shortVal(h)),
      entry(279, 4, 1, le32b(stripLen)),
      entry(317, 3, 1, shortVal(when(pred2, lit(2L)).otherwise(lit(1L)))),
      le32b(lit(0L)),
      le16b(lit(8L)), le16b(lit(8L)), le16b(lit(8L)),
      strip)
  }

  private[graft] def tiffFixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), tiffBlob.as("blob"))

  /** GZIP member fixture (round 12): FNAME header, closed-form mtime,
    * a STORED deflate block (BTYPE=00 - the PNG-fixture discipline:
    * the compressed layer is transparent, the engine must still drive
    * a real Inflater through it) and a REAL CRC32 trailer computed
    * in-plan with Spark's own crc32(). */
  private[graft] def gzipBlob: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    def le16h(v: org.apache.spark.sql.Column) = concat(
      lpad(hex(pmod(v, lit(256L))), 2, "0"),
      lpad(hex(pmod((v / lit(256L)).cast("long"), lit(256L))), 2, "0"))
    def le32h(v: org.apache.spark.sql.Column) = concat(
      le16h(v), le16h((v / lit(65536L)).cast("long")))
    val content = encode(concat(lit("gz-"),
      lpad(d.cast("string"), 6, "0")), "utf-8") // 9 bytes
    val fname = concat(lit("doc"), pmod(d, lit(100L)).cast("string"),
      lit(".txt"))
    concat(
      unhex(concat(lit("1f8b08" + "08"), le32h(d * 100L),
        lit("0003"))),                         // XFL 0, OS unix
      encode(fname, "utf-8"), lit(Array[Byte](0)),
      unhex(lit("01" + "0900" + "f6ff")),      // stored block, len 9
      content,
      unhex(concat(le32h(crc32(content)), le32h(lit(9L)))))
  }

  private[graft] def gzipFixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), gzipBlob.as("blob"))

  /** One complete gzip member as binary: FNAME header, closed-form
    * mtime, a STORED deflate block (BTYPE=00 with LEN + one's-
    * complement NLEN — a valid stream any conforming inflater walks),
    * and a REAL CRC32+ISIZE trailer computed in-plan. Content must be
    * < 64 KiB (single stored block). */
  private[graft] def gzipMemberBytes(fname: org.apache.spark.sql.Column,
      mtime: org.apache.spark.sql.Column,
      content: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val len = octet_length(content).cast("long")
    concat(
      unhex(lit("1f8b08" + "08")), le32b(mtime), unhex(lit("0003")),
      encode(fname, "utf-8"), lit(Array[Byte](0)),
      unhex(lit("01")), le16b(len), le16b(lit(65535L) - len),
      content,
      le32b(crc32(content)), le32b(len))
  }

  /** Multi-member GZIP fixture (round 13): 1+d%3 CONCATENATED members
    * — the layout `.warc.gz` and pigz actually ship — each with its
    * own FNAME/mtime/content and real CRC trailer. */
  private[graft] def gzipMultiBlob: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val k = lit(1L) + d % 3L
    val members = transform(sequence(lit(0L), k - 1L), i =>
      gzipMemberBytes(
        concat(lit("m"), i.cast("string"), lit(".txt")),
        d * 100L + i,
        encode(concat(lit("gzm-"), lpad(d.cast("string"), 6, "0"),
          lit("-"), i.cast("string")), "utf-8")))
    aggregate(members, lit(Array.empty[Byte]), (a, x) => concat(a, x))
  }

  private[graft] def gzipMultiFixture(s: SparkSession, dir: String)
      : DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), gzipMultiBlob.as("blob"))

  /** One ustar header with a CORRECT checksum, computed at plan-build
    * time in Scala (the header is constant per entry index - only the
    * content region is data-dependent). */
  private def tarHeader(name: String, size: Long): Array[Byte] = {
    val h = new Array[Byte](512)
    def put(s: String, off: Int): Unit =
      s.getBytes("UTF-8").zipWithIndex.foreach { case (c, i) =>
        h(off + i) = c }
    put(name, 0)
    put("0000644 ", 100)
    put("0000000 ", 108)
    put("0000000 ", 116)
    put(f"$size%011o ", 124)
    put("00000000000 ", 136)
    (148 until 156).foreach(i => h(i) = ' ')
    h(156) = '0'
    put("ustar 00", 257)
    val sum = h.map(_ & 0xff).sum
    put(f"$sum%06o ", 148)
    h
  }

  private[graft] lazy val tarHeaders: Seq[Array[Byte]] =
    (0 until 3).map(i => tarHeader(s"sample$i.txt", 16))

  /** TAR (WebDataset-shard) fixture (round 12): 1+d%3 entries with
    * plan-time-constant checksummed headers and data-dependent
    * fixed-width contents, zero-block terminated. */
  private[graft] def tarBlob: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val k = lit(1L) + d % 3L
    val headers = typedLit(tarHeaders)
    val pad496 = lit(Array.fill[Byte](496)(0))
    val entryArr = transform(sequence(lit(0L), k - 1L), i =>
      concat(element_at(headers, (i + 1L).cast("int")),
        encode(concat(lit("content-"), lpad(d.cast("string"), 6, "0"),
          lit("-"), i.cast("string")), "utf-8"),
        pad496))
    concat(
      aggregate(entryArr, lit(Array.empty[Byte]),
        (a, x) => concat(a, x)),
      lit(Array.fill[Byte](1024)(0)))
  }

  private[graft] def tarFixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), tarBlob.as("blob"))

  private[graft] lazy val wdsBmpHeaders: Seq[Array[Byte]] =
    (0 until 3).map(i => tarHeader(s"s$i.bmp", 90))
  private[graft] lazy val wdsTxtHeaders: Seq[Array[Byte]] =
    (0 until 3).map(i => tarHeader(s"s$i.txt", 12))

  /** WebDataset-shard fixture (round 13): a tar of 1+d%3 SAMPLES, each
    * two members keyed by basename — `s<i>.bmp` (a real fixed-geometry
    * 4×3 24-bit BMP whose file bytes are the closed-form primitive
    * `(d·11 + i·19 + j·17) % 256`) and `s<i>.txt` (a fixed-width
    * caption). Headers are plan-time constants with correct checksums
    * (sizes are fixed — 90 and 12 bytes); contents are data-dependent. */
  private[graft] def webdatasetBlob: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val k = lit(1L) + d % 3L
    val bmpHeaders = typedLit(wdsBmpHeaders)
    val txtHeaders = typedLit(wdsTxtHeaders)
    val padBmp = lit(Array.fill[Byte](422)(0))  // 512 - 90
    val padTxt = lit(Array.fill[Byte](500)(0))  // 512 - 12
    def bmpBytes(i: org.apache.spark.sql.Column) = {
      // fixed 4×3 24-bit BMP, stride 12 (3·w, no row padding)
      val pixels = unhex(array_join(transform(sequence(lit(0L), lit(35L)),
        j => lpad(hex(pmod(d * 11L + i * 19L + j * 17L, lit(256L))),
          2, "0")), ""))
      concat(lit("BM".getBytes), le32b(lit(90L)), le32b(lit(0L)),
        le32b(lit(54L)), le32b(lit(40L)), le32b(lit(4L)), le32b(lit(3L)),
        le16b(lit(1L)), le16b(lit(24L)), le32b(lit(0L)), le32b(lit(36L)),
        le32b(lit(0L)), le32b(lit(0L)), le32b(lit(0L)), le32b(lit(0L)),
        pixels)
    }
    def caption(i: org.apache.spark.sql.Column) =
      encode(concat(lit("cap-"), lpad(d.cast("string"), 6, "0"),
        lit("-"), i.cast("string")), "utf-8")
    val entryArr = transform(sequence(lit(0L), k - 1L), i =>
      concat(
        element_at(bmpHeaders, (i + 1L).cast("int")), bmpBytes(i), padBmp,
        element_at(txtHeaders, (i + 1L).cast("int")), caption(i), padTxt))
    concat(
      aggregate(entryArr, lit(Array.empty[Byte]), (a, x) => concat(a, x)),
      lit(Array.fill[Byte](1024)(0)))
  }

  private[graft] def webdatasetFixture(s: SparkSession, dir: String)
      : DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), webdatasetBlob.as("blob"))

  /** WARC fixture (round 12): one warcinfo record + 1+d%3 response
    * records with closed-form URIs, alternating 200/404 statuses and
    * fixed-width 13-byte bodies (HTTP head 19 B → Content-Length 32).
    * Pure-ASCII assembly as a STRING, encoded once. */
  /** The fixture's WARC records as an array<string> — one warcinfo
    * record + 1+d%3 responses — shared by the plain concatenation
    * ([[warcBlob]]) and the per-record gzip wrap ([[warcGzBlob]]). */
  private[graft] def warcRecordStrings: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val k = lit(1L) + d % 3L
    val crlf = "\r\n"
    def record(headers: org.apache.spark.sql.Column,
        body: org.apache.spark.sql.Column) =
      concat(lit("WARC/1.0" + crlf), headers, lit(crlf), body,
        lit(crlf + crlf))
    val info = record(
      concat(lit("WARC-Type: warcinfo" + crlf),
        lit("Content-Length: 10" + crlf)),
      lit("info-body!"))
    concat(array(info),
      transform(sequence(lit(0L), k - 1L), i =>
        record(
          concat(lit("WARC-Type: response" + crlf),
            lit("WARC-Target-URI: http://site"), pmod(d, lit(50L)),
            lit(".example/p"), i, lit(crlf),
            lit("Content-Length: 32" + crlf)),
          concat(
            when(pmod(i, lit(2L)) === 0L, lit("HTTP/1.1 200 OK" + crlf))
              .otherwise(lit("HTTP/1.1 404 NO" + crlf)),
            lit(crlf), lit("body-"),
            lpad(d.cast("string"), 6, "0"), lit("-"), i))))
  }

  private[graft] def warcBlob: org.apache.spark.sql.Column =
    encode(array_join(warcRecordStrings, ""), "utf-8")

  private[graft] def warcFixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), warcBlob.as("blob"))

  /** `.warc.gz` fixture (round 13): the SAME records as [[warcBlob]],
    * but each record wrapped in its own gzip member and the members
    * concatenated — the Common Crawl crawl-archive layout. Real
    * in-plan CRC32 trailers; the walker must inflate every member and
    * recover the record framing across member boundaries. */
  private[graft] def warcGzBlob: org.apache.spark.sql.Column =
    aggregate(
      transform(warcRecordStrings, (r, i) =>
        gzipMemberBytes(concat(lit("r"), i.cast("string"), lit(".warc")),
          lit(0L), encode(r, "utf-8"))),
      lit(Array.empty[Byte]), (a, x) => concat(a, x))

  private[graft] def warcGzFixture(s: SparkSession, dir: String)
      : DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), warcGzBlob.as("blob"))

  /** ZIP fixture (round 12, DEFLATE + real CRCs round 13): 2+d%3
    * entries, names "f<i>.txt", fixed-width 16-byte contents
    * "payload-<d zero-padded to 6>-<i>". Even entries are STORED
    * (local record 52 B); odd entries are DEFLATED (method 8) with the
    * data wrapped in one stored deflate block (5 B framing → local
    * record 57 B) — a valid raw-deflate stream the walker must drive a
    * real Inflater through (the PNG-fixture discipline). CRC32s are
    * REAL, computed in-plan over the uncompressed bytes, so the
    * walker's crc_ok verification has something honest to check.
    * Every record length is closed-form, so all offsets are pure
    * arithmetic for the oracle while the walker must really resolve
    * EOCD → central directory → local headers. */
  private[graft] def zipBlob: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val k = lit(2L) + d % 3L
    def le16h(v: org.apache.spark.sql.Column) = concat(
      lpad(hex(pmod(v, lit(256L))), 2, "0"),
      lpad(hex(pmod((v / lit(256L)).cast("long"), lit(256L))), 2, "0"))
    def le32h(v: org.apache.spark.sql.Column) = concat(
      le16h(v), le16h((v / lit(65536L)).cast("long")))
    def nameHex(i: org.apache.spark.sql.Column) = concat(
      lit("66"), lpad(hex(lit(48L) + i), 2, "0"), lit("2e747874")) // f<i>.txt
    def dataHex(i: org.apache.spark.sql.Column) = concat(
      lit("7061796c6f61642d"),                       // "payload-"
      // six zero-padded decimal digits of d, as ASCII hex
      array_join(transform(sequence(lit(0), lit(5)), j =>
        lpad(hex(lit(48L) +
          pmod(TF.intDivNonNeg(d,
            pow(lit(10.0), (lit(5) - j).cast("double")).cast("long")),
            lit(10L))), 2, "0")), ""),
      lit("2d"), lpad(hex(lit(48L) + i), 2, "0"))    // "-<i>"
    def isDef(i: org.apache.spark.sql.Column) = pmod(i, lit(2L)) === 1L
    def crcHex(i: org.apache.spark.sql.Column) =
      le32h(crc32(unhex(dataHex(i))))
    def methodHex(i: org.apache.spark.sql.Column) =
      when(isDef(i), "0800").otherwise("0000")
    def csizeHex(i: org.apache.spark.sql.Column) =
      when(isDef(i), "15000000").otherwise("10000000")
    // stored deflate block: BTYPE=00, LEN=16 le, NLEN=~16 le
    def bodyHex(i: org.apache.spark.sql.Column) =
      when(isDef(i), concat(lit("01" + "1000" + "efff"), dataHex(i)))
        .otherwise(dataHex(i))
    // local record lengths: stored 52, deflated 57
    def localOff(i: org.apache.spark.sql.Column) =
      TF.intDivNonNeg(i + 1L, lit(2L)) * 52L +
        TF.intDivNonNeg(i, lit(2L)) * 57L
    val locals = array_join(transform(sequence(lit(0L), k - 1L), i =>
      concat(lit("504b0304" + "1400" + "0000"), methodHex(i),
        lit("0000" + "0000"), crcHex(i), csizeHex(i),
        lit("10000000" + "0600" + "0000"),
        nameHex(i), bodyHex(i))), "")
    val cdStart = localOff(k)
    val cd = array_join(transform(sequence(lit(0L), k - 1L), i =>
      concat(lit("504b0102" + "1400" + "1400" + "0000"), methodHex(i),
        lit("0000" + "0000"), crcHex(i), csizeHex(i),
        lit("10000000" + "0600" + "0000" +
          "0000" + "0000" + "0000" + "00000000"),
        le32h(localOff(i)), nameHex(i))), "")
    val eocd = concat(lit("504b0506" + "0000" + "0000"),
      le16h(k), le16h(k), le32h(k * 52L), le32h(cdStart), lit("0000"))
    unhex(concat(locals, cd, eocd))
  }

  private[graft] def zipFixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), zipBlob.as("blob"))

  /** Zstandard frame fixture (round 13) — per doc an optional
    * SKIPPABLE frame (docs ≡ 0 mod 3: magic 0x184D2A50, 4-byte opaque
    * payload) followed by one REAL single-segment zstd frame whose two
    * blocks are a Raw literal run (closed-form letters) and a final
    * RLE run — valid RFC 8878 wire bytes constructible without an
    * entropy coder (the stored-deflate discipline), so the walker must
    * still drive its full descriptor/FCS/block-chain machinery and the
    * oracle replays every field in closed form. */
  private[graft] def zstdBlob: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val m = lit(8L) + d % 9L
    val r = lit(3L) + d % 5L
    val dsz = m + r
    def b1(x: org.apache.spark.sql.Column) =
      lpad(hex(pmod(x, lit(256L))), 2, "0")
    def le24h(x: org.apache.spark.sql.Column) = concat(b1(x),
      b1(TF.intDivNonNeg(x, lit(256L))),
      b1(TF.intDivNonNeg(x, lit(65536L))))
    val lits = array_join(transform(sequence(lit(0L), m - 1L), j =>
      b1(lit(97L) + pmod(d * 7L + j * 3L, lit(26L)))), "")
    val frame = concat(
      lit("28b52ffd"),    // zstd magic, little-endian
      lit("20"),          // descriptor: Single_Segment, 1-byte FCS
      b1(dsz),            // Frame_Content_Size (<= 22 here)
      le24h(m * 8L),      // block 1: Raw, not last
      lits,
      le24h(r * 8L + 3L), // block 2: RLE, last
      b1(lit(97L) + d % 26L))
    val skippable = concat(lit("502a4d18" + "04000000"),
      array_join(transform(sequence(lit(0L), lit(3L)),
        j => b1(d + j)), ""))
    unhex(concat(
      when(d % 3L === 0L, skippable).otherwise(lit("")), frame))
  }

  private[graft] def zstdFixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), zstdBlob.as("blob"))

  /** REAL libzstd frames (level 3, generated by
    * `tools/gen_zstd_vectors.py`'s codec — golden templates, NOT
    * hand-built): four closed-form plaintexts whose decoded bytes the
    * oracle replays exactly, so `source_zstd_compressed` checks the
    * frame walk and the decode of reference-encoder output inside
    * the driver's correctness gate, not just in specs. */
  private val ZstdGoldenHex: Seq[String] = Seq(
    // repeat('alpha ', 40) — 240 bytes -> 22
    "28b52ffd20f06d000030616c706861200100e750a508",
    // repeat('the quick brown fox jumps over the lazy dog. ', 8)
    "28b52ffd606800bd0100c40274686520717569636b2062726f776e20666f78" +
      "206a756d7073206f76657220746865206c617a7920646f672e020034502" +
      "9c0106619",
    // chr(97 + (i*11 + 5) % 26) over range(300)
    "28b52ffd602c000d0100d06671626d7869746570616c776873646f7a6b7667" +
      "72636e796a7501003eb43ac7",
    // repeat('key=value;', 30)
    "28b52ffd602c008d0000506b65793d76616c75653b01001f550b12")

  private[graft] def zstdCompressedFixture(s: SparkSession,
      dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), unhex(element_at(
        array(ZstdGoldenHex.map(lit): _*),
        (pmod(col("doc_id"), lit(4L)) + 1L).cast("int"))).as("blob"))

  /** REAL libzstd frames each compressing ONE closed-form WARC record
    * (the Common Crawl `.warc.zst` layout — one frame per record,
    * concatenated): r0 response/a (body 53, HTTP 200), r1 request/a
    * (19), r2 response/b (35, 404), r3 metadata/b (12). */
  private val WarcZstHex: Seq[String] = Seq(
    "28b52ffd2095cd030092471a1b70691de9e2cdaed6f012efdf2cbf34f4b500" +
      "b5805de1ab74f93241babacc5842e84a5c3c38fb19fe8503a7046085542" +
      "38e63a0ab1b10f0523e896e381ffda36cbaaf17a9400ee7f218debde6bf" +
      "c28be012e73d619e3751cec6195e3e1bc7698e21ba09a96e8e210104005" +
      "003a66180a1d4362131f3",
    "28b52ffd20723d0300a2c6171c606b75a893fdd07a4b5b21c0af265311e5cf" +
      "cd26932b60c90236e504cfe7f39950da8373047dab4e30783e034995d20" +
      "964c369c80d19f67cbb3009c48ab83c07efaad8ada82a34c4694e9ad70c" +
      "6e2cb851c5f1e10e6b0b7902505ad6161201001c319d",
    "28b52ffd2083bd030072c71a1d606b1da869843ab4ed5f88e3cc5908b42049" +
      "2446f5699d621611780506baba02761c9a138a18fe8803fe786025519829" +
      "b6101012747503006ecf3bde86f4deefd1e92a561417aa1b326a20bd5693" +
      "ff0fb7c24ba46fc7d1f4f428673bb8b58cc0e4dec2e8268a2df716260200" +
      "4dcf1043623a01",
    "28b52ffd206c0d03004246161b7069dbd9a1dac6c569b178e71e31c30f61f8" +
      "98d1533cfcd739000b989848d24db4c396b701131349baec8cebc0b9ebbb" +
      "466112506b16a30fafb1a211daf7335dc01a9c3783603e17f8dd74fb2d04" +
      "47ad44c13c8c84d44a94010021319d")

  /** REAL LZ4 frames (pyarrow's bundled reference encoder) over the
    * same four closed-form plaintexts as [[ZstdGoldenHex]] — the
    * Kafka/Parquet codec pinned inside the driver's correctness
    * gate. */
  private val Lz4GoldenHex: Seq[String] = Seq(
    "04224d18604082100000006f616c706861200600d2506c706861200000" +
      "0000",
    "04224d186040823a000000f01074686520717569636b2062726f776e20" +
      "666f78206a756d7073206f766572201f00916c617a7920646f672e0e00" +
      "0f2d00ff2050646f672e2000000000",
    "04224d1860408225000000ff0b6671626d7869746570616c776873646f" +
      "7a6b766772636e796a751a00fa50616c77687300000000",
    "04224d1860408215000000af6b65793d76616c75653b0a00ff0b50616c" +
      "75653b00000000")

  private[graft] def lz4Fixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), unhex(element_at(
        array(Lz4GoldenHex.map(lit): _*),
        (pmod(col("doc_id"), lit(4L)) + 1L).cast("int"))).as("blob"))

  /** REAL Snappy raw blocks (same reference encoder, same four
    * plaintexts). */
  private val SnappyGoldenHex: Seq[String] = Seq(
    "f00114616c70686120fe0600fe0600fe0600a60600",
    "e8027874686520717569636b2062726f776e20666f78206a756d707320" +
      "6f76657220011f206c617a7920646f672e050efe2d00fe2d00fe2d00fe" +
      "2d00da2d00",
    "ac02646671626d7869746570616c776873646f7a6b766772636e796a75" +
      "fe1a00fe1a00fe1a00fe1a00461a00",
    "ac02246b65793d76616c75653bfe0a00fe0a00fe0a00fe0a00860a00")

  private[graft] def snappyFixture(s: SparkSession,
      dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), unhex(element_at(
        array(SnappyGoldenHex.map(lit): _*),
        (pmod(col("doc_id"), lit(4L)) + 1L).cast("int"))).as("blob"))


  /** REAL Kafka RecordBatch v2 segments (the independent python
    * writer + reference codecs, `tools/gen_kafka_vectors.py`): one
    * 6-record batch per codec, chosen by doc residue — the whole
    * decompress-and-walk surface inside the driver's DuckDB gate. */
  private val KafkaBatchHex: Seq[String] = Seq(
    "00000000000003e8000000f70000000002a86f44500000000000050000" +
      "0174876e800000000174876e8032ffffffffffffffffffffffffffff00" +
      "000006420000000e6b6e6f6e652d301a76616c75652d6e6f6e652d302d" +
      "0204683106687630360014020e6b6e6f6e652d311c76616c75652d6e6f" +
      "6e652d312d7800460028040e6b6e6f6e652d321e76616c75652d6e6f6e" +
      "652d322d787802046831066876323a003c060e6b6e6f6e652d33207661" +
      "6c75652d6e6f6e652d332d787878004a0050080e6b6e6f6e652d342276" +
      "616c75652d6e6f6e652d342d7878787802046831066876343e00640a0e" +
      "6b6e6f6e652d352476616c75652d6e6f6e652d352d787878787800",
    "00000000000003e8000000b000000000029296a26b0001000000050000" +
      "0174876e800000000174876e8032ffffffffffffffffffffffffffff00" +
      "0000061f8b080000000000000373626060e0cb4eafca2cd035902a4bcc" +
      "294dd58570749958320cd932ca0ccc184498a02a0c65905418ea5630b8" +
      "3168b040e58ce490e48c742b2aa0fa8dac186cd8a06a8c1590d41803d5" +
      "54307831047040654d9490644d40b230334cec1852b8a0aa4c55905499" +
      "82555530000050ea88eac6000000",
    "00000000000003e8000000b800000000021adaf0a00002000000050000" +
      "0174876e800000000174876e8032ffffffffffffffffffffffffffff00" +
      "000006de01504a000000126b736e617070792d301e76616c75652d110f" +
      "302d02046831066876303e00140215260431203226001c312d78004e00" +
      "280415200432223220000c322d78780d48143242003c0612116e043324" +
      "32280024332d7878780052005008152204342632220000340122114c10" +
      "344600640a152a043528322a001c352d787878787800",
    "00000000000003e8000000be00000000028aaae48a0003000000050000" +
      "0174876e800000000174876e8032ffffffffffffffffffffffffffff00" +
      "00000604224d186040827e000000f1033e0000000c6b6c7a342d301876" +
      "616c75652d0c00d22d020468310668763032001402200026311a200082" +
      "312d7800420028041a0026321c1a0043322d78783c00523236003c0622" +
      "0026331e2200a2332d78787800460050081c002634201c0010341c0004" +
      "400052343a00640a2400263522240080352d78787878780000000000",
    "00000000000003e8000000ad0000000002c86058ca0004000000050000" +
      "0174876e800000000174876e8032ffffffffffffffffffffffffffff00" +
      "00000628b52ffd20c69d03006245141c704d8e01f160115f6be03f27df" +
      "7b5d520c9a64c9b8bb1bb4dd942f05fdff1b1220139b78bfdfe02d8d32" +
      "fadf4ee014a287f6bb055a2a74d19b0118726a58532a2613b21f948863" +
      "3ecb7122a9409ab68a0d00c060c8fa0885008383ca08180c590f211360" +
      "f0cfcc81c18aca3f0c330c")

  /** Spec hook: one codec's golden batch hex (0 none … 4 zstd). */
  private[graft] def kafkaBatchHexFor(i: Int): String = KafkaBatchHex(i)

  private[graft] def kafkaFixture(s: SparkSession,
      dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), unhex(element_at(
        array(KafkaBatchHex.map(lit): _*),
        (pmod(col("doc_id"), lit(5L)) + 1L).cast("int"))).as("blob"))

  /** Per doc: k = 2 + doc%3 record frames, rotation start doc%4 — the
    * record SET varies by doc so the oracle check is non-vacuous. */
  private[graft] def warcZstFixture(s: SparkSession,
      dir: String): DataFrame = {
    val d = col("doc_id")
    val frames = array(WarcZstHex.map(lit): _*)
    val k = lit(2L) + d % 3L
    val blobHex = array_join(transform(sequence(lit(0L), k - 1L), j =>
      element_at(frames, (pmod(d + j, lit(4L)) + 1L).cast("int"))), "")
    t(s, dir, "documents")
      .select(d, unhex(blobHex).as("blob"))
  }

  /** WARC + HTTP fixture (round 15) — the Common Crawl text-pipeline
    * capstone: per doc, one warcinfo record + one response record
    * whose HTTP payload carries the text_html_strip HTML wrap of the
    * doc's OWN text, rotated through the four transport/content
    * coding combinations (doc%4): gzip+chunked, gzip+content-length,
    * identity+chunked, identity+content-length. The gzip member is a
    * real stream (stored deflate block + in-plan CRC32/ISIZE
    * trailer); chunked framing is 200-byte hex-sized chunks with a
    * terminal 0-chunk. The whole record stream is then compressed
    * into one real RFC 8878 frame by the repo's own encoder, so the
    * consumer decodes `.warc.zst → de-chunk → gunzip → charset →
    * strip` in a single declarative plan. Each construction stage is
    * hoisted into its own select (the mm_wav_meta task-binary trap:
    * never hand a large constructed Column to an operator that
    * references it many times). */
  private[graft] def warcHtmlZstFixture(s: SparkSession,
      dir: String): DataFrame =
    warcHtmlZstBlobs(t(s, dir, "documents"))

  /** The fixture construction over ANY (doc_id, source, text) frame —
    * the capstone pipeline feeds group-duplicated pages through it. */
  private[graft] def warcHtmlZstBlobs(docs: DataFrame): DataFrame = {
    val esc = replace(replace(col("text"), lit("&"), lit("&amp;")),
      lit("<"), lit("&lt;"))
    val html = concat(lit("<div class=\"doc\"><h1>"), col("source"),
      lit("</h1><p>"), esc, lit("</p><br/></div>"))
    warcResponseZstBlobs(
      docs.select(col("doc_id"), encode(html, "utf-8").as("payload")),
      "text/html; charset=utf-8")
  }

  /** The same assembly over ANY (doc_id, payload binary) frame with a
    * caller-chosen Content-Type — image crawls route BINARY bodies
    * through the identical transport rotations (round 15). */
  private[graft] def warcResponseZstBlobs(docs: DataFrame,
      contentType: String): DataFrame =
    warcResponseZstBlobsCt(docs, lit(contentType))

  /** [[warcResponseZstBlobs]] with a PER-ROW Content-Type column —
    * the charset-rotation fixture varies the header per doc
    * (round 16). */
  private[graft] def warcResponseZstBlobsCt(docs: DataFrame,
      contentType: org.apache.spark.sql.Column): DataFrame = {
    val d = col("doc_id")
    val crlf = "\r\n"
    val gzipCond = pmod(d, lit(4L)) < 2L
    val chunkedCond = pmod(d, lit(2L)) === 0L
    def gzipBare(content: org.apache.spark.sql.Column) = {
      val len = octet_length(content).cast("long")
      concat(unhex(lit("1f8b0800" + "00000000" + "0003" + "01")),
        le16b(len), le16b(lit(65535L) - len), content,
        le32b(crc32(content)), le32b(len))
    }
    // 200-byte chunks, lowercase-hex sizes, 0-chunk terminator (the
    // content is never empty: gzip ≥ 23 B, html ≥ the wrap tags)
    def chunked(body: org.apache.spark.sql.Column) = {
      val n = octet_length(body).cast("long")
      val lastIdx = TF.intDivNonNeg(n - 1L, lit(200L))
      concat(
        aggregate(
          transform(sequence(lit(0L), lastIdx), i => {
            val off = i * 200L
            val take = least(lit(200L), n - off)
            concat(
              encode(concat(lower(hex(take)), lit(crlf)), "utf-8"),
              body.substr((off + 1L).cast("int"), take.cast("int")),
              encode(lit(crlf), "utf-8"))
          }),
          lit(Array.empty[Byte]), (a, x) => concat(a, x)),
        encode(lit("0" + crlf + crlf), "utf-8"))
    }
    val head = concat(
      lit("HTTP/1.1 200 OK" + crlf),
      concat(lit("Content-Type: "), contentType, lit(crlf)),
      when(gzipCond, lit("Content-Encoding: gzip" + crlf))
        .otherwise(lit("")),
      when(chunkedCond, lit("Transfer-Encoding: chunked" + crlf))
        .otherwise(concat(lit("Content-Length: "),
          octet_length(col("content")).cast("string"), lit(crlf))),
      lit(crlf))
    val warcHead = concat(
      lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
        "WARC-Target-URI: http://site"),
      pmod(d, lit(50L)).cast("string"),
      lit(".example/doc"), d.cast("string"), lit(crlf),
      lit("Content-Length: "),
      octet_length(col("http")).cast("string"), lit(crlf + crlf))
    val infoRec = "WARC/1.0" + crlf + "WARC-Type: warcinfo" + crlf +
      "Content-Length: 10" + crlf + crlf + "info-body!" + crlf + crlf
    docs
      .select(d, when(gzipCond, gzipBare(col("payload")))
        .otherwise(col("payload")).as("content"))
      .select(d, col("content"),
        when(chunkedCond, chunked(col("content")))
          .otherwise(col("content")).as("wire"))
      .select(d, concat(encode(head, "utf-8"), col("wire"))
        .as("http"))
      .select(d, concat(encode(lit(infoRec), "utf-8"),
        encode(warcHead, "utf-8"), col("http"),
        encode(lit(crlf + crlf), "utf-8")).as("warc"))
      .select(d, graft.plans.MediaExprs.zstdCompressCol(col("warc"))
        .as("blob"))
  }

  /** In-plan PDF assembly (round 16): `bodies` are BINARY object
    * bodies (no `N 0 obj` wrapper); object offsets, the xref table
    * and `startxref` are computed from `octet_length` exactly as a
    * real writer would. `broken` forces a dangling `startxref`
    * (exercises the extractor's object-scan fallback). Callers hoist
    * the bodies into named columns first (the task-binary trap). */
  private def pdfAssemble(bodies: Seq[org.apache.spark.sql.Column],
      broken: org.apache.spark.sql.Column,
      trailerExtra: String = "")
      : org.apache.spark.sql.Column = {
    def asc(s: String) = encode(lit(s), "utf-8")
    val objs = bodies.zipWithIndex.map { case (bdy, i) =>
      concat(asc(s"${i + 1} 0 obj\n"), bdy, asc("\nendobj\n")) }
    val lens = objs.map(o => octet_length(o).cast("long"))
    // offs(i) = 9 + len(obj_1..i-1); offs(N) = xref offset
    val offs = lens.scanLeft(lit(9L)) { (acc, l) => acc + l }
    val xref = concat(
      asc(s"xref\n0 ${bodies.length + 1}\n0000000000 65535 f \n") +:
      offs.dropRight(1).map(o => concat(
        encode(lpad(o.cast("string"), 10, "0"), "utf-8"),
        asc(" 00000 n \n"))): _*)
    val startxref =
      when(broken, lit(999999999L)).otherwise(offs.last)
    val trailer = concat(
      asc(s"trailer\n<< /Size ${bodies.length + 1} /Root 1 0 R " +
        s"$trailerExtra>>\nstartxref\n"),
      encode(startxref.cast("string"), "utf-8"), asc("\n%%EOF\n"))
    concat(asc("%PDF-1.4\n") +: objs :+ xref :+ trailer: _*)
  }

  /** PDF fixture rotation (round 16) — four residues through the
    * classic core: r0 plain xref + Td lines + literal escapes, r1
    * WinAnsiEncoding with real cp1252 high bytes + TJ kerning, r2 TWO
    * pages with a hex string and the `'` operator, r3 a broken
    * `startxref` (object-scan fallback) + Tm + the `"` operator. All
    * content uncompressed so every byte is closed-form (the
    * FlateDecode path is pinned by PdfGoldenSpec's python-zlib
    * vectors). */
  private[graft] def pdfFixture(s: SparkSession,
      dir: String): DataFrame = {
    val d = col("doc_id")
    val r = pmod(d, lit(4L))
    def asc(c: org.apache.spark.sql.Column) = encode(c, "utf-8")
    val base = t(s, dir, "documents")
      .select(d, r.as("r"),
        substring(col("text"), 1, 30).as("s1"),
        substring(col("text"), 31, 30).as("s2"),
        substring(col("text"), 1, 20).as("t1"),
        substring(col("text"), 21, 20).as("t2"),
        substring(col("text"), 21, 14).as("u2"),
        substring(col("text"), 35, 14).as("u3"),
        substring(col("text"), 1, 25).as("a25"),
        substring(col("text"), 26, 20).as("b20"))
    val withContent = base.select(col("doc_id"), col("r"),
      when(col("r") === 0, asc(concat(
          lit("BT /F1 12 Tf 72 720 Td (Doc \\("), col("doc_id"),
          lit("\\)) Tj 0 -14 Td ("), col("s1"),
          lit(") Tj 0 -14 Td ("), col("s2"), lit(") Tj ET"))))
        .when(col("r") === 1, concat(
          asc(lit("BT /F1 10 Tf (price ")), unhex(lit("80")),
          asc(lit(" caf")), unhex(lit("E9")),
          asc(concat(lit(") Tj 0 -12 Td [ ("), col("t1"),
            lit(" ) -200 ("), col("t2"), lit(") ] TJ ET")))))
        .otherwise(asc(concat(
          lit("BT /F1 9 Tf 1 0 0 1 72 720 Tm ("), col("a25"),
          lit(") Tj 1 2 ("), col("b20"), lit(") \" ET"))))
        .as("cA"),
      asc(concat(lit("BT /F1 10 Tf ("), col("t1"), lit(") Tj ET")))
        .as("cB1"),
      concat(asc(lit("BT /F1 10 Tf <")),
        asc(hex(asc(col("u2")))),
        asc(concat(lit("> Tj ("), col("u3"), lit(") ' ET"))))
        .as("cB2"))
    def contentObj(c: org.apache.spark.sql.Column) = concat(
      asc(concat(lit("<< /Length "),
        octet_length(c).cast("string"), lit(" >>\nstream\n"))),
      c, asc(lit("\nendstream")))
    val catalog = asc(lit("<< /Type /Catalog /Pages 2 0 R >>"))
    def pagesObj(kids: String) =
      asc(lit(s"<< /Type /Pages /Kids [$kids] /Count " +
        s"${kids.count(_ == 'R')} >>"))
    def pageObj(contents: Int) =
      asc(lit(s"<< /Type /Page /Parent 2 0 R /Resources << /Font " +
        s"<< /F1 5 0 R >> >> /Contents $contents 0 R >>"))
    val helv = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
    val fontA = when(col("r") === 1,
        asc(lit(helv + " /Encoding /WinAnsiEncoding >>")))
      .otherwise(asc(lit(helv + " >>")))
    val hoisted = withContent.select(col("doc_id"), col("r"),
      contentObj(col("cA")).as("oA4"),
      contentObj(col("cB1")).as("oB4"),
      contentObj(col("cB2")).as("oB7"),
      fontA.as("oFont"))
    hoisted.select(col("doc_id"),
      when(col("r") === 2, pdfAssemble(Seq(
          catalog, pagesObj("3 0 R 6 0 R"), pageObj(4), col("oB4"),
          asc(lit(helv + " >>")), pageObj(7), col("oB7")),
          broken = lit(false)))
        .otherwise(pdfAssemble(Seq(
          catalog, pagesObj("3 0 R"), pageObj(4), col("oA4"),
          col("oFont")), broken = col("r") === 3))
        .as("blob"))
  }

  /** PDF-1.5 MODERN-LAYOUT fixture (round 16): even docs carry the
    * ObjStm + xref-STREAM layout (all non-stream objects inside an
    * uncompressed `/Type /ObjStm`, a W=[1,2,1] xref stream with
    * type-2 entries — offsets computed in-plan, binary rows via
    * unhex); odd docs a classic-xref Type0/Identity-H font whose
    * `/ToUnicode` CMap is the identity bfrange over printable ASCII,
    * content as 2-byte hex-string codes. The flate+predictor halves
    * of both features are pinned by PdfGoldenSpec's python vectors. */
  private[graft] def pdfModernFixture(s: SparkSession,
      dir: String): DataFrame = {
    val d = col("doc_id")
    def asc(c: org.apache.spark.sql.Column) = encode(c, "utf-8")
    // ---- modern residue constants ----
    val innerNums = Seq(10, 11, 12, 13)
    val innerBodies = Seq(
      "<< /Type /Catalog /Pages 11 0 R >>",
      "<< /Type /Pages /Kids [12 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 11 0 R /Resources << /Font " +
        "<< /F1 13 0 R >> >> /Contents 2 0 R >>",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val innerOffs = innerBodies.scanLeft(0)((a, b) => a + b.length + 1)
    val stmHeader = innerNums.zip(innerOffs)
      .map { case (n, o) => s"$n $o" }.mkString(" ") + "\n"
    val stmPayload = stmHeader + innerBodies.mkString("\n") + "\n"
    val objStmWrapped = "1 0 obj\n<< /Type /ObjStm /N 4 /First " +
      s"${stmHeader.length} /Length ${stmPayload.length} " +
      s">>\nstream\n$stmPayload\nendstream\nendobj\n"
    val off1 = 9 // after "%PDF-1.5\n"
    val off2 = off1 + objStmWrapped.length
    def xrow1(off: Int): String = f"01$off%04x00" // type-1 const hex
    val rowsHead = "00000000" + xrow1(off1) + xrow1(off2)
    val rowsTail = "00000000" * 6 +
      (0 until 4).map(i => f"02${1}%04x$i%02x").mkString
    // ---- per-doc columns ----
    val base = t(s, dir, "documents")
      .select(d,
        substring(col("text"), 1, 30).as("l1"),
        substring(col("text"), 31, 18).as("l2"),
        substring(col("text"), 1, 24).as("w"))
    val content = concat(lit("BT /F1 9 Tf ("), col("l1"),
      lit(") Tj 0 -12 Td ("), col("l2"), lit(") Tj ET"))
    val contentWrapped = concat(
      lit("2 0 obj\n<< /Length "),
      octet_length(content).cast("string"),
      lit(" >>\nstream\n"), content, lit("\nendstream\nendobj\n"))
    val xrefAt = lit(off2.toLong) + octet_length(contentWrapped)
    val xrefData = concat(unhex(lit(rowsHead)),
      unhex(lit("01")), unhex(lpad(hex(xrefAt), 4, "0")),
      unhex(lit("00")), unhex(lit(rowsTail)))
    val xrefBody = concat(
      asc(lit("3 0 obj\n<< /Type /XRef /Size 14 /W [1 2 1] " +
        "/Root 10 0 R /Length 56 >>\nstream\n")),
      xrefData,
      asc(concat(lit("\nendstream\nendobj\nstartxref\n"),
        xrefAt.cast("string"), lit("\n%%EOF\n"))))
    val modern = concat(asc(lit("%PDF-1.5\n" + objStmWrapped)),
      asc(contentWrapped), xrefBody)
    // ---- Type0 / ToUnicode residue (classic xref via pdfAssemble) --
    val cmap = "1 beginbfrange\n<0020> <007e> <0020>\nendbfrange\n"
    val type0Font = "<< /Type /Font /Subtype /Type0 /BaseFont /CIDX " +
      "/Encoding /Identity-H /ToUnicode 6 0 R >>"
    val hexCodes = regexp_replace(hex(asc(col("w"))),
      "(..)", "00$1")
    val t0Content = concat(lit("BT /F1 10 Tf <"), hexCodes,
      lit("> Tj ET"))
    val hoisted = base.select(d, modern.as("modern"),
      concat(asc(concat(lit("<< /Length "),
        octet_length(t0Content).cast("string"),
        lit(" >>\nstream\n"))), asc(t0Content),
        asc(lit("\nendstream"))).as("oT4"))
    val catalogB = asc(lit("<< /Type /Catalog /Pages 2 0 R >>"))
    val t0blob = pdfAssemble(Seq(
      catalogB,
      asc(lit("<< /Type /Pages /Kids [3 0 R] /Count 1 >>")),
      asc(lit("<< /Type /Page /Parent 2 0 R /Resources << /Font " +
        "<< /F1 5 0 R >> >> /Contents 4 0 R >>")),
      col("oT4"),
      asc(lit(type0Font)),
      asc(lit(s"<< /Length ${cmap.length} >>\nstream\n$cmap" +
        "\nendstream"))), broken = lit(false))
    hoisted.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(2L)) === 0, col("modern"))
        .otherwise(t0blob).as("blob"))
  }

  /** The IIPC `.warc.zst` DICTIONARY frame (round 14): skippable magic
    * `0x184D2A5D` wrapping a REAL `zstd --train` dictionary (RFC 8878
    * §5 structured format — entropy tables + rep offsets + content
    * prefix; `tools/gen_zstd_vectors.py`). Common Crawl ships its
    * crawl archives in exactly this layout: the dictionary leads the
    * stream in-band and every record frame references it. */
  private val WarcZstDictHeadHex: String =
    "5d2a4d180004000037a430ec2fac915b1910103ca5030000e6799ee7799e" +
      "2f65cb2db79432f66f134f0353080000079806c61e0000040000814a3a06" +
      "12030b090b0f83c34085601800000000000038400e00056050008061810c" +
      "f099010000946a9c17000000000000000000000000000000010000000400" +
      "0000080000006774683a2034350d0a0d0a6669656c64303d76616c756533" +
      "37266669656c64303d76616c75653337266669656c64303d76616c756533" +
      "37260d0a0d0a574152432f312e300d0a574152432d547970653a20726573" +
      "706f6e73650d0a574152432d5461726765742d5552493a20687474703a2f" +
      "2f6578616d706c652e636f6d2f646963742f3130390d0a436f6e74656e74" +
      "2d4c656e6774683a203130350d0a0d0a6669656c64343d76616c75653539" +
      "266669656c64343d76616c75653539266669656c64343d76616c75653539" +
      "266669656c64343d76616c75653539266669656c64343d76616c75653539" +
      "266669656c64343d76616c75653539266669656c64343d76616c75653539" +
      "260d0a0d0a574152432f312e300d0a574152432d547970653a2072657370" +
      "6f6e73650d0a574152432d5461726765742d5552493a20687474703a2f2f" +
      "6578616d706c652e636f6d2f646963742f3131350d0a436f6e74656e742d" +
      "4c656e6774683a2034350d0a0d0a6669656c64333d76616c756534302666" +
      "69656c64333d76616c75653430266669656c64333d76616c75653430260d" +
      "0a0d0a574152432f312e300d0a574152432d547970653a20726573706f6e" +
      "73650d0a574152432d5461726765742d5552493a20687474703a2f2f6578" +
      "616d706c652e636f6d2f646963742f3131300d0a436f6e74656e742d4c65" +
      "6e6774683a2034350d0a0d0a6669656c64353d76616c7565373226666965" +
      "6c64353d76616c75653732266669656c64353d76616c75653732260d0a0d" +
      "0a574152432f312e300d0a574152432d547970653a20726573706f6e7365" +
      "0d0a574152432d5461726765742d5552493a20687474703a2f2f6578616d" +
      "706c652e636f6d2f646963742f33320d0a436f6e74656e742d4c656e6774" +
      "683a2037350d0a0d0a6669656c64343d76616c75653238266669656c6434" +
      "3d76616c75653238266669656c64343d76616c75653238266669656c6434" +
      "3d76616c75653238266669656c64343d76616c75653238260d0a0d0a5741" +
      "52432f312e300d0a574152432d547970653a20726573706f6e73650d0a57" +
      "4152432d5461726765742d5552493a20687474703a2f2f6578616d706c65" +
      "2e636f6d2f646963742f31360d0a436f6e74656e742d4c656e6774683a20" +
      "36300d0a0d0a6669656c64323d76616c75653134266669656c64323d7661" +
      "6c75653134266669656c64323d76616c75653134266669656c64323d7661" +
      "6c75653134260d0a0d0a5741"

  /** REAL zstd-CLI frames (level 3) each compressing ONE closed-form
    * WARC record AGAINST the dictionary above (dict_id declared in
    * every frame header; CLI-round-trip-verified at generation).
    * Record i: response, uri .../dict/i, body
    * `field{i%7}=value{(i*13)%97}&` repeated 3+i%5 times. */
  private val WarcZstDictRecHex: Seq[String] = Seq(
    "28b52ffd07582fac915bb50000730001be6f760106fc01235e0a6242bdab" +
      "d871a39c0c556f0aa0",
    "28b52ffd07582fac915bc50000d3c001beff204284085109fc2619c6014c" +
      "4d028d3de4d586da7acea0",
    "28b52ffd07582fac915bd50000f30002beffe8e9e9e9e9050bfc2619c661" +
      "22e355b0625f63d829e90d6052",
    "28b52ffd07582fac915bb50000a34001be8f0b716107fc14c2be773826b1" +
      "c5dee50a6dbee883d3",
    "28b52ffd07582fac915be50000d3c001beffdcdddd5d0609fc65ca5213f9" +
      "ff29d94ce2167bb6ab1201407ee676",
    "28b52ffd07582fac915ba50000830001be9f92a606fc22e840fde816bbeb" +
      "4e08012a5f1b1f",
    "28b52ffd07582fac915ba50000830001beafab3406fca2f9acd4246cb11f" +
      "b88210c518c522",
    "28b52ffd07582fac915bc50000934001be6f68990a07fc0922f3eb15704c" +
      "45147b1d94230140f4bd03")

  /** Per doc: the dictionary frame, then k = 2 + doc%3 record frames
    * starting at rotation doc%8 — the record SET varies by doc AND
    * every frame needs the harvested dictionary, so the oracle check
    * pins the full RFC 8878 §5 path. */
  private[graft] def warcZstDictFixture(s: SparkSession,
      dir: String): DataFrame = {
    val d = col("doc_id")
    val frames = array(WarcZstDictRecHex.map(lit): _*)
    val k = lit(2L) + d % 3L
    val blobHex = concat(lit(WarcZstDictHeadHex),
      array_join(transform(sequence(lit(0L), k - 1L), j =>
        element_at(frames, (pmod(d + j, lit(8L)) + 1L).cast("int"))), ""))
    t(s, dir, "documents")
      .select(d, unhex(blobHex).as("blob"))
  }

  /** REAL libbz2 streams (level 1, the reference encoder behind
    * `tools/gen_bz2_vectors.py`) over the same four closed-form
    * plaintexts as [[ZstdGoldenHex]] — the Wikipedia-dump codec inside
    * the driver's correctness gate. Even docs append a second member
    * (multi-stream, the `pages-articles-multistream` layout) so the
    * walk's member accounting is non-vacuous. */
  private val Bz2GoldenHex: Seq[String] = Seq(
    // repeat('alpha ', 40) — 240 bytes -> 52
    "425a6831314159265359e4b7ed1e00003b9180400020444000200030cd00" +
      "52a699e1304c1344f89a270bb9229c2848725bf68f00",
    // repeat('the quick brown fox jumps over the lazy dog. ', 8)
    "425a6831314159265359033a1ea9000097918040013ffffff020009028d0" +
      "d0000001554d35191a60136a6da931103510301412141e86637180d848" +
      "6c15168e47415131c090b440e44c64283a131a8fc2a261020662cec763" +
      "f8bb9229c2848019d0f548",
    // chr(97 + (i*11 + 5) % 26) over range(300)
    "425a6831314159265359c29d317c00001d01803ffffff020007050000064" +
      "c80a5540000c087a2f65f2985312d99533a685a97da7ea762ee5e29e69" +
      "e8bd97ca60589654ce9a16a5f69fa9fc5dc914e142430a74c5f0",
    // repeat('key=value;', 30)
    "425a68313141592653592c11f2c20000598980000a220c03202000544193" +
      "1026aa807ea9d43434343e8790fa1a1a1a1e2ee48a70a1205823e584")

  // repeat('tail member ', 10) — the even-doc second member
  private val Bz2TailHex: String =
    "425a68313141592653599bf5128800003b9180400032261400200020a548" +
      "33420c988fd3898984da6d313131349a4e8bb9229c28484dfa894400"

  private[graft] def bz2Fixture(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val base = element_at(array(Bz2GoldenHex.map(lit): _*),
      (pmod(d, lit(4L)) + 1L).cast("int"))
    t(s, dir, "documents")
      .select(d, unhex(concat(base,
        when(d % 2L === 0L, lit(Bz2TailHex)).otherwise(lit(""))))
        .as("blob"))
  }

  /** Wikipedia-dump fixture: even docs carry a REAL `.xml.bz2`
    * MULTISTREAM (two concatenated libbz2 streams — pages Alpha/Beta,
    * then redirect page Gamma), odd docs the PLAIN-XML layout (pages
    * Talk:Delta and Epsilon, entity escapes + a newline in the text
    * body) — both front doors of the page walk in one query. */
  private val WikiBz2Hex: Seq[String] = Seq(
    "425a68313141592653591f87f964000051df8050105101f88f3000000a37" +
      "efdde03000cb01953200000f50006802553f540046001180000aa9a229" +
      "a7e54f533126818864f51ea68b04ce480d02086c1028500fcdd3060814" +
      "bb0575c0cbaf404a2520b455a6d987875b43a4456524e58d25621c10d0" +
      "8a0a44545e2689a1d28b97195222b9b9ce69cf86df0e888f239f8ec40b" +
      "5ff6ea434acb8a9c8a1560612a699f53e0d7ccfcb6a54df0535ddfb2b6" +
      "eb8c145aa6ccee5ea4b85145fb62e71266ffe650bd8f65966509aa7749" +
      "8e333b3fc5dc914e142407e1fe5900",
    "425a68313141592653593846f6de00001a5f8050105800e8272ea0140a3e" +
      "efdde020009508a6d21a0068d01a3d43468004a214da6a7a279401a000" +
      "64f446816a20a023843330db8174e4b5d53026d84984dcb639f6dd649a" +
      "0e9804dd150224a169ccc3a5f780e7258102b125e48a54a634dc86b521" +
      "22029f4f82e105b94522672fdfc4f05390ea10492a5e5b0b28322f1592" +
      "1ad1ba7b0e31c5727bf72b2a4ac8a997f1772453850903846f6de0")

  private val WikiXmlHex: String =
    "3c6d6564696177696b693e0a20203c706167653e0a202020203c7469746c" +
      "653e54616c6b3a44656c74613c2f7469746c653e0a202020203c6e733e" +
      "313c2f6e733e0a202020203c69643e31313c2f69643e0a202020203c72" +
      "65766973696f6e3e0a2020202020203c69643e313130313c2f69643e0a" +
      "2020202020203c746578742062797465733d223331223e446973637573" +
      "73696f6e2061626f757420266c743b44656c74612667743b2e3c2f7465" +
      "78743e0a202020203c2f7265766973696f6e3e0a20203c2f706167653e" +
      "0a20203c706167653e0a202020203c7469746c653e457073696c6f6e3c" +
      "2f7469746c653e0a202020203c6e733e303c2f6e733e0a202020203c69" +
      "643e31323c2f69643e0a202020203c7265766973696f6e3e0a20202020" +
      "20203c69643e313230313c2f69643e0a2020202020203c746578742062" +
      "797465733d223231223e457073696c6f6e2e0a5365636f6e64206c696e" +
      "652e3c2f746578743e0a202020203c2f7265766973696f6e3e0a20203c" +
      "2f706167653e0a3c2f6d6564696177696b693e0a"

  /** REAL liblzma `.xz` streams (preset 6, CRC64 — the default check,
    * `tools/gen_xz_vectors.py`'s encoder) over the same four
    * closed-form plaintexts; even docs append a second stream
    * (multi-stream) so member accounting is non-vacuous. */
  private val XzGoldenHex: Seq[String] = Seq(
    // repeat('alpha ', 40) — 240 bytes -> 80
    "fd377a585a000004e6d6b4460200210116000000742fe5a3e000ef000d5d0" +
      "0309b0a67248ef2a6d7e67000000000000036aa84879223efb6000129f0" +
      "010000001bb77e13b1c467fb020000000004595a",
    // repeat('the quick brown fox jumps over the lazy dog. ', 8)
    "fd377a585a000004e6d6b4460200210116000000742fe5a3e0016700335d0" +
      "03a1a08ce76c7e5e9d60734c3d10ebfce55e1aabde0e48f9801dd8de507" +
      "549e65255f273a6a7eb4d3490389ced47d3bf290c000000044573f9460e" +
      "4742400014fe802000000f128f68fb1c467fb020000000004595a",
    // chr(97 + (i*11 + 5) % 26) over range(300)
    "fd377a585a000004e6d6b4460200210116000000742fe5a3e0012b00215d0" +
      "0331c4868809cd44b541611891bbb9a76a11913e75d6a0eae8c37edbf9d" +
      "63c4000000000000e497cddc20f2e6d200013dac02000000b27a6f64b1c" +
      "467fb020000000004595a",
    // repeat('key=value;', 30)
    "fd377a585a000004e6d6b4460200210116000000742fe5a3e0012b00125d0" +
      "035994b960c19ac913dd46814b91eea1dc0000000002075b1620ddf1e6d" +
      "00012eac02000000870a2de1b1c467fb020000000004595a")

  // repeat('tail member ', 10) — the even-doc second stream
  private val XzTailHex: String =
    "fd377a585a000004e6d6b4460200210116000000742fe5a3e0007700135d0" +
      "03a184972593c8e0fd449113d58af69246800000000dbd2cfa4f87033f4" +
      "00012f784874446c1fb6f37d010000000004595a"

  private[graft] def xzFixture(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val base = element_at(array(XzGoldenHex.map(lit): _*),
      (pmod(d, lit(4L)) + 1L).cast("int"))
    t(s, dir, "documents")
      .select(d, unhex(concat(base,
        when(d % 2L === 0L, lit(XzTailHex)).otherwise(lit(""))))
        .as("blob"))
  }


  /** BCJ x86 filter chains (round 14): the SAME 600-byte x86-ish
    * payload (deterministic E8/E9 rel32 branches; recipe twin
    * `x86ish` in XzGoldenSpec) under three REAL liblzma chains —
    * x86+lzma2, x86(start_offset=16)+lzma2, delta+x86+lzma2. The
    * payload is binary, so the query compares hex(). */
  private val XzX86Hex: Seq[String] = Seq(
      "fd377a585a000004e6d6b44602010400210116000d86351f010257cf82fb" +
        "8485a3e90097ffffe89a1c1f00e91063ffffe832cf1d00ae55e97777ffff" +
        "e8fd33e500e9efc4fffff575e814b31e00e9aa36ffff266d3513e96e1bff" +
        "ffe814c76c000bbdec04e888bcff001d20c9e59c1ae95f62ffff1898de9c" +
        "c39be9f698ffff4c54cc6fe3c77b15e93002ffffe802213a00e950b4ffff" +
        "fdf45bff2fd7e8d7b8b700e94159ffff362de8b6f5d10011d148294a1df2" +
        "67110411b915bb97988827f33b192a15eee8705806006ccbd445eadddff5" +
        "fe98e9010fffff98b5e8be3efd00276e7389e9bad5ffffe888c1ca00e822" +
        "64090057807b8a6676424df2c1b0da2dea3462c641beb8ed92bd9451ab23" +
        "2ae91e42ffffe8f833690015e2610c54d9e9cf85ffffe8950d4c00e8c7a8" +
        "9c00fb8deae4445d64d19ba5d38ce9a306ffff2927e8c0beea00d589532f" +
        "e86c9ff600c2d36e15e9b426ffffbc6ce8910b2600e84b0ae40042548a5f" +
        "e99bffffff69b6e9c84dffffaf71c0e6cbb61148e8ce066a00b045c41b4c" +
        "4b02c2e83022db00d696e87d37080030c377c17f71ebc5e9334fffff4e55" +
        "e9986bffff4f0c13b3e9887affff9a636a15c8f4e8cfb4fa00e809322400" +
        "e99fa7ffffe961e4ffffe9df56ffff151ec9f5e89b7bfb005c83e9806bff" +
        "ff0d5ce99559ffff0c10f04c08a30e653378c2ae3c1ee8c0597c0053fb2b" +
        "1c27d941e2ea50adb64b175f287a28c637e830a37e00d47281a9e9c489ff" +
        "ff3a4322af81f3c1cb0550c722e8d8f1d400e8324f1600091ee8475cd700" +
        "68381c84e94f48ffff1a7e4fcaae2ce9f61fffffe97848ffffe8b69ba200" +
        "d78c633acd90864a19864750e8a69fa900e904010000f291e9170700ce9d" +
        "eb0859b457770001f004d8040000ae52aec7b1c467fb020000000004595a",
      "fd377a585a000004e6d6b446030104041000000021011600b91cade00102" +
        "57cf82fb8485a3e91097ffffe8aa1c1f00e92063ffffe842cf1d00ae55e9" +
        "8777ffffe80d34e500e9ffc4fffff575e824b31e00e9ba36ffff266d3513" +
        "e97e1bffffe824c76c000bbdec04e898bcff001d20c9e59c1ae96f62ffff" +
        "1898de9cc39be90699ffff4c54cc6fe3c77b15e94002ffffe812213a00e9" +
        "60b4fffffdf45bff2fd7e8e7b8b700e95159ffff362de8c6f5d10011d148" +
        "294a1df267110411b915bb97988827f33b192a15eee8805806006ccbd445" +
        "eadddff5fe98e9110fffff98b5e8ce3efd00276e7389e9cad5ffffe898c1" +
        "ca00e83264090057807b8a6676424df2c1b0da2dea3462c641beb8ed92bd" +
        "9451ab232ae92e42ffffe80834690015e2610c54d9e9df85ffffe8a50d4c" +
        "00e8d7a89c00fb8deae4445d64d19ba5d38ce9b306ffff2927e8d0beea00" +
        "d589532fe87c9ff600c2d36e15e9c426ffffbc6ce8a10b2600e85b0ae400" +
        "42548a5fe9abffffff69b6e9d84dffffaf71c0e6cbb61148e8de066a00b0" +
        "45c41b4c4b02c2e84022db00d696e88d37080030c377c17f71ebc5e9434f" +
        "ffff4e55e9a86bffff4f0c13b3e9987affff9a636a15c8f4e8dfb4fa00e8" +
        "19322400e9afa7ffffe971e4ffffe9ef56ffff151ec9f5e8ab7bfb005c83" +
        "e9906bffff0d5ce9a559ffff0c10f04c08a30e653378c2ae3c1ee8d0597c" +
        "0053fb2b1c27d941e2ea50adb64b175f287a28c637e840a37e00d47281a9" +
        "e9d489ffff3a4322af81f3c1cb0550c722e8e8f1d400e8424f1600091ee8" +
        "575cd70068381c84e95f48ffff1a7e4fcaae2ce90620ffffe98848ffffe8" +
        "c69ba200d78c633acd90864a19864750e8b69fa900e914010000f291e917" +
        "0700ce9deb0859b457770001f404d8040000b8103f5cb1c467fb02000000" +
        "0004595a",
      "fd377a585a000004e6d6b446030203010304002101160000fd9f1d8e0102" +
        "57cf82fb84b621ee71115c16f3f41d20185fdf43ff16edb6d01e189686cc" +
        "56c9aa16926034e6181291dfff1631b1e9e3bda91807c118ff16b3373614" +
        "c3c1e6ec16bab4c76d183cf78004dd7dd0fb18e364cae57ffa2021c6e516" +
        "1236df9dab030bf6d56416babccd709773afa606f886ea16298b213b185d" +
        "b579ff1628415c0032e38d5289e01898fea1ff1680d5e925bfa418eddc77" +
        "29394caa3ec7e71f5204b786df736c5ca3910322b3cf97421818ab74ce45" +
        "7e120bb014bb0a4e10671655a7e9faa548182e317689c27e617616fce1c1" +
        "cb18338a9909180d1d728a0ff6c7c38c4b6e8d3b29848899578a562751ff" +
        "dc64196696987a1ed516c3b9336a181bb0f80c3ff788ba30261622030d4d" +
        "1861a85b9c1847e64ee449d07aed57486fbb4eda327316aa22e99694c318" +
        "40cc692f13af4bc7188a35781527a4b7ea164547e94e4eba189bf8e3e418" +
        "404ba65fa7f574a01620b8ea70e349164025c1e71c4551621db2f4221848" +
        "405a1b9c063ea79c721e191819760d036072182d8d6fc14fae74046a3b62" +
        "3a16a208ea0b1caa1645a214b49ae5654c16a9eb6b162e917e18eb0618bb" +
        "af36241887c381ff16f60be300163947560016ecc9caf6d3beb00618800a" +
        "eeba0d7c1653f3eac94aa31644b9f14dfc931e192bd5b44909a626321b5e" +
        "1873a4af1cd4de16c6c3776cd461c7b2722f11670f6e0fdb47189dd103a9" +
        "155006561678bc23b047b09f1c845d0657e37528b218232b791618efd1d2" +
        "2851b91840de458481ef2a7b16f33850cb94ae9af96fd3162623470016a8" +
        "339aa3185ef3c13af60423104cf6c106cfd2565918911455ff164193ea18" +
        "1500ce9deb0859b457770001f404d8040000b8103f5cb1c467fb02000000" +
        "0004595a")

  private[graft] def xzX86Fixture(s: SparkSession,
      dir: String): DataFrame = {
    val d = col("doc_id")
    t(s, dir, "documents")
      .select(d, unhex(element_at(array(XzX86Hex.map(lit): _*),
        (pmod(d, lit(3L)) + 1L).cast("int"))).as("blob"))
  }

  /** REAL `.tar.xz` blobs (python tarfile USTAR + liblzma): two
    * closed-form shard layouts rotated by doc — the dataset-shipping
    * archive format end-to-end (XZ decompress → TAR entry walk). */
  private val TarXzHex: Seq[String] = Seq(
    "fd377a585a000004e6d6b4460200210116000000742fe5a3e027ff00c85d0" +
      "0321bc88e74d382c9e84897d8a9a07c198debc7b0da70f7abbbdbc4377e" +
      "bfabb85f361575aa84249b1f7034a65e2fb4fee322fc878329b0e7f6213" +
      "175714aa24d1a8d4bbbc0e40415df989e0d9fe2e27669c83378d9d6191e" +
      "206f60b7137d1fffc0249c3b4c64cc9aad4e52b792277bb98b73a30bfb1" +
      "ffe81749ee70e427636a77399bd930b56e14e182b0fbc4f5570c190e102" +
      "42ab26faf85d672bc68f93b705053b04dabbb194bab73bb66f5e2f778d0" +
      "da8369bb1b1d148d263aa0c5303e6d15ed0e239c93822530006f27dc1fa" +
      "12aa8b0001e40180500000723c05f2b1c467fb020000000004595a",
    "fd377a585a000004e6d6b4460200210116000000742fe5a3e027ff009b5d0" +
      "0399a084845678fa3c69591e8bfcd42a821ba938cc8336221334824330c" +
      "1c2d3f41217eaea40df61c46128c79318704aacc72d0dae67179eab324b" +
      "1fba961c49fa016f77976700d831f3a0823729a639c8c750dc92b2701b8" +
      "b548bc2dc851d91d0a3168b2e408b80f8d842f8f7b2124280563757af63" +
      "313688bbe998a0765b4efe369fb795d4f65cde776522422139a482f14a6" +
      "c196a00ef47b4600000077c6b53ce54d26850001b701805000002b461f7" +
      "8b1c467fb020000000004595a")

  private[graft] def tarXzFixture(s: SparkSession,
      dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), unhex(element_at(
        array(TarXzHex.map(lit): _*),
        (pmod(col("doc_id"), lit(2L)) + 1L).cast("int"))).as("blob"))

  /** Wikipedia MULTISTREAM dump + its index (round 13) — the layout's
    * whole point is RANDOM ACCESS: `pages-articles-multistream-index
    * .txt.bz2` lists `offset:page_id:title` per page, where offset is
    * the byte position of the bzip2 stream holding that page; readers
    * seek and decode ONE stream instead of the whole dump. Three real
    * libbz2 streams (pages 1-2 / 3-4 / 5) and the matching bz2'd
    * index, offsets real. */
  private val WikiMsDumpHex: String =
    "425a6831314159265359cb16bafe00002d5d8050105001f607300036e5dde" +
      "03000b80c64c4d309a626026980c64c4d309a6260269802aa688d487a9e" +
      "53cd283d43629e92894b24884925c91068e1e1a33cfbfd6a94b5d719668" +
      "d50a4ae851933599ad48895c84d0e564316c86e9a1351432a44647ef688" +
      "e0c0dc6ac387043b37724cb1e8dcd8b1fc5472c64aaaeba666972f7b269" +
      "bdd62a7828e955485e795e6306cc1fe2ee48a70a121962d75fc4" +
      "25a683131415926535990f9842d00002ddd8050105001ed87048037e7df" +
      "603000b80c613134182310c8c2618c262683046219184c0aa9a15365347" +
      "a9e050d3469b14f4944a57a442492a91064d9e1930c7e76d12969a5cc19" +
      "a668af94d55ec59b16748895509a1bb342f7d21aa684d450be91179cb54" +
      "6e7dbd4d46eb776c43a77734c82dcc9f73a991c151e8c162e2d5ad979bd" +
      "1571c51473742c3c19b858b19426e45de63abd9fe2ee48a70a12121f308" +
      "5a0" +
      "425a6831314159265359194d3262000016dd8050105001e247020037a5d" +
      "d6020007212a8d347a86d21a0d00f50253534a3468fd49fa50341e48766" +
      "8604c3156046b7fd3d3c599ad9c4d0b553f3d274972aa8b12a3caca8a8e" +
      "e43c17333e05f6c6051b08cae7d3524389bcd90a28223295953d873a5a9" +
      "22c3e1910a5f4204e1f8bb9229c28480ca699310"

  private val WikiMsIndexHex: String =
    "425a683131415926535940b8491a000002cd8000107e9036802267cc0020" +
      "00545000340c9902553d0866a343d47a9a7a8fc848144b4944b254a8a52" +
      "6b3d69a64347a9db37d187c59e208a45df17724538509040b8491a0"

  private val WikiMsDumpLen = 491L

  /** The parsed index: (off, page_id, title) — a 5-row constant side
    * every consumer broadcasts. */
  private[graft] def wikiIndexDf(s: SparkSession): DataFrame = {
    val m = s.range(1).select(explode(graft.plans.MediaExprs
      .bz2MembersCol(unhex(lit(WikiMsIndexHex)))).as("m"))
    m.select(explode(split(col("m.content"), "\n")).as("line"))
      .where(length(col("line")) > 0)
      .select(
        split(col("line"), ":").getItem(0).cast("long").as("off"),
        split(col("line"), ":").getItem(1).cast("long").as("page_id"),
        split(col("line"), ":").getItem(2).as("title"))
  }

  /** REAL pyarrow IPC streams (the reference encoder) with
    * closed-form columns — id = 3i, score = i/4 (null every 5th),
    * name = 'r' + i%4 (null every 3rd), flag = even(i); template A is
    * 12 rows in TWO batches (7+5), template B 9 rows in one. */
  private val ArrowStreamHex: Seq[String] = Seq(
      "ffffffff080100001000000000000a000c000600050008000a0000000001" +
      "04000c0000000800080000000400080000000400000004000000a4000000" +
      "6000000030000000040000007cffffff0000010610000000180000000400" +
      "00000000000004000000666c616700000000d8ffffffa4ffffff00000105" +
      "100000001c0000000400000000000000040000006e616d65000000000400" +
      "040004000000d0ffffff00000103100000001c0000000400000000000000" +
      "0500000073636f7265000600080006000600000000000200100014000800" +
      "060007000c00000010001000000000000102100000001c00000004000000" +
      "00000000020000006964000008000c000800070008000000000000014000" +
      "0000ffffffff2801000014000000000000000c0016000600050008000c00" +
      "0c0000000003040018000000b80000000000000000000a0018000c000400" +
      "08000a000000ac0000001000000007000000000000000000000009000000" +
      "000000000000000000000000000000000000000000000000380000000000" +
      "000038000000000000000200000000000000400000000000000038000000" +
      "000000007800000000000000020000000000000080000000000000002000" +
      "000000000000a0000000000000001000000000000000b000000000000000" +
      "0000000000000000b0000000000000000200000000000000000000000400" +
      "000007000000000000000000000000000000070000000000000002000000" +
      "000000000700000000000000030000000000000007000000000000000000" +
      "000000000000000000000000000003000000000000000600000000000000" +
      "09000000000000000c000000000000000f00000000000000120000000000" +
      "0000de0b0000000000000000000000000000000000000000d03f00000000" +
      "0000e03f000000000000e83f000000000000f03f00000000000000000000" +
      "00000000f83fb60d00000000000000000000000000000200000004000000" +
      "040000000600000008000000080000007231723272307231723372307232" +
      "72335505000000000000ffffffff2801000014000000000000000c001600" +
      "0600050008000c000c000000000304001800000088000000000000000000" +
      "0a0018000c00040008000a000000ac000000100000000500000000000000" +
      "000000000900000000000000000000000000000000000000000000000000" +
      "000028000000000000002800000000000000010000000000000030000000" +
      "000000002800000000000000580000000000000001000000000000006000" +
      "000000000000180000000000000078000000000000000800000000000000" +
      "800000000000000000000000000000008000000000000000010000000000" +
      "000000000000040000000500000000000000000000000000000005000000" +
      "000000000100000000000000050000000000000001000000000000000500" +
      "000000000000000000000000000015000000000000001800000000000000" +
      "1b000000000000001e000000000000002100000000000000170000000000" +
      "0000000000000000fc3f0000000000000040000000000000024000000000" +
      "0000000000000000000006401b0000000000000000000000020000000400" +
      "000004000000060000000800000072337230723272330a00000000000000" +
      "ffffffff00000000",
      "ffffffff080100001000000000000a000c000600050008000a0000000001" +
      "04000c0000000800080000000400080000000400000004000000a4000000" +
      "6000000030000000040000007cffffff0000010610000000180000000400" +
      "00000000000004000000666c616700000000d8ffffffa4ffffff00000105" +
      "100000001c0000000400000000000000040000006e616d65000000000400" +
      "040004000000d0ffffff00000103100000001c0000000400000000000000" +
      "0500000073636f7265000600080006000600000000000200100014000800" +
      "060007000c00000010001000000000000102100000001c00000004000000" +
      "00000000020000006964000008000c000800070008000000000000014000" +
      "0000ffffffff2801000014000000000000000c0016000600050008000c00" +
      "0c0000000003040018000000e00000000000000000000a0018000c000400" +
      "08000a000000ac0000001000000009000000000000000000000009000000" +
      "000000000000000000000000000000000000000000000000480000000000" +
      "000048000000000000000200000000000000500000000000000048000000" +
      "0000000098000000000000000200000000000000a0000000000000002800" +
      "000000000000c8000000000000000c00000000000000d800000000000000" +
      "0000000000000000d8000000000000000200000000000000000000000400" +
      "000009000000000000000000000000000000090000000000000002000000" +
      "000000000900000000000000030000000000000009000000000000000000" +
      "000000000000000000000000000003000000000000000600000000000000" +
      "09000000000000000c000000000000000f00000000000000120000000000" +
      "000015000000000000001800000000000000de0100000000000000000000" +
      "00000000000000000000d03f000000000000e03f000000000000e83f0000" +
      "00000000f03f0000000000000000000000000000f83f000000000000fc3f" +
      "0000000000000040b6010000000000000000000000000000020000000400" +
      "0000040000000600000008000000080000000a0000000c00000072317232" +
      "7230723172337230000000005501000000000000ffffffff00000000")


  /** REAL pyarrow IPC streams (round 14) with DICTIONARY-encoded
    * columns AND body compression — closed-form columns id = 3i,
    * cat = NULL every 4th row else `c<i%3>` for i<7 / `d<i%2>` after,
    * flag = even(i). Template A: 12 rows in TWO batches (7+5), delta
    * dictionary emission, zstd-compressed buffers; template B: 9 rows
    * one batch, LZ4-frame buffers (`tools/gen_arrow_vectors.py`
    * recipe twins). */
  private val ArrowDictHex: Seq[String] = Seq(
      "fffffffff80000001000000000000a000c000600050008000a0000000001" +
      "0400040000008cffffff04000000030000009c0000004000000004000000" +
      "80ffffff000001061000000018000000040000000000000004000000666c" +
      "616700000000acffffff100018000800060007000c001000140010000000" +
      "0000010514000000380000001c0000000400000000000000030000006361" +
      "740008000800000004000800000004000000bcffffff0000000120000000" +
      "0400040004000000100014000800060007000c0000001000100000000000" +
      "0102100000001c0000000400000000000000020000006964000008000c00" +
      "08000700080000000000000140000000ffffffffc0000000140000000000" +
      "00000c0018000600050008000c000c000000000204001800000040000000" +
      "0000000000000000080008000000040008000000100000000c001e001000" +
      "040008000c000c0000006000000024000000180000000300000000000000" +
      "000000000000060008000700060000000000000103000000000000000000" +
      "000000000000000000000000000000000000210000000000000028000000" +
      "000000001700000000000000000000000100000003000000000000000000" +
      "000000000000100000000000000028b52ffd201081000000000000020000" +
      "00040000000600000000000000000000060000000000000028b52ffd2006" +
      "31000063316332633000ffffffff0001000014000000000000000c001800" +
      "0600050008000c000c000000000304001c00000090000000000000000000" +
      "00000c001e001000040008000c000c000000900000002400000018000000" +
      "070000000000000000000000000006000800070006000000000000010600" +
      "00000000000000000000000000000000000000000000000000002c000000" +
      "000000003000000000000000120000000000000048000000000000002900" +
      "000000000000780000000000000000000000000000007800000000000000" +
      "120000000000000000000000030000000700000000000000000000000000" +
      "000007000000000000000200000000000000070000000000000000000000" +
      "00000000380000000000000028b52ffd2038dd0000a00000030006000900" +
      "0c000f001200000000000000065402000301000000000100000000000000" +
      "28b52ffd20010900006e0000000000001c0000000000000028b52ffd201c" +
      "c50000800000010000000200010000000200000002006094016001000000" +
      "00000000010000000000000028b52ffd200109000055000000000000ffff" +
      "ffffc000000014000000000000000c0018000600050008000c000c000000" +
      "000204001800000038000000000000000000000008000800000004000800" +
      "0000100000000c001e001000040008000c000c0000006000000024000000" +
      "180000000200000000000000000000000000060008000700060000000000" +
      "000103000000000000000000000000000000000000000000000000000000" +
      "1d0000000000000020000000000000001500000000000000000000000100" +
      "0000020000000000000000000000000000000c0000000000000028b52ffd" +
      "200c610000000000000200000004000000000000040000000000000028b5" +
      "2ffd200421000064316430000000ffffffff000100001400000000000000" +
      "0c0018000600050008000c000c000000000304001c000000800000000000" +
      "0000000000000c001e001000040008000c000c0000009000000024000000" +
      "180000000500000000000000000000000000060008000700060000000000" +
      "000106000000000000000000000000000000000000000000000000000000" +
      "280000000000000028000000000000001200000000000000400000000000" +
      "000021000000000000006800000000000000000000000000000068000000" +
      "000000001200000000000000000000000300000005000000000000000000" +
      "000000000000050000000000000001000000000000000500000000000000" +
      "0000000000000000280000000000000028b52ffd2028bd00008015001800" +
      "1b001e002100000000000000045402000301010000000000000028b52ffd" +
      "20010900001d000000000000140000000000000028b52ffd201485000050" +
      "0000010000000000000001001bc002000000000000000100000000000000" +
      "28b52ffd20010900000a000000000000ffffffff00000000",
      "fffffffff80000001000000000000a000c000600050008000a0000000001" +
      "0400040000008cffffff04000000030000009c0000004000000004000000" +
      "80ffffff000001061000000018000000040000000000000004000000666c" +
      "616700000000acffffff100018000800060007000c001000140010000000" +
      "0000010514000000380000001c0000000400000000000000030000006361" +
      "740008000800000004000800000004000000bcffffff0000000120000000" +
      "0400040004000000100014000800060007000c0000001000100000000000" +
      "0102100000001c0000000400000000000000020000006964000008000c00" +
      "08000700080000000000000140000000ffffffffb8000000140000000000" +
      "00000c0018000600050008000c000c000000000204001800000050000000" +
      "0000000000000000080008000000040008000000100000000c001c001000" +
      "040008000c000c000000580000001c000000140000000400000000000000" +
      "000000000400040004000000030000000000000000000000000000000000" +
      "000000000000000000002b0000000000000030000000000000001f000000" +
      "000000000000000001000000040000000000000000000000000000001400" +
      "00000000000004224d186040821400008000000000020000000400000006" +
      "00000008000000000000000000000000080000000000000004224d186040" +
      "820800008063316332633064310000000000fffffffff800000014000000" +
      "000000000c0018000600050008000c000c000000000304001c000000b000" +
      "000000000000000000000c001c001000040008000c000c00000088000000" +
      "1c0000001400000009000000000000000000000004000400040000000600" +
      "000000000000000000000000000000000000000000000000000040000000" +
      "000000004000000000000000190000000000000060000000000000002c00" +
      "000000000000900000000000000000000000000000009000000000000000" +
      "190000000000000000000000030000000900000000000000000000000000" +
      "000009000000000000000300000000000000090000000000000000000000" +
      "00000000480000000000000004224d186040822900000013000100130308" +
      "001306080013090800130c0800130f080013120800131508008018000000" +
      "0000000000000000020000000000000004224d1860408202000080ee0000" +
      "00000000000000000000240000000000000004224d186040821500000013" +
      "0001005b01000000020c0080030000000000000000000000000000000200" +
      "00000000000004224d186040820200008055010000000000000000000000" +
      "ffffffff00000000")


  /** REAL pyarrow IPC streams (round 14) with LIST columns — the
    * embedding-table layout: vec_id int64, emb list<float32> (NULL
    * every 5th row; values (i·8+j)/4, exact in float32 and under the
    * double widening), tokens list<int64> (i%4 entries — empty lists
    * at i%4==0). Template A: 20 rows, zstd body compression;
    * template B: 12 rows plain. */
  private val ArrowListHex: Seq[String] = Seq(
      "ffffffff400100001000000000000a000c000600050008000a0000000001" +
      "04000c0000000800080000000400080000000400000003000000d4000000" +
      "640000000400000048ffffff0000010c140000001c000000040000000100" +
      "00001400000006000000746f6b656e730000a8ffffff74ffffff00000102" +
      "10000000180000000400000000000000040000006974656d0000000064ff" +
      "ffff0000000140000000a4ffffff0000010c140000001c00000004000000" +
      "010000001400000003000000656d62000400040004000000d0ffffff0000" +
      "0103100000001c0000000400000000000000040000006974656d00000600" +
      "080006000600000000000100100014000800060007000c00000010001000" +
      "00000000010210000000200000000400000000000000060000007665635f" +
      "6964000008000c000800070008000000000000014000000000000000ffff" +
      "ffff6001000014000000000000000c0018000600050008000c000c000000" +
      "000304001c0000009002000000000000000000000c001e00100004000800" +
      "0c000c000000d00000002400000018000000140000000000000000000000" +
      "000006000800070006000000000000010a00000000000000000000000000" +
      "000000000000000000000000000047000000000000004800000000000000" +
      "140000000000000060000000000000005700000000000000b80000000000" +
      "00000000000000000000b8000000000000003301000000000000f0010000" +
      "000000000000000000000000f00100000000000051000000000000004802" +
      "000000000000000000000000000048020000000000004400000000000000" +
      "000000000500000014000000000000000000000000000000140000000000" +
      "000004000000000000008000000000000000000000000000000014000000" +
      "0000000000000000000000001e000000000000000000000000000000a000" +
      "00000000000028b52ffd20a0b50100e40200000100020003000400050006" +
      "000700080009000a000b000c000d000e000f001000110012001300000000" +
      "00000013540200030100030000000000000028b52ffd2003190000de7b0f" +
      "00000000540000000000000028b52ffd2054350200940300000800000010" +
      "000000180000002028000000300000003800000040480000005000000058" +
      "00000060680000007000000078000000800000000400207f207fbbfc0780" +
      "0500000200000000000028b52ffd6000010d09000660473720752a8d0140" +
      "42143682cde0116c149b6023dc0894001bc166f00836564a80a394984a89" +
      "e1f860fb0a90109c2681478fd214081e79e8143600370038005379290fe5" +
      "7ddec9f3bcce3b3599984c3913ce7433d94c3513cd3433c94c33261953cc" +
      "0433bd4c2e53cbc432ad4c346598304c9fe9018bf160bc172fe6b9782d1e" +
      "8b07f3563c152fc57b7928de8967e2b9bc128fc41bf15a9e8817e281782c" +
      "efc3f3f03abc95c7e16d781a1e1d5bf294bc242fe72179479e9187f38a3c" +
      "226fc8bb79425e9007e4d9bc1fcfc7ebf16a1e8fb7e3e978342fc7c3f16e" +
      "bc9967e3d578349ecc0175e1b27055b8542e0ad7844bc2957245b8205c0f" +
      "2e94cbc1d5e062707dae0597822bc1757221b80e5c062ecf55e022700db8" +
      "3a97802bc005e07a000000000000540000000000000028b52ffd20540502" +
      "002403000001000000030000000607000000090000000c0d0000000f0000" +
      "0012130000001500000018190000001b0000001e0000000500201f900fc8" +
      "6797cf00b000000000000000f00000000000000028b52ffd20f09d010022" +
      "840a0e109f39d7de5d4e55917b8936670affad368bbd5aabd4a9340a7d3a" +
      "9bcca532893c1a8bc4a130087c5d1d540200030100000000ffffffff0000" +
      "0000",
      "ffffffff400100001000000000000a000c000600050008000a0000000001" +
      "04000c0000000800080000000400080000000400000003000000d4000000" +
      "640000000400000048ffffff0000010c140000001c000000040000000100" +
      "00001400000006000000746f6b656e730000a8ffffff74ffffff00000102" +
      "10000000180000000400000000000000040000006974656d0000000064ff" +
      "ffff0000000140000000a4ffffff0000010c140000001c00000004000000" +
      "010000001400000003000000656d62000400040004000000d0ffffff0000" +
      "0103100000001c0000000400000000000000040000006974656d00000600" +
      "080006000600000000000100100014000800060007000c00000010001000" +
      "00000000010210000000200000000400000000000000060000007665635f" +
      "6964000008000c000800070008000000000000014000000000000000ffff" +
      "ffff4801000014000000000000000c0016000600050008000c000c000000" +
      "0003040018000000880200000000000000000a0018000c00040008000a00" +
      "0000bc000000100000000c00000000000000000000000a00000000000000" +
      "000000000000000000000000000000000000000060000000000000006000" +
      "000000000000020000000000000068000000000000003400000000000000" +
      "a0000000000000000000000000000000a000000000000000200100000000" +
      "0000c0010000000000000000000000000000c00100000000000034000000" +
      "00000000f8010000000000000000000000000000f8010000000000009000" +
      "00000000000000000000050000000c000000000000000000000000000000" +
      "0c0000000000000003000000000000004800000000000000000000000000" +
      "00000c000000000000000000000000000000120000000000000000000000" +
      "000000000000000000000000010000000000000002000000000000000300" +
      "000000000000040000000000000005000000000000000600000000000000" +
      "0700000000000000080000000000000009000000000000000a0000000000" +
      "00000b00000000000000de0b000000000000000000000000000008000000" +
      "100000001800000020000000200000002800000030000000380000004000" +
      "000040000000480000000000000000000040000010400000204000003040" +
      "000040400000504000006040000070400000804000008840000090400000" +
      "98400000a0400000a8400000b0400000b8400000c0400000c8400000d040" +
      "0000d8400000e0400000e8400000f0400000f84000000041000004410000" +
      "084100000c4100001041000014410000184100001c410000404100004441" +
      "0000484100004c4100005041000054410000584100005c41000060410000" +
      "64410000684100006c4100007041000074410000784100007c4100008041" +
      "0000824100008441000086410000884100008a4100008c4100008e410000" +
      "90410000924100009441000096410000984100009a4100009c4100009e41" +
      "0000b0410000b2410000b4410000b6410000b8410000ba410000bc410000" +
      "be4100000000000000000100000003000000060000000600000007000000" +
      "090000000c0000000c0000000d0000000f00000012000000000000000300" +
      "000000000000060000000000000007000000000000000900000000000000" +
      "0a000000000000000b000000000000000f00000000000000120000000000" +
      "000013000000000000001500000000000000160000000000000017000000" +
      "000000001b000000000000001e000000000000001f000000000000002100" +
      "00000000000022000000000000002300000000000000ffffffff00000000")

  private val ArrowMapHex: Seq[String] = Seq(
      "ffffffff400100001000000000000a000c000600050008000a0000000001" +
      "04000c0000000800080000000400080000000400000002000000dc000000" +
      "040000003cffffff00000111140000001c00000004000000010000001400" +
      "00000500000070726f70730000006cffffffa0ffffff0000000d18000000" +
      "200000000400000002000000580000001400000007000000656e74726965" +
      "73009cffffff98ffffff0000010210000000180000000400000000000000" +
      "0500000076616c75650000008cffffff0000000140000000100014000800" +
      "000007000c00000010001000000000000005100000001800000004000000" +
      "00000000030000006b657900040004000400000010001400080006000700" +
      "0c00000010001000000000000102100000001c0000000400000000000000" +
      "020000006964000008000c0008000700080000000000000140000000ffff" +
      "ffff4801000014000000000000000c0016000600050008000c000c000000" +
      "0003040018000000a00000000000000000000a0018000c00040008000a00" +
      "0000bc000000100000000500000000000000000000000a00000000000000" +
      "000000000000000000000000000000000000000028000000000000002800" +
      "000000000000010000000000000030000000000000001800000000000000" +
      "480000000000000000000000000000004800000000000000000000000000" +
      "000048000000000000001c00000000000000680000000000000006000000" +
      "000000007000000000000000000000000000000070000000000000003000" +
      "000000000000000000000500000005000000000000000000000000000000" +
      "050000000000000001000000000000000600000000000000000000000000" +
      "000006000000000000000000000000000000060000000000000000000000" +
      "000000000000000000000000010000000000000002000000000000000300" +
      "00000000000004000000000000001d000000000000000000000002000000" +
      "020000000200000003000000060000000000000001000000020000000300" +
      "00000400000005000000060000000000000061626b78797a000001000000" +
      "0000000002000000000000001e0000000000000028000000000000002900" +
      "0000000000002a00000000000000ffffffff00000000",
      "ffffffff400100001000000000000a000c000600050008000a0000000001" +
      "04000c0000000800080000000400080000000400000002000000dc000000" +
      "040000003cffffff00000111140000001c00000004000000010000001400" +
      "00000500000070726f70730000006cffffffa0ffffff0000000d18000000" +
      "200000000400000002000000580000001400000007000000656e74726965" +
      "73009cffffff98ffffff0000010210000000180000000400000000000000" +
      "0500000076616c75650000008cffffff0000000140000000100014000800" +
      "000007000c00000010001000000000000005100000001800000004000000" +
      "00000000030000006b657900040004000400000010001400080006000700" +
      "0c00000010001000000000000102100000001c0000000400000000000000" +
      "020000006964000008000c0008000700080000000000000140000000ffff" +
      "ffff6001000014000000000000000c0018000600050008000c000c000000" +
      "000304001c000000d000000000000000000000000c001e00100004000800" +
      "0c000c000000d00000002400000018000000030000000000000000000000" +
      "000006000800070006000000000000010a00000000000000000000000000" +
      "000000000000000000000000000025000000000000002800000000000000" +
      "120000000000000040000000000000002100000000000000680000000000" +
      "000000000000000000006800000000000000000000000000000068000000" +
      "00000000210000000000000090000000000000001400000000000000a800" +
      "0000000000000000000000000000a8000000000000002500000000000000" +
      "000000000500000003000000000000000000000000000000030000000000" +
      "000001000000000000000300000000000000000000000000000003000000" +
      "000000000000000000000000030000000000000000000000000000001800" +
      "00000000000028b52ffd2018a50000600a000b000c000000000000000200" +
      "60e0016001000000010000000000000028b52ffd20010900000300000000" +
      "0000100000000000000028b52ffd20108100000000000001000000030000" +
      "000300000000000000000000100000000000000028b52ffd201081000000" +
      "000000010000000200000003000000000000000000000300000000000000" +
      "28b52ffd20031900006d6e6f00000000180000000000000028b52ffd2018" +
      "a5000060050006000700000000000000020060e0016001000000ffffffff" +
      "00000000")

  /** The SAME two tar shard layouts as [[TarXzHex]], compressed with
    * real gzip (mtime 0, no fname) and real libbz2 — `.tar.gz` and
    * `.tar.bz2` share `source_tar_xz`'s oracle body. */
  private val TarGzHex: Seq[String] = Seq(
      "1f8b0800000000000003edd6c18ac2301485e1aeef53f4012e9aa431b18f" +
      "13db8aa2e830cdc83cfed46160401782d2d6c5ff2d722104eed91c487b6e" +
      "fa655ae4ef5c8cc60c82f7bf73703b8d715561abe8a2b77ff7311a579466" +
      "bc48ffbefa9c3e879553ec7a43e9f8b14be5767feccae67ccadd29cbdc91" +
      "30a1f6daffcdccfd8ffeaeffd6d2ff296cba9cca278fb9b3e3756dca69d9" +
      "2c9afe32de8e87fd0feeb6ffd7e7f47f0207bd88512356ad38f552692d5e" +
      "6d9095ba9504ad8244f5b5ac3578a9756df91e00000000000000000000c0" +
      "5bfa01a251500400280000",
      "1f8b0800000000000003edd3bd0ac2301486e15e4ac82cf5a40d2d783781" +
      "147fb00a4d848a78ef86ba4817a7a622ef33e4842ce7cbf085831bfc762c" +
      "4fe17a2916224963ed3493f914a9abc2d46dd55af37e3752d5b650b254a0" +
      "4fb710dd90a2e4d8f5831efae8f54e998dd2b11b63baeabdeb7ba79f6b27" +
      "430e61eaffbd8c635c6cc7b7fe9b56e6fd37d2d0ff1c7c778e4ee53fd7fe" +
      "370000000000000000000000c0bf78010f6e969100280000")

  private val TarBz2Hex: Seq[String] = Seq(
      "425a68313141592653597babc27e0000e05b85ca104005ffe001007f6ddf" +
      "402000009008083000dab6c32253d47ea8dea9a0d0d07a87a8d34d335085" +
      "3d1a2340340000000da953da1268d346d40d000034efe5ab3018ab154c08" +
      "6902138c0856596f818c88891cef31c9042102a6782c78d9622c39e92848" +
      "92334599f95b557393caf0b69d884afd942080b8e04122d71ed9ce84a63c" +
      "ee96e79147856634a2859a048010a4a9a4e9ad8292031358b04d60c27406" +
      "a001cf02f9c1cd0d246655bc4f1ca986aec016c707fddeeaf689bc4a8c8a" +
      "50518031b8c380c086fa2bc425fc5dc914e14241eeaf09f8",
      "425a683131415926535915cacf730000d2db91ce005005fd90060066f79e" +
      "6a0200080008083000b66094a689ea19a4d3d4d304f5193463537aa09251" +
      "a08698693434c81a69802524da694f5340d347a8da9e900341e7ef236186" +
      "cd924b846210e18421efc063883889ec40210e1309dca58f440d34d19396" +
      "7ef26205a1470168e042256aa03d1ae1914e157c8c2f910cc4099190cc44" +
      "a0a17821e7ad8763e407a202d80836789267a020e845ac0dd7f29ec50438" +
      "8e728b554c7b6e1103f8bb9229c28480ae567b98")

  /** One oracle body for all three compressed-tarball layouts
    * (`lazy` — the round-8 init-order trap: a plain val referenced
    * from the oracles map would still be null when the map builds). */
  private lazy val TarballOracleSql: String =
    """WITH csv AS (SELECT 'k,v' || chr(10) ||
      |    string_agg(i || ',' || (i*i), chr(10) ORDER BY i) ||
      |    chr(10) AS c
      |  FROM range(0, 10) t(i)),
      |ent AS (
      |  SELECT 0 AS par, 'data/c.csv' AS name, (SELECT c FROM csv)
      |    AS content
      |  UNION ALL SELECT 0, 'docs/a.txt',
      |    'alpha file content' || chr(10)
      |  UNION ALL SELECT 0, 'docs/b.txt', repeat('beta ', 12)
      |  UNION ALL SELECT 1, 'shard/x.json',
      |    '{"id": 1, "text": "gamma"}'
      |  UNION ALL SELECT 1, 'shard/y.txt', repeat('delta ', 20))
      |SELECT d.doc_id, p.name,
      |  CAST(strlen(p.content) AS BIGINT) AS size,
      |  '0' AS typeflag, p.content
      |FROM documents d JOIN ent p ON d.doc_id % 2 = p.par
      |ORDER BY d.doc_id, p.name""".stripMargin

  private def tarTwinFixture(s: SparkSession, dir: String,
      hexes: Seq[String]): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), unhex(element_at(
        array(hexes.map(lit): _*),
        (pmod(col("doc_id"), lit(2L)) + 1L).cast("int"))).as("blob"))

  private[graft] def wikiBlob: org.apache.spark.sql.Column = unhex(
    when(col("doc_id") % 2L === 0L, lit(WikiBz2Hex.mkString))
      .otherwise(lit(WikiXmlHex)))

  private[graft] def wikiFixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), wikiBlob.as("blob"))

  /** ID3v2.3-tagged MP3 fixture (round 12, UTF-16 round 13):
    * TIT2/TPE1/TALB text frames with closed-form strings, one real
    * 32 kbps MPEG1-L3 frame after the tag. The TPE1 frame rotates its
    * text encoding by doc: latin-1 (enc 0), BOM'd UTF-16 (enc 1 —
    * v2.3's only Unicode form), and UTF-16BE without BOM (enc 2) —
    * same characters, three wire encodings, one oracle. Tag body
    * stays under 128 bytes so the syncsafe size is a single low
    * byte. */
  private[graft] def mp3Id3Blob: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    def frame(id: String, text: org.apache.spark.sql.Column,
        enc: org.apache.spark.sql.Column = lit(0L)) =
      concat(lit(id.getBytes),
        be32b(octet_length(text).cast("long") + 1L),
        lit(Array[Byte](0, 0)), // frame flags
        unhex(lpad(hex(enc), 2, "0")), // text encoding byte
        text)
    val artistTxt = concat(lit("artist-"), pmod(d, lit(7L)).cast("string"))
    val m = pmod(d, lit(3L))
    val body = concat(
      frame("TIT2", encode(concat(lit("doc-"), d.cast("string")),
        "utf-8")),
      frame("TPE1",
        when(m === 1L, encode(artistTxt, "UTF-16"))
          .when(m === 2L, encode(artistTxt, "UTF-16BE"))
          .otherwise(encode(artistTxt, "utf-8")),
        when(m === 1L, lit(1L)).when(m === 2L, lit(2L))
          .otherwise(lit(0L))),
      frame("TALB", encode(concat(lit("album-"),
        pmod(d, lit(3L)).cast("string")), "utf-8")))
    concat(lit("ID3".getBytes), lit(Array[Byte](3, 0, 0, 0, 0, 0)),
      unhex(lpad(hex(octet_length(body)), 2, "0")),
      body,
      unhex(lit("fffb14c0" + "00" * 92))) // one 32 kbps L3 frame
  }

  private[graft] def mp3Id3Fixture(s: SparkSession, dir: String)
      : DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), mp3Id3Blob.as("blob"))

  /** EXIF-bearing JPEG fixture (round 12): [[jpegBlob]] with an APP1
    * segment spliced after SOI — "Exif\0\0" + a little-endian TIFF
    * IFD0 whose single entry is orientation tag 0x0112 = 1+d%8. The
    * decoder pipeline is unaffected (APP segments are skipped); only
    * the EXIF walk sees it. */
  private[graft] def jpegExifBlob: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val o = lit(1L) + d % 8L
    val app1 = concat(
      lit("ffe1" + "0022" + "45786966" + "0000" +   // APP1 len 34, Exif\0\0
        "4949" + "2a00" + "08000000" +              // II TIFF, IFD @8
        "0100" + "1201" + "0300" + "01000000"),     // 1 entry: 0x0112 SHORT
      lpad(hex(o), 2, "0"),
      lit("000000" + "00000000"))                   // value pad + next IFD
    concat(unhex(lit("ffd8")), unhex(app1),
      jpegBlob.substr(lit(3), lit(1 << 30)))
  }

  /** OGG fixture (round 12): two pages per doc — a BOS page carrying
    * the id header (odd docs OpusHead with pre-skip 312, even docs a
    * Vorbis identification header) and an EOS page whose granule
    * position encodes a closed-form duration. Page CRCs are zero (the
    * walker, like most taggers, does not verify them). */
  private[graft] def oggBlob: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    def le16h(v: org.apache.spark.sql.Column) = concat(
      lpad(hex(pmod(v, lit(256L))), 2, "0"),
      lpad(hex(pmod((v / lit(256L)).cast("long"), lit(256L))), 2, "0"))
    def le32h(v: org.apache.spark.sql.Column) = concat(
      le16h(v), le16h((v / lit(65536L)).cast("long")))
    def page(hdrType: String, granule: org.apache.spark.sql.Column,
        seq: String, segLen: org.apache.spark.sql.Column,
        payloadHex: org.apache.spark.sql.Column) =
      concat(lit("4f676753" + "00" + hdrType), le32h(granule),
        lit("00000000"),            // granule high (always < 2^32 here)
        lit("07000000"),            // serial 7
        lit(seq + "000000"),        // page sequence
        lit("00000000"),            // crc (unverified)
        lit("01"), lpad(hex(segLen), 2, "0"), payloadHex)
    // Opus (odd docs): 19-byte OpusHead, 960-sample frames
    val opusCh = lit(1L) + d % 2L
    val opusGranule = lit(312L) + (lit(50L) + d % 100L) * 960L
    val opusHead = concat(lit("4f70757348656164" + "01"),
      lpad(hex(opusCh), 2, "0"), le16h(lit(312L)),
      le32h(lit(48000L)), lit("0000" + "00"))
    val opus = concat(
      page("02", lit(0L), "00", lit(19L), opusHead),
      page("04", opusGranule, "01", lit(1L), lit("aa")))
    // Vorbis (even docs): 30-byte identification header
    val vorbCh = lit(1L) + d % 3L
    val vorbRate = lit(8000L) * (lit(1L) + d % 5L)
    val vorbGranule = vorbRate * (lit(2L) + d % 9L)
    val vorbId = concat(lit("01" + "766f72626973" + "00000000"),
      lpad(hex(vorbCh), 2, "0"), le32h(vorbRate),
      lit("00" * 12 + "66" + "01"))
    val vorb = concat(
      page("02", lit(0L), "00", lit(30L), vorbId),
      page("04", vorbGranule, "01", lit(1L), lit("bb")))
    unhex(when(d % 2 === 1, opus).otherwise(vorb))
  }

  private[graft] def oggFixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), oggBlob.as("blob"))

  /** AVIF fixture (round 12): ftyp(avif | avis on odd docs) + meta
    * with pitm(item 1), iinf(2 items), iprp{ipco[ispe_alpha,
    * ispe_primary], ipma{1→prop2, 2→prop1}} + an mdat stub. The ALPHA
    * ispe deliberately comes FIRST with different dims — a walker
    * taking the first ispe instead of resolving pitm→ipma→ispe
    * reports the wrong geometry and fails the oracle. */
  private[graft] def avifBlob: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val w = lit(24L) + d % 16L
    val h = lit(18L) + d % 12L
    def be32h(v: org.apache.spark.sql.Column) = lpad(hex(v), 8, "0")
    val brand = when(d % 2 === 1, lit("61766973"))
      .otherwise(lit("61766966")) // "avis" / "avif"
    def ispe(wc: org.apache.spark.sql.Column,
        hc: org.apache.spark.sql.Column) =
      concat(lit("00000014" + "69737065" + "00000000"),
        be32h(wc), be32h(hc))
    val ipco = concat(lit("00000030" + "6970636f"),
      ispe(w + 2L, h + 2L), ispe(w, h))
    val ipma = lit("00000018" + "69706d61" + "00000000" + "00000002" +
      "0001" + "01" + "02" + "0002" + "01" + "01")
    val iprp = concat(lit("00000050" + "69707270"), ipco, ipma)
    val pitm = lit("0000000e" + "7069746d" + "00000000" + "0001")
    val iinf = lit("0000000e" + "69696e66" + "00000000" + "0002")
    val meta = concat(lit("00000078" + "6d657461" + "00000000"),
      pitm, iinf, iprp)
    unhex(concat(
      lit("00000010" + "66747970"), brand, lit("00000000"),
      meta,
      lit("00000009" + "6d646174" + "00")))
  }

  private[graft] def avifFixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), avifBlob.as("blob"))

  /** APNG fixture (round 12): IHDR + acTL(k frames, d%6 plays) + k
    * fcTL chunks with delay (3+(d+f)%9)/100 s + a stub IDAT + IEND —
    * the metadata walker reads control chunks and skips payloads by
    * length (no inflate). */
  private[graft] def pngAnimBlob: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val w = lit(9L) + d % 7L
    val h = lit(6L) + d % 5L
    val k = lit(2L) + d % 3L
    val crc0 = "00000000"
    def be32h(v: org.apache.spark.sql.Column) = lpad(hex(v), 8, "0")
    def be16h(v: org.apache.spark.sql.Column) = lpad(hex(v), 4, "0")
    val ihdr = concat(lit("0000000d" + "49484452"), be32h(w), be32h(h),
      lit("0802000000" + crc0))
    val actl = concat(lit("00000008" + "6163544c"), be32h(k),
      be32h(d % 6L), lit(crc0))
    val fctls = array_join(transform(sequence(lit(0L), k - 1L), f =>
      concat(lit("0000001a" + "6663544c"), be32h(f), be32h(w), be32h(h),
        lit("00000000" + "00000000"),
        be16h(lit(3L) + pmod(d + f, lit(9L))), lit("0064"),
        lit("0000" + crc0))), "")
    unhex(concat(lit("89504e470d0a1a0a"), ihdr, actl, fctls,
      lit("00000001" + "49444154" + "00" + crc0),
      lit("00000000" + "49454e44" + crc0)))
  }

  private[graft] def pngMetaFixture(s: SparkSession, dir: String)
      : DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, pngScan).as("__png_scan"))
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          pngAssemble(col("__png_scan"), lit(3L) + col("doc_id") % 4L,
            lit(2L) + col("doc_id") % 3L))
          .otherwise(pngAnimBlob).as("blob"))

  /** Animated-GIF fixture (round 12): no GCT, NETSCAPE2.0 loop
    * extension (loop = d%4), then 2+d%4 frames, each a GCE with delay
    * 5+(d+f)%12 centiseconds followed by a 1x1 image descriptor with a
    * stub LZW chain (the metadata walker skips payloads by sub-block
    * lengths — that is the contract under test). */
  private[graft] def gifAnimBlob: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val w = lit(20L) + d % 10L
    val h = lit(15L) + d % 5L
    val k = lit(2L) + d % 4L
    def le16h(v: org.apache.spark.sql.Column) = concat(
      lpad(hex(pmod(v, lit(256L))), 2, "0"),
      lpad(hex(pmod((v / lit(256L)).cast("long"), lit(256L))), 2, "0"))
    val netscape = lit("21ff0b" +
      "4e45545343415045322e30" + // "NETSCAPE2.0"
      "0301")
    val frames = array_join(transform(sequence(lit(0L), k - 1L), f =>
      concat(
        lit("21f904" + "00"),                       // GCE, packed 0
        le16h(lit(5L) + pmod(d + f, lit(12L))),     // delay (cs)
        lit("00" + "00"),                           // transparent, term
        lit("2c00000000"),                          // descriptor at 0,0
        lit("0100010000"),                          // 1x1, no LCT
        lit("02" + "0144" + "00"))), "")            // stub LZW chain
    unhex(concat(
      lit("474946383961"),                          // "GIF89a"
      le16h(w), le16h(h), lit("000000"),            // LSD, no GCT
      netscape, le16h(d % 4L), lit("00"),           // loop sub-block
      frames, lit("3b")))
  }

  private[graft] def gifMetaFixture(s: SparkSession, dir: String)
      : DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, col("doc_id")).as("__still"))
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, gifBlob)
          .otherwise(gifAnimBlob).as("blob"))

  /** Animated-WebP fixture (round 12): VP8X (alpha on d%4==1, anim
    * always) + ANIM(loop=d%5) + 2+d%3 ANMF frames of closed-form
    * durations 40+(d+f)%20 ms, each carrying a stub VP8L sub-chunk
    * (the metadata walker skips frame payloads by size — that IS the
    * contract under test). Canvas (16+d%8) x (12+d%4). */
  private[graft] def webpAnimBlob: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val w = lit(16L) + d % 8L
    val h = lit(12L) + d % 4L
    val k = lit(2L) + d % 3L
    def le24h(v: org.apache.spark.sql.Column) = concat(
      lpad(hex(pmod(v, lit(256L))), 2, "0"),
      lpad(hex(pmod((v / lit(256L)).cast("long"), lit(256L))), 2, "0"),
      lpad(hex(pmod((v / lit(65536L)).cast("long"), lit(256L))), 2, "0"))
    def le16h(v: org.apache.spark.sql.Column) = concat(
      lpad(hex(pmod(v, lit(256L))), 2, "0"),
      lpad(hex(pmod((v / lit(256L)).cast("long"), lit(256L))), 2, "0"))
    val flags = when(d % 4 === 1, lit(18L)).otherwise(lit(2L)) // 0x12/0x02
    val vp8x = concat(lit("56503858" + "0a000000"),      // "VP8X" size 10
      lpad(hex(flags), 2, "0"), lit("000000"),
      le24h(w - 1L), le24h(h - 1L))
    val anim = concat(lit("414e494d" + "06000000"),      // "ANIM" size 6
      lit("00000000"), le16h(d % 5L))
    // one ANMF frame: 16 header bytes + ("VP8L" + size 6 + 6 bytes)
    val frames = array_join(transform(sequence(lit(0L), k - 1L), f =>
      concat(lit("414e4d46" + "1e000000"),               // "ANMF" size 30
        lit("000000" + "000000"),                        // x/2, y/2
        le24h(w - 1L), le24h(h - 1L),
        le24h(lit(40L) + pmod(d + f, lit(20L))),         // duration ms
        lit("00"),                                       // blend/dispose
        lit("5650384c" + "06000000" + "2f0000000000"))), "")
    val payloadHex = concat(vp8x, anim, frames)
    // RIFF size = 4 ("WEBP") + payload bytes
    concat(lit("RIFF".getBytes),
      le32b(lit(4L) + (lit(18L) + 14L) + k * 38L),
      lit("WEBP".getBytes), unhex(payloadHex))
  }

  private[graft] def webpMetaFixture(s: SparkSession, dir: String)
      : DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, webpBits).as("__bits"))
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, webpAssemble(col("__bits")))
          .otherwise(webpAnimBlob).as("blob"))

  private[graft] def webpFixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), webpBits.as("__bits"))
      .select(col("doc_id"), webpAssemble(col("__bits")).as("blob"))

  /** 16 KiB media region whose byte at ABSOLUTE file offset p is
    * `p % 251` (prime modulus — no aliasing with the 2-periodic sample
    * sizes) — ONE plan-time constant shared by every row. */
  private[graft] lazy val mp4DataRegion: Array[Byte] =
    Array.tabulate(16384)(p => (p % 251).toByte)

  /** [[mp4Fixture]] plus a REAL mdat-style data region: the header's
    * chunk offsets (4096·(c+1)) point INTO the blob, so the planned
    * keyframe byte ranges are actually readable. The data literal is
    * addressed absolutely (byte p of the final blob is `p % 251` for
    * every p past the header), so slice content is pure offset
    * arithmetic for the oracle. The header is hoisted into an alias
    * first — `octet_length` then reads a bound attribute instead of
    * cloning the fixture tree (the mm_wav_meta task-binary trap). */
  private[graft] def mp4FixtureWithData(s: SparkSession, dir: String)
      : DataFrame = {
    val dataLit = lit(mp4DataRegion)
    t(s, dir, "documents")
      .select(col("doc_id"), mp4Blob.as("hdr"))
      .select(col("doc_id"), concat(col("hdr"),
        dataLit.substr((octet_length(col("hdr")) + 1).cast("int"),
          (lit(16384) - octet_length(col("hdr"))).cast("int"))).as("blob"))
  }

  /** MP3 fixture — a VBR MPEG1 Layer III mono stream in closed form:
    * ID3v2 tag of 6 + d%5 body bytes, then 20 + d%10 back-to-back
    * frames whose per-frame bitrate index cycles 1 + (d+f)%14. Sample
    * rate 48000 makes every Layer III frame length exact (144·b/48000 =
    * 3·kbps — no padding ambiguity), so the whole stream is pure
    * doc_id arithmetic; the oracle re-sums the per-frame lengths. */
  private[graft] def mp3Blob: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val nf = lit(20L) + d % 10L
    val tagSz = d % 5L + 6L
    // a frame's bytes are a pure function of its bitrate index, so all
    // 14 full-frame hex strings fold at PLAN-BUILD time — the lambda is
    // one O(1) array lookup per frame, not per-frame string assembly
    val kbps = Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
      224, 256, 320)
    val frameTable = typedlit(kbps.zipWithIndex.map { case (k, i) =>
      // sync+MPEG1+L3+noCRC | bitrate idx + sr idx 1 (48k) | mono
      f"fffb${(i + 1) * 16 + 4}%02xc0" + "0" * ((3 * k - 4) * 2)
    })
    val frames = transform(sequence(lit(0L), nf - 1L), f =>
      element_at(frameTable, ((d + f) % 14L + 1L).cast("int")))
    concat(
      lit("ID3".getBytes), unhex(lit("0300" + "00" + "000000")),
      unhex(lpad(hex(tagSz), 2, "0")),
      unhex(lit("0" * (2 * 10)).substr(lit(1), tagSz * 2L)),
      unhex(array_join(frames, "")))
  }

  private[graft] def mp3Fixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), mp3Blob.as("blob"))

  private[graft] def flacFixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), flacFrameVals.as("__fv"))
      .select(col("doc_id"), flacBlob(col("__fv")).as("blob"))

  val all: Map[String, QueryFn] = Map(
    // ---- dedup ----
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(docsUnion(s, dir), Seq("text"), "doc_id")
        .select(col("survivor_id"), col("n_copies"))
        .orderBy(col("survivor_id"))),

    "dedup_exact_hash" -> ((s, dir) =>
      Dedup.exactByHash(docsUnion(s, dir), "text", "doc_id")
        .select(col("survivor_id"), col("n_copies"))
        .orderBy(col("survivor_id"))),

    // normalization-keyed exact dedup: the twin here is a FORMATTING
    // variant (uppercased, extra whitespace/punctuation), invisible to
    // raw exact dedup but collapsed by the normalized key —
    // n_raw_variants = 2 on every group certifies the merge actually
    // exercised the normalizer (corpus is ASCII, so upper() is portable)
    "dedup_normalized" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val variant = d.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit(" "), upper(col("text")), lit(" !!")).as("text"))
      Dedup.normalizedExact(d.unionAll(variant), "text", "doc_id")
        .select(col("survivor_id"), col("n_copies"), col("n_raw_variants"))
        .orderBy(col("survivor_id"))
    }),

    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashNearDup(docsUnion(s, dir), "text", "doc_id",
          shingleK = 3, numHashes = 64, bands = 16, threshold = 0.8)
        .orderBy(col("a"), col("b"))),

    // exact-duplicate routing through the simhash block index — output is
    // hash-family independent (see Dedup.simhashExactDup), hence oracled
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashExactDup(docsUnion(s, dir), "text", "doc_id",
          maxHamming = 3)
        .orderBy(col("a"), col("b"))),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      // n=5: char-3-grams of this small-vocab corpus have ~0.45 median
      // jaccard between UNRELATED docs (measured) — 3-gram LSH candidates
      // would be near-quadratic. 5-grams separate (median 0.18 vs 1.0 for
      // twins), so candidates stay near-linear.
      Dedup.ngramJaccardNearDup(docsUnion(s, dir), "text", "doc_id",
          n = 5, threshold = 0.5)
        .orderBy(col("a"), col("b"))),

    "dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingNearDup(embUnion(s, dir), "embedding", "vec_id",
          threshold = 0.95)
        .select(col("a"), col("b"))
        .orderBy(col("a"), col("b"))),

    // incremental dedup (the daily-ingest shape): a delta where every
    // even doc is a byte-identical re-crawl (dropped against the corpus
    // index) and every odd doc is an update (survives); the delta also
    // carries one within-batch duplicate pair per odd doc's twin
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val delta1 = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" updated"))).as("text"))
      // second copy of the odd updates at higher ids: within-delta dups
      val delta = delta1.unionAll(
        delta1.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.incrementalNew(docs, delta, "text", "doc_id")
        .orderBy(col("survivor_id"))
    }),

    // PARTITION-PRUNED daily ingest (round 11): the same incremental
    // exact dedup against a WRITTEN hash-bucketed digest index — the
    // anti-join scans only the delta's digest buckets instead of the
    // corpus-scaled index; identical output by the same oracle
    "dedup_incremental_bucketed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val index = Artifact.memoized("digest_index", dir)(
        Dedup.buildDigestIndexBucketed(docs, "text", _))
      val delta1 = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" updated"))).as("text"))
      val delta = delta1.unionAll(
        delta1.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.incrementalNewBucketed(index, delta, "text", "doc_id")
        .orderBy(col("survivor_id"))
    }),

    // Incremental NEAR-dup: the delta probes a WRITTEN LSH band index
    // (the daily-ingest near-dup shape — corpus text never re-read, band
    // relation never shuffled: delta band keys broadcast into the index
    // scan). Identity delta at +1M ids: every doc must match its twin at
    // jaccard 1.0, plus the corpus's own >= 0.8 near-pairs in both
    // orientations. Same kernels/parameters as dedup_minhash, so the
    // oracle is the full bipartite exact-Jaccard recompute.
    "dedup_incremental_near" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val index = lshIndex(s, dir)
      val delta = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        col("text"))
      Dedup.lshProbeNearDup(index, delta, "text", "doc_id",
          threshold = 0.8)
        .orderBy(col("a"), col("b"))
    }),

    // PARTITION-PRUNED probe (round 11): the same probe over the
    // BUCKETED index (bands hash-partitioned by band key, sidecar by
    // doc id — the term-index discipline), identical results by the
    // same full value oracle; the plan spec pins non-empty
    // PartitionFilters on BOTH index scans
    "dedup_bucketed_probe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val index = Artifact.memoized("lsh_bucketed", dir)(
        Dedup.buildLshIndexBucketed(docs, "text", "doc_id", _))
      val delta = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        col("text"))
      Dedup.lshProbeNearDupBucketed(index, delta, "text", "doc_id",
          threshold = 0.8)
        .orderBy(col("a"), col("b"))
    }),

    // BUCKET-ALIGNED APPEND (round 12): the index is built over HALF
    // the corpus and the other half APPENDED into its bucket
    // partitions through the ingest ledger's staged commit — the probe
    // must then be indistinguishable from one over a fresh full build,
    // so it answers to the same full value oracle as
    // dedup_bucketed_probe; the replay (same batch twice → byte-
    // identical index) and post-append PartitionFilters contracts are
    // spec-pinned
    "dedup_bucketed_append_probe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val index = Artifact.memoized("lsh_bapp", dir) { p =>
        Dedup.appendToLshIndexBucketed(Dedup.buildLshIndexBucketed(
            docs.filter(col("doc_id") % 2 === 0), "text", "doc_id", p),
          docs.filter(col("doc_id") % 2 =!= 0), "text", "doc_id")
      }
      val delta = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        col("text"))
      Dedup.lshProbeNearDupBucketed(index, delta, "text", "doc_id",
          threshold = 0.8)
        .orderBy(col("a"), col("b"))
    }),

    // the digest-index twin: half-built, half-appended, probed by the
    // same delta — identical output to dedup_incremental_bucketed by
    // the same oracle
    "dedup_incremental_bucketed_append" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val index = Artifact.memoized("digest_bapp", dir) { p =>
        Dedup.appendToDigestIndexBucketed(Dedup.buildDigestIndexBucketed(
            docs.filter(col("doc_id") % 2 === 0), "text", p),
          docs.filter(col("doc_id") % 2 =!= 0), "text")
      }
      val delta1 = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" updated"))).as("text"))
      val delta = delta1.unionAll(
        delta1.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.incrementalNewBucketed(index, delta, "text", "doc_id")
        .orderBy(col("survivor_id"))
    }),

    // INDEX MAINTENANCE (round 11): the same probe over a COMPACTED
    // rewrite of the written LSH index (bounded file counts at a fresh
    // path, handle swap) — results must be identical, so it reuses the
    // uncompacted probe's full value oracle; the spec additionally pins
    // the file-count reduction
    "dedup_compacted_probe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val index = Artifact.memoized("lsh_compact", dir)(
        Dedup.compactLshIndex(s, lshIndex(s, dir), _, filesPerRelation = 1))
      val delta = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        col("text"))
      Dedup.lshProbeNearDup(index, delta, "text", "doc_id",
          threshold = 0.8)
        .orderBy(col("a"), col("b"))
    }),

    // Bloom-filter incremental dedup: the corpus collapses to a one-row
    // 2^20-bit filter over poly fingerprints (bounded shuffle, 128 KiB
    // summary), broadcast into a row-local probe — the delta never
    // shuffles. Same delta synthesis as dedup_incremental: even re-crawls
    // must flag maybe_dup, odd updates must not (no false negatives by
    // construction; the oracle recomputes the exact position-set
    // membership, so even a false positive would match).
    "dedup_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val delta = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" updated"))).as("text"))
      Dedup.bloomMaybeDup(Dedup.bloomIndex(docs, "text"), delta,
          "text", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // cross-source corpus overlap: pairwise word-3-shingle Jaccard
    // between sources — the "how much does crawl A repeat crawl B"
    // pre-mixing report. Sources share boilerplate-free synthetic text,
    // so overlap comes from genuinely shared shingles
    "corpus_source_sim" -> ((s, dir) =>
      Sketches.groupShingleJaccard(t(s, dir, "documents"), "source",
          "text", shingleK = 3)
        .orderBy(col("g_a"), col("g_b"))),

    // cross-source EXACT-duplicate leakage matrix: a simulated re-crawl
    // re-ingests every other doc OF EACH source (sources are assigned
    // round-robin by doc_id, so the alternation key is doc_id DIV 20 —
    // plain doc_id % 2 would select only the even sources, in full) under
    // a 're_'-prefixed source; the matrix reports distinct shared texts
    // per source pair — the release audit run before mixing crawls (or
    // before trusting a train/eval source split)
    "corpus_dup_matrix" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val recrawl = d
        .filter(pmod(expr("doc_id DIV 20"), lit(2)) === 0)
        .withColumn("source", concat(lit("re_"), col("source")))
      Dedup.crossSourceDupMatrix(d.unionAll(recrawl), "text", "source")
        .orderBy(col("source_a"), col("source_b"))
    }),

    // SemDeDup semantic dedup: 1-iteration k-means clusters (trained on
    // the union corpus), within-cell cosine >= 0.95 pairs. Twin pairs are
    // identical vectors, so they share a cell and qualify; the emitted
    // cell id pins the whole cluster-assignment chain, not just the pair
    // set (cosine itself stays engine-side, like dedup_embedding)
    "dedup_semantic" -> ((s, dir) => {
      val u = embUnion(s, dir)
      val (ids, vecs) = Similarity.kmeansCentroids(u, nlist = 16, iters = 1)
      Dedup.semanticNearDup(u, "embedding", "vec_id", ids, vecs,
          threshold = 0.95)
        .select(col("a"), col("b"), col("cell"))
        .orderBy(col("a"), col("b"))
    }),

    // end-to-end dedup: minhash near-dup pairs → connected components →
    // every doc mapped to its cluster survivor (smallest id)
    "dedup_survivors" -> ((s, dir) => {
      val u = docsUnion(s, dir)
      val pairs = Dedup.minhashNearDup(u, "text", "doc_id",
        shingleK = 3, numHashes = 64, bands = 16, threshold = 0.8)
      Dedup.survivorsFromPairs(u.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("survivor_id"))
        .orderBy(col("doc_id"))
    }),

    // exact-substring duplication (suffix-style dedup): pairs sharing a
    // verbatim run of >= 12 normalized tokens, with the longest shared
    // run length. Over the twin union every doc with >= 12 tokens pairs
    // with its twin at longest_run = its full token count; any genuine
    // cross-document verbatim runs surface identically.
    "dedup_substring" -> ((s, dir) =>
      Dedup.substringPairs(docsUnion(s, dir), "text", "doc_id",
          k = 12, maxDf = 8)
        .orderBy(col("doc_a"), col("doc_b"))),

    // the removal half of substring dedup: duplicated >= 12-token runs
    // deleted from the higher-id doc of each pair; docs rebuilt row-local
    // from kept tokens. Twins (higher ids) scrub to empty; originals that
    // are doc_b of a genuine pair lose just the shared span.
    "dedup_substring_scrub" -> ((s, dir) =>
      Dedup.substringScrub(docsUnion(s, dir), "text", "doc_id",
          k = 12, maxDf = 8)
        .orderBy(col("doc_id"))),

    // line-level boilerplate dedup (RefinedWeb/CCNet line filter): the
    // corpus has no newlines, so the query composes multi-line docs with
    // seeded boilerplate (a newsletter line in every 3rd doc, a copyright
    // footer in every 2nd — df far above maxDf=8) around the unique text
    // and a per-doc ref line; the filter must strip exactly the seeded
    // lines and rebuild the rest in order
    "dedup_lines" -> ((s, dir) =>
      Dedup.lineDedup(
        t(s, dir, "documents").select(col("doc_id"),
          concat_ws("\n",
            when(col("doc_id") % 3 === 0,
              lit("subscribe to our newsletter today")),
            col("text"),
            when(col("doc_id") % 2 === 0,
              lit("copyright 2026 example corp all rights reserved")),
            concat(lit("doc ref "), col("doc_id"))).as("text")),
        "text", "doc_id", maxDf = 8)
        .orderBy(col("doc_id"))),

    // intra-document repeated-line scrub: seeded repeats (the text line
    // doubled in every 2nd doc, the ref line doubled in every 3rd) must
    // collapse to their first occurrence; other docs pass unchanged
    "dedup_lines_intra" -> ((s, dir) =>
      Dedup.intraLineDedup(
        t(s, dir, "documents").select(col("doc_id"),
          concat_ws("\n",
            col("text"),
            when(col("doc_id") % 2 === 0, col("text")),
            concat(lit("ref "), col("doc_id")),
            when(col("doc_id") % 3 === 0, concat(lit("ref "), col("doc_id"))))
            .as("text")),
        "text", "doc_id")
        .select(col("doc_id"), col("n_lines"), col("n_removed"),
          col("clean_sha"))
        .orderBy(col("doc_id"))),

    // ---- sampling / corpus mixing ----
    "sample_hash" -> ((s, dir) =>
      Sampling.hashSample(t(s, dir, "documents"), "doc_id", num = 3, den = 10)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),

    // per-row importance sampling: keep probability proportional to doc
    // length (clamped at 1500/2000) — the quality-weighted downsample;
    // pure deterministic filter, exact rational arithmetic
    "sample_importance" -> ((s, dir) =>
      Sampling.importanceSample(t(s, dir, "documents"), "doc_id",
          least(col("n_chars"), lit(1500)), den = 2000)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))),

    "sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "documents"), "source", "doc_id",
          rates = Map("src0" -> 8, "src1" -> 5, "src2" -> 2), den = 10)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),

    // epoch-weighted corpus mixture: 2.5 epochs of src0, 1 of src1,
    // 0.25 of src2 — whole copies + hash-chosen fractional membership
    "sample_epoch_mix" -> ((s, dir) =>
      Sampling.epochMix(t(s, dir, "documents"), "source", "doc_id",
          weights = Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.25))
        .select(col("doc_id"), col("source"), col("copy"))
        .orderBy(col("doc_id"), col("copy"))),

    // temperature-flattened language rebalancing (alpha = 1/2): the
    // skewed lang marginal (en 218 ... fr 64 at sf0.01) is sampled
    // toward the flattened distribution under a 250-row budget — en is
    // cut hardest, small languages keep most rows
    "sample_temperature" -> ((s, dir) =>
      Sampling.temperatureSample(t(s, dir, "documents"), "lang", "doc_id",
          targetRows = 250)
        .select(col("doc_id"), col("lang"), col("n_stratum"), col("rate"))
        .orderBy(col("doc_id"))),

    // per-group cap ("≤70 docs per language"): en/es/zh exceed the cap at
    // sf0.01 and flow through the ranked-window branch; de/fr ride the
    // no-shuffle passthrough branch — both arms of the operator verified
    "sample_lang_cap" -> ((s, dir) =>
      Sampling.groupCap(t(s, dir, "documents"), "lang", "doc_id", cap = 70)
        .select(col("doc_id"), col("lang"), col("n_group"))
        .orderBy(col("doc_id"))),

    // TOKEN-BUDGET CUT (wired round 16 — was dead code since round 6):
    // "take the best 10k tokens" without a global sort. The score is
    // QUANTIZED (n_chars DIV 50 — the operator's loud domain contract)
    // so the per-score relation is tiny; scores fully under budget
    // select row-locally, only the boundary group pays a ranked
    // window. The oracle replays the equivalent GLOBAL cumulative rule
    // over (score desc, Knuth hash, id) — equality proves the
    // group-split formulation exact, not just plausible
    "sample_budget_cut" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        TF.intDivNonNeg(col("n_chars").cast("long"), lit(50L))
          .as("q_score"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      Sampling.budgetCut(docs, "q_score", "doc_id", "toks",
          budget = 10000L)
        .orderBy(col("doc_id"))
    }),

    // deterministic 80/10/10 dataset split: exact cumulative hash ranges,
    // row-local, stable under corpus growth (new docs never migrate
    // existing rows between splits)
    "sample_split" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          Sampling.splitLabel(col("doc_id"),
            Seq(("train", 8), ("val", 1), ("test", 1)), den = 10)
            .as("split"))
        .orderBy(col("doc_id"))),

    // per-group top-k by score WITHOUT a per-group sort window: the
    // bounded-heap partial aggregate reduces each map task to <= k rows
    // per group before the exchange ("top 3 longest docs per language")
    "rank_group_topk" -> ((s, dir) =>
      Ranking.topKPerGroup(t(s, dir, "documents"), "lang",
          col("n_chars"), "doc_id", k = 3)
        .orderBy(col("lang"), col("rank"))),

    // KMV distinct-count sketch (portable alternative to HLL — the hash
    // chain is exact int64, so the oracle recomputes the ESTIMATE itself,
    // not just a rows count): per-language distinct-token estimates
    "sketch_kmv_distinct" -> ((s, dir) =>
      Sketches.kmvTokenDistinct(t(s, dir, "documents"), "lang", "text",
          k = 128)
        .orderBy(col("lang"))),

    // histogram quantile sketch error audit: p50/p90/p99 of n_chars from
    // 64-wide bins (the mergeable fixed-size scale path) next to the
    // exact interpolated percentile; binWidth=64 over a 48..~550 domain
    // keeps the bin count small while leaving real quantization error to
    // measure
    "sketch_quantile_hist" -> ((s, dir) =>
      Sketches.histQuantiles(t(s, dir, "documents"), "n_chars",
        binWidth = 64, ps = Seq(50, 90, 99))),

    // rank-adaptive twin: no user binWidth — pass 1 calibrates min/max/n,
    // pass 2 bins at ceil(range/32); exactly two corpus scans
    "sketch_quantile_auto" -> ((s, dir) =>
      Sketches.histQuantilesAuto(t(s, dir, "documents"), "n_chars",
        nBins = 32, ps = Seq(50, 90, 99))),

    // CountMin sketch error audit: the mergeable counter grid (one
    // partial-aggregated array row, the token stream never shuffles)
    // probed at the exact top-20 tokens — overcount = est − exact is the
    // sketch's measured error, ≥ 0 by construction. width=64 is chosen
    // BELOW the corpus vocabulary so collisions genuinely occur and the
    // min-over-depth estimate is exercised, not vacuous
    "sketch_cms_err" -> ((s, dir) => {
      val (depth, width) = (4, 64)
      val toks = t(s, dir, "documents")
        .select(explode(TF.normTokens(col("text"))).as("tok"))
      // fingerprint in its own projection, referenced once per depth row
      // downstream (CollapseProject guard — the minhash lesson)
      val pos = toks
        .select(col("tok"), TF.fingerprintPolyRaw(col("tok")).as("fp"))
        .select(col("tok"),
          Sketches.cmsPositions(col("fp"), depth, width).as("ps"))
      val grid = pos.agg(
        Sketches.cmsAgg(col("ps"), depth, width).as("cms"))
      val top = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("exact_count"))
        .orderBy(col("exact_count").desc, col("tok")).limit(20)
      top
        .select(col("tok"), col("exact_count"),
          Sketches.cmsPositions(TF.fingerprintPolyRaw(col("tok")),
            depth, width).as("ps"))
        .crossJoin(broadcast(grid))
        .select(col("tok"), col("exact_count"),
          Sketches.cmsEstimate(col("cms"), col("ps"), depth, width)
            .as("cms_est"))
        .withColumn("overcount", col("cms_est") - col("exact_count"))
        .orderBy(col("exact_count").desc, col("tok"))
    }),

    // Z-order layout audit: the same corpus laid out naturally (order
    // key) vs Morton-clustered, same 4096-row files, same box predicate
    // on (partkey, suppkey) — files_hit/rows_scanned is what min/max
    // file skipping would actually open under each layout;
    // rows_matched is layout-invariant (sanity anchor)
    // round 18: a fused single-window variant (explode-tag both layouts,
    // Window.partitionBy(layout), one exchange) was implemented and
    // MEASURED WORSE — 1.97 s pinned / 3.0-3.9 s unpinned vs 1.71 s for
    // this shape (the tagged pipeline fuses into one stage, so the
    // output sort's range sample re-ran both layout sorts; pinned, the
    // parallel sorts still lost to the extra exchange + wider tagged
    // rows). Reverted; the per-layout audits below stay the operating
    // point.
    "layout_zorder_prune" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(pmod(col("l_partkey"), lit(65536)).as("x"),
          pmod(col("l_suppkey"), lit(65536)).as("y"),
          col("l_orderkey"), col("l_linenumber"))
      val (x1, x2, y1, y2) = (256L, 511L, 32L, 47L)
      val natural = Layout.pruneAudit(li, "x", "y",
        Seq(col("l_orderkey"), col("l_linenumber")), 4096,
        x1, x2, y1, y2).withColumn("layout", lit("natural"))
      val zed = Layout.pruneAudit(
        li.withColumn("z", Layout.zValue16(col("x"), col("y"))),
        "x", "y", Seq(col("z"), col("l_orderkey"), col("l_linenumber")),
        4096, x1, x2, y1, y2).withColumn("layout", lit("zorder"))
      natural.unionAll(zed)
        .select(col("layout"), col("n_files"), col("files_hit"),
          col("rows_scanned"), col("rows_matched"))
        .orderBy(col("layout"))
    }),

    // deterministic training-order shuffle: 16-shard interleaved total
    // order, identical at any cluster size (and in the oracle engine)
    "corpus_shuffle" -> ((s, dir) =>
      Sampling.deterministicShuffle(t(s, dir, "documents"), "doc_id",
          nShards = 16)
        .select(col("doc_id"), col("shard"), col("sort_key"),
          col("pos_in_shard"), col("order_key"))
        .orderBy(col("doc_id"))),

    // ---- similarity search ----
    "sim_topk_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // two-stage matryoshka retrieval: coarse 32-dim prefix dot keeps
    // k×overfetch candidates per query, exact full-dim cosine reranks.
    // The oracle recomputes the SAME staged pipeline, so it pins the
    // stage boundary exactly; recall vs brute force is spec-pinned
    // 1-bit binary-quantization retrieval: sign-bit Hamming coarse pass
    // (k·overfetch, ties by id — Hamming is coarse so ties are the norm)
    // then exact-cosine rerank of the candidates only
    "sim_topk_binary" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.binaryTopK(emb, emb.filter(col("vec_id") < 10),
          k = 5, overfetch = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    "sim_topk_prefix" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.prefixRerankTopK(emb, emb.filter(col("vec_id") < 10),
          k = 5, prefixDim = 32, overfetch = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // product-quantized retrieval (m=4 subspaces × ksub=16 codewords =
    // 4 bytes/vector): integer-exact ADC coarse pass keeps k·overfetch
    // candidates, exact-cosine rerank; the oracle recomputes the
    // codebooks, per-subspace L2 assignment, the 1e-5 fixed-point ADC
    // and both deterministic stage cuts
    "sim_topk_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10),
          k = 5, m = 4, ksub = 16, overfetch = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // FILTERED vector search (top-k among label-1 vectors only): the
    // metadata predicate composes BELOW the scorer, so it pushes into
    // the corpus scan — prune first, score the survivors, never
    // post-filter a wider top-k (which can return < k rows)
    "sim_topk_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("label") === 1),
          emb.filter(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    "sim_topk_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
          nlist = 16, nprobe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // recall@5 of IVF against exact brute force — the evaluation metric
    // an ANN deployment watches when tuning nlist/nprobe, computed
    // in-engine and recomputed exactly by the oracle
    // recall audit for the binary-quantized path — same shape as
    // sim_recall_ivf: per-query overlap of binaryTopK's top-5 with the
    // exact brute-force top-5
    "sim_recall_binary" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.binaryTopK(emb, q, k = 5, overfetch = 4)
        .select(col("query_id"), col("neighbor_id"))
      val hits = brute.intersect(approx)
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) * 20).as("recall_pct"))
        .orderBy(col("query_id"))
    }),

    // PQ with TRAINED codebooks: one Lloyd refinement per subspace
    // (the exact-fixed-point k-means trainer reused m times), then the
    // identical assignment/ADC/rerank chain; the oracle recomputes the
    // per-subspace training — quantized means, empty-cell carryover —
    // and the full retrieval over the refined codewords
    "sim_topk_pq_trained" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopKWithCodebooks(emb, emb.filter(col("vec_id") < 10),
          k = 5,
          Similarity.pqCodebooksTrained(emb, m = 4, ksub = 16, iters = 1),
          overfetch = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // recall audit for the trained-codebook path — the trained-vs-init
    // delta is the published evidence that training buys recall
    "sim_recall_pq_trained" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.pqTopKWithCodebooks(emb, q, k = 5,
          Similarity.pqCodebooksTrained(emb, m = 4, ksub = 16, iters = 1),
          overfetch = 4)
        .select(col("query_id"), col("neighbor_id"))
      val hits = brute.intersect(approx)
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) * 20).as("recall_pct"))
        .orderBy(col("query_id"))
    }),

    // IVF-PQ composition (round 9): coarse cells + product-quantized
    // RESIDUALS with one Lloyd pass per subspace — the standard Faiss
    // IVFx,PQy shape; same cell rule as sim_topk_ivf, same subspace/
    // quantization/training rules as sim_topk_pq_trained, ADC =
    // exact-int64 ⟨q,centroid⟩ + ⟨q,residual recon⟩. The oracle
    // recomputes the entire composition including training
    // (IvfPqCtesSql). Measured recall@5 at sf0.01: 68% vs 60% trained
    // raw-PQ / 48% untrained at the identical m×ksub code budget —
    // residual encoding is what the composition buys (measured)
    "sim_topk_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
          nlist = 16, nprobe = 4, m = 4, ksub = 16, overfetch = 4,
          iters = 1)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // the written IVF-PQ deployment shape: codes + cell id written once
    // partitioned by cell, probes read ONLY their cells
    // (PartitionFilters) and only the CODES for the ADC — full vectors
    // are touched for the k·overfetch rerank candidates alone. Same
    // parameters and arithmetic as sim_topk_ivfpq ⇒ same oracle (the
    // sim_topk_ivf_indexed precedent)
    "sim_topk_ivfpq_indexed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = ivfPqIndex(s, dir)
      Similarity.ivfPqTopKIndexed(index, emb.filter(col("vec_id") < 10),
          k = 5, nprobe = 4, overfetch = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // INDEX MAINTENANCE (round 11): the same partition-pruned probe
    // over a COMPACTED rewrite of the written IVF-PQ index (one file
    // per cell at a fresh path, frozen centroids/codebooks ride the
    // handle) — bit-identical results, same oracle
    "sim_topk_compacted" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = Artifact.memoized("ivfpq_compact", dir)(
        Similarity.compactIvfPqIndex(s, ivfPqIndex(s, dir), _))
      Similarity.ivfPqTopKIndexed(index, emb.filter(col("vec_id") < 10),
          k = 5, nprobe = 4, overfetch = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // recall audit for the IVF-PQ path — the published evidence that
    // residual encoding buys recall over raw-vector PQ at the same
    // m×ksub code budget (compare against sim_recall_pq/_trained)
    "sim_recall_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfPqTopK(emb, q, k = 5, nlist = 16,
          nprobe = 4, m = 4, ksub = 16, overfetch = 4, iters = 1)
        .select(col("query_id"), col("neighbor_id"))
      val hits = brute.intersect(approx)
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) * 20).as("recall_pct"))
        .orderBy(col("query_id"))
    }),

    // recall audit for the product-quantized path — per-query overlap of
    // pqTopK's top-5 with the exact brute-force top-5
    "sim_recall_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.pqTopK(emb, q, k = 5, m = 4, ksub = 16,
          overfetch = 4)
        .select(col("query_id"), col("neighbor_id"))
      val hits = brute.intersect(approx)
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) * 20).as("recall_pct"))
        .orderBy(col("query_id"))
    }),

    "sim_recall_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(emb, q, k = 5, nlist = 16, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val hits = brute.intersect(approx)
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) * 20).as("recall_pct"))
        .orderBy(col("query_id"))
    }),

    // the 100 TB deployment shape: corpus WRITTEN partitioned by cell,
    // probes read only their cells (PartitionFilters in the plan). Same
    // centroid rule + parameters as sim_topk_ivf ⇒ same oracle
    "sim_topk_ivf_indexed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = Artifact.memoized("ivf_index", dir)(
        Similarity.buildIvfIndex(emb, _, nlist = 16))
      Similarity.ivfTopKIndexed(index, emb.filter(col("vec_id") < 10),
          k = 5, nprobe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // incremental ANN ingest: a delta batch append-written into the
    // written IVF index's cell partitions (no rebuild, no corpus
    // shuffle), then probed together with the base corpus. Built and
    // appended once per artifact (see [[Artifact]]), so repeated
    // invocations never double-append; the delta's shifted ids surface
    // in the top-k as exact-tie twins, proving probes read the appended
    // partitions
    "sim_ivf_append_probe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = Artifact.memoized("ivf_append", dir)(p =>
        Similarity.appendToIvfIndex(
          Similarity.buildIvfIndex(emb, p, nlist = 16),
          emb.withColumn("vec_id", col("vec_id") + 1000000L)))
      Similarity.ivfTopKIndexed(index, emb.filter(col("vec_id") < 10),
          k = 5, nprobe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // one Lloyd's iteration of the IVF centroid trainer: assignment is a
    // row-local projection; the per-(cell,dim) decimal means are order-
    // independent, so the trained centroids are exactly reproducible in SQL
    "ivf_kmeans_refine" -> ((s, dir) => {
      val (ids, vecs) = Similarity.kmeansCentroids(
        t(s, dir, "embeddings"), nlist = 16, iters = 1)
      import s.implicits._
      ids.zip(vecs).toSeq
        .flatMap { case (cid, v) =>
          v.zipWithIndex.map { case (m, p) => (cid, p, m) } }
        .toDF("cell", "pos", "mean")
        .orderBy(col("cell"), col("pos"))
    }),

    // ---- text analysis ----
    "text_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).as("n_chars"),
          TF.tokenCount(col("text")).as("n_tokens"),
          TF.punctCount(col("text")).as("n_punct"),
          TF.digitCount(col("text")).as("n_digits"))
        .orderBy(col("doc_id"))),

    "text_profile" -> ((s, dir) =>
      // ONE native pass per document (graft.plans.TextSignals) — the HOF
      // formulation costs ~10 interpreted lambda trees per row; outputs
      // are exact-parity (property-tested + this oracle)
      t(s, dir, "documents")
        .select(col("doc_id"), TF.textSignals(col("text")).as("sig"))
        .select(col("doc_id"),
          TF.langOrUnd(col("sig.lang_id"), col("sig.lang_id_score"))
            .as("lang_pred"),
          TF.qualityScoreFromSignals(col("sig")).as("quality"),
          col("sig.n_subwords").as("n_subwords"),
          TF.stopwordRatioFromSignals(col("sig")).as("stopword_ratio"))
        .orderBy(col("doc_id"))),

    // corpus-LM surprisal quality score: add-1 unigram LM over the top-256
    // vocabulary (OOV bucket), exact fixed-point inverse-probability mean
    // — the CCNet-style "score docs under a corpus LM" outlier filter
    "text_lm_surprisal" -> ((s, dir) =>
      Relevance.unigramSurprisal(t(s, dir, "documents"), "text", "doc_id",
          vocabSize = 256)
        .orderBy(col("doc_id"))),

    // bigram corpus-LM surprisal (word-order sensitivity the unigram
    // model lacks): top-256 bigram table — genuinely pruning at every SF
    // (the 31-type template vocabulary yields ~900 observed pairs), so
    // the unseen-pair path is exercised; all arithmetic exact int64
    "text_lm_bigram" -> ((s, dir) =>
      Relevance.bigramSurprisal(t(s, dir, "documents"), "text", "doc_id",
          tableSize = 256)
        .orderBy(col("doc_id"))),

    // collocation extraction: top-20 pairs by rational PMI (900 of 916
    // observed pairs clear minCount=5 at every SF, so the cut and the
    // affinity ranking are both exercised)
    "text_collocations" -> ((s, dir) =>
      Relevance.collocations(t(s, dir, "documents"), "text", "doc_id",
          k = 20, minCount = 5L)),

    // hashed-feature linear quality scorer (the fastText-shaped model
    // filter stage): portable token->bucket hashing, deterministic
    // integer weight table, exact fixed-point mean — w_sum/score_ppk
    // arithmetic is non-negative int64 on both engines
    "text_quality_classifier" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TF.hashedLinearScore(col("text"), dim = 1024).as("sc"))
        .select(col("doc_id"), col("sc.n_toks").as("n_toks"),
          col("sc.w_sum").as("w_sum"), col("sc.score_ppk").as("score_ppk"),
          (col("sc.score_ppk") >= 1000000L).as("keep"))
        .orderBy(col("doc_id"))),

    // URL decomposition over synthesized provenance URLs: host /
    // registered domain / path depth / query param via the parse_url
    // built-in; the oracle re-derives every part with regexes
    "text_url_parse" -> ((s, dir) => {
      val url = concat(lit("https://"), col("source"),
        lit(".cdn.example.com/"), col("lang"), lit("/doc-"), col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(lit("?ref=r"), col("doc_id") % 7)).otherwise(lit("")))
      t(s, dir, "documents").select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), col("url"),
          TF.urlHost(col("url")).as("host"),
          TF.registeredDomain(TF.urlHost(col("url"))).as("domain"),
          TF.urlPath(col("url")).as("path"),
          TF.pathDepth(TF.urlPath(col("url"))).as("path_depth"),
          TF.urlQueryParam(col("url"), "ref").as("ref"))
        .orderBy(col("doc_id"))
    }),

    // MAIN-CONTENT EXTRACTION (round 16) — readability-lite
    // boilerplate removal: planted nav/header/footer/script subtrees
    // and a link-saturated teaser block die; the two prose paragraphs
    // survive with entity decode + whitespace collapse. n_blocks=4
    // (h1, p1, teaser, p2), n_kept=2 — constants the oracle states
    "text_main_content" -> ((s, dir) => {
      val html = concat(
        lit("<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a>" +
          "</nav><header>site banner words</header>" +
          "<div class=\"hdr\"><h1>"), col("source"),
        lit("</h1></div><p>"), substring(col("text"), 1, 30),
        lit("</p><div><a href=\"/l1\">long link text one</a> " +
          "<a href=\"/l2\">long link text two</a> filler</div><p>"),
        substring(col("text"), 31, 18),
        lit(" &amp; closing words</p><footer><a>Terms</a> " +
          "<a>Privacy</a></footer><script>var x = 1 + 2;</script>"))
      t(s, dir, "documents")
        .select(col("doc_id"), html.as("html"))
        // Generate barrier: one kernel eval feeds all three fields
        // (a bare alias would be CollapseProject-inlined per field)
        .select(col("doc_id"), explode(array(
          TF.mainContent(col("html"), minWords = 3))).as("mc"))
        .select(col("doc_id"), col("mc.text").as("main_text"),
          col("mc.n_blocks").as("n_blocks"),
          col("mc.n_kept").as("n_kept"))
        .orderBy(col("doc_id"))
    }),

    // SITEMAP PARSE (round 16) — the other crawl-frontier input:
    // <urlset> pages (even docs; per-url <loc> + a doc-level
    // <lastmod>) and <sitemapindex> pointers (odd docs) through
    // Spark's BUILT-IN xpath functions (codegen'd generator, no
    // custom kernel needed); one row per <loc>, the oracle states
    // every value closed-form — DuckDB has no xpath to cancel against
    "source_sitemap" -> ((s, dir) => {
      val d = col("doc_id")
      val even = pmod(d, lit(2L)) === 0
      val urlset = concat(
        lit("<urlset>"),
        concat_ws("", (0 until 3).map { i =>
          concat(lit("<url><loc>https://site"), pmod(d, lit(50L)),
            lit(".example/doc"), d, lit(s"/p$i</loc>"),
            if (i == 0) concat(lit("<lastmod>2026-02-0"),
              pmod(d, lit(9L)) + 1, lit("</lastmod>"))
            else lit(""),
            lit("</url>"))
        }: _*),
        lit("</urlset>"))
      val smIndex = concat(
        lit("<sitemapindex>"),
        concat_ws("", (0 until 2).map { i =>
          concat(lit("<sitemap><loc>https://site"), pmod(d, lit(50L)),
            lit(s".example/maps/m$i.xml</loc></sitemap>"))
        }: _*),
        lit("</sitemapindex>"))
      t(s, dir, "documents")
        .select(d, when(even, urlset).otherwise(smIndex).as("xml"),
          when(even, lit("urlset")).otherwise(lit("sitemapindex"))
            .as("kind"))
        .select(col("doc_id"), col("kind"),
          expr("xpath_string(xml, '//lastmod')").as("lastmod"),
          posexplode(expr("xpath(xml, '//loc/text()')")))
        .withColumnRenamed("pos", "entry_idx")
        .withColumnRenamed("col", "loc")
        .select(col("doc_id"), col("kind"),
          col("entry_idx").cast("long").as("entry_idx"), col("loc"),
          col("lastmod"))
        .orderBy(col("doc_id"), col("entry_idx"))
    }),

    // CRAWL-FRONTIER BUILD (round 16) — the discovery stage end to
    // end: sitemap-shaped URL lists (odd docs re-announce their even
    // neighbor's pages, the real duplicate-discovery shape) →
    // canonicalization → per-host robots gate (broadcast dim) →
    // URL-level dedup with source counts; every surviving frontier
    // row stated closed-form
    "frontier_urls" -> ((s, dir) => {
      val d = col("doc_id")
      val b = (d - pmod(d, lit(2L))) // announced page set: even base
      val urls = t(s, dir, "documents")
        .select(d, b.as("b"))
        .select(col("b"), explode(array(lit(0), lit(1), lit(2)))
          .as("i"))
        .select(col("b"), concat(lit("https://site"),
          pmod(col("b"), lit(50L)), lit(".example/doc"), col("b"),
          lit("/p"), col("i")).as("url"))
        .select(col("b"), TF.urlCanonical(col("url")).as("canon"))
        .select(col("b"), col("canon"),
          regexp_extract(col("canon"), "^https://([^/]+)", 1)
            .as("host"),
          regexp_extract(col("canon"), "^https://[^/]+(/.*)$", 1)
            .as("path"))
      val hosts = s.range(50).select(
        concat(lit("site"), col("id"), lit(".example")).as("host"),
        when(pmod(col("id"), lit(3L)) === 0,
          lit("User-agent: ccbot\nDisallow: /doc\n"))
          .otherwise(
            lit("User-agent: ccbot\nDisallow: /private/\n"))
          .as("robots"))
      urls.join(broadcast(hosts), "host")
        .select(col("b"), col("canon"), explode(array(
          TF.robotsEval(col("robots"), lit("ccbot"), col("path"))))
          .as("v"))
        .filter(col("v.allowed"))
        .groupBy(col("canon"))
        .agg(count(lit(1)).as("n_sources"))
        .orderBy(col("canon"))
    }),

    // URL-LEVEL DEDUP (round 16) — the canonicalizer doing its actual
    // job as a DEDUP KEY before fetch scheduling: groups of 4 docs
    // carry four differently-messy spellings of one URL (case, :443,
    // tracking params incl. a bare one, fragments, empty params) that
    // all canonicalize identically; survivors are group minima
    "dedup_url_canonical" -> ((s, dir) => {
      val d = col("doc_id")
      val b = (d - pmod(d, lit(4L)))
      val url = when(d % 4 === 0, concat(
          lit("HTTPS://Src.Example.COM:443/doc-"), b,
          lit("?utm_source=x&a=1#frag")))
        .when(d % 4 === 1, concat(
          lit("https://src.example.com/doc-"), b, lit("?a=1")))
        .when(d % 4 === 2, concat(
          lit("https://src.example.com:443/doc-"), b,
          lit("?a=1&utm_campaign")))
        .otherwise(concat(
          lit("HTTPS://SRC.example.com/doc-"), b, lit("?&a=1")))
      t(s, dir, "documents")
        .select(d, TF.urlCanonical(url).as("canon"))
        .groupBy(col("canon"))
        .agg(min(col("doc_id")).as("survivor_id"),
          count(lit(1)).as("n_copies"))
        .orderBy(col("survivor_id"))
    }),

    // ROBOTS.TXT EVALUATION (round 16) — the crawl-frontier gate, RFC
    // 9309 longest-match semantics: r0 allow-overrides-disallow by
    // length, r1 wildcard + $ anchor, r2 specific-agent group beats
    // the catch-all (whose Disallow: / would block everything), r3
    // empty disallow matches nothing. Verdicts + matched rules stated
    // closed-form per residue
    "text_robots_gate" -> ((s, dir) => {
      val d = col("doc_id")
      val r = pmod(d, lit(4L))
      val even = pmod(d, lit(2L)) === 0
      val robots = when(r === 0, lit("User-agent: *\nDisallow: " +
          "/private/\nAllow: /private/ok\n"))
        .when(r === 1, lit("User-agent: *\nDisallow: /*.pdf$\n"))
        .when(r === 2, lit("User-agent: graftbot\nDisallow: /g/\n" +
          "User-agent: *\nDisallow: /\n"))
        .otherwise(lit("User-agent: *\nDisallow:\n"))
      val agent = when(r === 2, lit("graftbot")).otherwise(lit("ccbot"))
      val path = when(r === 0, concat(
          when(even, lit("/private/ok-")).otherwise(lit("/private/p-")),
          d))
        .when(r === 1, concat(lit("/f-"), d,
          when(even, lit(".pdf")).otherwise(lit(".txt"))))
        .when(r === 2, concat(
          when(even, lit("/g/x-")).otherwise(lit("/open/x-")), d))
        .otherwise(concat(lit("/any/"), d))
      t(s, dir, "documents")
        .select(d, robots.as("robots"), agent.as("agent"),
          path.as("path"))
        .select(col("doc_id"), col("path"), explode(array(
          TF.robotsEval(col("robots"), col("agent"), col("path"))))
          .as("v"))
        .select(col("doc_id"), col("path"),
          col("v.allowed").as("allowed"),
          col("v.matched_rule").as("matched_rule"),
          col("v.n_rules").as("n_rules"))
        .orderBy(col("doc_id"))
    }),

    // URL CANONICALIZATION (round 15) — the URL-dedup key: four messy
    // variants rotate by doc (mixed-case scheme/host + default port +
    // tracking params + fragment + unsorted query; http:80; no path +
    // empty params; already-canonical identity) and the oracle states
    // each residue's EXPECTED canonical form in closed form — any
    // regression in any step (case, port, path default, param filter,
    // param sort, fragment drop) turns the row red
    "text_url_canonical" -> ((s, dir) => {
      val d = col("doc_id")
      val url = when(d % 4 === 0, concat(
          lit("HTTPS://WWW."), col("source"), lit(".Example.COM:443/"),
          col("lang"), lit("/Doc-"), d,
          lit("?utm_source=feed&z=9&a="), d % 5,
          lit("&utm_campaign&fbclid=xx#frag")))
        .when(d % 4 === 1, concat(
          lit("HTTP://"), col("source"), lit(".example.com:80/"),
          col("lang"), lit("/doc-"), d, lit("#sec?x=1")))
        .when(d % 4 === 2, concat(
          lit("https://"), col("source"), lit(".example.com?b=2&&a=1")))
        .otherwise(concat(
          lit("https://"), col("source"), lit(".example.com/"),
          col("lang"), lit("?a=1")))
      t(s, dir, "documents")
        .select(d, col("source"), col("lang"), url.as("url"))
        .select(col("doc_id"), col("url"),
          TF.urlCanonical(col("url")).as("canon"))
        .withColumn("changed", col("url") =!= col("canon"))
        .orderBy(col("doc_id"))
    }),

    // BPE merge TRAINING on the corpus (the learning half; text_bpe_tokens
    // applies a fixed table): 8 merges learned from the word-frequency
    // dict, deterministic argmax (count desc, pair). The oracle re-runs
    // the full training loop as 8 chained SQL stages
    "text_bpe_train" -> ((s, dir) => {
      val merges = Bpe.trainMerges(t(s, dir, "documents"), "text",
        nMerges = 8)
      import s.implicits._
      merges.zipWithIndex.map { case ((pr, merged, c), i) =>
        (i + 1, pr, merged, c) }
        .toDF("rank", "pair", "merged", "freq")
        .orderBy(col("rank"))
    }),

    // Unicode canonicalization: the corpus is ASCII, so the query seeds
    // deterministic non-NFC content (combining accents, NBSP, control
    // chars) per doc_id residue — the oracle check is non-vacuous on
    // every augmented row and an identity check on the rest
    // MOJIBAKE REPAIR (round 13) — UTF-8-decoded-as-Latin-1 damage
    // reversed by the FixMojibake native kernel: even docs carry a
    // closed-form Latin-1-letter phrase put through the wrong-decode
    // channel IN-PLAN (docs ≡ 2 mod 4 twice — double-encoded), odd
    // docs are clean ASCII the repair must NOT touch; the oracle
    // replays the pristine phrase with chr()
    "text_fix_mojibake" -> ((s, dir) => {
      val d = col("doc_id")
      val litHex = array_join(transform(sequence(lit(0L), lit(5L)), j =>
        lpad(hex(lit(224L) + pmod(d * 5L + j * 3L, lit(31L))), 2, "0")),
        "")
      val clean = concat(lit("word "),
        decode(unhex(litHex), "ISO-8859-1"), lit(" tail"))
      val m1 = decode(encode(clean, "UTF-8"), "ISO-8859-1")
      val m2 = decode(encode(m1, "UTF-8"), "ISO-8859-1")
      t(s, dir, "documents")
        .select(d,
          when(d % 2L === 1L,
            concat(lit("plain text "), pmod(d, lit(10L))))
            .when(d % 4L === 2L, m2)
            .otherwise(m1).as("input"))
        .select(d, TF.fixMojibake(col("input")).as("fixed"),
          col("input"))
        .select(d, col("fixed"),
          (col("fixed") =!= col("input")).as("was_fixed"))
        .orderBy(d)
    }),

    "text_normalize" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit(" cafe\u0301 nai\u0308ve")).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            lit("\u0007 bell\u00A0and\ttab ")).otherwise(lit("")))
          .as("s"))
        .select(col("doc_id"), TF.cleanText(col("s")).as("clean"),
          length(col("s")).as("n_chars_raw"))
        .withColumn("n_chars_clean", length(col("clean")))
        .orderBy(col("doc_id"))),

    // markup extraction: the corpus is plain text, so the query builds a
    // deterministic HTML wrapping (tags + attribute, entity-escaped
    // payload) per doc and strips it back — `roundtrip_ok` certifies
    // tag-drop + entity-decode + whitespace-collapse recover exactly the
    // whitespace-normalized source text on every row
    "text_html_strip" -> ((s, dir) => {
      val esc = replace(replace(col("text"), lit("&"), lit("&amp;")),
        lit("<"), lit("&lt;"))
      val html = concat(lit("<div class=\"doc\"><h1>"), col("source"),
        lit("</h1><p>"), esc, lit("</p><br/></div>"))
      val plain = trim(regexp_replace(
        concat(col("source"), lit(" "), col("text")), "\\s+", " "))
      t(s, dir, "documents")
        .select(col("doc_id"), TF.stripMarkup(html).as("clean"),
          regexp_count(html, lit(TF.TagPattern)).as("n_tags"),
          (TF.stripMarkup(html) === plain).as("roundtrip_ok"))
        .orderBy(col("doc_id"))
    }),

    // WIKITEXT → PLAINTEXT (round 14) — the RefinedWeb-style cleaning
    // pass over dump wikitext: templates (3 nesting levels), tables,
    // refs, comments, wiki/file/external links, quotes, headings,
    // list markers, then the HTML finisher. Six closed-form wikitext
    // shapes rotate by doc; the oracle replays the EXPECTED plaintext
    // literally — any kernel regression turns the row red
    "text_wikitext_strip" -> ((s, dir) => {
      val samples = Seq(
        "'''Alpha''' is a [[letter|Greek letter]]." +
          "{{Infobox|name=Alpha|type=letter}} See also [[Beta]].",
        "== History ==\nThe city<ref name=\"a\">Smith 2001</ref> " +
          "grew.<!-- todo --> It lies on the [[Danube]].",
        "{| class=\"wikitable\"\n|-\n| a || b\n|}\nData after table. " +
          "[http://x.org/a Site] and more.\n* item one\n* item two",
        "Start {{outer|{{inner|x}}|y}} end. ''Italic'' text with " +
          "[[target|label]] and [[plain]].",
        "[[File:Pic.jpg|thumb|A [[cat]] photo]]Text about cats. " +
          "[[Category:Animals]] Multi[[a|b|c]]link.",
        "A &amp; B &lt;tag&gt; and {{cite web|url=x}} ref<ref>x</ref>.")
      val wt = element_at(array(samples.map(lit): _*),
        (pmod(col("doc_id"), lit(6L)) + 1L).cast("int"))
      t(s, dir, "documents")
        .select(col("doc_id"), TF.wikitextStrip(wt).as("clean"))
        .orderBy(col("doc_id"))
    }),

    // The xxhash64-based fingerprint itself is engine-defined (no
    // portable-SQL recomputation exists), so the driver-checkable output
    // is the INJECTIVITY CONTRACT users actually rely on: per doc_id
    // bucket, `count(distinct fingerprint)` must equal `count(distinct
    // normalized text)` — the oracle recomputes the right side and
    // asserts the left equals it, so any fingerprint collision (or a
    // broken fold) turns the row red. Raw per-doc fingerprint values
    // stay pinned by ScalaTest (order sensitivity, determinism, ANSI
    // range). Bucketing by doc_id % 16 keeps the check finer-grained
    // than one global row without shipping unverifiable raw hashes.
    "text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select((col("doc_id") % 16).as("bucket"),
          TF.fingerprint64(col("text")).as("fp"),
          TF.normalize(col("text")).as("norm"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("fp")).as("n_fp_nonnull"),
          countDistinct(col("fp")).as("n_distinct_fp"),
          countDistinct(col("norm")).as("n_distinct_text"))
        .orderBy(col("bucket"))),

    // the PORTABLE fingerprint twin: same base/modulus chain folded over
    // normalized-text codepoints — full DuckDB oracle (list_reduce fold)
    "text_fingerprint_poly" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TF.fingerprintPoly(col("text")).as("fingerprint"),
          length(TF.normalize(col("text"))).as("n_norm_chars"))
        .orderBy(col("doc_id"))),

    // PII scrub (training-data scrubbing): the synthetic corpus carries no
    // natural PII, so the query first plants deterministic doc_id-derived
    // emails/phones/IPs (same construction in the oracle — the q7 lesson:
    // an all-zeros redaction check would be vacuous), then redacts and
    // counts. Row-local regex work: codegen'd, no shuffle, 100 TB-safe.
    "text_pii_redact" -> ((s, dir) => {
      val planted = concat(
        col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" call 555-867-5309"))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" from 10."), (col("doc_id") % 200).cast("string"),
            lit(".0."), (col("doc_id") % 250).cast("string")))
          .otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), planted.as("s"))
        .select(col("doc_id"),
          TF.redactPii(col("s")).as("redacted"),
          TF.piiCounts(col("s")).as("c"))
        .select(col("doc_id"), col("redacted"),
          col("c.n_email").as("n_email"),
          col("c.n_phone").as("n_phone"),
          col("c.n_ip").as("n_ip"))
        .orderBy(col("doc_id"))
    }),

    // TF-IDF salient terms: single corpus scan (df derives from the tf
    // aggregate), broadcast 1-row corpus count, rational idf N/df (no ln —
    // see Relevance scaladoc for the portability argument)
    "text_tfidf_top3" -> ((s, dir) =>
      Relevance.tfIdfTopTerms(t(s, dir, "documents"), "text", "doc_id", 3)
        .orderBy(col("doc_id"), col("rank"))),

    // BM25 with standard k1/b: same rational idf; length normalization
    // via exact integer dl and corpus totals in one broadcast row
    "text_bm25_top3" -> ((s, dir) =>
      Relevance.bm25TopTerms(t(s, dir, "documents"), "text", "doc_id", 3)
        .orderBy(col("doc_id"), col("rank"))),

    // the BOUNDED-vocabulary contract exercised: minDf=30 drops the one
    // rare template term (df=25), maxVocab=24 then cuts the 30 survivors
    // to 24 by (df desc, term) — both prunes BIND at every SF, the
    // oracle mirrors the cut, and the broadcast the plan ships is
    // provably <= maxVocab rows (the 100 TB safety argument made
    // testable)
    "text_tfidf_pruned" -> ((s, dir) =>
      Relevance.tfIdfTopTerms(t(s, dir, "documents"), "text", "doc_id", 3,
          minDf = 30L, maxVocab = 24)
        .orderBy(col("doc_id"), col("rank"))),

    // same bounded vocabulary for BM25; dl still counts every token of
    // the document (length normalization is pre-prune by construction)
    "text_bm25_pruned" -> ((s, dir) =>
      Relevance.bm25TopTerms(t(s, dir, "documents"), "text", "doc_id", 3,
          minDf = 30L, maxVocab = 24)
        .orderBy(col("doc_id"), col("rank"))),

    // bigram LM with a BINDING context-table cap (16 of the ~30 context
    // types survive): out-of-table contexts score as unseen — the
    // pruned-KenLM path the default-capped text_lm_bigram never
    // exercises at template-vocabulary SF
    "text_lm_bigram_pruned" -> ((s, dir) =>
      Relevance.bigramSurprisal(t(s, dir, "documents"), "text", "doc_id",
          tableSize = 256, contextVocab = 16)
        .orderBy(col("doc_id"))),

    // context-window chunking: 32-token windows every 24 tokens (25%
    // overlap); row-local explode, chunk identity via portable fingerprint
    // instead of shipping window text
    "text_chunks_window" -> ((s, dir) =>
      Chunking.tokenWindows(t(s, dir, "documents"), "text", "doc_id",
          window = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // greedy in-order sequence packing into 256-token budgets across 8
    // hash shards (the shard-parallel running sum — see Chunking scaladoc)
    "corpus_pack_greedy" -> ((s, dir) =>
      Chunking.packSequences(t(s, dir, "documents"), "text", "doc_id",
          budget = 256, nShards = 8)
        .orderBy(col("doc_id"))),

    // incremental processing: snapshot diff between two corpus versions
    // (the crawl-to-crawl delta). "New" derives deterministically from
    // the same parquet on BOTH engines: %13 ids dropped, %7 texts
    // changed, twin ids added — digest full-outer join classifies each
    // id; text never shuffles (sha256 digests only)
    "corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val old = docs.select(col("doc_id"), sha2(col("text"), 256).as("sha"))
      val neu = docs.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          sha2(when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" [rev2]"))).otherwise(col("text")),
            256).as("sha"))
        .unionAll(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            sha2(col("text"), 256).as("sha")))
      old.as("o").join(neu.as("n"),
          col("o.doc_id") === col("n.doc_id"), "full")
        .select(
          coalesce(col("o.doc_id"), col("n.doc_id")).as("doc_id"),
          when(col("o.doc_id").isNull, lit("added"))
            .when(col("n.doc_id").isNull, lit("removed"))
            .when(col("o.sha") =!= col("n.sha"), lit("changed"))
            .otherwise(lit("same")).as("change"))
        .filter(col("change") =!= "same")
        .orderBy(col("doc_id"))
    }),

    // CDC upsert-merge: updates (every 5th doc), deletes (every 7th),
    // inserts (every 11th, shifted ids), and a same-version RE-DELIVERY
    // (every 13th) that must win its tie against the snapshot — one
    // max_by partial aggregate, no window/sort over the corpus
    "corpus_merge_cdc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def shape(d: org.apache.spark.sql.DataFrame, ver: Long,
          dead: Boolean) = d.select(col("doc_id"), col("text"),
        col("source"), lit(ver).as("version"), lit(dead).as("deleted"))
      val snapshot = shape(docs, 1L, dead = false)
      val delta =
        shape(docs.filter(col("doc_id") % 5 === 0 &&
            col("doc_id") % 7 =!= 0)
          .withColumn("text", concat(col("text"), lit(" [v2]"))),
          2L, dead = false)
        .unionByName(shape(docs.filter(col("doc_id") % 7 === 0),
          2L, dead = true))
        .unionByName(shape(docs.filter(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L),
          1L, dead = false))
        .unionByName(shape(docs.filter(col("doc_id") % 13 === 0 &&
            col("doc_id") % 5 =!= 0 && col("doc_id") % 7 =!= 0)
          .withColumn("text", concat(col("text"), lit(" [redelivered]"))),
          1L, dead = false))
      Cdc.mergeCdc(snapshot, delta, "doc_id", "version", "deleted")
        .select(col("doc_id"), col("version"),
          sha2(col("text"), 256).as("text_sha"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // forget-list scrub (right-to-be-forgotten): every 17th doc's digest
    // lands on the forget list; the audit reports per-source survivor
    // counts — digests ship to the anti-join, never the forgotten text
    "corpus_forget" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val fl = docs.filter(col("doc_id") % 17 === 0)
        .select(sha2(col("text"), 256).as("text_sha"))
      val after = Cdc.forgetByDigest(docs, "text", fl)
        .groupBy(col("source")).agg(count(lit(1)).as("n_after"))
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_before"))
        .join(after, Seq("source"), "left")
        .select(col("source"), col("n_before"),
          coalesce(col("n_after"), lit(0L)).as("n_after"),
          (col("n_before") - coalesce(col("n_after"), lit(0L)))
            .as("n_forgotten"))
        .orderBy(col("source"))
    }),

    // source/sink breadth: the documents table written as JSON-lines and
    // read back with an explicit schema must be the identity (escaping,
    // unicode, null handling all round-trip); the oracle reads the
    // ORIGINAL parquet, so any loss in the JSON hop fails the hash
    // AVRO object-container files (round 11) — the at-rest sibling of
    // the engine's Confluent-framed wire format: our own writer emits
    // one container file per partition, our own reader decodes blocks
    // per file, and the whole hop must be lossless back to the table
    "source_avro_container" -> ((s, dir) => {
      val path = Artifact.memoized("avroc", dir) { p =>
        graft.sources.AvroContainerFiles.write(
          t(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("source"),
              col("text")),
          p)
        p
      }
      graft.sources.AvroContainerFiles.read(s, path)
        .orderBy(col("doc_id"))
    }),

    // NESTED CONTAINERS (round 14): struct ↔ named Avro record (two
    // levels) and string-keyed map ↔ Avro map, round-tripped through
    // the container hop then flattened for the identity oracle
    "source_avro_nested" -> ((s, dir) => {
      val path = Artifact.memoized("avron", dir) { p =>
        graft.sources.AvroContainerFiles.write(
          t(s, dir, "documents").select(
            col("doc_id"),
            struct(col("lang").as("lang"),
              octet_length(col("text")).cast("long").as("n_bytes"),
              struct(col("source").as("source"),
                (col("doc_id") % 7L).as("bucket")).as("inner"))
              .as("meta"),
            map(lit("lang"), col("lang"),
              lit("source"), col("source")).as("tags")),
          p)
        p
      }
      graft.sources.AvroContainerFiles.read(s, path)
        .select(col("doc_id"), col("meta.lang").as("lang"),
          col("meta.n_bytes").as("n_bytes"),
          col("meta.inner.source").as("source"),
          col("meta.inner.bucket").as("bucket"),
          element_at(col("tags"), "lang").as("tag_lang"),
          element_at(col("tags"), "source").as("tag_source"),
          size(col("tags")).cast("long").as("n_tags"))
        .orderBy(col("doc_id"))
    }),

    // the 100 TB shape: a corpus archived as ONE huge container file
    // must still fan out — the reader splits it on Avro sync markers
    // (4 KiB blocks here, 64 KiB split ranges → many independent
    // tasks; the split-count plan contract is spec-pinned)
    "source_avro_split" -> ((s, dir) => {
      val path = Artifact.memoized("avroc1", dir) { p =>
        graft.sources.AvroContainerFiles.write(
          t(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("source"), col("text"))
            .repartition(1),
          p, syncInterval = 4 * 1024)
        p
      }
      graft.sources.AvroContainerFiles.read(s, path,
          maxSplitBytes = 64 * 1024)
        .orderBy(col("doc_id"))
    }),

    // logical types through the container hop: decimal(18,2) (integer-
    // derived cents — exact in both engines), timestamp-micros, date,
    // and an array of longs all round-trip; outputs are folded to
    // int64 for the oracle (decimal/timestamp pandas paths are lossy)
    "source_avro_logical" -> ((s, dir) => {
      val path = Artifact.memoized("avrolt", dir) { p =>
        graft.sources.AvroContainerFiles.write(
          t(s, dir, "orders").select(
            col("o_orderkey"),
            (col("o_orderkey") * 123 % 100000)
              .cast("decimal(18,0)").divide(lit(100))
              .cast("decimal(18,2)").as("price_dec"),
            timestamp_micros(col("o_orderkey") * 1000003L).as("ots"),
            date_add(lit(java.sql.Date.valueOf("1970-01-01")),
              (col("o_orderkey") % 20000).cast("int")).as("od"),
            array(col("o_custkey"), col("o_orderkey")).as("keys")),
          p)
        p
      }
      graft.sources.AvroContainerFiles.read(s, path)
        .select(
          col("o_orderkey"),
          (col("price_dec") * 100).cast("long").as("price_cents"),
          unix_micros(col("ots")).as("ots_us"),
          datediff(col("od"), lit(java.sql.Date.valueOf("1970-01-01")))
            .cast("long").as("od_days"),
          aggregate(col("keys"), lit(0L), (a, x) => a + x).as("keys_sum"))
        .orderBy(col("o_orderkey"))
    }),

    "source_jsonl_roundtrip" -> ((s, dir) => {
      val path = Artifact.path("jsonl", dir)
      t(s, dir, "documents").write.mode("overwrite").json(path)
      s.read.schema("doc_id LONG, text STRING, lang STRING, " +
          "source STRING, n_chars LONG").json(path)
        .select(col("doc_id"), length(col("text")).as("text_len"),
          sha2(col("text"), 256).as("text_sha"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // same contract through the CSV hop (quoting/escaping round-trip)
    "source_csv_roundtrip" -> ((s, dir) => {
      val path = Artifact.path("csv", dir)
      // lossless-CSV recipe (each default is lossy — SourceRoundTripSpec
      // pins all three failure modes): ignore*WhiteSpace default TRUE on
      // write (trims trailing spaces), embedded newlines need quoteAll +
      // reader multiLine, and NULL vs '' collapse without an explicit
      // nullValue sentinel
      t(s, dir, "documents").write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .option("nullValue", "\\N").csv(path)
      s.read.schema("doc_id LONG, text STRING, lang STRING, " +
          "source STRING, n_chars LONG")
        .option("header", "true").option("multiLine", "true")
        .option("nullValue", "\\N").csv(path)
        .select(col("doc_id"), length(col("text")).as("text_len"),
          sha2(col("text"), 256).as("text_sha"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ORC hop — the third columnar/text format of the source matrix
    // (parquet is the native test fixture format; spark-avro's
    // datasource jar is absent from this deployment, Avro coverage is
    // the wire-format decode family). ORC is binary-lossless: no option
    // gymnastics needed, unlike CSV
    "source_orc_roundtrip" -> ((s, dir) => {
      val path = Artifact.path("orc", dir)
      t(s, dir, "documents").write.mode("overwrite").orc(path)
      s.read.orc(path)
        .select(col("doc_id"), length(col("text")).as("text_len"),
          sha2(col("text"), 256).as("text_sha"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // one-row corpus report card: the pre-training numbers a data team
    // reads first. Exact integer sums, digest-based distinct (the
    // dedup_exact_hash scale pattern: 32-byte digests shuffle, text does
    // not), and exact percentiles over the integer token counts (both
    // engines interpolate at p*(n-1) — portable on an integer grid)
    // dataset-release shard manifest: per-shard row counts, token
    // totals, and an ORDER-INDEPENDENT content checksum (sum of per-doc
    // Karp-Rabin fingerprints, folded mod 2^31 per row so a shard of up
    // to ~2^30 docs sums exactly in int64) — what ships next to the
    // shard files so any engine can re-verify integrity without
    // re-reading in a fixed order. One partial-agg shuffle on shard.
    "corpus_manifest" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(Sampling.bucket(col("doc_id"), 8, 0L).as("shard"),
          size(TF.normTokens(col("text"))).as("n"),
          pmod(TF.fingerprintPoly(col("text")), lit(2147483648L))
            .as("fp"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n").cast("long")).as("total_tokens"),
          pmod(sum(col("fp")), lit(2199023255552L)).as("content_sum41"))
        .orderBy(col("shard"))),

    // round 18: the three scalar percentile() calls each buffered the
    // full value multiset — one array-percentile buffer computes the
    // identical interpolated values; sha/countDistinct hoisted so each
    // is computed once and the derived columns project from the
    // aggregate row (0.37 → 0.31 s).
    "corpus_report" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(sha2(col("text"), 256).as("sha"),
          size(TF.normTokens(col("text"))).as("n"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n").cast("long")).as("total_tokens"),
          countDistinct(col("sha")).as("n_distinct"),
          expr("percentile(n, array(0.5, 0.9, 0.99))").as("ps"))
        .select(col("n_docs"), col("total_tokens"),
          (col("total_tokens").cast("double") /
            col("n_docs").cast("double")).as("avg_tokens"),
          col("n_distinct"),
          ((col("n_docs") - col("n_distinct")).cast("double") /
            col("n_docs").cast("double")).as("dup_rate"),
          element_at(col("ps"), 1).as("p50_tokens"),
          element_at(col("ps"), 2).as("p90_tokens"),
          element_at(col("ps"), 3).as("p99_tokens"))),

    // embedding hygiene stats: L2 norm (left-to-right fold + IEEE sqrt —
    // engine-portable like the cosine kernel), mean component, max |x| —
    // the standard pre-ANN sanity signals, all row-local
    // sign-random-projection dimensionality reduction (64 -> 8) with the
    // engine-portable ±1 matrix; the last column is the cosine between
    // the doc's projection and vec 0's — the sanity signal that rankings
    // survive the projection (cosine kernel shared with the ANN family)
    "emb_project_rp" -> ((s, dir) => {
      val proj = VF.signProject(col("embedding"), outDim = 8)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), proj.as("p"))
      val q0 = e.filter(col("vec_id") === 0)
        .select(col("p").as("q0"))
      e.crossJoin(broadcast(q0))
        .select(Seq(col("vec_id")) ++
          (0 until 8).map(i => element_at(col("p"), i + 1).as(s"p$i")) :+
          VF.cosine(col("p"), col("q0")).as("cos_q0"): _*)
        .orderBy(col("vec_id"))
    }),

    "emb_norm_stats" -> ((s, dir) => {
      val e = VF.asDouble(col("embedding"))
      val sumc = aggregate(e, lit(0.0), (acc, x) => acc + x)
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).as("dim"),
          VF.norm2(col("embedding")).as("norm"),
          (sumc / size(col("embedding")).cast("double")).as("mean_comp"),
          array_max(transform(e, x => abs(x))).as("max_abs"))
        .orderBy(col("vec_id"))
    }),

    // corpus-relative corrupted-embedding detection: every 50th vector
    // zeroed (dead row), every 70th tripled (exploded scale); a vector
    // is flagged when its norm is DEGENERATE (zero — invalid a priori;
    // the variance test alone would MASK them, the exploded outliers
    // inflate σ ~9x past the zeros' deviation) or its squared-norm
    // deviates from the corpus mean by > 4 corpus std-devs. The
    // statistic is EXACT: norm² quantizes to int64 via the same
    // left-to-right fold in both engines, and the z-test is
    // cross-multiplied in decimal/HUGEINT —
    // (x·n − S)² > 16·(n·Q − S²) — no float mean/variance anywhere.
    // Scale shape: one calibration scan reducing to a 3-number broadcast
    // (like the int8 quantizer), one flagging scan; zero corpus shuffle.
    "emb_outliers" -> ((s, dir) => {
      val v0 = VF.asDouble(col("embedding"))
      val corrupted = when(col("vec_id") % 50 === 0,
          transform(v0, _ => lit(0.0)))
        .when(col("vec_id") % 70 === 0, transform(v0, x => x * 3.0))
        .otherwise(v0)
      graft.operators.Embeddings.outliers(
          t(s, dir, "embeddings")
            .select(col("vec_id"), corrupted.as("v")),
          "v", "vec_id", sigmaK = 4)
        .select(col("id").as("vec_id"), col("norm2q"))
        .orderBy(col("vec_id"))
    }),

    // dominant principal direction by deterministic fixed-point power
    // iteration (round 9) — the all-but-the-top hygiene primitive:
    // quantized components, truncated-integer centering, exact int64
    // matvec + decimal(38) second-stage sums, BigInt normalization,
    // sign fixed by the leading component. The oracle replays BOTH
    // iterations in HUGEINT with identical truncation rules.
    "emb_dominant_dir" -> ((s, dir) =>
      graft.operators.Embeddings.dominantDirection(
          t(s, dir, "embeddings"), "embedding", iters = 2)
        .orderBy(col("pos"))),

    // the removal audit: project out the dominant direction row-locally
    // against the trained literal, report coefficient + before/after
    // quantized norms — the full all-but-the-top pipeline cost (two
    // training scans + one audit scan)
    "emb_deproject" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val d = graft.operators.Embeddings.dominantDirection(
          emb, "embedding", iters = 2)
        .orderBy(col("pos")).collect().map(_.getLong(1))
      graft.operators.Embeddings.removeDominant(emb, "embedding",
          "vec_id", d)
        .select(col("id").as("vec_id"), col("coeff_q"),
          col("norm2q_before"), col("norm2q_after"))
    }),

    // top-k principal directions by deflation (round 10) — the full
    // all-but-the-top prescription: train, project out, retrain on the
    // deflated corpus. The oracle replays BOTH levels (each two power
    // iterations + the truncated-division deflation) in HUGEINT.
    "emb_top_dirs" -> ((s, dir) =>
      graft.operators.Embeddings.topDirections(
          t(s, dir, "embeddings"), "embedding", k = 2, iters = 2)
        .orderBy(col("k"), col("pos"))),

    // the COMPLETE all-but-the-top pipeline (round 10): train the top-2
    // directions, then remove BOTH from every vector in training order —
    // per-level coefficients + before/after norms; the oracle replays
    // training AND both sequential removals end-to-end in HUGEINT
    "emb_deproject_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val byK = graft.operators.Embeddings.topDirections(
          emb, "embedding", k = 2, iters = 2)
        .collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_.getInt(1)).map(_.getLong(2)))
      graft.operators.Embeddings.removeDirections(emb, "embedding",
          "vec_id", byK)
        .select(col("id").as("vec_id"), col("coeff_q1"), col("coeff_q2"),
          col("norm2q_before"), col("norm2q_after"))
    }),

    // written inverted index: postings partitioned by term-hash bucket,
    // probe reads only the probe terms' buckets (PartitionFilters — the
    // text twin of sim_topk_ivf_indexed's layout)
    "text_index_lookup" -> ((s, dir) => {
      InvertedIndex.lookup(s, termIndex(s, dir),
          Seq("spark", "join", "window"))
        .orderBy(col("term"), col("doc_id"))
    }),

    // conjunctive retrieval over the same written index: docs containing
    // BOTH probe terms via posting intersection (one doc_id-keyed
    // aggregate over the pruned postings — no per-term self-join)
    "text_index_and" -> ((s, dir) => {
      InvertedIndex.lookupAll(s, termIndex(s, dir), Seq("spark", "join"))
        .orderBy(col("doc_id"))
    }),

    // exact phrase query over a POSITIONAL index: "table hash" at
    // consecutive token positions, with per-doc match counts — the
    // positional-intersection classic, row-local after one doc_id join
    // of the two pruned postings
    "text_index_phrase" -> ((s, dir) => {
      InvertedIndex.phraseQuery(s, posIndex(s, dir), Seq("table", "hash"))
        .orderBy(col("doc_id"))
    }),

    // proximity relaxation over the same positional index: "scan" within
    // 4 tokens of "filter", either order
    "text_index_near" -> ((s, dir) => {
      InvertedIndex.proximityQuery(s, posIndex(s, dir), "scan", "filter",
          window = 4)
        .orderBy(col("doc_id"))
    }),

    // benchmark-contamination check: docs with doc_id%10==0 play the
    // "benchmark"; the rest are the training corpus. Broadcast benchmark
    // shingle set, hash-only shuffle (see Contamination scaladoc)
    "contam_ngram_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Contamination.ngramOverlap(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "text", "doc_id", k = 3)
        .orderBy(col("doc_id"))
    }),

    // int8 scalar-quantized ANN: per-dim calibration, row-local quantize,
    // integer dot-product ranking (see Similarity.int8TopK scale notes)
    "sim_topk_int8" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.int8TopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("score"))
    }),

    // TWO Lloyd's iterations: proves the trainer loop (assign → exact
    // decimal means → re-assign against the TRAINED doubles) stays
    // deterministic and oracle-reproducible past the first step
    "ivf_kmeans_refine2" -> ((s, dir) => {
      val (ids, vecs) = Similarity.kmeansCentroids(
        t(s, dir, "embeddings"), nlist = 16, iters = 2)
      import s.implicits._
      ids.zip(vecs).toSeq
        .flatMap { case (cid, v) =>
          v.zipWithIndex.map { case (m, p) => (cid, p, m) } }
        .toDF("cell", "pos", "mean")
        .orderBy(col("cell"), col("pos"))
    }),

    // lexical more-like-this: corpus ranked against each query doc by
    // shared-term overlap in integer fixed point (query-vocab-bounded
    // broadcast — see Retrieval scaladoc for the 100 TB shape)
    "sim_mlt_lexical" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Retrieval.moreLikeThis(docs, docs.filter(col("doc_id") < 10),
          "text", "doc_id", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // hybrid retrieval: lexical top-20 ∪ cosine top-20 fused by integer
    // RRF (standard K=60). doc_id ≡ vec_id across the documents/
    // embeddings tables, so the two legs rank the same corpus; fusion
    // cost is bounded by |queries|·Σk regardless of corpus size
    "sim_hybrid_rrf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = Retrieval.moreLikeThis(docs,
          docs.filter(col("doc_id") < 10), "text", "doc_id", k = 20)
        .select(col("query_id"), col("doc_id").as("id"), col("rank"))
      val vec = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < 10), k = 20)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
      Retrieval.rrfFuse(Seq(lex, vec), k = 10)
        .select(col("query_id"), col("rank"), col("id").as("doc_id"),
          col("rrf_score"), col("n_legs"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Gopher-style repetition signals: type-token ratio + most-frequent-
    // bigram share + duplicated-bigram share. Scale shape: explode →
    // (doc_id, bigram) partial-agg (map-side combine collapses each
    // partition's repeats before the exchange) → per-doc agg; the join
    // back to per-doc token stats is co-partitioned on doc_id.
    "text_repetition" -> ((s, dir) => {
      // fully row-local after the round-3 BigramStats kernel: the old
      // explode+groupBy shape shuffled a corpus-sized bigram stream for
      // per-document statistics; now the query is a pure scan
      t(s, dir, "documents")
        .select(col("doc_id"), TF.textSignals(col("text")).as("sig"),
          TF.bigramStats(col("text")).as("bg"))
        .select(col("doc_id"),
          col("sig.n_norm_toks").as("n_tokens"),
          TF.distinctRatioFromSignals(col("sig"))
            .as("distinct_token_ratio"),
          // coalesce preserves the pre-kernel NULL-text contract (and the
          // oracle's LEFT JOIN + COALESCE): fracs are 0.0, never NULL
          coalesce(when(col("bg.n_bigrams") === 0, lit(0.0))
            .otherwise(col("bg.top_n").cast("double") /
              col("bg.n_bigrams").cast("double")), lit(0.0))
            .as("top_bigram_frac"),
          coalesce(when(col("bg.n_bigrams") === 0, lit(0.0))
            .otherwise((col("bg.n_bigrams") - col("bg.n_distinct_bg"))
              .cast("double") / col("bg.n_bigrams").cast("double")),
            lit(0.0)).as("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    }),

    // occurrence-weighted language id (richer than text_profile's
    // distinct-hit argmax): winning language, its marker-occurrence count,
    // and the marker density as a confidence proxy
    "text_langid" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TF.textSignals(col("text")).as("sig"))
        .select(col("doc_id"),
          TF.langOrUnd(col("sig.lang_ev"), col("sig.lang_ev_score"))
            .as("lang_pred"),
          col("sig.lang_ev_score").as("marker_hits"),
          when(col("sig.n_norm_toks") === 0, lit(0.0))
            .otherwise(col("sig.lang_ev_score").cast("double") /
              col("sig.n_norm_toks").cast("double")).as("marker_ratio"))
        .orderBy(col("doc_id"))),

    // end-to-end keep/drop decision (C4/Gopher-style): quality score +
    // language gate + repetition gate composed into one row-local pass —
    // the signals AND the boolean verdict are oracle-pinned for every doc
    "text_quality_filter" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TF.textSignals(col("text")).as("sig"))
        .select(col("doc_id"),
          TF.langOrUnd(col("sig.lang_id"), col("sig.lang_id_score"))
            .as("lang_pred"),
          TF.qualityScoreFromSignals(col("sig")).as("quality"),
          TF.distinctRatioFromSignals(col("sig")).as("distinct_ratio"))
        .withColumn("keep",
          col("quality") >= 0.95 && col("lang_pred") === "en" &&
            col("distinct_ratio") >= 0.5)
        .orderBy(col("doc_id"))),

    // duplicate word-n-gram UNION coverage (the Gopher repetition rules
    // for n ≥ 5): each doc is augmented with an echo of its first 12
    // tokens so duplicate 5/10-grams deterministically exist, then the
    // row-local kernel counts token positions covered by any n-gram
    // occurring twice — overlapping spans count once
    "text_dup_ngram_coverage" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat_ws(" ", col("text"),
            concat_ws(" ", slice(TF.normTokens(col("text")), 1, 12)))
            .as("aug"))
        .select(col("doc_id"),
          TF.dupNgramCoverage(col("aug"), 5).as("c5"),
          TF.dupNgramCoverage(col("aug"), 10).as("c10"))
        .select(col("doc_id"),
          col("c5.n_tokens").as("n_tokens"),
          col("c5.covered").as("covered_5"),
          col("c10.covered").as("covered_10"),
          when(col("c5.n_tokens") === 0, lit(0.0))
            .otherwise(col("c5.covered").cast("double") /
              col("c5.n_tokens").cast("double")).as("dup5_frac"))
        .orderBy(col("doc_id"))),

    // Gopher structural rule battery: NAMED per-rule booleans with
    // integer-exact (cross-multiplied) thresholds — the auditable
    // counterpart to text_quality_filter's composite score
    "text_gopher_rules" -> ((s, dir) =>
      QualityRules.gopherRules(t(s, dir, "documents"), "text", "doc_id",
          minWords = 20, maxWords = 5000)
        .orderBy(col("doc_id"))),

    // the eyeball report next to the counts: the 3 smallest-id documents
    // each rule rejects (bounded-heap per-rule cut; rules with no rejects
    // emit nothing)
    "text_gopher_examples" -> ((s, dir) =>
      QualityRules.rejectExamples(
        QualityRules.gopherRules(t(s, dir, "documents"), "text", "doc_id",
          minWords = 20, maxWords = 5000),
        "doc_id", k = 3)
        .orderBy(col("rule"), col("rank"))),

    // per-rule independent reject counts + full-battery survivors: the
    // one-row audit report a curator reads before shipping a corpus cut
    "text_gopher_summary" -> ((s, dir) =>
      QualityRules.summary(QualityRules.gopherRules(
        t(s, dir, "documents"), "text", "doc_id",
        minWords = 20, maxWords = 5000))),

    // the same audit sliced per source — which crawl is dragging the
    // corpus down, before deciding per-source mixing weights
    "text_gopher_by_source" -> ((s, dir) =>
      QualityRules.summaryBy(
        QualityRules.gopherRules(t(s, dir, "documents"), "text", "doc_id",
          minWords = 20, maxWords = 5000, carry = Seq("source")),
        "source")
        .orderBy(col("source"))),

    // BPE subword segmentation with a fixed rank-ordered merge table —
    // row-local replace chains (codegen'd, zero shuffle); the oracle
    // runs the SAME table through SQL replace, generated from one list
    "text_bpe_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TF.normTokens(col("text")).as("toks"))
        .select(col("doc_id"),
          length(concat_ws("", col("toks"))).as("n_chars"),
          Bpe.subwordCount(col("toks")).as("n_subwords"))
        .withColumn("compression",
          when(col("n_chars") === 0, lit(0.0))
            .otherwise(col("n_subwords").cast("double") /
              col("n_chars").cast("double")))
        .orderBy(col("doc_id"))),

    // BYTE-LEVEL BPE (round 15) — the GPT-2/tiktoken family: UTF-8
    // bytes through the byte-to-unicode table, space-attach
    // pre-tokens, rank-ordered merges; NO input is ever UNK. The
    // augmentation suffixes force multi-byte UTF-8 runs + control
    // bytes through the table; kernel and oracle share ONE constant
    // set (ByteBpe.{FixtureSuffixes,Merges,byteToChar})
    "text_bpe_bytes" -> ((s, dir) => {
      val sfx = graft.functions.ByteBpe.FixtureSuffixes
      val aug = concat(col("text"), element_at(
        array(sfx.map(lit): _*),
        (pmod(col("doc_id"), lit(sfx.length.toLong)) + 1L).cast("int")))
      t(s, dir, "documents")
        .select(col("doc_id"), aug.as("s_txt"))
        .select(col("doc_id"), TF.byteBpeStats(col("s_txt")).as("b"))
        .select(col("doc_id"), col("b.n_bytes").as("n_bytes"),
          col("b.n_subwords").as("n_subwords"),
          col("b.n_pretokens").as("n_pretokens"))
        .orderBy(col("doc_id"))
    }),

    // UNIGRAM-LM TOKENIZATION (round 14) — the OTHER classic subword
    // scheme (Kudo 2018 / SentencePiece): Viterbi DP over a scored
    // piece inventory, one native kernel pass per document. All
    // integer fixed-point; the oracle is a recursive CTE carrying a
    // 4-deep rolling DP window, GENERATED from the same vocabulary
    // constant as the kernel — one inventory, two front doors. The
    // 256-char prefix bounds DP work and keeps the piece count under
    // the 1024 tie-break modulus.
    "text_unigram_score" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TF.unigramScore(lower(substring(col("text"), 1, 256)))
            .as("u"))
        .select(col("doc_id"), col("u.uni_total").as("uni_total"),
          col("u.n_pieces").as("n_pieces"),
          col("u.score_fp").as("score_fp"))
        .orderBy(col("doc_id"))),

    // GREEDY MAXIMAL-MUNCH SEGMENTATION (round 14) — the WordPiece/
    // BERT inference rule over the SAME inventory: longest piece
    // first, locally optimal (score ≤ the Viterbi row above,
    // spec-pinned). Oracle: a recursive CTE stepping by the longest
    // CASE match, generated from the same vocabulary constant.
    "text_greedy_segment" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TF.greedySegment(lower(substring(col("text"), 1, 256)))
            .as("w"))
        .select(col("doc_id"), col("w.wp_pieces").as("wp_pieces"),
          col("w.wp_score_fp").as("wp_score_fp"),
          col("w.wp_unknown").as("wp_unknown"))
        .orderBy(col("doc_id"))),

    // corpus vocabulary: top-20 terms by document frequency, ties
    // broken by term — orderBy+limit compiles to TakeOrderedAndProject
    // (per-partition partial top-k, only k×partitions rows exchanged;
    // the vocabulary is never globally sorted)
    "text_vocab_topk" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(TF.normTokens(col("text")))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term")).limit(20)),

    // exact heavy hitters WITHOUT the full-vocabulary shuffle: a
    // Misra-Gries discovery pass (native mergeable sketch, ≤ 512
    // counters per partition pre-shuffle) then an exact re-count of the
    // broadcast candidates. Support 1/200 keeps the 30 template terms
    // and excludes the rare 'dup' marker at every SF (non-vacuous both
    // ways); the two-pass result is deterministic, so the oracle is the
    // plain exact computation.
    "text_heavy_hitters" -> ((s, dir) =>
      graft.operators.HeavyHitters.heavyTokens(t(s, dir, "documents"),
          "text", phiDenom = 200, sketchK = 512)
        .orderBy(col("cnt").desc, col("term"))),

    // grouped variant: frequent terms PER LANGUAGE — one sketch per
    // group in a single grouped aggregate, exact re-count on (g, term)
    "text_heavy_hitters_lang" -> ((s, dir) =>
      graft.operators.HeavyHitters.heavyTokensByGroup(
          t(s, dir, "documents"), "lang", "text", phiDenom = 200,
          sketchK = 512)
        .orderBy(col("g"), col("cnt").desc, col("term"))),

    // ---- multimodal plumbing ----
    "mm_meta" -> ((s, dir) =>
      Multimodal.withBlob(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_bytes"), col("content_sha"), col("kind"))
        .orderBy(col("doc_id"))),

    // REAL header parse over planted media headers: each doc gets a
    // synthetic PNG / GIF / JPEG payload whose dimensions derive from
    // doc_id, with the JPEG SOF0 frame hidden behind VARIABLE-length
    // APP0+COM segments (pad = doc_id % 7) so the marker walk must jump
    // correctly, not read a fixed offset. The oracle pins the planted
    // dimensions in closed form — any parser bug (endianness, offset,
    // segment-length arithmetic) misses them. Row-local, codegen'd byte
    // arithmetic; no shuffle.
    "mm_dims" -> ((s, dir) => {
      def be16(x: org.apache.spark.sql.Column) = unhex(lpad(hex(x), 4, "0"))
      def be32(x: org.apache.spark.sql.Column) = unhex(lpad(hex(x), 8, "0"))
      def le16(x: org.apache.spark.sql.Column) = unhex(concat(
        lpad(hex(pmod(x, lit(256L))), 2, "0"),
        lpad(hex((x / lit(256L)).cast("long")), 2, "0")))
      val w = lit(16L) + col("doc_id") % 1000L
      val h = lit(9L) + col("doc_id") % 500L
      val pad = (col("doc_id") % 7L).cast("int")
      val png = concat(
        lit(Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a,
          0x1a, 0x0a)),
        be32(lit(13L)), lit("IHDR".getBytes), be32(w), be32(h),
        lit(Array[Byte](8, 2, 0, 0, 0))) // bit depth, color, ...
      val gif = concat(lit("GIF89a".getBytes), le16(w), le16(h),
        lit(Array[Byte](0, 0, 0)))
      val jpeg = concat(
        lit(Array[Byte](0xff.toByte, 0xd8.toByte)),
        lit(Array[Byte](0xff.toByte, 0xe0.toByte)), // APP0, variable pad
        be16(pad.cast("long") + 4L), unhex(repeat(lit("00"), pad + 2)),
        lit(Array[Byte](0xff.toByte, 0xfe.toByte)), // COM
        be16(lit(4L)), lit(Array[Byte](0, 0)),
        lit(Array[Byte](0xff.toByte, 0xc0.toByte)), // SOF0
        be16(lit(11L)), lit(Array[Byte](8)), be16(h), be16(w),
        lit(Array[Byte](1)))
      val blob = when(col("doc_id") % 3 === 0, png)
        .when(col("doc_id") % 3 === 1, gif)
        .otherwise(jpeg)
      t(s, dir, "documents")
        .select(col("doc_id"), blob.as("blob"))
        .select(col("doc_id"), Multimodal.sniffKind(col("blob")).as("kind"),
          Multimodal.mediaDims(col("blob")).as("dims"))
        .select(col("doc_id"), col("kind"),
          col("dims.width").as("width"), col("dims.height").as("height"))
        .orderBy(col("doc_id"))
    }),

    // WAV metadata: parameterized RIFF containers (every third doc gets a
    // LIST chunk before fmt, every fifth a fact chunk after it — the walk
    // is exercised, not a fixed-offset read) parsed back by the chunk
    // walker; the oracle recomputes the parameters arithmetically
    "mm_wav_meta" -> ((s, dir) => {
      def le16(x: org.apache.spark.sql.Column) = unhex(concat(
        lpad(hex(pmod(x, lit(256L))), 2, "0"),
        lpad(hex(pmod((x / lit(256L)).cast("long"), lit(256L))), 2, "0")))
      def le32(x: org.apache.spark.sql.Column) = unhex(concat(
        lpad(hex(pmod(x, lit(256L))), 2, "0"),
        lpad(hex(pmod((x / lit(256L)).cast("long"), lit(256L))), 2, "0"),
        lpad(hex(pmod((x / lit(65536L)).cast("long"), lit(256L))), 2, "0"),
        lpad(hex(pmod((x / lit(16777216L)).cast("long"), lit(256L))), 2,
          "0")))
      val ch = lit(1L) + col("doc_id") % 2L
      val bits = lit(8L) + lit(8L) * (expr("doc_id DIV 2") % 2L)
      val sr = lit(8000L) * (lit(1L) + col("doc_id") % 3L)
      val blk = (ch * bits / 8L).cast("long")
      val nf = lit(100L) + col("doc_id") % 900L
      val dsz = nf * blk
      val listSz = lit(2L) * (col("doc_id") % 5L)
      val fmtChunk = concat(lit("fmt ".getBytes), le32(lit(16L)),
        le16(lit(1L)), le16(ch), le32(sr), le32(sr * blk), le16(blk),
        le16(bits))
      val listChunk = when(col("doc_id") % 3 === 0,
        concat(lit("LIST".getBytes), le32(listSz),
          unhex(repeat(lit("00"), listSz.cast("int")))))
        .otherwise(lit(Array.empty[Byte]))
      val factChunk = when(col("doc_id") % 5 === 0,
        concat(lit("fact".getBytes), le32(lit(4L)), le32(nf)))
        .otherwise(lit(Array.empty[Byte]))
      val blob = concat(lit("RIFF".getBytes), le32(lit(0L)),
        lit("WAVE".getBytes), listChunk, fmtChunk, factChunk,
        lit("data".getBytes), le32(dsz))
      // blob hoisted into its own projection before the walker: wavMeta
      // references its input ~10 times per unrolled chunk step, and
      // handing it the raw construction EXPRESSION would clone the
      // whole per-byte concat at every reference (the 36 MiB-codegen /
      // GC-overhead failure mode the scale probe caught; same hoist as
      // mm_dims and the minhash kernels)
      t(s, dir, "documents")
        .select(col("doc_id"), blob.as("blob"))
        .select(col("doc_id"), Multimodal.wavMeta(col("blob")).as("m"))
        .select(col("doc_id"), col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.bits_per_sample").as("bits_per_sample"),
          col("m.n_frames").as("n_frames"),
          col("m.duration_ms").as("duration_ms"))
        .orderBy(col("doc_id"))
    }),

    "mm_features" -> ((s, dir) => {
      // feature vector flattened to per-dimension float columns: the
      // driver's pandas harness can hash scalars, and each dim gets its
      // own DuckDB-recomputed byte-histogram oracle column
      val featCols = (0 until Multimodal.FeatureExtractor.FeatureDim)
        .map(i => element_at(col("features"), i + 1).as(s"f$i"))
      Multimodal.extractFeatures(
          Multimodal.withBlob(t(s, dir, "documents"), "text"), "doc_id")
        .toDF()
        .select(Seq(col("doc_id"), col("n_bytes"), col("mean_byte"))
          ++ featCols: _*)
        .orderBy(col("doc_id"))
    }),

    "mm_chunks" -> ((s, dir) =>
      Multimodal.sampleChunks(
          Multimodal.withBlob(t(s, dir, "documents"), "text"), "doc_id")
        .toDF()
        .select(col("doc_id"), col("chunk_index"), col("offset"),
          sha2(col("chunk"), 256).as("chunk_sha"))
        .orderBy(col("doc_id"), col("chunk_index"))),

    // REAL audio decode (closes the round-6 "decode is a stub" gap): each
    // doc gets a PCM16 WAV whose DATA BYTES — not samples — are the
    // primitive, defined byte-wise as b(j) = (doc_id*37 + j*101) % 256.
    // The engine walks the RIFF container (LIST chunk planted before
    // `fmt ` on every third doc, so the walk is exercised) and decodes
    // byte PAIRS as little-endian signed 16-bit frames; the oracle
    // independently recombines the same byte formula into two's-complement
    // samples and aggregates. There is no sample-level encoder whose bugs
    // could cancel against the decoder: an endianness, sign, interleave,
    // or chunk-offset mistake on the Spark side diverges from the oracle.
    "mm_audio_features" -> ((s, dir) =>
      Multimodal.extractAudioFeatures(wavPcmFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("channel"))),

    // ONE FRONT DOOR over a MIXED image corpus (round 10): docs route
    // by residue to BMP/PNG/GIF/JPEG fixtures and the single
    // any_raster_features expression sniffs + decodes + profiles each —
    // the oracle recomputes all four closed forms with the format
    // column attached (production corpora are never single-format)
    "mm_image_any" -> ((s, dir) => {
      val blob = when(col("doc_id") % 4 === 0, bmpBlob)
        .when(col("doc_id") % 4 === 1,
          pngAssemble(col("__png_scan"), lit(3L) + col("doc_id") % 4L,
            lit(2L) + col("doc_id") % 3L))
        .when(col("doc_id") % 4 === 2, gifBlob)
        .when(col("doc_id") % 20 === 19, webpAssemble(col("__webp_bits")))
        .when(col("doc_id") % 20 === 15, tiffBlob)
        .otherwise(jpegBlob)
      Multimodal.extractAnyImageFeatures(
          t(s, dir, "documents").select(col("doc_id"),
              when(col("doc_id") % 4 === 1, pngScan).as("__png_scan"),
              when(col("doc_id") % 20 === 19, webpBits)
                .as("__webp_bits"))
            .select(col("doc_id"), blob.as("blob")), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))
    }),

    // the audio front door: odd docs are (stereo-capable) PCM WAV, even
    // docs FLAC — one per-channel profile relation out, kind attached
    "mm_audio_any" -> ((s, dir) => {
      Multimodal.extractAnyAudioFeatures(
          t(s, dir, "documents").select(col("doc_id"),
              when(col("doc_id") % 2 === 0, flacFrameVals).as("__fv"))
            .select(col("doc_id"),
              when(col("doc_id") % 2 === 1, wavPcmBlob)
                .otherwise(flacBlob(col("__fv"))).as("blob")), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("channel"))
    }),

    // REAL MP4 container metadata (round 10) — the VIDEO leg: box-tree
    // walk (ftyp → moov → mvhd/trak → tkhd/mdia → hdlr) recovering
    // timescale, duration, track fan-out and the 16.16 presentation
    // geometry; the oracle recomputes the closed-form fixture params
    "mm_video_meta" -> ((s, dir) =>
      Multimodal.extractMp4Meta(mp4Fixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))),

    // MP4 sample tables (round 11) — the stbl walk past the movie
    // header: frame count + byte volume from stsz, exact duration from
    // the stts run-length sum, int64-exact bitrate, chunk count, sync
    // density (absent stss on even docs = every sample is sync)
    "mm_video_tracks" -> ((s, dir) =>
      Multimodal.extractMp4Tracks(mp4Fixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))),

    // KEYFRAME BYTE-RANGE PLAN (round 11) — the stsc/stco/stsz/stss
    // walk emits the exact (sample, chunk, offset, size) of every sync
    // sample: the ranged-GET plan that fetches keyframes without
    // decoding; even docs have no stss (all-sync), odd docs every 8th
    "mm_video_sync_ranges" -> ((s, dir) =>
      Multimodal.extractMp4SyncRanges(mp4Fixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("sample_idx"))),

    // RANGED-GET KEYFRAME MATERIALIZATION (round 12) — the sync-range
    // plan composed with the byte fetch it exists for: the fixture now
    // carries a real data region at the header's chunk offsets, each
    // planned (offset, size) range is sliced out of the blob (substr =
    // the ranged GET), and integer checksums over the SLICED BYTES
    // prove the plan addresses exactly the claimed keyframe bytes —
    // the oracle recomputes both sums from the closed-form byte layout
    "mm_video_keyframe_bytes" -> ((s, dir) => {
      // slice INSIDE the transform, before the explode: the exploded
      // rows then carry ~100-byte keyframe slices, not the 16 KiB blob
      // ×ranges (measured: blob-through-Generate traffic put the 6g
      // bench JVM into GC thrash — 14 s vs 2 s)
      val sliced = mp4FixtureWithData(s, dir)
        .select(col("doc_id"),
          explode(transform(
            graft.plans.MediaExprs.mp4SyncRangesCol(col("blob")),
            r => struct(
              r.getField("sample_idx").as("sample_idx"),
              r.getField("offset").as("offset"),
              r.getField("size").as("size"),
              col("blob").substr(
                (r.getField("offset") + 1L).cast("int"),
                r.getField("size").cast("int")).as("slice"))))
            .as("r"))
        .select(col("doc_id"),
          col("r.sample_idx").as("sample_idx"),
          col("r.offset").as("offset"), col("r.size").as("size"),
          col("r.slice").as("slice"))
      def byteAt(hx: org.apache.spark.sql.Column,
          i: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        conv(hx.substr((i * 2L - 1L).cast("int"), lit(2)), 16, 10)
          .cast("long")
      // ONE fold pass for both checksums: the plain sum packs into the
      // low 20 bits (≤ 112·255 < 2^20), the weighted sum rides above —
      // and b·(1 + i·2^20) references the hex-decode ONCE per element
      // (a second reference would double the per-byte conv work)
      val packShift = 1048576L // 2^20
      sliced
        // Generate barrier: with only ONE downstream reference,
        // CollapseProject would inline hex(slice) INTO the fold lambda
        // — re-hexing the whole slice per element (measured 27× here);
        // explode(array(…)) pins exactly one evaluation per row
        .select(col("doc_id"), col("sample_idx"), col("offset"),
          col("size"), explode(array(hex(col("slice")))).as("hx"))
        .select(col("doc_id"), col("sample_idx"), col("offset"),
          col("size"),
          aggregate(sequence(lit(1L), col("size")), lit(0L), (a, i) =>
            a + byteAt(col("hx"), i) * (lit(1L) + i * packShift))
            .as("packed"))
        .select(col("doc_id"), col("sample_idx"), col("offset"),
          col("size"),
          pmod(col("packed"), lit(packShift)).as("slice_sum"),
          TF.intDivNonNeg(col("packed"), lit(packShift)).as("slice_wsum"))
        .orderBy(col("doc_id"), col("sample_idx"))
    }),

    // WEBP LOSSLESS (round 12) — a REAL VP8L decode: RIFF chunk walk,
    // LSB-first bitstream, simple prefix codes, per-pixel entropy
    // decode — through the mixed-format front door (kind = 'webp' on
    // every row proves the routing); the oracle replays the
    // closed-form checkerboard
    "mm_webp_features" -> ((s, dir) =>
      Multimodal.extractAnyImageFeatures(webpFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))),

    // BASELINE TIFF (round 12) — the IFD walk with an offset-resolved
    // BitsPerSample and one uncompressed RGB strip, through the mixed
    // front door (kind = 'tiff'); the oracle replays the closed-form
    // strip bytes
    "mm_tiff_features" -> ((s, dir) =>
      Multimodal.extractAnyImageFeatures(tiffFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))),

    // JPEG-IN-TIFF (round 14) — compression 7 with a shared JPEGTABLES
    // tag and two abbreviated grayscale strips: the tables splice +
    // per-strip JPEG decode + strip reassembly, all in closed form
    // (DC-only blocks — integer-exact pipeline)
    "mm_tiff_jpeg" -> ((s, dir) =>
      Multimodal.extractAnyImageFeatures(tiffJpegFixture(s, dir),
          "doc_id")
        .toDF()
        .orderBy(col("doc_id"))),

    // GZIP MEMBER (round 12) - header metadata + a REAL inflate with
    // the trailer CRC32 verified against the inflated bytes; content
    // in-plan only because the fixture's CRC rides Spark's own crc32
    "source_gzip_member" -> ((s, dir) =>
      Multimodal.extractGzipMember(gzipFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))),

    // MULTI-MEMBER GZIP (round 13) - concatenated members, the layout
    // .warc.gz and pigz actually ship: one row per member, boundaries
    // recovered from the inflater's consumed-byte count, per-member
    // CRC32 verified against the inflated bytes
    "source_gzip_members" -> ((s, dir) =>
      Multimodal.extractGzipMembers(gzipMultiFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("member_idx"))),

    // WARC.GZ (round 13) - the crawl archive in the format it ships:
    // one gzip member per record; the composition inflates every
    // member and yields EXACTLY the uncompressed twin's listing (same
    // oracle as source_warc_records)
    "source_warc_gz" -> ((s, dir) =>
      Multimodal.extractWarcGzRecords(warcGzFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("target_uri"))),

    // TAR ENTRIES (round 12) - WebDataset shards are plain tars: the
    // walk verifies each header's checksum, lists name/size/typeflag,
    // and extracts small regular-file contents; bodies skipped by
    // 512-block arithmetic
    "source_tar_entries" -> ((s, dir) =>
      Multimodal.extractTarEntries(tarFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("name"))),

    // WARC RECORDS (round 12) — the crawl archive itself: per-record
    // type / target URI / content length / HTTP status, bodies
    // SKIPPED by Content-Length (never scanned for separators)
    "source_warc_records" -> ((s, dir) =>
      Multimodal.extractWarcRecords(warcFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("target_uri"))),

    // WEBDATASET SAMPLES (round 13) — the composition the tar walk was
    // built for: members grouped by sample key, the caption carried as
    // a column, the image member sliced by BYTE RANGE (never
    // stringified) and decoded through the mixed-format front door
    // once per assembled sample
    "source_webdataset_samples" -> ((s, dir) =>
      Multimodal.assembleWebdatasetSamples(
          webdatasetFixture(s, dir), "doc_id")
        .select(col("doc_id"), col("key"), col("caption"),
          col("image.kind").as("kind"),
          col("image.width").as("width"),
          col("image.height").as("height"),
          col("image.n_px").as("n_px"),
          col("image.sum_r").as("sum_r"),
          col("image.sum_g").as("sum_g"),
          col("image.sum_b").as("sum_b"),
          col("image.wsum_r").as("wsum_r"),
          col("image.wsum_g").as("wsum_g"),
          col("image.wsum_b").as("wsum_b"))
        .orderBy(col("doc_id"), col("key"))),

    // ZIP CENTRAL DIRECTORY (round 12) — the archive-routing source
    // (docx/epub/jar): EOCD scan, per-entry listing, STORED content
    // resolved through the local headers; oracle replays names,
    // sizes, and the extracted bytes in closed form
    "source_zip_entries" -> ((s, dir) =>
      Multimodal.extractZipEntries(zipFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("name"))),

    // ZSTD FRAME WALK (round 13) — RFC 8878 frame/block metadata with
    // zero entropy decoding (the .warc.zst routing/splitting surface):
    // skippable frames list alongside data frames, Raw/RLE-only frames
    // extract content; every field replays in closed form
    "source_zstd_frames" -> ((s, dir) =>
      Multimodal.extractZstdFrames(zstdFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("frame_idx"))),

    // FULL ZSTD DECODE (round 13) — REAL libzstd frames (golden
    // templates, level 3) through the frame walk's ZstdDecode path; the
    // oracle replays the decoded plaintext and every header field
    "source_zstd_compressed" -> ((s, dir) =>
      Multimodal.extractZstdFrames(zstdCompressedFixture(s, dir),
          "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("frame_idx"))),

    // ZSTD ENCODE (round 14) — the WRITE half: every document body
    // through graft_zstd_compress (ZstdEncode, libzstd) then back
    // through graft_zstd_decompress, in one codegen'd projection; a
    // frame that fails to decode NULLs and breaks the identity.
    // n_bytes pins that the hop round-trips BYTES, not just
    // displayable text.
    "source_zstd_encode" -> ((s, dir) => {
      val enc = graft.plans.MediaExprs.zstdCompressCol(
        encode(col("text"), "UTF-8"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.plans.MediaExprs.zstdDecompressCol(enc).as("rt"))
        .select(col("doc_id"),
          decode(col("rt"), "UTF-8").as("text"),
          length(col("rt")).cast("long").as("n_bytes"))
        .orderBy(col("doc_id"))
    }),

    // LZ4 ENCODE (round 15) — the WRITE half of the lz4 story (the
    // cheap-CPU export codec next to zstd): every document body
    // through graft_lz4_compress (lz4-java block parse, independent
    // 64 KiB blocks, XXH32 header/content checksums) then back
    // through the golden-pinned frame walk, one codegen'd projection;
    // same decoder-anchored identity discipline as source_zstd_encode
    "source_lz4_encode" -> ((s, dir) => {
      val enc = graft.plans.MediaExprs.lz4CompressCol(
        encode(col("text"), "UTF-8"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.plans.MediaExprs.lz4DecompressCol(enc).as("rt"))
        .select(col("doc_id"),
          decode(col("rt"), "UTF-8").as("text"),
          length(col("rt")).cast("long").as("n_bytes"))
        .orderBy(col("doc_id"))
    }),

    // KAFKA SEGMENT WALK (round 13) — dumped RecordBatch v2 bytes at
    // rest (replay/backfill without a broker): batch metadata with
    // CRC-32C verdicts across all five codecs
    "source_kafka_batches" -> ((s, dir) =>
      Multimodal.extractKafkaBatches(kafkaFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))),

    // ... and the records themselves, the compressed sections routed
    // through the codec decoders; values are binary by
    // contract (Avro bodies survive) — decoded to UTF-8 here because
    // THIS fixture's values are text
    "source_kafka_records" -> ((s, dir) =>
      Multimodal.extractKafkaRecords(kafkaFixture(s, dir), "doc_id")
        .toDF()
        .select(col("doc_id"), col("offset"), col("timestamp"),
          col("key"), decode(col("value"), "UTF-8").as("value"),
          col("n_headers"), col("codec"))
        .orderBy(col("doc_id"), col("offset"))),

    // THE REFERENCE'S WHOLE PIPELINE FROM RAW SEGMENT BYTES (round 13)
    // — Kafka batch walk (gzip records section) → binary record values
    // → Confluent wire-format parse → schema-registry lookup → Avro
    // decode → envelope, i.e. what the reference does as a Connect SMT
    // but starting from the segment file a broker would serve; batch
    // variants rotate record counts by doc so the check is non-vacuous
    "source_kafka_avro" -> ((s, dir) => {
      val (provider, id) = graft.sources.AvroEventCorpus.registry()
      def ev(e: Int): Array[Byte] = graft.avro.WireFormat.frame(id,
        graft.sources.AvroEventCorpus.encodeEventBody(e.toLong,
          (e * 3 % 7).toLong,
          Seq("view", "click", "purchase", "refund")(e % 4), e * 2.5,
          s"""{"k": $e}""", 1600000000000000L + e))
      val variants = (0 until 4).map { v =>
        graft.operators.KafkaSegment.buildBatchV2(100L,
          1600000000000L,
          (0 until 5 + v).map(e => (e.toString.getBytes, ev(e))),
          codec = 1)
      }
      val fixture = t(s, dir, "documents")
        .select(col("doc_id"), element_at(
          array(variants.map(lit): _*),
          (pmod(col("doc_id"), lit(4L)) + 1L).cast("int")).as("blob"))
      val recs = Multimodal.extractKafkaRecords(fixture, "doc_id")
        .toDF()
        .select(col("doc_id"), col("offset"),
          lit("events").as("topic"), col("value"))
      val decoded = graft.avro.AvroTransform.decoded(recs,
        graft.config.EngineConfig(Seq("stub://in-memory"),
          Map("events" -> false)), provider)
      def f(name: String) =
        get_json_object(col("origin_message"), s"$$.$name")
      decoded.select(col("doc_id"), col("offset"),
        f("event_id").cast("long").as("event_id"),
        f("user_id").cast("long").as("user_id"),
        f("event_type").as("event_type"),
        f("value").cast("double").as("value"))
        .orderBy(col("doc_id"), col("offset"))
    }),

    // LZ4 FRAMES (round 13) — Kafka's and Parquet's codec through the
    // golden-pinned pure-JVM decoder: real reference-encoder frames,
    // every header field + decoded plaintext replayed by the oracle
    "source_lz4_frames" -> ((s, dir) =>
      Multimodal.extractLz4Frames(lz4Fixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("frame_idx"))),

    // SNAPPY RAW DECODE (round 13) — the other Parquet/Kafka codec,
    // same golden-template discipline
    "source_snappy_decode" -> ((s, dir) =>
      Multimodal.extractSnappy(snappyFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))),

    // WARC.ZST (round 13) — Common Crawl's CURRENT archive layout (one
    // real zstd frame per record, concatenated): full decompression +
    // the WARC record walk; the record SET rotates per doc so the
    // check is non-vacuous
    "source_warc_zst" -> ((s, dir) =>
      Multimodal.extractWarcZstRecords(warcZstFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("rec_type"), col("target_uri"),
          col("content_length"))),

    // WARC.ZST with IN-BAND DICTIONARY (round 14) — the layout Common
    // Crawl ACTUALLY publishes: a leading 0x184D2A5D skippable frame
    // carries a real `zstd --train` dictionary (RFC 8878 §5) and every
    // record frame declares its id; decode = harvest + entropy-table
    // preload + rep-offset seed + content window prefix
    "source_warc_zst_dict" -> ((s, dir) =>
      Multimodal.extractWarcZstRecords(warcZstDictFixture(s, dir),
          "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("target_uri"),
          col("content_length"))),

    // SEEKABLE WARC.ZST SPLIT READ (round 14) — the 100 TB fan-out
    // for crawl archives: the published zstd seekable format's seek
    // table (bounded driver tail read) splits one huge file into one
    // positioned range read per frame group; the leading IIPC
    // dictionary frame is harvested once and prepended per blob, so
    // every split decodes independently. 24 dict-compressed record
    // frames, 4 per split → 6 tasks (spec-pinned)
    "source_warc_zst_split" -> ((s, dir) => {
      val path = Artifact.memoized("warczst_seek", dir) { p =>
        def hx(h: String): Array[Byte] =
          h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
        val dict = hx(WarcZstDictHeadHex)
        val recs = WarcZstDictRecHex.map(hx)
        val dsz = Seq(143L, 161L, 176L, 191L, 207L, 146L, 161L, 176L)
        val frames = dict +: (0 until 24).map(i => recs(i % 8))
        val dsizes = 0L +: (0 until 24).map(i => dsz(i % 8))
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          graft.sources.ZstdSeekable.assemble(frames, dsizes))
        p
      }
      graft.sources.ZstdSeekable.readFrames(s, path, framesPerSplit = 4)
        .select(col("frame_idx"), col("compressed_len"),
          explode(graft.plans.MediaExprs.warcZstRecordsCol(col("blob")))
            .as("r"))
        .select(col("frame_idx"), col("compressed_len"),
          col("r.rec_type").as("rec_type"),
          col("r.target_uri").as("target_uri"),
          col("r.content_length").as("content_length"))
        .orderBy(col("frame_idx"))
    }),

    // WARC HTTP BODY → TEXT (round 15) — the step every Common Crawl
    // consumer actually runs, end-to-end in ONE declarative plan:
    // `.warc.zst` → WARC record walk → HTTP status/header parse →
    // de-chunk → gunzip → charset decode → html strip. The fixture
    // rotates all four transport/content coding combinations (doc%4)
    // and the oracle replays the expected page text from the
    // documents table through the text_html_strip chain — any
    // regression in ANY hop of the pipeline turns the row red
    "source_warc_html_text" -> ((s, dir) =>
      Multimodal.extractWarcZstHttpBodies(warcHtmlZstFixture(s, dir),
          "doc_id")
        .toDF()
        .select(col("doc_id"), col("target_uri"), col("http_status"),
          col("content_type"), col("content_encoding"),
          col("transfer_encoding"), col("body_len"),
          TF.stripMarkup(col("body_text")).as("clean"))
        .orderBy(col("doc_id"))),

    // CHARSET DETECTION (round 16) — the HTTP hop's hardened decode:
    // r0 header-declared utf-8 (control), r1 UTF-8 BOM with NO header
    // charset (BOM stripped from the text), r2 UTF-16LE BOM + UTF-16LE
    // body, r3 cp1252 bytes declared only by <meta charset> — each
    // page carries non-ASCII codepoints whose survival proves the
    // charset path; the oracle states every decoded text and byte
    // length in closed form
    "source_warc_charsets" -> ((s, dir) => {
      val d = col("doc_id")
      val r = pmod(d, lit(4L))
      def asc(c: org.apache.spark.sql.Column) = encode(c, "utf-8")
      val base = t(s, dir, "documents")
        .select(d, substring(col("text"), 1, 24).as("w"))
      val htmlCafe = concat(lit("<p>"), col("w"),
        lit(" café</p>"))
      val payload = when(r === 0, asc(htmlCafe))
        .when(r === 1, concat(unhex(lit("EFBBBF")), asc(htmlCafe)))
        .when(r === 2, concat(unhex(lit("FFFE")),
          encode(htmlCafe, "UTF-16LE")))
        .otherwise(concat(
          asc(concat(lit("<meta charset=\"windows-1252\"><p>"),
            col("w"), lit(" eur "))),
          unhex(lit("80")), asc(lit(" caf")), unhex(lit("E9")),
          asc(lit("</p>"))))
      val ctype = when(pmod(col("doc_id"), lit(4L)) === 0,
          lit("text/html; charset=utf-8"))
        .otherwise(lit("text/html"))
      val fixture = warcResponseZstBlobsCt(
        base.select(d, payload.as("payload")), ctype)
      Multimodal.extractWarcZstHttpBodies(fixture, "doc_id").toDF()
        .select(col("doc_id"), col("content_type"), col("body_len"),
          TF.stripMarkup(col("body_text")).as("clean"))
        .orderBy(col("doc_id"))
    }),

    // ZSTD CONTENT-ENCODING (round 16) — RFC 8878 in HTTP: response
    // bodies compressed with the repo's own zstd encoder ride
    // `Content-Encoding: zstd` through the HTTP hop (even docs), and
    // an UNSUPPORTED coding (`br`, odd docs) declines PERMISSIVELY as
    // a body_len = -1 row instead of sinking the shard
    "source_warc_zstd_encoding" -> ((s, dir) => {
      val d = col("doc_id")
      val crlf = "\r\n"
      val html = concat(lit("<p>"), substring(col("text"), 1, 40),
        lit("</p>"))
      val base = t(s, dir, "documents")
        .select(d, encode(html, "utf-8").as("payload"))
        .select(d, col("payload"),
          when(d % 2 === 0, graft.plans.MediaExprs
            .zstdCompressCol(col("payload")))
            .otherwise(col("payload")).as("wire"),
          when(d % 2 === 0, lit("zstd")).otherwise(lit("br"))
            .as("cenc"))
      val http = concat(
        encode(concat(
          lit("HTTP/1.1 200 OK" + crlf +
            "Content-Type: text/html; charset=utf-8" + crlf +
            "Content-Encoding: "), col("cenc"), lit(crlf),
          lit("Content-Length: "),
          octet_length(col("wire")).cast("string"),
          lit(crlf + crlf)), "utf-8"),
        col("wire"))
      val warc = concat(
        encode(concat(
          lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
            "WARC-Target-URI: http://site.example/doc"),
          d.cast("string"), lit(crlf + "Content-Length: "),
          octet_length(col("http")).cast("string"), lit(crlf + crlf)),
          "utf-8"),
        col("http"), encode(lit(crlf + crlf), "utf-8"))
      val fixture = base
        .select(d, http.as("http"))
        .select(d, warc.as("warc"))
        .select(d, graft.plans.MediaExprs.zstdCompressCol(col("warc"))
          .as("blob"))
      Multimodal.extractWarcZstHttpBodies(fixture, "doc_id").toDF()
        .select(col("doc_id"), col("content_encoding"),
          col("body_len"),
          TF.stripMarkup(col("body_text")).as("clean"))
        .orderBy(col("doc_id"))
    }),

    // MULTIMODAL CRAWL (round 15) — the image-crawl shape: WARC
    // response records carrying image/bmp BODIES (binary — the
    // round-15 `body` column; body_text stays NULL for non-textual
    // content types) through the same four transport rotations, then
    // straight into the raster front door: `.warc.zst` → HTTP decode
    // → body bytes → BMP pixel features, one declarative plan; the
    // oracle replays the closed-form pixel arithmetic
    "mm_warc_images" -> ((s, dir) => {
      val fixture = warcResponseZstBlobs(
        t(s, dir, "documents")
          .select(col("doc_id"), bmpBlob.as("payload")),
        "image/bmp")
      fixture.select(explode(graft.plans.MediaExprs
          .warcZstHttpBodiesCol(col("blob"))).as("r"))
        .select(
          regexp_extract(col("r.target_uri"), "/doc(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("r.content_type").as("content_type"),
          col("r.body_text").isNull.as("text_is_null"),
          graft.plans.MediaExprs.bmpCol(col("r.body")).as("f"))
        .select(col("doc_id"), col("content_type"),
          col("text_is_null"),
          col("f.width").as("width"), col("f.height").as("height"),
          col("f.n_px").as("n_px"), col("f.sum_b").as("sum_b"),
          col("f.sum_g").as("sum_g"), col("f.sum_r").as("sum_r"),
          col("f.mean_b").as("mean_b"), col("f.mean_g").as("mean_g"),
          col("f.mean_r").as("mean_r"))
        .orderBy(col("doc_id"))
    }),

    // THE COMMON CRAWL PIPELINE CAPSTONE (round 15) — everything a
    // CC-scale corpus run actually does, ONE declarative plan with a
    // full DuckDB oracle: `.warc.zst` → WARC record walk → HTTP
    // status/header parse → de-chunk → gunzip → charset → html strip
    // → quality gate (≥ 20 words) → exact dedup → survivors. Pages
    // are GROUP-DUPLICATED (each group of 3 docs serves the group
    // base's page) so the dedup stage is non-vacuous: survivors are
    // the group minima with real n_copies
    "cc_pipeline_survivors" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id").as("b_id"), col("text").as("b_text"),
          col("source").as("b_source"))
      val grouped = t(s, dir, "documents")
        .select(col("doc_id"),
          (col("doc_id") - pmod(col("doc_id"), lit(3L))).as("b_id"))
        .join(broadcast(base), "b_id")
        .select(col("doc_id"), col("b_source").as("source"),
          col("b_text").as("text"))
      val bodies = Multimodal.extractWarcZstHttpBodies(
        warcHtmlZstBlobs(grouped), "doc_id").toDF()
      bodies
        .select(col("doc_id"),
          TF.stripMarkup(col("body_text")).as("clean"))
        .filter(size(split(col("clean"), " ")) >= 20)
        .groupBy(col("clean"))
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"), col("clean"))
        .orderBy(col("doc_id"))
    }),

    // CC CAPSTONE + ROBOTS GATE (round 16): the frontier check
    // composed into the pipeline — pages join their host's robots.txt
    // (a 50-row BROADCAST dim, the per-host cache shape at 100 TB)
    // and only fetch-eligible paths reach dedup; hosts ≡ 0 (mod 3)
    // disallow /doc so groups lose 1-2 of their 3 members (never all:
    // consecutive host ids can't all be ≡ 0 mod 3) and n_copies
    // really varies
    "cc_pipeline_robots" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id").as("b_id"), col("text").as("b_text"),
          col("source").as("b_source"))
      val grouped = t(s, dir, "documents")
        .select(col("doc_id"),
          (col("doc_id") - pmod(col("doc_id"), lit(3L))).as("b_id"))
        .join(broadcast(base), "b_id")
        .select(col("doc_id"), col("b_source").as("source"),
          col("b_text").as("text"))
      val bodies = Multimodal.extractWarcZstHttpBodies(
        warcHtmlZstBlobs(grouped), "doc_id").toDF()
      val hosts = s.range(50).select(
        concat(lit("site"), col("id"), lit(".example")).as("host"),
        when(pmod(col("id"), lit(3L)) === 0,
          lit("User-agent: ccbot\nDisallow: /doc\n"))
          .otherwise(
            lit("User-agent: ccbot\nDisallow: /private/\n"))
          .as("robots"))
      bodies
        .select(col("doc_id"),
          regexp_extract(col("target_uri"), "^http://([^/]+)", 1)
            .as("host"),
          regexp_extract(col("target_uri"), "^http://[^/]+(/.*)$", 1)
            .as("path"),
          col("body_text"))
        .join(broadcast(hosts), "host")
        .select(col("doc_id"), col("body_text"), explode(array(
          TF.robotsEval(col("robots"), lit("ccbot"), col("path"))))
          .as("v"))
        .filter(col("v.allowed"))
        .select(col("doc_id"),
          TF.stripMarkup(col("body_text")).as("clean"))
        .filter(size(split(col("clean"), " ")) >= 20)
        .groupBy(col("clean"))
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"), col("clean"))
        .orderBy(col("doc_id"))
    }),

    // CC CAPSTONE + MAIN-CONTENT (round 16): the same archive → HTTP
    // → text composition, but with readability-lite boilerplate
    // removal between the page and the quality gate — planted
    // nav/footer menus and the one-word h1 never reach dedup, so the
    // group key is the body prose alone (what RefinedWeb-style
    // pipelines dedup on). Same transport rotations, full oracle.
    "cc_pipeline_main" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id").as("b_id"), col("text").as("b_text"),
          col("source").as("b_source"))
      val grouped = t(s, dir, "documents")
        .select(col("doc_id"),
          (col("doc_id") - pmod(col("doc_id"), lit(3L))).as("b_id"))
        .join(broadcast(base), "b_id")
        .select(col("doc_id"), col("b_source").as("source"),
          col("b_text").as("text"))
      val html = concat(
        lit("<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
          "<a href=\"/c\">Contact</a></nav><div><h1>"), col("source"),
        lit("</h1></div><p>"), col("text"),
        lit("</p><footer><a>Terms</a> <a>Privacy</a></footer>"))
      val blobs = warcResponseZstBlobs(
        grouped.select(col("doc_id"),
          encode(html, "utf-8").as("payload")),
        "text/html; charset=utf-8")
      val bodies = Multimodal.extractWarcZstHttpBodies(
        blobs, "doc_id").toDF()
      bodies
        // Generate barrier: the filter below must not re-eval the
        // kernel through alias substitution
        .select(col("doc_id"), explode(array(
          TF.mainContent(col("body_text"), minWords = 3))).as("mc"))
        .select(col("doc_id"), col("mc.text").as("clean"))
        .filter(size(split(col("clean"), " ")) >= 20)
        .groupBy(col("clean"))
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"), col("clean"))
        .orderBy(col("doc_id"))
    }),

    // PDF TEXT EXTRACTION (round 16) — the paper/book training-corpus
    // format: classic xref walk (+ scan fallback on r3's broken
    // startxref), page tree, BT/ET text operators (Td/TD/Tm/T-star
    // lines, Tj/TJ/quote ops, hex + literal strings with escapes),
    // WinAnsi cp1252 bytes on r1. Every residue's expected text is
    // stated closed-form from documents.text — no replayed extractor
    "source_pdf_text" -> ((s, dir) =>
      Multimodal.extractPdfPages(pdfFixture(s, dir), "doc_id").toDF()
        .orderBy(col("doc_id"), col("page_idx"))),

    // PDF-1.5 MODERN LAYOUT (round 16) — even docs: object streams +
    // xref streams (type-2 entries, in-plan binary rows); odd docs:
    // Type0/Identity-H decoded through a ToUnicode CMap (identity
    // bfrange over printable ASCII, 2-byte hex-string codes). The
    // expected text is the raw substr — PDF extraction preserves
    // bytes exactly, no collapse
    "source_pdf_modern" -> ((s, dir) =>
      Multimodal.extractPdfPages(pdfModernFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("page_idx"))),

    // PDF DOCUMENT METADATA (round 16) — the audit-side battery:
    // r0 classic PDFs with an /Info dict (PDFDoc-encoded title,
    // constant author), r1 UTF-16BE-BOM titles via hex strings, r2
    // the modern ObjStm/xref-stream layout (no Info), r3 a broken
    // startxref exercising the via_scan flag
    "mm_pdf_meta" -> ((s, dir) => {
      val d = col("doc_id")
      val r = pmod(d, lit(4L))
      def asc(c: org.apache.spark.sql.Column) = encode(c, "utf-8")
      val catalogB = asc(lit("<< /Type /Catalog /Pages 2 0 R >>"))
      val pagesB = asc(lit("<< /Type /Pages /Kids [3 0 R] /Count 1 >>"))
      val pageB = asc(lit("<< /Type /Page /Parent 2 0 R /Resources " +
        "<< /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"))
      val helvB = asc(lit("<< /Type /Font /Subtype /Type1 " +
        "/BaseFont /Helvetica >>"))
      val contentB = asc(concat(lit("<< /Length 30 >>\nstream\n" +
        "BT /F1 9 Tf (metadata page) Tj\nendstream")))
      val title = concat(lit("Doc "), d.cast("string"))
      val infoPlain = asc(concat(lit("<< /Title ("), title,
        lit(") /Author (graft corpus) >>")))
      val infoUtf16 = asc(concat(lit("<< /Title <FEFF"),
        hex(encode(title, "UTF-16BE")),
        lit("> /Author (graft corpus) >>")))
      val classicWithInfo = pdfAssemble(Seq(catalogB, pagesB, pageB,
        contentB, helvB,
        when(r === 1, infoUtf16).otherwise(infoPlain)),
        broken = r === 3, trailerExtra = "/Info 6 0 R ")
      val hoisted = t(s, dir, "documents")
        .select(d, col("text"))
        .select(d, classicWithInfo.as("classic"))
      val blobs = hoisted.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4L)) === 2,
          lit(null).cast("binary")).otherwise(col("classic"))
          .as("classic"))
      // r2 swaps in the modern-layout fixture (built separately to
      // keep the when() branches cheap)
      val modern = pdfModernFixture(s, dir)
        .filter(pmod(col("doc_id"), lit(4L)) === 2)
        .filter(pmod(col("doc_id"), lit(2L)) === 0)
      val withModern = blobs
        .join(modern.withColumnRenamed("blob", "mblob"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("classic"), col("mblob")).as("blob"))
      Multimodal.extractPdfMeta(withModern, "doc_id").toDF()
        .orderBy(col("doc_id"))
    }),

    // PDF AUDIT ROUTING (round 16) — the decode-audit front door
    // recognizes %PDF- and renders a real verdict: intact fixtures are
    // ok, a 20-byte truncation keeps the magic but fails extraction
    "mm_pdf_audit" -> ((s, dir) => {
      val keepAll = lit(1 << 30)
      val blobs = pdfFixture(s, dir)
        .select(col("doc_id"), col("blob").substr(lit(1),
          when(col("doc_id") % 5 === 0, lit(20)).otherwise(keepAll))
          .as("blob"))
      Multimodal.extractDecodeAudit(blobs, "doc_id").toDF()
        .orderBy(col("doc_id"))
    }),

    // BZIP2 MEMBER WALK (round 13) — the Wikipedia-dump codec: REAL
    // libbz2 streams (golden templates) through the full
    // Huffman/MTF/BWT/RLE decode with per-block + footer CRCs
    // verified; even docs are multi-stream so member accounting is
    // non-vacuous
    "source_bz2_members" -> ((s, dir) =>
      Multimodal.extractBz2Members(bz2Fixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("member_idx"))),

    // WIKIPEDIA PAGE WALK (round 13) — the composition the bzip2
    // decoder exists for: `.xml.bz2` multistream blobs (even docs)
    // and plain dump XML (odd docs) both yield one row per <page>
    // with title/ns/id/redirect/text, entities unescaped
    "source_wiki_pages" -> ((s, dir) =>
      Multimodal.extractWikiPages(wikiFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("page_idx"))),

    // WIKIPEDIA MULTISTREAM INDEX (round 13) — the random-access map:
    // offset:page_id:title lines out of the bz2'd index file
    "source_wiki_index" -> ((s, dir) =>
      wikiIndexDf(s).orderBy(col("page_id"))),

    // ... AND THE RANDOM ACCESS ITSELF — the reason the multistream
    // layout exists: each doc wants ONE page (1 + doc%5); the parsed
    // index supplies that page's stream offset, the NEXT distinct
    // offset bounds the slice, substr carves the single bzip2 stream
    // out of the dump blob, and the page walk decodes ONLY that
    // stream — never the whole dump. At 100 TB this is the difference
    // between decompressing ~200 KB and ~20 GB per lookup.
    "source_wiki_lookup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val idx = wikiIndexDf(s)
      val ends = idx.select(col("off")).distinct()
        .withColumn("end", coalesce(
          lead(col("off"), 1).over(Window.orderBy("off")),
          lit(WikiMsDumpLen)))
      val idx2 = idx.join(ends, "off")
      val docs = t(s, dir, "documents").select(col("doc_id"),
        (lit(1L) + pmod(col("doc_id"), lit(5L))).as("target"))
      docs.join(broadcast(idx2), col("target") === col("page_id"))
        .select(col("doc_id"), col("target"), col("off"),
          explode(graft.plans.MediaExprs.wikiPagesCol(
            unhex(lit(WikiMsDumpHex)).substr(col("off") + 1L,
              col("end") - col("off")))).as("p"))
        .where(col("p.page_id") === col("target"))
        .select(col("doc_id"), col("p.page_id").as("page_id"),
          col("off").as("stream_off"), col("p.title").as("title"),
          col("p.text").as("text"))
        .orderBy(col("doc_id"))
    }),

    // PROTOBUF WIRE DECODE (round 13) — the other big Kafka value
    // format: the message is assembled IN PLAN from closed-form
    // single-byte varints (every doc-dependent value < 128, so the
    // wire bytes are pure arithmetic) plus an unknown field the
    // decoder must skip; every decoded field replays in the oracle
    "source_proto_decode" -> ((s, dir) => {
      import graft.operators.ProtoDecode._
      val d = col("doc_id")
      def b1(x: org.apache.spark.sql.Column) =
        lpad(hex(pmod(x, lit(256L))), 2, "0")
      val zz = { // zigzag of doc%7 - 3 stays under 128
        val v = d % 7L - 3L
        when(v >= 0L, v * 2L).otherwise(v * -2L - 1L)
      }
      // doubles rotate through a 4-entry LE-bits template
      val dblHex = array(Seq("000000000000f83f", "00000000000002c0",
        "0000000000000000", "0000000000806f40").map(lit): _*)
      val msgHex = concat(
        lit("08"), b1(d % 100L),                       // 1: varint
        lit("10"), b1(zz),                             // 2: sint
        lit("1a04") , hex(lit("ev-")), b1(lit(48L) + d % 5L), // 3: str
        lit("21"), element_at(dblHex,
          (pmod(d, lit(4L)) + 1L).cast("int")),        // 4: double
        lit("2a03"), b1(d % 3L), lit("07"), lit("64"), // 5: packed
        lit("a206") , lit("03abcdef"))                 // 100: unknown
      val spec = Spec(Seq(Field(1, "a", PVarint), Field(2, "b", PSint),
        Field(3, "s", PString), Field(4, "d", PDouble),
        Field(5, "xs", PPackedVarint)))
      t(s, dir, "documents")
        .select(d, graft.plans.ProtoExprs.protoDecodeCol(
          unhex(msgHex), spec).as("m"))
        .select(col("doc_id"), col("m.a").as("a"), col("m.b").as("b"),
          col("m.s").as("s"), col("m.d").as("d"),
          array_join(col("m.xs"), ",").as("xs"))
        .orderBy(col("doc_id"))
    }),

    // ... AND THE KAFKA→PROTO CAPSTONE — the reference's pipeline
    // shape with protobuf values: segment bytes → record walk →
    // Confluent proto envelope (magic 0 + schema id + message
    // indexes) → schema-driven decode → typed columns; batch variants
    // rotate record counts so the check is non-vacuous
    "source_kafka_proto" -> ((s, dir) => {
      import graft.operators.ProtoDecode._
      def ev(e: Int): Array[Byte] = Writer.confluent(321,
        Writer.vint(1, e.toLong) ++
          Writer.sint(2, e.toLong - 3L) ++
          Writer.str(3, Seq("view", "click", "purchase",
            "refund")(e % 4)) ++
          Writer.dbl(4, e * 2.5))
      val variants = (0 until 4).map { v =>
        graft.operators.KafkaSegment.buildBatchV2(500L,
          1600000000000L,
          (0 until 5 + v).map(e => (e.toString.getBytes, ev(e))),
          codec = 1)
      }
      val fixture = t(s, dir, "documents")
        .select(col("doc_id"), element_at(
          array(variants.map(lit): _*),
          (pmod(col("doc_id"), lit(4L)) + 1L).cast("int")).as("blob"))
      val spec = Spec(Seq(Field(1, "event_id", PVarint),
        Field(2, "delta", PSint), Field(3, "event_type", PString),
        Field(4, "value", PDouble)))
      val recs = Multimodal.extractKafkaRecords(fixture, "doc_id")
        .toDF()
      recs.select(col("doc_id"), col("offset"),
          graft.plans.ProtoExprs.protoDecodeCol(col("value"), spec,
            confluent = true).as("m"))
        .select(col("doc_id"), col("offset"),
          col("m.schema_id").as("schema_id"),
          col("m.event_id").as("event_id"), col("m.delta").as("delta"),
          col("m.event_type").as("event_type"),
          col("m.value").as("value"))
        .orderBy(col("doc_id"), col("offset"))
    }),

    // TAR.GZ / TAR.BZ2 (round 13) — the other two compressed-tarball
    // layouts, same shard contents and oracle as source_tar_xz: the
    // archive matrix (tar × gz/bz2/xz) closes
    "source_tar_gz" -> ((s, dir) =>
      Multimodal.extractTarGzEntries(
          tarTwinFixture(s, dir, TarGzHex), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("name"))),

    "source_tar_bz2" -> ((s, dir) =>
      Multimodal.extractTarBz2Entries(
          tarTwinFixture(s, dir, TarBz2Hex), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("name"))),

    // JSONL.GZ (round 13) — the commonest shipped text-corpus layout:
    // gzip member content → line split → JSON fields, all existing
    // machinery; the gzip layer is the closed-form STORED-deflate
    // fixture with a real in-plan CRC32
    "source_jsonl_gz" -> ((s, dir) => {
      val d = col("doc_id")
      val k = lit(3L) + d % 3L
      val payload = concat(array_join(transform(
        sequence(lit(0L), k - 1L), j => concat(
          lit("""{"line":"""), j,
          lit(""","text":"t-"""), d % 7L, lit("""-"""), j,
          lit(""""}"""))), "\n"), lit("\n"))
      // STORED-deflate gzip member with a REAL CRC32 (the gzipBlob
      // discipline): header | 01 | LEN | NLEN | payload | CRC | ISIZE
      def le16h(x: org.apache.spark.sql.Column) = concat(
        lpad(hex(pmod(x, lit(256L))), 2, "0"),
        lpad(hex(TF.intDivNonNeg(x, lit(256L))), 2, "0"))
      def le32h(x: org.apache.spark.sql.Column) = concat(
        le16h(pmod(x, lit(65536L))),
        le16h(TF.intDivNonNeg(x, lit(65536L))))
      val pl = length(payload).cast("long")
      val blob = unhex(concat(
        lit("1f8b0800" + "00000000" + "0003" + "01"),
        le16h(pl), le16h(lit(65535L) - pl), hex(payload),
        le32h(crc32(payload)), le32h(pl)))
      val fixture = t(s, dir, "documents")
        .select(d, blob.as("blob"))
      Multimodal.extractGzipMembers(fixture, "doc_id").toDF()
        .select(col("doc_id"),
          explode(filter(split(col("content"), "\n"),
            l => length(l) > 0)).as("line"))
        .select(col("doc_id"),
          get_json_object(col("line"), "$.line").cast("long")
            .as("line_no"),
          get_json_object(col("line"), "$.text").as("text"))
        .orderBy(col("doc_id"), col("line_no"))
    }),

    // DELTA LOG REPLAY (round 13) — the lakehouse transaction-log
    // snapshot computation (delta.io PROTOCOL.md): JSON actions
    // (add/remove per line, one file per version) replayed to the
    // live file set — last action per path wins (ordered by
    // version,seq packed into one int64: the argmax-by-join
    // discipline, never struct max_by), re-ADDED files resurrect.
    // The log is assembled in plan with closed-form sizes
    "source_delta_log" -> ((s, dir) => {
      val d = col("doc_id")
      def sz(i: Int) = lit(100L) + d % 50L + lit(i.toLong)
      def addLine(v: Int, q: Int, f: Int) = struct(lit(v).as("version"),
        lit(q).as("seq"), concat(lit(s"""{"add":{"path":"f$f.parquet","size":"""),
          sz(f), lit(""","dataChange":true}}""")).as("line"))
      def rmLine(v: Int, q: Int, f: Int) = struct(lit(v).as("version"),
        lit(q).as("seq"),
        lit(s"""{"remove":{"path":"f$f.parquet","dataChange":true}}""")
          .as("line"))
      val metaLine = struct(lit(0).as("version"), lit(0).as("seq"),
        lit("""{"metaData":{"id":"t1","partitionColumns":[]}}""")
          .as("line"))
      val log = array(metaLine,
        addLine(0, 1, 0), addLine(0, 2, 1), // v0: f0 f1
        addLine(1, 0, 2), rmLine(1, 1, 0),  // v1: +f2, -f0
        addLine(2, 0, 3), addLine(2, 1, 0), // v2: +f3, f0 RE-ADDED
        rmLine(3, 0, 3))                    // v3: -f3
      val lines = t(s, dir, "documents")
        .select(d, explode(log).as("a"))
        .select(col("doc_id"), col("a.version").as("version"),
          col("a.seq").as("seq"), col("a.line").as("line"))
      val acts = lines.select(col("doc_id"),
          get_json_object(col("line"), "$.add.path").as("add_path"),
          get_json_object(col("line"), "$.add.size").cast("long")
            .as("size"),
          get_json_object(col("line"), "$.remove.path").as("rm_path"),
          (col("version").cast("long") * 10L + col("seq")).as("ord"))
        .where(col("add_path").isNotNull || col("rm_path").isNotNull)
        .select(col("doc_id"),
          coalesce(col("add_path"), col("rm_path")).as("path"),
          col("add_path").isNotNull.as("is_add"), col("size"),
          col("ord"))
      val latest = acts.groupBy(col("doc_id"), col("path"))
        .agg(max(col("ord")).as("ord"))
      acts.join(latest, Seq("doc_id", "path", "ord"))
        .where(col("is_add"))
        .select(col("doc_id"), col("path"), col("size"),
          TF.intDivNonNeg(col("ord"), lit(10L)).as("since_version"))
        .orderBy(col("doc_id"), col("path"))
    }),

    // DELTA CHECKPOINT REPLAY (round 14) — the lakehouse snapshot the
    // way real readers compute it: _last_checkpoint → checkpoint
    // parquet seed (distributed columnar scan) → post-checkpoint JSON
    // tail → argmax-by-join reconcile. The fixture log is VACUUMED
    // (pre-checkpoint JSON deleted), so this row is green ONLY through
    // the checkpoint path
    "source_delta_checkpoint" -> ((s, dir) => {
      val path = Artifact.memoized("delta_ckpt", dir) { p =>
        graft.sources.DeltaSnapshot.writeFixture(s, p, vacuumed = true)
        p
      }
      graft.sources.DeltaSnapshot.liveFiles(s, path)
        .orderBy(col("path"))
    }),

    // ARROW IPC ROWS (round 13) — the interchange format read through
    // Arrow Java's stream reader (which Spark ships), validity bitmaps
    // honoured; templates rotate a two-batch and a one-batch REAL
    // pyarrow stream by doc
    "source_arrow_rows" -> ((s, dir) => {
      val fixture = t(s, dir, "documents")
        .select(col("doc_id"), unhex(element_at(
          array(ArrowStreamHex.map(lit): _*),
          (pmod(col("doc_id"), lit(2L)) + 1L).cast("int"))).as("blob"))
      fixture.select(col("doc_id"),
          explode(graft.plans.ArrowExprs.arrowRowsCol(col("blob"),
            Seq("id" -> "long", "score" -> "double",
              "name" -> "string", "flag" -> "bool"))).as("r"))
        .select(col("doc_id"), col("r.batch_idx").as("batch_idx"),
          col("r.row_idx").as("row_idx"), col("r.id").as("id"),
          col("r.score").as("score"), col("r.name").as("name"),
          col("r.flag").as("flag"))
        .orderBy(col("doc_id"), col("row_idx"))
    }),

    // ARROW DICTIONARIES + BODY COMPRESSION (round 14) — pyarrow's
    // default categorical layout: the library replays DictionaryBatches
    // (delta + replacement); indices resolve with validity over them;
    // per-buffer zstd (Arrow's libzstd codec) and LZ4-frame (the
    // golden-pinned Lz4Snappy) decompression, each under the 64 MiB cap
    "source_arrow_dict" -> ((s, dir) => {
      val fixture = t(s, dir, "documents")
        .select(col("doc_id"), unhex(element_at(
          array(ArrowDictHex.map(lit): _*),
          (pmod(col("doc_id"), lit(2L)) + 1L).cast("int"))).as("blob"))
      fixture.select(col("doc_id"),
          explode(graft.plans.ArrowExprs.arrowRowsCol(col("blob"),
            Seq("id" -> "long", "cat" -> "string",
              "flag" -> "bool"))).as("r"))
        .select(col("doc_id"), col("r.row_idx").as("row_idx"),
          col("r.id").as("id"), col("r.cat").as("cat"),
          col("r.flag").as("flag"))
        .orderBy(col("doc_id"), col("row_idx"))
    }),

    // ARROW LIST COLUMNS (round 14) — list<float32> embeddings +
    // list<int64> tokens read straight off the IPC stream (Arrow's list
    // vectors, float32 exact-widened), reduced to closed-form scalars
    // for the gate
    "source_arrow_list" -> ((s, dir) => {
      val fixture = t(s, dir, "documents")
        .select(col("doc_id"), unhex(element_at(
          array(ArrowListHex.map(lit): _*),
          (pmod(col("doc_id"), lit(2L)) + 1L).cast("int"))).as("blob"))
      fixture.select(col("doc_id"),
          explode(graft.plans.ArrowExprs.arrowRowsCol(col("blob"),
            Seq("vec_id" -> "long", "emb" -> "array<double>",
              "tokens" -> "array<long>"))).as("r"))
        .select(col("doc_id"), col("r.vec_id").as("vec_id"),
          when(col("r.emb").isNull, lit(null))
            .otherwise(size(col("r.emb"))).cast("long").as("n_emb"),
          aggregate(col("r.emb"), lit(0.0d), (a, x) => a + x)
            .as("emb_sum"),
          element_at(col("r.emb"), 1).as("emb0"),
          size(col("r.tokens")).cast("long").as("n_tokens"),
          aggregate(col("r.tokens"), lit(0L), (a, x) => a + x)
            .as("tok_sum"))
        .orderBy(col("doc_id"), col("vec_id"))
    }),

    // ARROW MAP COLUMNS (round 15) — map<utf8,int64> read as the
    // spec's own physical layout (list<struct<key,value>> — the entry
    // structs surface typed); one REAL pyarrow stream per rotation,
    // the zstd-compressed twin included. Reduced to closed-form
    // scalars for the gate: entry count (null map distinct from empty
    // map), joined keys, value sum
    "source_arrow_map" -> ((s, dir) => {
      val fixture = t(s, dir, "documents")
        .select(col("doc_id"), unhex(element_at(
          array(ArrowMapHex.map(lit): _*),
          (pmod(col("doc_id"), lit(2L)) + 1L).cast("int"))).as("blob"))
      fixture.select(col("doc_id"),
          explode(graft.plans.ArrowExprs.arrowRowsCol(col("blob"),
            Seq("id" -> "long",
              "props" -> "array<struct<key:string,value:long>>")))
            .as("r"))
        .select(col("doc_id"), col("r.id").as("id"),
          when(col("r.props").isNull, lit(null))
            .otherwise(size(col("r.props"))).cast("long")
            .as("n_entries"),
          concat_ws(",",
            transform(col("r.props"), e => e.getField("key")))
            .as("keys"),
          aggregate(col("r.props"), lit(0L),
            (a, e) => a + e.getField("value")).as("val_sum"))
        .orderBy(col("doc_id"), col("id"))
    }),

    // CBOR → JSON (round 13) — the binary-JSON payloads of COSE/CWT/
    // WebAuthn/IoT streams: a map assembled IN PLAN from closed-form
    // single-byte CBOR items (ints < 24, 1-byte text lengths), every
    // JSON character replayed by the oracle; a per-doc parse into
    // typed columns via Spark's own get_json_object closes the loop
    "source_cbor_decode" -> ((s, dir) => {
      val d = col("doc_id")
      def b1(x: org.apache.spark.sql.Column) =
        lpad(hex(pmod(x, lit(256L))), 2, "0")
      val blobHex = concat(
        lit("a5"),                         // map, 5 entries
        lit("62" + "6964"), b1(d % 24L),   // "id": uint < 24
        lit("64" + "74616773"),            // "tags":
        lit("82"), b1(d % 10L), lit("17"), //   [d%10, 23]
        lit("64" + "6e616d65"),            // "name":
        lit("62" + "64"), b1(lit(48L) + d % 5L), // "d<digit>"
        lit("62" + "6f6b"),                // "ok":
        when(d % 2L === 0L, lit("f5")).otherwise(lit("f4")),
        lit("64" + "6e6f7465"), lit("f6")) // "note": null
      t(s, dir, "documents")
        .select(d, graft.plans.MediaExprs.cborToJsonCol(unhex(blobHex))
          .as("json"))
        .select(col("doc_id"), col("json"),
          get_json_object(col("json"), "$.id").cast("long").as("id"),
          get_json_object(col("json"), "$.name").as("name"))
        .orderBy(col("doc_id"))
    }),

    // TFRECORD FRAMING (round 13) — the TensorFlow training-data
    // container read without TF: length + masked-CRC32C frames; the
    // doc%4==3 variant carries one corrupt data CRC, which must be
    // FLAGGED (content withheld) while the walk continues
    "source_tfrecord" -> ((s, dir) => {
      val variants = (0 until 4).map { v =>
        val payloads = (0 until 2 + v).map(e =>
          (s"rec-$v-$e-" + "y" * e).getBytes("UTF-8"))
        val blob = graft.operators.TfRecord.write(payloads)
        if (v == 3) // corrupt the LAST record's data CRC
          blob(blob.length - 1) = (blob(blob.length - 1) ^ 1).toByte
        blob
      }
      val fixture = t(s, dir, "documents")
        .select(col("doc_id"), element_at(
          array(variants.map(lit): _*),
          (pmod(col("doc_id"), lit(4L)) + 1L).cast("int")).as("blob"))
      Multimodal.extractTfRecords(fixture, "doc_id")
        .toDF()
        .select(col("doc_id"), col("rec_idx"), col("length"),
          col("data_crc_ok"),
          decode(col("payload"), "UTF-8").as("content"))
        .orderBy(col("doc_id"), col("rec_idx"))
    }),

    // ... AND tf.train.Example THROUGH THE NESTED PROTO DECODE — the
    // full TF ingest path (framing → Example → typed feature columns)
    // in one declarative plan, no TF dependency
    "source_tfrecord_example" -> ((s, dir) => {
      import graft.operators.ProtoDecode
      val variants = (0 until 4).map { v =>
        graft.operators.TfRecord.write((0 until 2 + v).map(e =>
          ProtoDecode.Writer.tfExample((s"text", s"doc-$v-$e"),
            ("label", Seq(e.toLong, v.toLong)),
            ("score", Seq(e * 0.5f, 1.25f)))))
      }
      val fixture = t(s, dir, "documents")
        .select(col("doc_id"), element_at(
          array(variants.map(lit): _*),
          (pmod(col("doc_id"), lit(4L)) + 1L).cast("int")).as("blob"))
      val recs = Multimodal.extractTfRecords(fixture, "doc_id").toDF()
      val ent = col("m.features.feature")
      recs.select(col("doc_id"), col("rec_idx"),
          graft.plans.ProtoExprs.protoDecodeCol(col("payload"),
            ProtoDecode.TfExample.example).as("m"))
        .select(col("doc_id"), col("rec_idx"),
          element_at(ent, 1).getField("key").as("k1"),
          element_at(ent, 1).getField("value").getField("bytes_list")
            .getField("value").getItem(0).as("text"),
          element_at(ent, 2).getField("key").as("k2"),
          element_at(ent, 2).getField("value").getField("int64_list")
            .getField("value").getItem(0).as("label0"),
          element_at(ent, 2).getField("value").getField("int64_list")
            .getField("value").getItem(1).as("label1"),
          element_at(ent, 3).getField("key").as("k3"),
          element_at(ent, 3).getField("value").getField("float_list")
            .getField("value").getItem(0).as("score0"),
          element_at(ent, 3).getField("value").getField("float_list")
            .getField("value").getItem(1).as("score1"))
        .orderBy(col("doc_id"), col("rec_idx"))
    }),

    // XZ MEMBER WALK (round 13) — the last major archive codec: REAL
    // liblzma streams (golden templates) through the full LZMA range
    // decoder + LZMA2 chunk layer with every container CRC32 and the
    // per-block CRC64 verified; even docs are multi-stream
    // BCJ x86 CHAINS (round 14) -- the filter x86-filtered binaries
    // ship under: branch-converter decode (Bra86 state machine) wired
    // through the member walk; delta+x86+lzma2 exercises reverse-order
    // chain application. Binary payload -> hex() comparison
    "source_xz_x86" -> ((s, dir) =>
      Multimodal.extractXzMembers(xzX86Fixture(s, dir), "doc_id")
        .toDF()
        .select(col("doc_id"), col("member_idx"), col("check"),
          col("n_blocks"), col("usize"),
          hex(col("content")).as("content_hex"),
          col("checks_ok"), col("compressed_len"))
        .orderBy(col("doc_id"), col("member_idx"))),

    "source_xz_members" -> ((s, dir) =>
      Multimodal.extractXzMembers(xzFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("member_idx"))),

    // TAR.XZ COMPOSITION (round 13) — the dataset-shipping archive
    // format end-to-end: XZ decompress then the TAR entry walk, two
    // real python-tarfile/liblzma shard layouts rotated by doc
    "source_tar_xz" -> ((s, dir) =>
      Multimodal.extractTarXzEntries(tarXzFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("name"))),

    // ID3v2 TEXT FRAMES (round 12) — title/artist/album off the tag
    // (the audio-catalog surface); frame sizes real, encodings latin-1
    "mm_id3_text" -> ((s, dir) =>
      Multimodal.extractId3Text(mp3Id3Fixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))),

    // EXIF ORIENTATION (round 12) — the rotate-before-train curation
    // bit: APP1 marker walk + TIFF IFD0 scan for tag 0x0112; plain
    // JPEGs (even docs) report no-EXIF/0 rather than erroring
    "mm_exif_orientation" -> ((s, dir) =>
      Multimodal.extractExifMeta(
        t(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 2 === 1, jpegExifBlob)
            .otherwise(jpegBlob).as("blob")), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))),

    // OGG CONTAINER METADATA (round 12) — the audio twin of the
    // image walks: codec id (OpusHead/vorbis), channels, rate, and
    // duration from the last page's granule position (48 kHz minus
    // pre-skip for Opus, nominal rate for Vorbis)
    "mm_ogg_meta" -> ((s, dir) =>
      Multimodal.extractOggMeta(oggFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))),

    // AVIF CONTAINER METADATA (round 12) — the ISOBMFF meta walk:
    // primary-item geometry via pitm→ipma→ispe (the alpha-first
    // fixture makes the first-ispe shortcut fail), item count,
    // animation from the avis brand; AV1 payload untouched
    "mm_avif_meta" -> ((s, dir) =>
      Multimodal.extractAvifMeta(avifFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))),

    // APNG/PNG CONTAINER METADATA (round 12) — IHDR geometry + the
    // acTL/fcTL animation walk (frame count, summed num/den delays,
    // play count), IDAT/fdAT skipped by length; even docs the REAL
    // single-frame PNG fixture, odd docs closed-form APNGs
    "mm_png_meta" -> ((s, dir) =>
      Multimodal.extractPngMeta(pngMetaFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))),

    // GIF CONTAINER METADATA (round 12) — frame count, summed GCE
    // delays, NETSCAPE loop walked without LZW decode; even docs are
    // the real single-frame fixture, odd docs closed-form animations
    "mm_gif_meta" -> ((s, dir) =>
      Multimodal.extractGifMeta(gifMetaFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))),

    // WEBP CONTAINER METADATA (round 12) — the no-decode curation
    // surface: VP8X flags + canvas, ANIM/ANMF frame walk (count,
    // summed durations, loop), still files fall back to the coded
    // stream's own header geometry; frame payloads skipped by size
    "mm_webp_meta" -> ((s, dir) =>
      Multimodal.extractWebpMeta(webpMetaFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))),

    // PROGRESSIVE JPEG (round 11) — the same whole-image profile over
    // the three-scan SOF2 fixture: spectral selection + successive
    // approximation reconstruct dc = (v << 1) | refinement-bit, and
    // the oracle replays that in integers
    "mm_jpeg_progressive" -> ((s, dir) =>
      Multimodal.extractJpegFeatures(jpegProgFixture(s, dir), "doc_id")
        .toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_px"),
          col("sum_r"), col("sum_g"), col("sum_b"),
          col("wsum_r"), col("wsum_g"), col("wsum_b"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy(col("doc_id"))),

    // MP3 frame-header walk (round 11) — the last unknown_format audit
    // branch at the honest-metadata level: ID3v2 skip, per-frame
    // version/layer/bitrate/samplerate tables, exact VBR mean bitrate
    "mm_mp3_meta" -> ((s, dir) =>
      Multimodal.extractMp3Meta(mp3Fixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))),

    // windowed FLAC energy features — the compressed-audio twin of
    // mm_audio_windows (identical window cut + partial-last-window
    // rule), over the same verbatim fixture
    "mm_flac_windows" -> ((s, dir) =>
      Multimodal.extractFlacWindows(flacFixture(s, dir), "doc_id",
          windowFrames = 25)
        .toDF()
        .orderBy(col("doc_id"), col("channel"), col("window_idx"))),

    // REAL FLAC sample decode (round 10): metadata walk, frame header
    // bit fields, subframe dispatch, sample extraction, CRC layout —
    // through the byte-aligned VERBATIM fixture whose sample bytes are
    // the same closed-form primitive as the WAV fixture (big-endian
    // pairs); rice/FIXED/LPC/stereo paths are pinned by encoder
    // round-trip specs (no JVM FLAC reader exists to cross-check)
    "mm_flac_samples" -> ((s, dir) =>
      Multimodal.extractFlacFeatures(flacFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("channel"))),

    // 8-bit PCM twin through the bit-depth-dispatching extractor: the
    // samples are OFFSET-BINARY (u8 − 128), a different sign convention
    // from 16-bit two's complement — the oracle centers the same byte
    // formula itself, so mixing up the conventions (or routing an 8-bit
    // payload down the 16-bit branch) diverges on every row
    "mm_audio_features8" -> ((s, dir) => {
      val ch = lit(1L) + col("doc_id") % 2L
      val nf = lit(50L) + col("doc_id") % 200L
      val blk = ch // 8-bit PCM: one byte per channel-sample
      val sr = lit(16000L)
      val dsz = nf * blk
      val pcm = unhex(array_join(
        transform(sequence(lit(0L), dsz - 1L),
          j => lpad(hex(pmod(col("doc_id") * 37L + j * 101L, lit(256L))),
            2, "0")),
        ""))
      val blob = concat(lit("RIFF".getBytes), le32b(lit(0L)),
        lit("WAVE".getBytes),
        lit("fmt ".getBytes), le32b(lit(16L)), le16b(lit(1L)), le16b(ch),
        le32b(sr), le32b(sr * blk), le16b(blk), le16b(lit(8L)),
        lit("data".getBytes), le32b(dsz), pcm)
      Multimodal.extractAudioFeaturesAnyDepth(
          t(s, dir, "documents").select(col("doc_id"), blob.as("blob")),
          "doc_id")
        .toDF()
        .orderBy(col("doc_id"), col("channel"))
    }),

    // windowed audio features (25-frame windows; last window partial):
    // the per-window oracle groups the SAME independently-recombined
    // samples by frame DIV 25 — window boundary or partial-window
    // mistakes diverge
    "mm_audio_windows" -> ((s, dir) =>
      Multimodal.extractAudioWindows(wavPcmFixture(s, dir), "doc_id",
          windowFrames = 25)
        .toDF()
        .orderBy(col("doc_id"), col("channel"), col("window_idx"))),

    // REAL image decode (raster twin of mm_audio_features): 24-bit BMPs
    // whose PIXEL-ARRAY FILE BYTES are the primitive — b(j) closed form
    // over every byte INCLUDING the row-padding bytes, so a decoder that
    // ignores the 4-byte stride reads shifted values and diverges; the
    // position-weighted checksums are computed over top-down image
    // coordinates, so the bottom-up row order can't hide in an
    // order-independent sum. Width varies 3..8 (stride padding 0..3
    // bytes), height 2..5.
    "mm_bmp_features" -> ((s, dir) =>
      Multimodal.extractImageFeatures(bmpFixture(s, dir), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))),

    // REAL compressed-image decode (round 9): PNGs whose IDAT inflates
    // through java.util.zip.Inflater and un-filters scanline by
    // scanline. The stored-deflate fixture keeps the raw PIXEL stream
    // closed-form (see pngScan), so this gets a FULL value oracle —
    // the oracle recomputes the feature sums from p(j) directly and
    // never touches filter math, while the engine must parse chunks,
    // inflate, verify adler32 and invert the None/Sub filters to
    // reach the same numbers
    "mm_png_features" -> ((s, dir) =>
      Multimodal.extractPngFeatures(pngFixture(s, dir), "doc_id")
        .toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_px"),
          col("sum_r"), col("sum_g"), col("sum_b"),
          col("wsum_r"), col("wsum_g"), col("wsum_b"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy(col("doc_id"))),

    // REAL baseline JPEG decode (round 10): the full general pipeline —
    // canonical Huffman, differential DC + EXTEND, dequant, IDCT —
    // driven through the DC-only one-byte-per-block fixture, whose
    // decode is closed-form integer arithmetic (the IDCT's DC path is
    // exact by construction); the general-AC and chroma paths are
    // pinned by the ImageIO cross-checks in MultimodalSpec
    "mm_jpeg_features" -> ((s, dir) =>
      Multimodal.extractJpegFeatures(jpegFixture(s, dir), "doc_id")
        .toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_px"),
          col("sum_r"), col("sum_g"), col("sum_b"),
          col("wsum_r"), col("wsum_g"), col("wsum_b"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy(col("doc_id"))),

    // REAL GIF decode (round 9): the general LZW decoder (variable
    // widths, dictionary, KwKwK) driven through the always-clear
    // stored-code fixture, so the oracle recomputes features straight
    // from palette[idx(j)] without an LZW implementation — while the
    // engine must parse blocks, bit-unpack codes and walk the table to
    // reach the same numbers (ImageIO cross-checks pin the compressed
    // path the fixture can't express)
    "mm_gif_features" -> ((s, dir) =>
      Multimodal.extractGifFeatures(gifFixture(s, dir), "doc_id")
        .toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_px"),
          col("sum_r"), col("sum_g"), col("sum_b"),
          col("wsum_r"), col("wsum_g"), col("wsum_b"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy(col("doc_id"))),

    // ViT-style patch grid (2x2 patches; right/bottom edge patches
    // partial with honest n_px): the oracle buckets the SAME
    // coordinate-mapped pixels by (x DIV 2, y DIV 2) — grid or edge
    // mistakes diverge
    "mm_bmp_patches" -> ((s, dir) =>
      Multimodal.extractImagePatches(bmpFixture(s, dir), "doc_id",
          patch = 2)
        .toDF()
        .orderBy(col("doc_id"), col("patch_y"), col("patch_x"))),

    // sentence-aligned chunks at a 200-char budget: chunk assignment is
    // the budget-quantized prefix sum over sentence lengths — the
    // oracle recomputes the identical window arithmetic
    "text_chunks_sentences" -> ((s, dir) =>
      Chunking.sentenceChunks(t(s, dir, "documents"), "text", "doc_id",
          budgetChars = 200)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // sentence segmentation stats: boundary rule [.!?]+, per-doc count /
    // longest / exact char totals, avg as one double division. The
    // sentence array is hoisted once (HOF-reuse discipline); zero-
    // sentence docs report zeros, not nulls
    "text_sentences" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TF.sentences(col("text")).as("sents"))
        .select(col("doc_id"),
          size(col("sents")).cast("long").as("n_sentences"),
          coalesce(array_max(transform(col("sents"),
            s_ => length(s_).cast("long"))), lit(0L)).as("max_chars"),
          coalesce(aggregate(col("sents"), lit(0L),
            (acc, s_) => acc + length(s_)), lit(0L)).as("total_chars"))
        .withColumn("avg_chars",
          when(col("n_sentences") === 0L, lit(0.0))
            .otherwise(col("total_chars").cast("double") /
              col("n_sentences").cast("double")))
        .orderBy(col("doc_id"))),

    // FLAC STREAMINFO: planted bit-packed fields (sample rate split
    // 8+8+4 across three bytes, channels/bps sharing a byte, a 36-bit
    // total straddling a nibble) recovered by the shifts-and-masks
    // parser; the alternating last-metadata-block flag exercises the
    // don't-care bit. Oracle recomputes the construction parameters.
    "mm_flac_meta" -> ((s, dir) => {
      def u8h(x: org.apache.spark.sql.Column) =
        lpad(hex(pmod(x, lit(256L))), 2, "0")
      val sr = lit(8000L) * (lit(1L) + col("doc_id") % 5L)
      val ch = lit(1L) + col("doc_id") % 2L
      val bps = lit(8L) + lit(4L) * (col("doc_id") % 3L)
      val total = lit(1000L) + col("doc_id") % 9000L
      val packed = concat(
        u8h((sr / 4096L).cast("long")),
        u8h((sr / 16L).cast("long")),
        u8h(pmod(sr, lit(16L)) * 16L + (ch - 1L) * 2L +
          ((bps - 1L) / 16L).cast("long")),
        u8h(pmod(bps - 1L, lit(16L)) * 16L +
          (total / 4294967296L).cast("long")),
        u8h((total / 16777216L).cast("long")),
        u8h((total / 65536L).cast("long")),
        u8h((total / 256L).cast("long")),
        u8h(total))
      val blob = concat(lit("fLaC".getBytes),
        unhex(concat(u8h(lit(128L) * (col("doc_id") % 2L)), lit("000022"))),
        unhex(repeat(lit("00"), 10)), // block/frame size fields
        unhex(packed),
        unhex(repeat(lit("00"), 16))) // md5
      t(s, dir, "documents")
        .select(col("doc_id"), blob.as("blob"))
        .select(col("doc_id"), Multimodal.flacMeta(col("blob")).as("m"))
        .select(col("doc_id"), col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.bits_per_sample").as("bits_per_sample"),
          col("m.total_samples").as("total_samples"),
          col("m.duration_ms").as("duration_ms"))
        .orderBy(col("doc_id"))
    }),

    // PERMISSIVE decode audit over a deliberately mixed + partly broken
    // corpus: thirds get WAV / BMP / (PNG ∪ raw text) payloads, and
    // every 15th doc's media payload is TRUNCATED mid-header — the
    // verdict relation (kind, ok, reason) must route each correctly,
    // never drop a row. PNG joined the real-decode branches in round 9:
    // doc%6==2 carries the stored-deflate fixture (truncated mid-IHDR
    // when doc%30==2 → undecodable_png).
    "mm_decode_audit" -> ((s, dir) => {
      // one projection, no joins: CaseWhen evaluates lazily per row, so
      // each doc constructs ONLY its own branch's fixture (each fixture
      // expression referenced exactly once — no cloning). The truncation
      // residues (15|doc → 3|doc, 15|doc−1 → 3|doc−1, 30|doc−2 →
      // 6|doc−2) stay inside their branch's kind.
      // conditional-length substr keeps each fixture expression at ONE
      // reference (a second reference would clone the whole construct)
      val keepAll = lit(1 << 30)
      // png scan hoisted CONDITIONALLY behind its own alias (null for
      // non-png rows — CaseWhen laziness keeps the cost off them):
      // pngAssemble references its scan three times (render, length,
      // adler fold), and the alias shares ONE evaluation — the same
      // discipline pngFixture applies (review finding, round 9)
      val blob = when(col("doc_id") % 3 === 0,
          wavPcmBlob.substr(lit(1),
            when(col("doc_id") % 15 === 0, lit(20)).otherwise(keepAll)))
        .when(col("doc_id") % 3 === 1,
          bmpBlob.substr(lit(1),
            when(col("doc_id") % 15 === 1, lit(40)).otherwise(keepAll)))
        .when(col("doc_id") % 6 === 2,
          pngAssemble(col("__png_scan"), lit(3L) + col("doc_id") % 4L,
            lit(2L) + col("doc_id") % 3L).substr(lit(1),
            when(col("doc_id") % 30 === 2, lit(30)).otherwise(keepAll)))
        .when(col("doc_id") % 6 === 5,
          jpegBlob.substr(lit(1),
            when(col("doc_id") % 30 === 5, lit(20)).otherwise(keepAll)))
        .otherwise(encode(col("text"), "utf-8"))
      Multimodal.extractDecodeAudit(
          t(s, dir, "documents").select(col("doc_id"), col("text"),
              when(col("doc_id") % 6 === 2, pngScan).as("__png_scan"))
            .select(col("doc_id"), blob.as("blob")), "doc_id")
        .toDF()
        .orderBy(col("doc_id"))
    }),

    // ---- link-graph analytics (round 8) ----
    // per-user event-transition graph: one window pass over the log,
    // aggregated to the node²-bounded weighted edge relation
    "graph_transitions" -> ((s, dir) =>
      graft.operators.Graph.transitionEdges(events(s, dir),
          actor = col("user_id"),
          node = get_json_object(col("props"), "$.k").cast("long"),
          order = Seq(col("ts"), col("event_id")))
        .orderBy(col("src"), col("dst"))),

    // deterministic integer fixed-point PageRank over that graph — the
    // domain/hub-authority quality signal of web-corpus curation; the
    // oracle unrolls the same 5 Jacobi iterations in exact int64 SQL
    "graph_pagerank" -> ((s, dir) =>
      graft.operators.Graph.pageRank(
        graft.operators.Graph.transitionEdges(events(s, dir),
          actor = col("user_id"),
          node = get_json_object(col("props"), "$.k").cast("long"),
          order = Seq(col("ts"), col("event_id"))),
        iters = 5)),

    // per-node degree/weight profile — the graph health check that
    // precedes authority scoring
    "graph_degrees" -> ((s, dir) =>
      graft.operators.Graph.degreeStats(
        graft.operators.Graph.transitionEdges(events(s, dir),
          actor = col("user_id"),
          node = get_json_object(col("props"), "$.k").cast("long"),
          order = Seq(col("ts"), col("event_id"))))),

    // personalized PageRank from trusted seeds {0,1,2,3} — authority
    // relative to a vetted set, the seed-and-harvest curation shape
    "graph_pagerank_seeded" -> ((s, dir) =>
      graft.operators.Graph.personalizedPageRank(
        graft.operators.Graph.transitionEdges(events(s, dir),
          actor = col("user_id"),
          node = get_json_object(col("props"), "$.k").cast("long"),
          order = Seq(col("ts"), col("event_id"))),
        seeds = Seq(0L, 1L, 2L, 3L), iters = 5)),

    // weakly-connected components of the STRONG transition subgraph
    // (w ≥ 5 — recurring transitions only): the community structure an
    // authority-weighted curation run clusters sources by; min-label
    // propagation, same kernel as the near-dup survivor selection
    "graph_components" -> ((s, dir) =>
      graft.operators.Graph.components(
        graft.operators.Graph.transitionEdges(events(s, dir),
          actor = col("user_id"),
          node = get_json_object(col("props"), "$.k").cast("long"),
          order = Seq(col("ts"), col("event_id")))
          .filter(col("w") >= 5))
        .orderBy(col("node"))),

    // ---- physical layout (round 8) ----
    // co-bucketed fact⋈fact join: both tables WRITTEN bucketed+sorted by
    // order key, joined with a merge hint — the plan-contract spec pins
    // ZERO exchanges and zero sorts on either join input; the oracle
    // checks the join itself. The values can't
    // tell a bucketed join from a plain one (that's the point — layout
    // must never change results), so correctness + plan contract
    // together are the operator's evidence.
    "layout_bucket_join" -> ((s, dir) => {
      // the catalog tables die with their SparkContext, the files do not:
      // the application id in the name rebuilds both for a new context
      val (lt, ot) = Artifact.memoized(
          s"bucket_${s.sparkContext.applicationId}", dir) { base =>
        val tag = new java.io.File(base).getName
          .replaceAll("[^A-Za-z0-9]", "_")
        (Layout.writeBucketed(t(s, dir, "lineitem"), s"${tag}_li",
            s"$base/lineitem", buckets = 8, key = "l_orderkey"),
          Layout.writeBucketed(t(s, dir, "orders"), s"${tag}_ord",
            s"$base/orders", buckets = 8, key = "o_orderkey"))
      }
      // one file per bucket (writeBucketed aligns write tasks to
      // buckets), so the scan may report its sortBy order and the merge
      // join skips BOTH sorts — gated behind this conf since Spark 3.0.
      // The flag is scoped to a child session (same SparkContext +
      // shared catalog, own SQLConf that starts as a copy of the
      // caller's, runtime settings included): the physical plan is only
      // built when the caller executes the returned DataFrame, so a
      // set-then-restore on the shared session would either leak the
      // legacy flag into every later query or silently lose the
      // sort-free plan — the child session does neither.
      val iso = org.apache.spark.sql.graftbridge.PlanBridge.childSession(s)
      iso.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering",
        "true")
      iso.table(lt).hint("merge")
        .join(iso.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    }),

    // Luhn-validated card detection: plant 16-digit dash-grouped spans
    // (deterministic digits — validity falls out of the check digit, so
    // ~10% of planted cards are Luhn-valid "leaks") and 12-digit decoys
    // below the length gate; report every candidate with its validity.
    // The oracle recomputes candidates + the full Luhn sum in SQL.
    "text_pii_luhn" -> ((s, dir) => {
      val cd = concat(lit("4"),
        lpad(pmod(col("doc_id") * 7919L, lit(100000L)).cast("string"),
          5, "0"),
        lpad(pmod(col("doc_id") * 104729L, lit(100000L)).cast("string"),
          5, "0"),
        lpad(pmod(col("doc_id") * 1299709L, lit(100000L)).cast("string"),
          5, "0"))
      val planted = concat(col("text"),
        when(col("doc_id") % 3 === 0, concat(lit(" card "),
          substring(col("cd"), 1, 4), lit("-"),
          substring(col("cd"), 5, 4), lit("-"),
          substring(col("cd"), 9, 4), lit("-"),
          substring(col("cd"), 13, 4))).otherwise(lit("")),
        when(col("doc_id") % 5 === 1, concat(lit(" ref "),
          lpad(pmod(col("doc_id") * 65537L, lit(1000000L)).cast("string"),
            6, "0"),
          lpad(pmod(col("doc_id") * 97L, lit(1000000L)).cast("string"),
            6, "0"))).otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), cd.as("cd"))
        .select(col("doc_id"), planted.as("s"))
        .select(col("doc_id"),
          explode(TF.cardCandidates(col("s"))).as("card"))
        .select(col("doc_id"), col("card"),
          TF.luhnValid(col("card")).as("luhn_valid"),
          length(col("card")).as("n_digits"))
        .orderBy(col("doc_id"), col("card"))
    }),

    // embedding-space benchmark contamination: corpus ∪ twins probed by
    // the broadcast bench set (vec_id < 10 originals); a corpus vector
    // cosine-matching a bench vector it isn't (by id) is a leaked copy —
    // the twin construction plants exactly one per bench item
    "contam_embedding" -> ((s, dir) => {
      val bench = broadcast(t(s, dir, "embeddings")
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("bid"), col("embedding").as("bv")))
      embUnion(s, dir)
        .select(col("vec_id"), col("embedding").as("v"))
        .join(bench, col("vec_id") =!= col("bid"))
        .filter(VF.cosine(col("v"), col("bv")) >= 0.95)
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_bench_hits"))
        .orderBy(col("vec_id"))
    }),

    // fixed-length LM sequence packing: docs concatenate in id order
    // into a global token stream cut every 512 tokens, docs SPLIT
    // across cuts; two-phase sharded prefix sum in the engine, plain
    // global window in the oracle — identical arithmetic
    "corpus_pack_fixed" -> ((s, dir) =>
      Chunking.fixedPack(t(s, dir, "documents"), "text", "doc_id",
        seqLen = 512)),

    // the same packing driven by the BYTE-LEVEL BPE subword counter
    // (round 15) — what a .bin shard's token budget actually means to
    // the model: the native kernel counts per doc, the oracle replays
    // the generated merge chain, and the identical two-phase prefix
    // sum cuts the stream every 512 SUBWORDS
    "corpus_pack_bytebpe" -> ((s, dir) =>
      Chunking.fixedPack(t(s, dir, "documents"), "text", "doc_id",
        seqLen = 512, tokenCount =
          c => TF.byteBpeStats(c).getField("n_subwords"))),

    // the loader-facing span index of the same packing (round 9): one
    // row per (sequence, contributing document) with in-sequence and
    // in-document offsets — spans tile [0, seqLen) in doc-id order; the
    // oracle recomputes the identical global-offset arithmetic
    "corpus_pack_spans" -> ((s, dir) =>
      Chunking.fixedPackSpans(t(s, dir, "documents"), "text", "doc_id",
        seqLen = 512)),

    // deterministic range-partitioned export: exact p25/p50/p75 length
    // boundaries (count-threshold rule, no sampling) assign each doc a
    // partition label row-locally; the written layout makes downstream
    // range predicates on length prune whole directories. The report —
    // per-partition counts + actual min/max — is read back from the
    // EXPORTED corpus, and the oracle recomputes boundaries, labels and
    // profile from the original table: any off-by-one in the threshold
    // rule or a row landing in the wrong partition breaks the match.
    // CORPUS EXPORT AS WARC.ZST (round 14) — the Common-Crawl-shaped
    // archive sink: one WARC resource record per doc, one COMPRESSED
    // zstd frame per record (ZstdEncode — CLI-verified RFC 8878 any
    // zstd tool reads), one seek-tabled shard per partition; read back
    // through the seekable split reader + the in-plan frame walk
    // (which routes compressed frames through the full decoder) and
    // parsed to identity
    "corpus_export_warczst" -> ((s, dir) => {
      val path = Artifact.memoized("warczst_export", dir) { p =>
        graft.sources.ZstdSeekable.writeWarcZstShards(
          t(s, dir, "documents")
            .select(col("doc_id"), col("text")), p)
        p
      }
      val frames = graft.sources.ZstdSeekable
        .readShardFrames(s, path, framesPerSplit = 64)
      val rec = frames.select(explode(
          graft.plans.MediaExprs.zstdFramesCol(col("blob"))).as("f"))
        .select(col("f.content").as("rec"))
      val pos = locate("\r\n\r\n", col("rec"))
      val after = col("rec").substr(pos + lit(4),
        length(col("rec")))
      rec.select(
          regexp_extract(col("rec"),
            "WARC-Target-URI: http://corpus\\.local/doc/(\\d+)", 1)
            .cast("long").as("doc_id"),
          after.substr(lit(1), length(after) - 4).as("text"))
        .orderBy(col("doc_id"))
    }),

    // WET-STYLE TEXT EXPORT (round 15) — the conversion-record layout
    // Common Crawl distributes for text-only consumers: the stripped
    // page text (the text_html_strip kernel over the HTML wrap)
    // re-archived as one `WARC-Type: conversion` record per doc, one
    // compressed frame per record, seek-tabled shards. Read back
    // through the frame walk; the record TYPE is parsed from the
    // header so a sink regression to `resource` turns the row red,
    // and the oracle replays the expected stripped text
    // WAT-STYLE METADATA EXPORT (round 16) — the third Common Crawl
    // artifact beside the page archive and the WET text: per-page
    // metadata JSON (uri, content sha-256, n_chars, lang) archived as
    // `WARC-Type: metadata` records through the same seekable sink;
    // every field parsed back from the re-read records and recomputed
    // closed-form by the oracle (DuckDB's own sha256 referees the
    // digest)
    "corpus_export_wat" -> ((s, dir) => {
      val path = Artifact.memoized("wat_export", dir) { p =>
        val wat = concat(
          lit("{\"uri\":\"http://corpus.local/doc/"), col("doc_id"),
          lit("\",\"digest\":\""), sha2(col("text"), 256),
          lit("\",\"n_chars\":"), col("n_chars"),
          lit(",\"lang\":\""), col("lang"), lit("\"}"))
        graft.sources.ZstdSeekable.writeWarcZstShards(
          t(s, dir, "documents")
            .select(col("doc_id"), wat.as("wat")), p,
          textCol = "wat", recType = "metadata")
        p
      }
      val frames = graft.sources.ZstdSeekable
        .readShardFrames(s, path, framesPerSplit = 64)
      val rec = frames.select(explode(
          graft.plans.MediaExprs.zstdFramesCol(col("blob"))).as("f"))
        .select(col("f.content").as("rec"))
      val pos = locate("\r\n\r\n", col("rec"))
      val after = col("rec").substr(pos + lit(4), length(col("rec")))
      rec.select(
          regexp_extract(col("rec"),
            "WARC-Target-URI: http://corpus\\.local/doc/(\\d+)", 1)
            .cast("long").as("doc_id"),
          regexp_extract(col("rec"), "WARC-Type: ([a-z]+)", 1)
            .as("rec_type"),
          after.substr(lit(1), length(after) - 4).as("payload"))
        .select(col("doc_id"), col("rec_type"),
          get_json_object(col("payload"), "$.digest").as("digest"),
          get_json_object(col("payload"), "$.n_chars").cast("long")
            .as("n_chars"),
          get_json_object(col("payload"), "$.lang").as("lang"))
        .orderBy(col("doc_id"))
    }),

    "corpus_export_wet" -> ((s, dir) => {
      val path = Artifact.memoized("wet_export", dir) { p =>
        val esc = replace(replace(col("text"), lit("&"), lit("&amp;")),
          lit("<"), lit("&lt;"))
        val html = concat(lit("<div class=\"doc\"><h1>"), col("source"),
          lit("</h1><p>"), esc, lit("</p><br/></div>"))
        graft.sources.ZstdSeekable.writeWarcZstShards(
          t(s, dir, "documents")
            .select(col("doc_id"), html.as("html"))
            .select(col("doc_id"), TF.stripMarkup(col("html"))
              .as("clean")), p,
          textCol = "clean", recType = "conversion")
        p
      }
      val frames = graft.sources.ZstdSeekable
        .readShardFrames(s, path, framesPerSplit = 64)
      val rec = frames.select(explode(
          graft.plans.MediaExprs.zstdFramesCol(col("blob"))).as("f"))
        .select(col("f.content").as("rec"))
      val pos = locate("\r\n\r\n", col("rec"))
      val after = col("rec").substr(pos + lit(4), length(col("rec")))
      rec.select(
          regexp_extract(col("rec"),
            "WARC-Target-URI: http://corpus\\.local/doc/(\\d+)", 1)
            .cast("long").as("doc_id"),
          regexp_extract(col("rec"), "WARC-Type: ([a-z]+)", 1)
            .as("rec_type"),
          after.substr(lit(1), length(after) - 4).as("clean"))
        .orderBy(col("doc_id"))
    }),

    // ... AND THE DICTIONARY-COMPRESSED LAYOUT (round 14) — the shape
    // Common Crawl actually publishes: a leading in-band 0x184D2A5D
    // skippable frame carries a raw-content dictionary (the WARC
    // header boilerplate), every record frame's matches reach into
    // that shared prefix window (cross-record redundancy a per-record
    // frame can't otherwise see). Read back per frame group with the
    // dict frame prepended per blob; the dict-aware scalar decompress
    // recovers each record
    "corpus_export_warczst_dict" -> ((s, dir) => {
      val path = Artifact.memoized("warczstd_export", dir) { p =>
        graft.sources.ZstdSeekable.writeWarcZstShards(
          t(s, dir, "documents")
            .select(col("doc_id"), col("text")), p,
          dict = graft.sources.ZstdSeekable.WarcDict)
        p
      }
      val frames = graft.sources.ZstdSeekable
        .readShardFrames(s, path, framesPerSplit = 64)
      val rec = frames.select(decode(graft.plans.MediaExprs
          .zstdDecompressCol(col("blob")), "UTF-8").as("rec"))
      val pos = locate("\r\n\r\n", col("rec"))
      val after = col("rec").substr(pos + lit(4),
        length(col("rec")))
      rec.select(
          regexp_extract(col("rec"),
            "WARC-Target-URI: http://corpus\\.local/doc/(\\d+)", 1)
            .cast("long").as("doc_id"),
          after.substr(lit(1), length(after) - 4).as("text"))
        .orderBy(col("doc_id"))
    }),

    // ... WITH A TRAINED DICTIONARY (round 14) — the full CC-style
    // pipeline: train a raw-content dictionary from the corpus's own
    // frequent grams (one scan + top-k; ZstdDictTrain), append the
    // WARC boilerplate (nearest offsets), export every record frame
    // against the shared window, read back through the seekable split
    // + dict-aware decompress to identity
    "corpus_export_warczst_trained" -> ((s, dir) => {
      val path = Artifact.memoized("warczstt_export", dir) { p =>
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val trained = graft.operators.ZstdDictTrain
          .trainRawDict(docs, "text", gram = 16, k = 256,
            maxBytes = 2048)
        graft.sources.ZstdSeekable.writeWarcZstShards(docs, p,
          dict = trained ++ graft.sources.ZstdSeekable.WarcDict)
        p
      }
      val frames = graft.sources.ZstdSeekable
        .readShardFrames(s, path, framesPerSplit = 64)
      val rec = frames.select(decode(graft.plans.MediaExprs
          .zstdDecompressCol(col("blob")), "UTF-8").as("rec"))
      val pos = locate("\r\n\r\n", col("rec"))
      val after = col("rec").substr(pos + lit(4),
        length(col("rec")))
      rec.select(
          regexp_extract(col("rec"),
            "WARC-Target-URI: http://corpus\\.local/doc/(\\d+)", 1)
            .cast("long").as("doc_id"),
          after.substr(lit(1), length(after) - 4).as("text"))
        .orderBy(col("doc_id"))
    }),

    // CORPUS EXPORT AS WARC.GZ (round 14) — the ORIGINAL Common Crawl
    // shard layout: one gzip member per WARC record (JDK
    // GZIPOutputStream — a real reference encoder), `.idx` sidecar
    // with member byte ranges (the CDX contract); read back via
    // positioned range reads per member group + the golden-pinned
    // gzip member walk, parsed to identity
    "corpus_export_warcgz" -> ((s, dir) => {
      val path = Artifact.memoized("warcgz_export", dir) { p =>
        graft.sources.WarcGz.writeWarcGzShards(
          t(s, dir, "documents")
            .select(col("doc_id"), col("text")), p)
        p
      }
      val members = graft.sources.WarcGz
        .readShardMembers(s, path, membersPerSplit = 64)
      val rec = members.select(graft.plans.MediaExprs
          .gzipMemberCol(col("blob")).getField("content").as("rec"))
      val pos = locate("\r\n\r\n", col("rec"))
      val after = col("rec").substr(pos + lit(4),
        length(col("rec")))
      rec.select(
          regexp_extract(col("rec"),
            "WARC-Target-URI: http://corpus\\.local/doc/(\\d+)", 1)
            .cast("long").as("doc_id"),
          after.substr(lit(1), length(after) - 4).as("text"))
        .orderBy(col("doc_id"))
    }),

    // CORPUS EXPORT AS ARROW IPC (round 14) — one .arrows stream per
    // partition (Spark's Catalyst → Arrow writer + Arrow Java's stream
    // writer, pyarrow-refereed in ArrowWriteSpec), read back through
    // the graft_arrow_rows expression to identity. The write half of
    // the round-13/14 Arrow reader: the GPU-loader interchange layout.
    "corpus_export_arrow" -> ((s, dir) => {
      val path = Artifact.memoized("arrow_export", dir) { p =>
        graft.sources.ArrowShards.writeArrowShards(
          t(s, dir, "documents")
            .select(col("doc_id"), col("text"), col("n_chars")), p,
          batchRows = 256)
        p
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.arrows")
        .load(path)
        .select(explode(graft.plans.ArrowExprs.arrowRowsCol(
          col("content"), Seq("doc_id" -> "long", "text" -> "string",
            "n_chars" -> "long"))).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"),
          col("r.n_chars").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ... the same export with the round-15 write-side features:
    // DICTIONARY-encoded utf8 (the low-cardinality `source` column
    // rides as int32 indices + a replacement DictionaryBatch whenever
    // a record batch adds values) and ZSTD body compression (the
    // spec's per-buffer framing, Arrow's libzstd codec) — read back
    // through the dict-aware reader to identity; pyarrow is the gated
    // referee (ArrowWriteSpec)
    "corpus_export_arrow_dict" -> ((s, dir) => {
      val path = Artifact.memoized("arrow_dict_export", dir) { p =>
        graft.sources.ArrowShards.writeArrowShards(
          t(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("text")), p,
          batchRows = 256, codec = "zstd", dictCols = Set("source"))
        p
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.arrows")
        .load(path)
        .select(explode(graft.plans.ArrowExprs.arrowRowsCol(
          col("content"), Seq("doc_id" -> "long", "source" -> "string",
            "text" -> "string"))).as("r"))
        .select(col("r.doc_id").as("doc_id"),
          col("r.source").as("source"), col("r.text").as("text"))
        .orderBy(col("doc_id"))
    }),

    // STRUCT columns through the writer (round 16): a struct column
    // with per-member child arrays, read back by the repo reader's
    // struct kind to identity; pyarrow is the gated referee
    // (ArrowWriteSpec)
    "corpus_export_arrow_struct" -> ((s, dir) => {
      val path = Artifact.memoized("arrow_struct_export", dir) { p =>
        graft.sources.ArrowShards.writeArrowShards(
          t(s, dir, "documents")
            .select(col("doc_id"),
              struct(col("source").as("source"),
                col("n_chars").as("n_chars")).as("meta")), p,
          batchRows = 256)
        p
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.arrows")
        .load(path)
        .select(explode(graft.plans.ArrowExprs.arrowRowsCol(
          col("content"), Seq("doc_id" -> "long",
            "meta" -> "struct<source:string,n_chars:long>"))).as("r"))
        .select(col("r.doc_id").as("doc_id"),
          col("r.meta.source").as("source"),
          col("r.meta.n_chars").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // MAP columns through the writer (round 16): the spec's
    // list<struct<key,value>> with non-nullable keys (entries in the
    // map's own order), lz4 bodies, exploded back to (doc_id, key,
    // value) scalars
    "corpus_export_arrow_map" -> ((s, dir) => {
      val path = Artifact.memoized("arrow_map_export", dir) { p =>
        graft.sources.ArrowShards.writeArrowShards(
          t(s, dir, "documents")
            .select(col("doc_id"),
              map(lit("lang"), col("lang"),
                lit("source"), col("source")).as("props")), p,
          batchRows = 256, codec = "lz4")
        p
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.arrows")
        .load(path)
        .select(explode(graft.plans.ArrowExprs.arrowRowsCol(
          col("content"), Seq("doc_id" -> "long",
            "props" -> "array<struct<key:string,value:string>>")))
          .as("r"))
        .select(col("r.doc_id").as("doc_id"),
          explode(col("r.props")).as("e"))
        .select(col("doc_id"), col("e.key").as("k"),
          col("e.value").as("v"))
        .orderBy(col("doc_id"), col("k"))
    }),

    // ... and the embedding table through the same hop: list<float32>
    // columns survive byte-exactly (the reader widens to double — an
    // exact map for every float32). Output is exploded to one scalar
    // row per vector element so the oracle harness compares plain
    // doubles (raw array cells are unhashable on the driver side).
    "corpus_export_arrow_emb" -> ((s, dir) => {
      val path = Artifact.memoized("arrow_emb_export", dir) { p =>
        graft.sources.ArrowShards.writeArrowShards(
          t(s, dir, "embeddings")
            .select(col("vec_id"), col("embedding"), col("label")), p,
          batchRows = 256)
        p
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.arrows")
        .load(path)
        .select(explode(graft.plans.ArrowExprs.arrowRowsCol(
          col("content"), Seq("vec_id" -> "long",
            "embedding" -> "array<double>", "label" -> "long"))).as("r"))
        .select(col("r.vec_id").as("vec_id"),
          posexplode(col("r.embedding")).as(Seq("p", "value")),
          col("r.label").as("label"))
        .select(col("vec_id"), col("p").cast("long").as("pos"),
          col("value"), col("label"))
        .orderBy(col("vec_id"), col("pos"))
    }),

    // CORPUS EXPORT AS TFRECORD (round 14) — one CRC-framed
    // tf.train.Example per doc (TensorFlow's native ingest layout),
    // one shard per partition; read back through the golden-pinned
    // framing walk + nested proto decode to identity
    "corpus_export_tfrecord" -> ((s, dir) => {
      val path = Artifact.memoized("tfrecord_export", dir) { p =>
        graft.sources.TfRecordShards.writeExampleShards(
          t(s, dir, "documents")
            .select(col("doc_id"), col("text"), col("n_chars")), p)
        p
      }
      val recs = graft.operators.Multimodal.extractTfRecords(
        s.read.format("binaryFile")
          .option("pathGlobFilter", "*.tfrecord").load(path)
          .select(monotonically_increasing_id().as("doc_id"),
            col("content").as("blob")), "doc_id").toDF()
      val ent = col("m.features.feature")
      recs.select(graft.plans.ProtoExprs.protoDecodeCol(col("payload"),
          graft.operators.ProtoDecode.TfExample.example).as("m"))
        .select(
          element_at(ent, 2).getField("value").getField("int64_list")
            .getField("value").getItem(0).as("doc_id"),
          decode(element_at(ent, 1).getField("value")
            .getField("bytes_list").getField("value").getItem(0),
            "UTF-8").as("text"),
          element_at(ent, 2).getField("value").getField("int64_list")
            .getField("value").getItem(1).as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "corpus_export_range" -> ((s, dir) => {
      val path = Artifact.memoized("range", dir) { p =>
        val docs = t(s, dir, "documents")
        val bs = Layout.rangeBoundaries(docs, "n_chars", Seq(25, 50, 75))
        Layout.writeRangePartitioned(docs, p, "n_chars", bs)
        p
      }
      s.read.parquet(path)
        .groupBy(col("part"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .select(col("part").cast("long").as("part"), col("n_docs"),
          col("min_chars"), col("max_chars"))
        .orderBy(col("part"))
    }),

    // schema evolution across corpus generations: even docs written at
    // schema v1 (no quality column), odd docs at v2 (adds quality);
    // mergeSchema read reconciles both generations into one relation
    // with v1 rows NULL in the evolved column — the standard data-lake
    // contract a 100 TB corpus accumulated over years depends on. The
    // oracle recomputes the per-source profile from the original table.
    "source_schema_evolution" -> ((s, dir) => {
      val base = Artifact.memoized("evolve", dir) { base =>
        val docs = t(s, dir, "documents")
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text"), col("source"))
          .write.mode("overwrite").parquet(s"$base/v1")
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text"), col("source"),
            col("n_chars").as("quality"))
          .write.mode("overwrite").parquet(s"$base/v2")
        base
      }
      s.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("quality").isNotNull, 1L).otherwise(0L))
            .as("n_evolved"),
          coalesce(sum(col("quality")), lit(0L)).as("total_quality"))
        .orderBy(col("source"))
    }),

    // small-file compaction round trip: documents fragmented into 40
    // KB-scale files (the streaming-ingest pathology), compacted via
    // shuffle-free coalesce to ~64 KiB targets; the oracle recomputes
    // the per-source counts/token totals/content checksum from the
    // ORIGINAL table — compaction must be a content identity. File
    // counts (the thing compaction changes) are spec-pinned.
    "corpus_compact" -> ((s, dir) => {
      val base = Artifact.memoized("compact", dir) { base =>
        t(s, dir, "documents").repartition(40)
          .write.mode("overwrite").parquet(s"$base/small")
        Layout.compact(s, s"$base/small", s"$base/compacted",
          targetBytes = 64L << 10)
        base
      }
      s.read.parquet(s"$base/compacted")
        .select(col("source"),
          size(TF.normTokens(col("text"))).as("n"),
          pmod(TF.fingerprintPoly(col("text")), lit(2147483648L))
            .as("fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n").cast("long")).as("total_tokens"),
          pmod(sum(col("fp")), lit(2199023255552L)).as("content_sum41"))
        .orderBy(col("source"))
    })
  )

  /** Shared SQL fragment: normalized tokens of `documents.text`
    * (lowercase, non-alnum → space, collapse, trim; '' → empty list) —
    * mirrors TextFunctions.normTokens. */
  private val NormToksSql =
    """SELECT doc_id, text,
      |  CASE WHEN norm = '' THEN []::VARCHAR[]
      |       ELSE string_split(norm, ' ') END AS toks
      |FROM (SELECT doc_id, text,
      |        trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
      |      FROM documents)""".stripMargin

  /** Shared CTE chain of the Gopher rule battery (text_gopher_rules /
    * text_gopher_summary): raw whitespace words + newline lines + the
    * normalized-token stream → per-rule counts → the named booleans.
    * Mirrors `QualityRules.gopherRules` with cross-multiplied integer
    * thresholds — no float compares anywhere. Ends with a `grules`
    * relation: (doc_id, n_words, n_lines, r_*, keep). */
  private val GopherCtesSql =
    s"""gtk AS ($NormToksSql),
       |gbase AS (
       |  SELECT doc_id, text, toks,
       |    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
       |      ELSE string_split_regex(trim(text), '[ \t\n\r]+') END AS words,
       |    string_split(text, chr(10)) AS lines
       |  FROM gtk),
       |gcnt AS (
       |  SELECT doc_id,
       |    len(words) AS n_words,
       |    len(lines) AS n_lines,
       |    COALESCE(list_sum(list_transform(words, w -> length(w))), 0)
       |      AS n_chars,
       |    len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))
       |      AS n_alpha,
       |    (length(text) - length(replace(text, '#', '')))
       |      + (length(text) - length(replace(text, '…', '')))
       |      + ((length(text) - length(replace(text, '...', ''))) // 3)
       |      AS n_sym,
       |    len(list_filter(lines,
       |      l -> substr(ltrim(l), 1, 1) IN ('•', '-', '*'))) AS n_bullet,
       |    len(list_filter(lines, l -> ends_with(rtrim(l), '…')
       |      OR ends_with(rtrim(l), '...'))) AS n_ell_lines,
       |    len(list_intersect(list_distinct(toks),
       |      ['the','a','an','be','is','to','of','and','that','have',
       |       'with'])) AS n_stop
       |  FROM gbase),
       |gbg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i + 1])) AS b
       |  FROM gtk WHERE len(toks) >= 2),
       |gbc AS (SELECT doc_id, b, COUNT(*) AS c FROM gbg GROUP BY doc_id, b),
       |gbs AS (SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_n
       |  FROM gbc GROUP BY doc_id),
       |grules AS (
       |  SELECT c.doc_id, c.n_words, c.n_lines,
       |    (c.n_words >= 20 AND c.n_words <= 5000) AS r_words,
       |    (c.n_words > 0 AND c.n_chars >= 3 * c.n_words
       |      AND c.n_chars <= 10 * c.n_words) AS r_mean_len,
       |    (10 * c.n_sym <= c.n_words) AS r_symbol,
       |    (10 * c.n_bullet <= 9 * c.n_lines) AS r_bullet,
       |    (10 * c.n_ell_lines <= 3 * c.n_lines) AS r_ellipsis,
       |    (5 * c.n_alpha >= 4 * c.n_words) AS r_alpha,
       |    (c.n_stop >= 2) AS r_stop,
       |    (b.n_bigrams IS NULL OR 5 * b.top_n <= b.n_bigrams) AS r_rep,
       |    ((c.n_words >= 20 AND c.n_words <= 5000)
       |      AND (c.n_words > 0 AND c.n_chars >= 3 * c.n_words
       |        AND c.n_chars <= 10 * c.n_words)
       |      AND (10 * c.n_sym <= c.n_words)
       |      AND (10 * c.n_bullet <= 9 * c.n_lines)
       |      AND (10 * c.n_ell_lines <= 3 * c.n_lines)
       |      AND (5 * c.n_alpha >= 4 * c.n_words)
       |      AND (c.n_stop >= 2)
       |      AND (b.n_bigrams IS NULL OR 5 * b.top_n <= b.n_bigrams))
       |      AS keep
       |  FROM gcnt c LEFT JOIN gbs b USING (doc_id))""".stripMargin

  /** Shared CTE chain of the substring-dedup family: twin union →
    * normalized tokens → 12-token windows (0-based starts) → df-guard
    * (window in 2..8 docs) → guarded window matches `hits(win, a, pa,
    * b, pb)`, a < b. Mirrors `Dedup.substringHits` with the window
    * STRING as the join key in place of the poly fingerprint. */
  private val SubstringHitsSql =
    """u AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text
      |  FROM documents),
      |tk AS (SELECT doc_id,
      |  CASE WHEN norm = '' THEN []::VARCHAR[]
      |       ELSE string_split(norm, ' ') END AS toks
      |  FROM (SELECT doc_id,
      |          trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
      |            AS norm
      |        FROM u)),
      |w AS (SELECT doc_id, i - 1 AS p,
      |    array_to_string(toks[i:i+11], ' ') AS win
      |  FROM (SELECT doc_id, toks,
      |          unnest(range(1, len(toks) - 10)) AS i
      |        FROM tk)),
      |guard AS (SELECT win FROM w GROUP BY win
      |  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 8),
      |g AS (SELECT w.doc_id, w.p, w.win FROM w JOIN guard USING (win)),
      |hits AS (SELECT l.win, l.doc_id AS a, l.p AS pa,
      |    r.doc_id AS b, r.p AS pb
      |  FROM g l JOIN g r USING (win) WHERE l.doc_id < r.doc_id)""".stripMargin

  /** Generated SQL for the full BPE training loop (8 chained stages):
    * stage i counts adjacent symbol pairs over the dictionary d(i-1)
    * (overlapping-adjacent, like the engine and Sennrich's reference),
    * picks the argmax into m(i) (count desc, pair), and rewrites the
    * dictionary into d(i) with the same boundary-safe replace the engine
    * applies. The learned pair reaches the replace via scalar
    * subqueries. */
  private val BpeTrainSql: String = {
    val n = 8
    def pairsOf(d: String) =
      s"""SELECT pr, CAST(SUM(freq) AS BIGINT) AS c
         |  FROM (SELECT freq, unnest(list_transform(range(1, len(syms)),
         |      i -> syms[i] || ' ' || syms[i + 1])) AS pr
         |    FROM (SELECT freq, list_filter(list_transform(
         |        string_split(sym, ';'), x -> trim(x)), x -> x <> '')
         |        AS syms FROM $d))
         |  GROUP BY pr""".stripMargin
    // every d/m CTE is MATERIALIZED: the stages chain d8 -> d7 -> ... ->
    // d0, and DuckDB inlines plain CTEs per reference — an un-hinted
    // chain re-expands the whole prefix at every stage (exponential
    // scans; actually fails with "too many open files" at 8 stages)
    val stages = (1 to n).map { i =>
      val prev = s"d${i - 1}"
      s"""p$i AS (${pairsOf(prev)}),
         |m$i AS MATERIALIZED (SELECT pr, c FROM p$i
         |  ORDER BY c DESC, pr LIMIT 1),
         |d$i AS MATERIALIZED (SELECT replace(sym,
         |    ' ' || split_part((SELECT pr FROM m$i), ' ', 1) || '; ' ||
         |    split_part((SELECT pr FROM m$i), ' ', 2) || ';',
         |    ' ' || replace((SELECT pr FROM m$i), ' ', '') || ';') AS sym,
         |    freq FROM $prev)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to n).map(i =>
      s"SELECT $i AS rank, pr AS pair, replace(pr, ' ', '') AS merged," +
        s" c AS freq FROM m$i").mkString("\n  UNION ALL ")
    s"""WITH tk AS ($NormToksSql),
       |wz AS (SELECT unnest(toks) AS word FROM tk),
       |wf AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM wz GROUP BY word),
       |d0 AS MATERIALIZED (SELECT
       |    regexp_replace(word, '([a-z0-9])', ' \\1;', 'g') AS sym, freq
       |  FROM wf),
       |$stages
       |$unions
       |ORDER BY rank""".stripMargin
  }

  /** SQL replace chain applying [[graft.functions.BpeTokenizer.Merges]]
    * in rank order over the boundary-safe symbol string `s` — generated
    * from the SAME Scala merge table the engine applies. */
  private val BpeChainSql: String =
    Bpe.Merges.foldLeft("s") { case (e, (from, to)) =>
      s"replace($e, '${Bpe.encodePattern(from)}', ' $to;')"
    }

  /** Word-3-shingle sets (mirrors ShingleHashes byChar=false, k=3:
    * distinct shingles; < k tokens → one whole-doc shingle; EMPTY text →
    * empty set like the kernel — without the explicit branch,
    * `array_to_string([], ' ')` is NULL in DuckDB and would add a
    * phantom element). */
  private val WordShinglesSql =
    s"""SELECT doc_id,
       |  CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
       |       WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |       ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |              i -> array_to_string(toks[i:i+2], ' '))) END AS s
       |FROM ($NormToksSql)""".stripMargin

  /** Char-5-gram sets of the normalized text (mirrors ShingleHashes
    * byChar=true, n=5; empty text → empty set like the kernel). */
  private val CharNgramsSql =
    """SELECT doc_id,
      |  CASE WHEN length(norm) = 0 THEN []::VARCHAR[]
      |       WHEN length(norm) < 5 THEN [norm]
      |       ELSE list_distinct(list_transform(range(1, length(norm) - 3),
      |              i -> norm[i:i+4])) END AS s
      |FROM (SELECT doc_id,
      |        trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
      |      FROM documents)""".stripMargin

  /** All-pairs exact Jaccard over per-doc shingle sets, thresholded, then
    * expanded to the doc∪twin union: a qualifying original pair (a,b)
    * appears as 4 union pairs with identical jaccard (twin text is
    * byte-identical), plus every doc pairs with its own twin at j = 1.0. */
  private def jaccardPairsOracle(shinglesSql: String, threshold: Double) =
    s"""WITH sh AS ($shinglesSql),
       |pj AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b,
       |    CASE WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) = 0
       |         THEN CAST(1.0 AS DOUBLE)
       |         ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |           CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
       |             AS DOUBLE) END AS j
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
       |qual AS (SELECT a, b, j FROM pj WHERE j >= $threshold)
       |SELECT a, b, j AS jaccard FROM (
       |  SELECT a, b, j FROM qual
       |  UNION ALL SELECT a, b + 1000000, j FROM qual
       |  UNION ALL SELECT b, a + 1000000, j FROM qual
       |  UNION ALL SELECT a + 1000000, b + 1000000, j FROM qual
       |  UNION ALL SELECT doc_id, doc_id + 1000000, 1.0 FROM documents
       |) ORDER BY a, b""".stripMargin

  /** Full IVF pipeline in DuckDB SQL — shared by the inline and the
    * written-index variants (identical semantics by construction), and
    * spliced into the recall-metric oracle. */
  private val IvfOracleSql =
    s"""WITH $IvfCtesSql
      |SELECT query_id, rank, neighbor_id FROM ivfr WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** The IVF chain's CTE body (ends at ranked probe results `ivfr`). */
  private lazy val IvfCtesSql =
    """cents AS (
      |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cent_vec
      |  FROM embeddings ORDER BY vec_id LIMIT 16),
      |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, embedding
      |  FROM embeddings),
      |assigned AS (
      |  SELECT vec_id AS neighbor_id, embedding AS c_vec, cent_id AS cell,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY list_distance(v, cent_vec), cent_id) AS rn
      |  FROM corp, cents),
      |cells AS (SELECT neighbor_id, c_vec, cell FROM assigned WHERE rn = 1),
      |probes AS (
      |  SELECT query_id, q_vec, cell FROM (
      |    SELECT vec_id AS query_id, embedding AS q_vec, cent_id AS cell,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id
      |        ORDER BY list_distance(v, cent_vec), cent_id) AS rn
      |    FROM corp, cents WHERE vec_id < 10)
      |  WHERE rn <= 4),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |    list_cosine_similarity(q_vec, c_vec) AS sim
      |  FROM probes JOIN cells USING (cell)
      |  WHERE neighbor_id <> query_id),
      |ivfr AS (SELECT query_id, neighbor_id,
      |  ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM scored)""".stripMargin

  /** Product-quantization chain's CTE body (ends at ranked rerank `pr2`)
    * — codebooks are the 16 smallest-id vectors sliced into 4 contiguous
    * 16-dim subspaces; assignment is per-subspace L2 argmin (ties by
    * code); the ADC coarse rank is the exact 1e-5 fixed-point integer
    * dot of the query against the codeword reconstruction (identical
    * `round(x·1e5)` arithmetic to the Spark plan); both stage cuts
    * break ties by neighbor id. Shared by sim_topk_pq and its recall
    * audit. */
  private val PqCtesSql =
    """pc AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    embedding AS e
      |  FROM embeddings),
      |pcb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cpos,
      |    v AS cv
      |  FROM pc ORDER BY vec_id LIMIT 16),
      |psub AS (SELECT CAST(mi AS BIGINT) AS mi FROM range(0, 4) t(mi)),
      |pasg AS (SELECT c.vec_id, s.mi, b.cpos,
      |    ROW_NUMBER() OVER (PARTITION BY c.vec_id, s.mi
      |      ORDER BY list_distance(c.v[s.mi*16+1 : s.mi*16+16],
      |        b.cv[s.mi*16+1 : s.mi*16+16]), b.cpos) AS rn
      |  FROM pc c CROSS JOIN psub s CROSS JOIN pcb b),
      |pcodes AS (SELECT vec_id, mi, cpos FROM pasg WHERE rn = 1),
      |pq AS (SELECT vec_id AS qid, v AS qv, e AS qe FROM pc
      |  WHERE vec_id < 10),
      |padc AS (SELECT q.qid, cd.vec_id AS neighbor_id,
      |    SUM(list_sum(list_transform(range(1, 17),
      |      j -> CAST(round(q.qv[cd.mi*16+j] * 100000) AS BIGINT) *
      |           CAST(round(b.cv[cd.mi*16+j] * 100000) AS BIGINT)))) AS sc
      |  FROM pq q JOIN pcodes cd ON cd.vec_id <> q.qid
      |  JOIN pcb b ON b.cpos = cd.cpos
      |  GROUP BY q.qid, cd.vec_id),
      |pr1 AS (SELECT qid, neighbor_id, ROW_NUMBER() OVER (PARTITION BY qid
      |    ORDER BY sc DESC, neighbor_id) AS rk FROM padc),
      |pcand AS (SELECT qid, neighbor_id FROM pr1 WHERE rk <= 20),
      |ps2 AS (SELECT pcand.qid AS query_id, pcand.neighbor_id,
      |    list_cosine_similarity(q.qe, c.e) AS sim
      |  FROM pcand JOIN pq q ON q.qid = pcand.qid
      |  JOIN pc c ON c.vec_id = pcand.neighbor_id),
      |pr2 AS (SELECT query_id, neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM ps2)""".stripMargin

  /** TRAINED-codebook PQ chain (ends at ranked rerank `tr2`): the
    * init-codebook assignment feeds per-(subspace, codeword, position)
    * QUANTIZED means (`sum(round(x·1e10)) / count / 1e10` — the
    * refineCentroids fixed-point formula, ivf_kmeans_refine precedent),
    * emptied codewords keep their init vector, refined codewords
    * reassemble into LISTS so assignment and ADC reuse the exact
    * list-sequential arithmetic of the untrained chain. */
  private lazy val PqTrainedCtesSql =
    """tc AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    embedding AS e
      |  FROM embeddings),
      |tcb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cpos,
      |    v AS cv
      |  FROM tc ORDER BY vec_id LIMIT 16),
      |tsub AS (SELECT CAST(mi AS BIGINT) AS mi FROM range(0, 4) t(mi)),
      |tpos AS (SELECT CAST(pos AS BIGINT) AS pos FROM range(0, 16) t(pos)),
      |tasg0 AS (SELECT c.vec_id, s.mi, b.cpos,
      |    ROW_NUMBER() OVER (PARTITION BY c.vec_id, s.mi
      |      ORDER BY list_distance(c.v[s.mi*16+1 : s.mi*16+16],
      |        b.cv[s.mi*16+1 : s.mi*16+16]), b.cpos) AS rn
      |  FROM tc c CROSS JOIN tsub s CROSS JOIN tcb b),
      |tcell0 AS (SELECT vec_id, mi, cpos FROM tasg0 WHERE rn = 1),
      |tmean AS (SELECT g.mi, g.cpos, p.pos,
      |    CAST(SUM(CAST(round(c.v[g.mi*16 + p.pos + 1] * 1e10)
      |      AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e10
      |      AS mean
      |  FROM tcell0 g JOIN tc c ON c.vec_id = g.vec_id
      |  CROSS JOIN tpos p
      |  GROUP BY g.mi, g.cpos, p.pos),
      |tinit AS (SELECT s.mi, b.cpos, p.pos,
      |    b.cv[s.mi*16 + p.pos + 1] AS comp
      |  FROM tcb b CROSS JOIN tsub s CROSS JOIN tpos p),
      |trf AS (SELECT i.mi, i.cpos,
      |    list(COALESCE(m.mean, i.comp) ORDER BY i.pos) AS cvec
      |  FROM tinit i LEFT JOIN tmean m
      |    ON m.mi = i.mi AND m.cpos = i.cpos AND m.pos = i.pos
      |  GROUP BY i.mi, i.cpos),
      |tasg AS (SELECT c.vec_id, f.mi, f.cpos,
      |    ROW_NUMBER() OVER (PARTITION BY c.vec_id, f.mi
      |      ORDER BY list_distance(c.v[f.mi*16+1 : f.mi*16+16], f.cvec),
      |        f.cpos) AS rn
      |  FROM tc c JOIN trf f ON TRUE),
      |tcodes AS (SELECT vec_id, mi, cpos FROM tasg WHERE rn = 1),
      |tq AS (SELECT vec_id AS qid, v AS qv, e AS qe FROM tc
      |  WHERE vec_id < 10),
      |tadc AS (SELECT q.qid, cd.vec_id AS neighbor_id,
      |    SUM(list_sum(list_transform(range(1, 17),
      |      j -> CAST(round(q.qv[cd.mi*16+j] * 100000) AS BIGINT) *
      |           CAST(round(f.cvec[j] * 100000) AS BIGINT)))) AS sc
      |  FROM tq q JOIN tcodes cd ON cd.vec_id <> q.qid
      |  JOIN trf f ON f.mi = cd.mi AND f.cpos = cd.cpos
      |  GROUP BY q.qid, cd.vec_id),
      |tr1 AS (SELECT qid, neighbor_id, ROW_NUMBER() OVER (
      |    PARTITION BY qid ORDER BY sc DESC, neighbor_id) AS rk
      |  FROM tadc),
      |tcand AS (SELECT qid, neighbor_id FROM tr1 WHERE rk <= 20),
      |ts2 AS (SELECT tcand.qid AS query_id, tcand.neighbor_id,
      |    list_cosine_similarity(q.qe, c.e) AS sim
      |  FROM tcand JOIN tq q ON q.qid = tcand.qid
      |  JOIN tc c ON c.vec_id = tcand.neighbor_id),
      |tr2 AS (SELECT query_id, neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM ts2)""".stripMargin

  /** IVF-PQ chain's CTE body (ends at ranked rerank `vr2`) — the full
    * Faiss-style composition recomputed in SQL: smallest-16-id coarse
    * centroids, L2-argmin cell assignment (ties by centroid id),
    * per-vector RESIDUAL `v − centroid(cell)`, residual PQ codebooks
    * (residuals of the 16 smallest-id vectors, sliced into 4 contiguous
    * 16-dim subspaces) refined by ONE Lloyd pass per subspace (the
    * PqTrainedCtesSql pattern over residuals: quantized means,
    * empty-codeword carryover — training is load-bearing for the
    * composition, see `Similarity.ivfPqTopK`), per-subspace L2 code
    * assignment (ties by code), 4-probe routing, exact-int64 ADC
    * `〈q,cent〉 + 〈q,recon〉` over `round(x·1e5)` components,
    * k·overfetch cut, exact-cosine rerank — every cut tie-broken by id,
    * mirroring `Similarity.ivfPqTopK` term for term. NOTE lazy val:
    * interpolated by the oracles map. */
  private lazy val IvfPqCtesSql =
    """vpc AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    embedding AS e
      |  FROM embeddings),
      |vcents AS (SELECT vec_id AS cent_id,
      |    CAST(embedding AS DOUBLE[]) AS cent_vec
      |  FROM embeddings ORDER BY vec_id LIMIT 16),
      |vasg AS (SELECT c.vec_id, c.v, c.e, t.cent_id AS cell, t.cent_vec,
      |    ROW_NUMBER() OVER (PARTITION BY c.vec_id
      |      ORDER BY list_distance(c.v, t.cent_vec), t.cent_id) AS rn
      |  FROM vpc c, vcents t),
      |vres AS (SELECT vec_id, v, e, cell,
      |    list_transform(range(1, len(v) + 1), j -> v[j] - cent_vec[j])
      |      AS r
      |  FROM vasg WHERE rn = 1),
      |vcb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cpos,
      |    r AS cv
      |  FROM vres ORDER BY vec_id LIMIT 16),
      |vsub AS (SELECT CAST(mi AS BIGINT) AS mi FROM range(0, 4) t(mi)),
      |vpos AS (SELECT CAST(pos AS BIGINT) AS pos FROM range(0, 16) t(pos)),
      |vasg0 AS (SELECT c.vec_id, s.mi, b.cpos,
      |    ROW_NUMBER() OVER (PARTITION BY c.vec_id, s.mi
      |      ORDER BY list_distance(c.r[s.mi*16+1 : s.mi*16+16],
      |        b.cv[s.mi*16+1 : s.mi*16+16]), b.cpos) AS rn
      |  FROM vres c CROSS JOIN vsub s CROSS JOIN vcb b),
      |vcell0 AS (SELECT vec_id, mi, cpos FROM vasg0 WHERE rn = 1),
      |vmean AS (SELECT g.mi, g.cpos, p.pos,
      |    CAST(SUM(CAST(round(c.r[g.mi*16 + p.pos + 1] * 1e10)
      |      AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e10
      |      AS mean
      |  FROM vcell0 g JOIN vres c ON c.vec_id = g.vec_id
      |  CROSS JOIN vpos p
      |  GROUP BY g.mi, g.cpos, p.pos),
      |vinit AS (SELECT s.mi, b.cpos, p.pos,
      |    b.cv[s.mi*16 + p.pos + 1] AS comp
      |  FROM vcb b CROSS JOIN vsub s CROSS JOIN vpos p),
      |vrf AS (SELECT i.mi, i.cpos,
      |    list(COALESCE(m.mean, i.comp) ORDER BY i.pos) AS cvec
      |  FROM vinit i LEFT JOIN vmean m
      |    ON m.mi = i.mi AND m.cpos = i.cpos AND m.pos = i.pos
      |  GROUP BY i.mi, i.cpos),
      |vpasg AS (SELECT c.vec_id, f.mi, f.cpos,
      |    ROW_NUMBER() OVER (PARTITION BY c.vec_id, f.mi
      |      ORDER BY list_distance(c.r[f.mi*16+1 : f.mi*16+16], f.cvec),
      |        f.cpos) AS rn
      |  FROM vres c JOIN vrf f ON TRUE),
      |vcodes AS (SELECT vec_id, mi, cpos FROM vpasg WHERE rn = 1),
      |vqasg AS (SELECT c.vec_id AS qid, c.v AS qv, c.e AS qe,
      |    t.cent_id AS cell, t.cent_vec,
      |    ROW_NUMBER() OVER (PARTITION BY c.vec_id
      |      ORDER BY list_distance(c.v, t.cent_vec), t.cent_id) AS rn
      |  FROM vpc c, vcents t WHERE c.vec_id < 10),
      |vprobes AS (SELECT qid, qv, cell,
      |    list_sum(list_transform(range(1, len(qv) + 1),
      |      j -> CAST(round(qv[j] * 100000) AS BIGINT) *
      |           CAST(round(cent_vec[j] * 100000) AS BIGINT))) AS cent_dot
      |  FROM vqasg WHERE rn <= 4),
      |vadc AS (SELECT p.qid, r.vec_id AS neighbor_id,
      |    p.cent_dot + SUM(list_sum(list_transform(range(1, 17),
      |      j -> CAST(round(p.qv[cd.mi*16+j] * 100000) AS BIGINT) *
      |           CAST(round(f.cvec[j] * 100000) AS BIGINT)))) AS sc
      |  FROM vprobes p
      |  JOIN vres r ON r.cell = p.cell AND r.vec_id <> p.qid
      |  JOIN vcodes cd ON cd.vec_id = r.vec_id
      |  JOIN vrf f ON f.mi = cd.mi AND f.cpos = cd.cpos
      |  GROUP BY p.qid, r.vec_id, p.cent_dot),
      |vr1 AS (SELECT qid, neighbor_id, ROW_NUMBER() OVER (
      |    PARTITION BY qid ORDER BY sc DESC, neighbor_id) AS rk
      |  FROM vadc),
      |vcand AS (SELECT qid, neighbor_id FROM vr1 WHERE rk <= 20),
      |vq AS (SELECT vec_id AS qid, e AS qe FROM vpc WHERE vec_id < 10),
      |vs2 AS (SELECT vcand.qid AS query_id, vcand.neighbor_id,
      |    list_cosine_similarity(q.qe, c.e) AS sim
      |  FROM vcand JOIN vq q ON q.qid = vcand.qid
      |  JOIN vpc c ON c.vec_id = vcand.neighbor_id),
      |vr2 AS (SELECT query_id, neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM vs2)""".stripMargin

  /** Dominant-direction power-iteration chain (ends at `ddir`
    * (pos, v) — the sign-fixed 1e6-scaled direction after TWO
    * iterations; `dex` (vec_id, pos, x) stays visible for the
    * deprojection audit). Every division is sign-symmetric TRUNCATION
    * (never bare `//` on a negative — floor-vs-truncate differs across
    * engines); HUGEINT everywhere a sum crosses int64. Mirrors
    * `Embeddings.dominantDirection` step for step. */
  /** TWO-iteration power-iteration chain over an (vec_id, pos, x) CTE,
    * all CTE names prefixed `pfx` and ending at `${pfx}dir` (pos, v) —
    * parameterized so emb_top_dirs can replay the SAME chain per
    * deflation level. Arithmetic identical to the round-9 inline form:
    * sign-symmetric truncation everywhere, HUGEINT past int64.
    *
    * Every CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    * reference, and STACKING two of these chains (each referencing its
    * predecessors several times) re-evaluates the upstream chain
    * multiplicatively — the un-hinted two-level emb_top_dirs oracle ran
    * >25 min where the materialized form takes 0.1 s. Results are
    * identical; measured on DuckDB 1.0.0. */
  private def dirChainSql(pfx: String, inCte: String): String =
    s"""${pfx}ms AS MATERIALIZED (SELECT pos, SUM(CAST(x AS HUGEINT)) AS s,
      |    CAST(COUNT(*) AS HUGEINT) AS n
      |  FROM $inCte GROUP BY pos),
      |${pfx}mn AS MATERIALIZED (SELECT pos, CASE WHEN s < 0 THEN -((-s) // n)
      |    ELSE s // n END AS m
      |  FROM ${pfx}ms),
      |${pfx}cx AS MATERIALIZED (SELECT e.vec_id, e.pos, e.x - mn.m AS c
      |  FROM $inCte e JOIN ${pfx}mn mn ON mn.pos = e.pos),
      |${pfx}t1 AS MATERIALIZED (SELECT vec_id, SUM(CAST(c AS HUGEINT) * 1000000) AS t
      |  FROM ${pfx}cx GROUP BY vec_id),
      |${pfx}ts1 AS MATERIALIZED (SELECT vec_id, CASE WHEN t < 0 THEN -((-t) // 1000000)
      |    ELSE t // 1000000 END AS ts
      |  FROM ${pfx}t1),
      |${pfx}u1 AS MATERIALIZED (SELECT pos, SUM(CAST(ts AS HUGEINT) * c) AS u
      |  FROM ${pfx}ts1 JOIN ${pfx}cx USING (vec_id) GROUP BY pos),
      |${pfx}m1 AS MATERIALIZED (SELECT MAX(ABS(u)) AS mx FROM ${pfx}u1),
      |${pfx}v1 AS MATERIALIZED (SELECT pos, CASE WHEN u < 0
      |      THEN -(((-u) * 1000000) // mx)
      |      ELSE (u * 1000000) // mx END AS vs
      |  FROM ${pfx}u1 CROSS JOIN ${pfx}m1),
      |${pfx}l1 AS MATERIALIZED (SELECT vs AS lv FROM ${pfx}v1
      |  ORDER BY ABS(vs) DESC, pos LIMIT 1),
      |${pfx}w1 AS MATERIALIZED (SELECT pos, CASE WHEN (SELECT lv FROM ${pfx}l1) < 0
      |    THEN -vs ELSE vs END AS v
      |  FROM ${pfx}v1),
      |${pfx}t2 AS MATERIALIZED (SELECT c.vec_id, SUM(CAST(c.c AS HUGEINT) * w.v) AS t
      |  FROM ${pfx}cx c JOIN ${pfx}w1 w ON w.pos = c.pos
      |  GROUP BY c.vec_id),
      |${pfx}ts2 AS MATERIALIZED (SELECT vec_id, CASE WHEN t < 0 THEN -((-t) // 1000000)
      |    ELSE t // 1000000 END AS ts
      |  FROM ${pfx}t2),
      |${pfx}u2 AS MATERIALIZED (SELECT pos, SUM(CAST(ts AS HUGEINT) * c) AS u
      |  FROM ${pfx}ts2 JOIN ${pfx}cx USING (vec_id) GROUP BY pos),
      |${pfx}m2 AS MATERIALIZED (SELECT MAX(ABS(u)) AS mx FROM ${pfx}u2),
      |${pfx}v2 AS MATERIALIZED (SELECT pos, CASE WHEN u < 0
      |      THEN -(((-u) * 1000000) // mx)
      |      ELSE (u * 1000000) // mx END AS vs
      |  FROM ${pfx}u2 CROSS JOIN ${pfx}m2),
      |${pfx}l2 AS MATERIALIZED (SELECT vs AS lv FROM ${pfx}v2
      |  ORDER BY ABS(vs) DESC, pos LIMIT 1),
      |${pfx}dir AS MATERIALIZED (SELECT pos,
      |    CASE WHEN (SELECT lv FROM ${pfx}l2) < 0 THEN -vs ELSE vs END AS v
      |  FROM ${pfx}v2)""".stripMargin

  /** Deflation of `$inEx` (vec_id, pos, x) by direction `$dirCte`
    * (pos, v) → `${pfx}ex` with the projection removed —
    * removeDominant's exact truncated-division arithmetic. */
  private def deflateChainSql(pfx: String, inEx: String,
      dirCte: String): String =
    s"""${pfx}dd AS MATERIALIZED (SELECT GREATEST(SUM(v * v) // 1000000, 1) AS dd
      |  FROM $dirCte),
      |${pfx}t AS MATERIALIZED (SELECT e.vec_id, SUM(CAST(e.x AS HUGEINT) * w.v) AS t
      |  FROM $inEx e JOIN $dirCte w ON w.pos = e.pos GROUP BY e.vec_id),
      |${pfx}c AS MATERIALIZED (SELECT vec_id, CASE WHEN t < 0 THEN -((-t) // dd)
      |    ELSE t // dd END AS coeff
      |  FROM ${pfx}t CROSS JOIN ${pfx}dd),
      |${pfx}ex AS MATERIALIZED (SELECT e.vec_id, e.pos,
      |    e.x - (CASE WHEN c.coeff * w.v < 0
      |      THEN -((-(c.coeff * w.v)) // 1000000)
      |      ELSE (c.coeff * w.v) // 1000000 END) AS x
      |  FROM $inEx e JOIN $dirCte w ON w.pos = e.pos
      |  JOIN ${pfx}c c ON c.vec_id = e.vec_id)""".stripMargin

  private lazy val DominantDirCtesSql =
    s"""deq AS MATERIALIZED (SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |dpos AS MATERIALIZED (SELECT CAST(p AS BIGINT) AS pos FROM range(0, 64) t(p)),
      |dex AS MATERIALIZED (SELECT vec_id, pos, qv[pos + 1] AS x
      |  FROM deq CROSS JOIN dpos),
      |${dirChainSql("d", "dex")}""".stripMargin

  private lazy val IvfPqOracleSql =
    s"""WITH $IvfPqCtesSql
      |SELECT query_id, rank, neighbor_id FROM vr2 WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Brute-force cosine chain's CTE body (ends at ranked results
    * `bruter`) — shared by the sim_topk_brute oracle and the recall
    * metric, so the metric can never desync from the query it measures. */
  private val BruteCtesSql =
    """bq AS (SELECT vec_id AS qid, embedding AS qv
      |  FROM embeddings WHERE vec_id < 10),
      |bsc AS (SELECT qid, vec_id AS neighbor_id,
      |  list_cosine_similarity(qv, embedding) AS sim
      |  FROM bq, embeddings WHERE vec_id <> qid),
      |bruter AS (SELECT qid AS query_id, neighbor_id,
      |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id)
      |    AS rank
      |  FROM bsc)""".stripMargin

  /** Lexical more-like-this chain (ends at ranked results `mltr`) —
    * mirrors `Retrieval.moreLikeThis` over the `doc_id < 10` query set:
    * shared-term integer fixed-point overlap `Σ qtf·tf·N·1e6 // df`
    * (non-negative ⇒ `//` ≡ Spark DIV), ties by candidate id. Shared by
    * the sim_mlt_lexical oracle and the hybrid-RRF fuse so the fusion
    * can never desync from the leg it consumes. */
  private lazy val MltCtesSql =
    s"""tk AS ($NormToksSql),
      |tok AS (SELECT doc_id, unnest(toks) AS term FROM tk),
      |mtf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
      |  GROUP BY doc_id, term),
      |mdf AS (SELECT term, COUNT(*) AS df FROM mtf GROUP BY term),
      |mn AS (SELECT COUNT(*) AS n_docs FROM documents),
      |mqtf AS (SELECT doc_id AS query_id, term, tf AS qtf FROM mtf
      |  WHERE doc_id < 10),
      |mlt AS (SELECT q.query_id, t.doc_id,
      |    CAST(SUM((q.qtf * t.tf * n_docs * 1000000) // d.df) AS BIGINT)
      |      AS lex_score
      |  FROM mqtf q JOIN mtf t ON t.term = q.term
      |  JOIN mdf d ON d.term = q.term CROSS JOIN mn
      |  WHERE t.doc_id <> q.query_id
      |  GROUP BY q.query_id, t.doc_id),
      |mltr AS (SELECT query_id, doc_id, lex_score,
      |  ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY lex_score DESC, doc_id) AS rank FROM mlt)""".stripMargin

  private lazy val BruteOracleSql =
    s"""WITH $BruteCtesSql
      |SELECT query_id, rank, neighbor_id FROM bruter WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Recall@5 of the IVF chain against exact brute force, both
    * recomputed in SQL — pins the evaluation metric itself. */
  private lazy val IvfRecallOracleSql =
    s"""WITH $IvfCtesSql,
      |$BruteCtesSql,
      |ivf AS (SELECT query_id, neighbor_id FROM ivfr WHERE rank <= 5),
      |brute AS (SELECT query_id, neighbor_id FROM bruter WHERE rank <= 5),
      |h AS (SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |  FROM brute b JOIN ivf i
      |    ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      |  GROUP BY b.query_id)
      |SELECT q.vec_id AS query_id,
      |  COALESCE(h.n_hits, 0) AS n_hits,
      |  COALESCE(h.n_hits, 0) * 20 AS recall_pct
      |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
      |LEFT JOIN h ON h.query_id = q.vec_id
      |ORDER BY query_id""".stripMargin

  /** Bipartite recompute for the written-index probes: corpus doc a vs
    * delta twin b = doc_id + 1M over the SAME shingle chain — identity
    * pairs land at exactly 1.0 (shared empty-set convention), near
    * pairs appear in both orientations. Shared by the uncompacted AND
    * compacted probe keys: compaction must be invisible to results. */
  private lazy val LshProbeOracleSql =
    s"""WITH sh AS ($WordShinglesSql),
       |pj AS (SELECT a.doc_id AS a, b.doc_id + 1000000 AS b,
       |    CASE WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
       |           = 0
       |         THEN CAST(1.0 AS DOUBLE)
       |         ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |           CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
       |             AS DOUBLE) END AS j
       |  FROM sh a CROSS JOIN sh b)
       |SELECT a, b, j AS jaccard FROM pj WHERE j >= 0.8
       |ORDER BY a, b""".stripMargin

  /** Incremental exact-dedup recompute (delta group-by + corpus
    * NOT EXISTS) — shared by the in-memory and bucketed-index probes:
    * the index layout must be invisible to results. */
  private lazy val IncrementalNewOracleSql =
    """WITH d1 AS (SELECT doc_id + 1000000 AS doc_id,
      |    CASE WHEN doc_id % 2 = 0 THEN text
      |         ELSE text || ' updated' END AS text
      |  FROM documents),
      |delta AS (SELECT doc_id, text FROM d1
      |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM d1),
      |g AS (SELECT sha256(text) AS text_sha,
      |    MIN(doc_id) AS survivor_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_copies
      |  FROM delta GROUP BY sha256(text))
      |SELECT text_sha, survivor_id, n_copies FROM g
      |WHERE NOT EXISTS (SELECT 1 FROM documents d
      |                  WHERE sha256(d.text) = g.text_sha)
      |ORDER BY survivor_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // independent fold of the same Karp-Rabin chain over normalized-text
    // codepoints (list_reduce with an explicit 0 seed); ASCII-only by
    // construction so DuckDB codepoints == the kernel's UTF-8 bytes
    // the injectivity contract: DuckDB's count(distinct normalized text)
    // stands in for BOTH distinct counts — equality with the engine's
    // count(distinct fp) asserts the xxhash64 fold is collision-free on
    // this corpus (the property downstream dedup relies on)
    "text_fingerprint" ->
      """WITH n AS (SELECT doc_id % 16 AS bucket,
        |  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT bucket, COUNT(*) AS n_docs,
        |  COUNT(norm) AS n_fp_nonnull,
        |  COUNT(DISTINCT norm) AS n_distinct_fp,
        |  COUNT(DISTINCT norm) AS n_distinct_text
        |FROM n GROUP BY bucket ORDER BY bucket""".stripMargin,
    "text_fingerprint_poly" ->
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
        |  FROM documents)
        |SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(s) + 1),
        |        i -> CAST(ascii(substr(s, i, 1)) AS BIGINT))),
        |    (acc, x) -> (acc * 1000003 + x) % 2199023255552) AS fingerprint,
        |  length(s) AS n_norm_chars
        |FROM n ORDER BY doc_id""".stripMargin,
    // line strings stand in for the engine's line fingerprints (poly
    // fingerprint injectivity over the line population is spec-pinned);
    // same augmentation, df-guard, and in-order rebuild
    "dedup_lines" ->
      """WITH aug AS (SELECT doc_id, concat_ws(chr(10),
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'subscribe to our newsletter today' END,
        |    text,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN 'copyright 2026 example corp all rights reserved' END,
        |    'doc ref ' || CAST(doc_id AS VARCHAR)) AS s
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(s, chr(10)) AS ls FROM aug),
        |ln AS (SELECT doc_id, i, ls[i] AS line
        |  FROM (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS i
        |        FROM ls)),
        |hot AS (SELECT line FROM ln GROUP BY line
        |  HAVING COUNT(DISTINCT doc_id) > 8),
        |kept AS (SELECT ln.doc_id, ln.i, ln.line
        |  FROM ln LEFT JOIN hot USING (line) WHERE hot.line IS NULL),
        |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY i) AS clean
        |  FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, len(b.ls) AS n_lines,
        |  len(b.ls) - COALESCE(a.n_kept, 0) AS n_removed,
        |  sha256(COALESCE(a.clean, '')) AS clean_sha
        |FROM ls b LEFT JOIN agg a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,
    // first-occurrence filter via a (doc_id, line) row_number window;
    // rebuild preserves position order
    "dedup_lines_intra" ->
      """WITH aug AS (SELECT doc_id, concat_ws(chr(10),
        |    text,
        |    CASE WHEN doc_id % 2 = 0 THEN text END,
        |    'ref ' || CAST(doc_id AS VARCHAR),
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'ref ' || CAST(doc_id AS VARCHAR) END) AS s
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(s, chr(10)) AS ls FROM aug),
        |ln AS (SELECT doc_id, i, ls[i] AS line
        |  FROM (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS i
        |        FROM ls)),
        |k AS (SELECT doc_id, i, line, ROW_NUMBER() OVER (
        |    PARTITION BY doc_id, line ORDER BY i) AS rn
        |  FROM ln),
        |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY i) AS clean
        |  FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT b.doc_id, len(b.ls) AS n_lines,
        |  len(b.ls) - a.n_kept AS n_removed,
        |  sha256(a.clean) AS clean_sha
        |FROM ls b JOIN agg a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,
    "text_bpe_train" -> BpeTrainSql,
    // independent recomputation of the add-1 unigram surprisal chain:
    // same vocab cut (count desc, token), same class-based OOV fold
    // (bucket mass DIV oov type count), same integer fixed-point DIV
    // arithmetic — exact on both engines
    "text_lm_surprisal" ->
      s"""WITH tk AS ($NormToksSql),
         |tok AS (SELECT doc_id, unnest(toks) AS t FROM tk),
         |c AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok
         |  GROUP BY t),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM c),
         |v AS (SELECT t, c FROM c ORDER BY c DESC, t LIMIT 256),
         |sc AS (SELECT total,
         |    (total - (SELECT CAST(SUM(c) AS BIGINT) FROM v))
         |      // greatest(
         |        (SELECT CAST(COUNT(*) AS BIGINT) FROM c)
         |        - (SELECT CAST(COUNT(*) AS BIGINT) FROM v), 1) AS c_oov
         |  FROM tot),
         |w AS (SELECT doc_id,
         |    ((sc.total + 257) * 1000000) // (COALESCE(v.c, sc.c_oov) + 1)
         |      AS ppm
         |  FROM tok LEFT JOIN v USING (t) CROSS JOIN sc),
         |d AS (SELECT doc_id, CAST(SUM(ppm) AS BIGINT) AS sum_ppm,
         |    CAST(COUNT(*) AS BIGINT) AS n_toks
         |  FROM w GROUP BY doc_id)
         |SELECT doc.doc_id,
         |  COALESCE(d.n_toks, 0) AS n_toks,
         |  COALESCE(d.sum_ppm, 0) AS sum_ppm,
         |  CASE WHEN COALESCE(d.n_toks, 0) > 0
         |    THEN d.sum_ppm // d.n_toks ELSE 0 END AS mean_ppm
         |FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id
         |ORDER BY doc.doc_id""".stripMargin,
    // bigram twin: context counts c1, top-256 bigram table (count desc,
    // pair text — the same deterministic cut), unseen pairs read c2 = 0;
    // // == DIV on the all-non-negative intermediates
    "text_lm_bigram" ->
      s"""WITH tk AS ($NormToksSql),
         |tok AS (SELECT doc_id, unnest(toks) AS t FROM tk),
         |types AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v
         |  FROM tok),
         |bx AS (SELECT doc_id, toks,
         |    unnest(range(1, len(toks))) AS i FROM tk),
         |bg AS (SELECT doc_id, toks[i] AS u, toks[i + 1] AS w FROM bx),
         |c1 AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg
         |  GROUP BY u),
         |c2 AS (SELECT u, w, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg
         |  GROUP BY u, w),
         |top AS (SELECT u, w, c2 FROM c2 ORDER BY c2 DESC, u, w
         |  LIMIT 256),
         |ws AS (SELECT doc_id,
         |    ((c1.c1 + types.v) * 1000000) // (COALESCE(top.c2, 0) + 1)
         |      AS ppm
         |  FROM bg JOIN c1 USING (u) LEFT JOIN top USING (u, w)
         |  CROSS JOIN types),
         |d AS (SELECT doc_id, CAST(SUM(ppm) AS BIGINT) AS sum_ppm,
         |    CAST(COUNT(*) AS BIGINT) AS n_bigrams
         |  FROM ws GROUP BY doc_id)
         |SELECT doc.doc_id,
         |  COALESCE(d.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(d.sum_ppm, 0) AS sum_ppm,
         |  CASE WHEN COALESCE(d.n_bigrams, 0) > 0
         |    THEN d.sum_ppm // d.n_bigrams ELSE 0 END AS mean_ppm
         |FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id
         |ORDER BY doc.doc_id""".stripMargin,
    // same bigram stream; rational PMI with both marginals, // == DIV on
    // non-negative int64
    "text_collocations" ->
      s"""WITH tk AS ($NormToksSql),
         |bx AS (SELECT doc_id, toks,
         |    unnest(range(1, len(toks))) AS i FROM tk),
         |bg AS (SELECT toks[i] AS u, toks[i + 1] AS w FROM bx),
         |cu AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS cu FROM bg
         |  GROUP BY u),
         |cw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM bg
         |  GROUP BY w),
         |c2 AS (SELECT u, w, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg
         |  GROUP BY u, w HAVING COUNT(*) >= 5),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bg)
         |SELECT u, w, c2,
         |  (c2 * nb * 1000000) // (cu.cu * cw.cw) AS affinity
         |FROM c2 JOIN cu USING (u) JOIN cw USING (w) CROSS JOIN n
         |ORDER BY affinity DESC, u, w LIMIT 20""".stripMargin,
    // same hashed-feature chain: per-token Karp-Rabin fold -> bucket
    // (fp % 1024) -> Knuth weight in [0, 2000] -> exact fixed-point mean;
    // every intermediate is non-negative int64 so // == DIV
    "text_quality_classifier" ->
      s"""WITH tk AS ($NormToksSql),
         |tok AS (SELECT doc_id, unnest(toks) AS t FROM tk),
         |fp AS (SELECT doc_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(1, length(t) + 1),
         |      i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))),
         |    (acc, x) -> (acc * 1000003 + x) % 2199023255552) AS f
         |  FROM tok),
         |wt AS (SELECT doc_id, ((f % 1024) * 2654435761) % 2001 AS w
         |  FROM fp),
         |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
         |  CAST(SUM(w) AS BIGINT) AS w_sum FROM wt GROUP BY doc_id),
         |sc AS (SELECT doc.doc_id,
         |    COALESCE(d.n_toks, 0) AS n_toks,
         |    COALESCE(d.w_sum, 0) AS w_sum,
         |    CASE WHEN COALESCE(d.n_toks, 0) > 0
         |      THEN (d.w_sum * 1000) // d.n_toks ELSE 0 END AS score_ppk
         |  FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id)
         |SELECT doc_id, n_toks, w_sum, score_ppk,
         |  score_ppk >= 1000000 AS keep
         |FROM sc ORDER BY doc_id""".stripMargin,
    // same URL synthesis; parts re-derived with regexes instead of
    // parse_url, registered domain = last two host labels
    "text_url_parse" ->
      """WITH u AS (SELECT doc_id,
        |  'https://' || source || '.cdn.example.com/' || lang || '/doc-' ||
        |  CAST(doc_id AS VARCHAR) ||
        |  CASE WHEN doc_id % 3 = 0
        |    THEN '?ref=r' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END AS url
        |  FROM documents),
        |p AS (SELECT doc_id, url,
        |  regexp_extract(url, '^https://([^/?#]+)', 1) AS host,
        |  regexp_extract(url, '^https://[^/?#]+(/[^?#]*)', 1) AS path,
        |  regexp_extract(url, '\?ref=([^&#]*)', 1) AS ref
        |  FROM u)
        |SELECT doc_id, url, host,
        |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
        |  path,
        |  len(list_filter(string_split(path, '/'), x -> x <> ''))
        |    AS path_depth,
        |  ref
        |FROM p ORDER BY doc_id""".stripMargin,
    // the pristine phrase replayed with chr(); the repair recovers it
    // from single- AND double-encoded mojibake, and leaves the odd
    // docs' ASCII untouched
    "text_fix_mojibake" ->
      """WITH e AS (SELECT doc_id, unnest(range(0, 6)) AS j
        |  FROM documents),
        |phrase AS (SELECT doc_id,
        |  string_agg(chr(CAST(224 + (doc_id*5 + j*3) % 31 AS INT)),
        |    '' ORDER BY j) AS p
        |  FROM e GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 2 = 1
        |    THEN 'plain text ' || (d.doc_id % 10)
        |    ELSE 'word ' || p.p || ' tail' END AS fixed,
        |  d.doc_id % 2 = 0 AS was_fixed
        |FROM documents d JOIN phrase p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // same augmentation via chr() (769/776 = combining acute/diaeresis,
    // 7 = BEL, 160 = NBSP, 9 = TAB); \xa0 in the RE2 class is the NBSP
    // codepoint, matching Java's
    "text_normalize" ->
      """WITH aug AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 3 = 0
        |    THEN ' cafe' || chr(769) || ' nai' || chr(776) || 've'
        |    ELSE '' END ||
        |  CASE WHEN doc_id % 4 = 0
        |    THEN chr(7) || ' bell' || chr(160) || 'and' || chr(9) || 'tab '
        |    ELSE '' END AS s
        |  FROM documents),
        |cl AS (SELECT doc_id, s,
        |  trim(regexp_replace(nfc_normalize(s),
        |    '[\s\x00-\x1f\x7f\xa0]+', ' ', 'g')) AS clean
        |  FROM aug)
        |SELECT doc_id, clean, length(s) AS n_chars_raw,
        |  length(clean) AS n_chars_clean
        |FROM cl ORDER BY doc_id""".stripMargin,
    // urlset docs yield 3 <loc> rows + the doc-level lastmod;
    // sitemapindex docs 2 pointer rows with '' lastmod
    "source_sitemap" ->
      """WITH e AS (SELECT doc_id, unnest(range(0, 3)) AS i
        |  FROM documents WHERE doc_id % 2 = 0),
        |o AS (SELECT doc_id, unnest(range(0, 2)) AS i
        |  FROM documents WHERE doc_id % 2 <> 0),
        |rows AS (
        |  SELECT doc_id, 'urlset' AS kind, i AS entry_idx,
        |    'https://site' || (doc_id % 50) || '.example/doc' ||
        |      doc_id || '/p' || i AS loc,
        |    '2026-02-0' || (doc_id % 9 + 1) AS lastmod
        |  FROM e
        |  UNION ALL
        |  SELECT doc_id, 'sitemapindex', i,
        |    'https://site' || (doc_id % 50) || '.example/maps/m' ||
        |      i || '.xml', ''
        |  FROM o)
        |SELECT doc_id, kind, CAST(entry_idx AS BIGINT) AS entry_idx,
        |  loc, lastmod
        |FROM rows ORDER BY doc_id, entry_idx""".stripMargin,

    // each eligible even base announces 3 pages, re-announced once by
    // its odd partner -> n_sources 2; hosts ≡ 0 (mod 3) are gated out
    "frontier_urls" ->
      """WITH b AS (SELECT DISTINCT doc_id - doc_id % 2 AS b
        |  FROM documents),
        |e AS (SELECT b, unnest(range(0, 3)) AS i FROM b
        |  WHERE (b % 50) % 3 <> 0)
        |SELECT 'https://site' || (b % 50) || '.example/doc' || b ||
        |    '/p' || i AS canon,
        |  CAST(2 AS BIGINT) AS n_sources
        |FROM e ORDER BY canon""".stripMargin,

    // every group of 4 spellings collapses to ONE stated canonical
    "dedup_url_canonical" ->
      """WITH g AS (SELECT doc_id, doc_id - doc_id % 4 AS b
        |  FROM documents)
        |SELECT 'https://src.example.com/doc-' || b || '?a=1' AS canon,
        |  MIN(doc_id) AS survivor_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM g GROUP BY b ORDER BY survivor_id""".stripMargin,

    // per-residue verdict + winning rule stated literally; note r2's
    // allowed-odd rows prove the specific-agent group shields from
    // the catch-all's Disallow: /
    "text_robots_gate" ->
      """SELECT doc_id,
        |  CASE doc_id % 4
        |    WHEN 0 THEN CASE WHEN doc_id % 2 = 0
        |      THEN '/private/ok-' ELSE '/private/p-' END || doc_id
        |    WHEN 1 THEN '/f-' || doc_id || CASE WHEN doc_id % 2 = 0
        |      THEN '.pdf' ELSE '.txt' END
        |    WHEN 2 THEN CASE WHEN doc_id % 2 = 0
        |      THEN '/g/x-' ELSE '/open/x-' END || doc_id
        |    ELSE '/any/' || doc_id END AS path,
        |  CASE doc_id % 4
        |    WHEN 0 THEN doc_id % 2 = 0
        |    WHEN 1 THEN doc_id % 2 <> 0
        |    WHEN 2 THEN doc_id % 2 <> 0
        |    ELSE TRUE END AS allowed,
        |  CASE doc_id % 4
        |    WHEN 0 THEN CASE WHEN doc_id % 2 = 0
        |      THEN 'allow:/private/ok' ELSE 'disallow:/private/' END
        |    WHEN 1 THEN CASE WHEN doc_id % 2 = 0
        |      THEN 'disallow:/*.pdf$' ELSE '' END
        |    WHEN 2 THEN CASE WHEN doc_id % 2 = 0
        |      THEN 'disallow:/g/' ELSE '' END
        |    ELSE '' END AS matched_rule,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS INT)
        |    AS n_rules
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the two surviving prose blocks stated literally (entity decode +
    // collapse + trim replayed); block counts are fixture constants
    "text_main_content" ->
      """SELECT doc_id,
        |  trim(regexp_replace(substr(text, 1, 30), '\s+', ' ', 'g'))
        |    || chr(10) ||
        |  trim(regexp_replace(substr(text, 31, 18) ||
        |    ' & closing words', '\s+', ' ', 'g')) AS main_text,
        |  CAST(4 AS INT) AS n_blocks, CAST(2 AS INT) AS n_kept
        |FROM documents ORDER BY doc_id""".stripMargin,

    // each residue's expected canonical form stated literally —
    // closed-form, no replayed canonicalizer to cancel bugs against;
    // residue 0 carries a BARE valueless tracking param (utm_campaign,
    // must drop) and residue 1 a '?' that appears only inside the
    // fragment (#sec?x=1 — fragment text, must NOT become a query)
    "text_url_canonical" ->
      """SELECT doc_id,
        |  CASE doc_id % 4
        |    WHEN 0 THEN 'HTTPS://WWW.' || source || '.Example.COM:443/'
        |      || lang || '/Doc-' || doc_id || '?utm_source=feed&z=9&a='
        |      || (doc_id % 5) || '&utm_campaign&fbclid=xx#frag'
        |    WHEN 1 THEN 'HTTP://' || source || '.example.com:80/'
        |      || lang || '/doc-' || doc_id || '#sec?x=1'
        |    WHEN 2 THEN 'https://' || source || '.example.com?b=2&&a=1'
        |    ELSE 'https://' || source || '.example.com/' || lang
        |      || '?a=1'
        |  END AS url,
        |  CASE doc_id % 4
        |    WHEN 0 THEN 'https://www.' || source || '.example.com/'
        |      || lang || '/Doc-' || doc_id || '?a=' || (doc_id % 5)
        |      || '&z=9'
        |    WHEN 1 THEN 'http://' || source || '.example.com/'
        |      || lang || '/doc-' || doc_id
        |    WHEN 2 THEN 'https://' || source || '.example.com/?a=1&b=2'
        |    ELSE 'https://' || source || '.example.com/' || lang
        |      || '?a=1'
        |  END AS canon,
        |  doc_id % 4 <> 3 AS changed
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same wrap construction, same strip chain: tags -> named entities ->
    // &amp; LAST (double-decode guard) -> whitespace collapse
    "text_html_strip" ->
      """WITH h AS (SELECT doc_id, source, text,
        |  '<div class="doc"><h1>' || source || '</h1><p>' ||
        |    replace(replace(text, '&', '&amp;'), '<', '&lt;') ||
        |    '</p><br/></div>' AS html
        |  FROM documents),
        |s AS (SELECT doc_id, source, text, html,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(html, '<[A-Za-z/!][^>]{0,256}>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean
        |  FROM h)
        |SELECT doc_id, clean,
        |  len(regexp_extract_all(html, '<[A-Za-z/!][^>]{0,256}>'))
        |    AS n_tags,
        |  clean = trim(regexp_replace(source || ' ' || text,
        |    '\s+', ' ', 'g')) AS roundtrip_ok
        |FROM s ORDER BY doc_id""".stripMargin,
    // the expected plaintext of each wikitext shape, literally
    "text_wikitext_strip" ->
      """SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'Alpha is a Greek letter. See also Beta.'
        |    WHEN 1 THEN 'History The city grew. It lies on the Danube.'
        |    WHEN 2 THEN 'Data after table. Site and more. item one item two'
        |    WHEN 3 THEN 'Start end. Italic text with label and plain.'
        |    WHEN 4 THEN 'Text about cats. Multiclink.'
        |    ELSE 'A & B <tag> and ref.'
        |  END AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_pii_redact" ->
      """WITH aug AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 5 = 0 THEN ' contact user' ||
        |    CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END ||
        |  CASE WHEN doc_id % 7 = 0 THEN ' call 555-867-5309' ELSE '' END ||
        |  CASE WHEN doc_id % 11 = 0 THEN ' from 10.' ||
        |    CAST(doc_id % 200 AS VARCHAR) || '.0.' ||
        |    CAST(doc_id % 250 AS VARCHAR) ELSE '' END AS s
        |  FROM documents)
        |, st AS (SELECT doc_id, s,
        |  regexp_replace(s,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
        |    'g') AS s1
        |  FROM aug),
        |st2 AS (SELECT doc_id, s, s1,
        |  regexp_replace(s1, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>',
        |    'g') AS s2
        |  FROM st)
        |SELECT doc_id,
        |  regexp_replace(s2, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g')
        |    AS redacted,
        |  len(regexp_extract_all(s,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(s1,
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS n_phone,
        |  len(regexp_extract_all(s2,
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ip
        |FROM st2 ORDER BY doc_id""".stripMargin,
    "text_tfidf_top3" ->
      s"""WITH tk AS ($NormToksSql),
         |tok AS (SELECT doc_id, unnest(toks) AS term FROM tk),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
         |  GROUP BY doc_id, term),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (SELECT doc_id, term, tf, df,
         |    CAST(tf AS DOUBLE) *
         |      (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS rank FROM scored)
         |SELECT doc_id, rank, term, tf, df, score FROM ranked
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "text_bm25_top3" ->
      s"""WITH tk AS ($NormToksSql),
         |tok AS (SELECT doc_id, unnest(toks) AS term FROM tk),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
         |  GROUP BY doc_id, term),
         |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf
         |  GROUP BY doc_id),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
         |scored AS (SELECT doc_id, term, tf, df, dl,
         |    (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) *
         |    ((CAST(tf AS DOUBLE) *
         |        (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
         |      (CAST(tf AS DOUBLE) +
         |        CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
         |          CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) *
         |            (CAST(n_docs AS DOUBLE) /
         |              CAST(total_dl AS DOUBLE)))))) AS score
         |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
         |  CROSS JOIN n),
         |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS rank FROM scored)
         |SELECT doc_id, rank, term, tf, df, dl, score FROM ranked
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // bounded-vocabulary twins: same pipelines with the (minDf, maxVocab)
    // cut mirrored as a ROW_NUMBER window — deterministic on both engines
    // (df desc, term asc)
    "text_tfidf_pruned" ->
      s"""WITH tk AS ($NormToksSql),
         |tok AS (SELECT doc_id, unnest(toks) AS term FROM tk),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
         |  GROUP BY doc_id, term),
         |df0 AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |df AS (SELECT term, df FROM (SELECT term, df,
         |    ROW_NUMBER() OVER (ORDER BY df DESC, term) AS r
         |  FROM df0 WHERE df >= 30) WHERE r <= 24),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (SELECT doc_id, term, tf, df,
         |    CAST(tf AS DOUBLE) *
         |      (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS rank FROM scored)
         |SELECT doc_id, rank, term, tf, df, score FROM ranked
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "text_bm25_pruned" ->
      s"""WITH tk AS ($NormToksSql),
         |tok AS (SELECT doc_id, unnest(toks) AS term FROM tk),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
         |  GROUP BY doc_id, term),
         |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf
         |  GROUP BY doc_id),
         |df0 AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |df AS (SELECT term, df FROM (SELECT term, df,
         |    ROW_NUMBER() OVER (ORDER BY df DESC, term) AS r
         |  FROM df0 WHERE df >= 30) WHERE r <= 24),
         |n AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
         |scored AS (SELECT doc_id, term, tf, df, dl,
         |    (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) *
         |    ((CAST(tf AS DOUBLE) *
         |        (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
         |      (CAST(tf AS DOUBLE) +
         |        CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
         |          CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) *
         |            (CAST(n_docs AS DOUBLE) /
         |              CAST(total_dl AS DOUBLE)))))) AS score
         |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
         |  CROSS JOIN n),
         |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS rank FROM scored)
         |SELECT doc_id, rank, term, tf, df, dl, score FROM ranked
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // capped context table: top-16 contexts by mass (ties on text);
    // out-of-table contexts take c1 = 0 (unseen), exactly as the engine
    "text_lm_bigram_pruned" ->
      s"""WITH tk AS ($NormToksSql),
         |tok AS (SELECT doc_id, unnest(toks) AS t FROM tk),
         |types AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v
         |  FROM tok),
         |bx AS (SELECT doc_id, toks,
         |    unnest(range(1, len(toks))) AS i FROM tk),
         |bg AS (SELECT doc_id, toks[i] AS u, toks[i + 1] AS w FROM bx),
         |c1a AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg
         |  GROUP BY u),
         |c1 AS (SELECT u, c1 FROM (SELECT u, c1,
         |    ROW_NUMBER() OVER (ORDER BY c1 DESC, u) AS r FROM c1a)
         |  WHERE r <= 16),
         |c2 AS (SELECT u, w, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg
         |  GROUP BY u, w),
         |top AS (SELECT u, w, c2 FROM c2 ORDER BY c2 DESC, u, w
         |  LIMIT 256),
         |ws AS (SELECT doc_id,
         |    ((COALESCE(c1.c1, 0) + types.v) * 1000000)
         |      // (COALESCE(top.c2, 0) + 1) AS ppm
         |  FROM bg LEFT JOIN c1 USING (u) LEFT JOIN top USING (u, w)
         |  CROSS JOIN types),
         |d AS (SELECT doc_id, CAST(SUM(ppm) AS BIGINT) AS sum_ppm,
         |    CAST(COUNT(*) AS BIGINT) AS n_bigrams
         |  FROM ws GROUP BY doc_id)
         |SELECT doc.doc_id,
         |  COALESCE(d.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(d.sum_ppm, 0) AS sum_ppm,
         |  CASE WHEN COALESCE(d.n_bigrams, 0) > 0
         |    THEN d.sum_ppm // d.n_bigrams ELSE 0 END AS mean_ppm
         |FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id
         |ORDER BY doc.doc_id""".stripMargin,
    "corpus_diff" ->
      """WITH old AS (SELECT doc_id, sha256(text) AS sha FROM documents),
        |neu AS (
        |  SELECT doc_id,
        |    sha256(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
        |      ELSE text END) AS sha
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, sha256(text) AS sha
        |  FROM documents WHERE doc_id % 11 = 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.sha <> n.sha THEN 'changed'
        |       ELSE 'same' END AS change
        |FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id
        |WHERE (CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.sha <> n.sha THEN 'changed'
        |       ELSE 'same' END) <> 'same'
        |ORDER BY doc_id""".stripMargin,
    // winner per key = greatest (version, origin) with origin favoring
    // the delta — ROW_NUMBER here is the oracle's formulation; the
    // engine's max_by aggregate must agree row for row
    "corpus_merge_cdc" ->
      """WITH allr AS (
        |  SELECT doc_id, text, source, 1 AS version, FALSE AS deleted,
        |    0 AS origin FROM documents
        |  UNION ALL SELECT doc_id, text || ' [v2]', source, 2, FALSE, 1
        |    FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0
        |  UNION ALL SELECT doc_id, text, source, 2, TRUE, 1
        |    FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id + 1000000, text, source, 1, FALSE, 1
        |    FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL SELECT doc_id, text || ' [redelivered]', source, 1,
        |    FALSE, 1 FROM documents
        |    WHERE doc_id % 13 = 0 AND doc_id % 5 <> 0 AND doc_id % 7 <> 0),
        |w AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY version DESC, origin DESC) AS rn FROM allr)
        |SELECT doc_id, CAST(version AS BIGINT) AS version,
        |  sha256(text) AS text_sha, source
        |FROM w WHERE rn = 1 AND NOT deleted ORDER BY doc_id""".stripMargin,
    "corpus_forget" ->
      """WITH fl AS (SELECT sha256(text) AS text_sha FROM documents
        |  WHERE doc_id % 17 = 0),
        |surv AS (SELECT * FROM documents d WHERE NOT EXISTS
        |  (SELECT 1 FROM fl WHERE fl.text_sha = sha256(d.text))),
        |b AS (SELECT source, COUNT(*) AS n_before FROM documents
        |  GROUP BY source),
        |a AS (SELECT source, COUNT(*) AS n_after FROM surv GROUP BY source)
        |SELECT b.source AS source, n_before,
        |  COALESCE(n_after, 0) AS n_after,
        |  n_before - COALESCE(n_after, 0) AS n_forgotten
        |FROM b LEFT JOIN a ON b.source = a.source
        |ORDER BY source""".stripMargin,
    // both round-trip oracles read the ORIGINAL parquet — identity check
    "source_avro_container" ->
      """SELECT doc_id, lang, source, text
        |FROM documents ORDER BY doc_id""".stripMargin,
    // identity through the nested struct/map hop, flattened; strlen
    // is BYTES in DuckDB (= Spark octet_length)
    "source_avro_nested" ->
      """SELECT doc_id, lang,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes, source,
        |  CAST(doc_id % 7 AS BIGINT) AS bucket,
        |  lang AS tag_lang, source AS tag_source,
        |  CAST(2 AS BIGINT) AS n_tags
        |FROM documents ORDER BY doc_id""".stripMargin,
    // identity again, but through ONE multi-block file read as many
    // sync-marker splits — any block lost/duplicated at a split
    // boundary fails the hash
    "source_avro_split" ->
      """SELECT doc_id, lang, source, text
        |FROM documents ORDER BY doc_id""".stripMargin,
    // logical types (decimal/timestamp/date/array) folded to exact
    // int64 on BOTH sides; the oracle computes the closed forms the
    // container hop must preserve
    "source_avro_logical" ->
      """SELECT o_orderkey,
        |  o_orderkey * 123 % 100000 AS price_cents,
        |  o_orderkey * 1000003 AS ots_us,
        |  o_orderkey % 20000 AS od_days,
        |  o_custkey + o_orderkey AS keys_sum
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "source_jsonl_roundtrip" ->
      """SELECT doc_id, length(text) AS text_len, sha256(text) AS text_sha,
        |lang, source FROM documents ORDER BY doc_id""".stripMargin,
    "source_csv_roundtrip" ->
      """SELECT doc_id, length(text) AS text_len, sha256(text) AS text_sha,
        |lang, source FROM documents ORDER BY doc_id""".stripMargin,
    "source_orc_roundtrip" ->
      """SELECT doc_id, length(text) AS text_len, sha256(text) AS text_sha,
        |lang, source FROM documents ORDER BY doc_id""".stripMargin,
    "corpus_manifest" ->
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
        |  FROM documents),
        |f AS (SELECT ((doc_id + 0) * 2654435761) % 8 AS shard,
        |  CASE WHEN s = '' THEN 0
        |       ELSE len(string_split(s, ' ')) END AS n_toks,
        |  (list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(s) + 1),
        |        i -> CAST(ascii(substr(s, i, 1)) AS BIGINT))),
        |    (acc, x) -> (acc * 1000003 + x) % 2199023255552))
        |    % 2147483648 AS fp
        |  FROM n)
        |SELECT shard, COUNT(*) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
        |  CAST(SUM(fp) % 2199023255552 AS BIGINT) AS content_sum41
        |FROM f GROUP BY shard ORDER BY shard""".stripMargin,
    "corpus_report" ->
      s"""WITH tk AS ($NormToksSql),
         |d AS (SELECT text, len(toks) AS n FROM tk)
         |SELECT COUNT(*) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS total_tokens,
         |  CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_tokens,
         |  COUNT(DISTINCT sha256(text)) AS n_distinct,
         |  CAST(COUNT(*) - COUNT(DISTINCT sha256(text)) AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE) AS dup_rate,
         |  quantile_cont(n, 0.5) AS p50_tokens,
         |  quantile_cont(n, 0.9) AS p90_tokens,
         |  quantile_cont(n, 0.99) AS p99_tokens
         |FROM d""".stripMargin,
    // full ±1-matrix recomputation: the sign chain is the Sketches
    // scramble with indexes < 2^21 (one multiplication), and every fold
    // (projection, dot, norms) is an independent left-to-right
    // list_reduce — the same per-accumulator order as the Spark HOF and
    // the interleaved native cosine kernel
    "emb_project_rp" -> {
      def p(i: Int): String =
        s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |    list_transform(range(0, 64), j ->
           |      CAST(1 - 2 * (((((${i} * 64 + j) * 2654435761)
           |        % 2199023255552) // 1048576) % 2) AS DOUBLE)
           |      * v[j + 1])), (a, x) -> a + x)""".stripMargin
      val plist = (0 until 8).map(p).mkString("[", ",\n", "]")
      val pcols = (0 until 8).map(i => s"p[${i + 1}] AS p$i").mkString(", ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |pr AS (SELECT vec_id, $plist AS p FROM e),
         |q AS (SELECT p AS q0 FROM pr WHERE vec_id = 0),
         |c AS (SELECT vec_id, p,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(range(0, 8), i -> p[i + 1] * q0[i + 1])),
         |    (a, x) -> a + x) AS dt,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(p, x -> x * x)), (a, x) -> a + x) AS na,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(q0, x -> x * x)), (a, x) -> a + x) AS nb
         |  FROM pr, q)
         |SELECT vec_id, $pcols,
         |  CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |       ELSE dt / (sqrt(na) * sqrt(nb)) END AS cos_q0
         |FROM c ORDER BY vec_id""".stripMargin
    },

    // same fold order as the Spark HOFs (list_reduce is left-to-right,
    // sqrt is correctly rounded in both engines)
    "emb_norm_stats" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings)
        |SELECT vec_id, len(v) AS dim,
        |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(v, x -> x * x)), (a, x) -> a + x)) AS norm,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE), v), (a, x) -> a + x)
        |    / CAST(len(v) AS DOUBLE) AS mean_comp,
        |  list_max(list_transform(v, x -> abs(x))) AS max_abs
        |FROM e ORDER BY vec_id""".stripMargin,
    // both power iterations replayed in HUGEINT: same quantization,
    // truncated-integer mean, sign-symmetric divisions (never bare //
    // on negatives — floor-vs-truncate differs across engines), 1e6
    // renormalization against max|u|, leading-component sign fix
    "emb_dominant_dir" ->
      s"""WITH $DominantDirCtesSql
        |SELECT CAST(pos AS INT) AS pos, CAST(v AS BIGINT) AS component
        |FROM ddir ORDER BY pos""".stripMargin,

    // the removal audit over the SAME direction chain: projection
    // coefficient + before/after quantized norms, all sign-symmetric
    // truncated divisions — pins the deprojection arithmetic without
    // shipping dim-wide arrays
    "emb_deproject" ->
      s"""WITH $DominantDirCtesSql,
        |pdD AS (SELECT GREATEST(SUM(v * v) // 1000000, 1) AS dd
        |  FROM ddir),
        |pt AS (SELECT e.vec_id,
        |    SUM(CAST(e.x AS HUGEINT) * w.v) AS t
        |  FROM dex e JOIN ddir w ON w.pos = e.pos GROUP BY e.vec_id),
        |pc AS (SELECT vec_id, CASE WHEN t < 0 THEN -((-t) // dd)
        |    ELSE t // dd END AS coeff
        |  FROM pt CROSS JOIN pdD),
        |pa AS (SELECT e.vec_id, e.x,
        |    e.x - (CASE WHEN c.coeff * w.v < 0
        |      THEN -((-(c.coeff * w.v)) // 1000000)
        |      ELSE (c.coeff * w.v) // 1000000 END) AS a
        |  FROM dex e JOIN ddir w ON w.pos = e.pos
        |  JOIN pc c ON c.vec_id = e.vec_id)
        |SELECT p.vec_id, CAST(c.coeff AS BIGINT) AS coeff_q,
        |  CAST(SUM(CAST(p.x AS HUGEINT) * p.x) AS BIGINT)
        |    AS norm2q_before,
        |  CAST(SUM(CAST(p.a AS HUGEINT) * p.a) AS BIGINT)
        |    AS norm2q_after
        |FROM pa p JOIN pc c ON c.vec_id = p.vec_id
        |GROUP BY p.vec_id, c.coeff ORDER BY p.vec_id""".stripMargin,

    // training + BOTH sequential removals replayed end-to-end: level-1
    // chain → deflate → level-2 chain → second deflate; norms from the
    // raw (dex) and doubly-deflated (x2ex) relations
    "emb_deproject_topk" ->
      s"""WITH $DominantDirCtesSql,
        |${deflateChainSql("x1", "dex", "ddir")},
        |${dirChainSql("g", "x1ex")},
        |${deflateChainSql("x2", "x1ex", "gdir")},
        |qnb AS MATERIALIZED (SELECT vec_id,
        |    SUM(CAST(x AS HUGEINT) * x) AS n2
        |  FROM dex GROUP BY vec_id),
        |qna AS MATERIALIZED (SELECT vec_id,
        |    SUM(CAST(x AS HUGEINT) * x) AS n2
        |  FROM x2ex GROUP BY vec_id)
        |SELECT b.vec_id,
        |  CAST(c1.coeff AS BIGINT) AS coeff_q1,
        |  CAST(c2.coeff AS BIGINT) AS coeff_q2,
        |  CAST(b.n2 AS BIGINT) AS norm2q_before,
        |  CAST(a.n2 AS BIGINT) AS norm2q_after
        |FROM qnb b JOIN x1c c1 USING (vec_id)
        |JOIN x2c c2 USING (vec_id) JOIN qna a USING (vec_id)
        |ORDER BY b.vec_id""".stripMargin,

    // both deflation levels replayed end-to-end: level-1 chain (ddir),
    // exact truncated-division deflation of the raw quantized vectors,
    // level-2 chain (gdir) over the deflated corpus — all in HUGEINT
    "emb_top_dirs" ->
      s"""WITH $DominantDirCtesSql,
        |${deflateChainSql("x1", "dex", "ddir")},
        |${dirChainSql("g", "x1ex")}
        |SELECT CAST(1 AS INT) AS k, CAST(pos AS INT) AS pos,
        |  CAST(v AS BIGINT) AS component FROM ddir
        |UNION ALL
        |SELECT CAST(2 AS INT) AS k, CAST(pos AS INT) AS pos,
        |  CAST(v AS BIGINT) AS component FROM gdir
        |ORDER BY k, pos""".stripMargin,

    // identical left-to-right norm² fold, identical int64 quantization,
    // HUGEINT cross-multiplied z-test — bit-exact flag parity
    "emb_outliers" ->
      """WITH e AS (SELECT vec_id,
        |    CASE WHEN vec_id % 50 = 0 THEN
        |           list_transform(CAST(embedding AS DOUBLE[]),
        |             x -> CAST(0 AS DOUBLE))
        |         WHEN vec_id % 70 = 0 THEN
        |           list_transform(CAST(embedding AS DOUBLE[]),
        |             x -> x * 3.0)
        |         ELSE CAST(embedding AS DOUBLE[]) END AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id,
        |    CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(v, x -> x * x)), (a, x) -> a + x) * 1000000)
        |      AS BIGINT) AS norm2q
        |  FROM e),
        |st AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(norm2q) AS HUGEINT) AS s,
        |    SUM(CAST(norm2q AS HUGEINT) * CAST(norm2q AS HUGEINT)) AS qq
        |  FROM q)
        |SELECT vec_id, norm2q FROM q CROSS JOIN st
        |WHERE norm2q = 0
        |   OR (CAST(norm2q AS HUGEINT) * n - s) *
        |      (CAST(norm2q AS HUGEINT) * n - s)
        |      > 16 * (n * qq - s * s)
        |ORDER BY vec_id""".stripMargin,

    // bucket layout is engine-internal; the postings themselves are plain
    // term frequencies
    "text_index_lookup" ->
      s"""WITH tk AS ($NormToksSql),
         |tok AS (SELECT doc_id, unnest(toks) AS term FROM tk),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
         |  GROUP BY doc_id, term)
         |SELECT term, doc_id, tf FROM tf
         |WHERE term IN ('spark', 'join', 'window')
         |ORDER BY term, doc_id""".stripMargin,
    "text_index_and" ->
      s"""WITH tk AS ($NormToksSql),
         |tok AS (SELECT doc_id, unnest(toks) AS term FROM tk),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
         |  GROUP BY doc_id, term)
         |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS total_tf FROM tf
         |WHERE term IN ('spark', 'join')
         |GROUP BY doc_id HAVING COUNT(*) = 2
         |ORDER BY doc_id""".stripMargin,
    // positional recomputation: 0-based token positions (matching the
    // engine's posexplode), adjacency via a position-offset join
    "text_index_phrase" ->
      s"""WITH tk AS ($NormToksSql),
         |pos AS (SELECT doc_id, i - 1 AS p, toks[i] AS term
         |  FROM tk, unnest(range(1, len(toks) + 1)) t(i)),
         |p0 AS (SELECT doc_id, p FROM pos WHERE term = 'table'),
         |p1 AS (SELECT doc_id, p FROM pos WHERE term = 'hash')
         |SELECT p0.doc_id AS doc_id, COUNT(*) AS n_matches
         |FROM p0 JOIN p1 ON p0.doc_id = p1.doc_id AND p1.p = p0.p + 1
         |GROUP BY p0.doc_id ORDER BY doc_id""".stripMargin,
    // n_matches counts FIRST-term positions with >=1 partner (not pairs)
    // — hence the EXISTS, mirroring the engine's filter/exists arrays
    "text_index_near" ->
      s"""WITH tk AS ($NormToksSql),
         |pos AS (SELECT doc_id, i - 1 AS p, toks[i] AS term
         |  FROM tk, unnest(range(1, len(toks) + 1)) t(i)),
         |pa AS (SELECT doc_id, p FROM pos WHERE term = 'scan'),
         |pb AS (SELECT doc_id, p FROM pos WHERE term = 'filter')
         |SELECT pa.doc_id AS doc_id, COUNT(*) AS n_matches
         |FROM pa WHERE EXISTS (SELECT 1 FROM pb
         |  WHERE pb.doc_id = pa.doc_id AND abs(pb.p - pa.p) <= 4)
         |GROUP BY pa.doc_id ORDER BY doc_id""".stripMargin,
    "text_chunks_window" ->
      s"""WITH tk AS ($NormToksSql),
         |st AS (SELECT doc_id, toks,
         |    unnest(range(0, len(toks), 24)) AS start_tok
         |  FROM tk WHERE len(toks) > 0),
         |ch AS (SELECT doc_id, start_tok // 24 AS chunk_id, start_tok,
         |    array_to_string(toks[start_tok + 1:start_tok + 32], ' ') AS s,
         |    len(toks[start_tok + 1:start_tok + 32]) AS n_toks
         |  FROM st)
         |SELECT doc_id, chunk_id, start_tok, n_toks,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, length(s) + 1),
         |        i -> CAST(ascii(substr(s, i, 1)) AS BIGINT))),
         |    (acc, x) -> (acc * 1000003 + x) % 2199023255552) AS chunk_fp
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,
    "corpus_pack_greedy" ->
      s"""WITH tk AS ($NormToksSql),
         |base AS (SELECT doc_id, doc_id % 8 AS shard,
         |    CAST(len(toks) AS BIGINT) AS n_toks FROM tk),
         |c AS (SELECT *, COALESCE(SUM(n_toks) OVER (PARTITION BY shard
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
         |    1 PRECEDING), 0) AS tb FROM base)
         |SELECT doc_id, shard, n_toks, CAST(tb // 256 AS BIGINT) AS pack_id,
         |  CAST(tb % 256 AS BIGINT) AS offset_in_pack
         |FROM c ORDER BY doc_id""".stripMargin,
    // string-shingle recomputation of the hash-based overlap counts (the
    // counts are hash-independent — same trick as the dedup oracles)
    "contam_ngram_overlap" ->
      s"""WITH sh AS ($WordShinglesSql),
         |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh
         |  WHERE doc_id % 10 = 0),
         |corp AS (SELECT doc_id, unnest(s) AS g FROM sh
         |  WHERE doc_id % 10 <> 0),
         |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corp
         |  GROUP BY doc_id),
         |hit AS (SELECT c.doc_id, COUNT(*) AS n_contaminated
         |  FROM corp c JOIN bench USING (g) GROUP BY c.doc_id)
         |SELECT doc_id, n_shingles,
         |  COALESCE(n_contaminated, 0) AS n_contaminated,
         |  CAST(COALESCE(n_contaminated, 0) AS DOUBLE) /
         |    CAST(n_shingles AS DOUBLE) AS contamination
         |FROM tot LEFT JOIN hit USING (doc_id) ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies
        |FROM u GROUP BY text ORDER BY survivor_id""".stripMargin,
    "dedup_normalized" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |UNION ALL SELECT doc_id + 1000000, ' ' || upper(text) || ' !!'
        |  FROM documents)
        |SELECT MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies,
        |  COUNT(DISTINCT sha256(text)) AS n_raw_variants
        |FROM u
        |GROUP BY trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
        |ORDER BY survivor_id""".stripMargin,
    "corpus_dup_matrix" ->
      """WITH u AS (SELECT source, text FROM documents
        |UNION ALL SELECT 're_' || source, text FROM documents
        |  WHERE (doc_id // 20) % 2 = 0),
        |sd AS (SELECT DISTINCT source AS src, sha256(text) AS h FROM u)
        |SELECT a.src AS source_a, b.src AS source_b,
        |  COUNT(*) AS n_shared
        |FROM sd a JOIN sd b ON a.h = b.h AND a.src < b.src
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dedup_exact_hash" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies
        |FROM u GROUP BY text ORDER BY survivor_id""".stripMargin,
    "dedup_minhash" -> jaccardPairsOracle(WordShinglesSql, 0.8),
    // bipartite recompute for the written-index probe: corpus doc a vs
    // delta twin b = doc_id + 1M over the SAME shingle chain — identity
    // pairs land at exactly 1.0 (shared empty-set convention), near
    // pairs appear in both orientations
    "dedup_incremental_near" -> LshProbeOracleSql,
    // compaction and bucketing must be invisible to results: both
    // probe variants answer to the SAME full value oracle
    "dedup_compacted_probe" -> LshProbeOracleSql,
    "dedup_bucketed_probe" -> LshProbeOracleSql,
    // half-built + half-appended index ≡ full build — same full oracle
    "dedup_bucketed_append_probe" -> LshProbeOracleSql,
    "sim_topk_compacted" -> IvfPqOracleSql,
    // same qualifying pairs as dedup_minhash, then the transitive closure
    // (recursive CTE) picks each component's min id
    "dedup_survivors" ->
      s"""WITH RECURSIVE sh AS ($WordShinglesSql),
         |pj AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
         |      AS DOUBLE) AS j
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         |qual AS (SELECT a, b FROM pj WHERE j >= 0.8),
         |pairs AS (
         |  SELECT a, b FROM qual
         |  UNION ALL SELECT a, b + 1000000 FROM qual
         |  UNION ALL SELECT b, a + 1000000 FROM qual
         |  UNION ALL SELECT a + 1000000, b + 1000000 FROM qual
         |  UNION ALL SELECT doc_id, doc_id + 1000000 FROM documents),
         |u AS (SELECT doc_id FROM documents
         |  UNION ALL SELECT doc_id + 1000000 FROM documents),
         |edges AS (SELECT a AS x, b AS y FROM pairs
         |  UNION ALL SELECT b AS x, a AS y FROM pairs),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS l FROM u
         |  UNION
         |  SELECT e.x AS id, r.l FROM edges e JOIN reach r ON r.id = e.y)
         |SELECT id AS doc_id, MIN(l) AS survivor_id
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "sample_hash" ->
      """SELECT doc_id FROM documents
        |WHERE ((doc_id + 0) * 2654435761) % 10 < 3
        |ORDER BY doc_id""".stripMargin,
    "sample_importance" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE ((doc_id + 0) * 2654435761) % 2000 <
        |  least(greatest(CAST(least(n_chars, 1500) AS BIGINT), 0), 2000)
        |ORDER BY doc_id""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, source FROM documents
        |WHERE ((doc_id + 0) * 2654435761) % 10 <
        |  CASE source WHEN 'src0' THEN 8 WHEN 'src1' THEN 5
        |    WHEN 'src2' THEN 2 ELSE 0 END
        |ORDER BY doc_id""".stripMargin,
    "sample_epoch_mix" ->
      """WITH w AS (SELECT doc_id, source,
        |  CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1
        |    ELSE 0 END
        |  + CASE WHEN ((doc_id + 0) * 2654435761) % 1000 <
        |      (CASE source WHEN 'src0' THEN 500 WHEN 'src2' THEN 250
        |        ELSE 0 END) THEN 1 ELSE 0 END AS copies
        |  FROM documents)
        |SELECT doc_id, source, unnest(range(0, copies)) AS copy
        |FROM w ORDER BY doc_id, copy""".stripMargin,
    // same arithmetic as Sampling.temperatureSample: sqrt is IEEE-exact,
    // every division double, identical association order on both sides;
    // sum_sqrt via the exact order-free quantized-int sum (a double SUM
    // is summation-order-dependent under parallel aggregation)
    "sample_temperature" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_stratum FROM documents
        |  GROUP BY lang),
        |t AS (SELECT CAST(SUM(CAST(round(
        |    sqrt(CAST(n_stratum AS DOUBLE)) * 1e10) AS BIGINT)) AS DOUBLE)
        |    / 1e10 AS sum_sqrt
        |  FROM c),
        |r AS (SELECT lang, n_stratum,
        |  least(CAST(1.0 AS DOUBLE), CAST(250 AS DOUBLE) *
        |    (sqrt(CAST(n_stratum AS DOUBLE)) / sum_sqrt) /
        |    CAST(n_stratum AS DOUBLE)) AS rate
        |  FROM c CROSS JOIN t)
        |SELECT d.doc_id, d.lang, r.n_stratum, r.rate
        |FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.lang
        |WHERE CAST(((d.doc_id + 0) * 2654435761) % 10000 AS DOUBLE) /
        |  CAST(10000 AS DOUBLE) < r.rate
        |ORDER BY d.doc_id""".stripMargin,
    // same Knuth-hash rank rule: undersized groups pass whole, oversized
    // groups keep the 70 hash-smallest rows; null-safe group join —
    // a NULL group is capped, not dropped
    "sample_lang_cap" ->
      """WITH n AS (SELECT lang, COUNT(*) AS n_group FROM documents
        |  GROUP BY lang),
        |r AS (SELECT d.doc_id, d.lang, n.n_group,
        |  ROW_NUMBER() OVER (PARTITION BY d.lang
        |    ORDER BY ((d.doc_id + 0) * 2654435761) % 1000000007, d.doc_id)
        |    AS rk
        |  FROM documents d JOIN n ON d.lang IS NOT DISTINCT FROM n.lang)
        |SELECT doc_id, lang, n_group FROM r
        |WHERE n_group <= 70 OR rk <= 70
        |ORDER BY doc_id""".stripMargin,
    // the equivalent GLOBAL rule: selected iff cumulative tokens
    // before this doc (score desc, Knuth hash, id order) + its own
    // fit the 10k budget — proves the operator's group-split form
    "sample_budget_cut" ->
      """WITH d AS (SELECT doc_id, n_chars // 50 AS q_score,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |o AS (SELECT *, COALESCE(SUM(toks) OVER (
        |    ORDER BY q_score DESC,
        |      ((doc_id + 0) * 2654435761) % 1000000007, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS cum_before FROM d)
        |SELECT doc_id, q_score, toks,
        |  cum_before + toks <= 10000 AS selected
        |FROM o ORDER BY doc_id""".stripMargin,
    // same cumulative Knuth-hash ranges: <8 train, <9 val, else test
    "sample_split" ->
      """SELECT doc_id,
        |  CASE WHEN ((doc_id + 0) * 2654435761) % 10 < 8 THEN 'train'
        |       WHEN ((doc_id + 0) * 2654435761) % 10 < 9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // full KMV recomputation: per-token Karp-Rabin fold -> split-multiply
    // Knuth scramble over [0, 2^41) (every intermediate < 2^63) ->
    // distinct -> 128 smallest per group -> (k-1)*M // kth_min
    "sketch_kmv_distinct" ->
      s"""WITH tk AS ($NormToksSql),
         |tok AS (SELECT d.lang, unnest(k.toks) AS t
         |  FROM tk k JOIN documents d ON k.doc_id = d.doc_id),
         |fp AS (SELECT lang,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(1, length(t) + 1),
         |      i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))),
         |    (acc, x) -> (acc * 1000003 + x) % 2199023255552) AS f
         |  FROM tok),
         |h AS (SELECT DISTINCT lang,
         |  (((f // 2097152) * 2654435761) % 2199023255552 * 2097152
         |    + (f % 2097152) * 2654435761) % 2199023255552 AS h
         |  FROM fp),
         |r AS (SELECT lang, h,
         |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn FROM h),
         |km AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_hashes,
         |  MAX(h) AS kth_min
         |  FROM r WHERE rn <= 128 GROUP BY lang)
         |SELECT lang, n_hashes, kth_min,
         |  CASE WHEN n_hashes < 128 THEN n_hashes
         |       ELSE (127 * 2199023255552) // kth_min END AS est_distinct
         |FROM km ORDER BY lang""".stripMargin,
    // histogram readout (exact int64 thresholds) + quantile_cont, which
    // matches Spark's interpolated percentile() bit-for-bit (the
    // corpus_report precedent)
    "sketch_quantile_hist" ->
      """WITH v AS (SELECT n_chars AS v FROM documents),
        |bins AS (SELECT v // 64 AS bin, COUNT(*) AS n FROM v GROUP BY 1),
        |cum AS (SELECT bin, SUM(n) OVER (ORDER BY bin) AS cum FROM bins),
        |tot AS (SELECT COUNT(*) AS nt FROM v),
        |ex AS (SELECT quantile_cont(v, 0.50) AS e50,
        |  quantile_cont(v, 0.90) AS e90,
        |  quantile_cont(v, 0.99) AS e99 FROM v),
        |ps AS (SELECT * FROM (VALUES (50), (90), (99)) t(p)),
        |est AS (SELECT p, MIN(bin) AS bin
        |  FROM ps, cum, tot WHERE cum >= (p * nt + 99) // 100 GROUP BY p)
        |SELECT p, bin * 64 AS est_lo, bin * 64 + 63 AS est_hi,
        |  CASE p WHEN 50 THEN e50 WHEN 90 THEN e90 ELSE e99 END
        |    AS exact_pct,
        |  abs(CAST(bin * 64 AS DOUBLE) + 31.5 -
        |    CASE p WHEN 50 THEN e50 WHEN 90 THEN e90 ELSE e99 END)
        |    AS abs_err
        |FROM est, ex ORDER BY p""".stripMargin,
    // rank-adaptive twin: same integer readout but the bin width itself is
    // derived (floor(range/32)+1 == ceil((range+1)/32)) — the oracle
    // re-derives calibration, width, bins, and thresholds from scratch
    "sketch_quantile_auto" ->
      """WITH v AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents),
        |cal AS (SELECT MIN(v) AS lo, MAX(v) AS hi,
        |  CAST(COUNT(*) AS BIGINT) AS n FROM v),
        |bw AS (SELECT lo, n, (hi - lo) // 32 + 1 AS w FROM cal),
        |bins AS (SELECT (v - lo) // w AS bin, COUNT(*) AS cnt
        |  FROM v, bw GROUP BY 1),
        |cum AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum FROM bins),
        |ps AS (SELECT * FROM (VALUES (50), (90), (99)) t(p)),
        |est AS (SELECT p, MIN(bin) AS bin FROM ps, cum, bw
        |  WHERE cum >= (p * n + 99) // 100 GROUP BY p)
        |SELECT p, lo + bin * w AS est_lo, lo + bin * w + (w - 1) AS est_hi
        |FROM est, bw ORDER BY p""".stripMargin,
    // recomputes the full CountMin grid from the raw token stream with
    // the same pairwise hash rows — every probed (depth, bucket) cell
    // holds at least the probe token's own count, so the inner join is
    // total and MIN-over-depth equals the engine's least() probe
    "sketch_cms_err" ->
      s"""WITH tk AS ($NormToksSql),
         |tok AS (SELECT unnest(toks) AS tok FROM tk),
         |cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_count
         |  FROM tok GROUP BY tok),
         |fp AS (SELECT tok, exact_count,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(1, length(tok) + 1),
         |      i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT))),
         |    (acc, x) -> (acc * 1000003 + x) % 2199023255552) AS f
         |  FROM cnt),
         |d(i, a, b) AS (VALUES (0, 1000003, 17), (1, 999983, 911),
         |  (2, 30011, 5041), (3, 65537, 65599)),
         |pos AS (SELECT tok, exact_count, i,
         |  ((a * (f % 2147483647) + b) % 2147483647) % 64 AS p
         |  FROM fp CROSS JOIN d),
         |counters AS (SELECT i, p, CAST(SUM(exact_count) AS BIGINT) AS c
         |  FROM pos GROUP BY i, p),
         |est AS (SELECT pos.tok, pos.exact_count, MIN(c.c) AS cms_est
         |  FROM pos JOIN counters c ON pos.i = c.i AND pos.p = c.p
         |  GROUP BY pos.tok, pos.exact_count)
         |SELECT tok, exact_count, cms_est,
         |  cms_est - exact_count AS overcount
         |FROM est ORDER BY exact_count DESC, tok LIMIT 20""".stripMargin,
    // same Morton shift-mask chain, same 4096-row file assignment from
    // an identical total order, same box; the audit aggregates are
    // pure integer min/max/count per file
    "layout_zorder_prune" ->
      """WITH li AS (SELECT l_partkey % 65536 AS x, l_suppkey % 65536 AS y,
        |    l_orderkey, l_linenumber FROM lineitem),
        |s1 AS (SELECT *, (x | (x << 8)) & 16711935 AS a_x,
        |  (y | (y << 8)) & 16711935 AS a_y FROM li),
        |s2 AS (SELECT *, (a_x | (a_x << 4)) & 252645135 AS b_x,
        |  (a_y | (a_y << 4)) & 252645135 AS b_y FROM s1),
        |s3 AS (SELECT *, (b_x | (b_x << 2)) & 858993459 AS c_x,
        |  (b_y | (b_y << 2)) & 858993459 AS c_y FROM s2),
        |s4 AS (SELECT *, ((c_x | (c_x << 1)) & 1431655765)
        |  | ((((c_y | (c_y << 1)) & 1431655765)) << 1) AS z FROM s3),
        |fn AS (SELECT x, y, (ROW_NUMBER() OVER (ORDER BY l_orderkey,
        |    l_linenumber) - 1) // 4096 AS file_id FROM s4),
        |fz AS (SELECT x, y, (ROW_NUMBER() OVER (ORDER BY z, l_orderkey,
        |    l_linenumber) - 1) // 4096 AS file_id FROM s4),
        |sn AS (SELECT file_id, MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny,
        |  MAX(y) AS mxy, COUNT(*) AS cnt,
        |  SUM(CASE WHEN x BETWEEN 256 AND 511 AND y BETWEEN 32 AND 47
        |    THEN 1 ELSE 0 END) AS m
        |  FROM fn GROUP BY file_id),
        |sz AS (SELECT file_id, MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny,
        |  MAX(y) AS mxy, COUNT(*) AS cnt,
        |  SUM(CASE WHEN x BETWEEN 256 AND 511 AND y BETWEEN 32 AND 47
        |    THEN 1 ELSE 0 END) AS m
        |  FROM fz GROUP BY file_id),
        |agg AS (
        |  SELECT 'natural' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
        |    CAST(SUM(CASE WHEN NOT (mxx < 256 OR mnx > 511 OR mxy < 32
        |      OR mny > 47) THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
        |    CAST(SUM(CASE WHEN NOT (mxx < 256 OR mnx > 511 OR mxy < 32
        |      OR mny > 47) THEN cnt ELSE 0 END) AS BIGINT) AS rows_scanned,
        |    CAST(SUM(m) AS BIGINT) AS rows_matched
        |  FROM sn
        |  UNION ALL
        |  SELECT 'zorder' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
        |    CAST(SUM(CASE WHEN NOT (mxx < 256 OR mnx > 511 OR mxy < 32
        |      OR mny > 47) THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
        |    CAST(SUM(CASE WHEN NOT (mxx < 256 OR mnx > 511 OR mxy < 32
        |      OR mny > 47) THEN cnt ELSE 0 END) AS BIGINT) AS rows_scanned,
        |    CAST(SUM(m) AS BIGINT) AS rows_matched
        |  FROM sz)
        |SELECT layout, n_files, files_hit, rows_scanned, rows_matched
        |FROM agg ORDER BY layout""".stripMargin,
    // same rank rule as the bounded-heap aggregate: score desc, id asc;
    // NULL-score/id rows are excluded like the engine's eager filter
    "rank_group_topk" ->
      """WITH r AS (SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS score,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY n_chars DESC, doc_id) AS rank
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL)
        |SELECT lang, rank, doc_id, score FROM r WHERE rank <= 3
        |ORDER BY lang, rank""".stripMargin,
    "corpus_shuffle" ->
      """WITH s AS (SELECT doc_id,
        |  ((doc_id + 0) * 2654435761) % 16 AS shard,
        |  ((doc_id + 1) * 2654435761) % 1000000007 AS sort_key
        |  FROM documents),
        |p AS (SELECT doc_id, shard, sort_key,
        |  ROW_NUMBER() OVER (PARTITION BY shard ORDER BY sort_key, doc_id)
        |    AS pos_in_shard
        |  FROM s)
        |SELECT doc_id, shard, sort_key, pos_in_shard,
        |  (pos_in_shard - 1) * 16 + shard AS order_key
        |FROM p ORDER BY doc_id""".stripMargin,
    // window strings stand in for the engine's window fingerprints (the
    // poly fingerprint is injective on this corpus — pinned by spec);
    // runs via gaps-and-islands on the position delta, like the engine
    "dedup_substring" ->
      s"""WITH $SubstringHitsSql,
        |shared AS (SELECT a, b, COUNT(DISTINCT win) AS n_shared
        |  FROM hits GROUP BY a, b),
        |rr AS (SELECT DISTINCT a, b, pa - pb AS diff, pa FROM hits),
        |isl AS (SELECT a, b, diff, pa,
        |  pa - ROW_NUMBER() OVER (PARTITION BY a, b, diff ORDER BY pa)
        |    AS grp FROM rr),
        |runs AS (SELECT a, b, COUNT(*) AS run FROM isl
        |  GROUP BY a, b, diff, grp),
        |longest AS (SELECT a, b, MAX(run) AS max_run FROM runs
        |  GROUP BY a, b)
        |SELECT s.a AS doc_a, s.b AS doc_b, s.n_shared,
        |  l.max_run + 11 AS longest_run_toks
        |FROM shared s JOIN longest l ON s.a = l.a AND s.b = l.b
        |ORDER BY doc_a, doc_b""".stripMargin,
    // scrub: same hit CTEs; removal starts per doc_b, rebuild via an
    // indexed list_filter (1-based i vs the engine's 0-based positions)
    "dedup_substring_scrub" ->
      s"""WITH $SubstringHitsSql,
        |rm AS (SELECT b AS doc_id, pb FROM hits GROUP BY b, pb),
        |rml AS (SELECT doc_id, list_sort(list(pb)) AS starts FROM rm
        |  GROUP BY doc_id),
        |kept AS (SELECT t.doc_id, t.toks,
        |  CASE WHEN r.starts IS NULL THEN t.toks
        |       ELSE list_filter(t.toks, (x, i) ->
        |         len(list_filter(r.starts,
        |           s -> i - 1 >= s AND i - 1 < s + 12)) = 0) END AS kt
        |  FROM tk t LEFT JOIN rml r USING (doc_id))
        |SELECT doc_id, len(toks) AS n_toks,
        |  len(toks) - len(kt) AS n_removed,
        |  -- array_to_string([]) is NULL in DuckDB, '' in Spark concat_ws
        |  sha256(COALESCE(array_to_string(kt, ' '), '')) AS clean_sha
        |FROM kept ORDER BY doc_id""".stripMargin,
    // replace chain generated from BpeTokenizer.Merges — one merge
    // table, two engines; boundary-safe " sym;" encoding (see scaladoc)
    "text_bpe_tokens" ->
      s"""WITH tk AS ($NormToksSql),
         |s0 AS (SELECT doc_id, toks,
         |  regexp_replace(COALESCE(array_to_string(toks, ' / '), ''),
         |    '([a-z0-9])', ' \\1;', 'g') AS s
         |  FROM tk),
         |m AS (SELECT doc_id, toks, $BpeChainSql AS ms FROM s0)
         |SELECT doc_id,
         |  COALESCE(length(array_to_string(toks, '')), 0) AS n_chars,
         |  CASE WHEN len(toks) = 0 THEN 0
         |    ELSE len(string_split(ms, ';')) - 1 END AS n_subwords,
         |  CASE WHEN COALESCE(length(array_to_string(toks, '')), 0) = 0
         |    THEN CAST(0 AS DOUBLE)
         |    ELSE CAST(len(string_split(ms, ';')) - 1 AS DOUBLE)
         |      / CAST(length(array_to_string(toks, '')) AS DOUBLE)
         |  END AS compression
         |FROM m ORDER BY doc_id""".stripMargin,
    // byte mapping + encoding + merge chain all GENERATED from the
    // ByteBpe constants — one table, two engines (see the query)
    "text_bpe_bytes" -> graft.functions.ByteBpe.oracleSql(),
    "text_vocab_topk" ->
      s"""WITH tk AS ($NormToksSql),
         |d AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM tk)
         |SELECT term, COUNT(*) AS df FROM d
         |GROUP BY term ORDER BY df DESC, term LIMIT 20""".stripMargin,
    // recursive-CTE Viterbi DP generated from UnigramTokenizer.Pieces
    // — one inventory, two engines (see the query comment)
    "text_unigram_score" -> graft.functions.UnigramTokenizer.oracleSql(
      "SELECT doc_id, substr(lower(text), 1, 256) AS txt " +
        "FROM documents"),
    "text_greedy_segment" ->
      graft.functions.UnigramTokenizer.greedyOracleSql(
        "SELECT doc_id, substr(lower(text), 1, 256) AS txt " +
          "FROM documents"),
    // the two-pass engine result equals the straightforward exact count
    // (sketchK >= phiDenom guarantees discovery recall; the verify pass
    // discards sketch false positives)
    "text_heavy_hitters" ->
      s"""WITH tk AS ($NormToksSql),
         |t AS (SELECT unnest(toks) AS term FROM tk),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
         |c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM t
         |      GROUP BY term)
         |SELECT term, cnt FROM c, tot WHERE cnt * 200 >= n
         |ORDER BY cnt DESC, term""".stripMargin,
    // per-group twin: group-wise totals and thresholds; the totals join
    // is null-safe (IS NOT DISTINCT FROM) to mirror the engine's
    // NULL-group-is-an-ordinary-group contract
    "text_heavy_hitters_lang" ->
      s"""WITH tk AS ($NormToksSql),
         |t AS (SELECT d.lang AS g, u.term
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM tk) u
         |  JOIN documents d USING (doc_id)),
         |tot AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM t
         |  GROUP BY g),
         |c AS (SELECT g, term, CAST(COUNT(*) AS BIGINT) AS cnt FROM t
         |  GROUP BY g, term)
         |SELECT c.g AS g, c.term, c.cnt FROM c
         |JOIN tot ON c.g IS NOT DISTINCT FROM tot.g
         |WHERE cnt * 200 >= n
         |ORDER BY c.g, cnt DESC, term""".stripMargin,
    "dedup_ngram_jaccard" -> jaccardPairsOracle(CharNgramsSql, 0.5),
    "dedup_simhash" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT x.doc_id AS a, y.doc_id AS b
        |FROM u x JOIN u y ON x.doc_id < y.doc_id AND x.text = y.text
        |ORDER BY a, b""".stripMargin,
    "dedup_embedding" ->
      """WITH p AS (SELECT a.vec_id AS a, b.vec_id AS b,
        |    list_cosine_similarity(a.embedding, b.embedding) AS c
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
        |qual AS (SELECT a, b FROM p WHERE c >= 0.95)
        |SELECT a, b FROM (
        |  SELECT a, b FROM qual
        |  UNION ALL SELECT a, b + 1000000 FROM qual
        |  UNION ALL SELECT b, a + 1000000 FROM qual
        |  UNION ALL SELECT a + 1000000, b + 1000000 FROM qual
        |  UNION ALL SELECT vec_id, vec_id + 1000000 FROM embeddings
        |) ORDER BY a, b""".stripMargin,
    // same delta synthesis; survivors = delta digests absent from the
    // corpus, smallest delta id per digest
    "dedup_incremental" -> IncrementalNewOracleSql,
    // the bucketed-index probe must be invisible to results
    "dedup_incremental_bucketed" -> IncrementalNewOracleSql,
    "dedup_incremental_bucketed_append" -> IncrementalNewOracleSql,
    // full recompute of the Bloom probe: the SAME poly-fingerprint fold,
    // Knuth double-hash chain (h1 + i·(h2|1) mod 2^20), and
    // all-positions-present test — bit packing is equivalent to position-
    // set membership, so the oracle needs no bitset. Same delta synthesis
    // as dedup_incremental (minus the within-batch copy).
    "dedup_bloom" ->
      """WITH u AS (
        |  SELECT 0 AS side, doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 1 AS side, doc_id + 1000000 AS doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN text
        |         ELSE text || ' updated' END AS text
        |  FROM documents),
        |n AS (SELECT side, doc_id,
        |  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
        |  FROM u),
        |f AS (SELECT side, doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(s) + 1),
        |        i -> CAST(ascii(substr(s, i, 1)) AS BIGINT))),
        |    (acc, x) -> (acc * 1000003 + x) % 2199023255552) AS fp
        |  FROM n),
        |h AS (SELECT side, doc_id,
        |  ((fp // 2097152) * 2654435761 % 2199023255552 * 2097152
        |    + (fp % 2097152) * 2654435761) % 2199023255552 AS h1,
        |  ((((fp + 99991) % 2199023255552) // 2097152) * 2654435761
        |      % 2199023255552 * 2097152
        |    + (((fp + 99991) % 2199023255552) % 2097152) * 2654435761)
        |    % 2199023255552 AS h2r
        |  FROM f),
        |hh AS (SELECT side, doc_id, h1,
        |  CASE WHEN h2r % 2 = 0 THEN h2r + 1 ELSE h2r END AS h2 FROM h),
        |cset AS (SELECT DISTINCT (h1 + i * h2) % 1048576 AS p
        |  FROM hh, range(0, 4) t(i) WHERE side = 0),
        |dpos AS (SELECT doc_id, i, (h1 + i * h2) % 1048576 AS p
        |  FROM hh, range(0, 4) t(i) WHERE side = 1)
        |SELECT d.doc_id, (COUNT(cset.p) = 4) AS maybe_dup
        |FROM dpos d LEFT JOIN cset ON d.p = cset.p
        |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin,
    // distinct (source, shingle-string) sets stand in for the engine's
    // shingle hashes (injectivity spec-pinned, like the minhash family);
    // jaccard = one double quotient of exact int64 set sizes. Shingle
    // sets come from the SHARED WordShinglesSql chain (empty-doc-safe),
    // joined back to documents for the source column
    "corpus_source_sim" ->
      s"""WITH ws AS ($WordShinglesSql),
        |sg AS (SELECT d.source AS g, ws.s
        |  FROM ws JOIN documents d ON ws.doc_id = d.doc_id),
        |sh AS (SELECT DISTINCT g, unnest(s) AS sh FROM sg),
        |sizes AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM sh
        |  GROUP BY g),
        |inter AS (SELECT a.g AS g_a, b.g AS g_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.g < b.g
        |  GROUP BY a.g, b.g)
        |SELECT i.g_a, i.g_b, sa.n AS n_a, sb.n AS n_b, i.n_inter,
        |  CAST(i.n_inter AS DOUBLE) /
        |    CAST(sa.n + sb.n - i.n_inter AS DOUBLE) AS jaccard
        |FROM inter i JOIN sizes sa ON sa.g = i.g_a
        |  JOIN sizes sb ON sb.g = i.g_b
        |ORDER BY g_a, g_b""".stripMargin,
    // full SemDeDup recomputation: union corpus -> smallest-id init ->
    // one exact-decimal Lloyd iteration (the ivf_kmeans_refine chain) ->
    // argmin assignment -> within-cell pairs at cosine >= 0.95
    "dedup_semantic" ->
      """WITH u AS (SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id,
        |    CAST(embedding AS DOUBLE[]) AS cent_vec
        |  FROM u ORDER BY vec_id LIMIT 16),
        |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, embedding
        |  FROM u),
        |a1 AS (SELECT vec_id, embedding, cent_id AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY list_distance(v, cent_vec), cent_id) AS rn
        |  FROM corp, cents),
        |c1 AS (SELECT embedding, cell FROM a1 WHERE rn = 1),
        |ex1 AS (SELECT cell, unnest(range(0, len(embedding))) AS pos,
        |  unnest(embedding) AS x FROM c1),
        |m1 AS (SELECT cell, pos,
        |  CAST(SUM(CAST(round(CAST(x AS DOUBLE) * 1e10) AS BIGINT)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1e10 AS mean
        |  FROM ex1 GROUP BY cell, pos),
        |v1 AS (SELECT cell, list(mean ORDER BY pos) AS cv FROM m1
        |  GROUP BY cell),
        |cent1 AS (SELECT c.cent_id AS cell, COALESCE(v1.cv, c.cent_vec) AS cv
        |  FROM cents c LEFT JOIN v1 ON v1.cell = c.cent_id),
        |a2 AS (SELECT corp.vec_id, corp.embedding, cent1.cell,
        |    ROW_NUMBER() OVER (PARTITION BY corp.vec_id
        |      ORDER BY list_distance(corp.v, cent1.cv), cent1.cell) AS rn
        |  FROM corp, cent1),
        |asg AS (SELECT vec_id, embedding, cell FROM a2 WHERE rn = 1)
        |SELECT a.vec_id AS a, b.vec_id AS b, a.cell AS cell
        |FROM asg a JOIN asg b
        |  ON a.cell = b.cell AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95
        |ORDER BY a, b""".stripMargin,
    "sim_topk_brute" -> BruteOracleSql,
    // same brute chain restricted to the label-1 corpus slice
    "sim_topk_filtered" ->
      """WITH bq AS (SELECT vec_id AS qid, embedding AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |bsc AS (SELECT qid, vec_id AS neighbor_id,
        |  list_cosine_similarity(qv, embedding) AS sim
        |  FROM bq, embeddings WHERE vec_id <> qid AND label = 1),
        |bruter AS (SELECT qid AS query_id, neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM bsc)
        |SELECT query_id, rank, neighbor_id FROM bruter WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // staged SQL recomputation: 32-dim prefix inner product (DuckDB list
    // slicing is 1-based-inclusive like Spark's slice; list_inner_product
    // folds sequentially like aggregate()), rank cut at k*overfetch, then
    // the exact-cosine rerank of the surviving candidate set
    // sign-bit Hamming recomputed per pair by index comparison; the
    // two-stage cut replicates the (coarse, id) and (cosine, id)
    // deterministic orderings exactly
    "sim_topk_binary" ->
      """WITH q AS (SELECT vec_id AS qid,
        |    CAST(embedding AS DOUBLE[]) AS qv, embedding AS qe
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv,
        |    embedding AS ce
        |  FROM embeddings),
        |s1 AS (SELECT qid, vec_id AS neighbor_id,
        |    len(list_filter(range(1, len(qv) + 1),
        |      i -> (qv[i] >= 0) != (cv[i] >= 0))) AS ham
        |  FROM q, c WHERE vec_id <> qid),
        |r1 AS (SELECT qid, neighbor_id, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY ham ASC, neighbor_id) AS rk
        |  FROM s1),
        |cand AS (SELECT qid, neighbor_id FROM r1 WHERE rk <= 20),
        |s2 AS (SELECT cand.qid AS query_id, cand.neighbor_id,
        |    list_cosine_similarity(q.qe, c.ce) AS sim
        |  FROM cand JOIN q ON q.qid = cand.qid
        |  JOIN c ON c.vec_id = cand.neighbor_id),
        |r2 AS (SELECT query_id, neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s2)
        |SELECT query_id, rank, neighbor_id FROM r2 WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "sim_topk_prefix" ->
      """WITH q AS (SELECT vec_id AS qid,
        |    CAST(embedding AS DOUBLE[]) AS qv, embedding AS qe
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv,
        |    embedding AS ce
        |  FROM embeddings),
        |s1 AS (SELECT qid, vec_id AS neighbor_id,
        |    list_inner_product(qv[1:32], cv[1:32]) AS coarse
        |  FROM q, c WHERE vec_id <> qid),
        |r1 AS (SELECT qid, neighbor_id, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY coarse DESC, neighbor_id) AS rk
        |  FROM s1),
        |cand AS (SELECT qid, neighbor_id FROM r1 WHERE rk <= 20),
        |s2 AS (SELECT cand.qid AS query_id, cand.neighbor_id,
        |    list_cosine_similarity(q.qe, c.ce) AS sim
        |  FROM cand JOIN q ON q.qid = cand.qid
        |  JOIN c ON c.vec_id = cand.neighbor_id),
        |r2 AS (SELECT query_id, neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s2)
        |SELECT query_id, rank, neighbor_id FROM r2 WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // product-quantization: codebook build + per-subspace assignment +
    // integer ADC + two-stage cut, all recomputed in SQL (PqCtesSql)
    "sim_topk_pq" ->
      s"""WITH $PqCtesSql
        |SELECT query_id, rank, neighbor_id FROM pr2 WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "sim_recall_pq" ->
      s"""WITH $PqCtesSql,
        |$BruteCtesSql,
        |pqs AS (SELECT query_id, neighbor_id FROM pr2 WHERE rank <= 5),
        |pbrute AS (SELECT query_id, neighbor_id FROM bruter
        |  WHERE rank <= 5),
        |ph AS (SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM pbrute b JOIN pqs i
        |    ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
        |  GROUP BY b.query_id)
        |SELECT q.qid AS query_id,
        |  COALESCE(ph.n_hits, 0) AS n_hits,
        |  COALESCE(ph.n_hits, 0) * 20 AS recall_pct
        |FROM pq q LEFT JOIN ph ON ph.query_id = q.qid
        |ORDER BY query_id""".stripMargin,
    // trained PQ: the whole per-subspace Lloyd pass + retrieval in SQL
    "sim_topk_pq_trained" ->
      s"""WITH $PqTrainedCtesSql
        |SELECT query_id, rank, neighbor_id FROM tr2 WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "sim_recall_pq_trained" ->
      s"""WITH $PqTrainedCtesSql,
        |$BruteCtesSql,
        |tqs AS (SELECT query_id, neighbor_id FROM tr2 WHERE rank <= 5),
        |tbrute AS (SELECT query_id, neighbor_id FROM bruter
        |  WHERE rank <= 5),
        |th AS (SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM tbrute b JOIN tqs i
        |    ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
        |  GROUP BY b.query_id)
        |SELECT q.qid AS query_id,
        |  COALESCE(th.n_hits, 0) AS n_hits,
        |  COALESCE(th.n_hits, 0) * 20 AS recall_pct
        |FROM tq q LEFT JOIN th ON th.query_id = q.qid
        |ORDER BY query_id""".stripMargin,
    // the full IVF-PQ composition in SQL (IvfPqCtesSql): residual PQ
    // over coarse cells, probed ADC, two deterministic cuts. The
    // indexed variant is the SAME computation over a written
    // cell-partitioned coded corpus, so it shares the oracle.
    "sim_topk_ivfpq" -> IvfPqOracleSql,
    "sim_topk_ivfpq_indexed" -> IvfPqOracleSql,
    "sim_recall_ivfpq" ->
      s"""WITH $IvfPqCtesSql,
        |$BruteCtesSql,
        |vqs AS (SELECT query_id, neighbor_id FROM vr2 WHERE rank <= 5),
        |vbrute AS (SELECT query_id, neighbor_id FROM bruter
        |  WHERE rank <= 5),
        |vh AS (SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM vbrute b JOIN vqs i
        |    ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
        |  GROUP BY b.query_id)
        |SELECT q.qid AS query_id,
        |  COALESCE(vh.n_hits, 0) AS n_hits,
        |  COALESCE(vh.n_hits, 0) * 20 AS recall_pct
        |FROM vq q LEFT JOIN vh ON vh.query_id = q.qid
        |ORDER BY query_id""".stripMargin,
    // full IVF pipeline in SQL: smallest-16-id centroids, L2-argmin cell
    // assignment (ties by centroid id), 4-probe routing, cosine rank.
    // The indexed variant is the SAME computation over a written
    // cell-partitioned corpus, so it shares the oracle.
    "sim_topk_ivf" -> IvfOracleSql,
    "sim_topk_ivf_indexed" -> IvfOracleSql,
    // the IVF chain over base ∪ appended delta: centroids stay the
    // BASE corpus's (append never moves cells), probes rank over the
    // union — exact-tie twins resolve by neighbor_id on both engines
    "sim_ivf_append_probe" ->
      """WITH cents AS (
        |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cent_vec
        |  FROM embeddings ORDER BY vec_id LIMIT 16),
        |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, embedding
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]), embedding
        |  FROM embeddings),
        |assigned AS (
        |  SELECT vec_id AS neighbor_id, embedding AS c_vec, cent_id AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY list_distance(v, cent_vec), cent_id) AS rn
        |  FROM corp, cents),
        |cells AS (SELECT neighbor_id, c_vec, cell FROM assigned WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, q_vec, cell FROM (
        |    SELECT vec_id AS query_id, embedding AS q_vec, cent_id AS cell,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id
        |        ORDER BY list_distance(v, cent_vec), cent_id) AS rn
        |    FROM corp, cents WHERE vec_id < 10)
        |  WHERE rn <= 4),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    list_cosine_similarity(q_vec, c_vec) AS sim
        |  FROM probes JOIN cells USING (cell)
        |  WHERE neighbor_id <> query_id),
        |ivfr AS (SELECT query_id, neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id FROM ivfr WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "sim_recall_ivf" -> IvfRecallOracleSql,
    // binary recall: the sim_topk_binary two-stage chain joined against
    // the shared brute-force CTE, same hit-count arithmetic
    "sim_recall_binary" ->
      s"""WITH hq AS (SELECT vec_id AS qid,
        |    CAST(embedding AS DOUBLE[]) AS qv, embedding AS qe
        |  FROM embeddings WHERE vec_id < 10),
        |hc AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv,
        |    embedding AS ce
        |  FROM embeddings),
        |hs1 AS (SELECT qid, vec_id AS neighbor_id,
        |    len(list_filter(range(1, len(qv) + 1),
        |      i -> (qv[i] >= 0) != (cv[i] >= 0))) AS ham
        |  FROM hq, hc WHERE vec_id <> qid),
        |hr1 AS (SELECT qid, neighbor_id, ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY ham ASC, neighbor_id) AS rk
        |  FROM hs1),
        |hcand AS (SELECT qid, neighbor_id FROM hr1 WHERE rk <= 20),
        |hs2 AS (SELECT hcand.qid AS query_id, hcand.neighbor_id,
        |    list_cosine_similarity(hq.qe, hc.ce) AS sim
        |  FROM hcand JOIN hq ON hq.qid = hcand.qid
        |  JOIN hc ON hc.vec_id = hcand.neighbor_id),
        |hr2 AS (SELECT query_id, neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM hs2),
        |$BruteCtesSql,
        |bin AS (SELECT query_id, neighbor_id FROM hr2 WHERE rank <= 5),
        |brute AS (SELECT query_id, neighbor_id FROM bruter WHERE rank <= 5),
        |h AS (SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM brute b JOIN bin i
        |    ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
        |  GROUP BY b.query_id)
        |SELECT q.vec_id AS query_id,
        |  COALESCE(h.n_hits, 0) AS n_hits,
        |  COALESCE(h.n_hits, 0) * 20 AS recall_pct
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
        |LEFT JOIN h ON h.query_id = q.vec_id
        |ORDER BY query_id""".stripMargin,
    "ivf_kmeans_refine" ->
      """WITH cents AS (
        |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cent_vec
        |  FROM embeddings ORDER BY vec_id LIMIT 16),
        |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, embedding
        |  FROM embeddings),
        |assigned AS (
        |  SELECT vec_id, embedding, cent_id AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY list_distance(v, cent_vec), cent_id) AS rn
        |  FROM corp, cents),
        |cells AS (SELECT embedding, cell FROM assigned WHERE rn = 1),
        |ex AS (SELECT cell,
        |  unnest(range(0, len(embedding))) AS pos,
        |  unnest(embedding) AS x FROM cells)
        |SELECT cell, pos,
        |  CAST(SUM(CAST(round(CAST(x AS DOUBLE) * 1e10) AS BIGINT)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1e10 AS mean
        |FROM ex GROUP BY cell, pos ORDER BY cell, pos""".stripMargin,
    // lexical more-like-this: integer fixed-point overlap score
    // Σ qtf·tf·N·1e6 // df — `//` floors, Spark DIV truncates, identical
    // on the all-non-negative operands; BIGINT sums are order-independent
    "sim_mlt_lexical" ->
      s"""WITH $MltCtesSql
        |SELECT query_id, rank, doc_id, lex_score FROM mltr
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // hybrid RRF: lexical top-20 ∪ cosine top-20, fused score
    // Σ 1e6 // (60 + rank) over the legs that surfaced the candidate
    // (UNION ALL + GROUP BY ≡ the engine's leg-union fuse)
    "sim_hybrid_rrf" ->
      s"""WITH $MltCtesSql,
        |$BruteCtesSql,
        |lexr AS (SELECT query_id, doc_id AS id, rank FROM mltr
        |  WHERE rank <= 20),
        |vecr AS (SELECT query_id, neighbor_id AS id, rank FROM bruter
        |  WHERE rank <= 20),
        |uleg AS (SELECT query_id, id, 1000000 // (60 + rank) AS c
        |    FROM lexr
        |  UNION ALL SELECT query_id, id, 1000000 // (60 + rank) AS c
        |    FROM vecr),
        |fus AS (SELECT query_id, id, CAST(SUM(c) AS BIGINT) AS rrf_score,
        |    CAST(COUNT(*) AS BIGINT) AS n_legs
        |  FROM uleg GROUP BY query_id, id),
        |fr AS (SELECT query_id, id, rrf_score, n_legs,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY rrf_score DESC, id) AS rank FROM fus)
        |SELECT query_id, rank, id AS doc_id, rrf_score, n_legs FROM fr
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // mirrors Similarity.int8TopK: per-dim min/max calibration, affine
    // round-half-up quantization (identical IEEE double ops both engines),
    // exact integer dot product, ties by neighbor_id
    "sim_topk_int8" ->
      """WITH corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |e AS (SELECT vec_id, unnest(v) AS x,
        |  unnest(range(1, len(v) + 1)) AS pos FROM corp),
        |st AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM e GROUP BY pos),
        |sc AS (SELECT pos, mn,
        |  CASE WHEN mx > mn THEN CAST(255 AS DOUBLE) / (mx - mn)
        |    ELSE CAST(0 AS DOUBLE) END AS s FROM st),
        |codes AS (SELECT vec_id,
        |    list(CAST(LEAST(GREATEST(round((x - mn) * s),
        |      CAST(0 AS DOUBLE)), CAST(255 AS DOUBLE)) AS BIGINT) - 128
        |      ORDER BY pos) AS c
        |  FROM e JOIN sc USING (pos) GROUP BY vec_id),
        |q AS (SELECT vec_id AS query_id, c AS qc FROM codes
        |  WHERE vec_id < 10),
        |s2 AS (SELECT query_id, vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, len(qc) + 1),
        |      i -> qc[i] * c[i])) AS BIGINT) AS score
        |  FROM q, codes WHERE vec_id <> query_id),
        |r AS (SELECT query_id, neighbor_id, score,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, neighbor_id) AS rank FROM s2)
        |SELECT query_id, rank, neighbor_id, score FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // two chained Lloyd's iterations: iteration-1 exact decimal means
    // (same arithmetic as ivf_kmeans_refine) become the iteration-2
    // centroid table; emptied cells keep their previous vector at every
    // step, mirroring Similarity.refineCentroids' fold
    "ivf_kmeans_refine2" ->
      """WITH cents AS (
        |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cent_vec
        |  FROM embeddings ORDER BY vec_id LIMIT 16),
        |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, embedding
        |  FROM embeddings),
        |a1 AS (
        |  SELECT vec_id, embedding, cent_id AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY list_distance(v, cent_vec), cent_id) AS rn
        |  FROM corp, cents),
        |c1 AS (SELECT embedding, cell FROM a1 WHERE rn = 1),
        |ex1 AS (SELECT cell, unnest(range(0, len(embedding))) AS pos,
        |  unnest(embedding) AS x FROM c1),
        |m1 AS (SELECT cell, pos,
        |  CAST(SUM(CAST(round(CAST(x AS DOUBLE) * 1e10) AS BIGINT)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1e10 AS mean
        |  FROM ex1 GROUP BY cell, pos),
        |v1 AS (SELECT cell, list(mean ORDER BY pos) AS cv FROM m1
        |  GROUP BY cell),
        |cent1 AS (SELECT c.cent_id AS cell, COALESCE(v1.cv, c.cent_vec) AS cv
        |  FROM cents c LEFT JOIN v1 ON v1.cell = c.cent_id),
        |a2 AS (
        |  SELECT corp.vec_id, corp.embedding, cent1.cell,
        |    ROW_NUMBER() OVER (PARTITION BY corp.vec_id
        |      ORDER BY list_distance(corp.v, cent1.cv), cent1.cell) AS rn
        |  FROM corp, cent1),
        |c2 AS (SELECT embedding, cell FROM a2 WHERE rn = 1),
        |ex2 AS (SELECT cell, unnest(range(0, len(embedding))) AS pos,
        |  unnest(embedding) AS x FROM c2),
        |m2 AS (SELECT cell, pos,
        |  CAST(SUM(CAST(round(CAST(x AS DOUBLE) * 1e10) AS BIGINT)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1e10 AS mean
        |  FROM ex2 GROUP BY cell, pos),
        |dims AS (SELECT DISTINCT unnest(range(0, len(embedding))) AS pos
        |  FROM corp)
        |SELECT ct.cell, d.pos, COALESCE(m2.mean, ct.cv[d.pos + 1]) AS mean
        |FROM cent1 ct CROSS JOIN dims d
        |LEFT JOIN m2 ON m2.cell = ct.cell AND m2.pos = d.pos
        |ORDER BY ct.cell, d.pos""".stripMargin,
    "text_repetition" ->
      s"""WITH tk AS ($NormToksSql),
         |ts AS (SELECT doc_id, len(toks) AS n_tokens,
         |  len(list_distinct(toks)) AS n_distinct FROM tk),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i + 1])) AS b
         |  FROM tk WHERE len(toks) >= 2),
         |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
         |bs AS (SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_n,
         |  COUNT(*) AS n_dist FROM bc GROUP BY doc_id)
         |SELECT t.doc_id, t.n_tokens,
         |  CASE WHEN t.n_tokens = 0 THEN CAST(0 AS DOUBLE)
         |    ELSE CAST(t.n_distinct AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)
         |    END AS distinct_token_ratio,
         |  COALESCE(CAST(b.top_n AS DOUBLE) / CAST(b.n_bigrams AS DOUBLE),
         |    CAST(0 AS DOUBLE)) AS top_bigram_frac,
         |  COALESCE(CAST(b.n_bigrams - b.n_dist AS DOUBLE)
         |    / CAST(b.n_bigrams AS DOUBLE), CAST(0 AS DOUBLE))
         |    AS dup_bigram_frac
         |FROM ts t LEFT JOIN bs b USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // occurrence-weighted scores (list_filter counts every occurrence);
    // same argmax tie-break as the engine: greatest lang among ties
    "text_langid" ->
      s"""WITH tk AS ($NormToksSql),
         |langs(lang, markers) AS (VALUES
         |  ('de', ['der','die','das','und','ist','von','mit','den','nicht','ein']),
         |  ('en', ['the','and','of','to','in','is','that','for','with','a']),
         |  ('es', ['el','la','de','que','y','en','los','del','las','por']),
         |  ('fr', ['le','la','les','de','des','et','en','une','que','pour']),
         |  ('zh', ['的','是','了','在','我','有','和','不','人','这'])),
         |scored AS (
         |  SELECT doc_id, lang, len(toks) AS n_toks,
         |    CASE WHEN lang = 'zh' THEN length(text) -
         |        length(regexp_replace(text, '[的是了在我有和不人这]', '', 'g'))
         |      ELSE len(list_filter(toks, t -> list_contains(markers, t))) END
         |      AS score,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY
         |      CASE WHEN lang = 'zh' THEN length(text) -
         |          length(regexp_replace(text, '[的是了在我有和不人这]', '', 'g'))
         |        ELSE len(list_filter(toks, t -> list_contains(markers, t)))
         |        END DESC,
         |      lang DESC) AS rn
         |  FROM tk CROSS JOIN langs)
         |SELECT doc_id,
         |  CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred,
         |  score AS marker_hits,
         |  CASE WHEN n_toks = 0 THEN CAST(0 AS DOUBLE)
         |    ELSE CAST(score AS DOUBLE) / CAST(n_toks AS DOUBLE)
         |    END AS marker_ratio
         |FROM scored WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "text_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
        |CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
        |length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits
        |FROM documents ORDER BY doc_id""".stripMargin,
    // mirrors TextFunctions.{langIdFromTokens, qualityScoreFromTokens,
    // subwordCount, stopwordRatioFromTokens} term by term
    "text_profile" ->
      s"""WITH tk AS ($NormToksSql),
         |langs(lang, markers) AS (VALUES
         |  ('de', ['der','die','das','und','ist','von','mit','den','nicht','ein']),
         |  ('en', ['the','and','of','to','in','is','that','for','with','a']),
         |  ('es', ['el','la','de','que','y','en','los','del','las','por']),
         |  ('fr', ['le','la','les','de','des','et','en','une','que','pour']),
         |  ('zh', ['的','是','了','在','我','有','和','不','人','这'])),
         |lang_scored AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN lang = 'zh' THEN length(text) -
         |        length(regexp_replace(text, '[的是了在我有和不人这]', '', 'g'))
         |      ELSE len(list_distinct(list_intersect(toks, markers))) END
         |      AS score,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY
         |      CASE WHEN lang = 'zh' THEN length(text) -
         |          length(regexp_replace(text, '[的是了在我有和不人这]', '', 'g'))
         |        ELSE len(list_distinct(list_intersect(toks, markers))) END
         |        DESC,
         |      lang DESC) AS rn
         |  FROM tk CROSS JOIN langs),
         |lang_pick AS (
         |  SELECT doc_id,
         |    CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
         |  FROM lang_scored WHERE rn = 1),
         |base AS (
         |  SELECT doc_id, text, toks,
         |    length(text) AS n_chars,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE length(regexp_split_to_array(trim(text), '\\s+')) END
         |      AS n_tokens,
         |    length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
         |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |      ELSE CAST(len(list_filter(toks, t -> list_contains(
         |        ['the','and','of','to','in','is','that','for','with','a'], t)))
         |        AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS stopword_ratio,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE CAST(list_sum(list_transform(
         |        regexp_split_to_array(trim(regexp_replace(regexp_replace(
         |          trim(text),
         |          '([a-zA-Z])([0-9])', '\\1 \\2', 'g'),
         |          '([0-9])([a-zA-Z])', '\\1 \\2', 'g')), '\\s+'),
         |        p -> CAST(ceil(length(p) / 4.0) AS INT))) AS INT) END
         |      AS n_subwords
         |  FROM tk),
         |scored AS (
         |  SELECT doc_id, n_subwords, stopword_ratio,
         |    CAST(CASE WHEN n_tokens >= 10 AND n_tokens <= 100000
         |      THEN 1.0 ELSE 0.3 END AS DOUBLE) AS len_score,
         |    CAST(CASE WHEN (CASE WHEN n_tokens = 0 THEN 0.0
         |        ELSE CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) END)
         |        BETWEEN 3 AND 12 THEN 1.0 ELSE 0.4 END AS DOUBLE)
         |      AS word_len_score,
         |    CAST(CASE WHEN (CASE WHEN n_chars = 0 THEN 0.0
         |        ELSE CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) END)
         |        <= 0.1 THEN 1.0 ELSE 0.5 END AS DOUBLE) AS punct_score,
         |    CAST(CASE WHEN (CASE WHEN n_chars = 0 THEN 0.0
         |        ELSE CAST(n_digits AS DOUBLE) / CAST(n_chars AS DOUBLE) END)
         |        <= 0.3 THEN 1.0 ELSE 0.5 END AS DOUBLE) AS digit_score,
         |    CAST(CASE WHEN stopword_ratio >= 0.05 THEN 1.0 ELSE 0.6 END
         |      AS DOUBLE) AS stop_score
         |  FROM base)
         |SELECT s.doc_id, l.lang_pred,
         |  s.len_score * CAST(0.25 AS DOUBLE)
         |    + s.word_len_score * CAST(0.2 AS DOUBLE)
         |    + s.punct_score * CAST(0.2 AS DOUBLE)
         |    + s.digit_score * CAST(0.15 AS DOUBLE)
         |    + s.stop_score * CAST(0.2 AS DOUBLE) AS quality,
         |  s.n_subwords, s.stopword_ratio
         |FROM scored s JOIN lang_pick l ON s.doc_id = l.doc_id
         |ORDER BY s.doc_id""".stripMargin,
    // same lang/quality arithmetic as the text_profile oracle, plus the
    // distinct-token gate; the keep verdict is a pure boolean over them
    "text_quality_filter" ->
      s"""WITH tk AS ($NormToksSql),
         |langs(lang, markers) AS (VALUES
         |  ('de', ['der','die','das','und','ist','von','mit','den','nicht','ein']),
         |  ('en', ['the','and','of','to','in','is','that','for','with','a']),
         |  ('es', ['el','la','de','que','y','en','los','del','las','por']),
         |  ('fr', ['le','la','les','de','des','et','en','une','que','pour']),
         |  ('zh', ['的','是','了','在','我','有','和','不','人','这'])),
         |lang_scored AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN lang = 'zh' THEN length(text) -
         |        length(regexp_replace(text, '[的是了在我有和不人这]', '', 'g'))
         |      ELSE len(list_distinct(list_intersect(toks, markers))) END
         |      AS score,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY
         |      CASE WHEN lang = 'zh' THEN length(text) -
         |          length(regexp_replace(text, '[的是了在我有和不人这]', '', 'g'))
         |        ELSE len(list_distinct(list_intersect(toks, markers))) END
         |        DESC,
         |      lang DESC) AS rn
         |  FROM tk CROSS JOIN langs),
         |lang_pick AS (
         |  SELECT doc_id,
         |    CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
         |  FROM lang_scored WHERE rn = 1),
         |base AS (
         |  SELECT doc_id, toks,
         |    length(text) AS n_chars,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE length(regexp_split_to_array(trim(text), '\\s+')) END
         |      AS n_tokens,
         |    length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
         |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |      ELSE CAST(len(list_filter(toks, t -> list_contains(
         |        ['the','and','of','to','in','is','that','for','with','a'], t)))
         |        AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS stopword_ratio,
         |    CASE WHEN len(toks) = 0 THEN CAST(0 AS DOUBLE)
         |      ELSE CAST(len(list_distinct(toks)) AS DOUBLE)
         |        / CAST(len(toks) AS DOUBLE) END AS distinct_ratio
         |  FROM tk),
         |scored AS (
         |  SELECT doc_id, distinct_ratio,
         |    CAST(CASE WHEN n_tokens >= 10 AND n_tokens <= 100000
         |      THEN 1.0 ELSE 0.3 END AS DOUBLE) * CAST(0.25 AS DOUBLE)
         |    + CAST(CASE WHEN (CASE WHEN n_tokens = 0 THEN 0.0
         |        ELSE CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) END)
         |        BETWEEN 3 AND 12 THEN 1.0 ELSE 0.4 END AS DOUBLE)
         |      * CAST(0.2 AS DOUBLE)
         |    + CAST(CASE WHEN (CASE WHEN n_chars = 0 THEN 0.0
         |        ELSE CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) END)
         |        <= 0.1 THEN 1.0 ELSE 0.5 END AS DOUBLE) * CAST(0.2 AS DOUBLE)
         |    + CAST(CASE WHEN (CASE WHEN n_chars = 0 THEN 0.0
         |        ELSE CAST(n_digits AS DOUBLE) / CAST(n_chars AS DOUBLE) END)
         |        <= 0.3 THEN 1.0 ELSE 0.5 END AS DOUBLE) * CAST(0.15 AS DOUBLE)
         |    + CAST(CASE WHEN stopword_ratio >= 0.05 THEN 1.0 ELSE 0.6 END
         |      AS DOUBLE) * CAST(0.2 AS DOUBLE) AS quality
         |  FROM base)
         |SELECT s.doc_id, l.lang_pred, s.quality, s.distinct_ratio,
         |  (s.quality >= 0.95 AND l.lang_pred = 'en'
         |    AND s.distinct_ratio >= 0.5) AS keep
         |FROM scored s JOIN lang_pick l ON s.doc_id = l.doc_id
         |ORDER BY s.doc_id""".stripMargin,
    // aug tokens == toks ++ toks[1:12] (the appended echo re-normalizes
    // to its own tokens); dup occurrences expand to position ranges,
    // DISTINCT collapses overlap — the kernel's union-coverage law
    "text_dup_ngram_coverage" ->
      s"""WITH tk AS ($NormToksSql),
         |atk AS (SELECT doc_id, list_concat(toks, toks[1:12]) AS t FROM tk),
         |g5 AS (SELECT doc_id, i, array_to_string(t[i:i+4], ' ') AS g
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
         |        FROM atk WHERE len(t) >= 5)),
         |c5 AS (SELECT doc_id, g FROM g5 GROUP BY doc_id, g
         |  HAVING COUNT(*) >= 2),
         |cov5 AS (SELECT doc_id, COUNT(DISTINCT pos) AS covered
         |  FROM (SELECT d.doc_id, unnest(range(d.i, d.i + 5)) AS pos
         |        FROM g5 d JOIN c5 c ON d.doc_id = c.doc_id AND d.g = c.g)
         |  GROUP BY doc_id),
         |g10 AS (SELECT doc_id, i, array_to_string(t[i:i+9], ' ') AS g
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 8)) AS i
         |        FROM atk WHERE len(t) >= 10)),
         |c10 AS (SELECT doc_id, g FROM g10 GROUP BY doc_id, g
         |  HAVING COUNT(*) >= 2),
         |cov10 AS (SELECT doc_id, COUNT(DISTINCT pos) AS covered
         |  FROM (SELECT d.doc_id, unnest(range(d.i, d.i + 10)) AS pos
         |        FROM g10 d JOIN c10 c ON d.doc_id = c.doc_id AND d.g = c.g)
         |  GROUP BY doc_id)
         |SELECT a.doc_id, len(a.t) AS n_tokens,
         |  COALESCE(c5.covered, 0) AS covered_5,
         |  COALESCE(c10.covered, 0) AS covered_10,
         |  CASE WHEN len(a.t) = 0 THEN CAST(0 AS DOUBLE)
         |    ELSE CAST(COALESCE(c5.covered, 0) AS DOUBLE)
         |      / CAST(len(a.t) AS DOUBLE) END AS dup5_frac
         |FROM atk a LEFT JOIN cov5 c5 ON a.doc_id = c5.doc_id
         |LEFT JOIN cov10 c10 ON a.doc_id = c10.doc_id
         |ORDER BY a.doc_id""".stripMargin,
    "text_gopher_rules" ->
      s"""WITH $GopherCtesSql
         |SELECT doc_id, n_words, n_lines, r_words, r_mean_len, r_symbol,
         |  r_bullet, r_ellipsis, r_alpha, r_stop, r_rep, keep
         |FROM grules ORDER BY doc_id""".stripMargin,
    "text_gopher_examples" ->
      s"""WITH $GopherCtesSql,
         |long AS (
         |  SELECT doc_id, 'r_words' AS rule, r_words AS pass FROM grules
         |  UNION ALL SELECT doc_id, 'r_mean_len', r_mean_len FROM grules
         |  UNION ALL SELECT doc_id, 'r_symbol', r_symbol FROM grules
         |  UNION ALL SELECT doc_id, 'r_bullet', r_bullet FROM grules
         |  UNION ALL SELECT doc_id, 'r_ellipsis', r_ellipsis FROM grules
         |  UNION ALL SELECT doc_id, 'r_alpha', r_alpha FROM grules
         |  UNION ALL SELECT doc_id, 'r_stop', r_stop FROM grules
         |  UNION ALL SELECT doc_id, 'r_rep', r_rep FROM grules),
         |rej AS (SELECT rule, doc_id,
         |  ROW_NUMBER() OVER (PARTITION BY rule ORDER BY doc_id) AS rank
         |  FROM long WHERE NOT pass)
         |SELECT rule, rank, doc_id FROM rej WHERE rank <= 3
         |ORDER BY rule, rank""".stripMargin,
    "text_gopher_summary" ->
      s"""WITH $GopherCtesSql
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN r_words THEN 0 ELSE 1 END) AS BIGINT)
         |    AS rej_words,
         |  CAST(SUM(CASE WHEN r_mean_len THEN 0 ELSE 1 END) AS BIGINT)
         |    AS rej_mean_len,
         |  CAST(SUM(CASE WHEN r_symbol THEN 0 ELSE 1 END) AS BIGINT)
         |    AS rej_symbol,
         |  CAST(SUM(CASE WHEN r_bullet THEN 0 ELSE 1 END) AS BIGINT)
         |    AS rej_bullet,
         |  CAST(SUM(CASE WHEN r_ellipsis THEN 0 ELSE 1 END) AS BIGINT)
         |    AS rej_ellipsis,
         |  CAST(SUM(CASE WHEN r_alpha THEN 0 ELSE 1 END) AS BIGINT)
         |    AS rej_alpha,
         |  CAST(SUM(CASE WHEN r_stop THEN 0 ELSE 1 END) AS BIGINT)
         |    AS rej_stop,
         |  CAST(SUM(CASE WHEN r_rep THEN 0 ELSE 1 END) AS BIGINT)
         |    AS rej_rep,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM grules""".stripMargin,
    "text_gopher_by_source" ->
      s"""WITH $GopherCtesSql
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN r_words THEN 0 ELSE 1 END) AS BIGINT)
         |    AS rej_words,
         |  CAST(SUM(CASE WHEN r_mean_len THEN 0 ELSE 1 END) AS BIGINT)
         |    AS rej_mean_len,
         |  CAST(SUM(CASE WHEN r_symbol THEN 0 ELSE 1 END) AS BIGINT)
         |    AS rej_symbol,
         |  CAST(SUM(CASE WHEN r_bullet THEN 0 ELSE 1 END) AS BIGINT)
         |    AS rej_bullet,
         |  CAST(SUM(CASE WHEN r_ellipsis THEN 0 ELSE 1 END) AS BIGINT)
         |    AS rej_ellipsis,
         |  CAST(SUM(CASE WHEN r_alpha THEN 0 ELSE 1 END) AS BIGINT)
         |    AS rej_alpha,
         |  CAST(SUM(CASE WHEN r_stop THEN 0 ELSE 1 END) AS BIGINT)
         |    AS rej_stop,
         |  CAST(SUM(CASE WHEN r_rep THEN 0 ELSE 1 END) AS BIGINT)
         |    AS rej_rep,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM grules g JOIN documents d ON g.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // kind replicates the magic dispatch over the ASCII corpus: PNG/JPEG
    // magics carry non-ASCII lead bytes so they can never fire on text;
    // GIF8/RIFF/BM CAN occur as ordinary text prefixes and must dispatch
    // — the oracle is non-vacuous wherever the corpus happens to start a
    // doc with one of them
    "mm_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |sha256(text) AS content_sha,
        |CASE WHEN substr(text, 1, 4) = 'GIF8' THEN 'gif'
        |     WHEN substr(text, 1, 4) = 'RIFF' THEN 'riff'
        |     WHEN substr(text, 1, 4) = 'fLaC' THEN 'flac'
        |     WHEN substr(text, 1, 2) = 'BM' THEN 'bmp'
        |     WHEN substr(hex(encode(text)), 9, 8) = '66747970' THEN 'mp4'
        |     WHEN substr(text, 1, 3) = 'ID3' THEN 'mp3'
        |     ELSE 'bin' END AS kind
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the planted dimensions in closed form — the engine must RECOVER
    // these by actually parsing the PNG/GIF/JPEG headers it built
    // (variable-offset SOF walk included); any offset/endianness/length
    // bug diverges from this row set
    "mm_dims" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |    ELSE 'jpeg' END AS kind,
        |  16 + doc_id % 1000 AS width,
        |  9 + doc_id % 500 AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the WAV walk is certified the same way: the oracle recomputes the
    // container's construction parameters; duration keeps the parser's
    // exact dsz*1000 // (sr*blk) form
    "mm_wav_meta" ->
      """WITH p AS (SELECT doc_id,
        |  1 + doc_id % 2 AS channels,
        |  8 + 8 * ((doc_id // 2) % 2) AS bits_per_sample,
        |  8000 * (1 + doc_id % 3) AS sample_rate,
        |  100 + doc_id % 900 AS nf
        |  FROM documents),
        |q AS (SELECT *, channels * bits_per_sample // 8 AS blk FROM p)
        |SELECT doc_id, channels, sample_rate, bits_per_sample,
        |  nf AS n_frames,
        |  (nf * blk * 1000) // (sample_rate * blk) AS duration_ms
        |FROM q ORDER BY doc_id""".stripMargin,
    // byte histogram mod 8 over the utf-8 payload (documents are pure
    // ASCII at every SF — verified — so ascii(char) == byte value). LEFT
    // JOIN back to documents: the Scala extractor emits an all-zero row
    // for an empty payload, so the oracle must too (latent empty-doc case).
    "mm_features" ->
      """WITH ex AS (SELECT doc_id, text,
        |    unnest(range(1, length(text) + 1)) AS i FROM documents),
        |byt AS (SELECT doc_id, ascii(substr(text, i, 1)) AS v FROM ex),
        |agg AS (SELECT doc_id, count(*) AS n, sum(v) AS s,
        |  count(*) FILTER (v % 8 = 0) AS c0, count(*) FILTER (v % 8 = 1) AS c1,
        |  count(*) FILTER (v % 8 = 2) AS c2, count(*) FILTER (v % 8 = 3) AS c3,
        |  count(*) FILTER (v % 8 = 4) AS c4, count(*) FILTER (v % 8 = 5) AS c5,
        |  count(*) FILTER (v % 8 = 6) AS c6, count(*) FILTER (v % 8 = 7) AS c7
        |  FROM byt GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.n, 0) AS n_bytes,
        |  COALESCE(CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE), 0.0)
        |    AS mean_byte,
        |  COALESCE(CAST(a.c0 AS FLOAT) / CAST(a.n AS FLOAT), 0.0) AS f0,
        |  COALESCE(CAST(a.c1 AS FLOAT) / CAST(a.n AS FLOAT), 0.0) AS f1,
        |  COALESCE(CAST(a.c2 AS FLOAT) / CAST(a.n AS FLOAT), 0.0) AS f2,
        |  COALESCE(CAST(a.c3 AS FLOAT) / CAST(a.n AS FLOAT), 0.0) AS f3,
        |  COALESCE(CAST(a.c4 AS FLOAT) / CAST(a.n AS FLOAT), 0.0) AS f4,
        |  COALESCE(CAST(a.c5 AS FLOAT) / CAST(a.n AS FLOAT), 0.0) AS f5,
        |  COALESCE(CAST(a.c6 AS FLOAT) / CAST(a.n AS FLOAT), 0.0) AS f6,
        |  COALESCE(CAST(a.c7 AS FLOAT) / CAST(a.n AS FLOAT), 0.0) AS f7
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // deterministic chunk sampling arithmetic replicated over text bytes
    // (chunkSize=64, nChunks=4; integer div/min/max identical to the
    // Scala; empty payloads emit no chunk rows there, hence len > 0)
    "mm_chunks" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len
        |  FROM documents WHERE length(text) > 0),
        |p AS (SELECT doc_id, text, len,
        |  LEAST(4, GREATEST(1, len // 64)) AS n FROM d),
        |ix AS (SELECT doc_id, text, len, n,
        |  unnest(range(0, n)) AS i FROM p),
        |ch AS (SELECT doc_id, i AS chunk_index,
        |  LEAST(i * GREATEST(1, (len - 64) // GREATEST(1, n - 1)),
        |    GREATEST(0, len - 1)) AS off,
        |  len, text FROM ix)
        |SELECT doc_id, chunk_index, off AS offset,
        |  sha256(substr(text, off + 1, LEAST(off + 64, len) - off))
        |    AS chunk_sha
        |FROM ch ORDER BY doc_id, chunk_index""".stripMargin,
    // the PCM data bytes are the shared primitive (b(j) closed form); the
    // oracle recombines byte pairs into little-endian two's-complement
    // samples itself — the engine must RECOVER identical samples by
    // actually walking the RIFF container and decoding the frames, so an
    // endianness / sign / interleave / offset bug diverges. sum_sq ≤
    // 250·2³⁰ is exact in BIGINT and DOUBLE; SQRT and the division are
    // correctly rounded IEEE ops on both sides, so rms hashes identically
    "mm_audio_features" ->
      """WITH p AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
        |    50 + doc_id % 200 AS nf FROM documents),
        |ix AS (SELECT doc_id, ch, unnest(range(0, ch * nf)) AS i FROM p),
        |samp AS (SELECT doc_id, i % ch AS channel, i // ch AS frame,
        |    ((doc_id*37 + (2*i)*101) % 256
        |      + 256 * ((doc_id*37 + (2*i+1)*101) % 256)
        |      + 32768) % 65536 - 32768 AS s
        |  FROM ix),
        |lagged AS (SELECT doc_id, channel, s,
        |    LAG(s) OVER (PARTITION BY doc_id, channel ORDER BY frame)
        |      AS prev
        |  FROM samp)
        |SELECT doc_id, channel, CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
        |  CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS sum_sq,
        |  CAST(COUNT(*) FILTER (prev IS NOT NULL
        |    AND (s < 0) != (prev < 0)) AS BIGINT) AS zero_crossings,
        |  SQRT(CAST(SUM(CAST(s AS BIGINT) * s) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE)) AS rms
        |FROM lagged GROUP BY doc_id, channel
        |ORDER BY doc_id, channel""".stripMargin,
    // all four per-format closed forms recomputed with the format
    // column attached — BMP's file-BGR channels remapped to the RGB
    // raster convention, JPEG's grayscale replicated into r=g=b
    "mm_image_any" ->
      """WITH ab AS (SELECT doc_id, 3 + doc_id % 6 AS w,
        |    2 + doc_id % 4 AS h, ((3*(3 + doc_id % 6) + 3) // 4) * 4
        |      AS stride
        |  FROM documents WHERE doc_id % 4 = 0),
        |abx AS (SELECT doc_id, w, h,
        |    unnest(range(0, w * h * 3)) AS i, stride FROM ab),
        |abv AS (SELECT doc_id, w, h, i % 3 AS c, (i // 3) % w AS x,
        |    i // (3 * w) AS y,
        |    (doc_id*11 + ((h - 1 - i // (3*w)) * stride
        |      + 3 * ((i // 3) % w) + i % 3) * 17) % 256 AS v
        |  FROM abx),
        |bmp AS (SELECT doc_id, 'bmp' AS kind,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels, CAST(w * h AS BIGINT) AS n_px,
        |  CAST(SUM(v) FILTER (c = 2) AS BIGINT) AS sum_r,
        |  CAST(SUM(v) FILTER (c = 1) AS BIGINT) AS sum_g,
        |  CAST(SUM(v) FILTER (c = 0) AS BIGINT) AS sum_b,
        |  CAST(SUM((x + y * w) * v) FILTER (c = 2) AS BIGINT) AS wsum_r,
        |  CAST(SUM((x + y * w) * v) FILTER (c = 1) AS BIGINT) AS wsum_g,
        |  CAST(SUM((x + y * w) * v) FILTER (c = 0) AS BIGINT) AS wsum_b,
        |  CAST(SUM(v) FILTER (c = 2) AS DOUBLE) / (w * h) AS mean_r,
        |  CAST(SUM(v) FILTER (c = 1) AS DOUBLE) / (w * h) AS mean_g,
        |  CAST(SUM(v) FILTER (c = 0) AS DOUBLE) / (w * h) AS mean_b
        |  FROM abv GROUP BY doc_id, w, h),
        |ap AS (SELECT doc_id, 3 + doc_id % 4 AS w, 2 + doc_id % 3 AS h
        |  FROM documents WHERE doc_id % 4 = 1),
        |apx AS (SELECT doc_id, w, h,
        |    CAST(unnest(range(0, 3 * w * h)) AS BIGINT) AS j FROM ap),
        |apv AS (SELECT doc_id, w, h, j % 3 AS c, (j // 3) % w AS x,
        |    j // (3 * w) AS y, (doc_id * 13 + j * 23) % 256 AS v
        |  FROM apx),
        |png AS (SELECT doc_id, 'png' AS kind,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels, CAST(w * h AS BIGINT) AS n_px,
        |  CAST(SUM(v) FILTER (c = 0) AS BIGINT) AS sum_r,
        |  CAST(SUM(v) FILTER (c = 1) AS BIGINT) AS sum_g,
        |  CAST(SUM(v) FILTER (c = 2) AS BIGINT) AS sum_b,
        |  CAST(SUM((x + y * w) * v) FILTER (c = 0) AS BIGINT) AS wsum_r,
        |  CAST(SUM((x + y * w) * v) FILTER (c = 1) AS BIGINT) AS wsum_g,
        |  CAST(SUM((x + y * w) * v) FILTER (c = 2) AS BIGINT) AS wsum_b,
        |  CAST(SUM(v) FILTER (c = 0) AS DOUBLE) / (w * h) AS mean_r,
        |  CAST(SUM(v) FILTER (c = 1) AS DOUBLE) / (w * h) AS mean_g,
        |  CAST(SUM(v) FILTER (c = 2) AS DOUBLE) / (w * h) AS mean_b
        |  FROM apv GROUP BY doc_id, w, h),
        |ag AS (SELECT doc_id, 3 + doc_id % 4 AS w, 2 + doc_id % 3 AS h
        |  FROM documents WHERE doc_id % 4 = 2),
        |agx AS (SELECT doc_id, w, h,
        |    CAST(unnest(range(0, w * h)) AS BIGINT) AS j FROM ag),
        |agi AS (SELECT doc_id, w, h, j % w AS x, j // w AS y,
        |    (doc_id * 13 + j * 23) % 128 AS idx FROM agx),
        |agc AS (SELECT doc_id, w, h, x, y,
        |    CAST(unnest(range(0, 3)) AS BIGINT) AS c, idx FROM agi),
        |agv AS (SELECT doc_id, w, h, x, y, c,
        |    (doc_id * 7 + (idx * 3 + c) * 11) % 256 AS v FROM agc),
        |gif AS (SELECT doc_id, 'gif' AS kind,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels, CAST(w * h AS BIGINT) AS n_px,
        |  CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
        |  CAST(SUM(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
        |  CAST(SUM(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
        |  CAST(SUM(CASE WHEN c = 0 THEN (x + y * w) * v ELSE 0 END)
        |    AS BIGINT) AS wsum_r,
        |  CAST(SUM(CASE WHEN c = 1 THEN (x + y * w) * v ELSE 0 END)
        |    AS BIGINT) AS wsum_g,
        |  CAST(SUM(CASE WHEN c = 2 THEN (x + y * w) * v ELSE 0 END)
        |    AS BIGINT) AS wsum_b,
        |  CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS DOUBLE)
        |    / (w * h) AS mean_r,
        |  CAST(SUM(CASE WHEN c = 1 THEN v ELSE 0 END) AS DOUBLE)
        |    / (w * h) AS mean_g,
        |  CAST(SUM(CASE WHEN c = 2 THEN v ELSE 0 END) AS DOUBLE)
        |    / (w * h) AS mean_b
        |  FROM agv GROUP BY doc_id, w, h),
        |aj AS (SELECT doc_id, 1 + doc_id % 3 AS bw, 1 + doc_id % 2 AS bh
        |  FROM documents WHERE doc_id % 4 = 3 AND doc_id % 20 != 19
        |    AND doc_id % 20 != 15),
        |ajk AS (SELECT doc_id, bw, bh,
        |    CAST(unnest(range(0, bw * bh)) AS BIGINT) AS k FROM aj),
        |ajm AS (SELECT doc_id, bw, bh, k,
        |    CASE WHEN k % 2 = 0 THEN 32 + (doc_id * 7 + k * 11) % 32
        |         ELSE -(32 + (doc_id * 7 + k * 11) % 32) END AS sd
        |  FROM ajk),
        |ajd AS (SELECT doc_id, bw, bh, k,
        |    SUM(sd) OVER (PARTITION BY doc_id ORDER BY k) AS dc FROM ajm),
        |ajv AS (SELECT doc_id, bw, bh, k,
        |    LEAST(255, GREATEST(0, (dc * 17 + 1028) // 8)) AS v FROM ajd),
        |jpg AS (SELECT doc_id, 'jpeg' AS kind,
        |  CAST(bw * 8 AS BIGINT) AS width, CAST(bh * 8 AS BIGINT) AS height,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(bw * bh * 64 AS BIGINT) AS n_px,
        |  CAST(SUM(64 * v) AS BIGINT) AS sum_r,
        |  CAST(SUM(64 * v) AS BIGINT) AS sum_g,
        |  CAST(SUM(64 * v) AS BIGINT) AS sum_b,
        |  CAST(SUM(v * (8 * (64 * (k % bw) + 28)
        |    + 8 * bw * 8 * (64 * (k // bw) + 28))) AS BIGINT) AS wsum_r,
        |  CAST(SUM(v * (8 * (64 * (k % bw) + 28)
        |    + 8 * bw * 8 * (64 * (k // bw) + 28))) AS BIGINT) AS wsum_g,
        |  CAST(SUM(v * (8 * (64 * (k % bw) + 28)
        |    + 8 * bw * 8 * (64 * (k // bw) + 28))) AS BIGINT) AS wsum_b,
        |  CAST(SUM(64 * v) AS DOUBLE) / (bw * bh * 64) AS mean_r,
        |  CAST(SUM(64 * v) AS DOUBLE) / (bw * bh * 64) AS mean_g,
        |  CAST(SUM(64 * v) AS DOUBLE) / (bw * bh * 64) AS mean_b
        |  FROM ajv GROUP BY doc_id, bw, bh),
        |wbp AS (SELECT doc_id, 4 + doc_id % 4 AS h,
        |    10 + doc_id % 60 AS g0, 128 + doc_id % 60 AS g1,
        |    20 + doc_id % 77 AS r, 30 + doc_id % 88 AS b
        |  FROM documents WHERE doc_id % 20 = 19),
        |wbx AS (SELECT doc_id, h, g0, g1, r, b,
        |    unnest(range(0, 8 * h)) AS pos FROM wbp),
        |wbg AS (SELECT doc_id, h, r, b, pos,
        |    CASE WHEN (pos % 8 + pos // 8 + doc_id) % 2 = 0
        |      THEN g0 ELSE g1 END AS gv
        |  FROM wbx),
        |wba AS (SELECT doc_id, MAX(h) AS h, MAX(r) AS r, MAX(b) AS b,
        |    SUM(gv) AS sum_g, SUM(pos * gv) AS wsum_g,
        |    SUM(pos) AS sp, COUNT(*) AS n
        |  FROM wbg GROUP BY doc_id),
        |wbf AS (SELECT doc_id, 'webp' AS kind,
        |  CAST(8 AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(4 AS BIGINT) AS channels, CAST(n AS BIGINT) AS n_px,
        |  CAST(r * n AS BIGINT) AS sum_r, CAST(sum_g AS BIGINT) AS sum_g,
        |  CAST(b * n AS BIGINT) AS sum_b,
        |  CAST(r * sp AS BIGINT) AS wsum_r,
        |  CAST(wsum_g AS BIGINT) AS wsum_g,
        |  CAST(b * sp AS BIGINT) AS wsum_b,
        |  CAST(r AS DOUBLE) AS mean_r,
        |  CAST(sum_g AS DOUBLE) / CAST(n AS DOUBLE) AS mean_g,
        |  CAST(b AS DOUBLE) AS mean_b
        |  FROM wba),
        |tfp AS (SELECT doc_id, 3 + doc_id % 6 AS w, 2 + doc_id % 4 AS h
        |  FROM documents WHERE doc_id % 20 = 15),
        |tfx AS (SELECT doc_id, w, h,
        |    unnest(range(0, w * h * 3)) AS j FROM tfp),
        |tfv AS (SELECT doc_id, w, h, j % 3 AS c, (j // 3) % w AS x,
        |    j // (3 * w) AS y, (doc_id * 23 + j * 29) % 256 AS v
        |  FROM tfx),
        |tff AS (SELECT doc_id, 'tiff' AS kind,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels, CAST(w * h AS BIGINT) AS n_px,
        |  CAST(SUM(v) FILTER (c = 0) AS BIGINT) AS sum_r,
        |  CAST(SUM(v) FILTER (c = 1) AS BIGINT) AS sum_g,
        |  CAST(SUM(v) FILTER (c = 2) AS BIGINT) AS sum_b,
        |  CAST(SUM((x + y * w) * v) FILTER (c = 0) AS BIGINT) AS wsum_r,
        |  CAST(SUM((x + y * w) * v) FILTER (c = 1) AS BIGINT) AS wsum_g,
        |  CAST(SUM((x + y * w) * v) FILTER (c = 2) AS BIGINT) AS wsum_b,
        |  CAST(SUM(v) FILTER (c = 0) AS DOUBLE) / (w * h) AS mean_r,
        |  CAST(SUM(v) FILTER (c = 1) AS DOUBLE) / (w * h) AS mean_g,
        |  CAST(SUM(v) FILTER (c = 2) AS DOUBLE) / (w * h) AS mean_b
        |  FROM tfv GROUP BY doc_id, w, h)
        |SELECT * FROM bmp UNION ALL SELECT * FROM png
        |UNION ALL SELECT * FROM gif UNION ALL SELECT * FROM jpg
        |UNION ALL SELECT * FROM wbf UNION ALL SELECT * FROM tff
        |ORDER BY doc_id""".stripMargin,

    // WAV branch (odd docs — stereo) + FLAC branch (even docs — mono),
    // each the same per-channel profile as its single-format oracle
    "mm_audio_any" ->
      """WITH wp AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
        |    50 + doc_id % 200 AS nf FROM documents WHERE doc_id % 2 = 1),
        |wix AS (SELECT doc_id, ch, unnest(range(0, ch * nf)) AS i
        |  FROM wp),
        |wsamp AS (SELECT doc_id, i % ch AS channel, i // ch AS frame,
        |    ((doc_id*37 + (2*i)*101) % 256
        |      + 256 * ((doc_id*37 + (2*i+1)*101) % 256)
        |      + 32768) % 65536 - 32768 AS s
        |  FROM wix),
        |wlag AS (SELECT doc_id, channel, s,
        |    LAG(s) OVER (PARTITION BY doc_id, channel ORDER BY frame)
        |      AS prev
        |  FROM wsamp),
        |wav AS (SELECT doc_id, 'riff' AS kind, channel,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
        |  CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS sum_sq,
        |  CAST(COUNT(*) FILTER (prev IS NOT NULL
        |    AND (s < 0) != (prev < 0)) AS BIGINT) AS zero_crossings,
        |  SQRT(CAST(SUM(CAST(s AS BIGINT) * s) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE)) AS rms
        |  FROM wlag GROUP BY doc_id, channel),
        |fp AS (SELECT doc_id, 50 + doc_id % 200 AS nf FROM documents
        |  WHERE doc_id % 2 = 0),
        |fix AS (SELECT doc_id, unnest(range(0, nf)) AS f FROM fp),
        |fsamp AS (SELECT doc_id, f,
        |    (256 * ((doc_id*37 + (2*f)*101) % 256)
        |      + (doc_id*37 + (2*f+1)*101) % 256
        |      + 32768) % 65536 - 32768 AS s
        |  FROM fix),
        |flag2 AS (SELECT doc_id, s,
        |    LAG(s) OVER (PARTITION BY doc_id ORDER BY f) AS prev
        |  FROM fsamp),
        |flac AS (SELECT doc_id, 'flac' AS kind,
        |  CAST(0 AS BIGINT) AS channel,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
        |  CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS sum_sq,
        |  CAST(COUNT(*) FILTER (prev IS NOT NULL
        |    AND (s < 0) != (prev < 0)) AS BIGINT) AS zero_crossings,
        |  SQRT(CAST(SUM(CAST(s AS BIGINT) * s) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE)) AS rms
        |  FROM flag2 GROUP BY doc_id)
        |SELECT * FROM wav UNION ALL SELECT * FROM flac
        |ORDER BY doc_id, channel""".stripMargin,

    // the fixture's parameters recomputed directly — duration_ms =
    // duration (timescale 1000), geometry from the doc_id formulas,
    // audio track on odd docs only
    "mm_video_meta" ->
      """SELECT doc_id,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS n_tracks,
        |  CAST(1 AS BIGINT) AS n_video,
        |  CAST(doc_id % 2 AS BIGINT) AS n_audio,
        |  CAST(1000 AS BIGINT) AS timescale,
        |  CAST(5000 + (doc_id % 1000) * 37 AS BIGINT) AS duration_ms,
        |  CAST(320 + (doc_id % 16) * 8 AS BIGINT) AS width,
        |  CAST(240 + (doc_id % 9) * 8 AS BIGINT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the chunk plan replayed in closed form: sample i (0-based) sits
    // in chunk c = i // spc at offset 4096(c+1) + within-chunk prefix
    // sum of the alternating sizes ((i - c·spc)·s0 + odd count via
    // floor-halves); sync filter mirrors the fixture's stss rule
    "mm_video_sync_ranges" ->
      """WITH p AS (SELECT doc_id,
        |    24 + doc_id % 8 AS n,
        |    80 + doc_id % 32 AS s0,
        |    (24 + doc_id % 8 + doc_id % 3) // (1 + doc_id % 3) AS spc
        |  FROM documents),
        |ix AS (SELECT doc_id, s0, spc, unnest(range(0, n)) AS i FROM p),
        |r AS (SELECT doc_id, i, i // spc AS c, s0, spc FROM ix
        |  WHERE doc_id % 2 = 0 OR i % 8 = 0)
        |SELECT doc_id,
        |  CAST(i + 1 AS BIGINT) AS sample_idx,
        |  CAST(c + 1 AS BIGINT) AS chunk_idx,
        |  CAST(4096 * (c + 1) + (i - c * spc) * s0
        |    + (i // 2 - (c * spc) // 2) AS BIGINT) AS offset,
        |  CAST(s0 + i % 2 AS BIGINT) AS size
        |FROM r ORDER BY doc_id, sample_idx""".stripMargin,

    // the full JPEG-in-TIFF pipeline in integers: per strip s and
    // block k, the signed DC walk (global index t = s*bw + k,
    // accumulation PER STRIP) lands every 8x8 block at
    // v = clamp((dc*17 + 1028) // 8); grayscale replicates r=g=b
    "mm_tiff_jpeg" ->
      """WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS bw FROM documents),
        |bk AS (SELECT doc_id, bw,
        |    CAST(unnest(range(0, 2 * bw)) AS BIGINT) AS t
        |  FROM p),
        |sd AS (SELECT doc_id, bw, t, t // bw AS s, t % bw AS k,
        |    CASE WHEN t % 2 = 0 THEN 32 + (doc_id * 7 + t * 11) % 32
        |         ELSE -(32 + (doc_id * 7 + t * 11) % 32) END AS d
        |  FROM bk),
        |dc AS (SELECT doc_id, bw, s, k,
        |    SUM(d) OVER (PARTITION BY doc_id, s ORDER BY k) AS dc
        |  FROM sd),
        |v AS (SELECT doc_id, bw, s, k,
        |    LEAST(255, GREATEST(0, (dc * 17 + 1028) // 8)) AS v
        |  FROM dc)
        |SELECT doc_id, 'tiff' AS kind,
        |  CAST(bw * 8 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(bw * 128 AS BIGINT) AS n_px,
        |  CAST(SUM(64 * v) AS BIGINT) AS sum_r,
        |  CAST(SUM(64 * v) AS BIGINT) AS sum_g,
        |  CAST(SUM(64 * v) AS BIGINT) AS sum_b,
        |  CAST(SUM(v * (8 * (64 * k + 28)
        |    + 8 * bw * 8 * (64 * s + 28))) AS BIGINT) AS wsum_r,
        |  CAST(SUM(v * (8 * (64 * k + 28)
        |    + 8 * bw * 8 * (64 * s + 28))) AS BIGINT) AS wsum_g,
        |  CAST(SUM(v * (8 * (64 * k + 28)
        |    + 8 * bw * 8 * (64 * s + 28))) AS BIGINT) AS wsum_b,
        |  CAST(SUM(64 * v) AS DOUBLE) / (bw * 128) AS mean_r,
        |  CAST(SUM(64 * v) AS DOUBLE) / (bw * 128) AS mean_g,
        |  CAST(SUM(64 * v) AS DOUBLE) / (bw * 128) AS mean_b
        |FROM v GROUP BY doc_id, bw ORDER BY doc_id""".stripMargin,

    // the TIFF strip bytes replayed: sample c of pixel (x,y) is byte
    // j = (y·w + x)·3 + c of the closed-form strip
    "mm_tiff_features" ->
      """WITH p AS (SELECT doc_id, 3 + doc_id % 6 AS w,
        |    2 + doc_id % 4 AS h FROM documents),
        |px AS (SELECT doc_id, w, h,
        |    unnest(range(0, w * h * 3)) AS j FROM p),
        |v AS (SELECT doc_id, w, h, j % 3 AS c, (j // 3) % w AS x,
        |    j // (3 * w) AS y,
        |    (doc_id * 23 + j * 29) % 256 AS v FROM px)
        |SELECT doc_id, 'tiff' AS kind,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels, CAST(w * h AS BIGINT) AS n_px,
        |  CAST(SUM(v) FILTER (c = 0) AS BIGINT) AS sum_r,
        |  CAST(SUM(v) FILTER (c = 1) AS BIGINT) AS sum_g,
        |  CAST(SUM(v) FILTER (c = 2) AS BIGINT) AS sum_b,
        |  CAST(SUM((x + y * w) * v) FILTER (c = 0) AS BIGINT) AS wsum_r,
        |  CAST(SUM((x + y * w) * v) FILTER (c = 1) AS BIGINT) AS wsum_g,
        |  CAST(SUM((x + y * w) * v) FILTER (c = 2) AS BIGINT) AS wsum_b,
        |  CAST(SUM(v) FILTER (c = 0) AS DOUBLE) / (w * h) AS mean_r,
        |  CAST(SUM(v) FILTER (c = 1) AS DOUBLE) / (w * h) AS mean_g,
        |  CAST(SUM(v) FILTER (c = 2) AS DOUBLE) / (w * h) AS mean_b
        |FROM v GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    "source_gzip_member" ->
      """SELECT doc_id, 'doc' || (doc_id % 100) || '.txt' AS fname,
        |  CAST(doc_id * 100 AS BIGINT) AS mtime,
        |  CAST(9 AS BIGINT) AS isize,
        |  'gz-' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS content,
        |  TRUE AS crc_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "source_gzip_members" ->
      """WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS k FROM documents),
        |e AS (SELECT doc_id, unnest(range(0, k)) AS i FROM p)
        |SELECT doc_id, CAST(i AS BIGINT) AS member_idx,
        |  'm' || i || '.txt' AS fname,
        |  CAST(doc_id * 100 + i AS BIGINT) AS mtime,
        |  CAST(12 AS BIGINT) AS isize,
        |  'gzm-' || lpad(CAST(doc_id AS VARCHAR), 6, '0') || '-' || i
        |    AS content,
        |  TRUE AS crc_ok
        |FROM e ORDER BY doc_id, member_idx""".stripMargin,

    // identical listing to the uncompressed twin — that IS the claim
    "source_warc_gz" ->
      """WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS k FROM documents),
        |info AS (SELECT doc_id, 'warcinfo' AS rec_type, '' AS target_uri,
        |  CAST(10 AS BIGINT) AS content_length,
        |  CAST(0 AS BIGINT) AS http_status FROM p),
        |e AS (SELECT doc_id, unnest(range(0, k)) AS i FROM p),
        |resp AS (SELECT doc_id, 'response' AS rec_type,
        |  'http://site' || (doc_id % 50) || '.example/p' || i
        |    AS target_uri,
        |  CAST(32 AS BIGINT) AS content_length,
        |  CAST(CASE WHEN i % 2 = 0 THEN 200 ELSE 404 END AS BIGINT)
        |    AS http_status FROM e)
        |SELECT * FROM info UNION ALL SELECT * FROM resp
        |ORDER BY doc_id, target_uri""".stripMargin,

    "source_tar_entries" ->
      """WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS k FROM documents),
        |e AS (SELECT doc_id, unnest(range(0, k)) AS i FROM p)
        |SELECT doc_id, 'sample' || i || '.txt' AS name,
        |  CAST(16 AS BIGINT) AS size, '0' AS typeflag,
        |  'content-' || lpad(CAST(doc_id AS VARCHAR), 6, '0')
        |    || '-' || i AS content
        |FROM e ORDER BY doc_id, name""".stripMargin,

    "source_warc_records" ->
      """WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS k FROM documents),
        |info AS (SELECT doc_id, 'warcinfo' AS rec_type, '' AS target_uri,
        |  CAST(10 AS BIGINT) AS content_length,
        |  CAST(0 AS BIGINT) AS http_status FROM p),
        |e AS (SELECT doc_id, unnest(range(0, k)) AS i FROM p),
        |resp AS (SELECT doc_id, 'response' AS rec_type,
        |  'http://site' || (doc_id % 50) || '.example/p' || i
        |    AS target_uri,
        |  CAST(32 AS BIGINT) AS content_length,
        |  CAST(CASE WHEN i % 2 = 0 THEN 200 ELSE 404 END AS BIGINT)
        |    AS http_status FROM e)
        |SELECT * FROM info UNION ALL SELECT * FROM resp
        |ORDER BY doc_id, target_uri""".stripMargin,

    // per sample: the BMP closed form (file BGR bottom-up — channel
    // c=2 is R; output y = 2 - file row) + the fixed-width caption
    "source_webdataset_samples" ->
      """WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS k FROM documents),
        |e AS (SELECT doc_id, unnest(range(0, k)) AS i FROM p),
        |px AS (SELECT doc_id, i, unnest(range(0, 36)) AS j FROM e),
        |v AS (SELECT doc_id, i, j % 3 AS c, (j // 3) % 4 AS x,
        |    2 - (j // 12) AS y,
        |    (doc_id * 11 + i * 19 + j * 17) % 256 AS v FROM px),
        |f AS (SELECT doc_id, i,
        |    CAST(SUM(v) FILTER (c = 2) AS BIGINT) AS sum_r,
        |    CAST(SUM(v) FILTER (c = 1) AS BIGINT) AS sum_g,
        |    CAST(SUM(v) FILTER (c = 0) AS BIGINT) AS sum_b,
        |    CAST(SUM((x + y * 4) * v) FILTER (c = 2) AS BIGINT) AS wsum_r,
        |    CAST(SUM((x + y * 4) * v) FILTER (c = 1) AS BIGINT) AS wsum_g,
        |    CAST(SUM((x + y * 4) * v) FILTER (c = 0) AS BIGINT) AS wsum_b
        |  FROM v GROUP BY doc_id, i)
        |SELECT doc_id, 's' || i AS key,
        |  'cap-' || lpad(CAST(doc_id AS VARCHAR), 6, '0') || '-' || i
        |    AS caption,
        |  'bmp' AS kind, CAST(4 AS BIGINT) AS width,
        |  CAST(3 AS BIGINT) AS height, CAST(12 AS BIGINT) AS n_px,
        |  sum_r, sum_g, sum_b, wsum_r, wsum_g, wsum_b
        |FROM f ORDER BY doc_id, key""".stripMargin,

    // even entries STORED, odd DEFLATED — identical recovered content,
    // every CRC verified against the in-plan crc32
    "source_zip_entries" ->
      """WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS k FROM documents),
        |e AS (SELECT doc_id, unnest(range(0, k)) AS i FROM p)
        |SELECT doc_id, 'f' || i || '.txt' AS name,
        |  CAST(CASE WHEN i % 2 = 0 THEN 0 ELSE 8 END AS BIGINT)
        |    AS method,
        |  CAST(16 AS BIGINT) AS usize,
        |  'payload-' || lpad(CAST(doc_id AS VARCHAR), 6, '0')
        |    || '-' || i AS content,
        |  TRUE AS crc_ok
        |FROM e ORDER BY doc_id, name""".stripMargin,

    // the zstd frame's every header/block field in closed form:
    // window = content size (Single_Segment), compressed_len =
    // 4 magic + 1 desc + 1 fcs + (3 + m) raw block + (3 + 1) RLE;
    // docs % 3 = 0 carry a 12-byte skippable frame first
    "source_zstd_frames" ->
      """WITH p AS (SELECT doc_id, 8 + doc_id % 9 AS m,
        |  3 + doc_id % 5 AS r FROM documents),
        |e AS (SELECT doc_id, m, r, unnest(range(0, m)) AS j FROM p),
        |lits AS (SELECT doc_id, any_value(m) AS m, any_value(r) AS r,
        |  string_agg(chr(CAST(97 + (doc_id*7 + j*3) % 26 AS INT)),
        |    '' ORDER BY j) AS s
        |  FROM e GROUP BY doc_id),
        |z AS (SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS frame_idx,
        |  'zstd' AS kind, CAST(m + r AS BIGINT) AS window_size,
        |  CAST(0 AS BIGINT) AS dict_id,
        |  CAST(m + r AS BIGINT) AS content_size,
        |  CAST(2 AS BIGINT) AS n_blocks,
        |  CAST(13 + m AS BIGINT) AS compressed_len,
        |  FALSE AS has_checksum,
        |  s || repeat(chr(CAST(97 + doc_id % 26 AS INT)), CAST(r AS INT))
        |    AS content,
        |  CAST(NULL AS BOOLEAN) AS checksum_ok
        |  FROM lits),
        |sk AS (SELECT doc_id, CAST(0 AS BIGINT) AS frame_idx,
        |  'skippable' AS kind, CAST(0 AS BIGINT) AS window_size,
        |  CAST(0 AS BIGINT) AS dict_id, CAST(4 AS BIGINT) AS content_size,
        |  CAST(0 AS BIGINT) AS n_blocks,
        |  CAST(12 AS BIGINT) AS compressed_len, FALSE AS has_checksum,
        |  CAST(NULL AS VARCHAR) AS content,
        |  CAST(NULL AS BOOLEAN) AS checksum_ok
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT * FROM z UNION ALL SELECT * FROM sk
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // each golden template's decoded plaintext + header fields; the
    // level-3 frames are single-segment (window = content size),
    // single-block, no dictionary, no checksum
    "source_zstd_compressed" ->
      """WITH e AS (SELECT doc_id, unnest(range(0, 300)) AS i
        |  FROM documents),
        |t2 AS (SELECT doc_id,
        |  string_agg(chr(CAST(97 + (i*11 + 5) % 26 AS INT)),
        |    '' ORDER BY i) AS s
        |  FROM e GROUP BY doc_id)
        |SELECT d.doc_id, CAST(0 AS BIGINT) AS frame_idx,
        |  'zstd' AS kind,
        |  CAST(CASE d.doc_id % 4 WHEN 0 THEN 240 WHEN 1 THEN 360
        |    ELSE 300 END AS BIGINT) AS window_size,
        |  CAST(0 AS BIGINT) AS dict_id,
        |  CAST(CASE d.doc_id % 4 WHEN 0 THEN 240 WHEN 1 THEN 360
        |    ELSE 300 END AS BIGINT) AS content_size,
        |  CAST(1 AS BIGINT) AS n_blocks,
        |  CAST(CASE d.doc_id % 4 WHEN 0 THEN 22 WHEN 1 THEN 65
        |    WHEN 2 THEN 43 ELSE 27 END AS BIGINT) AS compressed_len,
        |  FALSE AS has_checksum,
        |  CASE d.doc_id % 4
        |    WHEN 0 THEN repeat('alpha ', 40)
        |    WHEN 1 THEN repeat(
        |      'the quick brown fox jumps over the lazy dog. ', 8)
        |    WHEN 2 THEN t2.s
        |    ELSE repeat('key=value;', 30) END AS content,
        |  CAST(NULL AS BOOLEAN) AS checksum_ok
        |FROM documents d JOIN t2 USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // compress→decompress is lossless byte-for-byte; n_bytes is the
    // UTF-8 octet length of the original body
    "source_zstd_encode" ->
      """SELECT doc_id, text,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,

    "source_lz4_encode" ->
      """SELECT doc_id, text,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,

    // python-writer batch constants: baseOffset 1000, 6 records, ts
    // base 1.6e12 spaced 10 ms, sizes measured per codec file
    "source_kafka_batches" ->
      """SELECT doc_id, CAST(1000 AS BIGINT) AS base_offset,
        |  CAST(6 AS BIGINT) AS records_count,
        |  CASE doc_id % 5 WHEN 0 THEN 'none' WHEN 1 THEN 'gzip'
        |    WHEN 2 THEN 'snappy' WHEN 3 THEN 'lz4' ELSE 'zstd' END
        |    AS codec,
        |  TRUE AS crc_ok, FALSE AS transactional, FALSE AS control,
        |  CAST(1600000000000 AS BIGINT) AS base_timestamp,
        |  CAST(1600000000050 AS BIGINT) AS max_timestamp,
        |  CAST(CASE doc_id % 5 WHEN 0 THEN 259 WHEN 1 THEN 188
        |    WHEN 2 THEN 196 WHEN 3 THEN 202 ELSE 185 END AS BIGINT)
        |    AS batch_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,

    "source_kafka_records" ->
      """WITH e AS (SELECT doc_id,
        |  CASE doc_id % 5 WHEN 0 THEN 'none' WHEN 1 THEN 'gzip'
        |    WHEN 2 THEN 'snappy' WHEN 3 THEN 'lz4' ELSE 'zstd' END
        |    AS tag,
        |  unnest(range(0, 6)) AS i FROM documents)
        |SELECT doc_id, CAST(1000 + i AS BIGINT) AS "offset",
        |  CAST(1600000000000 + 10 * i AS BIGINT) AS "timestamp",
        |  'k' || tag || '-' || i AS key,
        |  'value-' || tag || '-' || i || '-' || repeat('x',
        |    CAST(i % 7 AS INT)) AS value,
        |  CAST(CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_headers,
        |  tag AS codec
        |FROM e ORDER BY doc_id, "offset"""".stripMargin,

    // the capstone's closed-form events: k = 5 + doc%4 records,
    // event e -> user e*3%7, type by e%4, value 2.5e (exact binary
    // fraction -- the float-fold trap doesn't bite)
    "source_kafka_avro" ->
      """WITH p AS (SELECT doc_id, 5 + doc_id % 4 AS k FROM documents),
        |e AS (SELECT doc_id, unnest(range(0, k)) AS ev FROM p)
        |SELECT doc_id, CAST(100 + ev AS BIGINT) AS "offset",
        |  CAST(ev AS BIGINT) AS event_id,
        |  CAST((ev * 3) % 7 AS BIGINT) AS user_id,
        |  CASE ev % 4 WHEN 0 THEN 'view' WHEN 1 THEN 'click'
        |    WHEN 2 THEN 'purchase' ELSE 'refund' END AS event_type,
        |  2.5 * ev AS value
        |FROM e ORDER BY doc_id, "offset"""".stripMargin,

    // pyarrow's lz4 frames: version 01, independent blocks, no
    // checksums/content-size (header HC always verified -> true),
    // one block each at these sizes
    "source_lz4_frames" ->
      """WITH e AS (SELECT doc_id, unnest(range(0, 300)) AS i
        |  FROM documents),
        |t2 AS (SELECT doc_id,
        |  string_agg(chr(CAST(97 + (i*11 + 5) % 26 AS INT)),
        |    '' ORDER BY i) AS s
        |  FROM e GROUP BY doc_id)
        |SELECT d.doc_id, CAST(0 AS BIGINT) AS frame_idx,
        |  'lz4' AS kind, TRUE AS block_indep,
        |  FALSE AS content_checksum,
        |  CAST(-1 AS BIGINT) AS content_size,
        |  CAST(1 AS BIGINT) AS n_blocks,
        |  CAST(CASE d.doc_id % 4 WHEN 0 THEN 31 WHEN 1 THEN 73
        |    WHEN 2 THEN 52 ELSE 36 END AS BIGINT) AS compressed_len,
        |  CASE d.doc_id % 4
        |    WHEN 0 THEN repeat('alpha ', 40)
        |    WHEN 1 THEN repeat(
        |      'the quick brown fox jumps over the lazy dog. ', 8)
        |    WHEN 2 THEN t2.s
        |    ELSE repeat('key=value;', 30) END AS content,
        |  TRUE AS checksum_ok
        |FROM documents d JOIN t2 USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "source_snappy_decode" ->
      """WITH e AS (SELECT doc_id, unnest(range(0, 300)) AS i
        |  FROM documents),
        |t2 AS (SELECT doc_id,
        |  string_agg(chr(CAST(97 + (i*11 + 5) % 26 AS INT)),
        |    '' ORDER BY i) AS s
        |  FROM e GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(CASE d.doc_id % 4 WHEN 0 THEN 240 WHEN 1 THEN 360
        |    ELSE 300 END AS BIGINT) AS usize,
        |  CASE d.doc_id % 4
        |    WHEN 0 THEN repeat('alpha ', 40)
        |    WHEN 1 THEN repeat(
        |      'the quick brown fox jumps over the lazy dog. ', 8)
        |    WHEN 2 THEN t2.s
        |    ELSE repeat('key=value;', 30) END AS content
        |FROM documents d JOIN t2 USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // the four golden WARC records (response/a 53/200, request/a 19/0,
    // response/b 35/404, metadata/b 12/0) selected per doc: k = 2 +
    // doc%3 frames starting at rotation doc%4
    "source_warc_zst" ->
      """WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS k FROM documents),
        |e AS (SELECT doc_id, unnest(range(0, k)) AS j FROM p),
        |r AS (SELECT doc_id, (doc_id + j) % 4 AS ri FROM e)
        |SELECT doc_id,
        |  CASE ri WHEN 0 THEN 'response' WHEN 1 THEN 'request'
        |    WHEN 2 THEN 'response' ELSE 'metadata' END AS rec_type,
        |  CASE WHEN ri IN (0, 1) THEN 'http://example.com/a'
        |    ELSE 'http://example.com/b' END AS target_uri,
        |  CAST(CASE ri WHEN 0 THEN 53 WHEN 1 THEN 19 WHEN 2 THEN 35
        |    ELSE 12 END AS BIGINT) AS content_length,
        |  CAST(CASE ri WHEN 0 THEN 200 WHEN 2 THEN 404
        |    ELSE 0 END AS BIGINT) AS http_status
        |FROM r ORDER BY doc_id, rec_type, target_uri,
        |  content_length""".stripMargin,

    // the expected page text replayed from the documents table
    // through the text_html_strip chain; codings are the doc%4
    // rotation, body_len the UTF-8 byte length of the HTML wrap
    "source_warc_html_text" ->
      """WITH h AS (SELECT doc_id, source, text,
        |  '<div class="doc"><h1>' || source || '</h1><p>' ||
        |    replace(replace(text, '&', '&amp;'), '<', '&lt;') ||
        |    '</p><br/></div>' AS html
        |  FROM documents)
        |SELECT doc_id,
        |  'http://site' || (doc_id % 50) || '.example/doc' || doc_id
        |    AS target_uri,
        |  CAST(200 AS BIGINT) AS http_status,
        |  'text/html; charset=utf-8' AS content_type,
        |  CASE WHEN doc_id % 4 < 2 THEN 'gzip' ELSE '' END
        |    AS content_encoding,
        |  CASE WHEN doc_id % 2 = 0 THEN 'chunked' ELSE '' END
        |    AS transfer_encoding,
        |  CAST(strlen(html) AS BIGINT) AS body_len,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(html, '<[A-Za-z/!][^>]{0,256}>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean
        |FROM h ORDER BY doc_id""".stripMargin,

    // even docs decode through the zstd coding (clean text + exact
    // byte length); odd docs carry the unsupported `br` coding and
    // decline as body_len -1 / NULL text
    "source_warc_zstd_encoding" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'zstd' ELSE 'br' END
        |    AS content_encoding,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |    THEN length(substr(text, 1, 40)) + 7
        |    ELSE -1 END AS BIGINT) AS body_len,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN trim(regexp_replace(substr(text, 1, 40),
        |      '\s+', ' ', 'g'))
        |    ELSE NULL END AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    // every decoded text stated literally (é = chr(233), € =
    // chr(8364)); byte lengths: r0 utf-8 len+13, r1 +BOM3, r2
    // 2 bytes/char + BOM2 over len+12 chars, r3 cp1252 len+47
    "source_warc_charsets" ->
      """WITH w AS (SELECT doc_id, substr(text, 1, 24) AS w
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN 'text/html; charset=utf-8'
        |    ELSE 'text/html' END AS content_type,
        |  CAST(CASE doc_id % 4
        |    WHEN 0 THEN length(w) + 13
        |    WHEN 1 THEN length(w) + 16
        |    WHEN 2 THEN 2 * length(w) + 26
        |    ELSE length(w) + 47 END AS BIGINT) AS body_len,
        |  CASE doc_id % 4
        |    WHEN 3 THEN trim(regexp_replace(w || ' eur ' ||
        |      chr(8364) || ' caf' || chr(233), '\s+', ' ', 'g'))
        |    ELSE trim(regexp_replace(w || ' caf' || chr(233),
        |      '\s+', ' ', 'g'))
        |  END AS clean
        |FROM w ORDER BY doc_id""".stripMargin,

    // the closed-form BMP pixel arithmetic (the mm_bmp_features
    // recipe) behind the HTTP hop, plus the content-type and
    // text-is-null pins
    "mm_warc_images" ->
      """WITH p AS (SELECT doc_id, 3 + doc_id % 6 AS w,
        |    2 + doc_id % 4 AS h FROM documents),
        |q AS (SELECT doc_id, w, h, ((3*w + 3) // 4) * 4 AS stride FROM p),
        |px AS (SELECT doc_id, w, h, stride,
        |    unnest(range(0, w * h * 3)) AS i FROM q),
        |v AS (SELECT doc_id, w, h,
        |    i % 3 AS c,
        |    (doc_id*11
        |      + ((h - 1 - i // (3*w)) * stride + 3 * ((i // 3) % w)
        |         + i % 3) * 17) % 256 AS val
        |  FROM px)
        |SELECT doc_id, 'image/bmp' AS content_type,
        |  TRUE AS text_is_null,
        |  w AS width, h AS height,
        |  CAST(w * h AS BIGINT) AS n_px,
        |  CAST(SUM(val) FILTER (c = 0) AS BIGINT) AS sum_b,
        |  CAST(SUM(val) FILTER (c = 1) AS BIGINT) AS sum_g,
        |  CAST(SUM(val) FILTER (c = 2) AS BIGINT) AS sum_r,
        |  CAST(SUM(val) FILTER (c = 0) AS DOUBLE) / (w * h) AS mean_b,
        |  CAST(SUM(val) FILTER (c = 1) AS DOUBLE) / (w * h) AS mean_g,
        |  CAST(SUM(val) FILTER (c = 2) AS DOUBLE) / (w * h) AS mean_r
        |FROM v GROUP BY doc_id, w, h
        |ORDER BY doc_id""".stripMargin,

    // group-duplicated pages (base = doc - doc%3), stripped through
    // the shared chain, word-gated, exact-deduped to group minima
    "cc_pipeline_survivors" ->
      """WITH g AS (SELECT d.doc_id, b.text AS text, b.source AS source
        |  FROM documents d
        |  JOIN documents b ON b.doc_id = d.doc_id - d.doc_id % 3),
        |h AS (SELECT doc_id,
        |  '<div class="doc"><h1>' || source || '</h1><p>' ||
        |    replace(replace(text, '&', '&amp;'), '<', '&lt;') ||
        |    '</p><br/></div>' AS html
        |  FROM g),
        |s AS (SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(html, '<[A-Za-z/!][^>]{0,256}>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean
        |  FROM h),
        |q AS (SELECT * FROM s
        |  WHERE len(string_split(clean, ' ')) >= 20)
        |SELECT MIN(doc_id) AS doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies, clean
        |FROM q GROUP BY clean ORDER BY doc_id""".stripMargin,

    // the robots gate replayed as the closed-form eligibility rule
    // ((doc_id % 50) % 3 <> 0) BEFORE the dedup group-by, then the
    // capstone's strip/gate/survivor chain
    "cc_pipeline_robots" ->
      """WITH g AS (SELECT d.doc_id, b.text AS text,
        |    b.source AS source
        |  FROM documents d
        |  JOIN documents b ON b.doc_id = d.doc_id - d.doc_id % 3
        |  WHERE (d.doc_id % 50) % 3 <> 0),
        |h AS (SELECT doc_id,
        |  '<div class="doc"><h1>' || source || '</h1><p>' ||
        |    replace(replace(text, '&', '&amp;'), '<', '&lt;') ||
        |    '</p><br/></div>' AS html
        |  FROM g),
        |s AS (SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(html, '<[A-Za-z/!][^>]{0,256}>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean
        |  FROM h),
        |q AS (SELECT * FROM s
        |  WHERE len(string_split(clean, ' ')) >= 20)
        |SELECT MIN(doc_id) AS doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies, clean
        |FROM q GROUP BY clean ORDER BY doc_id""".stripMargin,

    // main-content survivors: the body prose alone is the group key —
    // nav/footer menus and the one-word h1 are stated REMOVED (the
    // corpus text carries no &<> so the entity hop is identity)
    "cc_pipeline_main" ->
      """WITH g AS (SELECT d.doc_id, b.text AS text
        |  FROM documents d
        |  JOIN documents b ON b.doc_id = d.doc_id - d.doc_id % 3),
        |c AS (SELECT doc_id,
        |  trim(regexp_replace(text, '\s+', ' ', 'g')) AS clean
        |  FROM g),
        |q AS (SELECT * FROM c
        |  WHERE len(string_split(clean, ' ')) >= 20)
        |SELECT MIN(doc_id) AS doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies, clean
        |FROM q GROUP BY clean ORDER BY doc_id""".stripMargin,

    // seek-table frames 1..24 (0 is the dictionary frame), frame j =
    // record (j-1)%8; compressed lengths are the golden frame sizes,
    // content lengths the closed-form record bodies
    "source_warc_zst_split" ->
      """WITH f AS (SELECT unnest(range(1, 25)) AS j),
        |r AS (SELECT j, (j - 1) % 8 AS ri FROM f)
        |SELECT CAST(j AS BIGINT) AS frame_idx,
        |  CAST(CASE ri WHEN 0 THEN 39 WHEN 1 THEN 41 WHEN 2 THEN 43
        |    WHEN 3 THEN 39 WHEN 4 THEN 45 WHEN 5 THEN 37 WHEN 6 THEN 37
        |    ELSE 41 END AS BIGINT) AS compressed_len,
        |  'response' AS rec_type,
        |  'http://example.com/dict/' || ri AS target_uri,
        |  CAST((13 + CASE WHEN (ri * 13) % 97 < 10 THEN 1 ELSE 2 END)
        |    * (3 + ri % 5) AS BIGINT) AS content_length
        |FROM r ORDER BY frame_idx""".stripMargin,

    // record i of the dictionary fixture: response, uri .../dict/i,
    // body 'field{i%7}=value{(i*13)%97}&' x (3+i%5) — content_length
    // = (13 + digits of (i*13)%97) * (3+i%5); bodies are not HTTP so
    // http_status = 0; k = 2 + doc%3 frames from rotation doc%8
    "source_warc_zst_dict" ->
      """WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS k FROM documents),
        |e AS (SELECT doc_id, unnest(range(0, k)) AS j FROM p),
        |r AS (SELECT doc_id, (doc_id + j) % 8 AS ri FROM e)
        |SELECT doc_id,
        |  'response' AS rec_type,
        |  'http://example.com/dict/' || ri AS target_uri,
        |  CAST((13 + CASE WHEN (ri * 13) % 97 < 10 THEN 1 ELSE 2 END)
        |    * (3 + ri % 5) AS BIGINT) AS content_length,
        |  CAST(0 AS BIGINT) AS http_status
        |FROM r ORDER BY doc_id, target_uri, content_length""".stripMargin,

    // version/pages/title/author/via_scan per residue; r1's UTF-16BE
    // title decodes identically to r0's PDFDoc one
    "mm_pdf_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 2 THEN '1.5' ELSE '1.4' END
        |    AS version,
        |  CAST(1 AS BIGINT) AS n_pages,
        |  CASE WHEN doc_id % 4 = 2 THEN NULL
        |    ELSE 'Doc ' || doc_id END AS title,
        |  CASE WHEN doc_id % 4 = 2 THEN NULL
        |    ELSE 'graft corpus' END AS author,
        |  doc_id % 4 = 3 AS via_scan,
        |  '' AS reason
        |FROM documents ORDER BY doc_id""".stripMargin,

    // one page per doc; even docs two Tj lines via the ObjStm/xref-
    // stream walk, odd docs the identity-CMap Type0 decode
    "source_pdf_modern" ->
      """SELECT doc_id, CAST(0 AS BIGINT) AS page_idx,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT)
        |    AS n_shows,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN substr(text, 1, 30) || chr(10) || substr(text, 31, 18)
        |    ELSE substr(text, 1, 24) END AS text,
        |  '' AS declined
        |FROM documents ORDER BY doc_id""".stripMargin,

    // intact residues audit ok; the 20-byte truncations keep the
    // %PDF- magic but cannot extract
    "mm_pdf_audit" ->
      """SELECT doc_id, 'pdf' AS kind,
        |  doc_id % 5 <> 0 AS ok,
        |  CASE WHEN doc_id % 5 = 0 THEN 'undecodable_pdf'
        |    ELSE 'ok' END AS reason
        |FROM documents ORDER BY doc_id""".stripMargin,

    // each residue's expected page text stated literally from
    // documents.text (r0 Td lines + escaped parens; r1 WinAnsi cp1252
    // bytes 0x80/0xE9 -> euro/e-acute + TJ join; r2 two pages, hex
    // string + quote op; r3 scan-fallback doc, Tm + double-quote op)
    "source_pdf_text" ->
      """WITH p AS (SELECT doc_id, text, doc_id % 4 AS r
        |  FROM documents),
        |rows AS (
        |  SELECT doc_id, 0 AS page_idx,
        |    CASE r WHEN 0 THEN 3 WHEN 1 THEN 3 WHEN 2 THEN 1
        |      ELSE 2 END AS n_shows,
        |    CASE r
        |      WHEN 0 THEN 'Doc (' || doc_id || ')' || chr(10) ||
        |        substr(text, 1, 30) || chr(10) || substr(text, 31, 30)
        |      WHEN 1 THEN 'price ' || chr(8364) || ' caf' || chr(233)
        |        || chr(10) || substr(text, 1, 20) || ' ' ||
        |        substr(text, 21, 20)
        |      WHEN 2 THEN substr(text, 1, 20)
        |      ELSE substr(text, 1, 25) || chr(10) ||
        |        substr(text, 26, 20)
        |    END AS text, '' AS declined
        |  FROM p
        |  UNION ALL
        |  SELECT doc_id, 1, 2,
        |    substr(text, 21, 14) || chr(10) || substr(text, 35, 14),
        |    ''
        |  FROM p WHERE r = 2)
        |SELECT doc_id, CAST(page_idx AS BIGINT) AS page_idx,
        |  CAST(n_shows AS BIGINT) AS n_shows, text, declined
        |FROM rows ORDER BY doc_id, page_idx""".stripMargin,

    // each golden member's decoded plaintext + member accounting;
    // all templates are level 1, single-block; even docs carry the
    // 'tail member' second stream
    "source_bz2_members" ->
      """WITH e AS (SELECT doc_id, unnest(range(0, 300)) AS i
        |  FROM documents),
        |t2 AS (SELECT doc_id,
        |  string_agg(chr(CAST(97 + (i*11 + 5) % 26 AS INT)),
        |    '' ORDER BY i) AS s
        |  FROM e GROUP BY doc_id),
        |base AS (SELECT d.doc_id, 0 AS member_idx,
        |  CASE d.doc_id % 4
        |    WHEN 0 THEN repeat('alpha ', 40)
        |    WHEN 1 THEN repeat(
        |      'the quick brown fox jumps over the lazy dog. ', 8)
        |    WHEN 2 THEN t2.s
        |    ELSE repeat('key=value;', 30) END AS content,
        |  CASE d.doc_id % 4 WHEN 0 THEN 52 WHEN 1 THEN 99
        |    WHEN 2 THEN 85 ELSE 58 END AS compressed_len
        |  FROM documents d JOIN t2 USING (doc_id)),
        |tail AS (SELECT doc_id, 1 AS member_idx,
        |  repeat('tail member ', 10) AS content, 58 AS compressed_len
        |  FROM documents WHERE doc_id % 2 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM tail)
        |SELECT doc_id, CAST(member_idx AS BIGINT) AS member_idx,
        |  CAST(1 AS BIGINT) AS level, CAST(1 AS BIGINT) AS n_blocks,
        |  CAST(strlen(content) AS BIGINT) AS usize, content,
        |  TRUE AS crc_ok,
        |  CAST(compressed_len AS BIGINT) AS compressed_len
        |FROM u ORDER BY doc_id, member_idx""".stripMargin,

    // the index's five lines, offsets real
    "source_wiki_index" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(1 AS BIGINT), 'Alpha'),
        |  (0, 2, 'Beta'), (174, 3, 'Gamma'), (174, 4, 'Delta'),
        |  (353, 5, 'Epsilon')) t(off, page_id, title)
        |ORDER BY page_id""".stripMargin,

    // the targeted page per doc, with the stream offset the index
    // resolved (proof the slice happened at the right byte)
    "source_wiki_lookup" ->
      """WITH p AS (SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(0 AS BIGINT), 'Alpha',
        |    'Alpha body one.'),
        |  (2, 0, 'Beta', 'Beta body two.'),
        |  (3, 174, 'Gamma', 'Gamma body three.'),
        |  (4, 174, 'Delta', 'Delta body four.'),
        |  (5, 353, 'Epsilon', 'Epsilon body five.'))
        |  t(page_id, stream_off, title, body))
        |SELECT d.doc_id, p.page_id, p.stream_off, p.title,
        |  p.body AS text
        |FROM documents d JOIN p ON 1 + d.doc_id % 5 = p.page_id
        |ORDER BY d.doc_id""".stripMargin,

    // identical shard contents to source_tar_xz — one oracle body,
    // three compression layers
    "source_tar_gz" -> TarballOracleSql,
    "source_tar_bz2" -> TarballOracleSql,

    // the lines replay: k = 3 + doc%3 lines per member
    "source_jsonl_gz" ->
      """WITH p AS (SELECT doc_id, 3 + doc_id % 3 AS k FROM documents),
        |e AS (SELECT doc_id, unnest(range(0, k)) AS i FROM p)
        |SELECT doc_id, CAST(i AS BIGINT) AS line_no,
        |  't-' || (doc_id % 7) || '-' || i AS text
        |FROM e ORDER BY doc_id, line_no""".stripMargin,

    // the live set after replay: f0 resurrected at v2, f1 from v0,
    // f2 from v1; f3 removed at v3
    "source_delta_log" ->
      """SELECT d.doc_id, p.path,
        |  CAST(100 + d.doc_id % 50 + p.f AS BIGINT) AS size,
        |  CAST(p.since AS BIGINT) AS since_version
        |FROM documents d CROSS JOIN (VALUES
        |  ('f0.parquet', 0, 2), ('f1.parquet', 1, 0),
        |  ('f2.parquet', 2, 1)) p(path, f, since)
        |ORDER BY d.doc_id, p.path""".stripMargin,

    // the fixture's closed-form live set: c0,c2..c5 survive from the
    // checkpoint; c1 was removed at v11 and re-added at v12 with size
    // 2001; d6 added at v11 died at v12; d7 added at v12
    "source_delta_checkpoint" ->
      """SELECT * FROM (VALUES
        |  ('c0.parquet', CAST(1000 AS BIGINT), 'checkpoint'),
        |  ('c1.parquet', CAST(2001 AS BIGINT), 'log'),
        |  ('c2.parquet', CAST(1002 AS BIGINT), 'checkpoint'),
        |  ('c3.parquet', CAST(1003 AS BIGINT), 'checkpoint'),
        |  ('c4.parquet', CAST(1004 AS BIGINT), 'checkpoint'),
        |  ('c5.parquet', CAST(1005 AS BIGINT), 'checkpoint'),
        |  ('d7.parquet', CAST(1207 AS BIGINT), 'log')
        |) t(path, size, src) ORDER BY path""".stripMargin,

    // row replay: template A (even docs) 12 rows batched 7+5,
    // template B 9 rows one batch; null patterns per column
    "source_arrow_rows" ->
      """WITH p AS (SELECT doc_id, doc_id % 2 AS par,
        |  CASE WHEN doc_id % 2 = 0 THEN 12 ELSE 9 END AS n
        |  FROM documents),
        |e AS (SELECT doc_id, par, unnest(range(0, n)) AS i FROM p)
        |SELECT doc_id,
        |  CAST(CASE WHEN par = 0 AND i >= 7 THEN 1 ELSE 0 END
        |    AS BIGINT) AS batch_idx,
        |  CAST(i AS BIGINT) AS row_idx,
        |  CAST(i * 3 AS BIGINT) AS id,
        |  CASE WHEN i % 5 = 0 THEN NULL
        |    ELSE CAST(i * 0.25 AS DOUBLE) END AS score,
        |  CASE WHEN i % 3 = 0 THEN NULL
        |    ELSE 'r' || (i % 4) END AS name,
        |  i % 2 = 0 AS flag
        |FROM e ORDER BY doc_id, row_idx""".stripMargin,

    // template doc%2: A = 12 rows, B = 9; cat NULL every 4th row,
    // else 'c'||(i%3) below row 7 and 'd'||(i%2) from it
    "source_arrow_dict" ->
      """WITH p AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 12 ELSE 9 END AS n
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(range(0, n)) AS i FROM p)
        |SELECT doc_id, CAST(i AS BIGINT) AS row_idx,
        |  CAST(i * 3 AS BIGINT) AS id,
        |  CASE WHEN i % 4 = 0 THEN NULL
        |    WHEN i < 7 THEN 'c' || (i % 3)
        |    ELSE 'd' || (i % 2) END AS cat,
        |  i % 2 = 0 AS flag
        |FROM e ORDER BY doc_id, row_idx""".stripMargin,

    // template doc%2: A = 20 rows, B = 12; emb sums in closed form
    // (sum_j (i*8+j)/4 = 16i+7, first element 2i), token sums
    // (k=i%4 entries of i*3+j)
    "source_arrow_list" ->
      """WITH p AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 20 ELSE 12 END AS n
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(range(0, n)) AS i FROM p)
        |SELECT doc_id, CAST(i AS BIGINT) AS vec_id,
        |  CAST(CASE WHEN i % 5 = 0 THEN NULL ELSE 8 END AS BIGINT)
        |    AS n_emb,
        |  CASE WHEN i % 5 = 0 THEN NULL
        |    ELSE CAST(16 * i + 7 AS DOUBLE) END AS emb_sum,
        |  CASE WHEN i % 5 = 0 THEN NULL
        |    ELSE CAST(2 * i AS DOUBLE) END AS emb0,
        |  CAST(i % 4 AS BIGINT) AS n_tokens,
        |  CAST((i % 4) * (i * 3) +
        |    CASE i % 4 WHEN 2 THEN 1 WHEN 3 THEN 3 ELSE 0 END
        |    AS BIGINT) AS tok_sum
        |FROM e ORDER BY doc_id, vec_id""".stripMargin,

    // the two map-stream rotations' rows in closed form: null maps
    // distinct from empty maps, entry keys joined, value sums
    "source_arrow_map" ->
      """WITH m AS (SELECT * FROM (VALUES
        |  (0, 0, 2, 'a,b', 3), (0, 1, NULL, '', NULL),
        |  (0, 2, 0, '', 0), (0, 3, 1, 'k', 30),
        |  (0, 4, 3, 'x,y,z', 123),
        |  (1, 10, 1, 'm', 5), (1, 11, 2, 'n,o', 13),
        |  (1, 12, NULL, '', NULL))
        |  t(v, id, n_entries, keys, val_sum))
        |SELECT d.doc_id, CAST(id AS BIGINT) AS id,
        |  CAST(n_entries AS BIGINT) AS n_entries, keys,
        |  CAST(val_sum AS BIGINT) AS val_sum
        |FROM documents d JOIN m ON m.v = d.doc_id % 2
        |ORDER BY d.doc_id, id""".stripMargin,

    // the rendered JSON character-for-character, plus two fields
    // re-extracted from it
    "source_cbor_decode" ->
      """SELECT doc_id,
        |  '{"id":' || (doc_id % 24) ||
        |  ',"tags":[' || (doc_id % 10) || ',23]' ||
        |  ',"name":"d' || (doc_id % 5) || '"' ||
        |  ',"ok":' || CASE WHEN doc_id % 2 = 0 THEN 'true'
        |    ELSE 'false' END ||
        |  ',"note":null}' AS json,
        |  CAST(doc_id % 24 AS BIGINT) AS id,
        |  'd' || (doc_id % 5) AS name
        |FROM documents ORDER BY doc_id""".stripMargin,

    // frame accounting in closed form: variant v = doc%4 has 2+v
    // records of length 8+e; the v=3 variant's LAST record is
    // data-corrupt -> flagged, content NULL
    "source_tfrecord" ->
      """WITH p AS (SELECT doc_id, doc_id % 4 AS v,
        |  2 + doc_id % 4 AS k FROM documents),
        |e AS (SELECT doc_id, v, unnest(range(0, k)) AS i FROM p)
        |SELECT doc_id, CAST(i AS BIGINT) AS rec_idx,
        |  CAST(8 + i AS BIGINT) AS length,
        |  NOT (v = 3 AND i = 4) AS data_crc_ok,
        |  CASE WHEN v = 3 AND i = 4 THEN NULL
        |    ELSE 'rec-' || v || '-' || i || '-' ||
        |      repeat('y', CAST(i AS INT)) END AS content
        |FROM e ORDER BY doc_id, rec_idx""".stripMargin,

    // every decoded feature in closed form; float widening is exact
    // (halves and 1.25 are dyadic)
    "source_tfrecord_example" ->
      """WITH p AS (SELECT doc_id, doc_id % 4 AS v,
        |  2 + doc_id % 4 AS k FROM documents),
        |e AS (SELECT doc_id, v, unnest(range(0, k)) AS i FROM p)
        |SELECT doc_id, CAST(i AS BIGINT) AS rec_idx,
        |  'text' AS k1, 'doc-' || v || '-' || i AS text,
        |  'label' AS k2, CAST(i AS BIGINT) AS label0,
        |  CAST(v AS BIGINT) AS label1,
        |  'score' AS k3, CAST(i * 0.5 AS DOUBLE) AS score0,
        |  CAST(1.25 AS DOUBLE) AS score1
        |FROM e ORDER BY doc_id, rec_idx""".stripMargin,

    // every wire field in closed form; doubles rotate the 4-entry
    // template (1.5, -2.25, 0, 252); the packed field round-trips as
    // a joined string
    "source_proto_decode" ->
      """SELECT doc_id, CAST(doc_id % 100 AS BIGINT) AS a,
        |  CAST(doc_id % 7 - 3 AS BIGINT) AS b,
        |  'ev-' || (doc_id % 5) AS s,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 1.5 WHEN 1 THEN -2.25
        |    WHEN 2 THEN 0.0 ELSE 252.0 END AS DOUBLE) AS d,
        |  (doc_id % 3) || ',7,100' AS xs
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the capstone's decoded fields: schema id 321 everywhere, 5 +
    // doc%4 records per segment, values derived from the record index
    "source_kafka_proto" ->
      """WITH p AS (SELECT doc_id, 5 + doc_id % 4 AS k FROM documents),
        |e AS (SELECT doc_id, unnest(range(0, k)) AS i FROM p)
        |SELECT doc_id, CAST(500 + i AS BIGINT) AS "offset",
        |  CAST(321 AS BIGINT) AS schema_id,
        |  CAST(i AS BIGINT) AS event_id,
        |  CAST(i - 3 AS BIGINT) AS delta,
        |  CASE i % 4 WHEN 0 THEN 'view' WHEN 1 THEN 'click'
        |    WHEN 2 THEN 'purchase' ELSE 'refund' END AS event_type,
        |  CAST(i * 2.5 AS DOUBLE) AS value
        |FROM e ORDER BY doc_id, "offset"""".stripMargin,

    // each golden stream's decoded plaintext + member accounting; all
    // templates are preset-6 CRC64 single-block; even docs carry the
    // 'tail member' second stream
    // one member per doc: chain doc%3 (660/664/664 compressed), the
    // decoded payload replayed as a hex literal
    "source_xz_x86" ->
      """SELECT doc_id, CAST(0 AS BIGINT) AS member_idx,
        |'crc64' AS check, CAST(1 AS BIGINT) AS n_blocks,
        |CAST(600 AS BIGINT) AS usize,
        |'CF82FB8485A3E9F596FFFFE88A1C1F00E9FB62FFFFE818CF1D00AE55' ||
        |'E95677FFFFE8D733E500E9C4C4FFFFF575E8E2B21E00E97336FFFF26' ||
        |'6D3513E92E1BFFFFE8CFC66C000BBDEC04E83ABCFF001D20C9E59C1A' ||
        |'E90662FFFF1898DE9CC39BE99298FFFF4C54CC6FE3C77B15E9BF01FF' ||
        |'FFE88C203A00E9D5B3FFFFFDF45BFF2FD7E851B8B700E9B658FFFF36' ||
        |'2DE824F5D10011D148294A1DF267110411B915BB97988827F33B192A' ||
        |'15EEE8C15706006CCBD445EADDDFF5FE98E9430EFFFF98B5E8F93DFD' ||
        |'00276E7389E9ECD4FFFFE8B5C0CA00E84A63090057807B8A6676424D' ||
        |'F2C1B0DA2DEA3462C641BEB8ED92BD9451AB232AE92541FFFFE8FA32' ||
        |'690015E2610C54D9E9C684FFFFE8870C4C00E8B4A79C00FB8DEAE444' ||
        |'5D64D19BA5D38CE97F05FFFF2927E895BDEA00D589532FE8389EF600' ||
        |'C2D36E15E97725FFFFBC6CE84D0A2600E80209E40042548A5FE949FE' ||
        |'FFFF69B6E96F4CFFFFAF71C0E6CBB61148E868056A00B045C41B4C4B' ||
        |'02C2E8BD20DB00D696E80336080030C377C17F71EBC5E9AC4DFFFF4E' ||
        |'55E90A6AFFFF4F0C13B3E9F178FFFF9A636A15C8F4E82DB3FA00E862' ||
        |'302400E9F3A5FFFFE9B0E2FFFFE92955FFFF151EC9F5E8DC79FB005C' ||
        |'83E9BA69FFFF0D5CE9C857FFFF0C10F04C08A30E653378C2AE3C1EE8' ||
        |'E0577C0053FB2B1C27D941E2EA50ADB64B175F287A28C637E837A17E' ||
        |'00D47281A9E9C287FFFF3A4322AF81F3C1CB0550C722E8C5EFD400E8' ||
        |'1A4D1600091EE8285AD70068381C84E92746FFFF1A7E4FCAAE2CE9C3' ||
        |'1DFFFFE94046FFFFE87999A200D78C633ACD90864A19864750E8589D' ||
        |'A900E9B1FEFFFFF291E91707' AS content_hex,
        |true AS checks_ok,
        |CAST(CASE doc_id % 3 WHEN 0 THEN 660 ELSE 664 END AS BIGINT)
        |  AS compressed_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "source_xz_members" ->
      """WITH e AS (SELECT doc_id, unnest(range(0, 300)) AS i
        |  FROM documents),
        |t2 AS (SELECT doc_id,
        |  string_agg(chr(CAST(97 + (i*11 + 5) % 26 AS INT)),
        |    '' ORDER BY i) AS s
        |  FROM e GROUP BY doc_id),
        |base AS (SELECT d.doc_id, 0 AS member_idx,
        |  CASE d.doc_id % 4
        |    WHEN 0 THEN repeat('alpha ', 40)
        |    WHEN 1 THEN repeat(
        |      'the quick brown fox jumps over the lazy dog. ', 8)
        |    WHEN 2 THEN t2.s
        |    ELSE repeat('key=value;', 30) END AS content,
        |  CASE d.doc_id % 4 WHEN 0 THEN 80 WHEN 1 THEN 116
        |    WHEN 2 THEN 100 ELSE 84 END AS compressed_len
        |  FROM documents d JOIN t2 USING (doc_id)),
        |tail AS (SELECT doc_id, 1 AS member_idx,
        |  repeat('tail member ', 10) AS content, 80 AS compressed_len
        |  FROM documents WHERE doc_id % 2 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM tail)
        |SELECT doc_id, CAST(member_idx AS BIGINT) AS member_idx,
        |  'crc64' AS check, CAST(1 AS BIGINT) AS n_blocks,
        |  CAST(strlen(content) AS BIGINT) AS usize, content,
        |  TRUE AS checks_ok,
        |  CAST(compressed_len AS BIGINT) AS compressed_len
        |FROM u ORDER BY doc_id, member_idx""".stripMargin,

    // the two shard layouts' entry listings in closed form
    "source_tar_xz" ->
      """WITH csv AS (SELECT 'k,v' || chr(10) ||
        |    string_agg(i || ',' || (i*i), chr(10) ORDER BY i) ||
        |    chr(10) AS c
        |  FROM range(0, 10) t(i)),
        |ent AS (
        |  SELECT 0 AS par, 'data/c.csv' AS name, (SELECT c FROM csv)
        |    AS content
        |  UNION ALL SELECT 0, 'docs/a.txt',
        |    'alpha file content' || chr(10)
        |  UNION ALL SELECT 0, 'docs/b.txt', repeat('beta ', 12)
        |  UNION ALL SELECT 1, 'shard/x.json',
        |    '{"id": 1, "text": "gamma"}'
        |  UNION ALL SELECT 1, 'shard/y.txt', repeat('delta ', 20))
        |SELECT d.doc_id, p.name,
        |  CAST(strlen(p.content) AS BIGINT) AS size,
        |  '0' AS typeflag, p.content
        |FROM documents d JOIN ent p ON d.doc_id % 2 = p.par
        |ORDER BY d.doc_id, p.name""".stripMargin,

    // the five fixture pages in closed form; text_bytes is the
    // UNESCAPED body's octet length (the parser's contract), so the
    // oracle derives it rather than trusting the dump's bytes= attr
    "source_wiki_pages" ->
      """WITH a AS (SELECT * FROM (VALUES
        |    (0, 1, 0, 'Alpha', CAST(NULL AS VARCHAR),
        |      'Alpha is the first letter. A & B.'),
        |    (1, 2, 0, 'Beta', NULL, 'Beta follows [[Alpha]].'),
        |    (2, 3, 0, 'Gamma', 'Alpha', '#REDIRECT [[Alpha]]'))
        |  t(page_idx, page_id, ns, title, redirect, body)),
        |b AS (SELECT * FROM (VALUES
        |    (0, 11, 1, 'Talk:Delta', CAST(NULL AS VARCHAR),
        |      'Discussion about <Delta>.'),
        |    (1, 12, 0, 'Epsilon', NULL,
        |      'Epsilon.' || chr(10) || 'Second line.'))
        |  t(page_idx, page_id, ns, title, redirect, body)),
        |p AS (SELECT 0 AS par, * FROM a
        |  UNION ALL SELECT 1 AS par, * FROM b)
        |SELECT d.doc_id, CAST(p.page_idx AS BIGINT) AS page_idx,
        |  CAST(p.page_id AS BIGINT) AS page_id,
        |  CAST(p.ns AS BIGINT) AS ns, p.title, p.redirect,
        |  p.body AS text,
        |  CAST(strlen(p.body) AS BIGINT) AS text_bytes
        |FROM documents d JOIN p ON d.doc_id % 2 = p.par
        |ORDER BY d.doc_id, page_idx""".stripMargin,

    "mm_id3_text" ->
      """SELECT doc_id, 'doc-' || doc_id AS title,
        |  'artist-' || (doc_id % 7) AS artist,
        |  'album-' || (doc_id % 3) AS album
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_exif_orientation" ->
      """SELECT doc_id, doc_id % 2 = 1 AS has_exif,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN 1 + doc_id % 8
        |    ELSE 0 END AS BIGINT) AS orientation
        |FROM documents ORDER BY doc_id""".stripMargin,

    // opus duration = 960-sample frames at the fixed 48 kHz granule
    // rate minus pre-skip; vorbis = granule over the nominal rate
    "mm_ogg_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 1 THEN 'opus' ELSE 'vorbis' END AS codec,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN 1 + doc_id % 2
        |    ELSE 1 + doc_id % 3 END AS BIGINT) AS channels,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN 48000
        |    ELSE 8000 * (1 + doc_id % 5) END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 2 = 1
        |    THEN 960 * (50 + doc_id % 100) * 1000 // 48000
        |    ELSE (2 + doc_id % 9) * 1000 END AS BIGINT) AS duration_ms,
        |  CAST(2 AS BIGINT) AS n_pages
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the primary item's ispe (NOT the alpha plane's first-listed
    // extent); odd docs carry the avis animation brand
    "mm_avif_meta" ->
      """SELECT doc_id,
        |  CAST(24 + doc_id % 16 AS BIGINT) AS width,
        |  CAST(18 + doc_id % 12 AS BIGINT) AS height,
        |  CAST(2 AS BIGINT) AS n_items,
        |  doc_id % 2 = 1 AS animated
        |FROM documents ORDER BY doc_id""".stripMargin,

    // even docs: the real PNG fixture geometry, one frame; odd docs:
    // the APNG delay grid at den=100 (ms = 10*num exact)
    "mm_png_meta" ->
      """WITH ev AS (SELECT doc_id,
        |    CAST(3 + doc_id % 4 AS BIGINT) AS width,
        |    CAST(2 + doc_id % 3 AS BIGINT) AS height,
        |    CAST(1 AS BIGINT) AS n_frames,
        |    CAST(0 AS BIGINT) AS total_duration_ms,
        |    CAST(0 AS BIGINT) AS n_plays
        |  FROM documents WHERE doc_id % 2 = 0),
        |op AS (SELECT doc_id, 2 + doc_id % 3 AS k FROM documents
        |  WHERE doc_id % 2 = 1),
        |fr AS (SELECT doc_id, k, unnest(range(0, k)) AS f FROM op),
        |dur AS (SELECT doc_id, MAX(k) AS k,
        |    SUM((3 + (doc_id + f) % 9) * 10) AS dur
        |  FROM fr GROUP BY doc_id),
        |od AS (SELECT doc_id,
        |    CAST(9 + doc_id % 7 AS BIGINT) AS width,
        |    CAST(6 + doc_id % 5 AS BIGINT) AS height,
        |    CAST(k AS BIGINT) AS n_frames,
        |    CAST(dur AS BIGINT) AS total_duration_ms,
        |    CAST(doc_id % 6 AS BIGINT) AS n_plays
        |  FROM dur)
        |SELECT * FROM ev UNION ALL SELECT * FROM od
        |ORDER BY doc_id""".stripMargin,

    // even docs: the single-frame fixture (geometry 3+d%4 x 2+d%3, no
    // GCE, no loop); odd docs: the closed-form animation grid
    "mm_gif_meta" ->
      """WITH ev AS (SELECT doc_id,
        |    CAST(3 + doc_id % 4 AS BIGINT) AS width,
        |    CAST(2 + doc_id % 3 AS BIGINT) AS height,
        |    CAST(1 AS BIGINT) AS n_frames,
        |    CAST(0 AS BIGINT) AS total_duration_ms,
        |    CAST(0 AS BIGINT) AS loop_count
        |  FROM documents WHERE doc_id % 2 = 0),
        |op AS (SELECT doc_id, 2 + doc_id % 4 AS k FROM documents
        |  WHERE doc_id % 2 = 1),
        |fr AS (SELECT doc_id, k, unnest(range(0, k)) AS f FROM op),
        |dur AS (SELECT doc_id, MAX(k) AS k,
        |    SUM((5 + (doc_id + f) % 12) * 10) AS dur
        |  FROM fr GROUP BY doc_id),
        |od AS (SELECT doc_id,
        |    CAST(20 + doc_id % 10 AS BIGINT) AS width,
        |    CAST(15 + doc_id % 5 AS BIGINT) AS height,
        |    CAST(k AS BIGINT) AS n_frames,
        |    CAST(dur AS BIGINT) AS total_duration_ms,
        |    CAST(doc_id % 4 AS BIGINT) AS loop_count
        |  FROM dur)
        |SELECT * FROM ev UNION ALL SELECT * FROM od
        |ORDER BY doc_id""".stripMargin,

    // still docs report the VP8L header geometry; animated docs the
    // VP8X canvas + the ANMF duration sum
    "mm_webp_meta" ->
      """WITH ev AS (SELECT doc_id, FALSE AS has_alpha,
        |    FALSE AS has_anim, CAST(8 AS BIGINT) AS canvas_w,
        |    CAST(4 + doc_id % 4 AS BIGINT) AS canvas_h,
        |    CAST(1 AS BIGINT) AS n_frames,
        |    CAST(0 AS BIGINT) AS total_duration_ms,
        |    CAST(0 AS BIGINT) AS loop_count
        |  FROM documents WHERE doc_id % 2 = 0),
        |op AS (SELECT doc_id, 2 + doc_id % 3 AS k FROM documents
        |  WHERE doc_id % 2 = 1),
        |fr AS (SELECT doc_id, k, unnest(range(0, k)) AS f FROM op),
        |dur AS (SELECT doc_id, MAX(k) AS k,
        |    SUM(40 + (doc_id + f) % 20) AS dur FROM fr GROUP BY doc_id),
        |od AS (SELECT doc_id, doc_id % 4 = 1 AS has_alpha,
        |    TRUE AS has_anim,
        |    CAST(16 + doc_id % 8 AS BIGINT) AS canvas_w,
        |    CAST(12 + doc_id % 4 AS BIGINT) AS canvas_h,
        |    CAST(k AS BIGINT) AS n_frames,
        |    CAST(dur AS BIGINT) AS total_duration_ms,
        |    CAST(doc_id % 5 AS BIGINT) AS loop_count
        |  FROM dur)
        |SELECT * FROM ev UNION ALL SELECT * FROM od
        |ORDER BY doc_id""".stripMargin,

    // the VP8L checkerboard replayed: greens alternate g0/g1 by
    // (x+y+d) parity (4 of each per 8-wide row), r/b/alpha constant
    "mm_webp_features" ->
      """WITH p AS (SELECT doc_id, 4 + doc_id % 4 AS h,
        |    10 + doc_id % 60 AS g0, 128 + doc_id % 60 AS g1,
        |    20 + doc_id % 77 AS r, 30 + doc_id % 88 AS b
        |  FROM documents),
        |px AS (SELECT doc_id, h, g0, g1, r, b,
        |    unnest(range(0, 8 * h)) AS pos FROM p),
        |g AS (SELECT doc_id, h, r, b, pos,
        |    CASE WHEN (pos % 8 + pos // 8 + doc_id) % 2 = 0
        |      THEN g0 ELSE g1 END AS gv
        |  FROM px),
        |a AS (SELECT doc_id, MAX(h) AS h, MAX(r) AS r, MAX(b) AS b,
        |    SUM(gv) AS sum_g, SUM(pos * gv) AS wsum_g,
        |    SUM(pos) AS sp, COUNT(*) AS n
        |  FROM g GROUP BY doc_id)
        |SELECT doc_id, 'webp' AS kind, CAST(8 AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height, CAST(4 AS BIGINT) AS channels,
        |  CAST(n AS BIGINT) AS n_px,
        |  CAST(r * n AS BIGINT) AS sum_r, CAST(sum_g AS BIGINT) AS sum_g,
        |  CAST(b * n AS BIGINT) AS sum_b,
        |  CAST(r * sp AS BIGINT) AS wsum_r,
        |  CAST(wsum_g AS BIGINT) AS wsum_g,
        |  CAST(b * sp AS BIGINT) AS wsum_b,
        |  CAST(r AS DOUBLE) AS mean_r,
        |  CAST(sum_g AS DOUBLE) / CAST(n AS DOUBLE) AS mean_g,
        |  CAST(b AS DOUBLE) AS mean_b
        |FROM a ORDER BY doc_id""".stripMargin,

    // the planned ranges PLUS the checksums of the bytes they address:
    // the fixture's data region stores byte p%251 at absolute offset
    // p, so both sums are pure offset arithmetic replayed per range
    "mm_video_keyframe_bytes" ->
      """WITH p AS (SELECT doc_id,
        |    24 + doc_id % 8 AS n,
        |    80 + doc_id % 32 AS s0,
        |    (24 + doc_id % 8 + doc_id % 3) // (1 + doc_id % 3) AS spc
        |  FROM documents),
        |ix AS (SELECT doc_id, s0, spc, unnest(range(0, n)) AS i FROM p),
        |r AS (SELECT doc_id, i, i // spc AS c, s0, spc FROM ix
        |  WHERE doc_id % 2 = 0 OR i % 8 = 0),
        |k AS (SELECT doc_id, i,
        |    4096 * (c + 1) + (i - c * spc) * s0
        |      + (i // 2 - (c * spc) // 2) AS o,
        |    s0 + i % 2 AS sz
        |  FROM r)
        |SELECT doc_id,
        |  CAST(i + 1 AS BIGINT) AS sample_idx,
        |  CAST(o AS BIGINT) AS offset,
        |  CAST(sz AS BIGINT) AS size,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0, sz), j -> (o + j) % 251)),
        |    (a, x) -> a + x) AS BIGINT) AS slice_sum,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0, sz), j -> (j + 1) * ((o + j) % 251))),
        |    (a, x) -> a + x) AS BIGINT) AS slice_wsum
        |FROM k ORDER BY doc_id, sample_idx""".stripMargin,

    // the VBR frame grid recomputed: per-frame lengths are 3·kbps at
    // 48 kHz Layer III, summed over the cycling bitrate index; the
    // mean bitrate is the same all-integer division the walker does
    "mm_mp3_meta" ->
      """WITH p AS (SELECT doc_id, 20 + doc_id % 10 AS n FROM documents),
        |fr AS (SELECT doc_id, n, unnest(range(0, n)) AS f FROM p),
        |fl AS (SELECT doc_id, n,
        |    3 * (CASE (doc_id + f) % 14
        |      WHEN 0 THEN 32 WHEN 1 THEN 40 WHEN 2 THEN 48
        |      WHEN 3 THEN 56 WHEN 4 THEN 64 WHEN 5 THEN 80
        |      WHEN 6 THEN 96 WHEN 7 THEN 112 WHEN 8 THEN 128
        |      WHEN 9 THEN 160 WHEN 10 THEN 192 WHEN 11 THEN 224
        |      WHEN 12 THEN 256 ELSE 320 END) AS flen
        |  FROM fr),
        |agg AS (SELECT doc_id, MAX(n) AS n,
        |    CAST(SUM(flen) AS BIGINT) AS fb
        |  FROM fl GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(10 AS BIGINT) AS version_x10,
        |  CAST(3 AS BIGINT) AS layer,
        |  CAST(48000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(n AS BIGINT) AS n_frames,
        |  CAST(1152 * n AS BIGINT) AS n_samples,
        |  CAST(24 * n AS BIGINT) AS duration_ms,
        |  CAST(fb * 8 * 48000 // (1152 * n) AS BIGINT) AS bitrate_bps,
        |  fb AS frame_bytes
        |FROM agg ORDER BY doc_id""".stripMargin,

    // the sample-table closed forms recomputed: total bytes is the
    // n·s0 + ⌊n/2⌋ sum of the alternating stsz table; duration and
    // bitrate are the same all-BIGINT integer divisions the walker does
    "mm_video_tracks" ->
      """WITH p AS (SELECT doc_id,
        |    24 + doc_id % 8 AS n,
        |    80 + doc_id % 32 AS s0,
        |    100 + doc_id % 50 AS delta,
        |    1 + doc_id % 3 AS nc
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(n AS BIGINT) AS n_frames,
        |  CAST(n * s0 + n // 2 AS BIGINT) AS total_bytes,
        |  CAST(90000 AS BIGINT) AS media_timescale,
        |  CAST(n * delta AS BIGINT) AS media_duration,
        |  CAST(n * delta * 1000 // 90000 AS BIGINT) AS duration_ms,
        |  CAST((n * s0 + n // 2) * 8 * 90000 // (n * delta) AS BIGINT)
        |    AS bitrate_bps,
        |  CAST(nc AS BIGINT) AS n_chunks,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN (n + 7) // 8 ELSE n END
        |    AS BIGINT) AS n_sync
        |FROM p ORDER BY doc_id""".stripMargin,

    // the windowed cut over the same BE-pair primitive: window_idx =
    // frame DIV 25, per-window peak/energy/rms, partial tail honest
    "mm_flac_windows" ->
      """WITH p AS (SELECT doc_id, 50 + doc_id % 200 AS nf
        |  FROM documents),
        |ix AS (SELECT doc_id, unnest(range(0, nf)) AS f FROM p),
        |samp AS (SELECT doc_id, f // 25 AS window_idx,
        |    (256 * ((doc_id*37 + (2*f)*101) % 256)
        |      + (doc_id*37 + (2*f+1)*101) % 256
        |      + 32768) % 65536 - 32768 AS s
        |  FROM ix)
        |SELECT doc_id, CAST(0 AS BIGINT) AS channel, window_idx,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
        |  CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS sum_sq,
        |  SQRT(CAST(SUM(CAST(s AS BIGINT) * s) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE)) AS rms
        |FROM samp GROUP BY doc_id, window_idx
        |ORDER BY doc_id, window_idx""".stripMargin,

    // FLAC verbatim samples recombined from the SAME byte primitive as
    // the WAV oracle, but BIG-endian pairs (FLAC is a big-endian
    // bitstream) — a byte-order mistake in either decoder diverges on
    // every sample; mono, so one channel-0 row per doc
    "mm_flac_samples" ->
      """WITH p AS (SELECT doc_id, 50 + doc_id % 200 AS nf
        |  FROM documents),
        |ix AS (SELECT doc_id, unnest(range(0, nf)) AS f FROM p),
        |samp AS (SELECT doc_id, f,
        |    (256 * ((doc_id*37 + (2*f)*101) % 256)
        |      + (doc_id*37 + (2*f+1)*101) % 256
        |      + 32768) % 65536 - 32768 AS s
        |  FROM ix),
        |lagged AS (SELECT doc_id, s,
        |    LAG(s) OVER (PARTITION BY doc_id ORDER BY f) AS prev
        |  FROM samp)
        |SELECT doc_id, CAST(0 AS BIGINT) AS channel,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
        |  CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS sum_sq,
        |  CAST(COUNT(*) FILTER (prev IS NOT NULL
        |    AND (s < 0) != (prev < 0)) AS BIGINT) AS zero_crossings,
        |  SQRT(CAST(SUM(CAST(s AS BIGINT) * s) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE)) AS rms
        |FROM lagged GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // offset-binary centering recomputed independently: s = b(i) − 128
    "mm_audio_features8" ->
      """WITH p AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
        |    50 + doc_id % 200 AS nf FROM documents),
        |ix AS (SELECT doc_id, ch, unnest(range(0, ch * nf)) AS i FROM p),
        |samp AS (SELECT doc_id, i % ch AS channel, i // ch AS frame,
        |    (doc_id*37 + i*101) % 256 - 128 AS s
        |  FROM ix),
        |lagged AS (SELECT doc_id, channel, s,
        |    LAG(s) OVER (PARTITION BY doc_id, channel ORDER BY frame)
        |      AS prev
        |  FROM samp)
        |SELECT doc_id, channel, CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
        |  CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS sum_sq,
        |  CAST(COUNT(*) FILTER (prev IS NOT NULL
        |    AND (s < 0) != (prev < 0)) AS BIGINT) AS zero_crossings,
        |  SQRT(CAST(SUM(CAST(s AS BIGINT) * s) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE)) AS rms
        |FROM lagged GROUP BY doc_id, channel
        |ORDER BY doc_id, channel""".stripMargin,

    // same recombined samples bucketed by frame DIV 25: window boundary
    // and partial-last-window arithmetic both pinned
    "mm_audio_windows" ->
      """WITH p AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
        |    50 + doc_id % 200 AS nf FROM documents),
        |ix AS (SELECT doc_id, ch, unnest(range(0, ch * nf)) AS i FROM p),
        |samp AS (SELECT doc_id, i % ch AS channel,
        |    (i // ch) // 25 AS window_idx,
        |    ((doc_id*37 + (2*i)*101) % 256
        |      + 256 * ((doc_id*37 + (2*i+1)*101) % 256)
        |      + 32768) % 65536 - 32768 AS s
        |  FROM ix)
        |SELECT doc_id, channel, window_idx,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
        |  CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS sum_sq,
        |  SQRT(CAST(SUM(CAST(s AS BIGINT) * s) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE)) AS rms
        |FROM samp GROUP BY doc_id, channel, window_idx
        |ORDER BY doc_id, channel, window_idx""".stripMargin,
    // the pixel-array bytes are the shared primitive; the oracle maps
    // image coordinates (x, y, channel) to their FILE offsets itself —
    // (h-1-y)·stride + 3x + c — so the engine's bottom-up row walk and
    // stride-padding skip must both be right for any column to match
    "mm_bmp_features" ->
      """WITH p AS (SELECT doc_id, 3 + doc_id % 6 AS w,
        |    2 + doc_id % 4 AS h FROM documents),
        |q AS (SELECT doc_id, w, h, ((3*w + 3) // 4) * 4 AS stride FROM p),
        |px AS (SELECT doc_id, w, h, stride,
        |    unnest(range(0, w * h * 3)) AS i FROM q),
        |v AS (SELECT doc_id, w, h,
        |    i % 3 AS c, (i // 3) % w AS x, i // (3 * w) AS y,
        |    (doc_id*11
        |      + ((h - 1 - i // (3*w)) * stride + 3 * ((i // 3) % w)
        |         + i % 3) * 17) % 256 AS val,
        |    ((i // 3) % w) + (i // (3 * w)) * w AS wt
        |  FROM px)
        |SELECT doc_id, w AS width, h AS height,
        |  CAST(w * h AS BIGINT) AS n_px,
        |  CAST(SUM(val) FILTER (c = 0) AS BIGINT) AS sum_b,
        |  CAST(SUM(val) FILTER (c = 1) AS BIGINT) AS sum_g,
        |  CAST(SUM(val) FILTER (c = 2) AS BIGINT) AS sum_r,
        |  CAST(SUM(wt * val) FILTER (c = 0) AS BIGINT) AS wsum_b,
        |  CAST(SUM(wt * val) FILTER (c = 1) AS BIGINT) AS wsum_g,
        |  CAST(SUM(wt * val) FILTER (c = 2) AS BIGINT) AS wsum_r,
        |  CAST(SUM(val) FILTER (c = 0) AS DOUBLE) / (w * h) AS mean_b,
        |  CAST(SUM(val) FILTER (c = 1) AS DOUBLE) / (w * h) AS mean_g,
        |  CAST(SUM(val) FILTER (c = 2) AS DOUBLE) / (w * h) AS mean_r
        |FROM v GROUP BY doc_id, w, h
        |ORDER BY doc_id""".stripMargin,
    // same coordinate-mapped pixels bucketed by (x DIV 2, y DIV 2):
    // grid arithmetic and honest partial edge patches both pinned
    "mm_bmp_patches" ->
      """WITH p AS (SELECT doc_id, 3 + doc_id % 6 AS w,
        |    2 + doc_id % 4 AS h FROM documents),
        |q AS (SELECT doc_id, w, h, ((3*w + 3) // 4) * 4 AS stride FROM p),
        |px AS (SELECT doc_id, w, h, stride,
        |    unnest(range(0, w * h * 3)) AS i FROM q),
        |v AS (SELECT doc_id,
        |    ((i // 3) % w) // 2 AS patch_x, (i // (3 * w)) // 2 AS patch_y,
        |    i % 3 AS c,
        |    (doc_id*11
        |      + ((h - 1 - i // (3*w)) * stride + 3 * ((i // 3) % w)
        |         + i % 3) * 17) % 256 AS val
        |  FROM px)
        |SELECT doc_id, patch_x, patch_y,
        |  CAST(COUNT(*) // 3 AS BIGINT) AS n_px,
        |  CAST(SUM(val) FILTER (c = 0) AS BIGINT) AS sum_b,
        |  CAST(SUM(val) FILTER (c = 1) AS BIGINT) AS sum_g,
        |  CAST(SUM(val) FILTER (c = 2) AS BIGINT) AS sum_r,
        |  CAST(SUM(val) FILTER (c = 0) AS DOUBLE) / (COUNT(*) // 3)
        |    AS mean_b,
        |  CAST(SUM(val) FILTER (c = 1) AS DOUBLE) / (COUNT(*) // 3)
        |    AS mean_g,
        |  CAST(SUM(val) FILTER (c = 2) AS DOUBLE) / (COUNT(*) // 3)
        |    AS mean_r
        |FROM v GROUP BY doc_id, patch_x, patch_y
        |ORDER BY doc_id, patch_y, patch_x""".stripMargin,
    // identical sentence split + window prefix sum + DIV 200 regrouped
    "text_chunks_sentences" ->
      """WITH sp AS (SELECT doc_id,
        |    list_filter(list_transform(
        |      regexp_split_to_array(text, '[.!?]+'), x -> trim(x)),
        |      x -> x != '') AS sents
        |  FROM documents),
        |ex AS (SELECT doc_id,
        |    unnest(sents) AS sent,
        |    generate_subscripts(sents, 1) - 1 AS sent_idx
        |  FROM sp),
        |cum AS (SELECT doc_id, sent_idx,
        |    CAST(length(sent) AS BIGINT) AS n_chars,
        |    COALESCE(SUM(CAST(length(sent) AS BIGINT)) OVER (
        |      PARTITION BY doc_id ORDER BY sent_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS chars_before
        |  FROM ex)
        |SELECT doc_id, CAST(chars_before // 200 AS BIGINT) AS chunk_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_sentences,
        |  CAST(SUM(n_chars) AS BIGINT) AS chunk_chars,
        |  CAST(MIN(sent_idx) AS BIGINT) AS first_sent_idx
        |FROM cum GROUP BY doc_id, chars_before // 200
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // identical split/trim/filter replicated in SQL ([.!?]+ means the
    // same thing to Java regex and RE2); char totals are exact ints,
    // avg is one correctly-rounded division on both engines
    "text_sentences" ->
      """WITH sp AS (SELECT doc_id,
        |    list_filter(list_transform(
        |      regexp_split_to_array(text, '[.!?]+'), x -> trim(x)),
        |      x -> x != '') AS sents
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(sents) AS BIGINT) AS n_sentences,
        |  CAST(COALESCE(list_max(list_transform(sents, x -> length(x))),
        |    0) AS BIGINT) AS max_chars,
        |  CAST(COALESCE(list_sum(list_transform(sents, x -> length(x))),
        |    0) AS BIGINT) AS total_chars,
        |  CASE WHEN len(sents) = 0 THEN 0.0
        |       ELSE CAST(COALESCE(list_sum(list_transform(sents,
        |         x -> length(x))), 0) AS DOUBLE) / len(sents) END
        |    AS avg_chars
        |FROM sp ORDER BY doc_id""".stripMargin,

    // the bit-packed STREAMINFO fields pinned in closed form: a shift,
    // mask, or straddle mistake in the parser misses every row
    "mm_flac_meta" ->
      """SELECT doc_id,
        |  1 + doc_id % 2 AS channels,
        |  8000 * (1 + doc_id % 5) AS sample_rate,
        |  8 + 4 * (doc_id % 3) AS bits_per_sample,
        |  1000 + doc_id % 9000 AS total_samples,
        |  ((1000 + doc_id % 9000) * 1000) // (8000 * (1 + doc_id % 5))
        |    AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,

    // planted-construction verdicts: the media thirds carry real headers
    // (truncations at known residues), the text third can only dispatch
    // by its OWN leading bytes — ASCII text can never satisfy the binary
    // format gates (bpp/fmt-code fields need NUL bytes), so its media
    // lookalikes always land in the undecodable reasons
    "mm_decode_audit" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'riff'
        |       WHEN doc_id % 3 = 1 THEN 'bmp'
        |       WHEN doc_id % 6 = 2 THEN 'png'
        |       WHEN doc_id % 6 = 5 THEN 'jpeg'
        |       WHEN substr(text, 1, 4) = 'RIFF' THEN 'riff'
        |       WHEN substr(text, 1, 4) = 'fLaC' THEN 'flac'
        |       WHEN substr(text, 1, 2) = 'BM' THEN 'bmp'
        |       WHEN substr(text, 1, 4) = 'GIF8' THEN 'gif'
        |       WHEN substr(hex(encode(text)), 9, 8) = '66747970' THEN 'mp4'
        |       WHEN substr(text, 1, 3) = 'ID3' THEN 'mp3'
        |       ELSE 'bin' END AS kind,
        |  (doc_id % 3 = 0 AND doc_id % 15 != 0)
        |    OR (doc_id % 3 = 1 AND doc_id % 15 != 1)
        |    OR (doc_id % 6 = 2 AND doc_id % 30 != 2)
        |    OR (doc_id % 6 = 5 AND doc_id % 30 != 5) AS ok,
        |  CASE WHEN doc_id % 3 = 0 THEN
        |         CASE WHEN doc_id % 15 = 0 THEN 'undecodable_pcm'
        |              ELSE 'ok' END
        |       WHEN doc_id % 3 = 1 THEN
        |         CASE WHEN doc_id % 15 = 1 THEN 'undecodable_bmp24'
        |              ELSE 'ok' END
        |       WHEN doc_id % 6 = 2 THEN
        |         CASE WHEN doc_id % 30 = 2 THEN 'undecodable_png'
        |              ELSE 'ok' END
        |       WHEN doc_id % 6 = 5 THEN
        |         CASE WHEN doc_id % 30 = 5 THEN 'undecodable_jpeg'
        |              ELSE 'ok' END
        |       WHEN substr(text, 1, 4) = 'RIFF' THEN 'undecodable_pcm'
        |       WHEN substr(text, 1, 4) = 'fLaC' THEN 'undecodable_flac'
        |       WHEN substr(text, 1, 2) = 'BM' THEN 'undecodable_bmp24'
        |       WHEN substr(text, 1, 4) = 'GIF8' THEN 'undecodable_gif'
        |       WHEN substr(hex(encode(text)), 9, 8) = '66747970'
        |         THEN 'undecodable_mp4'
        |       WHEN substr(text, 1, 3) = 'ID3' THEN 'undecodable_mp3'
        |       ELSE 'unknown_format' END AS reason
        |FROM documents ORDER BY doc_id""".stripMargin,

    // GIF features recomputed from palette[idx(j)] in closed form — no
    // LZW here: the oracle derives the palette lookup directly, the
    // engine must bit-unpack and table-walk its way back to the same
    // bytes
    "mm_gif_features" ->
      """WITH hw AS (SELECT doc_id, 3 + doc_id % 4 AS w,
        |    2 + doc_id % 3 AS h
        |  FROM documents),
        |hj AS (SELECT doc_id, w, h,
        |    CAST(unnest(range(0, w * h)) AS BIGINT) AS j
        |  FROM hw),
        |hi AS (SELECT doc_id, w, h, j % w AS x, j // w AS y,
        |    (doc_id * 13 + j * 23) % 128 AS idx
        |  FROM hj),
        |hc AS (SELECT doc_id, w, h, x, y,
        |    CAST(unnest(range(0, 3)) AS BIGINT) AS c, idx
        |  FROM hi),
        |hv AS (SELECT doc_id, w, h, x, y, c,
        |    (doc_id * 7 + (idx * 3 + c) * 11) % 256 AS v
        |  FROM hc)
        |SELECT doc_id,
        |  CAST(MAX(w) AS BIGINT) AS width,
        |  CAST(MAX(h) AS BIGINT) AS height,
        |  CAST(MAX(w) * MAX(h) AS BIGINT) AS n_px,
        |  CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
        |  CAST(SUM(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
        |  CAST(SUM(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
        |  CAST(SUM(CASE WHEN c = 0 THEN (x + y * w) * v ELSE 0 END)
        |    AS BIGINT) AS wsum_r,
        |  CAST(SUM(CASE WHEN c = 1 THEN (x + y * w) * v ELSE 0 END)
        |    AS BIGINT) AS wsum_g,
        |  CAST(SUM(CASE WHEN c = 2 THEN (x + y * w) * v ELSE 0 END)
        |    AS BIGINT) AS wsum_b,
        |  CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS DOUBLE) /
        |    CAST(MAX(w) * MAX(h) AS DOUBLE) AS mean_r,
        |  CAST(SUM(CASE WHEN c = 1 THEN v ELSE 0 END) AS DOUBLE) /
        |    CAST(MAX(w) * MAX(h) AS DOUBLE) AS mean_g,
        |  CAST(SUM(CASE WHEN c = 2 THEN v ELSE 0 END) AS DOUBLE) /
        |    CAST(MAX(w) * MAX(h) AS DOUBLE) AS mean_b
        |FROM hv GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // PNG features recomputed from the closed-form PIXEL primitive
    // alone — no filter math here: the oracle derives (x, y, c) from
    // the stream index and sums, while the engine has to inflate and
    // un-filter its way back to these very bytes
    "mm_png_features" ->
      """WITH gw AS (SELECT doc_id, 3 + doc_id % 4 AS w,
        |    2 + doc_id % 3 AS h
        |  FROM documents),
        |gj AS (SELECT doc_id, w, h,
        |    CAST(unnest(range(0, 3 * w * h)) AS BIGINT) AS j
        |  FROM gw),
        |gp AS (SELECT doc_id, w, h, j % 3 AS c, (j // 3) % w AS x,
        |    j // (3 * w) AS y, (doc_id * 13 + j * 23) % 256 AS v
        |  FROM gj)
        |SELECT doc_id,
        |  CAST(MAX(w) AS BIGINT) AS width,
        |  CAST(MAX(h) AS BIGINT) AS height,
        |  CAST(MAX(w) * MAX(h) AS BIGINT) AS n_px,
        |  CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
        |  CAST(SUM(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
        |  CAST(SUM(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
        |  CAST(SUM(CASE WHEN c = 0 THEN (x + y * w) * v ELSE 0 END)
        |    AS BIGINT) AS wsum_r,
        |  CAST(SUM(CASE WHEN c = 1 THEN (x + y * w) * v ELSE 0 END)
        |    AS BIGINT) AS wsum_g,
        |  CAST(SUM(CASE WHEN c = 2 THEN (x + y * w) * v ELSE 0 END)
        |    AS BIGINT) AS wsum_b,
        |  CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS DOUBLE) /
        |    CAST(MAX(w) * MAX(h) AS DOUBLE) AS mean_r,
        |  CAST(SUM(CASE WHEN c = 1 THEN v ELSE 0 END) AS DOUBLE) /
        |    CAST(MAX(w) * MAX(h) AS DOUBLE) AS mean_g,
        |  CAST(SUM(CASE WHEN c = 2 THEN v ELSE 0 END) AS DOUBLE) /
        |    CAST(MAX(w) * MAX(h) AS DOUBLE) AS mean_b
        |FROM gp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // DC-only JPEG replayed entirely in integers: signed DC walk via a
    // window cumsum (HUGEINT — windowed SUM(BIGINT) widens), pixel =
    // clamp((dc·17 + 1028) // 8) — the +1028 offset keeps the numerator
    // positive so // is floor (= the decoder's round-half-up at +128),
    // every pixel of block k = (by·bw + bx) is that one value, and the
    // per-block weight mass has the closed form 8·(64·bx + 28) +
    // 8·W·(64·by + 28)
    "mm_jpeg_features" ->
      """WITH jw AS (SELECT doc_id, 1 + doc_id % 3 AS bw,
        |    1 + doc_id % 2 AS bh
        |  FROM documents),
        |jk AS (SELECT doc_id, bw, bh,
        |    CAST(unnest(range(0, bw * bh)) AS BIGINT) AS k
        |  FROM jw),
        |jm AS (SELECT doc_id, bw, bh, k,
        |    CASE WHEN k % 2 = 0 THEN 32 + (doc_id * 7 + k * 11) % 32
        |         ELSE -(32 + (doc_id * 7 + k * 11) % 32) END AS sd
        |  FROM jk),
        |jd AS (SELECT doc_id, bw, bh, k,
        |    SUM(sd) OVER (PARTITION BY doc_id ORDER BY k) AS dc
        |  FROM jm),
        |jv AS (SELECT doc_id, bw, bh, k,
        |    LEAST(255, GREATEST(0, (dc * 17 + 1028) // 8)) AS v
        |  FROM jd)
        |SELECT doc_id,
        |  CAST(bw * 8 AS BIGINT) AS width,
        |  CAST(bh * 8 AS BIGINT) AS height,
        |  CAST(bw * bh * 64 AS BIGINT) AS n_px,
        |  CAST(SUM(64 * v) AS BIGINT) AS sum_r,
        |  CAST(SUM(64 * v) AS BIGINT) AS sum_g,
        |  CAST(SUM(64 * v) AS BIGINT) AS sum_b,
        |  CAST(SUM(v * (8 * (64 * (k % bw) + 28)
        |    + 8 * bw * 8 * (64 * (k // bw) + 28))) AS BIGINT) AS wsum_r,
        |  CAST(SUM(v * (8 * (64 * (k % bw) + 28)
        |    + 8 * bw * 8 * (64 * (k // bw) + 28))) AS BIGINT) AS wsum_g,
        |  CAST(SUM(v * (8 * (64 * (k % bw) + 28)
        |    + 8 * bw * 8 * (64 * (k // bw) + 28))) AS BIGINT) AS wsum_b,
        |  CAST(SUM(64 * v) AS DOUBLE) / CAST(bw * bh * 64 AS DOUBLE)
        |    AS mean_r,
        |  CAST(SUM(64 * v) AS DOUBLE) / CAST(bw * bh * 64 AS DOUBLE)
        |    AS mean_g,
        |  CAST(SUM(64 * v) AS DOUBLE) / CAST(bw * bh * 64 AS DOUBLE)
        |    AS mean_b
        |FROM jv GROUP BY doc_id, bw, bh ORDER BY doc_id""".stripMargin,

    // the progressive twin: same ±category-6 walk but at the v = dc>>1
    // level, reconstructed dc = 2v + ((doc_id + k) % 2) — the DC
    // refinement bit — then the identical exact pixel/weight algebra
    "mm_jpeg_progressive" ->
      """WITH jw AS (SELECT doc_id, 1 + doc_id % 3 AS bw,
        |    1 + doc_id % 2 AS bh
        |  FROM documents),
        |jk AS (SELECT doc_id, bw, bh,
        |    CAST(unnest(range(0, bw * bh)) AS BIGINT) AS k
        |  FROM jw),
        |jm AS (SELECT doc_id, bw, bh, k,
        |    CASE WHEN k % 2 = 0 THEN 32 + (doc_id * 7 + k * 11) % 32
        |         ELSE -(32 + (doc_id * 7 + k * 11) % 32) END AS sd
        |  FROM jk),
        |jd AS (SELECT doc_id, bw, bh, k,
        |    2 * SUM(sd) OVER (PARTITION BY doc_id ORDER BY k)
        |      + (doc_id + k) % 2 AS dc
        |  FROM jm),
        |jv AS (SELECT doc_id, bw, bh, k,
        |    LEAST(255, GREATEST(0, (dc * 17 + 1028) // 8)) AS v
        |  FROM jd)
        |SELECT doc_id,
        |  CAST(bw * 8 AS BIGINT) AS width,
        |  CAST(bh * 8 AS BIGINT) AS height,
        |  CAST(bw * bh * 64 AS BIGINT) AS n_px,
        |  CAST(SUM(64 * v) AS BIGINT) AS sum_r,
        |  CAST(SUM(64 * v) AS BIGINT) AS sum_g,
        |  CAST(SUM(64 * v) AS BIGINT) AS sum_b,
        |  CAST(SUM(v * (8 * (64 * (k % bw) + 28)
        |    + 8 * bw * 8 * (64 * (k // bw) + 28))) AS BIGINT) AS wsum_r,
        |  CAST(SUM(v * (8 * (64 * (k % bw) + 28)
        |    + 8 * bw * 8 * (64 * (k // bw) + 28))) AS BIGINT) AS wsum_g,
        |  CAST(SUM(v * (8 * (64 * (k % bw) + 28)
        |    + 8 * bw * 8 * (64 * (k // bw) + 28))) AS BIGINT) AS wsum_b,
        |  CAST(SUM(64 * v) AS DOUBLE) / CAST(bw * bh * 64 AS DOUBLE)
        |    AS mean_r,
        |  CAST(SUM(64 * v) AS DOUBLE) / CAST(bw * bh * 64 AS DOUBLE)
        |    AS mean_g,
        |  CAST(SUM(64 * v) AS DOUBLE) / CAST(bw * bh * 64 AS DOUBLE)
        |    AS mean_b
        |FROM jv GROUP BY doc_id, bw, bh ORDER BY doc_id""".stripMargin,

    // the transition-graph edge relation: same LEAD-over-(ts, event_id)
    // sessionization, weighted by transition count
    "graph_transitions" ->
      s"""WITH $GraphCtesSql
        |SELECT src, dst, w FROM gedges ORDER BY src, dst""".stripMargin,

    // 5 unrolled Jacobi iterations of the exact int64 PageRank — floor
    // division at every step mirrors the engine's intDivNonNeg chain
    "graph_pagerank" -> PageRankOracleSql,
    "graph_pagerank_seeded" -> pageRankOracle(Some(Seq(0L, 1L, 2L, 3L))),

    // full-outer degree/weight profile over the same edge chain
    "graph_degrees" ->
      s"""WITH $GraphCtesSql,
        |dout AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS out_deg,
        |  CAST(SUM(w) AS BIGINT) AS out_w FROM gedges GROUP BY src),
        |din AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS in_deg,
        |  CAST(SUM(w) AS BIGINT) AS in_w FROM gedges GROUP BY dst)
        |SELECT COALESCE(dout.node, din.node) AS node,
        |  COALESCE(out_deg, 0) AS out_deg,
        |  COALESCE(in_deg, 0) AS in_deg,
        |  COALESCE(out_w, 0) AS out_w,
        |  COALESCE(in_w, 0) AS in_w
        |FROM dout FULL JOIN din ON dout.node = din.node
        |ORDER BY node""".stripMargin,

    // min-label fixed point over the w≥5 subgraph as a recursive CTE
    "graph_components" ->
      s"""WITH RECURSIVE $GraphCtesSql,
        |gstrong AS (SELECT src, dst FROM gedges WHERE w >= 5),
        |gsn AS (SELECT src AS node FROM gstrong
        |  UNION SELECT dst FROM gstrong),
        |gund AS (SELECT src AS x, dst AS y FROM gstrong
        |  UNION ALL SELECT dst, src FROM gstrong),
        |greach AS (SELECT node AS id, node AS l FROM gsn
        |  UNION
        |  SELECT e.x AS id, r.l FROM gund e JOIN greach r ON r.id = e.y)
        |SELECT id AS node, MIN(l) AS component FROM greach
        |GROUP BY id ORDER BY node""".stripMargin,

    // layout must never change values: the bucketed-table join must
    // equal the plain SQL join (the zero-exchange plan is spec-pinned)
    "layout_bucket_join" ->
      """SELECT o_orderpriority,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // candidates re-extracted with the same boundary-anchored pattern,
    // Luhn recomputed digit-by-digit from the right
    "text_pii_luhn" ->
      """WITH aug AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' card ' ||
        |    substr(cd, 1, 4) || '-' || substr(cd, 5, 4) || '-' ||
        |    substr(cd, 9, 4) || '-' || substr(cd, 13, 4) ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 1 THEN ' ref ' ||
        |    lpad(CAST((doc_id * 65537) % 1000000 AS VARCHAR), 6, '0') ||
        |    lpad(CAST((doc_id * 97) % 1000000 AS VARCHAR), 6, '0')
        |    ELSE '' END AS s
        |  FROM (SELECT doc_id, text,
        |    '4' ||
        |    lpad(CAST((doc_id * 7919) % 100000 AS VARCHAR), 5, '0') ||
        |    lpad(CAST((doc_id * 104729) % 100000 AS VARCHAR), 5, '0') ||
        |    lpad(CAST((doc_id * 1299709) % 100000 AS VARCHAR), 5, '0')
        |      AS cd
        |    FROM documents)),
        |cand AS (SELECT doc_id,
        |    regexp_replace(unnest(
        |      regexp_extract_all(s, '\b(?:\d[ -]?){12,18}\d\b')),
        |      '[ -]', '', 'g') AS card
        |  FROM aug),
        |ok AS (SELECT doc_id, card FROM cand
        |  WHERE length(card) BETWEEN 13 AND 19)
        |SELECT doc_id, card,
        |  (list_sum(list_transform(range(1, length(card) + 1),
        |    i -> CASE WHEN (length(card) - i) % 2 = 1 THEN
        |        CASE WHEN (ascii(substr(card, i, 1)) - 48) * 2 > 9
        |             THEN (ascii(substr(card, i, 1)) - 48) * 2 - 9
        |             ELSE (ascii(substr(card, i, 1)) - 48) * 2 END
        |      ELSE ascii(substr(card, i, 1)) - 48 END)) % 10 = 0)
        |    AS luhn_valid,
        |  length(card) AS n_digits
        |FROM ok ORDER BY doc_id, card""".stripMargin,

    // one leaked twin per bench vector at cosine 1.0, nearest genuine
    // non-copy far below the 0.95 cut (documented family margin)
    "contam_embedding" ->
      """WITH corp AS (SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings),
        |b AS (SELECT vec_id AS bid, embedding AS bv FROM embeddings
        |  WHERE vec_id < 10)
        |SELECT c.vec_id, CAST(COUNT(*) AS BIGINT) AS n_bench_hits
        |FROM corp c JOIN b ON c.vec_id <> b.bid
        |WHERE list_cosine_similarity(c.embedding, b.bv) >= 0.95
        |GROUP BY c.vec_id ORDER BY c.vec_id""".stripMargin,

    // the token stream positions recomputed with a plain global window
    // cumsum; per-sequence token contribution = clipped span overlap
    "corpus_pack_fixed" ->
      s"""WITH tk AS ($NormToksSql),
        |pbase AS (SELECT doc_id AS id, CAST(len(toks) AS BIGINT) AS n
        |  FROM tk),
        |pcum AS (SELECT id, n,
        |    CAST(SUM(n) OVER (ORDER BY id) AS BIGINT) AS e
        |  FROM pbase),
        |pspans AS (SELECT id, n, e - n AS s, e FROM pcum WHERE n > 0),
        |psq AS (SELECT id, s, e,
        |    CAST(unnest(range(s // 512, (e - 1) // 512 + 1)) AS BIGINT)
        |      AS seq_id
        |  FROM pspans)
        |SELECT seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(LEAST(e, (seq_id + 1) * 512) -
        |           GREATEST(s, seq_id * 512)) AS BIGINT) AS n_tokens
        |FROM psq GROUP BY seq_id ORDER BY seq_id""".stripMargin,

    // the pack arithmetic unchanged, the counter swapped for the
    // generated byte-BPE subword chain
    "corpus_pack_bytebpe" ->
      s"""WITH pbase AS (
        |  SELECT doc_id AS id, n
        |  FROM (${graft.functions.ByteBpe.subwordCountsSql()})),
        |pcum AS (SELECT id, n,
        |    CAST(SUM(n) OVER (ORDER BY id) AS BIGINT) AS e
        |  FROM pbase),
        |pspans AS (SELECT id, n, e - n AS s, e FROM pcum WHERE n > 0),
        |psq AS (SELECT id, s, e,
        |    CAST(unnest(range(s // 512, (e - 1) // 512 + 1)) AS BIGINT)
        |      AS seq_id
        |  FROM pspans)
        |SELECT seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(LEAST(e, (seq_id + 1) * 512) -
        |           GREATEST(s, seq_id * 512)) AS BIGINT) AS n_tokens
        |FROM psq GROUP BY seq_id ORDER BY seq_id""".stripMargin,

    // the same global-offset chain, emitted per (sequence, document)
    // with in-sequence and in-document offsets
    "corpus_pack_spans" ->
      s"""WITH tk AS ($NormToksSql),
        |sbase AS (SELECT doc_id AS id, CAST(len(toks) AS BIGINT) AS n
        |  FROM tk),
        |scum AS (SELECT id, n,
        |    CAST(SUM(n) OVER (ORDER BY id) AS BIGINT) AS e
        |  FROM sbase),
        |sspans AS (SELECT id, n, e - n AS s, e FROM scum WHERE n > 0),
        |ssq AS (SELECT id, s, e,
        |    CAST(unnest(range(s // 512, (e - 1) // 512 + 1)) AS BIGINT)
        |      AS seq_id
        |  FROM sspans)
        |SELECT seq_id, id AS doc_id,
        |  CAST(GREATEST(s, seq_id * 512) - seq_id * 512 AS BIGINT)
        |    AS start_in_seq,
        |  CAST(GREATEST(s, seq_id * 512) - s AS BIGINT) AS doc_off,
        |  CAST(LEAST(e, (seq_id + 1) * 512) -
        |       GREATEST(s, seq_id * 512) AS BIGINT) AS n_toks
        |FROM ssq ORDER BY seq_id, doc_id""".stripMargin,

    // boundaries = smallest value whose cumulative count reaches
    // ceil(p·n/100); part = # boundaries strictly below n_chars
    // the export hop is lossless: every doc comes back byte-identical
    "corpus_export_warczst" ->
      """SELECT doc_id, text FROM documents
        |ORDER BY doc_id""".stripMargin,

    "corpus_export_warczst_dict" ->
      """SELECT doc_id, text FROM documents
        |ORDER BY doc_id""".stripMargin,

    // the conversion records carry the STRIPPED text — same chain as
    // text_html_strip, plus the record-type pin
    // every exported metadata field recomputed independently —
    // DuckDB's own sha256 is the digest referee
    "corpus_export_wat" ->
      """SELECT doc_id, 'metadata' AS rec_type,
        |  sha256(text) AS digest, n_chars, lang
        |FROM documents ORDER BY doc_id""".stripMargin,

    "corpus_export_wet" ->
      """WITH h AS (SELECT doc_id, source, text,
        |  '<div class="doc"><h1>' || source || '</h1><p>' ||
        |    replace(replace(text, '&', '&amp;'), '<', '&lt;') ||
        |    '</p><br/></div>' AS html
        |  FROM documents)
        |SELECT doc_id, 'conversion' AS rec_type,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(html, '<[A-Za-z/!][^>]{0,256}>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean
        |FROM h ORDER BY doc_id""".stripMargin,

    "corpus_export_warczst_trained" ->
      """SELECT doc_id, text FROM documents
        |ORDER BY doc_id""".stripMargin,

    "corpus_export_warcgz" ->
      """SELECT doc_id, text FROM documents
        |ORDER BY doc_id""".stripMargin,

    "corpus_export_arrow" ->
      """SELECT doc_id, text, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    "corpus_export_arrow_dict" ->
      """SELECT doc_id, source, text FROM documents
        |ORDER BY doc_id""".stripMargin,

    "corpus_export_arrow_struct" ->
      """SELECT doc_id, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    "corpus_export_arrow_map" ->
      """SELECT doc_id, 'lang' AS k, lang AS v FROM documents
        |UNION ALL
        |SELECT doc_id, 'source' AS k, source AS v FROM documents
        |ORDER BY doc_id, k""".stripMargin,

    "corpus_export_arrow_emb" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    CAST(label AS BIGINT) AS label,
        |    unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings)
        |SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
        |  CAST(embedding[i] AS DOUBLE) AS value, label
        |FROM e ORDER BY vec_id, pos""".stripMargin,

    "corpus_export_tfrecord" ->
      """SELECT doc_id, text, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    "corpus_export_range" ->
      """WITH h AS (SELECT n_chars AS v, COUNT(*) AS c FROM documents
        |  GROUP BY v),
        |cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cc FROM h),
        |nn AS (SELECT COUNT(*) AS n FROM documents),
        |b AS (SELECT
        |  (SELECT MIN(v) FROM cum CROSS JOIN nn
        |     WHERE cc >= (25 * n + 99) // 100) AS b1,
        |  (SELECT MIN(v) FROM cum CROSS JOIN nn
        |     WHERE cc >= (50 * n + 99) // 100) AS b2,
        |  (SELECT MIN(v) FROM cum CROSS JOIN nn
        |     WHERE cc >= (75 * n + 99) // 100) AS b3),
        |lab AS (SELECT n_chars,
        |    CAST(CASE WHEN n_chars > b1 THEN 1 ELSE 0 END +
        |         CASE WHEN n_chars > b2 THEN 1 ELSE 0 END +
        |         CASE WHEN n_chars > b3 THEN 1 ELSE 0 END AS BIGINT)
        |      AS part
        |  FROM documents CROSS JOIN b)
        |SELECT part, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM lab GROUP BY part ORDER BY part""".stripMargin,

    // v1 rows are NULL in the evolved column by construction — the
    // per-source profile is recomputable from the original table alone
    "source_schema_evolution" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_evolved,
        |  CAST(COALESCE(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END), 0)
        |    AS BIGINT) AS total_quality
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // compaction is a content identity: the oracle recomputes the
    // per-source manifest from the ORIGINAL documents table — any row
    // lost/duplicated/mangled by the fragment→compact round trip breaks
    // the count, token total, or the order-independent checksum
    "corpus_compact" ->
      """WITH n AS (SELECT source,
        |  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
        |  FROM documents),
        |f AS (SELECT source,
        |  CASE WHEN s = '' THEN 0
        |       ELSE len(string_split(s, ' ')) END AS n_toks,
        |  (list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(s) + 1),
        |        i -> CAST(ascii(substr(s, i, 1)) AS BIGINT))),
        |    (acc, x) -> (acc * 1000003 + x) % 2199023255552))
        |    % 2147483648 AS fp
        |  FROM n)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
        |  CAST(SUM(fp) % 2199023255552 AS BIGINT) AS content_sum41
        |FROM f GROUP BY source ORDER BY source""".stripMargin
  )

  /** Transition-graph CTE chain (ends at weighted edges `gedges`) —
    * node = the `k` property of the event payload (regex-parsed: the
    * props format is fixed `{"k": N}`; NULLIF guards a non-match to
    * NULL like Spark's get_json_object), edges = per-user consecutive
    * pairs under (ts, event_id) order. Shared by graph_transitions and
    * the PageRank oracle. */
  private lazy val GraphCtesSql =
    """gev AS (SELECT user_id, event_id, ts,
      |    CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '')
      |      AS BIGINT) AS node
      |  FROM events),
      |gseq AS (SELECT user_id, node,
      |    LEAD(node) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS nxt
      |  FROM gev),
      |gedges AS (SELECT node AS src, nxt AS dst,
      |    CAST(COUNT(*) AS BIGINT) AS w
      |  FROM gseq WHERE nxt IS NOT NULL GROUP BY src, dst)""".stripMargin

  /** graph_pagerank oracle builder: the shared edge chain + graph
    * normalization (node set, out-weights) + `iters` unrolled iterations
    * of `pr'(v) = teleport(v) + (17·Σ (pr(u)·w)//W_u)//20` at S = 1e12 —
    * every quantity CAST back to BIGINT so DuckDB's HUGEINT sums don't
    * float-ify the driver compare. `seeds = None` is classic PageRank
    * (uniform teleport over N); `Some(ids)` is the personalized variant
    * (teleport mass only at the seed ids, uniform start over seeds). */
  private def pageRankOracle(seeds: Option[Seq[Long]]): String = {
    val iters = 5
    val (tele, pr0) = seeds match {
      case None =>
        ("(1000000000000 * 3) // (20 * gn.n)",
          "CAST(1000000000000 // gn.n AS BIGINT)")
      case Some(ids) =>
        val in = ids.mkString(", ")
        val k = ids.distinct.length
        (s"CASE WHEN nn.node IN ($in) " +
           s"THEN (1000000000000 * 3) // (20 * $k) ELSE 0 END",
          s"CASE WHEN node IN ($in) " +
            s"THEN CAST(1000000000000 // $k AS BIGINT) " +
            "ELSE CAST(0 AS BIGINT) END")
    }
    val iterCtes = (1 to iters).map { k =>
      s"""gpr$k AS (SELECT nn.node,
         |    CAST($tele +
         |      (17 * COALESCE(c.cs, 0)) // 20 AS BIGINT) AS pr
         |  FROM gnodes nn CROSS JOIN gn
         |  LEFT JOIN (SELECT e.dst AS node,
         |      CAST(SUM((p.pr * e.w) // e.wout) AS BIGINT) AS cs
         |    FROM ge e JOIN gpr${k - 1} p ON p.node = e.src
         |    GROUP BY e.dst) c ON c.node = nn.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $GraphCtesSql,
       |gnodes AS (SELECT src AS node FROM gedges
       |  UNION SELECT dst FROM gedges),
       |gn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM gnodes),
       |gow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM gedges
       |  GROUP BY src),
       |ge AS (SELECT g.src, g.dst, g.w, o.wout FROM gedges g
       |  JOIN gow o USING (src)),
       |gpr0 AS (SELECT node, $pr0 AS pr
       |  FROM gnodes CROSS JOIN gn),
       |$iterCtes
       |SELECT node, pr FROM gpr$iters ORDER BY node""".stripMargin
  }

  private lazy val PageRankOracleSql = pageRankOracle(None)
}
