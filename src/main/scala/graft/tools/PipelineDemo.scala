package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.operators.{Cdc, Chunking, Contamination, Dedup,
  HeavyHitters, Multimodal, QualityRules, Relevance, Sampling}

/** End-to-end training-data pipeline over one corpus — the "switch to
  * this library" composition story in one runnable main:
  *
  *   markup strip → NFC canonicalize → intra-doc line scrub → scrub
  *   PII → normalized exact dedup → near-dup dedup (minhash LSH +
  *   survivor selection) → exact-substring dedup →
  *   benchmark-contamination filter → Gopher rules + quality +
  *   LM-surprisal filter → per-source cap → temperature rebalancing →
  *   token-window chunking → sequence packing → deterministic training
  *   order → CDC/forget maintenance + incremental-ingest epilogue,
  *   with media-audit, embedding-hygiene (outliers +
  *   dominant-direction deprojection audit), written-IVF-PQ serving
  *   and transition-graph authority sidecars.
  *
  * Every stage is the same operator the driver-checked queries pin; this
  * main only composes them. Run:
  * `sbt "runMain graft.tools.PipelineDemo [sfDir]"`.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.GraftSession.local("graft-pipeline-demo")
    spark.sparkContext.setLogLevel("ERROR")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val n0 = docs.count()

    // 0. ingest canonicalization (NFC + control/NBSP squash) and
    //    intra-doc repeated-line scrub — both fully row-local, free
    //    pre-passes before anything hashes text. Markup stripping is
    //    GATED on the markup heuristic (round-6 advice): a plain-text
    //    doc with a stray '<' has nothing to gain from the tag regex and
    //    real content to lose
    val canon = Dedup.intraLineDedup(
        docs.select(col("doc_id"),
          TF.cleanText(when(TF.looksLikeMarkup(col("text")),
            TF.stripMarkup(col("text"))).otherwise(col("text")))
            .as("text")),
        "text", "doc_id")
      .select(col("doc_id"), col("clean_text").as("text"))

    // 1. PII scrub (row-local regexes)
    val scrubbed = canon.select(col("doc_id"),
      TF.redactPii(col("text")).as("text"))

    // 1b. normalized exact dedup pre-pass: a digest-only shuffle kills
    //     formatting-level re-crawls before anything computes signatures
    val normKeep = Dedup.normalizedExact(scrubbed, "text", "doc_id")
      .select(col("survivor_id").as("doc_id"))
    val normDeduped = scrubbed.join(normKeep, "doc_id")

    // 2. near-dup dedup: LSH candidates → exact-Jaccard verify →
    //    connected-component survivor selection
    val pairs = Dedup.minhashNearDup(normDeduped, "text", "doc_id",
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.8)
    val survivors = Dedup.survivorsFromPairs(
      normDeduped.select(col("doc_id").as("id")), pairs)
      .filter(col("id") === col("survivor_id"))
      .select(col("id").as("doc_id"))
    val nearDeduped = normDeduped.join(survivors, "doc_id")

    // 2b. exact-substring dedup: drop the higher-id doc of any pair
    //     sharing a verbatim >= 12-token run (catches partial-overlap
    //     duplicates that whole-doc Jaccard misses)
    val subDupes = Dedup.substringPairs(nearDeduped, "text", "doc_id",
        k = 12, maxDf = 8)
      .select(col("doc_b").as("doc_id")).distinct()
    val deduped = nearDeduped.join(subDupes, Seq("doc_id"), "left_anti")
    val n1 = deduped.count()

    // 3. benchmark-contamination filter (docs ending in 0 play the eval
    //    set here; in production this is the real benchmark corpus)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val contam = Contamination.ngramOverlap(
        deduped.filter(col("doc_id") % 10 =!= 0), bench,
        "text", "doc_id", k = 3)
      .filter(col("contamination") >= 0.5)
      .select(col("doc_id"))
    // materialize once: every downstream stage joins `clean` against a
    // function of ITSELF (gopher keep-list, quality scores, LM cut) —
    // each such self-join would double the whole dedup lineage, which
    // compounds exponentially per stage. localCheckpoint severs it.
    val clean = deduped.join(contam, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val n2 = clean.count()

    // 4. quality filter: one-pass signals kernel + hashed-feature linear
    //    scorer (the model-based filter stage; stand-in weights keep the
    //    demo self-contained) + corpus-LM surprisal outlier cut (drop the
    //    docs whose mean inverse probability under the corpus's own
    //    unigram LM is in the extreme tail)
    val gopherKeep = QualityRules.gopherRules(clean, "text", "doc_id",
        minWords = 5, maxWords = 5000)
      .filter(col("keep")).select(col("doc_id"))
    val sigKept = clean.join(gopherKeep, "doc_id")
      .select(col("doc_id"), col("text"),
        TF.textSignals(col("text")).as("sig"),
        TF.hashedLinearScore(col("text")).as("lin"))
      .filter(TF.qualityScoreFromSignals(col("sig")) >= 0.9 &&
        // stand-in weights are hash-uniform, so the neutral midpoint
        // passes ~half; a trained table plugs in here
        col("lin.score_ppk") >= 900000L)
      .select(col("doc_id"), col("text"))
    val lmScores = Relevance.unigramSurprisal(sigKept, "text", "doc_id",
      vocabSize = 256)
    // percentile of ZERO rows is null — if the signals filter keeps
    // nothing, degrade to a pass-through cut instead of an NPE
    val lmCut = Option(lmScores.agg(
        percentile_approx(col("mean_ppm"), lit(0.98), lit(1000)))
        .head.get(0)).map(_.asInstanceOf[Long]).getOrElse(Long.MaxValue)
    val kept = sigKept.join(
      lmScores.filter(col("mean_ppm") <= lmCut).select("doc_id"), "doc_id")
    val n3 = kept.count()

    // 5a. per-source cap (the "<= N docs per domain" curation rule),
    //     then 5b. temperature-rebalance the source marginal under a
    //     row budget (deterministic id-hash membership, rates broadcast)
    val capped = Sampling.groupCap(
      kept.join(docs.select("doc_id", "source"), "doc_id"),
      "source", "doc_id", cap = math.max(1, (n3 / 4).toInt))
    val balanced = Sampling.temperatureSample(
      capped.select(col("doc_id"), col("text"), col("source")),
      "source", "doc_id", targetRows = math.max(1L, n3 * 3 / 4))
      .select(col("doc_id"), col("text"))
    val n4 = balanced.count()

    // 6. chunk to context windows, pack into fixed token budgets
    val chunks = Chunking.tokenWindows(balanced, "text", "doc_id",
      window = 64, stride = 48)
    val packs = Chunking.packSequences(balanced, "text", "doc_id",
      budget = 512, nShards = 8)
    val nChunks = chunks.count()
    val nPacks = packs.agg(countDistinct(col("shard"), col("pack_id")))
      .head().getLong(0)

    // 7. deterministic interleaved training order over the packed docs
    val order = Sampling.deterministicShuffle(balanced, "doc_id",
      nShards = 8)
    val nOrdered = order.select(countDistinct(col("order_key")))
      .head().getLong(0)

    // 8. train/val/test split labels — exact cumulative hash ranges,
    //    stable as the corpus grows round over round
    val splits = balanced.select(col("doc_id"),
        Sampling.splitLabel(col("doc_id"),
          Seq(("train", 8), ("val", 1), ("test", 1)), den = 10).as("split"))
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nSplit = splits.values.sum

    // 9. daily-ingest epilogue: the curated corpus becomes tomorrow's
    //    dedup baseline — a 128 KiB Bloom summary screens exact
    //    re-crawls row-locally, and the written LSH band index catches
    //    near-duplicate rewrites, neither ever re-reading corpus text
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_demo_ingest").toString
    val bloom = Dedup.bloomIndex(balanced, "text")
    val lsh = Dedup.buildLshIndex(balanced, "text", "doc_id",
      s"$tmp/lsh")
    // ordered limit + one materialization: an unordered limit can pick
    // DIFFERENT rows per job, and delta feeds three separate actions
    val delta = balanced.orderBy(col("doc_id")).limit(40)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" fresh tail"))).as("text"))
      .localCheckpoint()
    val screened = Dedup.bloomMaybeDup(bloom, delta, "text", "doc_id")
    val nRecrawl = screened.filter(col("maybe_dup")).count()
    val fresh = delta.join(
      screened.filter(col("maybe_dup")).select("doc_id"),
      Seq("doc_id"), "left_anti")
    val nNearPairs = Dedup.lshProbeNearDup(lsh, fresh, "text", "doc_id",
      threshold = 0.6).count()

    // 9b. corpus maintenance: merge the fresh delta in as a CDC batch
    //     (version 2, delta wins), then honor a forget-list request —
    //     the two mutation passes a served corpus takes between runs
    val snap = balanced
      .select(col("doc_id"), col("text"), lit(1L).as("version"),
        lit(false).as("deleted"))
    val cdcDelta = fresh
      .select(col("doc_id"), col("text"), lit(2L).as("version"),
        lit(false).as("deleted"))
    val merged = Cdc.mergeCdc(snap, cdcDelta, "doc_id", "version",
      "deleted")
    val forgetList = merged.orderBy(col("doc_id")).limit(3)
      .select(sha2(col("text"), 256).as("text_sha")).localCheckpoint()
    val served = Cdc.forgetByDigest(merged, "text", forgetList)
    val nServed = served.count()

    // 10. corpus report: exact frequent terms without a vocabulary
    //     shuffle, and the strongest collocations
    val nHeavy = HeavyHitters.heavyTokens(balanced, "text",
      phiDenom = 200, sketchK = 512).count()
    val nColl = Relevance.collocations(balanced, "text", "doc_id",
      k = 10, minCount = 2L).count()

    // 11. multimodal sidecar (round 7): the curated docs' media payloads
    //     run the PERMISSIVE decode audit, decodable audio fans out to
    //     per-window energy features — all row-local, one scan. Payloads
    //     here are synthetic WAVs (every third doc truncated, exercising
    //     the reject path); real payloads swap in at `withBlobMeta`.
    def le32c(x: org.apache.spark.sql.Column) = unhex(concat(
      lpad(hex(pmod(x, lit(256L))), 2, "0"),
      lpad(hex(pmod((x / lit(256L)).cast("long"), lit(256L))), 2, "0"),
      lpad(hex(pmod((x / lit(65536L)).cast("long"), lit(256L))), 2, "0"),
      lpad(hex(pmod((x / lit(16777216L)).cast("long"), lit(256L))), 2,
        "0")))
    def le16c(x: org.apache.spark.sql.Column) = unhex(concat(
      lpad(hex(pmod(x, lit(256L))), 2, "0"),
      lpad(hex(pmod((x / lit(256L)).cast("long"), lit(256L))), 2, "0")))
    val nf = lit(40L) + col("doc_id") % 60L
    val wavBlob = concat(lit("RIFF".getBytes), le32c(lit(0L)),
      lit("WAVE".getBytes), lit("fmt ".getBytes), le32c(lit(16L)),
      le16c(lit(1L)), le16c(lit(1L)), le32c(lit(16000L)),
      le32c(lit(32000L)), le16c(lit(2L)), le16c(lit(16L)),
      lit("data".getBytes), le32c(nf * 2L),
      unhex(array_join(transform(sequence(lit(0L), nf * 2L - 1L),
        j => lpad(hex(pmod(col("doc_id") * 7L + j * 31L, lit(256L))),
          2, "0")), "")))
    val media = balanced.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, substring(wavBlob, 1, 16))
        .otherwise(wavBlob).as("blob")).localCheckpoint()
    val audit = Multimodal.extractDecodeAudit(media, "doc_id").toDF()
      .localCheckpoint()
    val nMediaOk = audit.filter(col("ok")).count()
    val nMediaRej = audit.filter(!col("ok")).count()
    val decodable = media.join(
      audit.filter(col("ok")).select("doc_id"), "doc_id")
    val nAudioWin = Multimodal.extractAudioWindows(decodable, "doc_id",
      windowFrames = 25).toDF().count()

    // 12. embedding sidecar (round 8): hygiene-scrub the vector corpus
    //     (zero-norm / exploded-scale outliers out) BEFORE any ANN math,
    //     then product-quantized retrieval over the survivors — the
    //     RAG/near-dup retrieval stage at 64x less scan IO than float32
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val bad = graft.operators.Embeddings.outliers(emb, "embedding",
      "vec_id").select(col("id").as("vec_id")).localCheckpoint()
    val cleanEmb = emb.join(bad, Seq("vec_id"), "left_anti")
      .localCheckpoint()
    val nEmb = emb.count(); val nEmbBad = bad.count()
    val nPqHits = graft.operators.Similarity.pqTopK(cleanEmb,
      cleanEmb.filter(col("vec_id") < 3), k = 5, m = 4, ksub = 8,
      overfetch = 4).count()

    // 12b. all-but-the-top + served ANN index (round 9): deflate the
    //      dominant direction out of the scrubbed vectors' audit, then
    //      build the written IVF-PQ index once and probe it — the
    //      serving shape a RAG deployment actually runs (codes + cell
    //      pruning on disk, full vectors only for reranks)
    val dir9 = graft.operators.Embeddings.dominantDirection(
      cleanEmb, "embedding", iters = 2)
      .orderBy("pos").collect().map(_.getLong(1))
    val deproj = graft.operators.Embeddings.removeDominant(
      cleanEmb, "embedding", "vec_id", dir9).localCheckpoint()
    val massKept = deproj.agg(sum(col("norm2q_after")).cast("double") /
      sum(col("norm2q_before")).cast("double")).head().getDouble(0)
    val ivfpq = graft.operators.Similarity.buildIvfPqIndex(cleanEmb,
      graft.queries.Artifact.path("demo_ivfpq", sfDir),
      nlist = 8, m = 4, ksub = 8, iters = 1)
    val nIdxHits = graft.operators.Similarity.ivfPqTopKIndexed(ivfpq,
      cleanEmb.filter(col("vec_id") < 3), k = 5, nprobe = 3).count()

    // 12c. round-10 sidecars: the MIXED-format image front door (one
    //      expression sniffs + decodes BMP/PNG/GIF/JPEG payloads and
    //      profiles them with the format attached) and the full
    //      all-but-the-top prescription (top-2 deflated directions,
    //      near-orthogonal by construction)
    val EQ = graft.queries.ExtensionQueries
    val mixed = balanced.select(col("doc_id"),
        when(col("doc_id") % 4 === 1, EQ.pngScan).as("__scan"))
      .select(col("doc_id"),
        when(col("doc_id") % 4 === 0, EQ.bmpBlob)
          .when(col("doc_id") % 4 === 1, EQ.pngAssemble(col("__scan"),
            lit(3L) + col("doc_id") % 4L, lit(2L) + col("doc_id") % 3L))
          .when(col("doc_id") % 4 === 2, EQ.gifBlob)
          .otherwise(EQ.jpegBlob).as("blob"))
    val imgKinds = Multimodal.extractAnyImageFeatures(mixed, "doc_id")
      .toDF().groupBy(col("kind")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val dirs2 = graft.operators.Embeddings.topDirections(cleanEmb,
        "embedding", k = 2, iters = 2).collect()
    def dirOf(k: Int): Array[Double] = dirs2.filter(_.getInt(0) == k)
      .sortBy(_.getInt(1)).map(_.getLong(2).toDouble)
    val (td1, td2) = (dirOf(1), dirOf(2))
    val dirCos = math.abs(td1.zip(td2).map { case (a, b) => a * b }.sum) /
      (math.sqrt(td1.map(x => x * x).sum) *
        math.sqrt(td2.map(x => x * x).sum))

    // 13. source-authority sidecar (round 8): the event log's transition
    //     graph, PageRank'd with exact int64 arithmetic — the domain-
    //     authority weight a web-scale curation run folds into its
    //     per-source mixing decisions
    val ranks = graft.operators.Graph.pageRank(
      graft.operators.Graph.transitionEdges(
        graft.queries.Q.events(spark, sfDir),
        actor = col("user_id"),
        node = get_json_object(col("props"), "$.k").cast("long"),
        order = Seq(col("ts"), col("event_id"))),
      iters = 3)
    val nNodes = ranks.count()
    val topAuth = ranks.orderBy(col("pr").desc, col("node")).limit(1)
      .collect().head.getLong(0)

    println(s"docs=$n0 afterDedup=$n1 afterContam=$n2 afterQuality=$n3 " +
      s"afterBalance=$n4 chunks=$nChunks packs=$nPacks ordered=$nOrdered " +
      s"splits=$splits ingestRecrawls=$nRecrawl ingestNearPairs=" +
      s"$nNearPairs served=$nServed heavyTerms=$nHeavy " +
      s"collocations=$nColl mediaOk=$nMediaOk mediaRejected=$nMediaRej " +
      s"audioWindows=$nAudioWin embeddings=$nEmb embOutliers=$nEmbBad " +
      s"pqHits=$nPqHits graphNodes=$nNodes topAuthority=$topAuth " +
      f"topDirMassKept=$massKept%.3f ivfpqIndexHits=$nIdxHits " +
      s"imageKinds=${imgKinds.toSeq.sorted.mkString(",")} " +
      f"topDirsCos=$dirCos%.4f")
    require(n0 >= n1 && n1 >= n2 && n2 >= n3 && n3 >= n4 && n4 > 0 &&
      nChunks > 0 && nOrdered == n4 && nSplit == n4,
      "pipeline stages must monotonically filter and keep data")
    require(nRecrawl > 0 && nNearPairs > 0 && nHeavy > 0 && nColl > 0,
      "ingest screen and corpus report must be non-vacuous")
    require(nServed > n4 - 3 && nServed < n4 + delta.count(),
      "CDC merge must add the fresh delta and the forget pass must cut")
    require(nMediaOk + nMediaRej == n4 && nMediaOk > 0 && nMediaRej > 0 &&
      nAudioWin >= nMediaOk,
      "decode audit must cover every payload and route both verdicts")
    require(nEmb - nEmbBad > 0 && nPqHits == 3 * 5 && nNodes > 0,
      "embedding scrub must keep vectors, PQ must fill k per query, " +
        "and the transition graph must be non-empty")
    require(massKept > 0.0 && massKept <= 1.001 && nIdxHits == 3 * 5,
      "deprojection must keep a sane mass fraction and the written " +
        "IVF-PQ index must fill k per query")
    require(Set("bmp", "png", "gif", "jpeg").subsetOf(imgKinds.keySet) &&
      imgKinds.values.sum == n4 && dirCos < 0.1,
      "the mixed-image front door must decode every payload of all four " +
        "formats, and successive deflated directions must be " +
        "near-orthogonal")
    spark.stop()
  }
}
