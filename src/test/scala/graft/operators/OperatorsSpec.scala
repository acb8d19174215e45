package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}

class DedupSpec extends SparkFunSuite {

  private def docs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en"),
      (2L, "the quick brown fox jumps over the lazy dog", "en"), // exact dup
      (3L, "the quick brown fox leaps over the lazy dog", "en"), // near dup
      (4L, "completely different content about spark engines", "en"),
      (5L, "unrelated short text", "de"))
      .toDF("doc_id", "text", "lang")
  }

  test("exact dedup keeps min id and counts copies") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id")
      .orderBy("survivor_id").collect()
    assert(out.map(r => (r.getAs[Long]("survivor_id"),
      r.getAs[Long]("n_copies"))).toSeq ==
      Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("exactByHash groups identically to exact-by-text") {
    val byText = Dedup.exact(docs, Seq("text"), "doc_id")
      .select("survivor_id", "n_copies").orderBy("survivor_id").collect()
    val byHash = Dedup.exactByHash(docs, "text", "doc_id")
      .select("survivor_id", "n_copies").orderBy("survivor_id").collect()
    assert(byText.toSeq == byHash.toSeq)
  }

  test("bucketed digest index: incremental probe equals incrementalNew " +
      "and the anti-join scan is partition-pruned to the delta's " +
      "digest buckets") {
    val s = spark
    import s.implicits._
    val corpus = (0L until 200L)
      .map(i => (i, s"document body number $i with content"))
      .toDF("doc_id", "text")
    val index = Dedup.buildDigestIndexBucketed(corpus, "text",
      s"${graft.TestPaths.root}/graft_digest_spec_" +
        ProcessHandle.current().pid(), nBuckets = 64)
    // delta: 3 re-crawls (suppressed) + 2 novel docs + 1 within-delta dup
    val delta = Seq(
      (1000L, "document body number 7 with content"),
      (1001L, "document body number 8 with content"),
      (1002L, "document body number 9 with content"),
      (1003L, "genuinely new content alpha"),
      (1004L, "genuinely new content beta"),
      (1005L, "genuinely new content alpha")).toDF("doc_id", "text")
    val gotDf = Dedup.incrementalNewBucketed(index, delta, "text",
      "doc_id")
    val got = gotDf.orderBy("survivor_id").collect()
      .map(r => (r.getAs[Long]("survivor_id"), r.getAs[Long]("n_copies")))
      .toSeq
    val want = Dedup.incrementalNew(corpus, delta, "text", "doc_id")
      .orderBy("survivor_id").collect()
      .map(r => (r.getAs[Long]("survivor_id"), r.getAs[Long]("n_copies")))
      .toSeq
    assert(got == Seq((1003L, 2L), (1004L, 1L)) && got == want)
    // the index scan in the anti-join is pruned: non-empty
    // PartitionFilters on bucket, and a 6-digest delta touches ≤ 6 of
    // the 64 buckets
    val plan = gotDf.queryExecution.executedPlan.toString
    val filters =
      """PartitionFilters: \[[^\]]*\]""".r.findAllIn(plan).toList
    assert(filters.nonEmpty &&
      filters.forall(f => f.contains("bucket") && !f.contains("[]")),
      s"anti-join index scan must be bucket-pruned, got $filters\n$plan")
    // empty delta: empty result, no crash on the isin guard
    assert(Dedup.incrementalNewBucketed(index,
      delta.filter(lit(false)), "text", "doc_id").count() == 0)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashNearDup(docs, "text", "doc_id",
      threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((1L, 2L))) // identical
    assert(pairs.subsetOf(Set((1L, 2L), (1L, 3L), (2L, 3L))))
  }

  test("minhash jaccard of identical docs is 1.0") {
    val pairs = Dedup.minhashNearDup(docs, "text", "doc_id", threshold = 0.99)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("jaccard")))
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
  }

  test("simhash finds identical pair at hamming 0") {
    val pairs = Dedup.simhashNearDup(docs, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Int]("hamming")))
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
  }

  test("ngram jaccard (LSH candidates) finds exact and near pairs only") {
    val pairs = Dedup.ngramJaccardNearDup(docs, "text", "doc_id",
      threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => b == 5L || a == 4L || b == 4L })
  }

  test("substringPairs: shared k-token run found with exact run length; " +
      "unrelated docs absent") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      // shares the 6-token run "alpha..zeta" with doc 1, embedded mid-doc
      (2L, "prefix words alpha beta gamma delta epsilon zeta suffix"),
      (3L, "totally different content nothing shared here at all"))
      .toDF("doc_id", "text")
    val out = Dedup.substringPairs(d, "text", "doc_id", k = 4, maxDf = 8)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    // 6-token shared run = 3 overlapping 4-windows, all consecutive
    assert(r.getAs[Long]("n_shared") == 3L)
    assert(r.getAs[Long]("longest_run_toks") == 6L)
  }

  test("substringPairs: maxDf guard drops boilerplate windows; split runs " +
      "report the longest island only") {
    val s = spark
    import s.implicits._
    val boiler = "copyright header all rights reserved"
    // the 5-token boilerplate appears in 4 docs -> df=4 > maxDf=3
    val d = Seq(
      (1L, s"$boiler unique one content"),
      (2L, s"$boiler unique two content"),
      (3L, s"$boiler unique three content"),
      (4L, s"$boiler unique four content"),
      // docs 5/6 share two SEPARATE 4-runs around a mismatch
      (5L, "one two three four MID five six seven eight"),
      (6L, "one two three four GAP five six seven eight"))
      .toDF("doc_id", "text")
    val out = Dedup.substringPairs(d, "text", "doc_id", k = 4, maxDf = 3)
      .collect()
    assert(out.length == 1, s"boilerplate pairs must be guarded out: " +
      out.mkString(","))
    val r = out.head
    assert(r.getAs[Long]("doc_a") == 5L && r.getAs[Long]("doc_b") == 6L)
    // each side run is exactly one 4-window; two islands of size 1
    assert(r.getAs[Long]("n_shared") == 2L)
    assert(r.getAs[Long]("longest_run_toks") == 4L)
  }

  test("substringScrub: shared span removed from the higher-id doc only; " +
      "rebuilt text drops exactly the covered tokens") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "pre post alpha beta gamma delta epsilon zeta tail"),
      (3L, "totally different content nothing shared here at all"))
      .toDF("doc_id", "text")
    val out = Dedup.substringScrub(d, "text", "doc_id", k = 4, maxDf = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_toks"), r.getAs[Int]("n_removed"),
          r.getAs[String]("clean_sha"))).toMap
    // doc 1 (lower id) keeps its copy; doc 3 untouched
    assert(out(1L)._2 == 0 && out(3L)._2 == 0)
    // doc 2: matched 4-windows start at 2,3,4 -> tokens 2..7 removed
    assert(out(2L)._1 == 9 && out(2L)._2 == 6)
    val expectSha = Seq("x").toDF("x")
      .select(sha2(lit("pre post tail"), 256)).head.getString(0)
    assert(out(2L)._3 == expectSha)
  }

  test("semanticNearDup: within-cell cosine pairs found, cross-cell " +
      "pairs skipped by construction, deterministic under repartition") {
    val s = spark
    import s.implicits._
    // two well-separated clusters; ids 1/3 duplicate along e1, 2/4 along
    // e2; 5 is a lone off-axis vector in cluster 2's cell
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val d = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(0, 1, 0, 0)),
      (3L, v(1, 0.01, 0, 0)), (4L, v(0, 1, 0.01, 0)),
      (5L, v(0, 0.6, 0.8, 0)))
      .toDF("vec_id", "embedding")
    val (ids, vecs) = Similarity.kmeansCentroids(d, nlist = 2, iters = 0)
    val out = Dedup.semanticNearDup(d, "embedding", "vec_id", ids, vecs,
        threshold = 0.95)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("cell"))).toSet
    // cells: centroid 1 = e1 (docs 1,3), centroid 2 = e2 (docs 2,4,5);
    // 5's cosine to 2/4 is 0.6 — below threshold
    assert(out == Set((1L, 3L, 1L), (2L, 4L, 2L)))
    val again = Dedup.semanticNearDup(d.repartition(3), "embedding",
        "vec_id", ids, vecs, threshold = 0.95)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("cell"))).toSet
    assert(again == out)
  }

  test("semanticNearDup over the twin union: every twin pair collides in " +
      "one cell and qualifies; no sub-threshold pair leaks") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val u = emb.unionAll(emb.withColumn("vec_id", col("vec_id") + 1000000L))
    val (ids, vecs) = Similarity.kmeansCentroids(u, nlist = 8, iters = 1)
    val pairs = Dedup.semanticNearDup(u, "embedding", "vec_id", ids, vecs,
        threshold = 0.95)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    val n = emb.count()
    val twins = emb.select("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    assert(twins.subsetOf(pairs.toSet),
      "identical twin vectors must always be flagged")
    assert(pairs.length >= n)
  }

  test("lineDedup: lines above the df guard removed from every doc, kept " +
      "lines rebuilt in order; guard is strictly greater-than") {
    val s = spark
    import s.implicits._
    val boiler = "all rights reserved"
    val d = (1L to 10L).map { i =>
      val tail = if (i <= 8) "semi common" else s"tail $i"
      (i, s"$boiler\nunique line $i\n$tail")
    }.toDF("doc_id", "text")
    // boiler df=10 > maxDf=8 -> removed everywhere;
    // "semi common" df=8 == maxDf -> KEPT (strictly-greater guard)
    val out = Dedup.lineDedup(d, "text", "doc_id", maxDf = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_lines"), r.getAs[Int]("n_removed"),
          r.getAs[String]("clean_sha"))).toMap
    assert(out.values.forall(v => v._1 == 3 && v._2 == 1))
    val expect1 = Seq("x").toDF("x")
      .select(sha2(lit("unique line 1\nsemi common"), 256)).head.getString(0)
    assert(out(1L)._3 == expect1)
    val expect9 = Seq("x").toDF("x")
      .select(sha2(lit("unique line 9\ntail 9"), 256)).head.getString(0)
    assert(out(9L)._3 == expect9)
  }

  test("intraLineDedup: later repeats collapse to the first occurrence, " +
      "order preserved, distinct docs untouched") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a\nb\na\nc\nb"),
      (2L, "x\ny")).toDF("doc_id", "text")
    val out = Dedup.intraLineDedup(d, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_lines"), r.getAs[Int]("n_removed"),
          r.getAs[String]("clean_sha"))).toMap
    assert(out(1L)._1 == 5 && out(1L)._2 == 2)
    val sha1 = Seq("x").toDF("x")
      .select(sha2(lit("a\nb\nc"), 256)).head.getString(0)
    assert(out(1L)._3 == sha1)
    assert(out(2L)._1 == 2 && out(2L)._2 == 0)
  }

  test("lineDedup oracle precondition: the poly line fingerprint is " +
      "injective over the sf0.01 augmented line population") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val aug = docs.select(col("doc_id"), concat_ws("\n",
      when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter today")),
      col("text"),
      when(col("doc_id") % 2 === 0,
        lit("copyright 2026 example corp all rights reserved")),
      concat(lit("doc ref "), col("doc_id"))).as("text"))
    val lines = aug.select(explode(split(col("text"), "\n")).as("line"))
    val nLines = lines.select(countDistinct(col("line"))).head.getLong(0)
    val nFps = lines.select(countDistinct(
      TF.fingerprintPolyRaw(col("line")))).head.getLong(0)
    assert(nLines == nFps,
      "fingerprint collisions would desync the line-string oracle")
  }

  test("substringPairs oracle precondition: the poly window fingerprint is " +
      "injective over the sf0.01 window population") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val docsW = Chunking.tokenWindows(docs, "text", "doc_id", 12, 1)
      .filter(col("n_toks") === 12)
    val fps = docsW.select(countDistinct(col("chunk_fp"))).head.getLong(0)
    val strs = docsW
      .join(docs.select(col("doc_id"), TF.normTokens(col("text")).as("tk")),
        Seq("doc_id"))
      .select(concat_ws(" ",
        slice(col("tk"), col("start_tok") + 1, lit(12))).as("w"))
      .select(countDistinct(col("w"))).head.getLong(0)
    assert(fps == strs,
      "fingerprint collisions would desync the window-string oracle")
  }

  test("embedding near-dup finds identical vectors via hyperplane LSH") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f, -0.2f)),
      (2L, Array(1.0f, 0.0f, 0.5f, -0.2f)), // identical
      (3L, Array(0.99f, 0.01f, 0.5f, -0.2f)), // very close
      (4L, Array(-1.0f, 2.0f, -0.5f, 0.7f))) // far
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(vecs, "embedding", "vec_id",
      threshold = 0.99).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => b == 4L || a == 4L })
  }
}

class SimilaritySpec extends SparkFunSuite {

  private def emb = {
    val s = spark
    import s.implicits._
    spark.read.parquet(s"$sfDir/embeddings.parquet")
  }

  test("brute-force top-k: ranks are 1..k, neighbors unique, cosine desc") {
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), 5)
      .collect()
    assert(out.length == 15)
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (_, rows) =>
      val ranked = rows.sortBy(_.getAs[Int]("rank"))
      assert(ranked.map(_.getAs[Int]("rank")).toSeq == (1 to 5))
      val sims = ranked.map(_.getAs[Double]("cosine")).toSeq
      assert(sims == sims.sorted.reverse)
      assert(rows.map(_.getAs[Long]("neighbor_id")).distinct.length == 5)
      assert(!rows.exists(r =>
        r.getAs[Long]("neighbor_id") == r.getAs[Long]("query_id")))
    }
  }

  test("top-k agg matches window-function reference on the same scores") {
    val s = spark
    import s.implicits._
    val scored = Seq((1L, 0.9, 10L), (1L, 0.95, 11L), (1L, 0.95, 9L),
      (1L, 0.1, 12L), (2L, 0.4, 20L)).toDF("query_id", "cosine", "neighbor_id")
    val got = scored.groupBy(col("query_id"))
      .agg(Similarity.topK(col("cosine"), col("neighbor_id"), 2).as("top"))
      .select(col("query_id"), explode(col("top")).as("hit"))
      .select(col("query_id"), col("hit.id"), col("hit.score"))
      .orderBy("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 9L, 0.95), (1L, 11L, 0.95), (2L, 20L, 0.4)))
  }

  test("resolveNlist: explicit values pass through; AutoNlist sizes " +
      "≈ √N from the corpus with a floor clamp") {
    val s = spark
    import s.implicits._
    val d100 = (1 to 100).map(i => (i.toLong, Array(1.0f, i.toFloat)))
      .toDF("vec_id", "embedding")
    assert(Similarity.resolveNlist(d100, 16) == 16)
    assert(Similarity.resolveNlist(d100, Similarity.AutoNlist) == 10)
    val d3 = (1 to 3).map(i => (i.toLong, Array(1.0f, i.toFloat)))
      .toDF("vec_id", "embedding")
    assert(Similarity.resolveNlist(d3, Similarity.AutoNlist) == 4)
    // the auto default is live end-to-end: semanticNearDup's convenience
    // overload trains √N centroids and matches the explicit-centroid path
    val emb100 = emb.limit(100)
    val auto = Dedup.semanticNearDup(emb100, "embedding", "vec_id",
      threshold = 0.9, nlist = Similarity.AutoNlist, iters = 1)
    val (ids, vecs) = Similarity.kmeansCentroids(emb100, 10, 1)
    val explicit = Dedup.semanticNearDup(emb100, "embedding", "vec_id",
      ids, vecs, threshold = 0.9)
    assert(auto.collect().map(_.toString).sorted.toSeq ==
      explicit.collect().map(_.toString).sorted.toSeq)
  }

  test("IVF recall vs brute force >= 0.5 at nprobe=4/nlist=8 (sf0.001)") {
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, 5, nlist = 8, nprobe = 4)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  test("binaryTopK: sign-bit Hamming coarse + exact rerank — recall vs " +
      "brute force, deterministic tie-breaks, 1-bit codes") {
    val s = spark
    import s.implicits._
    // kernel sanity: sign bits and Hamming on hand values (0 is
    // non-negative; distance counts sign disagreements only)
    val hb = Seq((Array(1.0f, -1.0f, 0.0f, 2.0f),
        Array(-1.0f, -2.0f, 1.0f, 3.0f)))
      .toDF("a", "b")
      .select(Similarity.hamming(Similarity.signBits(col("a")),
        Similarity.signBits(col("b"))).as("h"))
      .head.getLong(0)
    assert(hb == 1L, "signs: [+,-,+,+] vs [-,-,+,+] differ in dim 1 only")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val bin = Similarity.binaryTopK(emb, queries, 5, overfetch = 8)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (brute & bin).size.toDouble / brute.size
    assert(recall >= 0.5, s"binary-quantized recall $recall too low")
    // determinism across partitionings
    val again = Similarity.binaryTopK(emb.repartition(7), queries, 5,
      overfetch = 8).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    val first = Similarity.binaryTopK(emb, queries, 5, overfetch = 8)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    assert(again == first, "results must be partitioning-independent")
  }

  test("written IVF index: identical results to inline IVF, and the probe " +
      "scan is partition-pruned to the probed cells") {
    val queries = emb.filter(col("vec_id") < 5)
    val inline = Similarity.ivfTopK(emb, queries, 5, nlist = 8, nprobe = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSeq
    val dir = graft.TestPaths.dir("graft_ivf").toString
    val index = Similarity.buildIvfIndex(emb, dir, nlist = 8)
    val indexedDf = Similarity.ivfTopKIndexed(index, queries, 5, nprobe = 2)
    val indexed = indexedDf.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSeq
    assert(indexed == inline)
    // plan proof: the parquet scan carries a NON-EMPTY partition filter on
    // `cell` (a bare `PartitionFilters: []` also prints on unpruned scans)
    val plan = indexedDf.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*cell[^\]]*\]""".r
        .findFirstIn(plan).isDefined,
      s"expected partition-pruned scan, got:\n$plan")
    // and the pruned read touches at most nprobe×queries distinct cells
    val cellDirs = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("cell="))
    assert(cellDirs == 8, s"index should have one dir per cell, got $cellDirs")
  }

  test("appendToIvfIndex: an appended batch lands in the right cells — " +
      "probes over the grown index equal inline IVF over the full corpus") {
    val base = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400)
    val dir = graft.TestPaths.dir("graft_ivf_app").toString
    val index = Similarity.buildIvfIndex(base, dir, nlist = 8)
    Similarity.appendToIvfIndex(index, delta)
    val queries = emb.filter(col("vec_id") < 5)
    val grown = Similarity.ivfTopKIndexed(index, queries, 5, nprobe = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSeq
    val inline = Similarity.ivfTopKWithCentroids(emb, queries, 5,
        index.centIds, index.centVecs, nprobe = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSeq
    assert(grown == inline, "appended vectors must be probe-visible")
    // and the delta really is reachable: some neighbor id >= 400 appears
    // (the corpus is shuffled labels, so top-5 over 5 queries hits some)
    assert(grown.exists(_._3 >= 400) == inline.exists(_._3 >= 400))
    // appending under DIFFERENT source column names must not fork the
    // on-disk schema — the writer normalizes to (id, vec, cell)
    val dir2 = graft.TestPaths.dir("graft_ivf_mx").toString
    val index2 = Similarity.buildIvfIndex(base, dir2, nlist = 8)
    Similarity.appendToIvfIndex(index2,
      delta.select(col("vec_id").as("row_id"), col("embedding").as("e")),
      vecCol = "e", idCol = "row_id")
    val mixed = Similarity.ivfTopKIndexed(index2, queries, 5, nprobe = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSeq
    assert(mixed == inline, "renamed-column append must probe identically")
  }

  test("k-means refinement: deterministic, reduces within-cluster inertia, " +
      "and trained centroids drive ivfTopKWithCentroids") {
    // driver-side inertia over the tiny sf0.001 corpus (test-only math)
    val vectors = emb.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def inertia(vecs: Array[Array[Double]]): Double =
      vectors.map(v => vecs.map(c => d2(v, c)).min).sum

    val (ids0, init) = Similarity.kmeansCentroids(emb, nlist = 8, iters = 0)
    val (ids1, trained) = Similarity.kmeansCentroids(emb, nlist = 8, iters = 2)
    val (_, trainedAgain) = Similarity.kmeansCentroids(emb, nlist = 8, iters = 2)
    assert(ids0.toSeq == ids1.toSeq)
    assert(trained.map(_.toSeq).toSeq == trainedAgain.map(_.toSeq).toSeq,
      "training must be bit-deterministic")
    assert(inertia(trained) <= inertia(init) + 1e-9,
      "Lloyd's iterations must not increase inertia")

    val queries = emb.filter(col("vec_id") < 3)
    val hits = Similarity.ivfTopKWithCentroids(emb, queries, 5, ids1,
      trained, nprobe = 3).collect()
    assert(hits.length == 15) // 3 queries × k=5
  }

  test("NearestCentroids kernel: differential vs driver-side brute force " +
      "over the real embeddings (order, ties, take>1)") {
    import graft.functions.{VectorFunctions => VF}
    val vectors = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val (centIds, centVecs) = vectors.take(8).unzip
    def brute(v: Array[Double], take: Int): Seq[Long] =
      centIds.zip(centVecs).map { case (cid, c) =>
        val d = v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
        (d, cid)
      }.sortBy(identity).take(take).map(_._2).toSeq
    val got = emb.select(col("vec_id"),
        VF.nearestCentroids(col("embedding"), centIds, centVecs, 3).as("nc"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    vectors.foreach { case (id, v) =>
      assert(got(id) == brute(v, 3), s"mismatch for vec $id")
    }
  }

  test("prefixRerankTopK: full-corpus overfetch reproduces brute force " +
      "exactly; tight overfetch keeps high recall") {
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSeq
    // overfetch covers the whole corpus -> stage 2 reranks everything ->
    // must equal the exact scorer row for row
    val full = Similarity.prefixRerankTopK(emb, queries, 5,
        prefixDim = 16, overfetch = 100).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSeq
    assert(full == brute)
    // staged shape: half-dim prefix, 8x overfetch. These embeddings are
    // isotropic (NOT matryoshka-trained), so the prefix carries only
    // prefix/dim of the variance — measured recall 0.68 here is the
    // FLOOR for this operator; embeddings trained with matryoshka loss
    // concentrate signal in the leading dims and recall approaches 1
    val staged = Similarity.prefixRerankTopK(emb, queries, 5,
        prefixDim = 32, overfetch = 8).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val bruteSet = brute.map(t => (t._1, t._3)).toSet
    val recall = (bruteSet & staged).size.toDouble / bruteSet.size
    assert(recall >= 0.6, s"prefix-rerank recall $recall too low")
  }

  test("groupCap: oversized groups cut to exactly cap by hash order, " +
      "undersized groups pass whole, partitioning-independent") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val out = Sampling.groupCap(docs, "lang", "doc_id", cap = 70)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    total.foreach { case (l, n) =>
      assert(byLang(l) == math.min(n, 70L), s"$l: ${byLang(l)} of $n")
    }
    // survivors of an oversized group are the 70 hash-smallest rows
    val en = docs.filter(col("lang") === "en").select("doc_id").collect()
      .map(_.getLong(0))
    val expectEn = en.sortBy(id => (Sampling.Knuth * id % 1000000007, id))
      .take(70).toSet
    val gotEn = out.filter(col("lang") === "en").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(gotEn == expectEn)
    // deterministic under repartition
    val again = Sampling.groupCap(docs.repartition(7), "lang", "doc_id", 70)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("groupCap + temperatureSample: a NULL group key is one capped/" +
      "rated group, not silently dropped") {
    import spark.implicits._
    // 10 null-group rows, 3 'a' rows — cap 5 must keep 5 nulls + 3 a's
    val rows = (1L to 10L).map(id => (id, Option.empty[String])) ++
      (11L to 13L).map(id => (id, Some("a")))
    val df = rows.toDF("doc_id", "grp")
    val capped = Sampling.groupCap(df, "grp", "doc_id", cap = 5)
    assert(capped.filter(col("grp").isNull).count() == 5L)
    assert(capped.filter(col("grp") === "a").count() == 3L)
    assert(capped.filter(col("grp").isNull)
      .select("n_group").head().getLong(0) == 10L)
    // temperatureSample: null stratum gets a rate row too (targetRows
    // large enough that every stratum keeps rate 1 → all rows survive)
    val heated = Sampling.temperatureSample(df, "grp", "doc_id",
      targetRows = 1000)
    assert(heated.count() == 13L)
    assert(heated.filter(col("grp").isNull).count() == 10L)
  }

  test("budgetCut: exact prefix rule incl. the boundary group; " +
      "partitioning-independent; loud on an unquantized score domain") {
    val s = spark
    import s.implicits._
    // 3 score groups, tokens sized so budget 25 fully takes score 2
    // (10+8=18), straddles score 1 (4+4+4: first two fit at 18+4+4=26?
    // no — 18+4=22, 22+4=26>25 → exactly one of the 4s fits after the
    // hash order), and excludes score 0
    val rows = Seq(
      (1L, 2L, 10L), (2L, 2L, 8L),
      (3L, 1L, 4L), (4L, 1L, 4L), (5L, 1L, 4L),
      (6L, 0L, 9L))
    val df = rows.toDF("doc_id", "sc", "toks")
    def sel(d: org.apache.spark.sql.DataFrame): Set[Long] =
      Sampling.budgetCut(d, "sc", "doc_id", "toks", budget = 25L)
        .filter(col("selected")).select("doc_id").collect()
        .map(_.getLong(0)).toSet
    // global-rule replay: order (sc desc, Knuth hash, id)
    val order = rows.sortBy { case (id, sc, _) =>
      (-sc, Sampling.Knuth * id % 1000000007, id) }
    var cum = 0L
    val expect = order.flatMap { case (id, _, tk) =>
      val in = cum + tk <= 25L; cum += tk
      if (in) Some(id) else None
    }.toSet
    val got = sel(df)
    assert(got == expect, s"got $got want $expect")
    assert(sel(df.repartition(7)) == got,
      "cut must not depend on partitioning")
    assert((3L to 5L).count(got) == 1,
      "exactly one boundary-group row fits the remaining 7 tokens")
    assert(!got(6L) && got(1L) && got(2L))
    // loud guard: 500 distinct continuous scores over a domain cap
    val wide = (1L to 500L).map(i => (i, i * 0.001, 1L))
      .toDF("doc_id", "sc", "toks")
    val e = intercept[IllegalArgumentException] {
      Sampling.budgetCut(wide, "sc", "doc_id", "toks", budget = 10L,
        maxScoreDomain = 100L).count()
    }
    assert(e.getMessage.contains("quantize"))
  }

  test("hash sampling: deterministic, partitioning-independent, and rates " +
      "nest (membership at num=2 ⊆ membership at num=5)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = ids(Sampling.hashSample(docs, "doc_id", 2, 10))
    val s2again = ids(Sampling.hashSample(docs.repartition(7), "doc_id", 2, 10))
    val s5 = ids(Sampling.hashSample(docs, "doc_id", 5, 10))
    assert(s2 == s2again, "sample must not depend on partitioning")
    assert(s2.subsetOf(s5), "rates must nest for the same salt")
    assert(s2.nonEmpty && s5.size < ids(docs).size)
    // distinct salts decorrelate
    val salted = ids(Sampling.hashSample(docs, "doc_id", 2, 10, salt = 9L))
    assert(salted != s2)
  }

  test("importanceSample: keep rate follows the per-row weight, weight 0 " +
      "drops, weight >= den keeps, clamped and partitioning-independent") {
    val s = spark
    import s.implicits._
    // three weight classes: 0 (always dropped), den (always kept), den/2
    val df = (0 until 3000).map { i =>
      (i.toLong, (i % 3) match {
        case 0 => 0; case 1 => 100; case 2 => 50
      })
    }.toDF("id", "w")
    def ids(d: org.apache.spark.sql.DataFrame) =
      Sampling.importanceSample(d, "id", col("w"), den = 100)
        .select("id").collect().map(_.getLong(0)).toSet
    val kept = ids(df)
    assert(kept == ids(df.repartition(11)), "partitioning-independent")
    assert((0 until 3000 by 3).forall(i => !kept.contains(i.toLong)),
      "weight 0 must drop")
    assert((1 until 3000 by 3).forall(i => kept.contains(i.toLong)),
      "weight = den must keep")
    val half = (2 until 3000 by 3).count(i => kept.contains(i.toLong))
    assert(half > 350 && half < 650, s"~half expected, got $half of 1000")
    // clamping: negative and oversized weights behave as 0 and den
    val clamped = Sampling.importanceSample(
        Seq((1L, -50), (2L, 900)).toDF("id", "w"), "id", col("w"),
        den = 100)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(clamped == Set(2L))
  }

  test("stratified sampling: per-stratum rates, absent strata dropped") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Sampling.stratifiedSample(docs, "source", "doc_id",
      rates = Map("src0" -> 10, "src1" -> 0), den = 10).collect()
    val bySource = out.groupBy(_.getAs[String]("source")).view.mapValues(_.length)
    val total = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource.getOrElse("src0", 0) == total("src0"), "rate 10/10 keeps all")
    assert(!bySource.contains("src1") && !bySource.contains("src2"))
  }

  test("temperatureSample: flattens the stratum marginal (large strata " +
      "sampled harder), rates in (0,1], deterministic under repartition") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val out = Sampling.temperatureSample(docs, "lang", "doc_id",
      targetRows = 250)
    val rates = out.select("lang", "n_stratum", "rate").distinct().collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rates.values.forall { case (_, r) => r > 0.0 && r <= 1.0 })
    // alpha = 1/2: the biggest stratum (en) must get the LOWEST rate
    val enRate = rates("en")._2
    assert(rates.forall { case (l, (_, r)) => l == "en" || r > enRate },
      s"en must be cut hardest: $rates")
    // rate formula: min(1, T * (sqrt(n)/sum_sqrt) / n), with sum_sqrt
    // the exact order-free quantized-int sum the operator uses
    val sumSqrt = rates.values
      .map(v => math.round(math.sqrt(v._1.toDouble) * 1e10)).sum / 1e10
    rates.foreach { case (_, (n, r)) =>
      val expect = math.min(1.0,
        250.0 * (math.sqrt(n.toDouble) / sumSqrt) / n.toDouble)
      assert(r == expect, s"rate drift: $r vs $expect")
    }
    // deterministic + partitioning-independent membership
    val a = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.temperatureSample(docs.repartition(7), "lang",
      "doc_id", targetRows = 250).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty)
  }

  test("deterministicShuffle: total order, contiguous per-shard positions, " +
      "round-robin interleave, partitioning-independent") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val out = Sampling.deterministicShuffle(docs, "doc_id", nShards = 16)
      .collect()
    assert(out.length == docs.count())
    val keys = out.map(_.getAs[Long]("order_key"))
    assert(keys.distinct.length == keys.length, "order_key must be unique")
    // per-shard positions are 1..n_shard with no gaps
    out.groupBy(_.getAs[Long]("shard")).foreach { case (_, rows) =>
      val pos = rows.map(_.getAs[Long]("pos_in_shard")).sorted
      assert(pos.head == 1L && pos.last == pos.length.toLong)
    }
    // reading in order_key order cycles through shards round-robin:
    // within any prefix, shard counts differ by at most 1 per cycle rank
    val byKey = out.sortBy(_.getAs[Long]("order_key"))
      .map(_.getAs[Long]("shard"))
    val firstCycle = byKey.take(16).toSet
    assert(firstCycle.size == 16, "first 16 keys must hit 16 distinct shards")
    // identical assignment under a different input partitioning
    val again = Sampling.deterministicShuffle(docs.repartition(5),
        "doc_id", nShards = 16)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("order_key"))).toMap
    val base = out.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("order_key"))).toMap
    assert(again == base)
  }

  test("epochMix: whole copies for every row, fractional copies for the " +
      "hash-chosen share, zero-weight strata dropped") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Sampling.epochMix(docs, "source", "doc_id",
      weights = Map("src0" -> 2.5, "src1" -> 1.0)).collect()
    val copies = out.groupBy(_.getAs[Long]("doc_id")).view
      .mapValues(_.map(_.getAs[Int]("copy")).sorted.toSeq).toMap
    val bySource = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    bySource.foreach { case (id, src) =>
      val got = copies.getOrElse(id, Seq.empty)
      src match {
        case "src0" => // 2 or 3 copies, contiguous from 0
          assert(got == (0 until got.size).toSeq && Set(2, 3)(got.size))
        case "src1" => assert(got == Seq(0))
        case _ => assert(got.isEmpty, s"weightless source emitted $got")
      }
    }
    // the fractional share is the same membership rule as hashSample
    val extra = out.filter(r => bySource(r.getAs[Long]("doc_id")) == "src0")
      .groupBy(_.getAs[Long]("doc_id")).view.mapValues(_.size).toMap
      .filter(_._2 == 3).keySet
    val expected = Sampling.hashSample(
        docs.filter(org.apache.spark.sql.functions.col("source") === "src0"),
        "doc_id", 500, 1000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(extra == expected)
  }

  test("survivorsFromPairs: chains collapse to the component min; " +
      "singletons survive as themselves") {
    val s = spark
    import s.implicits._
    val ids = (1L to 6L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val got = Dedup.survivorsFromPairs(ids, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      6L -> 5L))
  }

  test("survivorsFromPairsStar matches min-label on a random graph " +
      "(same output contract, different kernel)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val n = 120L
    val ids = (0L until n).toDF("id")
    val pairs = (0 until 150).map { _ =>
      (rnd.nextLong().abs % n, rnd.nextLong().abs % n)
    }.toDF("a", "b")
    val minLabel = Dedup.survivorsFromPairs(ids, pairs, maxIters = 200)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.survivorsFromPairsStar(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == minLabel)
  }

  test("star kernel converges in O(log n) rounds on a chain where " +
      "min-label needs the full diameter") {
    val s = spark
    import s.implicits._
    // 64-node chain 0-1-…-63: min-label moves the min ONE hop per
    // round, so the far end needs ~diameter rounds; the alternating
    // large-star/small-star contraction halves path lengths per round
    val chainIds = (0L until 64L).toDF("id")
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val (mlOut, mlRounds) =
      Dedup.survivorsFromPairsCounted(chainIds, chain, maxIters = 200)
    val (stOut, stRounds) =
      Dedup.survivorsFromPairsStarCounted(chainIds, chain)
    assert(mlOut.collect().forall(_.getLong(1) == 0L))
    assert(stOut.collect().forall(_.getLong(1) == 0L))
    assert(mlRounds >= 40, s"min-label took only $mlRounds rounds")
    assert(stRounds <= 10, s"star kernel took $stRounds rounds")
  }

  test("star kernel fails loudly when maxIters is exhausted before the " +
      "fixed point (a silent exit would emit duplicate/wrong labels)") {
    val s = spark
    import s.implicits._
    val ids = (0L until 32L).toDF("id")
    val chain = (0L until 31L).map(i => (i, i + 1)).toDF("a", "b")
    val thrown = intercept[IllegalArgumentException] {
      Dedup.survivorsFromPairsStar(ids, chain, maxIters = 1).collect()
    }
    assert(thrown.getMessage.contains("did not converge"))
  }

  test("star kernel: 1000-node chain collapses to node 0 in ≤ 12 rounds") {
    val s = spark
    import s.implicits._
    val ids = (0L until 1000L).toDF("id")
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("a", "b")
    val (out, rounds) = Dedup.survivorsFromPairsStarCounted(ids, chain)
    assert(rounds <= 12, s"took $rounds rounds")
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 1000 && got.forall(_._2 == 0L))
  }
}

class AsofJoinSpec extends SparkFunSuite {

  test("asof join: most recent right row per key, inclusive at equal " +
      "time, null when nothing precedes") {
    val s = spark
    import s.implicits._
    val trades = Seq((1L, 10L, "t1"), (1L, 20L, "t2"), (2L, 15L, "t3"),
      (3L, 5L, "t4")).toDF("k", "t", "trade")
    val quotes = Seq((1L, 10L, 100.0), (1L, 15L, 110.0), (2L, 15L, 200.0),
      (2L, 16L, 210.0)).toDF("k", "qt", "price")
    val got = AsofJoin.asofJoin(trades, quotes, key = "k",
        leftTime = "t", rightTime = "qt", payloadCols = Seq("price"))
      .orderBy("k", "t").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("t"),
        Option(r.getAs[java.lang.Double]("price")).map(_.toDouble)))
    assert(got.toSeq == Seq(
      (1L, 10L, Some(100.0)), // equal time: inclusive
      (1L, 20L, Some(110.0)), // latest preceding, not first
      (2L, 15L, Some(200.0)), // 16 is in the future, excluded
      (3L, 5L, None)))        // no quote for key 3
  }

  test("asof join: a right row with a NULL payload value is still the " +
      "as-of match (no stale resurrection, no torn rows)") {
    val s = spark
    import s.implicits._
    val trades = Seq((1L, 30L, "t")).toDF("k", "t", "trade")
    val quotes = Seq(
      (1L, 10L, Option(100.0), Option(5L)),
      (1L, 20L, Option.empty[Double], Option(7L))) // as-of row, price NULL
      .toDF("k", "qt", "price", "size")
    val row = AsofJoin.asofJoin(trades, quotes, "k", "t", "qt",
      Seq("price", "size")).head
    assert(row.isNullAt(row.fieldIndex("price")),
      "must take the t=20 row's NULL price, not resurrect t=10's 100.0")
    assert(row.getLong(row.fieldIndex("size")) == 7L)
  }

  test("asof join plan: one shuffle on the key, no cross join") {
    val s = spark
    import s.implicits._
    val l = (1L to 100L).map(i => (i % 5, i)).toDF("k", "t")
    val r = (1L to 50L).map(i => (i % 5, i, i * 2)).toDF("k", "qt", "v")
    val df = AsofJoin.asofJoin(l, r, "k", "t", "qt", Seq("v"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2, plan)
  }

  test("asof forward: earliest right row at-or-after, inclusive at equal " +
      "time, null when nothing follows") {
    val s = spark
    import s.implicits._
    val trades = Seq((1L, 10L, "t1"), (1L, 20L, "t2"), (2L, 17L, "t3"),
      (3L, 5L, "t4")).toDF("k", "t", "trade")
    val quotes = Seq((1L, 10L, 100.0), (1L, 15L, 110.0), (2L, 15L, 200.0),
      (2L, 16L, 210.0)).toDF("k", "qt", "price")
    val got = AsofJoin.asofJoin(trades, quotes, "k", "t", "qt",
        Seq("price"), direction = "forward")
      .orderBy("k", "t").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("t"),
        Option(r.getAs[java.lang.Double]("price")).map(_.toDouble)))
    assert(got.toSeq == Seq(
      (1L, 10L, Some(100.0)), // equal time: inclusive
      (1L, 20L, None),        // nothing after 20 for key 1
      (2L, 17L, None),        // 15/16 are in the past
      (3L, 5L, None)))
  }

  test("asof: NULL times never match in any direction — null-time left " +
      "rows get null payloads, null-time right rows are dropped") {
    val s = spark
    import s.implicits._
    val trades = Seq((1L, Option(10L), "a"), (1L, Option.empty[Long], "n"))
      .toDF("k", "t", "trade")
    val quotes = Seq((1L, Option.empty[Long], 999.0), (1L, Option(12L), 120.0))
      .toDF("k", "qt", "price")
    Seq("backward", "forward", "nearest").foreach { d =>
      val got = AsofJoin.asofJoin(trades, quotes, "k", "t", "qt",
          Seq("price"), direction = d)
        .collect().map(r => r.getAs[String]("trade") ->
          Option(r.getAs[java.lang.Double]("price")).map(_.toDouble)).toMap
      assert(got("n").isEmpty, s"$d: null left time must not match")
      val expectA = if (d == "backward") None else Some(120.0)
      assert(got("a") == expectA,
        s"$d: null right time must never be the match (got ${got("a")})")
    }
  }

  test("asof nearest: closer side wins, exact tie goes backward") {
    val s = spark
    import s.implicits._
    val trades = Seq((1L, 10L, "a"), (1L, 14L, "b"), (1L, 16L, "c"),
      (1L, 15L, "tie"), (2L, 9L, "d")).toDF("k", "t", "trade")
    val quotes = Seq((1L, 10L, 100.0), (1L, 20L, 200.0), (2L, 30L, 300.0))
      .toDF("k", "qt", "price")
    val got = AsofJoin.asofJoin(trades, quotes, "k", "t", "qt",
        Seq("price"), direction = "nearest")
      .collect()
      .map(r => r.getAs[String]("trade") ->
        Option(r.getAs[java.lang.Double]("price")).map(_.toDouble)).toMap
    assert(got == Map(
      "a" -> Some(100.0),   // exact hit
      "b" -> Some(100.0),   // 14: dist 4 back vs 6 fwd
      "c" -> Some(200.0),   // 16: dist 6 back vs 4 fwd
      "tie" -> Some(100.0), // 15: dist 5 both ways -> backward
      "d" -> Some(300.0)))  // only a future quote exists
  }

  test("asof nearest: DateType time columns compare in exact epoch days; " +
      "non-temporal non-numeric time columns are rejected up front") {
    val s = spark
    import s.implicits._
    val d = java.sql.Date.valueOf(_: String)
    val evts = Seq((1L, d("2024-01-10"), "a"), (1L, d("2024-01-16"), "b"))
      .toDF("k", "t", "evt")
    val dims = Seq((1L, d("2024-01-01"), "v1"), (1L, d("2024-01-20"), "v2"))
      .toDF("k", "dt", "ver")
    val got = AsofJoin.asofJoin(evts, dims, "k", "t", "dt", Seq("ver"),
        direction = "nearest")
      .collect().map(r => r.getAs[String]("evt") -> r.getAs[String]("ver"))
      .toMap
    // Jan 10: 9 days back vs 10 fwd -> v1; Jan 16: 15 back vs 4 fwd -> v2
    assert(got == Map("a" -> "v1", "b" -> "v2"))
    val strTimes = Seq((1L, "2024-01-10", "a")).toDF("k", "t", "evt")
    val strDims = Seq((1L, "2024-01-01", "v1")).toDF("k", "dt", "ver")
    val err = intercept[IllegalArgumentException] {
      AsofJoin.asofJoin(strTimes, strDims, "k", "t", "dt", Seq("ver"),
        direction = "nearest")
    }
    assert(err.getMessage.contains("timestamp, date, or numeric"))
  }
}

/** Mergeable-sketch coverage (SURVEY.md §2.2 lists HLL/sketches among the
  * categories absent from the reference): Spark 4 ships Datasketches HLL
  * natively; the property that matters at 100 TB is MERGE-INVARIANCE —
  * per-partition/per-source sketches unioned equal the single global
  * sketch, so distinct counts never need a global shuffle of raw values. */
class SketchSpec extends SparkFunSuite {
  import org.apache.spark.sql.functions.expr

  test("hll sketches: per-source partials union deterministically, both " +
      "union and global estimates within 5% of exact") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val global = docs
      .select(expr("hll_sketch_estimate(hll_sketch_agg(text))"))
      .head.getLong(0)
    def mergedEstimate(): Long = docs.groupBy(col("source"))
      .agg(expr("hll_sketch_agg(text)").as("sk"))
      .select(expr("hll_sketch_estimate(hll_union_agg(sk))"))
      .head.getLong(0)
    val merged = mergedEstimate()
    // NOTE: union of sparse partial sketches is NOT estimate-identical to
    // a single-pass sketch (register promotion differs) — the contract is
    // determinism + bounded error, not bit equality with the global pass
    assert(merged == mergedEstimate(), "sketch union must be deterministic")
    val exact = docs.select(countDistinct(col("text"))).head.getLong(0)
    for ((name, est) <- Seq("global" -> global, "merged" -> merged))
      assert(math.abs(est - exact).toDouble / exact < 0.05,
        s"$name estimate $est vs exact $exact")
  }

  test("histQuantilesAuto: derived bin width, negative values, empty " +
      "input, and a single corpus scan in the readout plan") {
    val s = spark
    import s.implicits._
    // values −10..49 (n=60, range 60 → width floor(59/16)+1 = 4 at
    // nBins=16, bins offset from min): p=50 → thr=30 → value 19 lives in
    // bin (19−(−10))/4 = 7 → est range [−10+28, −10+31] = [18, 21]
    val d = (-10L to 49L).toDF("v")
    val out = Sketches.histQuantilesAuto(d, "v", nBins = 16,
      ps = Seq(50, 100)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((50, 18L, 21L), (100, 46L, 49L)))
    // empty input → empty frame, schema intact
    val empty = Sketches.histQuantilesAuto(d.filter(col("v") > 100L), "v",
      nBins = 16, ps = Seq(50))
    assert(empty.collect().isEmpty &&
      empty.columns.toSeq == Seq("p", "est_lo", "est_hi"))
    // two-scan contract: pass 1 (calibrate) ran eagerly; the returned
    // frame's plan holds exactly ONE scan of the input — its only other
    // leaf is the literal (p, thr) threshold relation
    val plan = Sketches.histQuantilesAuto(d, "v", nBins = 16, ps = Seq(50))
      .queryExecution.optimizedPlan
    assert(plan.collectLeaves().length == 2,
      s"expected corpus scan + literal thresholds, got:\n$plan")
  }
}

class RangeJoinSpec extends SparkFunSuite {
  import java.sql.Timestamp

  test("point-in-interval: inclusive start, exclusive end, cross-bucket " +
      "intervals found, empty intervals dropped, no nested-loop plan") {
    val s = spark
    import s.implicits._
    def ts(str: String) = Timestamp.valueOf(str)
    val points = Seq(
      (1L, 10L, ts("2024-01-01 00:00:00")), // == start: included
      (1L, 11L, ts("2024-01-03 12:00:00")), // inside
      (1L, 12L, ts("2024-01-08 00:00:00")), // == end: excluded
      (2L, 13L, ts("2024-01-05 00:00:00"))  // other key, inside its window
    ).toDF("k", "pid", "t")
    val intervals = Seq(
      (1L, 100L, ts("2024-01-01 00:00:00"), ts("2024-01-08 00:00:00")),
      (2L, 200L, ts("2024-01-04 23:00:00"), ts("2024-01-05 01:00:00")),
      (2L, 300L, ts("2024-01-05 00:00:00"), ts("2024-01-05 00:00:00")) // empty
    ).toDF("k", "iid", "s", "e")
    val df = RangeJoin.pointInInterval(points, intervals, "k", "t", "s", "e",
      bucketSeconds = 24 * 3600)
    val got = df.select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 100L), (11L, 100L), (13L, 200L)))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}

class TextFunctionsSpec extends SparkFunSuite {

  private def one(c: org.apache.spark.sql.Column, text: String): Any = {
    val s = spark
    import s.implicits._
    Seq(text).toDF("t").select(c.as("v")).head.get(0)
  }

  test("nfc: composes decomposed sequences, idempotent, ASCII and " +
      "already-composed text unchanged, null-safe") {
    assert(one(TF.nfc(col("t")), "cafe\u0301") == "caf\u00E9")
    assert(one(TF.nfc(col("t")), "nai\u0308ve") == "na\u00EFve")
    assert(one(TF.nfc(col("t")), "caf\u00E9") == "caf\u00E9")
    assert(one(TF.nfc(col("t")), "plain ascii 123") == "plain ascii 123")
    assert(one(TF.nfc(col("t")), "") == "")
    val s = spark
    import s.implicits._
    val withNull = Seq(Some("a"), None).toDF("t")
      .select(TF.nfc(col("t")).as("v")).collect().map(_.get(0)).toSeq
    assert(withNull == Seq("a", null))
  }

  test("fixMojibake: reverses UTF-8-as-Latin-1 AND cp1252-special " +
      "damage, unwinds double encoding, leaves genuine Latin-1 / " +
      "ASCII / unmappable text untouched, null-safe") {
    def fx(t: String): Any = one(TF.fixMojibake(col("t")), t)
    def mojibake(clean: String): String =
      new String(clean.getBytes("UTF-8"), "windows-1252")
    // the classic: é on the wire, read as latin-1
    assert(fx("cafÃ©") == "café")
    // cp1252 specials: ' (U+2019) arrives as "â€™"
    assert(fx(mojibake("it’s a “quote — ok")) ==
      "it’s a “quote — ok")
    assert(fx(mojibake("price €99")) == "price €99")
    // the latin-1 channel preserves the C1 zone as control chars, so
    // even ” (whose UTF-8 carries 0x9D — unassigned in cp1252 and
    // lost to U+FFFD through THAT channel) recovers here
    assert(fx(new String("a “quote” b".getBytes("UTF-8"),
      "ISO-8859-1")) == "a “quote” b")
    // ...while the cp1252 channel's U+FFFD is honestly unrecoverable:
    // the repair must leave it alone, not guess
    val lossy = mojibake("a ” b")
    assert(lossy.contains('�') && fx(lossy) == lossy)
    // double-encoded unwinds to the fixpoint
    assert(fx(mojibake(mojibake("résumé naïve"))) ==
      "résumé naïve")
    // genuine Latin-1 text: a real é byte next to ASCII is NOT valid
    // UTF-8 — must pass through untouched
    assert(fx("café au lait") == "café au lait")
    assert(fx("plain ascii 42") == "plain ascii 42")
    assert(fx("") == "")
    // unmappable non-Latin chars (CJK) can't be mojibake output
    assert(fx("你好 world") == "你好 world")
    val s = spark
    import s.implicits._
    val withNull = Seq(Some("Ã©"), None).toDF("t")
      .select(TF.fixMojibake(col("t")).as("v")).collect()
      .map(_.get(0)).toSeq
    assert(withNull == Seq("é", null))
  }

  test("cleanText: NFC + control/NBSP/whitespace squash + trim; exact " +
      "dedup then merges encoding variants of the same text") {
    assert(one(TF.cleanText(col("t")),
      "  hi cafe\u0301\u0007 bell\u00A0and\ttab  ") ==
      "hi caf\u00E9 bell and tab")
    val s = spark
    import s.implicits._
    val variants = Seq(
      (1L, "caf\u00E9 du monde"),          // composed
      (2L, "cafe\u0301 du\u00A0monde"),    // decomposed + NBSP
      (3L, "something else")).toDF("doc_id", "text")
    val canon = variants.select(col("doc_id"),
      TF.cleanText(col("text")).as("text"))
    val groups = graft.operators.Dedup.exact(canon, Seq("text"), "doc_id")
      .collect().map(r => r.getAs[Long]("survivor_id") ->
        r.getAs[Long]("n_copies")).toMap
    assert(groups == Map(1L -> 2L, 3L -> 1L),
      "encoding variants must collapse after cleanText")
  }

  test("tokenCount handles empties and runs of whitespace") {
    assert(one(TF.tokenCount(col("t")), "a  b\tc") == 3)
    assert(one(TF.tokenCount(col("t")), "") == 0)
    assert(one(TF.tokenCount(col("t")), "   ") == 0)
    assert(one(TF.tokenCount(col("t")), "one") == 1)
  }

  test("wordShingles: k-grams and short-doc fallback") {
    assert(one(TF.wordShingles(col("t"), 3), "a b c d") ==
      Seq("a b c", "b c d"))
    assert(one(TF.wordShingles(col("t"), 3), "a b") == Seq("a b"))
  }

  test("langId picks the language with most marker hits; und on none") {
    assert(one(TF.langId(col("t")), "the cat and the dog is in the house") == "en")
    assert(one(TF.langId(col("t")), "el perro y la casa de los gatos") == "es")
    assert(one(TF.langId(col("t")), "der hund und die katze ist nicht da") == "de")
    assert(one(TF.langId(col("t")), "zzz qqq xxx") == "und")
  }

  test("fingerprint64 is order-sensitive and deterministic") {
    val a = one(TF.fingerprint64(col("t")), "alpha beta gamma")
    val a2 = one(TF.fingerprint64(col("t")), "alpha beta gamma")
    val b = one(TF.fingerprint64(col("t")), "beta alpha gamma")
    assert(a == a2 && a != b)
  }

  test("fingerprintPoly matches the reference fold and handles edges") {
    // independent reference: fold codepoints of the normalized text
    def ref(s: String): Long = {
      val norm = s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      norm.foldLeft(0L)((acc, c) => (acc * 1000003L + c) % (1L << 41))
    }
    for (s <- Seq("Hello, World! 42", "alpha beta", "", "   ", "a", "123 abc"))
      assert(one(TF.fingerprintPoly(col("t")), s) == ref(s), s"input: '$s'")
    // order-sensitive (unlike a bag hash)
    assert(one(TF.fingerprintPoly(col("t")), "alpha beta") !=
      one(TF.fingerprintPoly(col("t")), "beta alpha"))
  }

  test("simhash: identical texts equal, near texts close, far texts far") {
    val h1 = one(TF.simhash64(TF.wordShingles(col("t"), 3)),
      "the quick brown fox jumps over the lazy dog today").asInstanceOf[Long]
    val h1b = one(TF.simhash64(TF.wordShingles(col("t"), 3)),
      "the quick brown fox jumps over the lazy dog today").asInstanceOf[Long]
    val h2 = one(TF.simhash64(TF.wordShingles(col("t"), 3)),
      "the quick brown fox leaps over the lazy dog today").asInstanceOf[Long]
    val h3 = one(TF.simhash64(TF.wordShingles(col("t"), 3)),
      "completely unrelated words in this sentence structure").asInstanceOf[Long]
    assert(h1 == h1b)
    assert(java.lang.Long.bitCount(h1 ^ h2) < java.lang.Long.bitCount(h1 ^ h3))
  }

  test("trainMerges: differential vs an independent dict-BPE reference " +
      "over sf0.001 (argmax ties by pair text, greedy reapply)") {
    import graft.functions.{BpeTokenizer => Bpe}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = Bpe.trainMerges(docs, "text", nMerges = 5)
    // independent reference: classic dictionary BPE in plain Scala
    import scala.collection.mutable
    val d = mutable.Map[Vector[String], Long]()
    docs.select(col("text")).collect().foreach { r =>
      val norm = r.getString(0).toLowerCase
        .replaceAll("[^a-z0-9]+", " ").trim
      if (norm.nonEmpty) norm.split(" ").foreach { w =>
        val k = w.map(_.toString).toVector
        d(k) = d.getOrElse(k, 0L) + 1L
      }
    }
    val expect = (1 to 5).flatMap { _ =>
      val stats = mutable.Map[(String, String), Long]()
      d.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach(p => stats(p) = stats.getOrElse(p, 0L) + f)
      }
      if (stats.isEmpty) None
      else {
        val ((a, b), c) = stats.minBy { case ((x, y), n) => (-n, s"$x $y") }
        val nd = mutable.Map[Vector[String], Long]()
        d.foreach { case (syms, f) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          val k = out.result()
          nd(k) = nd.getOrElse(k, 0L) + f
        }
        d.clear(); d ++= nd
        Some((s"$a $b", a + b, c))
      }
    }
    assert(got == expect, s"got $got\nexpect $expect")
  }

  test("trainMerges job count is constant in nMerges (one corpus scan + " +
      "one dict collect; the merge loop is driver-local)") {
    import graft.functions.{BpeTokenizer => Bpe}
    val sc = spark.sparkContext
    // count jobs per run via job groups; the status store is fed
    // asynchronously from the listener bus, so poll until stable
    def jobsFor(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      var last = -1
      var cur = sc.statusTracker.getJobIdsForGroup(group).length
      var spins = 0
      while (cur != last && spins < 50) {
        last = cur; Thread.sleep(100)
        cur = sc.statusTracker.getJobIdsForGroup(group).length
        spins += 1
      }
      cur
    }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n2 = jobsFor("bpe-train-2")(Bpe.trainMerges(docs, "text", 2))
    val n16 = jobsFor("bpe-train-16")(Bpe.trainMerges(docs, "text", 16))
    assert(n2 == n16,
      s"job count must not grow with nMerges: $n2 vs $n16")
    assert(n16 <= 4, s"dict build should be a couple of jobs, got $n16")
  }

  test("BPE apply: rank-ordered merges, boundary-safe (no partial-symbol " +
      "match), word-local (no merge across the token separator)") {
    import graft.functions.{BpeTokenizer => Bpe}
    val s = spark
    import s.implicits._
    def seg(text: String): Seq[String] =
      Seq(text).toDF("t")
        .select(Bpe.segments(TF.normTokens(col("t"))).as("s"))
        .head.getSeq[String](0)
    // "the": t h -> th, th e -> the (rank order chains)
    assert(seg("the") == Seq("the"))
    assert(seg("and") == Seq("and"))
    // "scale": le fires before al/sc could; the leftover "a l" must NOT
    // match inside the merged symbol "le" (boundary safety)
    assert(seg("scale") == Seq("sc", "a", "le"))
    // merges never cross words: "a l" as two tokens stays unmerged even
    // though the "a l" rule exists
    assert(seg("a l") == Seq("a", "l"))
    // counts: segments minus separators, empty doc is 0
    val counts = Seq(("the scale", 4), ("", 0)).toDF("t", "expect")
      .select(Bpe.subwordCount(TF.normTokens(col("t"))).as("n"),
        col("expect"))
      .collect()
    counts.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("qualityScore in [0,1]; junk scores lower than clean prose") {
    val clean = one(TF.qualityScore(col("t")),
      "the engine reads the table and computes the result for the user in time")
      .asInstanceOf[Double]
    val junk = one(TF.qualityScore(col("t")), "1234 5678 !!!! ;;;; 000")
      .asInstanceOf[Double]
    assert(clean >= 0 && clean <= 1 && junk >= 0 && junk <= 1)
    assert(clean > junk)
  }

  test("vector cosine: orthogonal 0, identical 1") {
    val s = spark
    import s.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val sims = df.select(VF.cosine(col("a"), col("b"))).collect()
      .map(_.getDouble(0))
    assert(math.abs(sims(0)) < 1e-12)
    assert(math.abs(sims(1) - 1.0) < 1e-12)
  }
}

class MultimodalSpec extends SparkFunSuite {

  // ---- PNG decode cross-checks (round 9) ----
  // Two-sided independence: (1) the JDK's OWN PNG encoder (ImageIO,
  // adaptive real-world filters) feeds OUR decoder; (2) our forced-
  // filter test encoder feeds BOTH our decoder and ImageIO's decoder.
  // Each side is validated by code we didn't write, so symmetric
  // filter/un-filter bugs cannot cancel.

  private def pngPix(x: Int, y: Int, c: Int): Int =
    ((x * 31 + y * 17 + c * 7) * 13 + 5) % 256

  /** Test-side PNG encoder with a FORCED filter type on every scanline
    * (8-bit RGB, real Deflater, real chunk CRCs so ImageIO accepts it). */
  private def pngEncode(w: Int, h: Int, filter: Int): Array[Byte] = {
    val ch = 3
    val recon = Array.tabulate(h, w * ch)((y, i) => pngPix(i / ch, y, i % ch))
    val raw = new Array[Byte](h * (1 + w * ch))
    for (y <- 0 until h) {
      raw(y * (1 + w * ch)) = filter.toByte
      for (i <- 0 until w * ch) {
        val a = if (i >= ch) recon(y)(i - ch) else 0
        val b = if (y > 0) recon(y - 1)(i) else 0
        val cc = if (i >= ch && y > 0) recon(y - 1)(i - ch) else 0
        val pred = filter match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 =>
            val p = a + b - cc
            val pa = math.abs(p - a)
            val pb = math.abs(p - b)
            val pc = math.abs(p - cc)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else cc
        }
        raw(y * (1 + w * ch) + 1 + i) = ((recon(y)(i) - pred) & 0xff).toByte
      }
    }
    val d = new java.util.zip.Deflater()
    d.setInput(raw)
    d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    def chunk(t: String, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length).put(t.getBytes).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(t.getBytes)
      crc.update(data)
      bb.putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte)
      .put(0.toByte).array()
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", out.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
  }

  test("decodePngPixels inverts every forced filter type, and ImageIO " +
      "agrees our test PNGs are valid (two-sided cross-check)") {
    System.setProperty("java.awt.headless", "true")
    val (w, h) = (7, 5)
    (0 to 4).foreach { f =>
      val bytes = pngEncode(w, h, f)
      val (dw, dh, ch, px) = Multimodal.decodePngPixels(bytes)
        .getOrElse(fail(s"filter $f undecodable"))
      assert((dw, dh, ch) == (w, h, 3), s"filter $f dims")
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        assert((px((y * w + x) * 3 + c) & 0xff) == pngPix(x, y, c),
          s"filter $f pixel ($x,$y,$c)")
      // the JDK's decoder must read the same pixels — proves the test
      // encoder is real PNG, so the round-trip above isn't self-serving
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        assert(((rgb >> 16) & 0xff) == pngPix(x, y, 0), s"filter $f r")
        assert(((rgb >> 8) & 0xff) == pngPix(x, y, 1), s"filter $f g")
        assert((rgb & 0xff) == pngPix(x, y, 2), s"filter $f b")
      }
    }
  }

  test("decodePngFeatures on a JDK-ImageIO-encoded PNG matches direct " +
      "pixel sums (real third-party encoder, adaptive filters)") {
    System.setProperty("java.awt.headless", "true")
    val (w, h) = (40, 25)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (pngPix(x, y, 0) << 16) | (pngPix(x, y, 1) << 8) |
        pngPix(x, y, 2))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val row = Multimodal.decodePngFeatures(bos.toByteArray)
      .getOrElse(fail("ImageIO png undecodable"))
    assert(row.width == w && row.height == h && row.n_px == w.toLong * h)
    val want = Array.tabulate(3)(c =>
      (for (y <- 0 until h; x <- 0 until w) yield pngPix(x, y, c).toLong).sum)
    val wantW = Array.tabulate(3)(c =>
      (for (y <- 0 until h; x <- 0 until w)
        yield (x + y.toLong * w) * pngPix(x, y, c)).sum)
    assert((row.sum_r, row.sum_g, row.sum_b) == (want(0), want(1), want(2)))
    assert((row.wsum_r, row.wsum_g, row.wsum_b) ==
      (wantW(0), wantW(1), wantW(2)))
  }

  test("decodePngPixels: grayscale and RGBA color types; permissive " +
      "rejection of truncated, corrupted and oversized payloads") {
    System.setProperty("java.awt.headless", "true")
    // grayscale (color type 0): one channel, features replicate r=g=b
    val gray = new java.awt.image.BufferedImage(6, 4,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 4; x <- 0 until 6) {
      val v = pngPix(x, y, 0)
      gray.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val gbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(gray, "png", gbos)
    val g = Multimodal.decodePngFeatures(gbos.toByteArray).get
    assert(g.channels == 1 && g.sum_r == g.sum_g && g.sum_g == g.sum_b)
    // RGBA (color type 6): alpha carried in the raster, ignored in sums
    val argb = new java.awt.image.BufferedImage(5, 3,
      java.awt.image.BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until 3; x <- 0 until 5)
      argb.setRGB(x, y, (200 << 24) | (pngPix(x, y, 0) << 16) |
        (pngPix(x, y, 1) << 8) | pngPix(x, y, 2))
    val abos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(argb, "png", abos)
    val a = Multimodal.decodePngFeatures(abos.toByteArray).get
    assert(a.channels == 4 &&
      a.sum_r == (for (y <- 0 until 3; x <- 0 until 5)
        yield pngPix(x, y, 0).toLong).sum)
    // permissive rejections — None, never a throw
    val good = pngEncode(7, 5, 4)
    assert(Multimodal.decodePngPixels(good.take(30)).isEmpty, "truncated")
    assert(Multimodal.decodePngPixels(null).isEmpty, "null")
    assert(Multimodal.decodePngPixels("not a png".getBytes).isEmpty)
    // layout from the tail: IEND chunk = 12 bytes, IDAT CRC = 4, so the
    // zlib adler32 (the LAST 4 bytes of IDAT data) ends at length-17
    val badAdler = good.clone()
    badAdler(badAdler.length - 17) =
      (badAdler(badAdler.length - 17) ^ 0x7f).toByte
    assert(Multimodal.decodePngPixels(badAdler).isEmpty, "corrupt adler")
    // header-declared raster above the gate → rejected before allocation
    val big = good.clone()
    big(16) = 0x7f.toByte // width byte 0 → w ≈ 2^30
    assert(Multimodal.decodePngPixels(big).isEmpty, "oversized")
  }

  test("decodeGifPixels on a JDK-ImageIO-encoded GIF matches getRGB " +
      "(real compressed LZW: variable widths, dictionary growth)") {
    System.setProperty("java.awt.headless", "true")
    val (w, h) = (23, 17)
    val n = 64
    val (rs, gs, bs) = (new Array[Byte](n), new Array[Byte](n),
      new Array[Byte](n))
    for (i <- 0 until n) {
      rs(i) = ((i * 4) % 256).toByte
      gs(i) = ((i * 7) % 256).toByte
      bs(i) = ((i * 11) % 256).toByte
    }
    val icm = new java.awt.image.IndexColorModel(8, n, rs, gs, bs)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, (x * 3 + y * 5 + x * y) % n)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", bos))
    val (dw, dh, px) = Multimodal.decodeGifPixels(bos.toByteArray)
      .getOrElse(fail("ImageIO gif undecodable"))
    assert((dw, dh) == (w, h))
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = img.getRGB(x, y)
      val p = (y * w + x) * 3
      assert((px(p) & 0xff) == ((rgb >> 16) & 0xff), s"r($x,$y)")
      assert((px(p + 1) & 0xff) == ((rgb >> 8) & 0xff), s"g($x,$y)")
      assert((px(p + 2) & 0xff) == (rgb & 0xff), s"b($x,$y)")
    }
  }

  test("the in-plan GIF fixture is real GIF: ImageIO and our decoder " +
      "both recover the closed-form palette[idx] pixels") {
    System.setProperty("java.awt.headless", "true")
    val s = spark
    import s.implicits._
    val blobs = (0L until 6L).toDF("doc_id")
      .select(col("doc_id"), graft.queries.ExtensionQueries.gifBlob
        .as("blob"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("blob"))
    blobs.foreach { case (d, bytes) =>
      val w = (3 + d % 4).toInt
      val h = (2 + d % 3).toInt
      def pal(k: Long): Int = ((d * 7 + k * 11) % 256).toInt
      def want(x: Int, y: Int, c: Int): Int = {
        val idx = (d * 13 + (y * w + x).toLong * 23) % 128
        pal(idx * 3 + c)
      }
      val (dw, dh, px) = Multimodal.decodeGifPixels(bytes)
        .getOrElse(fail(s"doc $d: fixture undecodable by our decoder"))
      assert((dw, dh) == (w, h), s"doc $d dims")
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"doc $d: fixture unreadable by ImageIO")
      for (y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * 3
        val rgb = img.getRGB(x, y)
        for (c <- 0 until 3) {
          assert((px(p + c) & 0xff) == want(x, y, c),
            s"doc $d ours ($x,$y,$c)")
        }
        assert(((rgb >> 16) & 0xff) == want(x, y, 0), s"doc $d iio r")
        assert(((rgb >> 8) & 0xff) == want(x, y, 1), s"doc $d iio g")
        assert((rgb & 0xff) == want(x, y, 2), s"doc $d iio b")
      }
    }
  }

  test("decodeGifPixels: permissive rejection of truncated, " +
      "table-less and out-of-range payloads") {
    System.setProperty("java.awt.headless", "true")
    val s = spark
    import s.implicits._
    val good = (0L until 1L).toDF("doc_id")
      .select(graft.queries.ExtensionQueries.gifBlob.as("blob"))
      .head().getAs[Array[Byte]]("blob")
    assert(Multimodal.decodeGifPixels(good).isDefined)
    assert(Multimodal.decodeGifPixels(good.take(30)).isEmpty, "truncated")
    assert(Multimodal.decodeGifPixels(null).isEmpty, "null")
    assert(Multimodal.decodeGifPixels("GIF8 not really".getBytes).isEmpty)
    // clear the global-color-table flag: the image has no local table,
    // so there is nothing to render through (and the 384 palette bytes
    // misparse as blocks) — must reject, never guess a palette
    val noTable = good.clone()
    noTable(10) = (noTable(10) & 0x7f).toByte
    assert(Multimodal.decodeGifPixels(noTable).isEmpty, "no color table")
    // corrupt the first pixel code to 254 — after a CLEAR the next code
    // must be a root (< 128); 254 is past the 130-entry table
    // (layout: 13 header + 384 palette + 10 descriptor + mcs + len +
    // clear puts idx(0) at offset 410)
    val bad = good.clone()
    bad(13 + 384 + 10 + 3) = 0xfe.toByte
    assert(Multimodal.decodeGifPixels(bad).isEmpty, "code past table")
  }

  test("image decoder fuzz: seeded byte mutations and truncations of " +
      "valid PNG/GIF payloads NEVER throw — decode or None, nothing else") {
    System.setProperty("java.awt.headless", "true")
    val s = spark
    import s.implicits._
    val gifGood = (0L until 1L).toDF("doc_id")
      .select(graft.queries.ExtensionQueries.gifBlob.as("blob"))
      .head().getAs[Array[Byte]]("blob")
    val pngGood = pngEncode(7, 5, 4)
    val rnd = new scala.util.Random(1234)
    def fuzzOne(base: Array[Byte], decode: Array[Byte] => Option[Any],
        tag: String): Unit = {
      (0 until 400).foreach { i =>
        val b = base.clone()
        rnd.nextInt(3) match {
          case 0 => // flip 1-4 random bytes
            (0 to rnd.nextInt(4)).foreach { _ =>
              b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
            }
            try decode(b)
            catch { case t: Throwable =>
              fail(s"$tag mutation $i threw ${t.getClass}: ${t.getMessage}")
            }
          case 1 => // truncate anywhere
            val cut = b.take(rnd.nextInt(b.length))
            try decode(cut)
            catch { case t: Throwable =>
              fail(s"$tag truncation $i threw ${t.getClass}")
            }
          case 2 => // flip bytes in the compressed/coded region only
            val start = b.length / 2
            (0 to rnd.nextInt(6)).foreach { _ =>
              b(start + rnd.nextInt(b.length - start)) =
                rnd.nextInt(256).toByte
            }
            try decode(b)
            catch { case t: Throwable =>
              fail(s"$tag payload-mutation $i threw ${t.getClass}")
            }
        }
      }
    }
    fuzzOne(gifGood, Multimodal.decodeGifPixels(_), "gif")
    fuzzOne(pngGood, Multimodal.decodePngPixels(_), "png")
    val jpegGood = jpegFixtureBytes(3L)
    fuzzOne(jpegGood, Multimodal.decodeJpegPixels(_), "jpeg")
    val flacGood = encodeFlac(
      Seq(Array.tabulate(40)(i => (900 * math.sin(i * 0.3)).toLong)),
      16, 0, Seq(Fixed(2, 1, 5)))
    fuzzOne(flacGood, b => Multimodal.decodeFlacPcm(b), "flac")
    // round-12 decoders: WebP/VP8L (bit-level entropy coding — the
    // richest fuzz surface here) and baseline TIFF (offset arithmetic)
    val webpGood = (19L until 20L).toDF("doc_id")
      .select(graft.queries.ExtensionQueries.webpBits.as("__bits"))
      .select(graft.queries.ExtensionQueries
        .webpAssemble(col("__bits")).as("blob"))
      .head().getAs[Array[Byte]]("blob")
    fuzzOne(webpGood, Multimodal.decodeWebpArgb(_), "webp")
    val tiffGood = (3L until 4L).toDF("doc_id")
      .select(graft.queries.ExtensionQueries.tiffBlob.as("blob"))
      .head().getAs[Array[Byte]]("blob")
    fuzzOne(tiffGood, Multimodal.decodeTiffPixels(_), "tiff")
    // and the audit front door stays total over the same mutations
    fuzzOne(gifGood, b => Some(Multimodal.auditPayload(b)), "audit-gif")
    fuzzOne(pngGood, b => Some(Multimodal.auditPayload(b)), "audit-png")
    fuzzOne(jpegGood, b => Some(Multimodal.auditPayload(b)), "audit-jpeg")
    fuzzOne(flacGood, b => Some(Multimodal.auditPayload(b)), "audit-flac")
    fuzzOne(webpGood, b => Some(Multimodal.auditPayload(b)), "audit-webp")
    fuzzOne(tiffGood, b => Some(Multimodal.auditPayload(b)), "audit-tiff")
    // round-13 archive walk: total by construction (empty on violation)
    val zstdGood = (6L until 7L).toDF("doc_id")
      .select(graft.queries.ExtensionQueries.zstdBlob.as("blob"))
      .head().getAs[Array[Byte]]("blob")
    fuzzOne(zstdGood, b => Some(Multimodal.zstdFramesJvm(b)), "zstd")
  }

  /** One doc's in-plan DC-only JPEG fixture rendered to bytes. */
  private def jpegFixtureBytes(docId: Long): Array[Byte] = {
    val s = spark
    import s.implicits._
    Seq(docId).toDF("doc_id")
      .select(graft.queries.ExtensionQueries.jpegBlob.as("blob"))
      .head().getAs[Array[Byte]]("blob")
  }

  private def jpegEncode(img: java.awt.image.BufferedImage,
      quality: Float): Array[Byte] = {
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    w.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close(); w.dispose()
    bos.toByteArray
  }

  test("decodeJpegPixels vs the JDK's libjpeg on grayscale: every pixel " +
      "within ±1 (the T.81 IDCT accuracy envelope) at two qualities") {
    System.setProperty("java.awt.headless", "true")
    for (qual <- Seq(0.95f, 0.5f)) {
      val w = 37; val h = 23 // non-multiple-of-8: exercises edge cropping
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, (x * 7 + y * 11 + (x * y) % 31) % 256)
      val bytes = jpegEncode(img, qual)
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      val (dw, dh, ch, px) = Multimodal.decodeJpegPixels(bytes)
        .getOrElse(fail(s"q=$qual: JDK-encoded JPEG undecodable"))
      assert((dw, dh, ch) == (w, h, 1))
      for (y <- 0 until h; x <- 0 until w) {
        val mine = px(y * w + x) & 0xff
        val theirs = ref.getRaster.getSample(x, y, 0)
        assert(math.abs(mine - theirs) <= 1,
          s"q=$qual ($x,$y): ours $mine vs libjpeg $theirs")
      }
    }
  }

  test("decodeJpegPixels vs the JDK's libjpeg on color: constant-chroma " +
      "within ±1; a chroma gradient within the subsampling envelope") {
    System.setProperty("java.awt.headless", "true")
    val w = 41; val h = 29
    def encodeRgb(mk: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, mk(x, y))
      jpegEncode(img, 0.97f)
    }
    def diffs(bytes: Array[Byte]): (Int, Double) = {
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      val (dw, dh, ch, px) = Multimodal.decodeJpegPixels(bytes)
        .getOrElse(fail("JDK-encoded color JPEG undecodable"))
      assert((dw, dh, ch) == (w, h, 3))
      var maxd = 0; var sumd = 0L
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
        val mine = px((y * w + x) * 3 + c) & 0xff
        val theirs = (ref.getRGB(x, y) >> (16 - 8 * c)) & 0xff
        val d = math.abs(mine - theirs)
        maxd = math.max(maxd, d); sumd += d
      }
      (maxd, sumd.toDouble / (w * h * 3))
    }
    // gray ramp in RGB: Cb = Cr = 128 everywhere, so the chroma
    // upsampling method cannot matter — pure IDCT + color-convert ±1
    val (cmax, _) = diffs(encodeRgb((x, y) =>
      { val v = (x * 5 + y * 9) % 256; (v << 16) | (v << 8) | v }))
    assert(cmax <= 1, s"constant-chroma max |diff| $cmax")
    // chroma gradients: our replication vs libjpeg's fancy upsampling
    // differ only inside the subsampled-chroma interpolation envelope
    val (gmax, gmean) = diffs(encodeRgb((x, y) =>
      (((x * 6) % 256) << 16) | (((y * 6) % 256) << 8) | ((x + y) * 3) % 256))
    assert(gmax <= 16 && gmean <= 2.0,
      s"chroma-gradient diffs max=$gmax mean=$gmean")
  }

  test("the in-plan JPEG fixture is real JPEG: ImageIO reads it, and " +
      "both decoders recover the closed-form DC-only pixel values") {
    System.setProperty("java.awt.headless", "true")
    (0L until 6L).foreach { d =>
      val bytes = jpegFixtureBytes(d)
      val bw = (1 + d % 3).toInt; val bh = (1 + d % 2).toInt
      // replay the fixture's signed DC walk
      val dcs = new Array[Long](bw * bh)
      var dc = 0L
      for (k <- 0 until bw * bh) {
        val m = 32 + (d * 7 + k * 11) % 32
        dc += (if (k % 2 == 0) m else -m)
        dcs(k) = dc
      }
      def want(x: Int, y: Int): Int = {
        val k = (y / 8) * bw + (x / 8)
        val v = (dcs(k) * 17 + 1028) / 8
        math.min(255L, math.max(0L, v)).toInt
      }
      val (dw, dh, ch, px) = Multimodal.decodeJpegPixels(bytes)
        .getOrElse(fail(s"doc $d: fixture undecodable by our decoder"))
      assert((dw, dh, ch) == (bw * 8, bh * 8, 1), s"doc $d geometry")
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"doc $d: fixture unreadable by ImageIO")
      for (y <- 0 until dh; x <- 0 until dw) {
        assert((px(y * dw + x) & 0xff) == want(x, y), s"doc $d ours ($x,$y)")
        assert(img.getRaster.getSample(x, y, 0) == want(x, y),
          s"doc $d iio ($x,$y)")
      }
    }
  }

  /** One doc's in-plan progressive (SOF2) fixture rendered to bytes. */
  private def jpegProgFixtureBytes(docId: Long): Array[Byte] = {
    val s = spark
    import s.implicits._
    Seq(docId).toDF("doc_id")
      .select(graft.queries.ExtensionQueries.jpegProgBlob.as("blob"))
      .head().getAs[Array[Byte]]("blob")
  }

  test("progressive JPEG fixture: the three-scan SOF2 stream (DC first " +
      "Al=1, DC refinement, AC EOBs) reconstructs dc = (v<<1)|bit in " +
      "closed form; ImageIO agrees pixel-exactly") {
    System.setProperty("java.awt.headless", "true")
    (0L until 6L).foreach { d =>
      val bytes = jpegProgFixtureBytes(d)
      // really progressive: a SOF2 marker is in the stream
      assert(bytes.sliding(2).exists(p =>
        (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xc2), s"doc $d SOF2")
      val bw = (1 + d % 3).toInt; val bh = (1 + d % 2).toInt
      val dcs = new Array[Long](bw * bh)
      var v = 0L
      for (k <- 0 until bw * bh) {
        val m = 32 + (d * 7 + k * 11) % 32
        v += (if (k % 2 == 0) m else -m)
        dcs(k) = 2 * v + (d + k) % 2 // first scan << 1, refinement bit
      }
      def want(x: Int, y: Int): Int = {
        val k = (y / 8) * bw + (x / 8)
        val p = Math.floorDiv(dcs(k) * 17 + 1028, 8L)
        math.min(255L, math.max(0L, p)).toInt
      }
      val (dw, dh, ch, px) = Multimodal.decodeJpegPixels(bytes)
        .getOrElse(fail(s"doc $d: progressive fixture undecodable"))
      assert((dw, dh, ch) == (bw * 8, bh * 8, 1), s"doc $d geometry")
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"doc $d: fixture unreadable by ImageIO")
      for (y <- 0 until dh; x <- 0 until dw) {
        assert((px(y * dw + x) & 0xff) == want(x, y), s"doc $d ours ($x,$y)")
        assert(img.getRaster.getSample(x, y, 0) == want(x, y),
          s"doc $d iio ($x,$y)")
      }
    }
  }

  private def jpegEncodeProgressive(img: java.awt.image.BufferedImage,
      quality: Float): Array[Byte] = {
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    w.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close(); w.dispose()
    bos.toByteArray
  }

  test("decodeJpegPixels vs the JDK's libjpeg on PROGRESSIVE streams: " +
      "the full simple-progression script (spectral bands, successive " +
      "approximation, AC refinement scans) within the same envelopes") {
    System.setProperty("java.awt.headless", "true")
    val w = 37; val h = 23
    for (qual <- Seq(0.95f, 0.5f)) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, (x * 7 + y * 11 + (x * y) % 31) % 256)
      val bytes = jpegEncodeProgressive(img, qual)
      assert(bytes.sliding(2).exists(p =>
        (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xc2),
        "JDK writer did not emit SOF2")
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      val (dw, dh, ch, px) = Multimodal.decodeJpegPixels(bytes)
        .getOrElse(fail(s"q=$qual: JDK progressive JPEG undecodable"))
      assert((dw, dh, ch) == (w, h, 1))
      for (y <- 0 until h; x <- 0 until w) {
        val mine = px(y * w + x) & 0xff
        val theirs = ref.getRaster.getSample(x, y, 0)
        assert(math.abs(mine - theirs) <= 1,
          s"q=$qual ($x,$y): ours $mine vs libjpeg $theirs")
      }
    }
    // color: constant-chroma ±1; chroma gradient within the
    // subsampling envelope (same bounds as the sequential spec)
    def encodeRgb(mk: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, mk(x, y))
      jpegEncodeProgressive(img, 0.97f)
    }
    def diffs(bytes: Array[Byte]): (Int, Double) = {
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      val (dw, dh, ch, px) = Multimodal.decodeJpegPixels(bytes)
        .getOrElse(fail("JDK progressive color JPEG undecodable"))
      assert((dw, dh, ch) == (w, h, 3))
      var maxd = 0; var sumd = 0L
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
        val mine = px((y * w + x) * 3 + c) & 0xff
        val theirs = (ref.getRGB(x, y) >> (16 - 8 * c)) & 0xff
        val d = math.abs(mine - theirs)
        maxd = math.max(maxd, d); sumd += d
      }
      (maxd, sumd.toDouble / (w * h * 3))
    }
    val (cmax, _) = diffs(encodeRgb((x, y) =>
      { val v = (x * 5 + y * 9) % 256; (v << 16) | (v << 8) | v }))
    assert(cmax <= 1, s"constant-chroma max |diff| $cmax")
    val (gmax, gmean) = diffs(encodeRgb((x, y) =>
      (((x * 6) % 256) << 16) | (((y * 6) % 256) << 8) | ((x + y) * 3) % 256))
    assert(gmax <= 16 && gmean <= 2.0,
      s"chroma-gradient diffs max=$gmax mean=$gmean")
    // fuzz: mutations and truncations of a real progressive stream
    // never throw — the same PERMISSIVE contract as every decoder
    val good = jpegEncodeProgressive({
      val g = new java.awt.image.BufferedImage(24, 16,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 16; x <- 0 until 24)
        g.getRaster.setSample(x, y, 0, (x * 9 + y * 5) % 256)
      g
    }, 0.8f)
    val rnd = new scala.util.Random(321)
    (0 until 400).foreach { i =>
      val b = good.clone()
      if (i % 2 == 0) b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      val cut = if (i % 2 == 1) b.take(rnd.nextInt(b.length)) else b
      try Multimodal.decodeJpegPixels(cut)
      catch { case t: Throwable =>
        fail(s"progressive fuzz $i threw ${t.getClass}") }
    }
  }

  test("progressive restart markers: DRI/RSTn inside all three scan " +
      "kinds (DC first, DC refine, AC first) with predictor + EOB-run " +
      "resets decodes identically to the no-restart twin") {
    def stream(withDri: Boolean): Array[Byte] = {
      val b = new scala.collection.mutable.ArrayBuffer[Byte]()
      def hex(s: String): Unit =
        b ++= s.grouped(2).map(Integer.parseInt(_, 16).toByte)
      hex("ffd8")
      hex("ffdb0043" + "00" + "11" * 64)
      if (withDri) hex("ffdd0004" + "0002") // restart every 2 blocks
      hex("ffc2000b08" + "0010" + "0018" + "01011100") // 24x16: 3x2 blocks
      hex("ffc40014" + "00" + "0001" + "00" * 14 + "06") // DC {6} @ len 2
      hex("ffc40014" + "10" + "01" + "00" * 15 + "00") // AC {EOB} @ len 1
      // scan 1: DC first, Al=1 — v walk 40,5,40,5,40,5
      hex("ffda000801010000" + "0001")
      if (withDri) hex("281c" + "ffd0" + "281c" + "ffd1" + "281c")
      else hex("281c" + "231c" + "231c") // differential twin (+35 = 0x23)
      // scan 2: DC refine, Ah=1 — bits 1,0,1,0,1,0
      hex("ffda000801010000" + "0010")
      if (withDri) hex("80" + "ffd0" + "80" + "ffd1" + "80")
      else hex("a8")
      // scan 3: AC first 1..63 — one EOB bit per block
      hex("ffda000801010001" + "3f00")
      if (withDri) hex("00" + "ffd0" + "00" + "ffd1" + "00")
      else hex("00")
      hex("ffd9")
      b.toArray
    }
    val a = Multimodal.decodeJpegPixels(stream(withDri = true))
      .getOrElse(fail("restarted progressive stream undecodable"))
    val c = Multimodal.decodeJpegPixels(stream(withDri = false))
      .getOrElse(fail("plain progressive stream undecodable"))
    assert((a._1, a._2, a._3) == (24, 16, 1) && (c._1, c._2) == (24, 16))
    assert(a._4.toSeq == c._4.toSeq,
      "restarted and differential twins must decode identically")
    // closed form: d = 2v+bit → 81 → clamp 255; 10 → 149
    assert((a._4(0) & 0xff) == 255 && (a._4(8) & 0xff) == 149)
    // a wrong restart index must reject (RSTn cycles mod 8)
    val bad = stream(withDri = true)
    val i = bad.sliding(2).indexWhere(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd0)
    bad(i + 1) = 0xd4.toByte
    assert(Multimodal.decodeJpegPixels(bad).isEmpty, "bad RST index")
  }

  test("restart markers: a DRI/RSTn stream with per-interval predictor " +
      "resets decodes identically to its differential no-restart twin") {
    def hdr(withDri: Boolean): Array[Byte] = {
      val b = new scala.collection.mutable.ArrayBuffer[Byte]()
      def hex(s: String): Unit =
        b ++= s.grouped(2).map(Integer.parseInt(_, 16).toByte)
      hex("ffd8")
      hex("ffdb0043" + "00" + "11" * 64)
      if (withDri) hex("ffdd0004" + "0002") // restart every 2 MCUs
      hex("ffc0000b08" + "0010" + "0018" + "01011100") // 24x16 → 3x2 blocks
      hex("ffc40014" + "00" + "01" + "00" * 15 + "06")
      hex("ffc40014" + "10" + "01" + "00" * 15 + "00")
      hex("ffda0008010100003f00")
      b.toArray
    }
    def byteOf(diff: Int): Byte = // category-6 one-byte block encoding
      (if (diff > 0) diff * 2 else (63 + diff) * 2).toByte
    // dc sequence 40, 5, 40, 5, 40, 5 (six blocks)
    val restarts = hdr(withDri = true) ++ Array[Byte](
      byteOf(40), byteOf(-35), 0xff.toByte, 0xd0.toByte, // RST0
      byteOf(40), byteOf(-35), 0xff.toByte, 0xd1.toByte, // RST1
      byteOf(40), byteOf(-35),
      0xff.toByte, 0xd9.toByte)
    val plain = hdr(withDri = false) ++ Array[Byte](
      byteOf(40), byteOf(-35), byteOf(35), byteOf(-35), byteOf(35),
      byteOf(-35), 0xff.toByte, 0xd9.toByte)
    val a = Multimodal.decodeJpegPixels(restarts)
      .getOrElse(fail("restart stream undecodable"))
    val b = Multimodal.decodeJpegPixels(plain)
      .getOrElse(fail("plain stream undecodable"))
    assert((a._1, a._2, a._3) == (24, 16, 1) && (b._1, b._2) == (24, 16))
    assert(a._4.toSeq == b._4.toSeq,
      "restart and differential twins must decode identically")
    // flat-block closed form: dc 40 → (40·17+1028)/8 = 213, dc 5 → 139
    assert((a._4(0) & 0xff) == 213 && (a._4(8) & 0xff) == 139)
    // a WRONG restart index must reject (T.81: RSTn cycles mod 8)
    val badRst = restarts.clone()
    badRst(hdr(withDri = true).length + 3) = 0xd5.toByte
    assert(Multimodal.decodeJpegPixels(badRst).isEmpty, "bad RST index")
  }

  test("decodeJpegPixels: permissive rejection of progressive, 16-bit " +
      "quant, truncated and corrupted payloads") {
    val good = jpegFixtureBytes(1L)
    assert(Multimodal.decodeJpegPixels(good).isDefined)
    assert(Multimodal.decodeJpegPixels(null).isEmpty, "null")
    assert(Multimodal.decodeJpegPixels("not a jpeg".getBytes).isEmpty)
    assert(Multimodal.decodeJpegPixels(good.take(20)).isEmpty, "truncated")
    // SOF0 → SOF2 with a baseline-shaped scan (ss=0, se=63): malformed
    // PROGRESSIVE (a DC scan's band is {0} alone) — the SOF2 path
    // exists since round 11, so this now rejects on scan validation
    val prog = good.clone()
    assert((prog(71) & 0xff) == 0xff && (prog(72) & 0xff) == 0xc0)
    prog(72) = 0xc2.toByte
    assert(Multimodal.decodeJpegPixels(prog).isEmpty,
      "SOF2 + baseline-shaped scan")
    // 16-bit quant table (Pq = 1)
    val deep = good.clone()
    deep(6) = 0x10.toByte
    assert(Multimodal.decodeJpegPixels(deep).isEmpty, "16-bit DQT")
    // missing EOI: strict tail check must reject
    assert(Multimodal.decodeJpegPixels(good.dropRight(2)).isEmpty, "no EOI")
  }

  test("raster extractors are native expression projections: the plan " +
      "shows the kernel expression and NO Dataset-encoder boundary") {
    val s = spark
    import s.implicits._
    // blob derived from the range id: non-foldable, so the expression
    // must appear in the physical plan (a literal blob would be
    // constant-folded away — itself proof the kernel runs in-plan)
    val df = s.range(3).select(col("id").as("doc_id"),
      unhex(lpad(hex(col("id")), 6, "0")).as("blob"))
    for ((name, plan) <- Seq(
      "graft_png_features" ->
        Multimodal.extractPngFeatures(df, "doc_id"),
      "graft_gif_features" ->
        Multimodal.extractGifFeatures(df, "doc_id"),
      "graft_jpeg_features" ->
        Multimodal.extractJpegFeatures(df, "doc_id"),
      "graft_media_audit" ->
        Multimodal.extractDecodeAudit(df, "doc_id"),
      "graft_any_raster_features" ->
        Multimodal.extractAnyImageFeatures(df, "doc_id"))) {
      val p = plan.queryExecution.executedPlan.toString
      assert(p.contains(name), s"$name missing from plan:\n$p")
      assert(!p.contains("MapPartitions") &&
        !p.contains("DeserializeToObject"),
        s"$name still pays the mapPartitions encoder boundary:\n$p")
      // ONE decode per row: the pushed-down isnotnull predicate must
      // not re-inline the kernel (the Generate barrier in rasterExtract
      // — without it the blob decodes twice, measured ~2x wall time)
      val evals = name.r.findAllIn(
        plan.queryExecution.optimizedPlan.toString).length
      assert(evals == 1, s"$name evaluated $evals times in the plan")
    }
    // and the struct-NULL filter drops undecodable payloads in-stage
    assert(Multimodal.extractPngFeatures(df, "doc_id").count() == 0)
    assert(Multimodal.extractDecodeAudit(df, "doc_id").count() == 3)
  }

  test("audio/container extractors are native expression projections " +
      "(round 11): explode of an array kernel, no Dataset-encoder " +
      "boundary, one kernel eval per row") {
    val s = spark
    import s.implicits._
    val df = s.range(3).select(col("id").as("doc_id"),
      unhex(lpad(hex(col("id")), 6, "0")).as("blob"))
    for ((name, plan) <- Seq(
      "graft_wav_features" ->
        Multimodal.extractAudioFeaturesAnyDepth(df, "doc_id").toDF(),
      "graft_wav16_features" ->
        Multimodal.extractAudioFeatures(df, "doc_id").toDF(),
      "graft_wav_windows" ->
        Multimodal.extractAudioWindows(df, "doc_id").toDF(),
      "graft_flac_features" ->
        Multimodal.extractFlacFeatures(df, "doc_id").toDF(),
      "graft_flac_windows" ->
        Multimodal.extractFlacWindows(df, "doc_id").toDF(),
      "graft_any_audio_features" ->
        Multimodal.extractAnyAudioFeatures(df, "doc_id").toDF(),
      "graft_bmp_features" ->
        Multimodal.extractImageFeatures(df, "doc_id").toDF(),
      "graft_bmp_patches" ->
        Multimodal.extractImagePatches(df, "doc_id").toDF(),
      "graft_mp4_meta" ->
        Multimodal.extractMp4Meta(df, "doc_id").toDF(),
      "graft_mp4_tracks" ->
        Multimodal.extractMp4Tracks(df, "doc_id").toDF(),
      "graft_mp3_meta" ->
        Multimodal.extractMp3Meta(df, "doc_id").toDF(),
      "graft_mp4_sync_ranges" ->
        Multimodal.extractMp4SyncRanges(df, "doc_id").toDF())) {
      val p = plan.queryExecution.executedPlan.toString
      assert(p.contains(name), s"$name missing from plan:\n$p")
      assert(!p.contains("MapPartitions") &&
        !p.contains("DeserializeToObject"),
        s"$name still pays the mapPartitions encoder boundary:\n$p")
      val evals = name.r.findAllIn(
        plan.queryExecution.optimizedPlan.toString).length
      assert(evals == 1, s"$name evaluated $evals times in the plan")
    }
    // undecodable payloads vanish via the empty array — flatMap
    // semantics with no filter and no rows
    assert(Multimodal.extractAudioFeaturesAnyDepth(df, "doc_id")
      .count() == 0)
    assert(Multimodal.extractMp4Meta(df, "doc_id").count() == 0)
  }

  // ---- FLAC (round 10) ----

  /** MSB-first bit writer for the spec-side FLAC encoder. */
  private final class BitWriter {
    private val buf = new scala.collection.mutable.ArrayBuffer[Byte]()
    private var cur = 0
    private var nb = 0
    def putBit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1); nb += 1
      if (nb == 8) { buf += cur.toByte; cur = 0; nb = 0 }
    }
    def putBits(v: Long, n: Int): Unit =
      (n - 1 to 0 by -1).foreach(i => putBit(((v >> i) & 1).toInt))
    def putUnary(q: Int): Unit = { (0 until q).foreach(_ => putBit(0)); putBit(1) }
    def align(): Unit = while (nb != 0) putBit(0)
    def bytes: Array[Byte] = { require(nb == 0); buf.toArray }
  }

  private def crc8Ref(bs: Seq[Int]): Int = {
    var c = 0
    bs.foreach { b =>
      c ^= b
      (0 until 8).foreach { _ =>
        c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xff else (c << 1) & 0xff }
    }
    c
  }

  private def crc16Ref(bs: Seq[Int]): Int = {
    var c = 0
    bs.foreach { b =>
      c ^= b << 8
      (0 until 8).foreach { _ =>
        c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xffff
        else (c << 1) & 0xffff }
    }
    c
  }

  /** Spec-side FLAC encoder: one frame over `chans` (equal lengths),
    * with a per-channel subframe plan. Residuals/prediction computed in
    * the ENCODE direction (s → r), so a decoder that doesn't exactly
    * invert the bit packing, rice coding, prediction or decorrelation
    * fails the round-trip. */
  private sealed trait SubPlan
  private case object Verbatim extends SubPlan
  private case object Constant extends SubPlan
  private case class Fixed(order: Int, po: Int, param: Int) extends SubPlan
  private case class Lpc(coefs: Seq[Long], shift: Int, prec: Int,
    param: Int) extends SubPlan
  private case class Escape(rawBps: Int) extends SubPlan // order-0 raw

  private def encodeFlac(chans: Seq[Array[Long]], bps: Int, chAsgn: Int,
      plans: Seq[SubPlan], wasted: Int = 0): Array[Byte] = {
    val n = chans.head.length
    val nCh = if (chAsgn < 8) chAsgn + 1 else 2
    require(chans.length == nCh && plans.length == nCh)
    // channel pre-transform for stereo modes (what the encoder stores)
    val stored: Seq[Array[Long]] = chAsgn match {
      case 8 => Seq(chans(0),
        Array.tabulate(n)(i => chans(0)(i) - chans(1)(i)))
      case 9 => Seq(Array.tabulate(n)(i => chans(0)(i) - chans(1)(i)),
        chans(1))
      case 10 => Seq(
        Array.tabulate(n)(i => (chans(0)(i) + chans(1)(i)) >> 1),
        Array.tabulate(n)(i => chans(0)(i) - chans(1)(i)))
      case _ => chans
    }
    val w = new BitWriter
    // fLaC + STREAMINFO
    "fLaC".foreach(c => w.putBits(c.toLong, 8))
    w.putBits(0x80, 8); w.putBits(34, 24)
    w.putBits(n.toLong, 16); w.putBits(n.toLong, 16) // min/max block
    w.putBits(0, 24); w.putBits(0, 24)               // frame sizes
    w.putBits(16000, 20)
    w.putBits(nCh.toLong - 1, 3)
    w.putBits(bps.toLong - 1, 5)
    w.putBits(n.toLong, 36)
    (0 until 16).foreach(_ => w.putBits(0, 8))
    // frame header
    val hw = new BitWriter
    hw.putBits(0x3ffe, 14); hw.putBit(0); hw.putBit(0)
    hw.putBits(7, 4)  // explicit 16-bit block size
    hw.putBits(0, 4)  // sample rate from streaminfo
    hw.putBits(chAsgn.toLong, 4)
    hw.putBits(bps match { case 8 => 1; case 12 => 2; case 16 => 4
      case 20 => 5; case 24 => 6 }, 3)
    hw.putBit(0)
    hw.putBits(0, 8)                 // frame number 0 (utf8 1-byte)
    hw.putBits(n.toLong - 1, 16)
    val hdrBytes = hw.bytes
    hdrBytes.foreach(b => w.putBits(b & 0xffL, 8))
    w.putBits(crc8Ref(hdrBytes.map(_ & 0xff)).toLong, 8)
    // subframes — track the frame bytes for CRC-16 via a parallel writer
    stored.zip(plans).zipWithIndex.foreach { case ((s0, plan), ci) =>
      val sbps0 = bps + (chAsgn match {
        case 8 if ci == 1 => 1
        case 9 if ci == 0 => 1
        case 10 if ci == 1 => 1
        case _ => 0
      })
      // wasted bits: the stored subframe codes s >> wasted at a reduced
      // sample size, and flags the count
      val s = if (wasted > 0) s0.map(_ >> wasted) else s0
      val sbps = sbps0 - wasted
      w.putBit(0)
      plan match {
        case Constant =>
          w.putBits(0, 6); putWaste(w, wasted)
          w.putBits(s(0) & ((1L << sbps) - 1), sbps)
        case Verbatim =>
          w.putBits(1, 6); putWaste(w, wasted)
          s.foreach(v => w.putBits(v & ((1L << sbps) - 1), sbps))
        case Escape(raw) =>
          // FIXED order 0, partition order 0, escaped raw residuals
          w.putBits(8, 6); putWaste(w, wasted)
          w.putBits(0, 2); w.putBits(0, 4); w.putBits(0xf, 4)
          w.putBits(raw.toLong, 5)
          s.foreach(v => w.putBits(v & ((1L << raw) - 1), raw))
        case Fixed(order, po, param) =>
          w.putBits(8L + order, 6); putWaste(w, wasted)
          (0 until order).foreach(i =>
            w.putBits(s(i) & ((1L << sbps) - 1), sbps))
          val coefs = Seq(Seq[Long](), Seq(1L), Seq(2L, -1L),
            Seq(3L, -3L, 1L), Seq(4L, -6L, 4L, -1L))(order)
          val resid = (order until n).map(i =>
            s(i) - coefs.zipWithIndex.map { case (c, j) =>
              c * s(i - 1 - j) }.sum)
          writeResiduals(w, resid, n, order, po, param)
        case Lpc(coefs, shift, prec, param) =>
          val order = coefs.length
          w.putBits(32L + order - 1, 6); putWaste(w, wasted)
          (0 until order).foreach(i =>
            w.putBits(s(i) & ((1L << sbps) - 1), sbps))
          w.putBits(prec.toLong - 1, 4)
          w.putBits(shift.toLong, 5)
          coefs.foreach(c => w.putBits(c & ((1L << prec) - 1), prec))
          val resid = (order until n).map(i =>
            s(i) - (coefs.zipWithIndex.map { case (c, j) =>
              c * s(i - 1 - j) }.sum >> shift))
          writeResiduals(w, resid, n, order, 0, param)
      }
    }
    w.align()
    val soFar = w.bytes
    val frame = soFar.drop(4 + 4 + 34) // after magic + header + STREAMINFO
    val full = new BitWriter
    soFar.foreach(b => full.putBits(b & 0xffL, 8))
    full.putBits(crc16Ref(frame.map(_ & 0xff)).toLong, 16)
    full.bytes
  }

  private def putWaste(w: BitWriter, wasted: Int): Unit =
    if (wasted == 0) w.putBit(0)
    else { w.putBit(1); w.putUnary(wasted - 1) }

  private def writeResiduals(w: BitWriter, resid: Seq[Long], n: Int,
      order: Int, po: Int, param: Int): Unit = {
    w.putBits(0, 2) // 4-bit rice method
    w.putBits(po.toLong, 4)
    val partLen = n >> po
    var idx = 0
    (0 until (1 << po)).foreach { p =>
      val cnt = if (p == 0) partLen - order else partLen
      w.putBits(param.toLong, 4)
      (0 until cnt).foreach { _ =>
        val v = resid(idx); idx += 1
        val u = (v << 1) ^ (v >> 63) // zigzag
        w.putUnary((u >>> param).toInt)
        w.putBits(u & ((1L << param) - 1), param)
      }
    }
  }

  test("FLAC fixture: legal stream (independent CRC-8/16 agree), " +
      "decodeFlacPcm inverts it to the closed-form samples, flacMeta " +
      "parses the same header") {
    val s = spark
    import s.implicits._
    val blobs = (0L until 5L).toDF("doc_id")
      .select(col("doc_id"),
        graft.queries.ExtensionQueries.flacFrameVals.as("__fv"))
      .select(col("doc_id"),
        graft.queries.ExtensionQueries.flacBlob(col("__fv")).as("blob"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("blob"))
    blobs.foreach { case (d, bytes) =>
      val n = (50 + d % 200).toInt
      // independent CRC check over the frame region: fLaC(4) + hdr(4) +
      // STREAMINFO(34) = 42 bytes of metadata; frame is the rest minus
      // the trailing CRC-16
      val frame = bytes.slice(42, bytes.length - 2).map(_ & 0xff).toSeq
      val hdr = frame.take(7)
      assert(frame(7) == crc8Ref(hdr), s"doc $d header CRC-8")
      val c16 = ((bytes(bytes.length - 2) & 0xff) << 8) |
        (bytes.last & 0xff)
      assert(c16 == crc16Ref(frame), s"doc $d frame CRC-16")
      // decode inverts to the byte-primitive samples
      val (ch, bps, chans) = Multimodal.decodeFlacPcm(bytes)
        .getOrElse(fail(s"doc $d: fixture undecodable"))
      assert(ch == 1 && bps == 16 && chans(0).length == n)
      (0 until n).foreach { f =>
        val hi = (d * 37 + (2 * f) * 101) % 256
        val lo = (d * 37 + (2 * f + 1) * 101) % 256
        val want = (((hi * 256 + lo) + 32768) % 65536) - 32768
        assert(chans(0)(f) == want, s"doc $d sample $f")
      }
      // the Catalyst header parser agrees with the sample decoder
      val meta = Seq((d, bytes)).toDF("doc_id", "blob")
        .select(Multimodal.flacMeta(col("blob")).as("m"))
        .head().getStruct(0)
      assert(meta.getAs[Long]("channels") == 1 &&
        meta.getAs[Long]("sample_rate") == 16000 &&
        meta.getAs[Long]("bits_per_sample") == 16 &&
        meta.getAs[Long]("total_samples") == n)
    }
  }

  test("FLAC encoder round-trips: CONSTANT, FIXED orders with rice " +
      "partitions, LPC with shift, escaped raw partitions, wasted bits " +
      "— decode must exactly invert each") {
    def sig(i: Int): Long = // smooth-ish signal, fits 16 bits
      (2000 * math.sin(i * 0.1)).toLong + (i % 7) - 3
    val n = 64
    val mono = Array.tabulate(n)(sig)
    def rt(plan: SubPlan, data: Array[Long] = mono, bps: Int = 16,
        wasted: Int = 0): Unit = {
      val d = if (wasted > 0) data.map(_ << wasted) else data
      val bytes = encodeFlac(Seq(d), bps, 0, Seq(plan), wasted)
      val (ch, obps, out) = Multimodal.decodeFlacPcm(bytes)
        .getOrElse(fail(s"$plan undecodable"))
      assert(ch == 1 && obps == bps)
      assert(out(0).toSeq == d.toSeq, s"$plan samples diverge")
    }
    rt(Verbatim)
    rt(Constant, Array.fill(n)(-1234L))
    rt(Fixed(0, 0, 6))
    rt(Fixed(1, 0, 5))
    rt(Fixed(2, 1, 5)) // two rice partitions
    rt(Fixed(3, 2, 6)) // four partitions
    rt(Fixed(4, 0, 7))
    rt(Lpc(Seq(3L, -2L), shift = 1, prec = 6, param = 6))
    rt(Lpc(Seq(2L, -3L, 2L, -1L), shift = 2, prec = 5, param = 7))
    rt(Escape(16), Array.tabulate(n)(i => sig(i) & 0x7fff))
    rt(Fixed(2, 0, 5), wasted = 3) // wasted-bits shift restored
    rt(Verbatim, bps = 8, data = Array.tabulate(n)(i => (sig(i) % 100)))
    rt(Fixed(2, 0, 4), bps = 24,
      data = Array.tabulate(n)(i => sig(i) * 100))
  }

  test("FLAC stereo decorrelation: left/side, right/side, mid/side " +
      "all reconstruct the original channels (side carries the +1 bit)") {
    val n = 48
    val left = Array.tabulate(n)(i => (1500 * math.sin(i * 0.2)).toLong)
    val right = Array.tabulate(n)(i => (1300 * math.cos(i * 0.15)).toLong)
    for (asgn <- Seq(8, 9, 10)) {
      val bytes = encodeFlac(Seq(left, right), 16, asgn,
        Seq(Fixed(2, 0, 6), Fixed(2, 0, 6)))
      val (ch, _, out) = Multimodal.decodeFlacPcm(bytes)
        .getOrElse(fail(s"asgn $asgn undecodable"))
      assert(ch == 2)
      assert(out(0).toSeq == left.toSeq, s"asgn $asgn left")
      assert(out(1).toSeq == right.toSeq, s"asgn $asgn right")
    }
    // independent 2-channel assignment too (asgn 1)
    val bytes = encodeFlac(Seq(left, right), 16, 1,
      Seq(Verbatim, Fixed(1, 0, 6)))
    val (_, _, out) = Multimodal.decodeFlacPcm(bytes).getOrElse(fail())
    assert(out(0).toSeq == left.toSeq && out(1).toSeq == right.toSeq)
  }

  test("decodeFlacWindows: window cut and partial tail match the WAV " +
      "windows rule; windows concatenate to the whole-clip profile") {
    val data = Array.tabulate(67)(i => (1100 * math.sin(i * 0.17)).toLong)
    val bytes = encodeFlac(Seq(data), 16, 0, Seq(Fixed(2, 0, 6)))
    val wins = Multimodal.decodeFlacWindows(bytes, windowFrames = 25)
    assert(wins.map(_._2).toSeq == Seq(0L, 1L, 2L))
    assert(wins.map(_._3).toSeq == Seq(25L, 25L, 17L), "partial tail")
    val whole = Multimodal.decodeFlacSamples(bytes).head
    assert(wins.map(_._5).sum == whole._4, "window energies must sum")
    assert(wins.map(_._4).max == whole._3, "window peaks must envelope")
    // per-window values against the raw samples
    wins.foreach { case (_, w, wn, peak, sumSq, rms) =>
      val seg = data.slice((w * 25).toInt, (w * 25).toInt + wn.toInt)
      assert(peak == seg.map(math.abs).max && sumSq ==
        seg.map(v => v * v).sum, s"window $w")
      assert(rms == math.sqrt(sumSq.toDouble / wn))
    }
  }

  test("decodeFlacPcm: permissive rejection of truncated, bad-sync, " +
      "reserved-code and total-mismatch payloads") {
    val good = encodeFlac(Seq(Array.tabulate(32)(i => i.toLong * 3)),
      16, 0, Seq(Verbatim))
    assert(Multimodal.decodeFlacPcm(good).isDefined)
    assert(Multimodal.decodeFlacPcm(null).isEmpty)
    assert(Multimodal.decodeFlacPcm("fLaC but not".getBytes).isEmpty)
    assert(Multimodal.decodeFlacPcm(good.take(50)).isEmpty, "truncated")
    val badSync = good.clone()
    badSync(42) = 0x00 // frame sync byte
    assert(Multimodal.decodeFlacPcm(badSync).isEmpty, "bad sync")
    val shortTotal = good.clone()
    shortTotal(25) = (shortTotal(25) + 1).toByte // STREAMINFO total += 1
    assert(Multimodal.decodeFlacPcm(shortTotal).isEmpty,
      "sample total must match STREAMINFO")
  }

  test("mixed-corpus front doors: decodeAnyRaster / decodeAnyAudio " +
      "dispatch by magic and agree exactly with the per-format decoders") {
    val s = spark
    import s.implicits._
    // one payload of each image kind via the in-plan fixtures
    val imgs = (0L until 8L).toDF("doc_id")
      .select(col("doc_id"),
        when(col("doc_id") % 4 === 1,
          graft.queries.ExtensionQueries.pngScan).as("__scan"))
      .select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          graft.queries.ExtensionQueries.bmpBlob)
        .when(col("doc_id") % 4 === 1,
          graft.queries.ExtensionQueries.pngAssemble(col("__scan"),
          lit(3L) + col("doc_id") % 4L, lit(2L) + col("doc_id") % 3L))
        .when(col("doc_id") % 4 === 2,
          graft.queries.ExtensionQueries.gifBlob)
        .otherwise(graft.queries.ExtensionQueries.jpegBlob).as("blob"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("blob"))
    imgs.foreach { case (d, bytes) =>
      val (kind, row) = Multimodal.decodeAnyRaster(bytes)
        .getOrElse(fail(s"doc $d undecodable by the front door"))
      val wantKind = (d % 4) match {
        case 0 => "bmp"; case 1 => "png"; case 2 => "gif"; case _ => "jpeg"
      }
      assert(kind == wantKind, s"doc $d kind")
      val direct = kind match {
        case "png" => Multimodal.decodePngFeatures(bytes).get
        case "gif" => Multimodal.decodeGifFeatures(bytes).get
        case "jpeg" => Multimodal.decodeJpegFeatures(bytes).get
        case "bmp" =>
          val (w, h, ch, px) = Multimodal.decodeBmpPixels(bytes).get
          // BMP via the shared raster reduction (RGB, top-down)
          Multimodal.rasterFeatures(w, h, ch, px)
      }
      assert(row == direct, s"doc $d features diverge from direct decode")
    }
    // audio: WAV and FLAC payloads through one door
    val flacBytes = encodeFlac(
      Seq(Array.tabulate(32)(i => (700 * math.sin(i * 0.2)).toLong)),
      16, 0, Seq(Fixed(2, 0, 5)))
    val (fk, frows) = Multimodal.decodeAnyAudio(flacBytes).get
    assert(fk == "flac" && frows == Multimodal.decodeFlacSamples(flacBytes))
    val wavBytes = (1L until 2L).toDF("doc_id")
      .select(graft.queries.ExtensionQueries.wavPcmBlob.as("blob"))
      .head().getAs[Array[Byte]]("blob")
    val (wk, wrows) = Multimodal.decodeAnyAudio(wavBytes).get
    assert(wk == "riff" && wrows == Multimodal.decodeWavPcm16(wavBytes))
    assert(Multimodal.decodeAnyAudio("neither".getBytes).isEmpty)
    assert(Multimodal.decodeAnyRaster("neither".getBytes).isEmpty)
  }

  test("mp4MetaJvm: box-tree walk recovers the fixture's closed-form " +
      "params; v1 64-bit headers, largesize and size-0 boxes parse; " +
      "malformed trees are None") {
    val s = spark
    import s.implicits._
    // fixture round-trip for a few docs
    (0L until 4L).toDF("doc_id")
      .select(col("doc_id"),
        graft.queries.ExtensionQueries.mp4Blob.as("blob"))
      .collect().foreach { r =>
        val d = r.getLong(0)
        val m = Multimodal.mp4MetaJvm(r.getAs[Array[Byte]]("blob"))
          .getOrElse(fail(s"doc $d: fixture unparseable"))
        assert(m.n_tracks == 1 + d % 2 && m.n_video == 1 &&
          m.n_audio == d % 2 && m.timescale == 1000 &&
          m.duration_ms == 5000 + (d % 1000) * 37 &&
          m.width == 320 + (d % 16) * 8 && m.height == 240 + (d % 9) * 8,
          s"doc $d: $m")
      }
    // hand-built: v1 mvhd (64-bit times), moov with size 0 (to-EOF),
    // and a largesize (size=1) trak wrapper
    val bb = new scala.collection.mutable.ArrayBuffer[Byte]()
    def be32(v: Long): Unit =
      (3 to 0 by -1).foreach(i => bb += ((v >> (8 * i)) & 0xff).toByte)
    def be64(v: Long): Unit =
      (7 to 0 by -1).foreach(i => bb += ((v >> (8 * i)) & 0xff).toByte)
    def ascii(t: String): Unit = bb ++= t.getBytes("ISO-8859-1")
    be32(16); ascii("ftyp"); ascii("isom"); be32(0)
    be32(0); ascii("moov") // size 0: runs to end of file
    // mvhd v1: vf(01 000000) ctime(8) mtime(8) timescale(4) dur(8) + 80
    be32(8 + 4 + 8 + 8 + 4 + 8 + 80); ascii("mvhd")
    bb += 1; bb += 0; bb += 0; bb += 0
    be64(0); be64(0); be32(600); be64(1234567L)
    (0 until 80).foreach(_ => bb += 0)
    // trak via LARGESIZE header (size = 1, then 64-bit 16 + body)
    val trakBody = {
      val t = new scala.collection.mutable.ArrayBuffer[Byte]()
      def tbe32(v: Long): Unit =
        (3 to 0 by -1).foreach(i => t += ((v >> (8 * i)) & 0xff).toByte)
      tbe32(92); t ++= "tkhd".getBytes
      (0 until 76).foreach(_ => t += 0)
      tbe32(640L << 16); tbe32(360L << 16)
      tbe32(41); t ++= "mdia".getBytes
      tbe32(33); t ++= "hdlr".getBytes
      (0 until 8).foreach(_ => t += 0)
      t ++= "vide".getBytes
      (0 until 13).foreach(_ => t += 0)
      t.toArray
    }
    be32(1); ascii("trak"); be64(16L + trakBody.length); bb ++= trakBody
    val m = Multimodal.mp4MetaJvm(bb.toArray)
      .getOrElse(fail("v1/largesize/size-0 stream unparseable"))
    assert(m.timescale == 600 && m.duration_ms == 1234567L * 1000 / 600 &&
      m.n_tracks == 1 && m.n_video == 1 && m.width == 640 &&
      m.height == 360, s"$m")
    // rejections: no ftyp, truncation, no moov, zero tracks
    assert(Multimodal.mp4MetaJvm(null).isEmpty)
    assert(Multimodal.mp4MetaJvm("not an mp4 at all".getBytes).isEmpty)
    assert(Multimodal.mp4MetaJvm(bb.toArray.take(40)).isEmpty, "truncated")
    val noMoov = bb.toArray.take(16)
    assert(Multimodal.mp4MetaJvm(noMoov).isEmpty, "ftyp alone")
    // fuzz: mutations/truncations never throw
    val good = bb.toArray
    val rnd = new scala.util.Random(77)
    (0 until 400).foreach { i =>
      val b = good.clone()
      if (i % 2 == 0) b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      val cut = if (i % 2 == 1) b.take(rnd.nextInt(b.length)) else b
      try Multimodal.mp4MetaJvm(cut)
      catch { case t: Throwable =>
        fail(s"mp4 fuzz $i threw ${t.getClass}") }
    }
  }

  test("mp4TracksJvm: stbl walk recovers the fixture's closed-form " +
      "sample tables; co64, uniform stsz and absent stss parse; " +
      "malformed tables are None") {
    val s = spark
    import s.implicits._
    // fixture round-trip: stsz sum, stts duration, bitrate, sync rules
    (0L until 6L).toDF("doc_id")
      .select(col("doc_id"),
        graft.queries.ExtensionQueries.mp4Blob.as("blob"))
      .collect().foreach { r =>
        val d = r.getLong(0)
        val m = Multimodal.mp4TracksJvm(r.getAs[Array[Byte]]("blob"))
          .getOrElse(fail(s"doc $d: fixture unparseable"))
        val n = 24 + d % 8; val s0 = 80 + d % 32
        val delta = 100 + d % 50
        val total = n * s0 + n / 2
        assert(m.n_frames == n && m.total_bytes == total &&
          m.media_timescale == 90000 && m.media_duration == n * delta &&
          m.duration_ms == n * delta * 1000 / 90000 &&
          m.bitrate_bps == total * 8 * 90000 / (n * delta) &&
          m.n_chunks == 1 + d % 3 &&
          m.n_sync == (if (d % 2 == 1) (n + 7) / 8 else n),
          s"doc $d: $m")
      }
    // hand-built: uniform stsz (sample_size field, no table) + co64
    val bb = new scala.collection.mutable.ArrayBuffer[Byte]()
    def be32(v: Long): Unit =
      (3 to 0 by -1).foreach(i => bb += ((v >> (8 * i)) & 0xff).toByte)
    def be64(v: Long): Unit =
      (7 to 0 by -1).foreach(i => bb += ((v >> (8 * i)) & 0xff).toByte)
    def ascii(t: String): Unit = bb ++= t.getBytes("ISO-8859-1")
    def vf(): Unit = be32(0)
    be32(16); ascii("ftypisom"); be32(0)
    val stblSz = 8 + 24 + 20 + 24 // stts + uniform stsz + co64(1 entry)
    val mdiaSz = 8 + 32 + 33 + 8 + stblSz
    be32(8 + 108 + 8 + mdiaSz); ascii("moov")
    be32(108); ascii("mvhd"); vf(); be32(0); be32(0); be32(1000)
    be32(7000); (0 until 80).foreach(_ => bb += 0)
    be32(8 + mdiaSz); ascii("trak")
    be32(mdiaSz); ascii("mdia")
    be32(32); ascii("mdhd"); vf(); be32(0); be32(0); be32(30000)
    be32(0); be32(0) // duration advisory + lang
    be32(33); ascii("hdlr"); vf(); be32(0); ascii("vide")
    (0 until 13).foreach(_ => bb += 0)
    be32(8 + stblSz); ascii("minf")
    be32(stblSz); ascii("stbl")
    be32(24); ascii("stts"); vf(); be32(1); be32(300); be32(1001)
    be32(20); ascii("stsz"); vf(); be32(4096); be32(300) // uniform
    be32(24); ascii("co64"); vf(); be32(1); be64(1L << 33)
    val m = Multimodal.mp4TracksJvm(bb.toArray)
      .getOrElse(fail("uniform-stsz/co64 stream unparseable"))
    assert(m.n_frames == 300 && m.total_bytes == 300L * 4096 &&
      m.media_timescale == 30000 && m.media_duration == 300L * 1001 &&
      m.n_chunks == 1 && m.n_sync == 300, s"$m") // no stss: all sync
    assert(m.bitrate_bps ==
      (BigInt(300L * 4096) * 8 * 30000 / (300L * 1001)).toLong)
    // a declared table entry count overrunning its box must reject,
    // not read past: inflate the stts run count (tag + vf → count at
    // tag offset + 8)
    val good = bb.toArray
    val idx = good.sliding(4).indexWhere(_.sameElements("stts".getBytes))
    val broken = good.clone()
    broken(idx + 8) = 0x7f
    assert(Multimodal.mp4TracksJvm(broken).isEmpty,
      "an overrunning stts table must reject the track")
    // fuzz: mutations/truncations never throw
    val rnd = new scala.util.Random(99)
    (0 until 400).foreach { i =>
      val b = good.clone()
      if (i % 2 == 0) b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      val cut = if (i % 2 == 1) b.take(rnd.nextInt(b.length)) else b
      try Multimodal.mp4TracksJvm(cut)
      catch { case t: Throwable =>
        fail(s"mp4 tracks fuzz $i threw ${t.getClass}") }
    }
  }

  test("mp4SyncRangesJvm: the chunk plan yields exact byte ranges — " +
      "fixture closed forms, multi-run stsc, partial last chunk, " +
      "absent-stss all-sync; malformed plans yield no rows") {
    val s = spark
    import s.implicits._
    (0L until 6L).toDF("doc_id")
      .select(col("doc_id"),
        graft.queries.ExtensionQueries.mp4Blob.as("blob"))
      .collect().foreach { r =>
        val d = r.getLong(0)
        val got = Multimodal.mp4SyncRangesJvm(r.getAs[Array[Byte]]("blob"))
        val n = (24 + d % 8).toInt; val nc = (1 + d % 3).toInt
        val s0 = 80 + d % 32
        val spc = (n + nc - 1) / nc
        val want = (0 until n)
          .filter(i => d % 2 == 0 || i % 8 == 0)
          .map { i =>
            val c = i / spc
            val off = 4096L * (c + 1) + (i - c * spc) * s0 +
              (i / 2 - (c * spc) / 2)
            (i + 1L, c + 1L, off, s0 + i % 2)
          }
        assert(got.map(x => (x.sample_idx, x.chunk_idx, x.offset,
          x.size)) == want, s"doc $d")
      }
    // hand-built: TWO stsc runs (2 then 4 samples/chunk), co64 offsets,
    // uniform stsz, no stss (all sync) — 8 samples over 3 chunks
    val bb = new scala.collection.mutable.ArrayBuffer[Byte]()
    def be32(v: Long): Unit =
      (3 to 0 by -1).foreach(i => bb += ((v >> (8 * i)) & 0xff).toByte)
    def be64(v: Long): Unit =
      (7 to 0 by -1).foreach(i => bb += ((v >> (8 * i)) & 0xff).toByte)
    def ascii(t: String): Unit = bb ++= t.getBytes("ISO-8859-1")
    be32(16); ascii("ftypisom"); be32(0)
    val stblSz = 8 + 20 + (16 + 24) + (16 + 24) // stsz + stsc(2) + co64(3)
    val mdiaSz = 8 + 33 + 8 + stblSz
    be32(8 + 8 + mdiaSz); ascii("moov")
    be32(8 + mdiaSz); ascii("trak")
    be32(mdiaSz); ascii("mdia")
    be32(33); ascii("hdlr"); be32(0); be32(0); ascii("vide")
    (0 until 13).foreach(_ => bb += 0)
    be32(8 + stblSz); ascii("minf")
    be32(stblSz); ascii("stbl")
    be32(20); ascii("stsz"); be32(0); be32(100); be32(8) // uniform 100
    be32(16 + 24); ascii("stsc"); be32(0); be32(2)
    be32(1); be32(2); be32(1) // chunks 1-2: 2 samples each
    be32(3); be32(4); be32(1) // chunk 3+: 4 samples
    be32(16 + 24); ascii("co64"); be32(0); be32(3)
    be64(1L << 33); be64((1L << 33) + 5000); be64((1L << 33) + 9000)
    val got = Multimodal.mp4SyncRangesJvm(bb.toArray)
    val base = 1L << 33
    assert(got.map(x => (x.sample_idx, x.chunk_idx, x.offset)) == Seq(
      (1L, 1L, base), (2L, 1L, base + 100),
      (3L, 2L, base + 5000), (4L, 2L, base + 5100),
      (5L, 3L, base + 9000), (6L, 3L, base + 9100),
      (7L, 3L, base + 9200), (8L, 3L, base + 9300)), s"$got")
    assert(got.forall(_.size == 100))
    // more samples than the chunk plan can hold must reject: claim 9
    val over = bb.toArray.clone()
    val szIdx = over.sliding(4).indexWhere(_.sameElements("stsz".getBytes))
    over(szIdx + 15) = 9 // count 8 → 9 (last byte of count field)
    assert(Multimodal.mp4SyncRangesJvm(over).isEmpty, "overrunning plan")
    // fuzz: never throws
    val good = bb.toArray
    val rnd = new scala.util.Random(55)
    (0 until 400).foreach { i =>
      val b = good.clone()
      if (i % 2 == 0) b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      val cut = if (i % 2 == 1) b.take(rnd.nextInt(b.length)) else b
      try Multimodal.mp4SyncRangesJvm(cut)
      catch { case t: Throwable =>
        fail(s"sync-ranges fuzz $i threw ${t.getClass}") }
    }
  }

  test("mp3MetaJvm: frame-grid walk recovers the VBR fixture's closed " +
      "forms; ID3v2 skip, ID3v1 trailer, every version/layer formula; " +
      "malformed streams are None") {
    val s = spark
    import s.implicits._
    val kbps = Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
      224, 256, 320)
    (0L until 6L).toDF("doc_id")
      .select(col("doc_id"),
        graft.queries.ExtensionQueries.mp3Blob.as("blob"))
      .collect().foreach { r =>
        val d = r.getLong(0)
        val m = Multimodal.mp3MetaJvm(r.getAs[Array[Byte]]("blob"))
          .getOrElse(fail(s"doc $d: fixture unparseable"))
        val n = (20 + d % 10).toInt
        val fb = (0 until n).map(f => 3L * kbps(((d + f) % 14).toInt)).sum
        assert(m.version_x10 == 10 && m.layer == 3 &&
          m.sample_rate == 48000 && m.channels == 1 &&
          m.n_frames == n && m.n_samples == 1152L * n &&
          m.duration_ms == 24L * n && m.frame_bytes == fb &&
          m.bitrate_bps == fb * 8 * 48000 / (1152L * n), s"doc $d: $m")
      }
    // hand-built: MPEG2.5 Layer III stereo (576 samples/frame, the
    // 72·b/sr branch) + an ID3v1 trailer
    val bb = new scala.collection.mutable.ArrayBuffer[Byte]()
    def frame25(): Unit = {
      // sr idx 2 = 8000 Hz, bitrate idx 1 = 8 kbps → flen = 72 exactly
      bb += 0xff.toByte; bb += 0xe3.toByte; bb += 0x18.toByte; bb += 0
      (0 until 68).foreach(_ => bb += 0)
    }
    frame25(); frame25()
    bb ++= "TAG".getBytes; (0 until 125).foreach(_ => bb += 0)
    val m25 = Multimodal.mp3MetaJvm(bb.toArray)
      .getOrElse(fail("MPEG2.5 stream unparseable"))
    assert(m25.version_x10 == 25 && m25.layer == 3 &&
      m25.sample_rate == 8000 && m25.channels == 2 &&
      m25.n_frames == 2 && m25.n_samples == 1152 &&
      m25.frame_bytes == 144 &&
      m25.bitrate_bps == 144L * 8 * 8000 / 1152, s"$m25")
    // Layer I slot arithmetic: MPEG1, 32 kbps @ 32 kHz → (12·b/sr)·4 = 48
    val l1 = new scala.collection.mutable.ArrayBuffer[Byte]()
    l1 += 0xff.toByte; l1 += 0xff.toByte; l1 += 0x18.toByte
    l1 += 0xc0.toByte
    (0 until 44).foreach(_ => l1 += 0)
    val mL1 = Multimodal.mp3MetaJvm(l1.toArray)
      .getOrElse(fail("Layer I stream unparseable"))
    assert(mL1.layer == 1 && mL1.n_samples == 384 && mL1.frame_bytes == 48,
      s"$mL1")
    // rejects: free-format, reserved version, truncation, junk tail,
    // mid-stream parameter change
    val free = l1.toArray.clone(); free(2) = 0x08 // bitrate idx 0
    assert(Multimodal.mp3MetaJvm(free).isEmpty, "free-format")
    val resv = l1.toArray.clone(); resv(1) = 0xef.toByte // version 01
    assert(Multimodal.mp3MetaJvm(resv).isEmpty, "reserved version")
    assert(Multimodal.mp3MetaJvm(l1.toArray.take(40)).isEmpty, "truncated")
    assert(Multimodal.mp3MetaJvm(l1.toArray ++ Array[Byte](1, 2, 3))
      .isEmpty, "trailing garbage")
    val mixed = bb.toArray.take(144).clone() // two 2.5 frames, no TAG
    mixed(72 + 3) = 0xc0.toByte // frame 2 flips stereo → mono
    assert(Multimodal.mp3MetaJvm(mixed).isEmpty, "inconsistent channels")
    // fuzz: mutations/truncations never throw
    val good = bb.toArray
    val rnd = new scala.util.Random(123)
    (0 until 400).foreach { i =>
      val b = good.clone()
      if (i % 2 == 0) b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      val cut = if (i % 2 == 1) b.take(rnd.nextInt(b.length)) else b
      try Multimodal.mp3MetaJvm(cut)
      catch { case t: Throwable =>
        fail(s"mp3 fuzz $i threw ${t.getClass}") }
    }
  }

  test("decoder hardening: truncated v1 mvhd as the last box is None " +
      "(not AIOOBE); a FLAC header claiming more samples than the " +
      "payload could code is rejected before allocating") {
    // mvhd v1 whose box ends exactly at the buffer: payload 28 bytes,
    // but the 64-bit duration read spans s+24..s+31 — the off-by-4
    // bound let this read past the array
    val bb = new scala.collection.mutable.ArrayBuffer[Byte]()
    def be32(v: Long): Unit =
      (3 to 0 by -1).foreach(i => bb += ((v >> (8 * i)) & 0xff).toByte)
    def be64(v: Long): Unit =
      (7 to 0 by -1).foreach(i => bb += ((v >> (8 * i)) & 0xff).toByte)
    bb ++= Array[Byte](0, 0, 0, 16) ++ "ftypisom".getBytes; be32(0)
    be32(8 + 36); bb ++= "moov".getBytes
    be32(36); bb ++= "mvhd".getBytes
    bb += 1; bb += 0; bb += 0; bb += 0 // version 1 + flags
    be64(0); be64(0); be32(600) // ctime, mtime, timescale — then EOF
    assert(Multimodal.mp4MetaJvm(bb.toArray).isEmpty,
      "truncated v1 mvhd must be None, never throw")
    // FLAC memory bomb: a 42-byte stream whose STREAMINFO claims 2^24
    // samples x 8 channels (a 1 GB long allocation) — FLAC cannot code
    // a sample in under ~1 bit, so the claim must be rejected up front
    val fb = new scala.collection.mutable.ArrayBuffer[Byte]()
    fb ++= "fLaC".getBytes
    fb ++= Array[Byte](0x80.toByte, 0, 0, 34) // last block, STREAMINFO
    fb ++= Array[Byte](0x10, 0, 0x10, 0) // min/max blocksize 4096
    fb ++= Array[Byte](0, 0, 0, 0, 0, 0) // min/max frame size
    fb ++= Array[Byte](0x0a, 0xc4.toByte, 0x4e, 0xf0.toByte) // 44.1k/8ch/16b
    fb ++= Array[Byte](0x01, 0, 0, 0) // total samples = 2^24
    (0 until 16).foreach(_ => fb += 0) // md5
    assert(fb.length == 42)
    assert(Multimodal.decodeFlacPcm(fb.toArray).isEmpty,
      "adversarial STREAMINFO must be rejected before allocation")
  }

  test("withBlob: byte metadata is exact; kind sniffs magic bytes") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "héllo")).toDF("doc_id", "text")
    val row = Multimodal.withBlob(df, "text").head
    assert(row.getAs[Int]("n_bytes") == 6) // é is 2 bytes in utf-8
    assert(row.getAs[String]("kind") == "bin")
    assert(row.getAs[String]("content_sha").length == 64)
  }

  test("extractFeatures: deterministic stub features, dim 8, mean in range") {
    val s = spark
    import s.implicits._
    val df = Multimodal.withBlob(
      Seq((1L, "abc"), (2L, "")).toDF("doc_id", "text"), "text")
    val rows = Multimodal.extractFeatures(df, "doc_id").collect()
      .sortBy(_.doc_id)
    assert(rows(0).features.length == Multimodal.FeatureExtractor.FeatureDim)
    assert(rows(0).mean_byte > 0 && rows(0).mean_byte < 256)
    assert(rows(1).n_bytes == 0 && rows(1).mean_byte == 0.0)
    // determinism
    val again = Multimodal.extractFeatures(df, "doc_id").collect()
      .sortBy(_.doc_id)
    assert(rows.map(_.features.toSeq).toSeq == again.map(_.features.toSeq).toSeq)
  }

  test("media header parse: real PNG/GIF/JPEG byte layouts, including a " +
      "JPEG SOF behind variable APPn segments; malformed input is NULL") {
    val s = spark
    import s.implicits._
    def be16(v: Int) = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be32(v: Int) = Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    // a faithful 640x480 PNG header (signature + IHDR chunk)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a,
      0x0a) ++ be32(13) ++ "IHDR".getBytes ++ be32(640) ++ be32(480) ++
      Array[Byte](8, 6, 0, 0, 0)
    // GIF89a logical screen 320x200 (little-endian)
    val gif = "GIF89a".getBytes ++ Array[Byte](0x40, 0x01, 0xc8.toByte, 0) ++
      Array[Byte](0, 0, 0)
    // JPEG with APP0 (JFIF, 16 bytes) + APP1 (EXIF-ish, 10 bytes) before
    // a progressive SOF2 1024x768 — the walk must hop two segments and
    // accept SOF2, not just SOF0
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte) ++
      (Array[Byte](0xff.toByte, 0xe0.toByte) ++ be16(16) ++
        new Array[Byte](14)) ++
      (Array[Byte](0xff.toByte, 0xe1.toByte) ++ be16(10) ++
        new Array[Byte](8)) ++
      (Array[Byte](0xff.toByte, 0xc2.toByte) ++ be16(11) ++
        Array[Byte](8) ++ be16(768) ++ be16(1024) ++ Array[Byte](3))
    // malformed: JPEG magic but garbage where a marker should be
    val broken = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte,
      0x00, 0x12, 0x34)
    val truncatedPng = png.take(14)
    val rows = Seq((1L, png), (2L, gif), (3L, jpeg), (4L, broken),
      (5L, truncatedPng), (6L, "plain text".getBytes))
      .toDF("id", "blob")
      .select(col("id"), Multimodal.sniffKind(col("blob")).as("kind"),
        Multimodal.mediaDims(col("blob")).as("d"))
      .select(col("id"), col("kind"), col("d.width"), col("d.height"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(rows(0) == ((1L, "png", Some(640L), Some(480L))))
    assert(rows(1) == ((2L, "gif", Some(320L), Some(200L))))
    assert(rows(2) == ((3L, "jpeg", Some(1024L), Some(768L))))
    assert(rows(3) == ((4L, "jpeg", None, None)),
      "non-FF marker byte must yield NULL dims")
    assert(rows(4) == ((5L, "png", None, None)),
      "truncated IHDR must yield NULL dims")
    assert(rows(5) == ((6L, "bin", None, None)))
  }

  test("WAV chunk walk: fmt/data behind LIST and fact chunks, " +
      "payload-less trailing data header, odd-size padding; non-WAVE " +
      "RIFF and truncated fmt are NULL") {
    val s = spark
    import s.implicits._
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def fmt(ch: Int, sr: Int, bits: Int) = {
      val blk = ch * bits / 8
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(ch) ++ le32(sr) ++
        le32(sr.toLong * blk) ++ le16(blk) ++ le16(bits)
    }
    // canonical mono 8kHz/16-bit, data with real payload bytes
    val plain = "RIFF".getBytes ++ le32(0) ++ "WAVE".getBytes ++
      fmt(1, 8000, 16) ++ "data".getBytes ++ le32(8000 * 2) ++
      new Array[Byte](8) // payload may be truncated; size field rules
    // LIST (odd size 3 → padded to 4) and fact chunks around fmt
    val cluttered = "RIFF".getBytes ++ le32(0) ++ "WAVE".getBytes ++
      ("LIST".getBytes ++ le32(3) ++ new Array[Byte](4)) ++
      fmt(2, 44100, 16) ++
      ("fact".getBytes ++ le32(4) ++ le32(1234)) ++
      "data".getBytes ++ le32(44100L * 4 * 2) // 2 s stereo
    val notWave = "RIFF".getBytes ++ le32(0) ++ "AVI ".getBytes ++
      fmt(1, 8000, 8) ++ "data".getBytes ++ le32(100)
    val truncated = ("RIFF".getBytes ++ le32(0) ++ "WAVE".getBytes ++
      fmt(1, 8000, 8)).take(20)
    val rows = Seq((1L, plain), (2L, cluttered), (3L, notWave),
      (4L, truncated)).toDF("id", "blob")
      .select(col("id"), Multimodal.wavMeta(col("blob")).as("m"))
      .select(col("id"), col("m.channels"), col("m.sample_rate"),
        col("m.bits_per_sample"), col("m.n_frames"), col("m.duration_ms"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), (1 to 5).map(i =>
        Option(r.get(i)).map(_.asInstanceOf[Long]))))
    assert(rows(0)._2 == Seq(Some(1L), Some(8000L), Some(16L),
      Some(8000L), Some(1000L)), "1 s of mono 16-bit at 8 kHz")
    assert(rows(1)._2 == Seq(Some(2L), Some(44100L), Some(16L),
      Some(88200L), Some(2000L)), "2 s stereo behind LIST/fact clutter")
    assert(rows(2)._2.forall(_.isEmpty), "RIFF/AVI is not WAVE")
    assert(rows(3)._2.forall(_.isEmpty), "truncated fmt yields NULL")
  }

  test("decodeWavPcm16: real PCM16 decode — sign/endianness/interleave, " +
      "per-channel stats, size-field clamp, non-PCM16 rejected") {
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def fmt(ch: Int, bits: Int, code: Int = 1) = {
      val blk = ch * bits / 8
      "fmt ".getBytes ++ le32(16) ++ le16(code) ++ le16(ch) ++ le32(8000) ++
        le32(8000L * blk) ++ le16(blk) ++ le16(bits)
    }
    def wav(ch: Int, samples: Seq[Int], bits: Int = 16, code: Int = 1,
        declaredSz: Option[Long] = None) = {
      val data = samples.flatMap(le16).toArray
      "RIFF".getBytes ++ le32(0) ++ "WAVE".getBytes ++ fmt(ch, bits, code) ++
        "data".getBytes ++ le32(declaredSz.getOrElse(data.length.toLong)) ++
        data
    }
    // mono: extremes + sign flips. signs: + + - + -  => 3 crossings;
    // peak = |-32768| = 32768; sum_sq hand-summed below
    val mono = Multimodal.decodeWavPcm16(
      wav(1, Seq(0, 1000, -1000, 32767, -32768)))
    val expSq = 1000L * 1000 * 2 + 32767L * 32767 + 32768L * 32768
    assert(mono == Vector((0, 5L, 32768L, expSq, 3L,
      math.sqrt(expSq.toDouble / 5))))
    // stereo interleave: frames (100,5) (-100,5) — ch0 flips once, ch1 never
    val st = Multimodal.decodeWavPcm16(wav(2, Seq(100, 5, -100, 5)))
    assert(st == Vector(
      (0, 2L, 100L, 20000L, 1L, math.sqrt(10000.0)),
      (1, 2L, 5L, 25L + 25L, 0L, math.sqrt(25.0))))
    // declared data size beyond the payload clamps to the real bytes
    val clamped = Multimodal.decodeWavPcm16(
      wav(1, Seq(7, -7), declaredSz = Some(1 << 20)))
    assert(clamped.map(t => (t._1, t._2)) == Vector((0, 2L)))
    // 8-bit PCM and float (code 3) payloads are not THIS decoder's format
    assert(Multimodal.decodeWavPcm16(wav(1, Seq(1, 2), bits = 8)).isEmpty)
    assert(Multimodal.decodeWavPcm16(wav(1, Seq(1, 2), code = 3)).isEmpty)
    assert(Multimodal.decodeWavPcm16("not riff at all".getBytes).isEmpty)
    // the 8-bit decoder: OFFSET-BINARY samples (u8 − 128). bytes
    // 128, 228, 28 center to 0, +100, −100: peak 100, one sign flip
    // (0 counts non-negative), Σs² = 20000
    val fmt8 = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(8000) ++ le16(1) ++ le16(8)
    val wav8 = "RIFF".getBytes ++ le32(0) ++ "WAVE".getBytes ++ fmt8 ++
      "data".getBytes ++ le32(3) ++
      Array(128.toByte, 228.toByte, 28.toByte)
    assert(Multimodal.decodeWavPcm8(wav8) == Vector(
      (0, 3L, 100L, 20000L, 1L, math.sqrt(20000.0 / 3))))
    assert(Multimodal.decodeWavPcm8(wav(1, Seq(1, 2))).isEmpty,
      "16-bit payloads must not route down the 8-bit branch")
  }

  test("decodeBmp24: real pixel decode — bottom-up rows, stride padding, " +
      "BGR order, position-weighted checksums; truncated/foreign rejected") {
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // 2x2 @ 24bpp: 3w=6 → stride 8 (2 pad bytes per row). Image rows are
    // stored BOTTOM-UP: file row 0 = image row y=1.
    // image pixels as (B,G,R): y=0: (1,2,3) (4,5,6); y=1: (7,8,9) (10,11,12)
    val fileRowY1 = Array[Byte](7, 8, 9, 10, 11, 12, 99, 99) // pad ≠ 0
    val fileRowY0 = Array[Byte](1, 2, 3, 4, 5, 6, 98, 98)
    val bmp = "BM".getBytes ++ le32(54 + 16) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(16) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
      fileRowY1 ++ fileRowY0
    val r = Multimodal.decodeBmp24(bmp).get
    assert((r.width, r.height, r.n_px) == ((2L, 2L, 4L)))
    assert((r.sum_b, r.sum_g, r.sum_r) == ((1L + 4 + 7 + 10, 2L + 5 + 8 + 11,
      3L + 6 + 9 + 12)))
    // weights over TOP-DOWN coords: (x=0,y=0)→0 (1,0)→1 (0,1)→2 (1,1)→3;
    // a decoder that forgot bottom-up would weight 7..12 with 0,1
    assert(r.wsum_b == 0L * 1 + 1 * 4 + 2 * 7 + 3 * 10)
    assert(r.wsum_r == 0L * 3 + 1 * 6 + 2 * 9 + 3 * 12)
    assert(r.mean_g == (2.0 + 5 + 8 + 11) / 4)
    // truncated pixel array / non-BMP / unsupported depth are rejected
    assert(Multimodal.decodeBmp24(bmp.dropRight(3)).isEmpty)
    assert(Multimodal.decodeBmp24("plain".getBytes).isEmpty)
    val bmp8 = bmp.clone(); bmp8(28) = 8 // bpp byte
    assert(Multimodal.decodeBmp24(bmp8).isEmpty)
    // patch grid over the same 2x2 fixture at patch=1: each pixel is its
    // own patch, means equal values, grid is top-down
    val patches = Multimodal.decodeBmp24Patches(bmp, patch = 1)
    assert(patches.map(p => (p._1, p._2, p._3)) ==
      Vector((0, 0, 1L), (1, 0, 1L), (0, 1, 1L), (1, 1, 1L)))
    assert(patches.map(_._4.toSeq) == Vector(Seq(1L, 2, 3), Seq(4L, 5, 6),
      Seq(7L, 8, 9), Seq(10L, 11, 12)))
    // patch=2 folds the whole image into one patch == whole-image sums
    val one = Multimodal.decodeBmp24Patches(bmp, patch = 2)
    assert(one.size == 1 && one.head._3 == 4L &&
      one.head._4.toSeq == Seq(r.sum_b, r.sum_g, r.sum_r))
    // NEGATIVE height = top-down storage: same pixels written in image
    // order must decode identically to the bottom-up twin (same sums AND
    // same position-weighted checksums)
    val bmpTd = "BM".getBytes ++ le32(54 + 16) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(2) ++ le32(-2) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(16) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
      fileRowY0 ++ fileRowY1 // image order, not flipped
    val rTd = Multimodal.decodeBmp24(bmpTd).get
    assert((rTd.height, rTd.wsum_b, rTd.wsum_g, rTd.wsum_r) ==
      ((2L, r.wsum_b, r.wsum_g, r.wsum_r)),
      "top-down decode must match the bottom-up twin")
  }

  test("flacMeta: bit-packed STREAMINFO — CD-audio hand-packed bytes, " +
      "last-flag don't-care; non-STREAMINFO-first/truncated/foreign NULL") {
    val s = spark
    import s.implicits._
    // 44.1 kHz stereo 16-bit, 88200 total samples (2 s), hand-packed:
    // sr 0x0AC44 → 0A C4 4x; ch-1=1 → 001₂<<1; bps-1=15 → bit4=0, low
    // nibble F0; total 0x000015888
    val packed = Array[Byte](0x0A, 0xC4.toByte, 0x42, 0xF0.toByte,
      0x00, 0x01, 0x58, 0x88.toByte)
    def flac(flagType: Int) = "fLaC".getBytes ++
      Array[Byte](flagType.toByte, 0, 0, 34) ++ new Array[Byte](10) ++
      packed ++ new Array[Byte](16)
    val rows = Seq((1L, flac(0)), (2L, flac(0x80)), // last-flag set: same
        (3L, flac(0x04)), // VORBIS_COMMENT first: not STREAMINFO
        (4L, flac(0).take(20)), (5L, "not flac at all!".getBytes))
      .toDF("id", "blob")
      .select(col("id"), Multimodal.flacMeta(col("blob")).as("m"))
      .select(col("id"), col("m.channels"), col("m.sample_rate"),
        col("m.bits_per_sample"), col("m.total_samples"),
        col("m.duration_ms"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), (1 to 5).map(i =>
        Option(r.get(i)).map(_.asInstanceOf[Long]))))
    val cd = Seq(Some(2L), Some(44100L), Some(16L), Some(88200L),
      Some(2000L))
    assert(rows(0)._2 == cd, "CD audio STREAMINFO")
    assert(rows(1)._2 == cd, "last-metadata-block flag is a don't-care")
    assert(rows(2)._2.forall(_.isEmpty), "first block must be STREAMINFO")
    assert(rows(3)._2.forall(_.isEmpty), "truncated")
    assert(rows(4)._2.forall(_.isEmpty), "foreign bytes")
  }

  test("auditPayload: PERMISSIVE verdict routing — ok media, truncated " +
      "media, codec-less headers, lookalike text, unknown bytes") {
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val wav = "RIFF".getBytes ++ le32(0) ++ "WAVE".getBytes ++
      ("fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
        le32(16000) ++ le16(2) ++ le16(16)) ++
      "data".getBytes ++ le32(4) ++ le16(5) ++ le16(-5)
    assert(Multimodal.auditPayload(wav) == (("riff", true, "ok")))
    assert(Multimodal.auditPayload(wav.take(20)) ==
      (("riff", false, "undecodable_pcm")))
    val bmp = "BM".getBytes ++ le32(54 + 4) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(1) ++ le32(1) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(4) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
      Array[Byte](1, 2, 3, 0)
    assert(Multimodal.auditPayload(bmp) == (("bmp", true, "ok")))
    assert(Multimodal.auditPayload(bmp.take(40)) ==
      (("bmp", false, "undecodable_bmp24")))
    // since round 9 the gif branch probes the REAL decoder — a text
    // lookalike fails the decode, it no longer reports no_codec
    assert(Multimodal.auditPayload("GIF89a rest".getBytes) ==
      (("gif", false, "undecodable_gif")))
    // ASCII lookalikes can never satisfy the binary gates (NUL bytes)
    assert(Multimodal.auditPayload("RIFFxxxxWAVEfmt etc".getBytes) ==
      (("riff", false, "undecodable_pcm")))
    assert(Multimodal.auditPayload("BMW is a carmaker and so on, text"
      .getBytes ++ new Array[Byte](60))._3 == "undecodable_bmp24")
    assert(Multimodal.auditPayload("plain".getBytes) ==
      (("bin", false, "unknown_format")))
  }

  test("decodeWavPcm16Windows: window cut, partial last window, " +
      "windows concatenate to the whole-clip stats") {
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val samples = Seq(100, -200, 300, -400, 500, -600, 700) // 7 frames mono
    val data = samples.flatMap(le16).toArray
    val wav = "RIFF".getBytes ++ le32(0) ++ "WAVE".getBytes ++
      ("fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
        le32(16000) ++ le16(2) ++ le16(16)) ++
      "data".getBytes ++ le32(data.length) ++ data
    val w = Multimodal.decodeWavPcm16Windows(wav, windowFrames = 3)
    // windows: [100,-200,300] [-400,500,-600] [700] (partial, n=1)
    assert(w.map(t => (t._2, t._3, t._4)) ==
      Vector((0L, 3L, 300L), (1L, 3L, 600L), (2L, 1L, 700L)))
    // per-window sum_sq concatenates to the whole-clip sum_sq
    val whole = Multimodal.decodeWavPcm16(wav).head
    assert(w.map(_._5).sum == whole._4)
    assert(w.head._6 == math.sqrt((100.0*100 + 200*200 + 300*300) / 3))
  }
}

class RelevanceSpec extends SparkFunSuite {

  private def docs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"))
      .toDF("doc_id", "text")
  }

  test("tfIdf: tf and df counted over normalized tokens, score = tf*(N/df)") {
    val out = Relevance.tfIdfTopTerms(docs, "text", "doc_id", 3)
      .orderBy("doc_id", "rank").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank"),
        r.getAs[String]("term"), r.getAs[Long]("tf"), r.getAs[Long]("df"),
        r.getAs[Double]("score")))
    // doc 1: apple tf=2 df=1 -> 2*(2/1)=4; banana tf=1 df=2 -> 1*(2/2)=1
    assert(out(0) == ((1L, 1, "apple", 2L, 1L, 4.0)))
    assert(out(1) == ((1L, 2, "banana", 1L, 2L, 1.0)))
    // doc 2: cherry tf=1 df=1 -> 2.0 beats banana -> 1.0
    assert(out(2) == ((2L, 1, "cherry", 1L, 1L, 2.0)))
    assert(out(3) == ((2L, 2, "banana", 1L, 2L, 1.0)))
  }

  test("bm25: rare terms outrank common at equal tf; higher tf ranks first") {
    val out = Relevance.bm25TopTerms(docs, "text", "doc_id", 3)
      .orderBy("doc_id", "rank").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank"),
        r.getAs[String]("term")))
    assert(out(0)._3 == "apple")  // tf=2 AND rare
    assert(out(2)._3 == "cherry") // rare beats shared banana
  }

  test("unigramSurprisal: exact fixed-point arithmetic, OOV-heavy docs " +
      "score higher, empty docs zero, partitioning-independent") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "the the the cat"), // in-vocab tokens
      (2L, "zyx qwv"),         // all OOV under vocabSize=2
      (3L, ""))                // token-less
      .toDF("doc_id", "text")
    // vocab cut at 2 (count desc, token): {the:3, cat:1}; total=6,
    // OOV mass 2 over 2 OOV types (zyx, qwv) -> per-type c_oov = 1
    // (class-based: bucket mass DIV type count); factor = (6+3)*1e6 = 9e6
    // the -> 9e6 DIV 4 = 2_250_000; cat -> 9e6 DIV 2 = 4_500_000;
    // OOV  -> 9e6 DIV 2 = 4_500_000
    val out = Relevance.unigramSurprisal(d, "text", "doc_id", vocabSize = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_toks"),
        r.getAs[Long]("sum_ppm"), r.getAs[Long]("mean_ppm")))
    assert(out(0) == ((1L, 4L, 3L * 2250000L + 4500000L, 2812500L)))
    assert(out(1) == ((2L, 2L, 9000000L, 4500000L)))
    assert(out(2) == ((3L, 0L, 0L, 0L)))
    // the rare-token doc is the outlier the filter is after
    assert(out(1)._4 > out(0)._4)
    val again = Relevance.unigramSurprisal(d.repartition(5), "text",
      "doc_id", vocabSize = 2).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("mean_ppm"))).toSeq
    assert(again == out.map(t => (t._1, t._4)).toSeq)
  }

  test("collocations: exact rational PMI with hand-computed marginals, " +
      "minCount prunes, deterministic ranking") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "x y x y x y"), // (x,y):3 (y,x):2
      (2L, "p q"),         // (p,q):1 — below minCount=2
      (3L, "x q p y"))     // (x,q) (q,p) (p,y)
      .toDF("doc_id", "text")
    // N=9; cu: x:4 y:2 p:2 q:1; cw: y:4 x:2 q:2 p:1
    // affinity(x,y) = 3*9e6 DIV (4*4) = 1_687_500
    // affinity(y,x) = 2*9e6 DIV (2*2) = 4_500_000
    val out = Relevance.collocations(d, "text", "doc_id", k = 10,
        minCount = 2L).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(out == Seq(("y", "x", 2L, 4500000L),
      ("x", "y", 3L, 1687500L)))
  }

  test("bigramSurprisal: exact fixed-point arithmetic, out-of-table " +
      "pairs score as unseen, sub-2-token docs zero, " +
      "partitioning-independent") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a b a b a"), // pairs (a,b)x2 (b,a)x2 — all in the top table
      (2L, "b b"),       // (b,b) falls outside tableSize=2 -> unseen
      (3L, ""),          // token-less
      (4L, "c"))         // single token: no bigram
      .toDF("doc_id", "text")
    // corpus pairs: (a,b):2 (b,a):2 (b,b):1; contexts c1: a->2, b->3;
    // V = |{a,b,c}| = 3; table cut at 2 keeps (a,b),(b,a).
    // ppm(a,b) = (2+3)*1e6 DIV 3 = 1_666_666
    // ppm(b,a) = (3+3)*1e6 DIV 3 = 2_000_000
    // ppm(b,b) = (3+3)*1e6 DIV 1 = 6_000_000 (unseen: c2' = 0)
    val out = Relevance.bigramSurprisal(d, "text", "doc_id", tableSize = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("sum_ppm"), r.getAs[Long]("mean_ppm")))
    assert(out(0) == ((1L, 4L, 2L * (1666666L + 2000000L), 1833333L)))
    assert(out(1) == ((2L, 1L, 6000000L, 6000000L)))
    assert(out(2) == ((3L, 0L, 0L, 0L)))
    assert(out(3) == ((4L, 0L, 0L, 0L)))
    // word-order outlier (the signal unigram stats cannot see)
    assert(out(1)._4 > out(0)._4)
    val again = Relevance.bigramSurprisal(d.repartition(5), "text",
      "doc_id", tableSize = 2).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("mean_ppm"))).toSeq
    assert(again == out.map(t => (t._1, t._4)).toSeq)
  }

  test("relevance vocabulary prunes: minDf/maxVocab bound the TF-IDF " +
      "vocabulary; capped bigram context table scores OOV contexts as " +
      "unseen") {
    val s = spark
    import s.implicits._
    // df: a->3 docs, b->2, c->1; minDf=2 drops c, maxVocab=1 then keeps
    // only a (df desc, term asc)
    val docs = Seq((1L, "a b a"), (2L, "a c b"), (3L, "a"))
      .toDF("doc_id", "text")
    val pruned = Relevance.tfIdfTopTerms(docs, "text", "doc_id", 3,
        minDf = 2L, maxVocab = 1)
      .select("term").distinct().collect().map(_.getString(0)).toSet
    assert(pruned == Set("a"), s"maxVocab=1 must keep only 'a': $pruned")
    val minOnly = Relevance.tfIdfTopTerms(docs, "text", "doc_id", 3,
        minDf = 2L, maxVocab = 0)
      .select("term").distinct().collect().map(_.getString(0)).toSet
    assert(minOnly == Set("a", "b"), s"minDf=2 must drop 'c': $minOnly")
    // bm25: dl still counts EVERY token even when the vocab is pruned
    val bm = Relevance.bm25TopTerms(docs, "text", "doc_id", 3,
        minDf = 1L, maxVocab = 1)
      .filter(col("doc_id") === 2L).select("dl").collect()
    assert(bm.nonEmpty && bm.forall(_.getLong(0) == 3L),
      "document length must be pre-prune (3 tokens in doc 2)")
    // bigram LM contextVocab: contexts c1: a->2, b->3 over
    // "a b a b a"/"b b"; cap at 1 keeps only b; OOV context a scores
    // with c1'=0: ppm(a,b) = (0+3)*1e6 DIV (2+1) = 1_000_000
    val d = Seq((1L, "a b a b a"), (2L, "b b"), (4L, "c"))
      .toDF("doc_id", "text")
    val out = Relevance.bigramSurprisal(d, "text", "doc_id",
        tableSize = 2, contextVocab = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("sum_ppm")))
    // doc1: (a,b)x2 in-table ctx-OOV -> 1e6 each; (b,a)x2 in-table
    // ctx b c1=3 -> (3+3)*1e6 DIV 3 = 2e6 each
    assert(out(0) == ((1L, 2L * 1000000L + 2L * 2000000L)))
    // doc2: (b,b) out-of-table pair, in-vocab ctx -> (3+3)*1e6 DIV 1
    assert(out(1) == ((2L, 6000000L)))
  }
}

class ContaminationSpec extends SparkFunSuite {

  test("ngramOverlap: identical doc fully contaminated, disjoint doc zero") {
    val s = spark
    import s.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"), // identical -> 1.0
      (2L, "alpha beta gamma something else entirely"), // partial
      (3L, "one two three four five")) // disjoint -> 0.0
      .toDF("doc_id", "text")
    val out = Contamination.ngramOverlap(corpus, bench, "text", "doc_id", 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_contaminated"), r.getAs[Double]("contamination")))
    assert(out(0) == ((1L, 3L, 3L, 1.0)))
    assert(out(1)._2 == 4L && out(1)._3 == 1L) // only "alpha beta gamma"
    assert(out(2) == ((3L, 3L, 0L, 0.0)))
  }
}

class PiiRedactionSpec extends SparkFunSuite {

  private def one(c: org.apache.spark.sql.Column, s: String): Any = {
    val sp = spark
    import sp.implicits._
    Seq(s).toDF("t").select(c).head().get(0)
  }

  test("redactPii scrubs emails, phones, IPv4s; counts match") {
    val in = "mail bob.smith+x@corp.example.org call 555-123-4567 " +
      "or 555.987.6543 host 192.168.1.200 done"
    assert(one(TF.redactPii(col("t")), in) ==
      "mail <EMAIL> call <PHONE> or <PHONE> host <IP> done")
    val c = one(TF.piiCounts(col("t")), in)
      .asInstanceOf[org.apache.spark.sql.Row]
    assert((c.getInt(0), c.getInt(1), c.getInt(2)) == ((1, 2, 1)))
  }

  test("piiCounts counts per stage: a phone-shaped email local part is " +
      "counted as email only") {
    // the raw text matches BOTH EmailRe and PhoneRe; the redaction
    // replaces it as an email, so n_phone must be 0, not 1
    val in = "contact 555-123-4567@corp.example.org now"
    assert(one(TF.redactPii(col("t")), in) == "contact <EMAIL> now")
    val c = one(TF.piiCounts(col("t")), in)
      .asInstanceOf[org.apache.spark.sql.Row]
    assert((c.getInt(0), c.getInt(1), c.getInt(2)) == ((1, 0, 0)))
  }

  test("redaction order: email host is never re-matched as phone/IP") {
    // the host contains digit runs that would match Ipv4Re if the email
    // were not replaced first
    val in = "x user@10.1.2.3.example.com y"
    assert(one(TF.redactPii(col("t")), in) == "x <EMAIL> y")
    assert(one(TF.redactPii(col("t")), "clean text 42") == "clean text 42")
  }
}

class ChunkingSpec extends SparkFunSuite {

  test("tokenWindows: overlap, tail truncation, empty docs dropped") {
    val s = spark
    import s.implicits._
    // 10 tokens, window 4, stride 3 -> starts 0,3,6,9
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),
      (2L, ""),
      (3L, "a b")) // shorter than one window
      .toDF("doc_id", "text")
    val out = Chunking.tokenWindows(docs, "text", "doc_id", 4, 3)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id"),
        r.getAs[Int]("start_tok"), r.getAs[Int]("n_toks")))
    assert(out.toSeq == Seq(
      (1L, 0, 0, 4), (1L, 1, 3, 4), (1L, 2, 6, 4), (1L, 3, 9, 1),
      (3L, 0, 0, 2)))
  }

  test("tokenWindows: chunk fingerprints distinguish windows") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val fps = Chunking.tokenWindows(docs, "text", "doc_id", 3, 2)
      .orderBy("chunk_id").collect().map(_.getAs[Long]("chunk_fp"))
    assert(fps.distinct.length == fps.length)
  }

  test("packSequences: in-shard running sum, budget rollover, offsets") {
    val s = spark
    import s.implicits._
    // one shard (nShards=1): docs of 3,4,5 tokens, budget 6:
    // tb=0 -> pack 0 off 0; tb=3 -> pack 0 off 3; tb=7 -> pack 1 off 1
    val docs = Seq(
      (0L, "a b c"), (1L, "a b c d"), (2L, "a b c d e"))
      .toDF("doc_id", "text")
    val out = Chunking.packSequences(docs, "text", "doc_id", 6, 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pack_id"),
        r.getAs[Long]("offset_in_pack")))
    assert(out.toSeq == Seq((0L, 0L, 0L), (1L, 0L, 3L), (2L, 1L, 1L)))
  }

  test("packSequences: shards pack independently") {
    val s = spark
    import s.implicits._
    val docs = (0L until 8L).map(i => (i, "a b c d")).toDF("doc_id", "text")
    val out = Chunking.packSequences(docs, "text", "doc_id", 8, 4)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"),
        r.getAs[Long]("pack_id")))
    // each shard sees docs i and i+4 (4 tokens each): second doc starts
    // at tb=4 -> pack 0 (budget 8 not yet passed)
    assert(out.forall { case (id, shard, _) => shard == id % 4 })
    assert(out.count(_._3 == 0L) == 8)
  }
}

class InvertedIndexSpec extends SparkFunSuite {

  test("lookup matches direct term frequencies and prunes to probe buckets") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "spark joins fast spark scans"),
      (2L, "window functions and spark"),
      (3L, "unrelated words entirely"))
      .toDF("doc_id", "text")
    val dir = graft.TestPaths.dir("graft_tix").toString
    val index = InvertedIndex.build(docs, "text", "doc_id", dir, nBuckets = 16)
    val probe = InvertedIndex.lookup(spark, index, Seq("spark", "window"))
    val got = probe.collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("tf"))).toSet
    assert(got == Set(("spark", 1L, 2L), ("spark", 2L, 1L),
      ("window", 2L, 1L)))
    // plan proof: non-empty partition filter on `bucket`
    val plan = probe.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*bucket[^\]]*\]""".r
        .findFirstIn(plan).isDefined,
      s"expected partition-pruned scan, got:\n$plan")
  }

  test("lookupAll intersects posting lists: only docs with EVERY term, " +
      "tf summed over the probe terms, duplicate probes collapsed") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "spark fast spark scans"), // spark only
      (2L, "window functions and spark joins"), // both
      (3L, "joins joins everywhere"), // joins only
      (4L, "spark joins spark joins")) // both, higher tf
      .toDF("doc_id", "text")
    val dir = graft.TestPaths.dir("graft_tixa").toString
    val index = InvertedIndex.build(docs, "text", "doc_id", dir,
      nBuckets = 16)
    val got = InvertedIndex
      .lookupAll(spark, index, Seq("spark", "joins", "spark"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 2L), (4L, 4L)),
      "docs 2 and 4 carry both terms; total_tf sums both postings")
  }

  test("phraseQuery: consecutive positions only, counted per doc; " +
      "3-term and repeated-term phrases") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "big data big data systems"), // "big data" twice
      (2L, "data big"),                  // reversed — no match
      (3L, "big shiny data"),            // gap — no match
      (4L, "echo echo echo"),            // "echo echo" twice (overlap)
      (5L, "big data big data big"))     // "big data big" twice
      .toDF("doc_id", "text")
    val dir = graft.TestPaths.dir("graft_pix").toString
    val index = InvertedIndex.buildPositional(docs, "text", "doc_id", dir,
      nBuckets = 16)
    def run(p: String*) = InvertedIndex.phraseQuery(spark, index, p)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(run("big", "data") == Map(1L -> 2, 5L -> 2))
    assert(run("big", "data", "big") == Map(1L -> 1, 5L -> 2),
      "3-term phrase; overlapping starts both count")
    assert(run("echo", "echo") == Map(4L -> 2),
      "repeated-term phrase needs true self-adjacency")
    assert(run("data", "systems") == Map(1L -> 1))
    // proximity relaxation on the same index: unordered, windowed
    def near(a: String, b: String, w: Int) =
      InvertedIndex.proximityQuery(spark, index, a, b, w)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(near("data", "big", 1) == Map(1L -> 2, 2L -> 1, 5L -> 2),
      "reversed order matches within window 1")
    assert(near("big", "systems", 2) == Map(1L -> 1),
      "only big@2 is within 2 of systems@4; big@0 is not")
  }
}

class KernelPropertySpec extends SparkFunSuite {

  test("property: PolyFingerprint kernel == independent fold on random " +
      "strings (ScalaCheck, fixed seeds)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val s = spark
    import s.implicits._
    def ref(raw: String): Long = {
      val norm = raw.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      norm.foldLeft(0L)((acc, c) => (acc * 1000003L + c) % (1L << 41))
    }
    // printable-ASCII inputs (incl. punctuation runs and whitespace);
    // normalization reduces everything to the [a-z0-9 ] kernel alphabet
    val gen = Gen.asciiPrintableStr
    val inputs = (0 until 200).flatMap(k =>
      gen.apply(Gen.Parameters.default, Seed(42L + k)))
    val got = inputs.toDF("t")
      .select(TF.fingerprintPoly(col("t")).as("fp"))
      .collect().map(_.getLong(0))
    inputs.zip(got).foreach { case (in, fp) =>
      assert(fp == ref(in), s"mismatch for: '$in'")
    }
  }

  test("property: decodeWavPcm16 == sample-level reference on random " +
      "PCM (channels 1-3, random clutter chunks, odd-size padding)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val caseGen = for {
      ch <- Gen.choose(1, 3)
      nf <- Gen.choose(0, 100)
      samples <- Gen.listOfN(nf * ch, Gen.choose(-32768, 32767))
      clutterSz <- Gen.choose(0, 9) // odd sizes exercise RIFF padding
      clutterBytes <- Gen.listOfN(clutterSz, Gen.choose(0, 255))
    } yield (ch, nf, samples.toVector, clutterBytes.map(_.toByte).toArray)
    val cases = (0 until 60).flatMap(k =>
      caseGen.apply(Gen.Parameters.default, Seed(1000L + k)))
    cases.foreach { case (ch, nf, samples, clutter) =>
      val blk = ch * 2
      val fmt = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(ch) ++
        le32(8000) ++ le32(8000L * blk) ++ le16(blk) ++ le16(16)
      val clutterChunk = "LIST".getBytes ++ le32(clutter.length) ++
        clutter ++ (if (clutter.length % 2 == 1) Array(0.toByte)
          else Array.empty[Byte])
      val data = "data".getBytes ++ le32(nf.toLong * blk) ++
        samples.flatMap(le16(_)).toArray
      val bytes = "RIFF".getBytes ++ le32(0) ++ "WAVE".getBytes ++
        clutterChunk ++ fmt ++ data
      val got = Multimodal.decodeWavPcm16(bytes)
      if (nf == 0) assert(got.isEmpty)
      else {
        // independent reference: per-channel stats straight off the
        // sample VALUES (never touches the byte encoding)
        val exp = (0 until ch).map { c =>
          val cs = (0 until nf).map(f => samples(f * ch + c))
          val sumSq = cs.map(s => s.toLong * s).sum
          val zc = cs.sliding(2).count(p =>
            p.length == 2 && (p(0) < 0) != (p(1) < 0))
          (c, nf.toLong, cs.map(s => math.abs(s.toLong)).max, sumSq,
            zc.toLong, math.sqrt(sumSq.toDouble / nf))
        }
        assert(got == exp, s"ch=$ch nf=$nf")
      }
    }
  }

  test("property: decodeBmp24 == pixel-level reference on random images " +
      "(stride padding carries junk, bottom-up row order)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val caseGen = for {
      w <- Gen.choose(1, 9)
      h <- Gen.choose(1, 6)
      px <- Gen.listOfN(w * h * 3, Gen.choose(0, 255)) // image-order BGR
      pad <- Gen.choose(0, 255)
    } yield (w, h, px.toVector, pad.toByte)
    val cases = (0 until 60).flatMap(k =>
      caseGen.apply(Gen.Parameters.default, Seed(2000L + k)))
    cases.foreach { case (w, h, px, pad) =>
      val stride = ((3 * w + 3) / 4) * 4
      val rows = (0 until h).reverse.flatMap { y => // bottom-up on disk
        val row = (0 until w).flatMap(x =>
          (0 until 3).map(c => px((y * w + x) * 3 + c).toByte))
        row ++ Seq.fill(stride - 3 * w)(pad) // junk padding
      }.toArray
      val bytes = "BM".getBytes ++ le32(54L + h * stride) ++ le32(0) ++
        le32(54) ++ le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++
        le16(24) ++ le32(0) ++ le32(h.toLong * stride) ++
        le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ rows
      val got = Multimodal.decodeBmp24(bytes).get
      def ref(c: Int) = (for (y <- 0 until h; x <- 0 until w)
        yield px((y * w + x) * 3 + c).toLong).sum
      def wref(c: Int) = (for (y <- 0 until h; x <- 0 until w)
        yield (x + y.toLong * w) * px((y * w + x) * 3 + c)).sum
      val n = w.toLong * h
      assert((got.width, got.height, got.n_px) == ((w.toLong, h.toLong, n)))
      assert((got.sum_b, got.sum_g, got.sum_r) == ((ref(0), ref(1), ref(2))))
      assert((got.wsum_b, got.wsum_g, got.wsum_r) ==
        ((wref(0), wref(1), wref(2))), s"w=$w h=$h")
      assert(got.mean_b == ref(0).toDouble / n)
    }
  }

  test("property: flacMeta recovers random bit-packed STREAMINFO fields " +
      "(independent MSB-first bit writer, full field ranges)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val s = spark
    import s.implicits._
    val caseGen = for {
      sr <- Gen.choose(1, (1 << 20) - 1) // 20-bit, parser requires > 0
      ch <- Gen.choose(1, 8) // 3-bit field stores ch-1
      bps <- Gen.choose(1, 32) // 5-bit field stores bps-1
      total <- Gen.chooseNum(0L, (1L << 36) - 1)
      flag <- Gen.oneOf(0, 0x80)
    } yield (sr, ch, bps, total, flag)
    val cases = (0 until 120).flatMap(k =>
      caseGen.apply(Gen.Parameters.default, Seed(3000L + k)))
    // independent encoder: write the 64-bit tail MSB-first as one bit
    // stream (no per-byte layout knowledge shared with the parser)
    def pack(sr: Int, ch: Int, bps: Int, total: Long): Array[Byte] = {
      var acc = BigInt(sr)
      acc = (acc << 3) | (ch - 1)
      acc = (acc << 5) | (bps - 1)
      acc = (acc << 36) | total
      (7 to 0 by -1).map(i => ((acc >> (i * 8)) & 0xff).toByte).toArray
    }
    val rows = cases.zipWithIndex.map { case ((sr, ch, bps, total, flag), i) =>
      (i.toLong, "fLaC".getBytes ++ Array[Byte](flag.toByte, 0, 0, 34) ++
        new Array[Byte](10) ++ pack(sr, ch, bps, total) ++
        new Array[Byte](16))
    }
    val got = rows.toDF("id", "blob")
      .select(col("id"), Multimodal.flacMeta(col("blob")).as("m"))
      .orderBy("id").collect()
      .map(r => Option(r.getStruct(1)).map(m =>
        (m.getLong(1).toInt, m.getLong(0).toInt, m.getLong(2).toInt,
          m.getLong(3))))
    cases.zip(got).foreach { case ((sr, ch, bps, total, _), g) =>
      assert(g.contains((sr, ch, bps, total)),
        s"sr=$sr ch=$ch bps=$bps total=$total got $g")
    }
  }

  test("fuzz: every media decoder is TOTAL on adversarial bytes — random " +
      "garbage, bit-flipped valid files, and overflow-crafted headers") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val validWav = "RIFF".getBytes ++ le32(0) ++ "WAVE".getBytes ++
      ("fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(8000) ++
        le32(32000) ++ le16(4) ++ le16(16)) ++
      "data".getBytes ++ le32(8) ++ new Array[Byte](8)
    val validBmp = "BM".getBytes ++ le32(70) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(16) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
      new Array[Byte](16)
    // crafted overflow: width 2^30 makes 32-bit 3·w negative — the
    // pre-fix stride slipped past the length gate and crashed the walk
    val overflowBmp = "BM".getBytes ++ le32(70) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(1L << 30) ++ le32(1) ++ le16(1) ++ le16(24) ++
      le32(0) ++ le32(16) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
      new Array[Byte](64)
    val mutGen = for {
      base <- Gen.oneOf(Seq(validWav, validBmp))
      nFlips <- Gen.choose(1, 6)
      flips <- Gen.listOfN(nFlips,
        Gen.zip(Gen.choose(0, base.length - 1), Gen.choose(0, 255)))
    } yield {
      val b = base.clone()
      flips.foreach { case (i, v) => b(i) = v.toByte }
      b
    }
    val randGen = for {
      n <- Gen.choose(0, 200)
      bs <- Gen.listOfN(n, Gen.choose(0, 255))
    } yield bs.map(_.toByte).toArray
    val inputs = Seq(overflowBmp, Array.empty[Byte]) ++
      (0 until 150).flatMap(k =>
        mutGen.apply(Gen.Parameters.default, Seed(4000L + k))) ++
      (0 until 100).flatMap(k =>
        randGen.apply(Gen.Parameters.default, Seed(5000L + k)))
    inputs.foreach { bytes =>
      // must never throw — undecodable payloads route to empty/None,
      // which is what the PERMISSIVE audit depends on
      Multimodal.decodeWavPcm16(bytes)
      Multimodal.decodeWavPcm8(bytes)
      Multimodal.decodeWavPcm16Windows(bytes, 25)
      Multimodal.decodeBmp24(bytes)
      Multimodal.decodeBmp24Patches(bytes, 2)
      Multimodal.auditPayload(bytes)
    }
    assert(Multimodal.decodeBmp24(overflowBmp).isEmpty,
      "overflow-width BMP must reject, not crash")
  }

  test("property: substringPairs == brute-force reference (shared-window " +
      "counts, longest runs, df-guard) on random tiny-vocab corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val s = spark
    import s.implicits._
    val k = 3
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val docGen = for {
      n <- Gen.choose(1, 18)
      toks <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield toks.mkString(" ")
    def brute(docs: Seq[(Long, String)], maxDf: Int)
        : Map[(Long, Long), (Long, Long)] = {
      val wins = docs.map { case (id, t) =>
        id -> t.split(" ").toSeq.sliding(k).filter(_.length == k)
          .map(_.mkString(" ")).toVector
      }.toMap
      val df = wins.toSeq.flatMap { case (id, ws) => ws.distinct.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      val ok = (w: String) => df(w) >= 2 && df(w) <= maxDf
      val out = for {
        Seq(a, b) <- docs.map(_._1).sorted.combinations(2).toSeq
        hits = for {
          (wa, pa) <- wins(a).zipWithIndex if ok(wa)
          (wb, pb) <- wins(b).zipWithIndex if wa == wb
        } yield (pa, pb)
        if hits.nonEmpty
      } yield {
        val nShared = hits.map { case (pa, _) => wins(a)(pa) }.distinct.size
        val maxRun = hits.groupBy { case (pa, pb) => pa - pb }.values.map {
          g =>
            val ps = g.map(_._1).distinct.sorted
            ps.foldLeft((0, 0, Int.MinValue)) { case ((best, cur, prev), p) =>
              val c = if (p == prev + 1) cur + 1 else 1
              (math.max(best, c), c, p)
            }._1
        }.max
        (a, b) -> (nShared.toLong, (maxRun + k - 1).toLong)
      }
      out.toMap
    }
    var nonEmpty = 0
    (0 until 12).foreach { trial =>
      val nDocs = 3 + trial % 4
      val docs = (0 until nDocs).map { i =>
        val t = docGen.apply(Gen.Parameters.default,
          Seed(trial * 100L + i)).get
        (i.toLong, t)
      }
      val maxDf = if (trial % 2 == 0) nDocs else 2
      val got = Dedup.substringPairs(docs.toDF("doc_id", "text"),
          "text", "doc_id", k = k, maxDf = maxDf)
        .collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
          (r.getAs[Long]("n_shared"), r.getAs[Long]("longest_run_toks")))
        .toMap
      assert(got == brute(docs, maxDf),
        s"trial $trial maxDf=$maxDf docs=$docs")
      if (got.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 3, s"differential test vacuous: only $nonEmpty " +
      "trials produced pairs — widen the generator")
  }

  test("property: redactPii leaves PII-free ASCII text unchanged and is " +
      "idempotent on redacted output") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val s = spark
    import s.implicits._
    // alphanumeric + space text can contain digit runs but no '@'/'.'
    // separators, so no pattern can match
    val word = Gen.alphaNumStr
    val gen = Gen.listOfN(6, word).map(_.mkString(" "))
    val inputs = (0 until 100).flatMap(k =>
      gen.apply(Gen.Parameters.default, Seed(7L + k)))
    val out = inputs.toDF("t")
      .select(col("t"), TF.redactPii(col("t")).as("r"),
        TF.redactPii(TF.redactPii(col("t"))).as("rr"))
      .collect()
    out.foreach { r =>
      assert(r.getString(1) == r.getString(0))
      assert(r.getString(2) == r.getString(1))
    }
    // idempotence on text that DID contain PII: placeholders don't match
    val pii = Seq("a bob@x.co b 555-123-4567 c 10.1.2.3 d").toDF("t")
      .select(TF.redactPii(col("t")).as("r"),
        TF.redactPii(TF.redactPii(col("t"))).as("rr"))
      .head()
    assert(pii.getString(0) == pii.getString(1))
  }
}

class TextSignalsParitySpec extends SparkFunSuite {

  test("property: TextSignals kernel == HOF formulation, field by field") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val s = spark
    import s.implicits._
    val gen = Gen.asciiPrintableStr
    val fixtures = Seq(
      "", "   ", "the quick brown fox", "el perro y la casa de los gatos",
      "我有一个想法，这是真的", "abc123def 45x", "a.b,c!d?e;f:g",
      "the the le chien", "The AND of TO in IS that FOR with A",
      "mixed 中文 and english the of and", "x" * 300,
      "word " * 50)
    val inputs = fixtures ++ (0 until 150).flatMap(k =>
      gen.apply(Gen.Parameters.default, Seed(99L + k)))
    val df = inputs.toDF("text")
      .select(col("text"), TF.textSignals(col("text")).as("sig"),
        TF.normTokens(col("text")).as("toks"))
    val rows = df.select(
        // kernel fields
        col("sig.n_chars"), col("sig.n_raw_toks"), col("sig.n_punct"),
        col("sig.n_digits"), col("sig.n_norm_toks"),
        col("sig.n_distinct_toks"), col("sig.n_stop_hits"),
        col("sig.n_subwords"),
        TF.langOrUnd(col("sig.lang_id"), col("sig.lang_id_score"))
          .as("k_lang"),
        col("sig.lang_ev"), col("sig.lang_ev_score"),
        // HOF references
        length(col("text")).as("r_chars"),
        TF.tokenCount(col("text")).as("r_raw_toks"),
        TF.punctCount(col("text")).as("r_punct"),
        TF.digitCount(col("text")).as("r_digits"),
        size(col("toks")).as("r_norm_toks"),
        size(array_distinct(col("toks"))).as("r_distinct"),
        size(filter(col("toks"),
          t => t.isin(TF.LangMarkers("en"): _*))).as("r_stop"),
        TF.subwordCount(col("text")).as("r_subwords"),
        TF.langIdFromTokens(col("text"), col("toks")).as("r_lang"),
        TF.langEvidenceFromTokens(col("text"), col("toks")).as("r_ev"))
      .collect()
    rows.zip(inputs).foreach { case (r, in) =>
      def g(n: String) = r.get(r.fieldIndex(n))
      assert(g("n_chars") == g("r_chars"), s"n_chars: '$in'")
      assert(g("n_raw_toks") == g("r_raw_toks"), s"raw_toks: '$in'")
      assert(g("n_punct") == g("r_punct"), s"punct: '$in'")
      assert(g("n_digits") == g("r_digits"), s"digits: '$in'")
      assert(g("n_norm_toks") == g("r_norm_toks"), s"norm_toks: '$in'")
      assert(g("n_distinct_toks") == g("r_distinct"), s"distinct: '$in'")
      assert(g("n_stop_hits") == g("r_stop"), s"stop: '$in'")
      assert(g("n_subwords") == g("r_subwords"), s"subwords: '$in'")
      assert(g("k_lang") == g("r_lang"), s"lang_id: '$in'")
      val ev = r.getAs[org.apache.spark.sql.Row]("r_ev")
      assert(g("lang_ev_score") == ev.get(0), s"ev_score: '$in'")
      // ev lang only comparable when some marker hit (HOF keeps its own
      // argmax lang on zero scores; both pick the same by construction)
      assert(g("lang_ev") == ev.get(1), s"ev_lang: '$in'")
    }
  }
}

class BigramStatsParitySpec extends SparkFunSuite {

  test("property: BigramStats kernel == explode+groupBy formulation") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val s = spark
    import s.implicits._
    val fixtures = Seq("", "one", "a b", "a b a b a b", "x y z x y",
      "the the the the", "w1 w2, w3! w1 w2")
    val gen = Gen.listOfN(12,
      Gen.oneOf("a", "b", "c", "ab", "b1", "xy")).map(_.mkString(" "))
    val inputs = fixtures ++ (0 until 80).flatMap(k =>
      gen.apply(Gen.Parameters.default, Seed(5L + k)))
    val df = inputs.toDF("text")
      .select(col("text"), TF.bigramStats(col("text")).as("k"),
        TF.normTokens(col("text")).as("toks"))
    // HOF reference: bigram list per row, aggregated in local Scala
    val rows = df.select(col("k.n_bigrams"), col("k.top_n"),
        col("k.n_distinct_bg"),
        when(size(col("toks")) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat_ws(" ", slice(col("toks"), i, lit(2))))).as("bgs"))
      .collect()
    rows.zip(inputs).foreach { case (r, in) =>
      val bgs = r.getSeq[String](3)
      val counts = bgs.groupBy(identity).view.mapValues(_.size)
      assert(r.getInt(0) == bgs.size, s"n_bigrams: '$in'")
      assert(r.getInt(1) == (if (bgs.isEmpty) 0 else counts.values.max),
        s"top_n: '$in'")
      assert(r.getInt(2) == counts.size, s"n_distinct_bg: '$in'")
    }
  }
}

class DupNgramCoverageParitySpec extends SparkFunSuite {

  /** Scala reference of the union-coverage law over a token list. */
  private def ref(toks: Seq[String], n: Int): (Int, Int) = {
    if (toks.size < n) return (toks.size, 0)
    val grams = toks.sliding(n).map(_.mkString(" ")).toIndexedSeq
    val counts = grams.groupBy(identity).view.mapValues(_.size)
    val covered = Array.fill(toks.size)(false)
    grams.zipWithIndex.foreach { case (g, i) =>
      if (counts(g) >= 2) (i until i + n).foreach(covered(_) = true)
    }
    (toks.size, covered.count(identity))
  }

  test("property: DupNgramCoverage kernel == sliding-window reference, " +
      "overlapping duplicate spans count once") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val s = spark
    import s.implicits._
    val fixtures = Seq("", "a b c d e", "a a a a a a a a",
      "a b c a b c a b c", "x y z w v x y z w v",
      "one two three four five one two three four five six",
      "w1, w2! w3 w1 w2 w3 w1 w2 w3 w1 w2 w3")
    val gen = Gen.listOfN(16, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))
    val inputs = fixtures ++ (0 until 60).flatMap(k =>
      gen.apply(Gen.Parameters.default, Seed(11L + k)))
    Seq(2, 3, 5).foreach { n =>
      val rows = inputs.toDF("text")
        .select(TF.dupNgramCoverage(col("text"), n).as("k"),
          TF.normTokens(col("text")).as("toks"))
        .select(col("k.n_tokens"), col("k.covered"), col("toks"))
        .collect()
      rows.zip(inputs).foreach { case (r, in) =>
        val (nt, cov) = ref(r.getSeq[String](2), n)
        assert(r.getInt(0) == nt, s"n_tokens n=$n: '$in'")
        assert(r.getInt(1) == cov, s"covered n=$n: '$in'")
      }
    }
    // the all-repeat doc is fully covered; the echo-free doc not at all
    val full = TextDf(s, "a a a a a a a a")
      .select(TF.dupNgramCoverage(col("text"), 5).as("k")).head()
    assert(full.getAs[org.apache.spark.sql.Row]("k").getInt(1) == 8)
  }

  private def TextDf(s: org.apache.spark.sql.SparkSession, t: String) = {
    import s.implicits._
    Seq(t).toDF("text")
  }
}

class SourceRoundTripSpec extends SparkFunSuite {

  test("Avro container files: the full primitive surface round-trips " +
      "losslessly (nulls, binary, unicode), the writer emits one file " +
      "per partition, and rich types fail loud") {
    val s = spark
    import s.implicits._
    val path = s"${graft.TestPaths.root}/graft_avrospec_" +
      ProcessHandle.current().pid()
    val df = Seq(
      (1L, Some("plain"), Some(1.5), Some(42), Some(true),
        Some(Array[Byte](1, 2, 0xff.toByte))),
      (2L, Some("中文 😀 ünïcode"), Some(-0.25), Some(-7), Some(false),
        Some(Array.emptyByteArray)),
      (3L, None: Option[String], None: Option[Double], None: Option[Int],
        None: Option[Boolean], None: Option[Array[Byte]]))
      .toDF("id", "s", "d", "i", "b", "bin")
      .repartition(3)
    graft.sources.AvroContainerFiles.write(df, path)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(files.length == 3, "one container file per non-empty partition")
    val back = graft.sources.AvroContainerFiles.read(s, path)
    assert(back.schema.fieldNames.toSeq ==
      Seq("id", "s", "d", "i", "b", "bin"))
    val got = back.orderBy("id").collect().map { r =>
      (r.getLong(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
        Option(r.get(4)),
        Option(r.get(5)).map(_.asInstanceOf[Array[Byte]].toSeq))
    }.toSeq
    assert(got == Seq(
      (1L, Some("plain"), Some(1.5), Some(42), Some(true),
        Some(Seq[Byte](1, 2, 0xff.toByte))),
      (2L, Some("中文 😀 ünïcode"), Some(-0.25), Some(-7), Some(false),
        Some(Seq.empty[Byte])),
      (3L, None, None, None, None, None)), s"$got")
    // the header really is the Avro container magic
    val head = java.nio.file.Files.readAllBytes(
      files.head.toPath).take(4)
    assert(head.sameElements(Array[Byte]('O', 'b', 'j', 1)))
    // nested structs + string-keyed maps round-trip since round 14
    // (source_avro_nested oracle); the remaining fail-loud boundary
    // is Avro's own rule — map keys must be STRINGS
    val nested = Seq((1L, (1, 2))).toDF("id", "st")
    graft.sources.AvroContainerFiles.write(nested, path + "_nested")
    val backNested = graft.sources.AvroContainerFiles
      .read(s, path + "_nested").orderBy("id").collect()
    assert(backNested.length == 1 &&
      backNested.head.getStruct(1).getInt(0) == 1 &&
      backNested.head.getStruct(1).getInt(1) == 2)
    val intKeyed = Seq((1L, Map(1 -> "a"))).toDF("id", "m")
    intercept[IllegalArgumentException] {
      graft.sources.AvroContainerFiles.write(intKeyed, path + "_badmap")
    }
    ()
  }

  test("Avro container files: logical types (decimal/timestamp/ntz/" +
      "date) and arrays round-trip losslessly") {
    val s = spark
    import s.implicits._
    val path = s"${graft.TestPaths.root}/graft_avrolt_" +
      ProcessHandle.current().pid()
    val df = s.sql(
      """SELECT id,
        |  cast(cast(id * 137 as decimal(18,0)) / 100 as decimal(18,2))
        |    AS dec,
        |  timestamp_micros(id * 1000003) AS ts,
        |  cast(timestamp_micros(id * 999983) as timestamp_ntz) AS tsn,
        |  CASE WHEN id = 9 THEN date'1400-03-01'
        |       ELSE date_add(date'1970-01-01', cast(id % 1000 as int))
        |  END AS d,
        |  CASE WHEN id = 3 THEN NULL
        |       ELSE array(id, id * 2, NULL) END AS arr
        |FROM range(0, 10) t(id)""".stripMargin)
    graft.sources.AvroContainerFiles.write(df, path)
    val back = graft.sources.AvroContainerFiles.read(s, path)
    assert(back.schema == df.schema ||
      back.schema.map(f => (f.name, f.dataType)) ==
        df.schema.map(f => (f.name, f.dataType)),
      s"schema mismatch: ${back.schema} vs ${df.schema}")
    val a = df.orderBy("id").collect().map(_.toSeq).toSeq
    val b = back.orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b, s"$b")
  }

  test("Avro container files: ONE multi-block file is read as many " +
      "sync-marker splits (>1 task) with no row lost or duplicated at " +
      "split boundaries") {
    val s = spark
    import s.implicits._
    val path = s"${graft.TestPaths.root}/graft_avrosp_" +
      ProcessHandle.current().pid()
    val n = 5000
    val df = s.range(0, n)
      .selectExpr("id", "repeat('x', 64) AS pad")
      .repartition(1)
    // tiny blocks → many sync markers inside the single file
    graft.sources.AvroContainerFiles.write(df, path, syncInterval = 2048)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(files.length == 1, "single container file")
    val back = graft.sources.AvroContainerFiles.read(s, path,
      maxSplitBytes = 16 * 1024)
    assert(back.rdd.getNumPartitions > 1,
      s"expected >1 split, got ${back.rdd.getNumPartitions}")
    val ids = back.select("id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until n.toLong), "every row exactly once")
  }

  test("Avro container files: a split-size read leaves the session's " +
      "maxPartitionBytes as it was and keeps its runtime settings") {
    val s = spark
    val path = s"${graft.TestPaths.root}/graft_avroconf_" +
      ProcessHandle.current().pid()
    graft.sources.AvroContainerFiles.write(
      s.range(0, 2000).selectExpr("id", "repeat('y', 64) AS pad")
        .repartition(1), path, syncInterval = 2048)
    val key = "spark.sql.files.maxPartitionBytes"
    val before = s.conf.get(key)
    val runtime = "spark.sql.files.ignoreCorruptFiles"
    s.conf.set(runtime, "true")
    val back = try graft.sources.AvroContainerFiles.read(s, path,
      maxSplitBytes = 8 * 1024) finally s.conf.unset(runtime)
    assert(back.sparkSession.conf.get(runtime) == "true")
    assert(back.rdd.getNumPartitions > 1)
    assert(back.count() == 2000L)
    assert(s.conf.get(key) == before)
    assert(graft.sources.AvroContainerFiles.read(s, path)
      .rdd.getNumPartitions == 1, "the default read sees the default size")
  }

  test("Avro container files: deflate and snappy block codecs " +
      "round-trip losslessly AND still split on sync markers") {
    val s = spark
    import s.implicits._
    for (codec <- Seq("deflate", "snappy")) {
      val path = s"${graft.TestPaths.root}/graft_avrocc_" +
        codec + "_" + ProcessHandle.current().pid()
      val n = 3000
      val df = s.range(0, n)
        .selectExpr("id", "repeat('compressme', 12) AS pad")
        .repartition(1)
      graft.sources.AvroContainerFiles.write(df, path,
        syncInterval = 2048, codec = codec)
      val back = graft.sources.AvroContainerFiles.read(s, path,
        maxSplitBytes = 4 * 1024)
      assert(back.rdd.getNumPartitions > 1,
        s"$codec: compressed blocks must still split")
      val ids = back.select("id").as[Long].collect().sorted.toSeq
      assert(ids == (0L until n.toLong), s"$codec round-trip")
    }
  }

  test("Avro container files: a file with the SAME columns in a " +
      "different order resolves BY NAME against the first file's " +
      "schema (no positional column swap)") {
    val s = spark
    import s.implicits._
    val path = s"${graft.TestPaths.root}/graft_avrore_" +
      ProcessHandle.current().pid()
    // two writes into the same dir with reordered columns; file naming
    // sorts part-00000 of the first write ahead, but which file wins
    // header duty must not matter for correctness by name
    val d1 = Seq((1L, "a"), (2L, "b")).toDF("id", "s").repartition(1)
    val d2 = Seq(("c", 3L), ("d", 4L)).toDF("s", "id").repartition(1)
    graft.sources.AvroContainerFiles.write(d1, path)
    graft.sources.AvroContainerFiles.write(d2, path)
    val back = graft.sources.AvroContainerFiles.read(s, path)
      .select("id", "s").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
      s"$back")
  }

  test("JSONL and CSV hops are lossless on adversarial content") {
    val s = spark
    import s.implicits._
    val nasty = Seq(
      (1L, Some("plain text")),
      (2L, Some("comma, separated, values")),
      (3L, Some("\"double quotes\" and 'single'")),
      (4L, Some("line\nbreak and\ttab")),
      (5L, Some("中文字符 mixed with ascii")),
      (6L, Some("emoji 😀🎉 surrogates")),
      (7L, Some("trailing spaces   ")),
      (8L, Some("back\\slash and {json: \"like\"}")),
      (9L, None: Option[String]), // NULL vs "" must stay distinct
      (10L, Some("")))
      .toDF("doc_id", "text")
    def roundTrip(fmt: String): Seq[(Long, String)] = {
      val dir = graft.TestPaths.dir(s"graft_rt_$fmt").toString
      val w = nasty.write.mode("overwrite")
      val r = s.read.schema("doc_id LONG, text STRING")
      val back = fmt match {
        case "json" => w.json(dir); r.json(dir)
        case "csv" =>
          // multiLine: embedded newlines survive only when quoted AND the
          // reader is told records can span lines; the WRITER trims
          // leading/trailing whitespace by default (ignore*WhiteSpace
          // default TRUE on write, false on read); NULL and '' collapse
          // to the same field without an explicit nullValue sentinel
          w.option("header", "true").option("quoteAll", "true")
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
            .option("nullValue", "\\N").csv(dir)
          r.option("header", "true").option("multiLine", "true")
            .option("nullValue", "\\N").csv(dir)
      }
      back.orderBy("doc_id").collect()
        .map(rr => (rr.getLong(0), rr.getString(1))).toSeq
    }
    val expected = nasty.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(roundTrip("json") == expected, "json hop lost content")
    assert(roundTrip("csv") == expected, "csv hop lost content")
  }


}
