package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Product-quantized retrieval (pqCodebooks / pqTopK). */
class PqSimSpec extends SparkFunSuite {

  // two tight clusters + two loners; dim 4 splits into 2×2 subspaces
  private def vecs = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, Array(0.0f, 10.0f, 5.0f, 1.0f)),
      (1L, Array(0.1f, 9.9f, 5.1f, 1.1f)),   // near-twin of 0
      (2L, Array(10.0f, 0.0f, 0.0f, 8.0f)),
      (3L, Array(9.8f, 0.3f, 0.2f, 8.1f)),   // near-twin of 2
      (4L, Array(-5.0f, -5.0f, 3.0f, -2.0f)),
      (5L, Array(2.0f, 2.0f, -7.0f, 0.5f)))
      .toDF("vec_id", "embedding")
  }

  test("pqCodebooks slices the ksub smallest-id vectors per subspace") {
    val books = Similarity.pqCodebooks(vecs, m = 2, ksub = 3)
    assert(books.length == 2)
    assert(books.forall(_.length == 3))
    assert(books.forall(_.forall(_.length == 2)))
    // subspace 0 of vec 1 = (0.1, 9.9); subspace 1 of vec 2 = (0.0, 8.0)
    assert(books(0)(1).map(x => math.round(x * 10) / 10.0).toSeq ==
      Seq(0.1, 9.9))
    assert(books(1)(2).toSeq == Seq(0.0, 8.0))
  }

  test("pqCodebooks rejects a dim not divisible by m") {
    intercept[IllegalArgumentException] {
      Similarity.pqCodebooks(vecs, m = 3, ksub = 2)
    }
  }

  test("pqTopK ranks the near-twin first on clustered data") {
    // ksub = corpus size → every cluster rep is a codeword
    val hits = Similarity.pqTopK(vecs, vecs.filter(col("vec_id") === 0),
        k = 2, m = 2, ksub = 6, overfetch = 2)
      .collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(hits.head == (1, 1L))
  }

  test("pqTopK with full codebook + full overfetch equals brute force") {
    // ksub = N makes every vector its own codeword (self-distance 0), so
    // the ADC ranking is the 1e-5-quantized exact dot; overfetch wide
    // enough to pass all candidates → the rerank IS the brute ranking
    val q = vecs.filter(col("vec_id") < 2)
    val pq = Similarity.pqTopK(vecs, q, k = 3, m = 2, ksub = 6,
        overfetch = 5)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    val brute = Similarity.bruteForceTopK(vecs, q, k = 3)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    assert(pq == brute)
  }

  test("pqCodebooksTrained: one Lloyd pass moves codewords to member " +
      "means; zero iterations returns the init codebooks") {
    val init = Similarity.pqCodebooks(vecs, m = 2, ksub = 2)
    val zero = Similarity.pqCodebooksTrained(vecs, m = 2, ksub = 2,
      iters = 0)
    assert(zero.map(_.map(_.toSeq).toSeq).toSeq ==
      init.map(_.map(_.toSeq).toSeq).toSeq)
    val trained = Similarity.pqCodebooksTrained(vecs, m = 2, ksub = 2,
      iters = 1)
    assert(trained.length == 2 && trained.forall(_.length == 2))
    // codeword 0 of subspace 0 absorbs the cluster around (0,10): its
    // refined first component is the mean of its members, not the init
    assert(trained.map(_.map(_.toSeq).toSeq).toSeq !=
      init.map(_.map(_.toSeq).toSeq).toSeq,
      "training must move at least one codeword")
  }

  test("pqTopKWithCodebooks with trained books still ranks the twin first") {
    val books = Similarity.pqCodebooksTrained(vecs, m = 2, ksub = 4,
      iters = 1)
    val hits = Similarity.pqTopKWithCodebooks(vecs,
        vecs.filter(col("vec_id") === 0), k = 2, books, overfetch = 3)
      .collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(hits.head == (1, 1L))
  }

  test("pqTopK is invariant under corpus repartitioning") {
    val q = vecs.filter(col("vec_id") === 0)
    val a = Similarity.pqTopK(vecs, q, k = 3, m = 2, ksub = 4)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    val b = Similarity.pqTopK(vecs.repartition(7), q, k = 3, m = 2,
        ksub = 4)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    assert(a == b)
  }

  test("ivfPqTopK ranks the near-twin first on clustered data") {
    // nprobe = nlist probes every cell, so IVF pruning drops nothing on
    // this tiny corpus; the twin must survive the residual-ADC cut
    val hits = Similarity.ivfPqTopK(vecs,
        vecs.filter(col("vec_id") === 0), k = 2, nlist = 4, nprobe = 4,
        m = 2, ksub = 6, overfetch = 2, iters = 1)
      .collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(hits.head == (1, 1L))
  }

  test("ivfPqTopK with all cells probed + full codebook + full " +
      "overfetch equals brute force") {
    // every vector its own residual codeword (self-distance 0), all
    // cells probed, overfetch past the corpus → the rerank IS brute
    val q = vecs.filter(col("vec_id") < 2)
    val ivfpq = Similarity.ivfPqTopK(vecs, q, k = 3, nlist = 4,
        nprobe = 4, m = 2, ksub = 6, overfetch = 5, iters = 0)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    val brute = Similarity.bruteForceTopK(vecs, q, k = 3)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    assert(ivfpq == brute)
  }

  test("written IVF-PQ index probe equals the inline composition " +
      "(same parameters, same arithmetic over stored codes)") {
    val tmp = graft.TestPaths.dir("graft_ivfpq_spec").toString
    val q = vecs.filter(col("vec_id") < 2)
    val index = Similarity.buildIvfPqIndex(vecs, s"$tmp/idx",
      nlist = 4, m = 2, ksub = 4, iters = 1)
    val indexedDf = Similarity.ivfPqTopKIndexed(index, q, k = 3,
        nprobe = 2, overfetch = 2)
    val indexed = indexedDf
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    val inline = Similarity.ivfPqTopK(vecs, q, k = 3, nlist = 4,
        nprobe = 2, m = 2, ksub = 4, overfetch = 2, iters = 1)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    assert(indexed == inline)
    // the probe scan is genuinely partition-pruned to the probed cells
    val probes = q.select(explode(graft.functions.VectorFunctions
      .nearestCentroids(col("embedding"), index.centIds, index.centVecs,
        2))).distinct().count()
    assert(probes <= 4, "sanity: probe cells bounded by nlist")
    // plan proof: BOTH index scans — the codes-only ADC coarse pass AND
    // the full-vector rerank — carry a NON-EMPTY partition filter on
    // `cell` (an unpruned scan still prints `PartitionFilters: []`, so
    // require every printed filter to be non-empty and on `cell`)
    val plan = indexedDf.queryExecution.executedPlan.toString
    val filters =
      """PartitionFilters: \[[^\]]*\]""".r.findAllIn(plan).toList
    assert(filters.size >= 2,
      s"expected >= 2 partitioned index scans in the probe plan:\n$plan")
    assert(filters.forall(f => f.contains("cell") && !f.contains("[]")),
      s"every index scan must be pruned on cell, got $filters\n$plan")
  }

  test("compactIvfPqIndex: a many-append index collapses to one file " +
      "per cell at a fresh path with bit-identical probe results") {
    val s = spark
    import s.implicits._
    val tmp = graft.TestPaths.dir("graft_ivfpq_compact").toString
    val index = Similarity.buildIvfPqIndex(vecs, s"$tmp/idx",
      nlist = 4, m = 2, ksub = 4, iters = 1)
    // simulate the streaming ingest: several small appends
    (0 until 5).foreach { i =>
      Similarity.appendToIvfPqIndex(index, Seq(
        (200L + i, Array(0.05f + i * 0.01f, 10.05f, 5.05f, 1.05f)))
        .toDF("vec_id", "embedding"))
    }
    def cellFiles(root: String): Seq[Int] =
      new java.io.File(root).listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(cellFiles(index.path).exists(_ > 1),
      "the append loop must have fragmented at least one cell")
    val compacted = Similarity.compactIvfPqIndex(s, index,
      s"$tmp/compacted")
    assert(cellFiles(compacted.path).forall(_ == 1),
      "compaction must leave exactly one file per cell")
    val q = vecs.filter(col("vec_id") < 2)
    def probe(i: Similarity.IvfPqIndex) =
      Similarity.ivfPqTopKIndexed(i, q, k = 3, nprobe = 4, overfetch = 4)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .collect().map(_.toString).toSeq
    assert(probe(compacted) == probe(index),
      "compaction must be invisible to probe results")
  }

  test("appendToIvfPqIndex: probes over the appended index equal the " +
      "inline composition over the union with BASE-trained books") {
    val s = spark
    import s.implicits._
    val tmp = graft.TestPaths.dir("graft_ivfpq_append").toString
    val index = Similarity.buildIvfPqIndex(vecs, s"$tmp/idx",
      nlist = 4, m = 2, ksub = 4, iters = 1)
    // delta: shifted-id near-twins of vectors 0 and 2
    val delta = Seq(
      (100L, Array(0.05f, 10.05f, 5.05f, 1.05f)),
      (102L, Array(9.9f, 0.1f, 0.1f, 8.05f)))
      .toDF("vec_id", "embedding")
    Similarity.appendToIvfPqIndex(index, delta)
    val q = vecs.filter(col("vec_id") === 0)
    val got = Similarity.ivfPqTopKIndexed(index, q, k = 3, nprobe = 4,
        overfetch = 4)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    // reference: inline chain over the union, with the centroid AND
    // codebook rules pinned to the BASE corpus (append never retrains)
    val union = vecs.unionByName(delta)
    val resid = union.select(col("vec_id").as("id"),
        col("embedding").as("vec"))
    val want = {
      // rebuild an index over the union REUSING base books via a fresh
      // path — equivalent to assigning the union with base rules
      val idx2 = Similarity.IvfPqIndex(s"$tmp/idx2", index.centIds,
        index.centVecs, index.books)
      Similarity.appendToIvfPqIndex(idx2, union)
      Similarity.ivfPqTopKIndexed(idx2, q, k = 3, nprobe = 4,
          overfetch = 4)
        .select("query_id", "rank", "neighbor_id").collect().toSeq
    }
    assert(got == want)
    assert(resid.count() == union.count()) // sanity on the fixtures
    // the appended twin of vector 0 must now rank first for query 0
    assert(got.head.getLong(2) == 100L, s"got $got")
  }

  test("ivfPqTopK is invariant under corpus repartitioning " +
      "(trained residual codebooks included)") {
    val q = vecs.filter(col("vec_id") === 0)
    val a = Similarity.ivfPqTopK(vecs, q, k = 3, nlist = 4, nprobe = 2,
        m = 2, ksub = 4, iters = 1)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    val b = Similarity.ivfPqTopK(vecs.repartition(7), q, k = 3,
        nlist = 4, nprobe = 2, m = 2, ksub = 4, iters = 1)
      .select("query_id", "rank", "neighbor_id").collect().toSeq
    assert(a == b)
  }
}
