package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{VectorFunctions => VF}
import graft.plans.TopKByScore

/** Approximate/exact nearest-neighbor search over an embedding column
  * (builder mandate — similarity search is a first-class operator family).
  *
  * Scale design: queries are broadcast (a query set is small by
  * definition); the corpus is NEVER shuffled in full. Top-k uses the native
  * [[TopKByScore]] partial aggregate — each map task reduces its corpus
  * partition to k candidates per query before the (tiny) final shuffle, so
  * cost is one corpus scan + `k × partitions × queries` shuffled rows. The
  * IVF variant prunes the scan itself to `nprobe / nlist` of the corpus.
  */
object Similarity {

  /** Sentinel `nlist` value: size the cell count from the corpus at
    * build time. See [[resolveNlist]]. */
  val AutoNlist: Int = -1

  /** Resolve an `nlist` argument: explicit values pass through;
    * [[AutoNlist]] becomes round(√N), clamped to [4, 65536], from a
    * metadata-cheap `count()` (for a parquet corpus that's row-group
    * stats, not a data scan; callers with a known row count can just
    * pass √N themselves). √N is the classical IVF operating point —
    * per-query probe work is O(nlist + nprobe·N/nlist), minimized at
    * nlist ≈ √N — and it bounds SemDeDup's O(cell²) within-cell compare.
    * The round-6 x20 probe measured the cost of NOT tracking N: fixed
    * nlist=16 at 100k docs ran 5.67 s vs 2.30 s at the √N-sized point. */
  def resolveNlist(corpus: DataFrame, nlist: Int): Int =
    if (nlist != AutoNlist) nlist
    else math.max(4L, math.min(65536L,
      math.round(math.sqrt(corpus.count().toDouble)))).toInt

  /** Native bounded-heap top-k aggregate (score desc, id asc). */
  def topK(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(TopKByScore(
      ColumnBridge.expression(score),
      ColumnBridge.expression(id), k).toAggregateExpression())

  /** Exact brute-force cosine top-k: one corpus scan per query batch.
    * Output: (query_id, rank, neighbor_id, cosine) with rank 1..k. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec")))
    val scored = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("c_vec"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", VF.cosine(col("q_vec"), col("c_vec")))
    finishTopK(scored, k)
  }

  /** IVF (inverted-file) ANN: corpus is partitioned into `nlist` cells by
    * nearest centroid; a query scans only its `nprobe` closest cells.
    *
    * Centroids are the `nlist` smallest-id vectors — deterministic with no
    * RNG, no `count()` action, and no full sort (`orderBy.limit` is a
    * map-side partial top-k, `TakeOrderedAndProject`). The tiny centroid
    * table is collected ONCE at index-build time and embedded in a
    * [[graft.plans.NearestCentroids]] expression, so cell assignment is a
    * pure row-local projection over a single corpus scan: no centroid join,
    * no window, and — the 100 TB contract — the corpus is never shuffled.
    * On a real deployment the centroids would come from a periodic k-means
    * job and the assigned corpus would be WRITTEN partitioned by cell id,
    * making every query a partition-pruned scan (the test
    * `graft.plans.PlanContractSpec` pins the plan shapes). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = AutoNlist, nprobe: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    // index build: nlist rows cross the driver — an IVF index's centroid
    // set is small by construction, like a broadcast dimension
    val centRows = corpus
      .select(col(idCol).cast("long").as("cid"), VF.asDouble(col(vecCol)).as("cv"))
      .orderBy(col("cid")).limit(resolveNlist(corpus, nlist)).collect()
    val centIds = centRows.map(_.getLong(0))
    val centVecs = centRows.map(_.getSeq[Double](1).toArray)
    ivfTopKWithCentroids(corpus, queries, k, centIds, centVecs, nprobe,
      vecCol, idCol)
  }

  /** IVF top-k with an EXPLICIT centroid table (e.g. one trained by
    * [[kmeansCentroids]]); [[ivfTopK]] delegates here after picking its
    * deterministic default centroids. */
  def ivfTopKWithCentroids(corpus: DataFrame, queries: DataFrame, k: Int,
      centIds: Array[Long], centVecs: Array[Array[Double]], nprobe: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val assigned = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"),
      element_at(VF.nearestCentroids(col(vecCol), centIds, centVecs, 1), 1)
        .as("cell"))
    val probes = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"),
      explode(VF.nearestCentroids(col(vecCol), centIds, centVecs, nprobe))
        .as("cell"))
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", VF.cosine(col("q_vec"), col("c_vec")))
    finishTopK(scored, k)
  }

  /** One Lloyd's-iteration centroid refinement: assign every corpus row to
    * its nearest centroid (row-local [[graft.plans.NearestCentroids]]
    * projection — no shuffle), then per-cell per-dimension means.
    *
    * Scale shape: the only shuffle is the `(cell, pos)` partial aggregate —
    * map-side combine reduces every partition to ≤ nlist×dim rows before
    * the exchange, so a 100 TB corpus shuffles kilobytes per iteration.
    * Components are quantized to exact integers (`round(x·1e10)` — half
    * away from zero on the identical IEEE double product in any engine),
    * so the per-cell sums are exact integer arithmetic: the trained
    * centroids are bit-identical across partitionings, cluster sizes AND
    * engines (DuckDB-oracle-checkable; a float→DECIMAL cast is NOT
    * portable — Spark casts via the shortest string representation, DuckDB
    * via the binary expansion). Cells keep their original centroid id as a
    * stable label; an emptied cell keeps its old vector. */
  def refineCentroids(corpus: DataFrame, centIds: Array[Long],
      centVecs: Array[Array[Double]], vecCol: String = "embedding")
      : Array[Array[Double]] = {
    val dim = centVecs.head.length
    // Per-cell element-wise sums via the native exact aggregate (round
    // 17): the posexplode form shipped cell×dim rows through a two-key
    // hash aggregate; this folds each vector in place and ships one
    // buffer per (task, cell). The mean is replayed on the driver with
    // the IDENTICAL IEEE operations the old plan used —
    // `(long sum → double) / (count → double) / 1e10` on the same
    // exact integer sums — so trained centroids are bit-identical
    // (oracle-pinned via every IVF/PQ query); `longValueExact` keeps
    // the old ANSI long-SUM overflow a loud failure.
    val means = corpus.select(
        element_at(VF.nearestCentroids(col(vecCol), centIds, centVecs, 1), 1)
          .as("cell"),
        transform(col(vecCol),
          x => round(x.cast("double") * 1e10).cast("long")).as("qv"))
      .groupBy(col("cell"))
      .agg(VF.vecSumExact(col("qv"), lit(1L)).as("vs"))
      .select(col("cell"), col("vs.sums").as("s"), col("vs.counts").as("n"))
      .collect()
    val byCell = means.map(r => r.getLong(0) ->
      (r.getSeq[java.math.BigDecimal](1), r.getSeq[Long](2))).toMap
    centIds.zip(centVecs).map { case (cid, old) =>
      byCell.get(cid).fold(old) { case (sums, ns) =>
        // fail-loud contract (round-17 advice): corpus vectors LONGER
        // than the centroid dim used to train on a silently truncated
        // mean (the posexplode form threw); shorter vectors are the
        // documented ragged case and keep the old vector's tail
        require(sums.length <= dim,
          s"refineCentroids: corpus vectors have ${sums.length} " +
            s"components but centroids have $dim — malformed corpus")
        val v = new Array[Double](dim)
        var p = 0
        val bound = math.min(dim, sums.length)
        while (p < bound) {
          v(p) = sums(p).toBigInteger.longValueExact().toDouble /
            ns(p).toDouble / 1e10
          p += 1
        }
        v
      }
    }
  }

  /** Deterministic k-means centroid training for the IVF index (the
    * "periodic k-means job" the index docs reference): smallest-id init,
    * `iters` Lloyd's iterations, each one corpus scan + a tiny aggregate.
    * Returns (stable cell labels, trained centroid vectors). */
  def kmeansCentroids(corpus: DataFrame, nlist: Int = AutoNlist,
      iters: Int = 1,
      vecCol: String = "embedding", idCol: String = "vec_id")
      : (Array[Long], Array[Array[Double]]) = {
    val centRows = corpus
      .select(col(idCol).cast("long").as("cid"), VF.asDouble(col(vecCol)).as("cv"))
      .orderBy(col("cid")).limit(resolveNlist(corpus, nlist)).collect()
    val centIds = centRows.map(_.getLong(0))
    var vecs = centRows.map(_.getSeq[Double](1).toArray)
    (0 until iters).foreach { _ =>
      vecs = refineCentroids(corpus, centIds, vecs, vecCol)
    }
    (centIds, vecs)
  }

  /** A written IVF index: corpus parquet partitioned by cell id + the
    * centroid table that defined the cells. The 100 TB deployment shape —
    * build once (single corpus scan, no shuffle: cell id is a row-local
    * projection and `partitionBy` splits files per cell within each task),
    * then every query batch reads ONLY its probed cells via partition
    * pruning.
    *
    * The written schema is NORMALIZED to fixed names `(id, vec, cell)` —
    * build and append calls may use any source column names without
    * producing a mixed-schema index. */
  final case class IvfIndex(path: String, centIds: Array[Long],
      centVecs: Array[Array[Double]], nlist: Int)

  /** Build + write the cell-partitioned corpus (centroid rule identical to
    * [[ivfTopK]]: the `nlist` smallest-id vectors). */
  def buildIvfIndex(corpus: DataFrame, path: String, nlist: Int = AutoNlist,
      vecCol: String = "embedding", idCol: String = "vec_id"): IvfIndex = {
    val n = resolveNlist(corpus, nlist)
    val centRows = corpus
      .select(col(idCol).cast("long").as("cid"), VF.asDouble(col(vecCol)).as("cv"))
      .orderBy(col("cid")).limit(n).collect()
    val centIds = centRows.map(_.getLong(0))
    val centVecs = centRows.map(_.getSeq[Double](1).toArray)
    writeCells(corpus, centIds, centVecs, vecCol, idCol, "overwrite", path)
    IvfIndex(path, centIds, centVecs, n)
  }

  /** Incrementally absorb a new vector batch into a written IVF index:
    * cells are assigned row-locally with the index's OWN centroid table
    * (the cell rule is unchanged, so existing probes stay correct) and
    * the batch is append-written into the cell partitions — no rewrite
    * of existing files, no shuffle, one scan of the new batch. This is
    * how the 100 TB index absorbs a daily embedding delta; re-train
    * centroids ([[kmeansCentroids]]) + rebuild only when drift warrants.
    *
    * Column names are normalized to the index's fixed written schema, so
    * the batch may use different source names than the build. Appends are
    * BLIND (no id dedup): appending the same batch twice stores both
    * copies — delta hygiene is the ingest pipeline's job (dedup by id
    * before append, or rebuild). */
  def appendToIvfIndex(index: IvfIndex, rows: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id"): IvfIndex = {
    writeCells(rows, index.centIds, index.centVecs, vecCol, idCol,
      "append", index.path)
    index
  }

  /** Shared build/append writer — single place that defines the index's
    * on-disk schema `(id, vec, cell)`. */
  private def writeCells(rows: DataFrame, centIds: Array[Long],
      centVecs: Array[Array[Double]], vecCol: String, idCol: String,
      mode: String, path: String): Unit =
    rows.select(col(idCol).as("id"), col(vecCol).as("vec"),
        element_at(VF.nearestCentroids(col(vecCol), centIds, centVecs, 1), 1)
          .as("cell"))
      .write.mode(mode).partitionBy("cell").parquet(path)

  /** Probe a written IVF index: the corpus scan is PARTITION-PRUNED to the
    * union of the queries' `nprobe` cells (`PartitionFilters: [cell IN …]`
    * in the plan) — on a 1000-executor cluster this reads `≈ nprobe/nlist`
    * of the data instead of the full corpus. The probed cell set is
    * computed from the index's own centroid table (queries are small by
    * definition; no corpus access). Results are identical to [[ivfTopK]]
    * with the same parameters (spec-pinned). `vecCol`/`idCol` name the
    * QUERY DataFrame's columns; the index side always reads the fixed
    * written schema. */
  def ivfTopKIndexed(index: IvfIndex, queries: DataFrame, k: Int,
      nprobe: Int = 4, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val spark = queries.sparkSession
    val probes = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"),
      explode(VF.nearestCentroids(col(vecCol), index.centIds,
        index.centVecs, nprobe)).as("cell"))
    val probeCells = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val corpus = spark.read.parquet(index.path)
      .filter(col("cell").isin(probeCells: _*))
      .select(col("id").as("neighbor_id"), col("vec").as("c_vec"),
        col("cell"))
    val scored = corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", VF.cosine(col("q_vec"), col("c_vec")))
    finishTopK(scored, k)
  }

  /** Per-dimension (min, max) over the corpus — the int8 quantizer's
    * calibration pass. One corpus scan; `posexplode` + partial aggregate
    * means each map task ships only `dim × 2` numbers to the (tiny)
    * final exchange, so at 100 TB the shuffle is kilobytes. */
  def dimStats(corpus: DataFrame, vecCol: String = "embedding")
      : (Array[Double], Array[Double]) = {
    val rows = corpus
      .select(posexplode(VF.asDouble(col(vecCol))).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    val dim = rows.length
    val mins = new Array[Double](dim)
    val maxs = new Array[Double](dim)
    rows.foreach { r =>
      mins(r.getInt(0)) = r.getDouble(1); maxs(r.getInt(0)) = r.getDouble(2)
    }
    (mins, maxs)
  }

  /** Affine int8 code of a float vector: per dimension,
    * `clamp(round((x - min) * 255 / (max - min)), 0, 255) - 128` (constant
    * dimensions map to -128). Row-local projection against the literal
    * calibration arrays — no join, no shuffle.
    *
    * The clamp keeps the int8 contract for vectors OUTSIDE the calibrated
    * range (queries need not come from the corpus that set min/max), and
    * makes the rounding engine-portable everywhere: in-range scaled values
    * are non-negative (half-up == half-away), and any out-of-range value —
    * where the engines' rounding of negatives could differ — saturates to
    * the same boundary code either way. */
  def quantizeInt8(v: Column, mins: Array[Double], maxs: Array[Double])
      : Column = {
    val scales = mins.zip(maxs).map { case (mn, mx) =>
      if (mx > mn) 255.0 / (mx - mn) else 0.0
    }
    transform(
      zip_with(
        zip_with(VF.asDouble(v), typedLit(mins.toSeq), (x, m) => x - m),
        typedLit(scales.toSeq),
        (y, s) => least(greatest(round(y * s), lit(0.0)), lit(255.0))),
      z => z.cast("int") - 128)
  }

  /** Integer dot product of two int8 code arrays (exact in long: each term
    * is ≤ 2^14, so dim < 2^48 never overflows). */
  def int8Dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** ANN over scalar-quantized (int8) codes: calibrate per-dim min/max
    * (one corpus scan → `dim×2` doubles on the driver, like a broadcast
    * dim), quantize corpus and queries row-locally, rank by integer dot
    * product with the same bounded-heap partial top-k as the float paths.
    *
    * The 100 TB story: codes are 4× smaller than float32 vectors (64 B vs
    * 256 B at dim 64), the scan is integer-only SIMD-friendly arithmetic,
    * and — like every scorer here — the corpus is never shuffled: only
    * `k × partitions × queries` candidate rows move. On a real deployment
    * the code column is written next to the corpus once and reused. */
  def int8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val (mins, maxs) = dimStats(corpus, vecCol)
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      quantizeInt8(col(vecCol), mins, maxs).as("q_code")))
    val scored = corpus.select(col(idCol).as("neighbor_id"),
        quantizeInt8(col(vecCol), mins, maxs).as("c_code"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("score", int8Dot(col("q_code"), col("c_code")).cast("double"))
    finishTopK(scored, k, "score")
      .withColumn("score", col("score").cast("long"))
  }

  /** Two-stage prefix-dot rerank ("matryoshka" retrieval): stage 1 ranks
    * the whole corpus per query by dot product over only the first
    * `prefixDim` dimensions and keeps `k × overfetch` candidates (the same
    * bounded-heap partial top-k as the exact path — map tasks reduce their
    * partition before the tiny exchange); stage 2 re-scores ONLY those
    * candidates with the exact full-dimension cosine and keeps the top k.
    *
    * The 100 TB story: the coarse pass arithmetic touches prefixDim/dim of
    * each vector (on a real deployment the prefix is WRITTEN as its own
    * column, so the scan is also column-pruned to prefixDim/dim of the
    * bytes — embedding models trained matryoshka-style put most signal in
    * the leading dimensions); the exact pass reads only `k × overfetch ×
    * queries` rows via a broadcast candidate-id semi-join — the corpus is
    * never shuffled in either stage. Recall is exact whenever the true
    * top-k survive the coarse cut (overfetch is the knob; spec measures
    * recall vs [[bruteForceTopK]] at the verification SF). */
  def prefixRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      prefixDim: Int = 16, overfetch: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(prefixDim > 0 && overfetch >= 1)
    def pre(v: Column): Column = slice(VF.asDouble(v), 1, prefixDim)
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec")))
    val coarse = corpus.select(col(idCol).as("neighbor_id"),
        pre(col(vecCol)).as("c_pre"))
      .join(broadcast(q.select(col("query_id"), pre(col("q_vec")).as("q_pre"))),
        col("neighbor_id") =!= col("query_id"))
      .withColumn("coarse", VF.dot(col("q_pre"), col("c_pre")))
    val cands = coarse.groupBy(col("query_id"))
      .agg(topK(col("coarse"), col("neighbor_id"), k * overfetch).as("top"))
      .select(col("query_id"), explode(col("top")).as("hit"))
      .select(col("query_id"), col("hit.id").as("neighbor_id"))
    val scored = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("c_vec"))
      .join(broadcast(cands), Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .withColumn("cosine", VF.cosine(col("q_vec"), col("c_vec")))
    finishTopK(scored, k)
  }

  /** Per-dimension sign bit (1 where x ≥ 0) — the 1-bit "binary
    * quantization" code modern vector stores ship (32× smaller than
    * float32). Int-typed per element here for oracle portability; the
    * production column packs 64 dims per long (a pure layout change —
    * the candidate/rerank plan below is unchanged). */
  def signBits(v: Column): Column =
    transform(VF.asDouble(v), x => (x >= 0d).cast("int"))

  /** Hamming distance between two sign-bit codes. */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x =!= y).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Two-stage BINARY-quantized retrieval (round 7) — the 1-bit cousin
    * of [[int8TopK]]/[[prefixRerankTopK]]: stage 1 ranks the corpus per
    * query by NEGATIVE Hamming distance over sign-bit codes and keeps
    * `k × overfetch` candidates (bounded-heap partial top-k, ties by id
    * — Hamming is coarse-grained so ties are normal and must break
    * deterministically); stage 2 re-scores only those candidates with
    * exact full-precision cosine via a broadcast candidate semi-join.
    *
    * The 100 TB story: the coarse scan reads 1 bit/dim (written packed,
    * 32× less IO than float32) with XOR+popcount arithmetic, and the
    * corpus is never shuffled in either stage — only `k × overfetch ×
    * queries` candidate ids and their vectors move. Recall vs the exact
    * scorer is the overfetch knob, measured by [[recallAt]] in the
    * driver suite like the IVF path. */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      overfetch: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(overfetch >= 1)
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec")))
    val coarse = corpus.select(col(idCol).as("neighbor_id"),
        signBits(col(vecCol)).as("c_bits"))
      .join(broadcast(q.select(col("query_id"),
        signBits(col("q_vec")).as("q_bits"))),
        col("neighbor_id") =!= col("query_id"))
      .withColumn("coarse",
        -hamming(col("q_bits"), col("c_bits")).cast("double"))
    val cands = coarse.groupBy(col("query_id"))
      .agg(topK(col("coarse"), col("neighbor_id"), k * overfetch).as("top"))
      .select(col("query_id"), explode(col("top")).as("hit"))
      .select(col("query_id"), col("hit.id").as("neighbor_id"))
    val scored = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("c_vec"))
      .join(broadcast(cands), Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .withColumn("cosine", VF.cosine(col("q_vec"), col("c_vec")))
    finishTopK(scored, k)
  }

  /** Per-subspace product-quantization codebooks: the `ksub` smallest-id
    * corpus vectors sliced into `m` contiguous subvectors (the same
    * deterministic no-RNG init rule as [[ivfTopK]]'s centroids; a real
    * deployment would Lloyd-refine each subspace codebook with
    * [[refineCentroids]] over the sliced corpus — the assignment/score
    * plans below are unchanged by better codebooks). Returns
    * `books(mi)(code)` = the `sub = dim/m`-dimensional codeword. */
  def pqCodebooks(corpus: DataFrame, m: Int, ksub: Int,
      vecCol: String = "embedding", idCol: String = "vec_id")
      : Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 1)
    val rows = corpus
      .select(col(idCol).cast("long").as("cid"),
        VF.asDouble(col(vecCol)).as("cv"))
      .orderBy(col("cid")).limit(ksub).collect()
    require(rows.length == ksub,
      s"corpus has only ${rows.length} rows for ksub=$ksub codewords")
    val full = rows.map(_.getSeq[Double](1).toArray)
    val dim = full.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    Array.tabulate(m)(mi =>
      full.map(v => java.util.Arrays.copyOfRange(v, mi * sub, (mi + 1) * sub)))
  }

  /** Two-stage PRODUCT-QUANTIZED retrieval (Jégou et al., PAMI 2011) —
    * the multi-byte member of the quantized family ([[int8TopK]] = 1
    * byte/dim, [[binaryTopK]] = 1 bit/dim, PQ = `m` bytes/VECTOR):
    * stage 1 assigns every corpus vector `m` one-byte codes (nearest
    * sub-codeword per contiguous subspace — a row-local projection
    * against the literal codebooks, the corpus is never shuffled),
    * ranks per query by the asymmetric-distance (ADC) dot product
    * `Σ_mi 〈q_mi, codebook_mi[code_mi]〉` computed over the
    * reconstruction, and keeps `k × overfetch` candidates with the
    * bounded-heap partial top-k; stage 2 re-scores only those
    * candidates with exact full-precision cosine via a broadcast
    * candidate semi-join.
    *
    * Portability: the ADC ranking is computed in exact int64 over
    * 1e-5-quantized components (query and codeword components are
    * `round(x·1e5)` — the identical IEEE double product in any engine,
    * half-away-from-zero both sides), so the candidate cut is
    * bit-deterministic across engines and partitionings; terms are
    * ≤ 64·(2·1e5)² ≈ 2.6e12 — exact in int64 AND in the aggregate's
    * double score. Storing quantized codebooks is also the production
    * layout (a PQ codebook IS a lossy code — 1e-5 is far below its
    * own quantization error).
    *
    * The 100 TB story: the corpus scan for the coarse pass reads `m`
    * bytes per vector once codes are written (64× less IO than float32
    * at dim 64 / m 4), score arithmetic is `m` table lookups + adds per
    * row with the `m × ksub × dim/m` codebook resident in cache, and —
    * like every scorer in this family — only `k × overfetch × queries`
    * candidate ids move; recall vs exact is the `overfetch`/`ksub` knob,
    * audited by `sim_recall_pq` in the driver suite. */
  /** Lloyd-refined PQ codebooks: [[pqCodebooks]] init, then `iters`
    * Lloyd passes. Round 18 (§1.2 — fewer passes): all `m` subspaces
    * train in ONE job per iteration — the corpus row explodes into its
    * m slices row-locally, each slice is assigned its nearest codeword
    * in ITS OWN book (an m-branch when-chain over the native
    * [[graft.functions.VectorFunctions.nearestCentroids]] kernel), and
    * one `(subspace, code)` exact-sum aggregate replaces the m
    * per-subspace jobs (each of which re-scanned the corpus — for the
    * IVF-PQ residual input that meant recomputing the residuals m
    * times per iteration). Sums/means are the identical exact integer
    * arithmetic of [[refineCentroids]], so the trained books are
    * bit-identical to the per-subspace form (oracle-pinned by the
    * whole *_pq_trained / ivfpq family); emptied codewords keep their
    * previous vector (trainer contract). */
  def pqCodebooksTrained(corpus: DataFrame, m: Int, ksub: Int,
      iters: Int = 1, vecCol: String = "embedding",
      idCol: String = "vec_id"): Array[Array[Array[Double]]] = {
    require(iters >= 0)
    val init = pqCodebooks(corpus, m, ksub, vecCol, idCol)
    val sub = init(0)(0).length
    val codeIds = Array.tabulate(ksub)(_.toLong)
    var books = init
    (0 until iters).foreach { _ =>
      val slices = corpus.select(posexplode(array((0 until m).map(mi =>
          slice(VF.asDouble(col(vecCol)), mi * sub + 1, sub)): _*))
        .as(Seq("mi", "v")))
      val cellChain = (1 until m).foldLeft(
        when(col("mi") === 0,
          element_at(VF.nearestCentroids(col("v"), codeIds, books(0), 1),
            1)))((acc, mi) => acc.when(col("mi") === mi,
        element_at(VF.nearestCentroids(col("v"), codeIds, books(mi), 1),
          1)))
      val means = slices.select(col("mi"), cellChain.as("cell"),
          transform(col("v"),
            x => round(x.cast("double") * 1e10).cast("long")).as("qv"))
        .groupBy(col("mi"), col("cell"))
        .agg(VF.vecSumExact(col("qv"), lit(1L)).as("vs"))
        .select(col("mi"), col("cell"),
          col("vs.sums").as("s"), col("vs.counts").as("n"))
        .collect()
      val byKey = means.map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getSeq[java.math.BigDecimal](2), r.getSeq[Long](3))).toMap
      books = Array.tabulate(m) { mi =>
        codeIds.zip(books(mi)).map { case (cid, old) =>
          byKey.get((mi, cid)).fold(old) { case (sums, ns) =>
            require(sums.length <= sub,
              s"pqCodebooksTrained: slice has ${sums.length} components " +
                s"but codewords have $sub — malformed corpus")
            val v = new Array[Double](sub)
            var p = 0
            val bound = math.min(sub, sums.length)
            while (p < bound) {
              v(p) = sums(p).toBigInteger.longValueExact().toDouble /
                ns(p).toDouble / 1e10
              p += 1
            }
            v
          }
        }
      }
    }
    books
  }

  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 4, ksub: Int = 16, overfetch: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    pqTopKWithCodebooks(corpus, queries, k,
      pqCodebooks(corpus, m, ksub, vecCol, idCol), overfetch,
      vecCol, idCol)

  /** [[pqTopK]] with an EXPLICIT codebook table (e.g. one trained by
    * [[pqCodebooksTrained]]) — the assignment/ADC/rerank plans are
    * identical; only the codeword literals differ. */
  def pqTopKWithCodebooks(corpus: DataFrame, queries: DataFrame, k: Int,
      books: Array[Array[Array[Double]]], overfetch: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(overfetch >= 1)
    val m = books.length
    val ksub = books(0).length
    val sub = books(0)(0).length
    val codeIds = Array.tabulate(ksub)(_.toLong)
    // nearest sub-codeword by L2, ties to the smallest code — the same
    // row-local NearestCentroids kernel as IVF, on the sliced subvector
    def codeCol(v: Column, mi: Int): Column =
      element_at(VF.nearestCentroids(
        slice(VF.asDouble(v), mi * sub + 1, sub), codeIds, books(mi), 1), 1)
    def qint(c: Column): Column =
      transform(c, x => round(x * 1e5).cast("long"))
    // quantized ADC reconstruction: codeword lookup per subspace, rounded
    // IN-PLAN so both engines round the identical doubles
    def reconQ(v: Column): Column =
      flatten(array((0 until m).map { mi =>
        qint(element_at(typedLit(books(mi).map(_.toSeq).toSeq),
          codeCol(v, mi).cast("int") + 1))
      }: _*))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"),
      qint(VF.asDouble(col(vecCol))).as("q_q")))
    val coarse = corpus.select(col(idCol).as("neighbor_id"),
        reconQ(col(vecCol)).as("r_q"))
      .join(broadcast(q.select(col("query_id"), col("q_q"))),
        col("neighbor_id") =!= col("query_id"))
      .withColumn("coarse",
        aggregate(zip_with(col("q_q"), col("r_q"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).cast("double"))
    val cands = coarse.groupBy(col("query_id"))
      .agg(topK(col("coarse"), col("neighbor_id"), k * overfetch).as("top"))
      .select(col("query_id"), explode(col("top")).as("hit"))
      .select(col("query_id"), col("hit.id").as("neighbor_id"))
    val scored = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("c_vec"))
      .join(broadcast(cands), Seq("neighbor_id"))
      .join(q.select(col("query_id"), col("q_vec")), Seq("query_id"))
      .withColumn("cosine", VF.cosine(col("q_vec"), col("c_vec")))
    finishTopK(scored, k)
  }

  /** IVF-PQ composition (Jégou et al., PAMI 2011 §IV — the standard
    * Faiss `IVFx,PQy` index): coarse IVF cells + product-quantized
    * RESIDUALS. Residual encoding is the whole point of the
    * composition: within a cell the residual `v − centroid(cell)` has
    * far smaller magnitude and a centered distribution, so the same
    * m×ksub codebook budget spends its resolution on the part of the
    * vector the coarse quantizer didn't already explain — measurably
    * higher recall than PQ over raw vectors at identical code size
    * (`sim_recall_ivfpq` vs `sim_recall_pq*` is the published audit).
    *
    * Stage shape: queries probe their `nprobe` nearest cells; ONLY rows
    * in probed cells are scored (the IVF pruning), by the exact-int64
    * ADC decomposition `〈q, centroid(cell)〉 + 〈q, recon(residual
    * codes)〉` over 1e-5-quantized components (the centroid term is
    * computed once per (query, probed cell), the residual term is `m`
    * codeword lookups per row — identical arithmetic rules to
    * [[pqTopKWithCodebooks]], so the candidate cut stays
    * bit-deterministic across engines and partitionings); top
    * `k × overfetch` candidates rerank by exact full-precision cosine.
    *
    * The 100 TB story: cell assignment, residual computation and code
    * assignment are all row-local projections against literal
    * centroid/codebook tables (collects are nlist- and ksub-bounded) —
    * the corpus never shuffles; written down this is `m` bytes + one
    * cell id per vector, scanned partition-pruned to `nprobe/nlist` of
    * the data (the [[IvfIndex]] layout) with only candidate ids moving.
    *
    * Determinism rules inherited from the family: centroids = the
    * `nlist` smallest-id vectors; residual codebooks = the residuals of
    * the `ksub` smallest-id vectors sliced into `m` subspaces (the
    * [[pqCodebooks]] init rule applied to the residual relation); all
    * quantization is `round(x·1e5)` IN-PLAN so both engines round the
    * identical IEEE doubles; every cut breaks ties by id. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = AutoNlist, nprobe: Int = 4, m: Int = 4, ksub: Int = 16,
      overfetch: Int = 4, iters: Int = 1, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(nprobe >= 1 && overfetch >= 1 && iters >= 0)
    val centRows = corpus
      .select(col(idCol).cast("long").as("cid"),
        VF.asDouble(col(vecCol)).as("cv"))
      .orderBy(col("cid")).limit(resolveNlist(corpus, nlist)).collect()
    val centIds = centRows.map(_.getLong(0))
    val centVecs = centRows.map(_.getSeq[Double](1).toArray)
    val centMap = centIds.zip(centVecs.map(_.toSeq)).toMap
    def cellOf(v: Column): Column =
      element_at(VF.nearestCentroids(v, centIds, centVecs, 1), 1)
    def centVecOf(cell: Column): Column =
      element_at(typedLit(centMap), cell)
    // residual relation: cell + (v − centroid(cell)), both row-local
    val resid = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("c_vec"), cellOf(col(vecCol)).as("cell"))
      .withColumn("r_vec",
        zip_with(VF.asDouble(col("c_vec")), centVecOf(col("cell")),
          (x, c) => x - c))
    // PQ codebooks over RESIDUALS — smallest-id init + `iters` Lloyd
    // passes per subspace. Training is LOAD-BEARING here, not a tweak:
    // the centroid term of the ADC is exact, so ranking quality within
    // a probed cell rides ENTIRELY on how well codewords reconstruct
    // residuals — untrained (smallest-id) codewords reconstruct an
    // unclustered residual cloud as pure noise and the composition
    // measures BELOW raw PQ (46% vs 48% recall@5 at sf0.01); one Lloyd
    // pass moves codewords to residual means and the audit flips to
    // the published lift (see sim_recall_ivfpq vs sim_recall_pq*).
    val books =
      if (iters == 0) pqCodebooks(resid, m, ksub, "r_vec", "neighbor_id")
      else pqCodebooksTrained(resid, m, ksub, iters, "r_vec", "neighbor_id")
    val sub = books(0)(0).length
    val codeIds = Array.tabulate(ksub)(_.toLong)
    def codeCol(r: Column, mi: Int): Column =
      element_at(VF.nearestCentroids(
        slice(r, mi * sub + 1, sub), codeIds, books(mi), 1), 1)
    def qint(c: Column): Column =
      transform(c, x => round(x * 1e5).cast("long"))
    def reconQ(r: Column): Column =
      flatten(array((0 until m).map { mi =>
        qint(element_at(typedLit(books(mi).map(_.toSeq).toSeq),
          codeCol(r, mi).cast("int") + 1))
      }: _*))
    def idot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    // Generate barrier (round 18, the TextKernelCodegenSpec discipline):
    // reconQ references r_vec 2·m times, and CollapseProject would
    // inline the residual zip_with — centroid-map literal included —
    // into every reference, re-evaluating the residual per reference
    // and blowing the analyzed tree up ~8×. The explode(array(struct))
    // Generate node is a projection barrier: the residual computes once
    // per row and reconQ reads an attribute.
    val residB = resid
      .select(col("neighbor_id"), col("cell"),
        explode(array(struct(col("r_vec")))).as("rw"))
      .select(col("neighbor_id"), col("cell"),
        col("rw.r_vec").as("r_vec"))
    val coded = residB.select(col("neighbor_id"), col("cell"),
      reconQ(col("r_vec")).as("r_q"))
    val probes = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("q_vec"),
        qint(VF.asDouble(col(vecCol))).as("q_q"),
        explode(VF.nearestCentroids(col(vecCol), centIds, centVecs,
          nprobe)).as("cell"))
      // centroid half of the ADC dot: once per (query, probed cell)
      .withColumn("cent_dot",
        idot(col("q_q"), qint(centVecOf(col("cell")))))
    val coarse = coded.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("coarse",
        (col("cent_dot") + idot(col("q_q"), col("r_q"))).cast("double"))
    val cands = coarse.groupBy(col("query_id"))
      .agg(topK(col("coarse"), col("neighbor_id"), k * overfetch).as("top"))
      .select(col("query_id"), explode(col("top")).as("hit"))
      .select(col("query_id"), col("hit.id").as("neighbor_id"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec")))
    val scored = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("c_vec"))
      .join(broadcast(cands), Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .withColumn("cosine", VF.cosine(col("q_vec"), col("c_vec")))
    finishTopK(scored, k)
  }

  /** A written IVF-PQ index: the [[IvfIndex]] cell-partitioned layout
    * plus the per-vector PQ RESIDUAL CODES stored alongside (`m` ints —
    * written as bytes-worth of information per vector; the full vector
    * column stays for the exact rerank, which a deployment may also
    * externalize). Build once: one corpus scan computes cell, residual
    * and codes row-locally and writes partitioned by cell; every probe
    * is a partition-pruned scan that reads CODES for the ADC and
    * touches full vectors only for the k·overfetch rerank candidates. */
  final case class IvfPqIndex(path: String, centIds: Array[Long],
      centVecs: Array[Array[Double]], books: Array[Array[Array[Double]]])

  /** Build + write the cell-partitioned coded corpus (centroid and
    * codebook rules identical to [[ivfPqTopK]] with the same params). */
  def buildIvfPqIndex(corpus: DataFrame, path: String,
      nlist: Int = AutoNlist, m: Int = 4, ksub: Int = 16, iters: Int = 1,
      vecCol: String = "embedding", idCol: String = "vec_id")
      : IvfPqIndex = {
    val centRows = corpus
      .select(col(idCol).cast("long").as("cid"),
        VF.asDouble(col(vecCol)).as("cv"))
      .orderBy(col("cid")).limit(resolveNlist(corpus, nlist)).collect()
    val centIds = centRows.map(_.getLong(0))
    val centVecs = centRows.map(_.getSeq[Double](1).toArray)
    val centMap = centIds.zip(centVecs.map(_.toSeq)).toMap
    val resid = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
        element_at(VF.nearestCentroids(col(vecCol), centIds, centVecs, 1),
          1).as("cell"))
      .withColumn("r_vec",
        zip_with(VF.asDouble(col("vec")),
          element_at(typedLit(centMap), col("cell")), (x, c) => x - c))
    val books =
      if (iters == 0) pqCodebooks(resid, m, ksub, "r_vec", "id")
      else pqCodebooksTrained(resid, m, ksub, iters, "r_vec", "id")
    val sub = books(0)(0).length
    val codeIds = Array.tabulate(ksub)(_.toLong)
    val codes = array((0 until m).map { mi =>
      element_at(VF.nearestCentroids(
        slice(col("r_vec"), mi * sub + 1, sub), codeIds, books(mi), 1), 1)
        .cast("int")
    }: _*)
    resid.select(col("id"), col("vec"), col("cell"), codes.as("codes"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    IvfPqIndex(path, centIds, centVecs, books)
  }

  /** Incrementally absorb a new vector batch into a written IVF-PQ
    * index — the PQ twin of [[appendToIvfIndex]]: cells AND codes are
    * assigned row-locally with the index's OWN centroid table and
    * residual codebooks (both rules unchanged, so existing probes stay
    * correct and mix transparently with the appended rows), then
    * append-written into the cell partitions. No rewrite, no shuffle,
    * one scan of the batch; re-train ([[buildIvfPqIndex]]) only when
    * drift warrants. Appends are BLIND (no id dedup) — delta hygiene is
    * the ingest pipeline's job, same contract as the IVF index. */
  def appendToIvfPqIndex(index: IvfPqIndex, rows: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id")
      : IvfPqIndex = {
    ivfPqCodedRows(index, rows, vecCol, idCol)
      .write.mode("append").partitionBy("cell").parquet(index.path)
    index
  }

  /** Stage an append's coded rows under `root` mirroring the live
    * cell-partitioned layout — the write half of the streaming loop's
    * exactly-once staged commit (see
    * [[graft.streaming.IngestLedger.exactlyOnceAppend]]). */
  def stageIvfPqAppend(index: IvfPqIndex, rows: DataFrame,
      vecCol: String, idCol: String, root: String): Unit =
    ivfPqCodedRows(index, rows, vecCol, idCol)
      .write.mode("overwrite").partitionBy("cell").parquet(root)

  /** Compact a written IVF-PQ index into a FRESH path — the
    * maintenance half of the streaming ingest loop: every micro-batch
    * appends one file per touched cell, so a long-running index
    * accumulates small files and the partition-pruned probes pay
    * per-file open cost inside their cells. `repartition(nlist, cell)`
    * lands every cell's rows in exactly one shuffle partition, so the
    * rewrite leaves ONE file per cell; centroids and codebooks ride
    * the handle unchanged, making compacted probes bit-identical
    * (oracle-pinned — `sim_topk_compacted` reuses the uncompacted
    * probe's oracle). Handle-swap at a fresh path = zero downtime. */
  def compactIvfPqIndex(spark: SparkSession, index: IvfPqIndex,
      newPath: String): IvfPqIndex = {
    spark.read.parquet(index.path)
      .repartition(index.centIds.length, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(newPath)
    index.copy(path = newPath)
  }

  /** Shared coding step of the IVF-PQ appends: cells and residual
    * codes assigned row-locally with the index's OWN frozen centroids
    * and codebooks. */
  private def ivfPqCodedRows(index: IvfPqIndex, rows: DataFrame,
      vecCol: String, idCol: String): DataFrame = {
    val m = index.books.length
    val sub = index.books(0)(0).length
    val ksub = index.books(0).length
    val codeIds = Array.tabulate(ksub)(_.toLong)
    val centMap = index.centIds.zip(index.centVecs.map(_.toSeq)).toMap
    val resid = rows.select(col(idCol).as("id"), col(vecCol).as("vec"),
        element_at(VF.nearestCentroids(col(vecCol), index.centIds,
          index.centVecs, 1), 1).as("cell"))
      .withColumn("r_vec",
        zip_with(VF.asDouble(col("vec")),
          element_at(typedLit(centMap), col("cell")), (x, c) => x - c))
    val codes = array((0 until m).map { mi =>
      element_at(VF.nearestCentroids(
        slice(col("r_vec"), mi * sub + 1, sub), codeIds,
        index.books(mi), 1), 1).cast("int")
    }: _*)
    resid.select(col("id"), col("vec"), col("cell"), codes.as("codes"))
  }

  /** Probe a written IVF-PQ index: partition-pruned scan of the
    * queries' `nprobe` cells, ADC over the STORED residual codes
    * (`⟨q,centroid⟩ + ⟨q,codeword recon⟩`, same exact-int64 arithmetic
    * as [[ivfPqTopK]] — results are identical with the same parameters,
    * spec-pinned), exact-cosine rerank of k·overfetch candidates. At
    * deployment scale the coarse pass reads `m` small ints + a cell id
    * per vector from `nprobe/nlist` of the data — the full 100 TB
    * IVF-PQ serving shape. */
  def ivfPqTopKIndexed(index: IvfPqIndex, queries: DataFrame, k: Int,
      nprobe: Int = 4, overfetch: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(nprobe >= 1 && overfetch >= 1)
    val spark = queries.sparkSession
    val m = index.books.length
    val centMap = index.centIds.zip(index.centVecs.map(_.toSeq)).toMap
    def qint(c: Column): Column =
      transform(c, x => round(x * 1e5).cast("long"))
    def idot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val probes = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("q_vec"),
        qint(VF.asDouble(col(vecCol))).as("q_q"),
        explode(VF.nearestCentroids(col(vecCol), index.centIds,
          index.centVecs, nprobe)).as("cell"))
      .withColumn("cent_dot",
        idot(col("q_q"), qint(element_at(typedLit(centMap), col("cell")))))
    val probeCells = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val coded = spark.read.parquet(index.path)
      .filter(col("cell").isin(probeCells: _*))
      .select(col("id").as("neighbor_id"), col("cell"),
        flatten(array((0 until m).map { mi =>
          qint(element_at(typedLit(index.books(mi).map(_.toSeq).toSeq),
            element_at(col("codes"), mi + 1) + 1))
        }: _*)).as("r_q"))
    val coarse = coded.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("coarse",
        (col("cent_dot") + idot(col("q_q"), col("r_q"))).cast("double"))
    val cands = coarse.groupBy(col("query_id"))
      .agg(topK(col("coarse"), col("neighbor_id"), k * overfetch).as("top"))
      .select(col("query_id"), explode(col("top")).as("hit"))
      .select(col("query_id"), col("hit.id").as("neighbor_id"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec")))
    // Every rerank candidate is by construction in a probed cell, so the
    // cell filter is semantics-preserving — and it partition-prunes the
    // heavy `vec` read to nprobe/nlist of the index instead of scanning
    // the full corpus's vector column (the whole point of the layout).
    val scored = spark.read.parquet(index.path)
      .filter(col("cell").isin(probeCells: _*))
      .select(col("id").as("neighbor_id"), col("vec").as("c_vec"))
      .join(broadcast(cands), Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .withColumn("cosine", VF.cosine(col("q_vec"), col("c_vec")))
    finishTopK(scored, k)
  }

  /** Shared tail: partial-agg top-k per query, explode to ranked rows. */
  private def finishTopK(scored: DataFrame, k: Int,
      scoreCol: String = "cosine"): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(topK(col(scoreCol), col("neighbor_id"), k).as("top"))
      .select(col("query_id"),
        posexplode(col("top")).as(Seq("rank0", "hit")))
      .select(col("query_id"), (col("rank0") + 1).as("rank"),
        col("hit.id").as("neighbor_id"), col("hit.score").as(scoreCol))
      .orderBy(col("query_id"), col("rank"))
}
