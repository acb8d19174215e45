package graft.operators

import graft.config.Pin._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}

/** Deduplication operators for the training-data pipeline surface (builder
  * mandate; the reference has no dedup — SURVEY.md §2.2, so semantics are
  * defined here and pinned by tests + driver oracles).
  *
  * Scale design (the 100 TB contract):
  *   - NOTHING here cross-joins the corpus. Every near-dup variant is
  *     candidate-generation via LSH bucketing (shuffle on band/block keys)
  *     followed by exact verification only WITHIN buckets.
  *   - Signatures (minhash/simhash/hyperplane) are computed row-local in a
  *     single projection — embarrassingly parallel, no shuffle.
  *   - The candidate self-join shuffles (key, docId, signature) — never the
  *     document text; exact verification re-joins the (small) candidate
  *     pair list back to the shingle sets by id.
  *   - Identical-document floods (the classic LSH skew case) are bounded by
  *     `spark.sql.shuffle.partitions` × AQE skew-join splitting; band keys
  *     include the band index so bucket sizes stay near-uniform.
  */
object Dedup {

  /** Exact dedup: keep the smallest `idCol` per group of identical `cols`.
    * One hash-shuffle on the group columns; map-side partial min. */
  def exact(df: DataFrame, cols: Seq[String], idCol: String): DataFrame =
    df.groupBy(cols.map(col): _*)
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))

  /** Exact text dedup keyed on sha2(text) instead of the raw text — at
    * 100 TB the shuffle carries a 32-byte digest per row, not documents.
    * Collision probability at 2^-128 is below any hardware error rate. */
  def exactByHash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(sha2(col(textCol), 256).as("text_sha"), col(idCol))
      .groupBy(col("text_sha"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup under aggressive text NORMALIZATION (lowercase, strip
    * non-alphanumerics, collapse whitespace — [[TF.normalize]], the same
    * alphabet every fingerprint/shingle family here uses): re-crawls that
    * differ only in case, punctuation, or whitespace collapse onto one
    * survivor, which raw [[exact]] would keep as distinct documents.
    *
    * Output per surviving group: smallest id, total copies, and
    * `n_raw_variants` — how many DISTINCT raw texts the normalized key
    * merged (1 ⇒ plain exact-dup group; >1 ⇒ formatting-level near-dups
    * that only this operator catches).
    *
    * 100 TB design: identical shape to [[exactByHash]] — normalization is
    * row-local, the shuffle carries a 32-byte digest of the NORMALIZED
    * text per row (never the text), and both aggregates are map-side
    * partial (count + min; the distinct-raw count shuffles one raw-digest
    * per row within the same exchange). */
  def normalizedExact(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    df.select(sha2(TF.normalize(col(textCol)), 256).as("norm_sha"),
        sha2(col(textCol), 256).as("raw_sha"), col(idCol))
      .groupBy(col("norm_sha"))
      .agg(min(col(idCol)).as("survivor_id"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("raw_sha")).as("n_raw_variants"))

  /** Cross-source duplicate LEAKAGE MATRIX: for every unordered pair of
    * sources, how many distinct document texts they share — the release
    * audit that tells you which crawls/datasets overlap before you mix
    * them (and, symmetrically, where contamination between a train source
    * and an eval source would come from).
    *
    * 100 TB design: the corpus reduces to DISTINCT (source, digest) pairs
    * first (one digest-only partial-agg exchange — dedups the per-source
    * re-crawls so the join fanout per digest is bounded by #sources, not
    * by copy count); the self-join then shuffles only those digest pairs,
    * and the final matrix is at most sources² rows. */
  def crossSourceDupMatrix(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val sd = df.select(col(sourceCol).as("src"),
        sha2(col(textCol), 256).as("text_sha"))
      .distinct()
    sd.join(sd.select(col("src").as("src_b"), col("text_sha")), "text_sha")
      .filter(col("src") < col("src_b"))
      .groupBy(col("src").as("source_a"), col("src_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** INCREMENTAL exact dedup — the daily-ingest shape: dedup a new DELTA
    * batch against an already-curated corpus without rescanning or
    * rewriting it. A delta doc survives iff its text digest appears
    * nowhere in the existing corpus AND it is the smallest-id holder of
    * its digest within the delta.
    *
    * 100 TB design: both sides reduce to 32-byte digests before anything
    * shuffles (the corpus side in production is a MATERIALIZED digest
    * index, written once per snapshot and appended per delta — pass it
    * straight to [[incrementalNewByDigest]]); the delta's within-batch
    * dedup is one partial-aggregated groupBy, and the corpus probe is a
    * left-anti join on the digest — broadcast when the delta is small
    * relative to the corpus index, shuffle otherwise, and never the
    * document text.
    *
    * @return surviving NEW delta rows as (text_sha, survivor_id, n_copies)
    */
  def incrementalNew(existing: DataFrame, delta: DataFrame,
      textCol: String, idCol: String): DataFrame =
    incrementalNewByDigest(
      existing.select(sha2(col(textCol), 256).as("text_sha")),
      delta, textCol, idCol)

  /** [[incrementalNew]] against an ALREADY-DIGESTED corpus index — a
    * one-column `text_sha` relation (the materialized index a snapshot
    * pipeline maintains; see [[graft.streaming.StreamingPipelines
    * .ingestNewStream]] for the streaming loop that appends to it).
    * Within-delta dedup is exactly [[exactByHash]]; the index side needs
    * no dedup — anti-join semantics ignore right-side duplicates, and a
    * distinct would cost a corpus-index-sized exchange per call. */
  def incrementalNewByDigest(existingDigests: DataFrame, delta: DataFrame,
      textCol: String, idCol: String): DataFrame =
    exactByHash(delta, textCol, idCol)
      .join(existingDigests.select(col("text_sha")), Seq("text_sha"),
        "left_anti")

  /** Shared LSH-candidate + exact-Jaccard-verify pipeline over any
    * (id, shingles) view: native minhash signature → band keys →
    * bucket self-join → verify within candidates only. */
  /** `(bk, id)` band-key rows from an (id, shingles) view — THE band
    * derivation: the written index, the delta probe, and the batch
    * self-join all call this, so their keys match by construction. */
  private def bandRows(shingled: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val rows = numHashes / bands
    val sigs = shingled.select(col("id"), col("shingles"),
      TF.minhashSignature(col("shingles"), numHashes).as("sig"))
    // keep `sig` in the output list next to the explode so CollapseProject
    // can't inline the signature kernel into the band-key lambda
    sigs
      .select(col("id"), col("sig"),
        explode(TF.minhashBandKeys(col("sig"), bands, rows)).as("bk"))
      .select(col("bk"), col("id"))
  }

  private def lshJaccardPairs(shingled: DataFrame, numHashes: Int,
      bands: Int, threshold: Double): DataFrame = {
    // Pin the shingled view ONCE (round 18, §1.2): it feeds the band
    // derivation AND both sides of the verify join — un-pinned, the
    // shingle kernel re-tokenized the corpus three times per run
    // (per-job profile: three full scans of the input exchange). Same
    // audit-contract as buildLshIndexBucketed's pinned `sh`: shingle
    // hashes only (~8 bytes/shingle), text never pinned.
    val sh = shingled.pin()
    val bnd = bandRows(sh, numHashes, bands)
    val l = bnd.select(col("bk"), col("id").as("a"))
    val r = bnd.select(col("bk"), col("id").as("b"))
    val pairs = l.join(r, Seq("bk")).filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    // verify: join candidate ids back to shingle sets (small side = pairs)
    val withA = pairs.join(
      sh.select(col("id").as("a"), col("shingles").as("sh_a")), Seq("a"))
    withA.join(
      sh.select(col("id").as("b"), col("shingles").as("sh_b")), Seq("b"))
      .withColumn("jaccard", TF.jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** MinHash + banded-LSH near-duplicate pairs with exact-Jaccard
    * verification (shingle → minhash → band → bucket-join → verify).
    *
    * @param threshold exact Jaccard threshold on word-shingle sets
    * @return (a, b, jaccard) pairs, a < b, jaccard ≥ threshold
    */
  def minhashNearDup(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame =
    lshJaccardPairs(
      df.select(col(idCol).as("id"),
        TF.wordShingleHashes(col(textCol), shingleK).as("shingles")),
      numHashes, bands, threshold)

  /** SimHash near-dup: 64-bit fingerprints, bucketing on `blocks` bit
    * blocks (pigeonhole: hamming ≤ blocks-1 ⇒ some block identical),
    * verified by exact Hamming distance. */
  def simhashNearDup(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, maxHamming: Int = 3): DataFrame = {
    val blocks = maxHamming + 1
    // pinned (round 18, §1.2): `exploded` feeds BOTH sides of the
    // bucket self-join — un-pinned, the shingle+simhash kernel ran
    // twice per run; pinned rows are (id, fp) pairs, not text
    val fps = df.select(col(idCol).as("id"),
      TF.simhash64(TF.wordShingleHashes(col(textCol), shingleK)).as("fp"))
      .pin()
    val keyed = fps.select(col("id"), col("fp"),
      VF.signatureBlocks(col("fp"), 64, blocks).as("bks"))
    val exploded = keyed.select(col("id"), col("fp"),
      explode(col("bks")).as("bk"))
    val l = exploded.select(col("bk"), col("id").as("a"), col("fp").as("fp_a"))
    val r = exploded.select(col("bk"), col("id").as("b"), col("fp").as("fp_b"))
    l.join(r, Seq("bk")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        TF.hamming64(col("fp_a"), col("fp_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash-routed exact-duplicate pairs: candidates from the simhash
    * block index (pigeonhole, hamming ≤ maxHamming), then verified by raw
    * text equality. Identical text ⇒ identical fingerprint ⇒ the pair
    * shares every block, so recall over exact duplicates is GUARANTEED —
    * which also makes the output independent of the engine-defined hash
    * family and therefore fully oracle-checkable in portable SQL (the
    * hamming-thresholded near-dup variant [[simhashNearDup]] stays
    * available; its hash-family-dependent output is pinned by ScalaTest
    * invariants instead). Only (id, fingerprint, block) rows reach the
    * candidate shuffle; text is joined back to the small pair list. */
  def simhashExactDup(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, maxHamming: Int = 3): DataFrame =
    simhashNearDup(df, textCol, idCol, shingleK, maxHamming)
      .join(df.select(col(idCol).as("a"), col(textCol).as("t_a")), Seq("a"))
      .join(df.select(col(idCol).as("b"), col(textCol).as("t_b")), Seq("b"))
      .filter(col("t_a") === col("t_b"))
      .select(col("a"), col("b"))

  /** End-to-end survivor selection over near-dup PAIRS: connected
    * components by iterative min-label propagation, so every document maps
    * to the smallest id in its duplicate cluster (the row to keep).
    *
    * Scale shape: the standard large-scale connected-components loop —
    * per iteration one edge⋈label join + a min aggregate, both plain
    * shuffles on ids (never text), with lineage truncated via
    * `localCheckpoint` so the plan does not grow per iteration (on a real
    * cluster: `checkpoint` to the cluster store). Converges in ≤ max
    * component DIAMETER iterations; near-dup clusters are small and dense
    * by construction (LSH + verify), so 2-3 iterations in practice.
    *
    * @param ids   one column `id`: the full universe (singletons included)
    * @param pairs columns `a`, `b`: verified duplicate pairs
    * @return (id, survivor_id) for EVERY id in the universe
    */
  def survivorsFromPairs(ids: DataFrame, pairs: DataFrame,
      maxIters: Int = 50): DataFrame =
    survivorsFromPairsCounted(ids, pairs, maxIters)._1

  /** [[survivorsFromPairs]] plus the number of propagation iterations it
    * ran — the observable the convergence specs pin (min-label needs
    * ~diameter rounds; the star kernel ~log n). */
  private[graft] def survivorsFromPairsCounted(ids: DataFrame,
      pairs: DataFrame, maxIters: Int = 50): (DataFrame, Int) = {
    val edges = pairs.select(col("a").as("x"), col("b").as("y"))
      .unionAll(pairs.select(col("b").as("x"), col("a").as("y")))
      .pin() // materialize once; reused every iteration
    var labels = ids.select(col("id"), col("id").as("label"))
      .pin()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val neigh = edges
        .join(labels.select(col("id").as("y"), col("label").as("nlab")),
          Seq("y"))
        .groupBy(col("x")).agg(min(col("nlab")).as("nl"))
      val updated = labels
        .join(neigh.select(col("x").as("id"), col("nl")), Seq("id"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("next"))
        .pin()
      changed = updated.filter(col("next") < col("label")).count()
      // the superseded checkpoint's cached blocks are dead weight now —
      // without this, the loop pins O(iterations × |ids|) rows in storage
      labels.unpersist()
      labels = updated.select(col("id"), col("next").as("label"))
      iter += 1
    }
    val out = labels.select(col("id"), col("label").as("survivor_id"))
    edges.unpersist()
    (out, iter)
  }

  /** Large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014): the
    * SAME output contract as [[survivorsFromPairs]] — `(id, survivor_id
    * = smallest id in the component)` for every id in the universe —
    * but converging in O(log n) alternating rounds instead of
    * O(component DIAMETER) label-propagation hops.
    *
    * When each kernel wins: near-dup clusters are small and dense by
    * construction (LSH + verify), so min-label converges in 2-3 rounds
    * and stays the dedup default; a web-scale LINK graph is chain/tree-
    * shaped with diameter in the hundreds, where min-label's one-hop-
    * per-round propagation is ~500 Spark rounds and this kernel is ~10
    * ([[graft.operators.Graph.components]] routes here — the
    * convergence spec pins both round counts on the same chain graph).
    *
    * Round shape (all relational, edge-relation-bounded, never corpus
    * rows):
    *   - large-star: every node u connects its STRICTLY-LARGER
    *     neighbors to `m = min(Γ(u) ∪ {u})`;
    *   - small-star: every node u with smaller neighbors connects them
    *     AND ITSELF to the min of that set.
    * Edges stay canonical `(x < y)`, deduped, self-loop-free; the fixed
    * point is a union of stars centered at each component's minimum.
    * Per round: two groupBy+join passes and a set-equality check, every
    * shuffle carrying id PAIRS only; `localCheckpoint` + unpersist per
    * round exactly like the min-label kernel (lineage must not grow). */
  def survivorsFromPairsStar(ids: DataFrame, pairs: DataFrame,
      maxIters: Int = 50): DataFrame =
    survivorsFromPairsStarCounted(ids, pairs, maxIters)._1

  /** [[survivorsFromPairsStar]] plus the LS+SS round count it ran. */
  private[graft] def survivorsFromPairsStarCounted(ids: DataFrame,
      pairs: DataFrame, maxIters: Int = 50): (DataFrame, Int) = {
    def canon(df: DataFrame): DataFrame = df
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("x"),
        greatest(col("x"), col("y")).as("y"))
      .distinct()
    // one star operation; `large` picks which neighbor side re-attaches
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val adj = e.select(col("x").as("u"), col("y").as("v"))
        .unionAll(e.select(col("y").as("u"), col("x").as("v")))
      if (large) {
        // m ranges over ALL neighbors ∪ self; larger neighbors attach
        val mins = adj.groupBy(col("u")).agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("mn"), col("u")).as("m"))
        canon(adj.join(mins, "u").filter(col("v") > col("u"))
          .select(col("v").as("x"), col("m").as("y")))
      } else {
        // m ranges over the SMALLER neighbors ∪ self; they and u attach
        val small = adj.filter(col("v") < col("u"))
        val mins = small.groupBy(col("u")).agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("mn"), col("u")).as("m"))
        canon(small.join(mins, "u")
          .select(col("v").as("x"), col("m").as("y"))
          .unionAll(mins.select(col("u").as("x"), col("m").as("y"))))
      }
    }
    var e = canon(pairs.select(col("a").as("x"), col("b").as("y")))
      .pin()
    var rounds = 0
    var converged = e.isEmpty
    while (!converged && rounds < maxIters) {
      // one materialization per round: the large-star intermediate is
      // consumed exactly once by the small-star pass, so pinning it
      // bought nothing and cost a full edge-relation write+read per
      // round (round 17; lineage stays bounded — `next` is
      // checkpointed, so a round's plan is at most two star ops deep)
      val next = star(star(e, large = true), large = false)
        .pin()
      // exact set equality in ONE job (round 17; was count + count +
      // except = three driver round-trips per round): both sides are
      // canonical DISTINCT edge sets, so tagging rows 1/3 and summing
      // per edge yields 4 exactly on the intersection — any other sum
      // is a difference row. `isEmpty` short-circuits at the first one.
      converged = next.select(col("x"), col("y"), lit(1L).as("side"))
        .unionAll(e.select(col("x"), col("y"), lit(3L).as("side")))
        .groupBy(col("x"), col("y")).agg(sum(col("side")).as("s"))
        .filter(col("s") =!= 4L).isEmpty
      e.unpersist()
      e = next
      rounds += 1
    }
    // A non-converged exit would SILENTLY break the contract: a
    // mid-contraction edge set can hold two edges (x1,y),(x2,y) for one
    // y, so the label join below would emit duplicate id rows with
    // non-minimal survivors (min-label degrades gracefully; this kernel
    // does not). Convergence is O(log n) rounds, so reaching maxIters
    // means a pathological input or too small a cap — fail loudly.
    require(converged,
      s"large-star/small-star did not converge within $maxIters rounds" +
        " — raise maxIters (convergence is O(log n) rounds; hitting the" +
        " cap on a real graph indicates a malformed edge relation)")
    // fixed point = stars centered at component minima: every canonical
    // edge (x, y) reads "y's survivor is x"; centers and singletons
    // survive as themselves
    val lab = e.select(col("y").as("id"), col("x").as("survivor_id"))
    val out = ids.join(lab, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("survivor_id"), col("id")).as("survivor_id"))
    (out, rounds)
  }

  /** Exact-substring duplication (the suffix-array-style dedup of
    * "Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2022, re-expressed relationally): two documents are substring
    * duplicates when they share a verbatim run of ≥ `k` normalized
    * tokens. Every k-token window is fingerprinted ([[graft.plans.PolyFingerprint]]
    * via [[Chunking.tokenWindows]] with stride 1), windows are grouped by
    * fingerprint, and co-occurring documents are paired. Consecutive
    * shared windows are merged into runs (gaps-and-islands on the
    * position delta), so the output reports the LONGEST shared token run
    * per pair — `longest_run_toks = max_consecutive_windows + k - 1`.
    *
    * 100 TB design:
    *   - the window relation is (fingerprint, doc_id, position) — ~20
    *     bytes per corpus TOKEN; document text itself never shuffles;
    *   - `maxDf` is the boilerplate guard: a window occurring in more
    *     than `maxDf` documents (licence headers, templates) is excluded
    *     BEFORE the self-join, which caps per-fingerprint join fanout at
    *     maxDf² and removes the classic hot-key quadratic blowup;
    *   - run detection shuffles only the (a, b, diff, pos) hit rows —
    *     proportional to actually-duplicated content, not the corpus.
    *
    * @return (doc_a, doc_b, n_shared, longest_run_toks), doc_a < doc_b:
    *         distinct shared k-windows and the longest verbatim run.
    */
  def substringPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 12, maxDf: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hits = substringHits(df, textCol, idCol, k, maxDf)
    val shared = hits.groupBy(col("a"), col("b"))
      .agg(countDistinct(col("chunk_fp")).as("n_shared"))
    // islands of consecutive positions at a constant a/b offset = runs
    val runRows = hits
      .select(col("a"), col("b"), (col("pa") - col("pb")).as("diff"),
        col("pa"))
      .distinct()
    val w = Window.partitionBy(col("a"), col("b"), col("diff"))
      .orderBy(col("pa"))
    val longest = runRows
      .withColumn("isl", col("pa") - row_number().over(w))
      .groupBy(col("a"), col("b"), col("diff"), col("isl"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("a"), col("b"))
      .agg(max(col("run")).as("max_run"))
    shared.join(longest, Seq("a", "b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("n_shared"),
        (col("max_run") + lit(k.toLong - 1)).as("longest_run_toks"))
  }

  /** Shared candidate stage of the substring family: guarded k-window
    * fingerprint matches as (chunk_fp, a, pa, b, pb), a < b.
    *
    * The window relation is materialized once — it feeds the df-guard
    * aggregate AND both sides of the self-join; without pinning, the
    * corpus is re-scanned/re-tokenized for every consumer (measured 22
    * parquet scans in one sf0.1 plan). ~20 bytes/token, executor-storage
    * backed; a real cluster would `checkpoint` or write the window table.
    * Hit rows are proportional to duplicated content, not the corpus. */
  private def substringHits(df: DataFrame, textCol: String, idCol: String,
      k: Int, maxDf: Int): DataFrame = {
    require(k > 1 && maxDf >= 2)
    val wins = Chunking.tokenWindows(df, textCol, idCol, window = k,
        stride = 1)
      .filter(col("n_toks") === k)
      .select(col("chunk_fp"), col("doc_id"), col("start_tok"))
      .pin()
    val guard = wins.groupBy(col("chunk_fp"))
      .agg(countDistinct(col("doc_id")).as("dfc"))
      .filter(col("dfc").between(2, maxDf))
      .select(col("chunk_fp"))
    val g = wins.join(guard, Seq("chunk_fp"))
    val l = g.select(col("chunk_fp"), col("doc_id").as("a"),
      col("start_tok").as("pa"))
    val r = g.select(col("chunk_fp"), col("doc_id").as("b"),
      col("start_tok").as("pb"))
    l.join(r, Seq("chunk_fp")).filter(col("a") < col("b"))
      .pin()
  }

  /** Substring SCRUB (the removal half of Lee et al. 2022): every
    * duplicated k-token window is deleted from the HIGHER-id document of
    * each matching pair — the lower id keeps its copy, so exactly one
    * occurrence survives per matched pair and the rule is deterministic
    * and order-free. Documents are rebuilt from their kept tokens.
    *
    * 100 TB design: the removal map (doc_id → window-start list) is
    * proportional to duplicated content and joins back to the corpus by
    * id (broadcast when small, one hash shuffle otherwise); the rebuild
    * itself is a row-local higher-order filter over the token array —
    * token positions are tested against the start intervals in place,
    * no explode of per-token rows, no second corpus shuffle.
    *
    * @return (doc_id, n_toks, n_removed, clean_sha) for EVERY input row:
    *         original token count, tokens deleted, sha256 of the
    *         space-joined surviving tokens.
    */
  def substringScrub(df: DataFrame, textCol: String, idCol: String,
      k: Int = 12, maxDf: Int = 8): DataFrame = {
    val hits = substringHits(df, textCol, idCol, k, maxDf)
    val removals = hits.select(col("b").as("rm_id"), col("pb")).distinct()
      .groupBy(col("rm_id"))
      .agg(sort_array(collect_set(col("pb"))).as("rm_starts"))
    val toks = df.select(col(idCol).as("doc_id"),
      TF.normTokens(col(textCol)).as("toks"))
    toks.join(removals, toks("doc_id") === removals("rm_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("rm_starts"), array().cast("array<int>")).as("rm"))
      .select(col("doc_id"), col("toks"),
        filter(col("toks"), (_, i) =>
          !exists(col("rm"), s => i >= s && i < s + lit(k))).as("kept"))
      .select(col("doc_id"),
        size(col("toks")).as("n_toks"),
        (size(col("toks")) - size(col("kept"))).as("n_removed"),
        sha2(concat_ws(" ", col("kept")), 256).as("clean_sha"))
  }

  /** Line-level dedup (the RefinedWeb/CCNet line filter): lines whose
    * exact text appears in MORE than `maxDf` distinct documents are
    * boilerplate (nav chrome, cookie banners, copyright footers) and are
    * removed from EVERY document; each doc is rebuilt from its kept lines
    * in order.
    *
    * 100 TB design, mirroring the substring-dedup shape: the line stream
    * that shuffles carries only `(line fingerprint, doc_id)` — ~16 bytes
    * per line, text never moves; the df aggregate partial-combines; the
    * hot-line table (df > maxDf) is boilerplate-vocabulary-sized; removal
    * positions collapse to one kill-list row per affected doc; and the
    * rebuild is a row-local indexed higher-order filter over the doc's own
    * line array. The join key is the PAIR (portable ~41-bit Karp-Rabin
    * fingerprint, xxhash64) — the poly fingerprint alone reaches its
    * birthday bound near ~1.5M distinct lines (√(2^41)·Θ(1)), far below
    * corpus scale, and a collision would merge unrelated lines'
    * doc-frequencies (possibly deleting an innocent line everywhere);
    * pairing with an independent 64-bit hash pushes the bound past 10^15
    * lines while the oracle stays checkable with the line STRING as key
    * (injectivity of the pair over the corpus population is spec-pinned,
    * like the substring-window oracle).
    *
    * @return (doc_id, n_lines, n_removed, clean_sha) — sha256 of the
    *         rebuilt newline-joined text
    */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
      maxDf: Int = 8): DataFrame = {
    val lines = df.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
      .select(col("doc_id"), col("line_no"),
        TF.fingerprintPolyRaw(col("line")).as("fp"),
        xxhash64(col("line")).as("fp2"))
    val hot = lines.groupBy(col("fp"), col("fp2"))
      .agg(countDistinct(col("doc_id")).as("line_df"))
      .filter(col("line_df") > maxDf)
    val removals = lines.join(hot, Seq("fp", "fp2"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("line_no"))).as("kill"))
    df.select(col(idCol).as("doc_id"), split(col(textCol), "\n").as("ls"))
      .join(removals, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ls"),
        coalesce(col("kill"), array().cast("array<int>")).as("kill"))
      .select(col("doc_id"), col("ls"),
        filter(col("ls"), (_, i) => !array_contains(col("kill"), i))
          .as("kept"))
      .select(col("doc_id"),
        size(col("ls")).as("n_lines"),
        (size(col("ls")) - size(col("kept"))).as("n_removed"),
        sha2(concat_ws("\n", col("kept")), 256).as("clean_sha"))
  }

  /** WITHIN-document repeated-line scrub (the intra-doc half of the
    * CCNet/RefinedWeb line filters — scraped pages repeat nav blocks and
    * list fragments inside one document): every line keeps only its FIRST
    * occurrence within its own document; later repeats are dropped and
    * the doc is rebuilt in order.
    *
    * Fully row-local — a single indexed higher-order filter against the
    * doc's own line array (`array_position` finds the first occurrence);
    * no join, no aggregate, no shuffle of any kind, so it composes as a
    * free pre-pass before the cross-document [[lineDedup]].
    *
    * @return (doc_id, n_lines, n_removed, clean_text, clean_sha) — the
    *         rebuilt text rides along so the operator composes as a
    *         pipeline pre-pass, not just a report
    */
  def intraLineDedup(df: DataFrame, textCol: String, idCol: String)
      : DataFrame =
    df.select(col(idCol).as("doc_id"), split(col(textCol), "\n").as("ls"))
      .select(col("doc_id"), col("ls"),
        filter(col("ls"), (l, i) => array_position(col("ls"), l) === i + 1)
          .as("kept"))
      .select(col("doc_id"),
        size(col("ls")).as("n_lines"),
        (size(col("ls")) - size(col("kept"))).as("n_removed"),
        concat_ws("\n", col("kept")).as("clean_text"))
      .withColumn("clean_sha", sha2(col("clean_text"), 256))

  /** Character-n-gram Jaccard dedup: exact n-gram-set Jaccard, with
    * MinHash-LSH candidate generation over the n-gram sets (a blocked
    * O(n²/blocks) variant was tried first and is quadratic-with-a-constant
    * — pathological already at sf0.1; LSH banding keeps candidate
    * generation near-linear while the final Jaccard is still EXACT). */
  def ngramJaccardNearDup(df: DataFrame, textCol: String, idCol: String,
      n: Int = 5, threshold: Double = 0.5): DataFrame =
    lshJaccardPairs(
      df.select(col(idCol).as("id"),
        TF.charNgramHashes(col(textCol), n).as("shingles")),
      numHashes = 32, bands = 8, threshold = threshold)

  /** Diagnostic: the distinct LSH candidate pairs [[ngramJaccardNearDup]]
    * would verify (same shingling and banding) — for scaling probes that
    * need to attribute growth to candidate volume vs per-pair cost
    * (tools/ScaleProbe). */
  def ngramCandidatePairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 5): DataFrame = {
    val bnd = bandRows(
      df.select(col(idCol).as("id"),
        TF.charNgramHashes(col(textCol), n).as("shingles")),
      numHashes = 32, bands = 8)
    bnd.select(col("bk"), col("id").as("a"))
      .join(bnd.select(col("bk"), col("id").as("b")), Seq("bk"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** SEMANTIC dedup (the SemDeDup recipe, Abbas et al. 2023): cluster the
    * embedding space with k-means, then compare pairs only WITHIN each
    * cluster and flag those above the cosine threshold — semantically
    * redundant documents whose raw text may share nothing (translations,
    * re-writes, boilerplate paraphrases) that token-level LSH can't see.
    *
    * The centroid table comes from the caller (train with
    * [[Similarity.kmeansCentroids]]; production re-trains periodically) so
    * clustering cost is paid once per corpus snapshot, not per dedup run.
    *
    * 100 TB design: cell assignment is the same row-local
    * [[graft.plans.NearestCentroids]] projection as the IVF index — the
    * corpus is never shuffled whole, only `(cell, id)` pairs feed the
    * within-cell self-join (same candidate-ids-only discipline as the LSH
    * families: vectors join back to the small pair list afterwards). The
    * quadratic term is Σ cell_size² — bounded by training enough
    * centroids that cells stay ~constant-sized (SemDeDup uses corpus_size
    * / ~10^3 clusters; nlist is the knob), with AQE splitting any skewed
    * cell. A cross-cluster near-pair is missed by construction — that is
    * SemDeDup's documented approximation, traded for never comparing
    * across cells. */
  /** Auto-sized convenience overload: trains centroids with
    * [[Similarity.kmeansCentroids]] at the resolved nlist — by default
    * [[Similarity.AutoNlist]], i.e. ≈ √N, the operating point that keeps
    * the within-cell O(cell²) compare bounded as the corpus grows (the
    * round-6 x20 probe measured fixed nlist=16 at 2.5× the √N cost at
    * 100k docs). Pass an explicit nlist/centroid table for a pinned
    * reproducible cell rule (the oracle queries do). */
  def semanticNearDup(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, nlist: Int, iters: Int): DataFrame = {
    val (ids, vecs) = Similarity.kmeansCentroids(df, nlist, iters, vecCol,
      idCol)
    semanticNearDup(df, vecCol, idCol, ids, vecs, threshold)
  }

  def semanticNearDup(df: DataFrame, vecCol: String, idCol: String,
      centIds: Array[Long], centVecs: Array[Array[Double]],
      threshold: Double): DataFrame = {
    val assigned = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      element_at(VF.nearestCentroids(col(vecCol), centIds, centVecs, 1), 1)
        .as("cell"))
    val ids = assigned.select(col("cell"), col("id"))
    val pairs = ids.select(col("cell"), col("id").as("a"))
      .join(ids.select(col("cell"), col("id").as("b")), Seq("cell"))
      .filter(col("a") < col("b"))
    val vecs = assigned.select(col("id"), col("v"))
    pairs
      .join(vecs.select(col("id").as("a"), col("v").as("v_a")), Seq("a"))
      .join(vecs.select(col("id").as("b"), col("v").as("v_b")), Seq("b"))
      .withColumn("cosine", VF.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("a"), col("b"), col("cell"), col("cosine"))
  }

  /** Embedding-cosine near-dup: random-hyperplane LSH buckets (multi-block
    * probing), exact cosine verification within buckets. */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.95, nBits: Int = 32, blocks: Int = 4)
      : DataFrame = {
    // Signature in its own projection, blocks via explode: keeps the
    // hyperplane projection (nBits × dim hash-multiplies) evaluated once
    // per row instead of once per block (see minhashNearDup note).
    val sigs = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      VF.hyperplaneSignature(col(vecCol), nBits).as("sig"))
    val exploded = sigs.select(col("id"),
      explode(VF.signatureBlocks(col("sig"), nBits, blocks)).as("bk"))
    val l = exploded.select(col("bk"), col("id").as("a"))
    val r = exploded.select(col("bk"), col("id").as("b"))
    // dedupe candidate IDs first — the bucket join and distinct shuffle
    // only (block_key, id); vectors are joined back to the (small)
    // candidate list afterwards, never shuffled through the pair explosion
    val pairs = l.join(r, Seq("bk")).filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    pairs
      .join(vecs.select(col("id").as("a"), col("v").as("v_a")), Seq("a"))
      .join(vecs.select(col("id").as("b"), col("v").as("v_b")), Seq("b"))
      .withColumn("cosine", VF.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("a"), col("b"), col("cosine"))
  }

  // ---- Incremental NEAR-dup: written LSH band index + delta probe ----

  /** Handle to a written LSH near-dup index (see [[buildLshIndex]]):
    * `path/bands` holds `(bk, id)` band-key rows, `path/shingles` holds
    * `(id, shingles)` word-shingle sets for exact verification. The hash
    * parameters ride along so probes derive IDENTICAL band keys. */
  final case class LshIndex(path: String, shingleK: Int, numHashes: Int,
      bands: Int)

  /** Write the LSH near-dup index for a curated corpus — the near-dup
    * twin of the digest index behind [[incrementalNewByDigest]]: build
    * once per snapshot, probe every delta against it without touching
    * corpus text again.
    *
    * Two datasets: the band-key relation (16 bytes/row × bands — the
    * probe's join target) and the shingle-set sidecar (verification
    * payload, read only for candidate ids). Signatures/band keys are
    * row-local; both writes are shuffle-free corpus scans. */
  def buildLshIndex(corpus: DataFrame, textCol: String, idCol: String,
      path: String, shingleK: Int = 3, numHashes: Int = 64,
      bands: Int = 16): LshIndex = {
    val index = LshIndex(path, shingleK, numHashes, bands)
    writeLshDatasets(corpus, textCol, idCol, index, "overwrite")
    index
  }

  /** Append a delta's band keys and shingle sets to an existing index —
    * the post-probe step of an ingest loop, so later deltas see this one.
    * No dedup of re-appended ids (same convention as the IVF append):
    * duplicate band rows only re-nominate candidates, which the probe's
    * distinct collapses, but duplicate SIDECAR rows would duplicate
    * verified pairs — callers with at-least-once retries must make the
    * append conditional on the batch id (idempotent sink pattern —
    * [[graft.streaming.StreamingPipelines.ingestNearDupStream]] does,
    * via the index's [[graft.streaming.IngestLedger]] high-water mark). */
  def appendToLshIndex(index: LshIndex, delta: DataFrame, textCol: String,
      idCol: String): LshIndex = {
    writeLshDatasets(delta, textCol, idCol, index, "append")
    index
  }

  /** Stage an append's datasets under `root` MIRRORING the index layout
    * (`root/bands`, `root/shingles`) without touching the live index —
    * the write half of the streaming loop's exactly-once staged commit
    * ([[graft.streaming.IngestLedger.exactlyOnceAppend]] publishes the
    * staged files by per-file rename after its manifest commit point). */
  def stageLshAppend(index: LshIndex, delta: DataFrame, textCol: String,
      idCol: String, root: String): Unit =
    writeLshDatasets(delta, textCol, idCol, index.copy(path = root),
      "append")

  /** Compact a written LSH index into a FRESH path — the maintenance
    * half of the ingest loop: every micro-batch appends one file per
    * relation, so a long-running index accumulates thousands of small
    * files and probes pay per-file open/footer cost. Compaction
    * rewrites both relations with bounded file counts and returns the
    * new handle; build-at-fresh-path + handle swap is the documented
    * zero-downtime pattern (readers of the old path are never
    * disturbed — delete it when they drain). Sidecar first, same
    * bands-present ⇒ sidecar-present crash ordering as the writers.
    * Probe results over the compacted index are spec-pinned identical
    * (and oracle-pinned — `dedup_compacted_probe` reuses the
    * uncompacted probe's full value oracle). */
  def compactLshIndex(spark: SparkSession, index: LshIndex,
      newPath: String, filesPerRelation: Int = 4): LshIndex = {
    require(filesPerRelation >= 1, "filesPerRelation must be >= 1")
    // COALESCE, not repartition: compaction needs no clustering — only
    // fewer files — and a full shuffle of a corpus-scaled index
    // relation just to merge files is the scale bug. coalesce glues
    // input splits into filesPerRelation write tasks shuffle-free
    // (the Layout.compact discipline; plan contract spec-pinned: zero
    // Exchange in the compaction jobs).
    spark.read.parquet(s"${index.path}/shingles")
      .coalesce(filesPerRelation)
      .write.mode("overwrite").parquet(s"$newPath/shingles")
    spark.read.parquet(s"${index.path}/bands")
      .coalesce(filesPerRelation)
      .write.mode("overwrite").parquet(s"$newPath/bands")
    index.copy(path = newPath)
  }

  /** Shared writer — single place that defines the on-disk schemas
    * `bands(bk, id)` and `shingles(id, shingles)`. The shingle relation
    * is materialized once (localCheckpoint) so the text kernel — the
    * dominant cost — runs ONE corpus pass feeding both writes; a
    * production 100 TB build that cannot hold the shingle relation in
    * block storage writes the sidecar first and derives the band
    * relation by re-reading it. */
  private def writeLshDatasets(docs: DataFrame, textCol: String,
      idCol: String, index: LshIndex, mode: String): Unit = {
    val sh = docs.select(col(idCol).as("id"),
      TF.wordShingleHashes(col(textCol), index.shingleK).as("shingles"))
      .pin()
    // An overwrite REBUILD deletes the band relation up front: probes
    // gate readiness on bands, so a crash mid-rebuild fails loud
    // (bands missing) instead of silently mixing the new sidecar with
    // stale v1 band keys. Rebuilders wanting zero downtime should build
    // at a fresh path and swap the handle.
    if (mode == "overwrite") {
      val hPath = new org.apache.hadoop.fs.Path(s"${index.path}/bands")
      val fs = hPath.getFileSystem(
        docs.sparkSession.sparkContext.hadoopConfiguration)
      fs.delete(hPath, true)
      ()
    }
    // sidecar FIRST: probes and the streaming loop gate readiness on the
    // bands relation, so bands-present must imply sidecar-present — a
    // crash between the writes then re-appends the sidecar (benign
    // duplicate rows, see appendToLshIndex) instead of leaving band rows
    // whose candidates silently drop at the verification join
    sh.write.mode(mode).parquet(s"${index.path}/shingles")
    bandRows(sh, index.numHashes, index.bands)
      .write.mode(mode).parquet(s"${index.path}/bands")
  }

  /** Probe a DELTA batch against a [[buildLshIndex]] written index:
    * near-duplicate `(a = corpus id, b = delta id, jaccard)` pairs with
    * exact-Jaccard verification, same semantics as [[minhashNearDup]]
    * restricted to corpus×delta pairs.
    *
    * 100 TB design: the delta's band keys BROADCAST into the index scan
    * (a small delta is the operator's contract — it is a daily ingest),
    * so the corpus-sized band relation is scanned once and NEVER
    * shuffled; only matching candidate rows survive into the distinct.
    * Verification reads the shingle sidecar filtered by the broadcast
    * candidate ids — again scan + broadcast join, no corpus shuffle.
    * Corpus text is never touched at all. */
  def lshProbeNearDup(index: LshIndex, delta: DataFrame, textCol: String,
      idCol: String, threshold: Double = 0.8): DataFrame = {
    val spark = delta.sparkSession
    // materialized once: dSh feeds both the band derivation and the
    // verification join — without this the delta text kernel (and the
    // delta source scan) would run twice per probe
    val dSh = delta.select(col(idCol).as("id"),
      TF.wordShingleHashes(col(textCol), index.shingleK).as("shingles"))
      .pin()
    // the bucketed probe's broadcast-budget guard (round 13), same
    // contract: an over-budget backfill delta demotes the broadcast
    // hints to planner-chosen shuffle joins
    val deltaSmall = {
      val t = spark.sessionState.conf.autoBroadcastJoinThreshold
      t > 0 && shingledDeltaBytes(dSh) <= t
    }
    def hinted(df: DataFrame): DataFrame =
      if (deltaSmall) broadcast(df) else df
    val dBands = bandRows(dSh, index.numHashes, index.bands)
      .select(col("bk"), col("id").as("b"))
    val cands = spark.read.parquet(s"${index.path}/bands")
      .join(hinted(dBands), Seq("bk"))
      .select(col("id").as("a"), col("b")).distinct()
    val withA = spark.read.parquet(s"${index.path}/shingles")
      .select(col("id").as("a"), col("shingles").as("sh_a"))
      .join(hinted(cands), Seq("a"))
    withA
      .join(hinted(dSh.select(col("id").as("b"),
        col("shingles").as("sh_b"))), Seq("b"))
      .withColumn("jaccard", TF.jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  // ---- Bucketed LSH index: partition-pruned probes (round 11) ----

  /** Shuffle for a bucketed partitioned write with WITHIN-bucket
    * salting (round 13). Plain `repartition(col("bucket"))` hash-
    * partitions on a column with only nBuckets distinct values, so a
    * full-corpus build runs at most nBuckets non-empty write tasks,
    * each carrying corpus/nBuckets bytes — at 100× scale with the
    * default nBuckets that is a ~0.4 TB task, the build bottleneck.
    * Adding `pmod(hash(saltKey, seed), fpb)` to the shuffle key fans
    * each bucket across fpb tasks; `partitionBy("bucket")` prunes on
    * DIRECTORIES, not file counts, so probes' PartitionFilters are
    * untouched (spec-pinned) — buckets simply hold several files until
    * the next compaction. `filesPerBucket <= 0` means AUTO:
    * ceil(defaultParallelism / nBuckets), which resolves to 1 on a
    * laptop (byte-identical layout to round 11/12) and scales the
    * build fan-out with the cluster on a fleet. The salt hash carries
    * a seed distinct from the bucket hash so the two keys decorrelate
    * within a bucket. */
  private def saltedByBucket(df: DataFrame, saltKey: Column,
      nBuckets: Int, filesPerBucket: Int): DataFrame = {
    val fpb =
      if (filesPerBucket > 0) filesPerBucket
      else math.max(1,
        (df.sparkSession.sparkContext.defaultParallelism + nBuckets - 1)
          / nBuckets)
    if (fpb == 1) df.repartition(col("bucket"))
    else df.repartition(nBuckets * fpb, col("bucket"),
      pmod(hash(saltKey, lit(0x5a17)), lit(fpb)))
  }

  /** Broadcast-budget guard (round 13): hint `broadcast(df)` only when
    * the caller's measured byte estimate fits the session's
    * `autoBroadcastJoinThreshold`; above it (or with broadcasts
    * disabled via threshold -1) return the relation UNHINTED so the
    * planner shuffles it. The probes' "delta small by contract"
    * assumption is real for daily ingest but a backfill day violates
    * it silently at the broadcast-size wall — this turns that wall
    * into a planned shuffle join with identical semantics
    * (oracle-pinned by the oversized-delta spec). */
  private def broadcastIfUnder(df: DataFrame, estBytes: Long): DataFrame = {
    val t = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (t > 0 && estBytes <= t) broadcast(df) else df
  }

  /** Measured size proxy for a shingled delta (`id`, `shingles`): one
    * cheap job over the already-localCheckpointed rows — 8 bytes per
    * shingle hash plus a fixed per-row overhead that also covers the
    * derived band rows (bands ≤ numHashes ints per doc). Exact enough
    * to keep daily deltas on the broadcast fast path and push backfill
    * days over to the shuffle fallback. */
  private def shingledDeltaBytes(dSh: DataFrame): Long = {
    val r = dSh.select(count(lit(1)).as("n"),
      coalesce(sum(size(col("shingles"))), lit(0L)).as("s")).head()
    r.getLong(0) * 512L + r.getLong(1) * 8L
  }

  /** Handle to a BUCKETED written LSH index (see
    * [[buildLshIndexBucketed]]): like [[LshIndex]], but both relations
    * are hash-partitioned on disk — bands by band key, the shingle
    * sidecar by doc id — so probes become PARTITION-PRUNED scans
    * instead of full-relation scans. */
  final case class LshIndexBucketed(path: String, shingleK: Int,
      numHashes: Int, bands: Int, nBuckets: Int)

  /** [[buildLshIndex]]'s scale successor for snapshot indexes — the
    * term-index discipline ([[InvertedIndex.build]]) applied to the
    * near-dup path: band rows are written `partitionBy` a
    * `pmod(hash(bk), nBuckets)` bucket (repartitioned BY bucket first,
    * so each bucket is one file, not one file per task), and the
    * shingle sidecar likewise by `hash(id)`. A probe then reads only
    * |distinct probe band-key buckets| of the band relation and
    * |distinct candidate-id buckets| of the sidecar (PartitionFilters,
    * plan-spec-pinned) — at 100 TB a small daily delta touches a few
    * buckets of a corpus-sized index instead of scanning all of it.
    * Refresh: [[appendToLshIndexBucketed]] writes delta rows INTO their
    * bucket partitions (exactly-once via the ingest ledger), and
    * [[compactLshIndexBucketed]] re-merges the per-batch bucket files —
    * pruned probes AND incremental ingest, no corpus rebuild.
    * Build parallelism: corpus-sized writes go through
    * [[saltedByBucket]] (round 13) so the fan-out is NOT capped at
    * nBuckets tasks; `filesPerBucket` 0 = auto from the cluster. */
  def buildLshIndexBucketed(corpus: DataFrame, textCol: String,
      idCol: String, path: String, shingleK: Int = 3, numHashes: Int = 64,
      bands: Int = 16, nBuckets: Int = 64, filesPerBucket: Int = 0)
      : LshIndexBucketed = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    val sh = corpus.select(col(idCol).as("id"),
      TF.wordShingleHashes(col(textCol), shingleK).as("shingles"))
      .pin()
    // sidecar first — same bands-present ⇒ sidecar-present crash
    // ordering as the flat writer
    saltedByBucket(
      sh.withColumn("bucket", pmod(hash(col("id")), lit(nBuckets))),
      col("id"), nBuckets, filesPerBucket)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/shingles")
    saltedByBucket(
      bandRows(sh, numHashes, bands)
        .withColumn("bucket", pmod(hash(col("bk")), lit(nBuckets))),
      col("id"), nBuckets, filesPerBucket)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/bands")
    LshIndexBucketed(path, shingleK, numHashes, bands, nBuckets)
  }

  /** [[lshProbeNearDup]] over a bucketed index: identical semantics
    * and arithmetic (oracle-pinned — `dedup_bucketed_probe` answers to
    * the same full value oracle), but both index scans carry partition
    * filters. The two bucket lists cross the driver as ≤ nBuckets ints
    * each — index bookkeeping, not data. Operating point (measured
    * on replicated indexes): the pruning pays for its fixed bookkeeping
    * (two driver jobs + per-bucket file opens) only once the index
    * dwarfs a node's per-trigger scan budget — below that, prefer the
    * flat [[lshProbeNearDup]]; the partition-filter plan contract is
    * what transfers to cluster scale. */
  def lshProbeNearDupBucketed(index: LshIndexBucketed, delta: DataFrame,
      textCol: String, idCol: String, threshold: Double = 0.8)
      : DataFrame = {
    val spark = delta.sparkSession
    def emptyPairs: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          delta.schema(idCol).dataType),
        org.apache.spark.sql.types.StructField("b",
          delta.schema(idCol).dataType),
        org.apache.spark.sql.types.StructField("jaccard",
          org.apache.spark.sql.types.DoubleType))))
    val dSh = delta.select(col(idCol).as("id"),
      TF.wordShingleHashes(col(textCol), index.shingleK).as("shingles"))
      .pin()
    // broadcast-budget guard (round 13): measure the checkpointed
    // delta once; an over-budget delta (backfill day) demotes ALL
    // THREE delta-derived broadcasts to planner-chosen shuffle joins —
    // cands is delta-lower-bounded (>= one row per matched delta doc),
    // so the one measurement governs the trio
    val deltaSmall = {
      val t = spark.sessionState.conf.autoBroadcastJoinThreshold
      t > 0 && shingledDeltaBytes(dSh) <= t
    }
    def hinted(df: DataFrame): DataFrame =
      if (deltaSmall) broadcast(df) else df
    // materialized: feeds the bucket collection AND the candidate join
    val dBands = bandRows(dSh, index.numHashes, index.bands)
      .select(col("bk"), col("id").as("b"))
      .pin()
    val probeBuckets = dBands
      .select(pmod(hash(col("bk")), lit(index.nBuckets)).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (probeBuckets.isEmpty) return emptyPairs
    // The candidate relation is pinned LAZILY (round 18, §1.2 — don't
    // compute things twice): the candBuckets collect below is the first
    // action over it, so that one job materializes the pruned-bands
    // join and the final plan reads the pinned rows instead of
    // re-running it (round 17 kept it un-materialized and paid the
    // bands join twice per probe — measured in the job profile). The
    // bands-side PartitionFilters contract is still spec-pinned via
    // [[lshProbeCandsPlan]], which exposes the exact relation this
    // probe executes inside its candidate job. `eager = false` because
    // the pin, not eagerness, is the goal — no extra materialization
    // job. cands is delta-proportional (≥1 row per matched delta doc),
    // the same audit-sized-pin contract as dSh/dBands above.
    val cands = bucketedCands(index, dBands, probeBuckets, hinted)
      .pinLazy()
    val candBuckets = cands
      .select(pmod(hash(col("a")), lit(index.nBuckets)).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (candBuckets.isEmpty) return emptyPairs
    spark.read.parquet(s"${index.path}/shingles")
      .filter(col("bucket").isin(candBuckets: _*))
      .select(col("id").as("a"), col("shingles").as("sh_a"))
      .join(hinted(cands), Seq("a"))
      .join(hinted(dSh.select(col("id").as("b"),
        col("shingles").as("sh_b"))), Seq("b"))
      .withColumn("jaccard", TF.jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** The bucketed probe's candidate stage: pruned bands scan ⋈ delta
    * band rows → distinct (a, b) id pairs. Shared by the probe (which
    * pins its one execution) and the plan-contract spec hook below. */
  private def bucketedCands(index: LshIndexBucketed, dBands: DataFrame,
      probeBuckets: Seq[Int],
      hinted: DataFrame => DataFrame): DataFrame =
    dBands.sparkSession.read.parquet(s"${index.path}/bands")
      .filter(col("bucket").isin(probeBuckets: _*))
      .join(hinted(dBands), Seq("bk"))
      .select(col("id").as("a"), col("b")).distinct()

  /** Spec hook (round 18): the UNPINNED candidate plan
    * [[lshProbeNearDupBucketed]] executes inside its pinned candidate
    * job — the plan-contract spec asserts the bands-side partition
    * pruning here, since the probe's FINAL plan now reads the pinned
    * candidate rows (`Scan ExistingRDD`) rather than re-running the
    * bands join. Same construction, same pruning, no pin. */
  private[graft] def lshProbeCandsPlan(index: LshIndexBucketed,
      delta: DataFrame, textCol: String, idCol: String): DataFrame = {
    val dSh = delta.select(col(idCol).as("id"),
      TF.wordShingleHashes(col(textCol), index.shingleK).as("shingles"))
    val dBands = bandRows(dSh, index.numHashes, index.bands)
      .select(col("bk"), col("id").as("b"))
    val probeBuckets = dBands
      .select(pmod(hash(col("bk")), lit(index.nBuckets)).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    bucketedCands(index, dBands, probeBuckets, identity)
  }

  /** Stage a delta's band keys and shingle sets under `root` MIRRORING
    * the bucketed index layout (`root/shingles/bucket=…`,
    * `root/bands/bucket=…`) — the write half of
    * [[appendToLshIndexBucketed]]'s staged commit. Each relation is
    * repartitioned BY bucket before the partitioned write, so a delta
    * adds at most ONE file per touched bucket per batch (delta-
    * proportional shuffle — the delta is small by contract). */
  def stageLshAppendBucketed(index: LshIndexBucketed, delta: DataFrame,
      textCol: String, idCol: String, root: String): Unit = {
    val sh = delta.select(col(idCol).as("id"),
      TF.wordShingleHashes(col(textCol), index.shingleK).as("shingles"))
      .pin()
    sh.withColumn("bucket", pmod(hash(col("id")), lit(index.nBuckets)))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$root/shingles")
    bandRows(sh, index.numHashes, index.bands)
      .withColumn("bucket", pmod(hash(col("bk")), lit(index.nBuckets)))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$root/bands")
  }

  /** Append a delta to a BUCKETED LSH index, bucket-aligned and
    * exactly-once: rows stage under the index's `_ingest_staging`
    * mirror and publish into their `bucket=` partitions through
    * [[graft.streaming.IngestLedger.exactlyOnceAppend]]'s
    * stage→manifest→idempotent-rename→mark protocol, so a checkpointed
    * replay of the same (queryId, batchId) is a no-op (byte-identical
    * index — spec-pinned) and a crash at any point either re-runs
    * against an untouched index or only finishes the renames. Closes
    * round 11's gap: pruned probes ([[lshProbeNearDupBucketed]]'s
    * PartitionFilters hold over appended files — parquet partition
    * discovery is file-set-agnostic) WITHOUT rebuild-the-world
    * refresh. Anonymous callers (empty queryId) append unguarded, the
    * [[graft.streaming.BucketedSnapshotStore.publish]] rule. */
  def appendToLshIndexBucketed(index: LshIndexBucketed, delta: DataFrame,
      textCol: String, idCol: String, queryId: String = "",
      batchId: Long = 0L): LshIndexBucketed = {
    graft.streaming.IngestLedger.exactlyOnceAppend(delta.sparkSession,
      index.path, queryId, batchId)(root =>
        stageLshAppendBucketed(index, delta, textCol, idCol, root))
    index
  }

  /** Compact a bucketed LSH index into a FRESH path, merging the
    * per-batch appended files WITHIN each bucket back to one file per
    * bucket. Unlike the flat [[compactLshIndex]] (pure coalesce — no
    * clustering needed), the bucketed layout IS a clustering contract,
    * so the repartition-by-bucket here is justified (the IVF-PQ
    * compactor's rule); it is one delta-history-sized shuffle per
    * relation, amortized across every probe that follows — salted
    * within bucket ([[saltedByBucket]]) so a corpus-sized compaction
    * is not capped at nBuckets tasks. Same
    * zero-downtime handle-swap pattern, same sidecar-first crash
    * ordering, probe results spec- and oracle-pinned identical. */
  def compactLshIndexBucketed(spark: SparkSession,
      index: LshIndexBucketed, newPath: String,
      filesPerBucket: Int = 0): LshIndexBucketed = {
    Seq("shingles", "bands").foreach { rel =>
      saltedByBucket(spark.read.parquet(s"${index.path}/$rel"),
        col("id"), index.nBuckets, filesPerBucket)
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$newPath/$rel")
    }
    index.copy(path = newPath)
  }

  // ---- Bucketed digest index: partition-pruned exact-dedup probe ----

  /** Handle to a written, hash-bucketed corpus digest index (see
    * [[buildDigestIndexBucketed]]). */
  final case class DigestIndexBucketed(path: String, nBuckets: Int)

  /** The materialized digest index behind [[incrementalNewByDigest]],
    * hash-bucketed on disk (`pmod(hash(text_sha), nBuckets)`) so the
    * daily-ingest anti-join becomes a PARTITION-PRUNED scan: a delta's
    * digests map to ≤ nBuckets buckets and the probe reads only those —
    * at 100 TB the corpus digest index is itself corpus-scaled (32
    * bytes/doc), and scanning all of it per delta is the hidden cost
    * the flat layout pays. Refresh: [[appendToDigestIndexBucketed]]
    * writes a delta's digests into their bucket partitions
    * exactly-once — no corpus rebuild. */
  def buildDigestIndexBucketed(corpus: DataFrame, textCol: String,
      path: String, nBuckets: Int = 256, filesPerBucket: Int = 0)
      : DigestIndexBucketed = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    saltedByBucket(
      corpus.select(sha2(col(textCol), 256).as("text_sha"))
        .withColumn("bucket", pmod(hash(col("text_sha")), lit(nBuckets))),
      col("text_sha"), nBuckets, filesPerBucket)
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    DigestIndexBucketed(path, nBuckets)
  }

  /** [[incrementalNew]] against a [[buildDigestIndexBucketed]] written
    * index: identical semantics and output (oracle-pinned — the
    * bucketed probe answers to the same full value oracle), but the
    * index scan carries a partition filter on the delta's digest
    * buckets (≤ nBuckets ints of driver bookkeeping). Operating point
    * (measured on replicated indexes): the flat probe's cost grows with
    * the corpus (1.9× per 100× at harness scale) while this stays
    * flat, but the crossover needs an index past a node's per-trigger
    * scan budget — below that the flat anti-join is cheaper. */
  def incrementalNewBucketed(index: DigestIndexBucketed, delta: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val spark = delta.sparkSession
    // materialized: feeds the bucket collection AND the anti-join
    val grouped = exactByHash(delta, textCol, idCol).pin()
    val buckets = grouped
      .select(pmod(hash(col("text_sha")), lit(index.nBuckets))
        .as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (buckets.isEmpty) return grouped // empty delta: empty survivors
    grouped.join(
      spark.read.parquet(index.path)
        .filter(col("bucket").isin(buckets: _*))
        .select(col("text_sha")),
      Seq("text_sha"), "left_anti")
  }

  /** Stage a delta's digests under `root` mirroring the bucketed
    * digest layout (`root/bucket=…`) — the write half of
    * [[appendToDigestIndexBucketed]]'s staged commit. */
  def stageDigestAppendBucketed(index: DigestIndexBucketed,
      delta: DataFrame, textCol: String, root: String): Unit =
    delta.select(sha2(col(textCol), 256).as("text_sha"))
      .withColumn("bucket", pmod(hash(col("text_sha")), lit(index.nBuckets)))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(root)

  /** Append a delta's digests to a BUCKETED digest index,
    * bucket-aligned and exactly-once (the [[appendToLshIndexBucketed]]
    * protocol applied to the exact-dedup index): new digests land in
    * their `bucket=` partitions via the ingest ledger's staged commit,
    * so the daily loop is probe ([[incrementalNewBucketed]], pruned) →
    * append (this) with no corpus rebuild and no replay double-write.
    * Appended duplicate digests are benign for the anti-join (any
    * match suppresses) but accumulate; [[buildDigestIndexBucketed]] at
    * a fresh path is the periodic re-distinct, exactly the flat
    * pattern's compaction discipline. */
  def appendToDigestIndexBucketed(index: DigestIndexBucketed,
      delta: DataFrame, textCol: String, queryId: String = "",
      batchId: Long = 0L): DigestIndexBucketed = {
    graft.streaming.IngestLedger.exactlyOnceAppend(delta.sparkSession,
      index.path, queryId, batchId)(root =>
        stageDigestAppendBucketed(index, delta, textCol, root))
    index
  }

  // ---- Bloom-filter incremental dedup ----

  /** Odd offset for the second Bloom hash (Kirsch-Mitzenmacher double
    * hashing derives all k positions from two base hashes). */
  private val BloomSalt = 99991L

  /** Per-row array of `numHashes` Bloom bit positions in [0, 2^log2Bits):
    * two Knuth-scrambled views of the portable poly fingerprint, combined
    * as `h1 + i·(h2|1)` (h2 forced odd so the position walk covers the
    * power-of-two space). Every intermediate stays below 2^63 — ANSI-safe
    * and reproducible in any int64 SQL engine. */
  private def bloomPositions(fp: Column, log2Bits: Int,
      numHashes: Int): Column = {
    // sequence(0, -1) would silently DESCEND, deriving garbage positions
    require(numHashes > 0, "numHashes must be positive")
    // h2 < 2^41 after Knuth scrambling, so i*h2 stays below 2^63 only
    // for i < ~2^22; cap k at 64 (any real filter uses < 20 hashes)
    // instead of overflowing under ANSI mode at absurd settings
    require(numHashes <= 64, s"numHashes ($numHashes) must be <= 64")
    val m = lit(1L << log2Bits)
    val h1 = Sketches.scramble(fp)
    val h2 = Sketches.scramble(pmod(fp + lit(BloomSalt), lit(Sketches.M)))
      .bitwiseOR(lit(1L))
    transform(sequence(lit(0L), lit((numHashes - 1).toLong)),
      i => pmod(h1 + i * h2, m))
  }

  private def bitOf(p: Column): Column =
    call_function("shiftleft", lit(1L), pmod(p, lit(64L)).cast("int"))

  /** ONE-ROW Bloom index over the corpus's normalized-text fingerprints:
    * the DENSE 64-bit words of a 2^log2Bits-bit filter as `array<bigint>`
    * (index w holds bits [64w, 64w+64)) — the summary a daily-ingest
    * pipeline materializes once per snapshot and ships to every probe.
    * Dense over sparse deliberately: probes index the array O(1), where a
    * map-typed filter would linear-scan its entries per probe.
    *
    * 100 TB design: the position derivation is row-local and the
    * [[graft.plans.BloomBitsetAgg]] build partial-aggregates map-side, so
    * the shuffle carries one fixed-size bitset per partition — bounded by
    * the FILTER size, independent of corpus row count (vs. the digest
    * index's corpus-sized relation). Default 2^20 bits = 128 KiB — a
    * broadcast-trivial summary with ~1e-11 false-positive rate per probe
    * at 500 corpus docs (and still < 1% up to ~1.8e5 docs at k=4; size
    * log2Bits to ~10 bits/key for production corpora). */
  /** Handle to a built Bloom filter: the one-row `(bloom array<bigint>)`
    * relation PLUS the hash parameters that built it — probes derive
    * their positions from the handle, so build and probe cannot silently
    * diverge (the same reason [[LshIndex]] carries its parameters: a
    * numHashes mismatch is undetectable from the bitset alone and would
    * produce false negatives). */
  final case class BloomIndex(filter: DataFrame, log2Bits: Int,
      numHashes: Int)

  def bloomIndex(corpus: DataFrame, textCol: String, log2Bits: Int = 20,
      numHashes: Int = 4): BloomIndex = {
    require(log2Bits >= 6 && log2Bits <= 30, "log2Bits in [6, 30]")
    require(numHashes > 0, "numHashes must be positive")
    // fingerprint in its OWN projection, referenced twice downstream:
    // CollapseProject would otherwise inline the whole-document
    // normalize+fold kernel into the position lambda and re-evaluate it
    // per element (the minhashNearDup lesson — 8× the scan cost)
    val positions = corpus
      .select(TF.fingerprintPoly(col(textCol)).as("fp"))
      .select(bloomPositions(col("fp"), log2Bits, numHashes).as("ps"))
    BloomIndex(
      positions.agg(org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.plans.BloomBitsetAgg(
          org.apache.spark.sql.graftbridge.ColumnBridge
            .expression(col("ps")),
          log2Bits).toAggregateExpression()).as("bloom")),
      log2Bits, numHashes)
  }

  /** Probe a DELTA batch against a [[bloomIndex]]: flags every delta row
    * whose normalized-text fingerprint MAY already exist in the corpus
    * (`maybe_dup`). No false negatives — a `false` is a guaranteed-new
    * document; `true` rows go to the (rare) exact recheck or are dropped
    * when the false-positive budget allows.
    *
    * 100 TB design: the delta NEVER shuffles — the one-row filter
    * broadcasts into a row-local `forall` over the probe positions, so
    * the plan is scan → project, embarrassingly parallel. Contrast
    * [[incrementalNewByDigest]], which pays a digest-index join; the
    * Bloom path trades exactness for a corpus-size-INDEPENDENT summary.
    * Hash parameters come from the handle — the runtime size guard below
    * additionally catches a stale/mismatched filter relation. */
  def bloomMaybeDup(index: BloomIndex, delta: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val log2Bits = index.log2Bits
    val numHashes = index.numHashes
    val words = 1 << (log2Bits - 6)
    delta.crossJoin(broadcast(index.filter))
      // fp hoisted into its own projection (see bloomIndex): the position
      // derivation references it twice, which blocks CollapseProject from
      // re-inlining the document-sized kernel into the per-element lambda
      .select(col(idCol), col("bloom"),
        TF.fingerprintPoly(col(textCol)).as("fp"))
      .select(col(idCol),
        // a filter built with a different log2Bits would index past the
        // array and silently report every row guaranteed-new — fail loud
        when(size(col("bloom")) =!= lit(words),
          raise_error(concat(lit("graft bloom probe: index has "),
            size(col("bloom")),
            lit(s" words but log2Bits=$log2Bits expects $words")))
            .cast("boolean"))
          // NULL text ⇒ NULL fingerprint ⇒ no positions to match: that
          // is a guaranteed-new row, not an unknown — pin maybe_dup =
          // false (matches the oracle's no-position-rows-match semantics)
          .otherwise(coalesce(
            forall(bloomPositions(col("fp"), log2Bits, numHashes),
              p => element_at(col("bloom"),
                  (shiftright(p, 6) + lit(1L)).cast("int"))
                .bitwiseAND(bitOf(p)) =!= 0),
            lit(false))).as("maybe_dup"))
  }
}
