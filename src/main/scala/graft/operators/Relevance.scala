package graft.operators

import graft.config.Pin._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** Corpus-relevance scoring for the training-data pipeline: TF-IDF and
  * BM25 salient-term extraction (no reference counterpart — extension
  * surface, SURVEY.md §8).
  *
  * 100 TB design (plan shapes pinned by the test
  * `graft.plans.PlanContractSpec`):
  *   - the token explode is map-side only, and the (doc, term) aggregation
  *     partial-aggregates before its exchange;
  *   - document frequency is a skew-immune `groupBy(term)` partial
  *     aggregate (a window `count(*) over (partition by term)` would put
  *     every (doc, "the") row in one partition) whose OUTPUT — one row per
  *     vocabulary term — is small, so it joins back by BROADCAST: the big
  *     tf stream is never shuffled by term at all;
  *   - per-document length (BM25) is a window sum partitioned by doc_id —
  *     partitions bounded by a single document's vocabulary — and the
  *     top-k ranking window reuses the same doc_id partitioning, so the
  *     two cost one exchange total;
  *   - corpus scalars (doc count, total token count) come from a separate
  *     column-pruned pass over the raw corpus (no explode, no shuffle,
  *     1-row broadcast) instead of re-deriving the tf aggregate;
  *   - the df branch does re-compute tf (Spark recomputes shared
  *     subtrees); a production pipeline over 100 TB materializes
  *     [[termFrequencies]] once — it is public exactly for that — but two
  *     corpus passes with map-side reduction beat one pass plus a
  *     term-keyed shuffle of every (doc, term) pair.
  *
  * Determinism/oracle portability: no logarithms. The classical
  * `ln(N/df)` idf is transcendental — engines may differ in the last ulp —
  * so the engine defines idf as the RATIONAL variant `N/df` (BM25 uses the
  * same rational core). Every score is then a quotient/product of exactly
  * representable integers in fixed parenthesization order — bit-identical
  * on any IEEE-754 engine.
  *
  * BOUNDED broadcasts: a web-scale corpus has a heavy-tailed term
  * vocabulary in the billions — broadcasting "one row per term"
  * unbounded would OOM the driver at the 100× design point. Every
  * vocabulary-sized relation this file ships to executors is therefore
  * capped: the TF-IDF/BM25 ranking vocabulary by (`minDf`, `maxVocab`)
  * — the standard production prune (scikit's min_df/max_features;
  * rare-term idf is noise anyway) — and the bigram LM's context table by
  * `contextVocab` (the pruned-KenLM shape: out-of-table contexts score
  * as unseen). Collocation marginals are exact by definition (PMI needs
  * the full marginals), so they are NOT hint-broadcast: those joins run
  * on the already-aggregated pair relation and AQE picks broadcast vs
  * shuffle from the measured size.
  */
object Relevance {

  /** Default hard cap on broadcast vocabulary relations: ~2M terms ≈
    * tens of MB serialized — comfortably broadcastable, far above any
    * pruned production vocabulary. Callers pass 0 for the (unbounded,
    * never-broadcast) exact variant. */
  val DefaultMaxVocab: Int = 1 << 21

  /** Document-frequency relation restricted to the bounded ranking
    * vocabulary: terms with `df >= minDf`, then the top `maxVocab` by
    * (df desc, term asc) — a deterministic TakeOrderedAndProject cut,
    * mirrored verbatim in the driver oracles. */
  private def prunedDf(tf: DataFrame, minDf: Long, maxVocab: Int): DataFrame = {
    require(minDf >= 1, "minDf must be >= 1")
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    if (maxVocab > 0) df.orderBy(col("df").desc, col("term")).limit(maxVocab)
    else df
  }

  /** Broadcast only when provably bounded (maxVocab > 0); otherwise let
    * the planner shuffle-join — an unbounded vocabulary must never be a
    * forced broadcast. */
  private def joinVocab(big: DataFrame, vocab: DataFrame, key: String,
      maxVocab: Int): DataFrame =
    if (maxVocab > 0) big.join(broadcast(vocab), key)
    else big.join(vocab, key)

  /** Top-k salient terms per document by tf·(N/df), ties broken by term
    * text. Terms outside the (`minDf`, `maxVocab`) vocabulary are not
    * ranked. Output: (doc_id, rank, term, tf, df, score). */
  def tfIdfTopTerms(docs: DataFrame, textCol: String, idCol: String,
      k: Int, minDf: Long = 1L,
      maxVocab: Int = DefaultMaxVocab): DataFrame = {
    val tf = termFrequencies(docs, textCol, idCol)
    val df = prunedDf(tf, minDf, maxVocab)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = joinVocab(tf, df, "term", maxVocab)
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") *
          (col("n_docs").cast("double") / col("df").cast("double")))
    rankTopK(scored, k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df"), col("score"))
  }

  /** BM25 top-k terms per document (k1/b standard defaults). Same rational
    * idf `N/df`; the length normalization uses the exact integer document
    * length and the corpus mean length as a quotient of exact integer sums.
    * Terms outside the (`minDf`, `maxVocab`) vocabulary are not ranked;
    * `dl` still counts EVERY token of the document (length
    * normalization is over the full text, computed before the vocabulary
    * join). Output: (doc_id, rank, term, tf, df, dl, score). */
  def bm25TopTerms(docs: DataFrame, textCol: String, idCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75, minDf: Long = 1L,
      maxVocab: Int = DefaultMaxVocab): DataFrame = {
    val tf = termFrequencies(docs, textCol, idCol)
    val df = prunedDf(tf, minDf, maxVocab)
    // corpus scalars from a raw column-pruned scan — no tf re-derivation;
    // n_docs counts documents that contribute tokens (= rows of the old
    // dl aggregate), total_dl is the corpus token count
    val nToks = size(TF.normTokens(col(textCol)))
    val n = docs.agg(
      count(when(nToks > 0, 1)).as("n_docs"),
      sum(nToks.cast("long")).as("total_dl"))
    // document length as a window over tf: doc-bounded partitions, and
    // the ranking window below reuses this exact partitioning
    val byDoc = Window.partitionBy("doc_id")
    val scored = joinVocab(tf.withColumn("dl", sum("tf").over(byDoc)),
        df, "term", maxVocab)
      .crossJoin(broadcast(n))
      .withColumn("idf",
        col("n_docs").cast("double") / col("df").cast("double"))
      .withColumn("norm",
        lit(k1) * (lit(1.0 - b) + lit(b) *
          (col("dl").cast("double") *
            (col("n_docs").cast("double") / col("total_dl").cast("double")))))
      .withColumn("score",
        col("idf") * ((col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + col("norm"))))
    rankTopK(scored, k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df"), col("dl"), col("score"))
  }

  /** Corpus-LM surprisal quality score (the CCNet-style recipe: score
    * every document under a language model of the corpus itself; docs of
    * mostly-rare tokens are outliers — OCR noise, boilerplate soup, wrong
    * language — and land in the high-surprisal tail for filtering).
    *
    * Model: add-one-smoothed unigram LM over a top-`vocabSize` vocabulary
    * (ties at the cut broken by token text — deterministic); every
    * out-of-vocab token folds into a single OOV class whose per-token
    * count is the total OOV mass DIVIDED by the number of OOV types (the
    * standard class-based treatment: scoring each rare token with the
    * whole bucket's mass would compress exactly the high-surprisal tail
    * this filter targets). Per token the engine scores the exact INVERSE
    * probability in fixed-point integers,
    * `ppm = (total + vocabSize + 1) * scale DIV (count + 1)`,
    * and aggregates per document as sum and integer mean — log-based
    * perplexity is transcendental (not bit-portable across engines), so
    * the score is the mean inverse probability: the same outlier ranking,
    * exact in int64 on any engine (integer DIV only; with the default
    * `scale` = 1e6 it is exact up to ~2^42 corpus tokens — lower `scale`
    * beyond that).
    *
    * 100 TB design: the token stream is never shuffled with its text —
    * the count aggregate partial-combines to a vocabulary-sized exchange,
    * the vocab cut is a `TakeOrderedAndProject`, scoring is a broadcast
    * left join (vocab + 2 scalars ride to every task), and the per-doc
    * aggregate partial-combines tokens of each doc inside their original
    * partition (explode preserves row locality), so its exchange carries
    * ~one row per document. Two corpus scans total (count pass + score
    * pass); materialize the token stream once if both run repeatedly.
    *
    * @return (doc_id, n_toks, sum_ppm, mean_ppm), one row per input doc
    *         (token-less docs score 0)
    */
  def unigramSurprisal(docs: DataFrame, textCol: String, idCol: String,
      vocabSize: Int, scale: Long = 1000000L): DataFrame = {
    require(vocabSize > 0 && scale > 0)
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(TF.normTokens(col(textCol))).as("t"))
    val counts = tok.groupBy("t").agg(count(lit(1)).as("c"))
    val vocab = counts.orderBy(col("c").desc, col("t")).limit(vocabSize)
    // c_oov = per-TYPE OOV count: bucket mass split across OOV types
    // (integer DIV — exact); greatest(...,1) guards full-vocab corpora
    val scalars = counts
      .agg(sum(col("c")).cast("long").as("total"),
        count(lit(1)).cast("long").as("n_types"))
      .crossJoin(vocab.agg(sum(col("c")).cast("long").as("v_total"),
        count(lit(1)).cast("long").as("v_types")))
      .select(col("total"),
        expr("(total - v_total) DIV greatest(n_types - v_types, 1L)")
          .as("c_oov"))
    val perDoc = tok
      .join(broadcast(vocab), Seq("t"), "left")
      .crossJoin(broadcast(scalars))
      .select(col("doc_id"),
        expr(s"((total + ${vocabSize + 1L}) * ${scale}L)" +
          " DIV (coalesce(c, c_oov) + 1)").as("ppm"))
      .groupBy("doc_id")
      .agg(sum(col("ppm")).cast("long").as("sum_ppm"),
        count(lit(1)).cast("long").as("n_toks"))
    docs.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("sum_ppm"), lit(0L)).as("sum_ppm"))
      .withColumn("mean_ppm",
        when(col("n_toks") > 0, expr("sum_ppm DIV n_toks"))
          .otherwise(lit(0L)))
  }

  /** Bigram corpus-LM surprisal — the CCNet-style step up from
    * [[unigramSurprisal]]: score each document by the mean inverse
    * add-one-smoothed conditional probability of its adjacent token
    * pairs. Junk that unigram statistics cannot separate (right words,
    * wrong order: keyword stuffing, shuffled boilerplate, template
    * permutations) scores high here while fluent text stays low.
    *
    * Model, all exact int64 (same no-logarithm rationale as
    * [[unigramSurprisal]]):
    * `ppm(u,w) = (c1(u) + V) * scale DIV (c2'(u,w) + 1)` — the inverse of
    * add-one `P(w|u) = (c2+1)/(c1+V)` — where `c1(u)` counts u as a
    * bigram CONTEXT, `V` is the corpus token-type count, and `c2'` reads
    * from a top-`tableSize` bigram table (count desc, then pair text —
    * deterministic cut); pairs outside the table score as unseen
    * (`c2' = 0`), which caps the model state a production run ships to
    * executors exactly like a pruned KenLM table.
    *
    * 100 TB design: the corpus is TOKENIZED EXACTLY ONCE — the token
    * table is materialized (localCheckpoint; a PB-scale run writes it to
    * storage instead) and every derivation reads the arrays: the pair
    * stream is a row-local posexplode, the pair-count aggregate
    * partial-combines to one bigram-vocabulary-sized relation, and
    * CONTEXT counts derive from that small relation (`c1 = Σ_w c2`), not
    * from another corpus pass. The table cut is a
    * `TakeOrderedAndProject`; scoring is two broadcast joins plus a
    * 2-scalar cross join; the per-doc aggregate partial-combines in
    * place, one output row per doc.
    *
    * @return (doc_id, n_bigrams, sum_ppm, mean_ppm), one row per input
    *         doc (docs with < 2 tokens score 0)
    */
  def bigramSurprisal(docs: DataFrame, textCol: String, idCol: String,
      tableSize: Int, scale: Long = 1000000L,
      contextVocab: Int = DefaultMaxVocab): DataFrame = {
    require(tableSize > 0 && scale > 0 && contextVocab > 0)
    val tokd = docs.select(col(idCol).as("doc_id"),
      TF.normTokens(col(textCol)).as("ts")).pin()
    val bg = bigramStream(tokd)
    val c2 = bg.groupBy("u", "w").agg(count(lit(1)).as("c2"))
      .pin() // bigram-vocab-sized; referenced three times
    // context table capped like the pair table (pruned-KenLM shape): the
    // top `contextVocab` contexts by mass, deterministic tie on text.
    // Out-of-table contexts score as UNSEEN (c1' = 0 → add-one P(w|u) =
    // (c2'+1)/V) — the standard pruned-model treatment, and what makes
    // the broadcast provably ≤ contextVocab rows instead of
    // vocabulary-sized.
    val c1 = c2.groupBy("u").agg(sum(col("c2")).as("c1"))
      .orderBy(col("c1").desc, col("u")).limit(contextVocab)
    val top = c2.orderBy(col("c2").desc, col("u"), col("w"))
      .limit(tableSize)
    val scalars = tokd
      .select(explode(col("ts")).as("t"))
      .agg(count_distinct(col("t")).cast("long").as("v"))
    val perDoc = bg
      .join(broadcast(c1), Seq("u"), "left")
      .join(broadcast(top), Seq("u", "w"), "left")
      .crossJoin(broadcast(scalars))
      .select(col("doc_id"),
        expr(s"((coalesce(c1, 0L) + v) * ${scale}L)" +
          " DIV (coalesce(c2, 0L) + 1)").as("ppm"))
      .groupBy("doc_id")
      .agg(sum(col("ppm")).cast("long").as("sum_ppm"),
        count(lit(1)).cast("long").as("n_bigrams"))
    docs.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_ppm"), lit(0L)).as("sum_ppm"))
      .withColumn("mean_ppm",
        when(col("n_bigrams") > 0, expr("sum_ppm DIV n_bigrams"))
          .otherwise(lit(0L)))
  }

  /** `(doc_id, u, w)` adjacent-token-pair stream over a MATERIALIZED
    * `(doc_id, ts array<string>)` token table — shared by the bigram LM
    * and collocation extraction, which tokenize once and derive
    * everything from the arrays. Row-local: posexplode keeps the token
    * array in the output list, so the next-token lookup stays in the
    * same projection (pos is 0-based; element_at is 1-based ⇒
    * pos+2 = next). Docs with < 2 tokens contribute nothing. */
  private def bigramStream(tokd: DataFrame): DataFrame =
    tokd
      .select(col("doc_id"), col("ts"),
        posexplode(expr("slice(ts, 1, greatest(size(ts) - 1, 0))")))
      .select(col("doc_id"), col("col").as("u"),
        element_at(col("ts"), col("pos") + 2).as("w"))

  /** Top-k collocations (statistically-bound word pairs — "new york",
    * "machine learning") by a RATIONAL pointwise-mutual-information
    * score: `affinity = c2(u,w) · N · scale DIV (cu(u) · cw(w))`, the
    * integer fixed-point form of `P(u,w)/(P(u)·P(w))` over the bigram
    * stream (cu/cw are the first-/second-position marginals). Log-free
    * deliberately: log-PMI is transcendental and not bit-portable, and
    * the monotone transform preserves the ranking (same rationale as
    * the TF-IDF family's rational idf). `minCount` prunes the rare-pair
    * noise floor first, exactly as collocation extraction does in
    * practice.
    *
    * Exactness bound: `c2 · N · scale` must stay below 2^63 — with the
    * default 1e6 scale that holds to ~3M bigrams of any single pair
    * (`c2 · N < 9.2e12`); shrink `scale` for larger corpora.
    *
    * 100 TB design: ONE corpus tokenize (materialized token table), ONE
    * pair-count aggregate — both marginals and the grand total derive
    * from the small pair-count relation (`cu = Σ_w c2`, `cw = Σ_u c2`,
    * `N = Σ c2`), never from another corpus pass; marginals broadcast
    * back; the cut is a TakeOrderedAndProject.
    *
    * @return (u, w, c2, affinity) top-k by (affinity desc, u, w)
    */
  def collocations(docs: DataFrame, textCol: String, idCol: String,
      k: Int, minCount: Long = 5L, scale: Long = 1000000L): DataFrame = {
    require(k > 0 && minCount >= 1 && scale > 0)
    val tokd = docs.select(col(idCol).as("doc_id"),
      TF.normTokens(col(textCol)).as("ts")).pin()
    val c2 = bigramStream(tokd)
      .groupBy("u", "w").agg(count(lit(1)).as("c2"))
      .pin() // bigram-vocab-sized; referenced four times
    val cu = c2.groupBy("u").agg(sum(col("c2")).as("cu"))
    val cw = c2.groupBy("w").agg(sum(col("c2")).as("cw"))
    val n = c2.agg(sum(col("c2")).as("n_bigrams"))
    // PMI needs the EXACT marginals — no prune is sound — so these two
    // joins carry no broadcast hint: both sides are the aggregated
    // pair-count relation (never the corpus stream), and AQE picks
    // broadcast vs shuffle from the measured post-aggregation size.
    // At web scale a shuffled join of pair-vocab-sized relations is the
    // correct plan; a forced vocabulary broadcast is an OOM.
    c2.filter(col("c2") >= minCount)
      .join(cu, Seq("u"))
      .join(cw, Seq("w"))
      .crossJoin(broadcast(n))
      .select(col("u"), col("w"), col("c2"),
        expr(s"(c2 * n_bigrams * ${scale}L) DIV (cu * cw)").as("affinity"))
      .orderBy(col("affinity").desc, col("u"), col("w")).limit(k)
  }

  /** (doc_id, term, tf) over normalized tokens — the single corpus scan
    * every signal above derives from. Materialize (persist or write) this
    * once when running BOTH signals over a large corpus. */
  def termFrequencies(docs: DataFrame, textCol: String,
      idCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(TF.normTokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
