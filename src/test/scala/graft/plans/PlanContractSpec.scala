package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.operators.Similarity

/** Plan-SHAPE contracts for the scale-critical operators: these pin the
  * 100 TB design claims (corpus never shuffled, assignments row-local,
  * top-k partial-aggregated) as CI assertions, so a refactor that silently
  * reintroduces an exchange fails the suite, not just a manual
  * `graft.tools.QueryProfile` run.
  *
  * Counting convention: with AQE, `executedPlan.toString` AFTER execution
  * prints the final adaptive plan per stage — we count Exchange operators
  * in it directly (broadcast exchanges are counted separately from shuffle
  * exchanges; only shuffles move the corpus).
  */
class PlanContractSpec extends SparkFunSuite {

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** Final adaptive plan only — `AdaptiveSparkPlan.toString` appends the
    * pre-execution "== Initial Plan ==" section, which would double every
    * operator count. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
  }

  private def shuffles(df: DataFrame): Int =
    "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
      .findAllIn(finalPlan(df)).length

  private def broadcasts(df: DataFrame): Int =
    "BroadcastExchange".r.findAllIn(finalPlan(df)).length

  test("bruteForceTopK: queries broadcast; the only shuffles are the " +
      "two-phase top-k agg and the output sort") {
    val q = emb.filter(col("vec_id") < 5)
    val df = Similarity.bruteForceTopK(emb, q, k = 3)
    assert(broadcasts(df) >= 1, "query side must broadcast")
    // partial top-k exchange (hash by query_id) + deterministic orderBy
    assert(shuffles(df) <= 2,
      s"corpus must not shuffle:\n${df.queryExecution.executedPlan}")
  }

  test("ivfTopKWithCentroids: cell assignment is row-local — no exchange " +
      "between the corpus scan and the probe join") {
    val q = emb.filter(col("vec_id") < 5)
    val (ids, vecs) = Similarity.kmeansCentroids(emb, nlist = 4, iters = 0)
    val df = Similarity.ivfTopKWithCentroids(emb, q, k = 3, ids, vecs,
      nprobe = 2)
    assert(broadcasts(df) >= 1, "probes must broadcast")
    assert(shuffles(df) <= 2,
      s"corpus-side assignment must stay shuffle-free:\n" +
        df.queryExecution.executedPlan)
  }

  test("int8TopK: quantization is a row-local projection; corpus never " +
      "shuffles") {
    val df = Similarity.int8TopK(emb, emb.filter(col("vec_id") < 5), k = 3)
    assert(broadcasts(df) >= 1)
    assert(shuffles(df) <= 2,
      s"quantized corpus must not shuffle:\n${df.queryExecution.executedPlan}")
  }

  test("temperatureSample: rate table broadcasts back onto the corpus — " +
      "the corpus itself is filtered in place, never hash-shuffled") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.operators.Sampling.temperatureSample(docs, "lang",
      "doc_id", targetRows = 100)
    assert(broadcasts(df) >= 1, "rates must broadcast")
    // the only shuffles build the rate table: strata-count partial agg +
    // the single-row sum — both carry stratum-sized data, not the corpus
    assert(shuffles(df) <= 3,
      s"corpus must not shuffle:\n${df.queryExecution.executedPlan}")
  }

  test("deterministicShuffle: per-shard windows only — hash exchange on " +
      "shard, never a SinglePartition global sort") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.operators.Sampling.deterministicShuffle(docs, "doc_id",
      nShards = 8)
    val plan = finalPlan(df)
    assert(!"Exchange SinglePartition".r.findAllIn(plan).hasNext,
      s"global single-partition exchange would serialize the sort:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly the shard exchange:\n$plan")
  }

  test("dimStats calibration: partial aggregate — the exchange carries " +
      "dim-sized partials, and the plan has exactly one shuffle") {
    // posexplode + groupBy(pos): map-side combine collapses each partition
    // to <= dim rows before the single exchange
    val stats = emb
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(min(col("x")), max(col("x")))
    assert(shuffles(stats) == 1)
    val plan = finalPlan(stats)
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final aggregate:\n$plan")
  }

  test("intraLineDedup: fully row-local — zero exchanges of any kind") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.operators.Dedup.intraLineDedup(docs, "text", "doc_id")
    assert(shuffles(df) == 0 && broadcasts(df) == 0,
      s"expected a pure projection:\n${df.queryExecution.executedPlan}")
  }

  test("sentenceChunks: one doc-keyed hash exchange, no global sort or " +
      "single-partition funnel") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.operators.Chunking.sentenceChunks(docs, "text",
      "doc_id", budgetChars = 200)
    val plan = finalPlan(df)
    assert(!"Exchange SinglePartition".r.findAllIn(plan).hasNext,
      s"no global funnel allowed:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"exactly the doc-keyed window exchange:\n$plan")
  }

  test("multimodal decoders: decode, windows, patches, and the audit are " +
      "all zero-exchange — a 100 TB media corpus fans out in one scan") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val blobs = graft.operators.Multimodal.withBlob(docs, "text")
    for ((name, df) <- Seq[(String, DataFrame)](
        "audio" -> graft.operators.Multimodal
          .extractAudioFeatures(blobs, "doc_id").toDF(),
        "windows" -> graft.operators.Multimodal
          .extractAudioWindows(blobs, "doc_id").toDF(),
        "image" -> graft.operators.Multimodal
          .extractImageFeatures(blobs, "doc_id").toDF(),
        "patches" -> graft.operators.Multimodal
          .extractImagePatches(blobs, "doc_id").toDF(),
        "audit" -> graft.operators.Multimodal
          .extractDecodeAudit(blobs, "doc_id").toDF()))
      assert(shuffles(df) == 0 && broadcasts(df) == 0,
        s"$name must be row-local:\n${df.queryExecution.executedPlan}")
  }

  test("prefixRerankTopK: corpus never shuffles — candidate ids and " +
      "queries broadcast into both corpus scans, top-k partial-aggregates") {
    val q = emb.filter(col("vec_id") < 5)
    val df = Similarity.prefixRerankTopK(emb, q, k = 3, prefixDim = 16,
      overfetch = 4)
    assert(broadcasts(df) >= 3,
      "prefix queries, candidate ids, and full queries must all broadcast")
    // coarse top-k agg exchange + rerank top-k agg exchange + output sort
    assert(shuffles(df) <= 3,
      s"corpus must not shuffle in either stage:\n" +
        df.queryExecution.executedPlan)
  }

  test("groupCap: group counts broadcast back; only rows of oversized " +
      "groups reach the ranking window") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.operators.Sampling.groupCap(docs, "lang", "doc_id",
      cap = 5)
    // one BroadcastExchange + a ReusedExchange into the second branch
    assert(broadcasts(df) >= 1, "counts must broadcast into both branches")
    // two recomputed count partial-aggs (one per branch) + the window
    // exchange over the oversized subset only
    assert(shuffles(df) <= 3,
      s"passthrough branch must not shuffle:\n" +
        df.queryExecution.executedPlan)
  }

  test("unigramSurprisal: document text never shuffles — vocab and " +
      "corpus scalars broadcast, per-doc aggregate partial-combines") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.operators.Relevance.unigramSurprisal(docs, "text",
      "doc_id", vocabSize = 64)
    assert(broadcasts(df) >= 2, "vocab + scalars must broadcast")
    // text never shuffles BY CONSTRUCTION (the token stream drops it at
    // the explode; the doc-id spine joins ids only). The bound pins the
    // exchange inventory: token-count partial agg (×2: recomputed for
    // vocab + scalars), two 1-row scalar gathers, per-doc partial agg,
    // and the id join/sort — all token- or doc-ID-sized, none text-sized.
    assert(shuffles(df) <= 8,
      s"unexpected extra exchanges:\n${df.queryExecution.executedPlan}")
  }

  test("semanticNearDup: cell assignment is the native row-local " +
      "expression; no cross join anywhere") {
    val (ids, vecs) = Similarity.kmeansCentroids(emb, nlist = 4, iters = 0)
    val df = graft.operators.Dedup.semanticNearDup(emb, "embedding",
      "vec_id", ids, vecs, threshold = 0.9)
    val plan = finalPlan(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(df.queryExecution.analyzed.toString
        .contains("graft_nearest_centroids"),
      "assignment must be the native row-local expression")
  }

  test("splitLabel + hashedLinearScore + urlParts: pure row-local " +
      "projections — zero exchanges beyond the scan") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val df = docs.select(
      graft.operators.Sampling.splitLabel(col("doc_id"),
        Seq(("train", 8), ("val", 1), ("test", 1)), 10).as("split"),
      graft.functions.TextFunctions.hashedLinearScore(col("text"))
        .as("sc"),
      graft.functions.TextFunctions.urlHost(col("text")).as("h"))
    // one execution: count both operator kinds off the same plan string
    val plan = finalPlan(df)
    val nEx = "Exchange".r.findAllIn(plan).length
    assert(nEx == 0, s"row-local operators must not exchange:\n$plan")
  }

  test("kmvTokenDistinct: bounded-heap k-min partial aggregate, no " +
      "per-group sort window, hash-only exchanges") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.operators.Sketches.kmvTokenDistinct(docs, "lang",
      "text", k = 32)
    val plan = finalPlan(df)
    assert(plan.contains("ObjectHashAggregate"),
      s"k-min must be the bounded-heap partial aggregate:\n$plan")
    assert(!plan.contains("Window"), "no per-group sort window")
    // text reaches only the scan + hash projection; post-shuffle
    // operators see (group, h) longs
    assert(shuffles(df) <= 3, s"hash-only exchanges expected:\n$plan")
  }

  test("bloomMaybeDup: delta never shuffles — the index build's bitset " +
      "aggregate pays the single exchange, probe is broadcast + " +
      "row-local forall") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val df = graft.operators.Dedup.bloomMaybeDup(
      graft.operators.Dedup.bloomIndex(docs, "text"), docs, "text",
      "doc_id")
    val plan = finalPlan(df)
    assert(broadcasts(df) == 1, s"one-row bloom must broadcast:\n$plan")
    assert(shuffles(df) == 1,
      s"only the bitset aggregate may exchange:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"bitset build must partial-aggregate map-side:\n$plan")
  }

  test("pqTopK: code assignment + ADC are row-local — corpus never " +
      "shuffles; only the candidate/rerank top-k aggs exchange") {
    val q = emb.filter(col("vec_id") < 5)
    val df = Similarity.pqTopK(emb, q, k = 3, m = 4, ksub = 8,
      overfetch = 2)
    assert(broadcasts(df) >= 2,
      "queries + candidate set must broadcast")
    // coarse top-k agg + rerank top-k agg + deterministic orderBy — the
    // corpus rows themselves never hash-exchange
    assert(shuffles(df) <= 3,
      s"corpus must not shuffle:\n${df.queryExecution.executedPlan}")
  }
}

/** The scaladocs lean on AQE for runtime skew handling ("skewed
  * identical-doc floods are bounded by AQE skew-join splitting") — this
  * pins that the claim actually fires on this Spark build: a 90%-one-key
  * sort-merge join comes back with `skew=true` partitions in the final
  * adaptive plan. */
class AqeSkewJoinSpec extends SparkFunSuite {

  test("AQE splits the skewed SMJ partition (skew=true in final plan)") {
    val s = spark
    import s.implicits._
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> s.conf.getOption(k)).toMap
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    try {
      // 90% of the left side lands on key 0 → one ~4 MB partition vs
      // tiny siblings; the pad is row-DEPENDENT (a literal would be
      // constant-folded out of the shuffle, leaving the skewed partition
      // under the threshold)
      val left = s.range(0, 20000)
        .select(when($"id" < 18000, 0L).otherwise($"id").as("k"),
          concat(lit("x" * 200), $"id").as("p"))
      val right = s.range(0, 100).select($"id".as("k"), lit("r").as("q"))
      val joined = left.join(right, "k")
      // collect THIS DataFrame (count() would execute a separate query
      // and leave joined's adaptive plan unfinalised); only k=0 matches
      // the right side (right keys are 0..99; non-skewed left keys start
      // at 18000)
      assert(joined.collect().length == 18000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE skew split, got:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}

/** Runtime row-level filtering: Spark injects a Bloom filter built from a
  * selective dim side into the fact scan — at 100 TB this prunes fact rows
  * BEFORE the join shuffle. Pin that the optimizer feature fires on this
  * build (thresholds lowered to test scale). */
class BloomFilterJoinSpec extends SparkFunSuite {

  test("runtime bloom filter injected on the fact side of a selective join") {
    val s = spark
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> s.conf.getOption(k)).toMap
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter." +
      "applicationSideScanSizeThreshold", "0")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = s.read.parquet(s"$sfDir/lineitem.parquet")
      val dim = s.read.parquet(s"$sfDir/orders.parquet")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") ===
          "1-URGENT")
      val joined = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom_filter"),
        s"expected a runtime bloom filter, got:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
