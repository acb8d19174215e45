package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

class LshIndexSpec extends SparkFunSuite {

  private def tmpPath(tag: String) =
    s"${graft.TestPaths.root}/graft_lsh_spec_${tag}_" +
      ProcessHandle.current().pid()

  private def corpus = {
    val s = spark
    import s.implicits._
    (0 until 120).map { i =>
      val words = (0 until 30).map(j => s"w${(i * 7 + j * 3) % 40}")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("probe vs written index == batch minhashNearDup restricted to " +
    "corpus-x-delta pairs (identical kernels, identical parameters)") {
    val c = corpus
    val s = spark
    import s.implicits._
    // delta: half identical re-crawls, half lightly edited
    val delta = c.limit(60).select(($"doc_id" + 1000L).as("doc_id"),
      when($"doc_id" % 2 === 0, $"text")
        .otherwise(concat($"text", lit(" tail drift words"))).as("text"))
    val index = Dedup.buildLshIndex(c, "text", "doc_id", tmpPath("parity"))
    val probe = Dedup.lshProbeNearDup(index, delta, "text", "doc_id",
        threshold = 0.6)
      .orderBy($"a", $"b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = Dedup.minhashNearDup(c.unionByName(delta), "text",
        "doc_id", threshold = 0.6)
      .filter($"a" < 1000L && $"b" >= 1000L)
      .orderBy($"a", $"b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(probe.nonEmpty, "fixture must produce near pairs")
    assert(probe == batch)
    // every identical re-crawl must hit its twin at exactly 1.0
    (0 until 60 by 2).foreach { i =>
      assert(probe.contains((i.toLong, 1000L + i, 1.0)),
        s"identity pair ($i, ${1000 + i}) missing")
    }
  }

  test("compactLshIndex: a many-append index collapses to bounded file " +
    "counts at a fresh path with byte-identical probe results") {
    val c = corpus
    val s = spark
    import s.implicits._
    val index = Dedup.buildLshIndex(c.limit(40), "text", "doc_id",
      tmpPath("compact_src"))
    // simulate a long-running ingest: many small appends
    (40 until 120 by 10).foreach { lo =>
      Dedup.appendToLshIndex(index,
        c.filter($"doc_id" >= lo && $"doc_id" < lo + 10), "text", "doc_id")
    }
    def files(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files(s"${index.path}/bands") > 4,
      "the append loop must have fragmented the index")
    val compacted = Dedup.compactLshIndex(s, index,
      tmpPath("compact_dst"), filesPerRelation = 1)
    assert(files(s"${compacted.path}/bands") == 1 &&
      files(s"${compacted.path}/shingles") == 1)
    val delta = c.limit(60).select(($"doc_id" + 1000L).as("doc_id"),
      when($"doc_id" % 2 === 0, $"text")
        .otherwise(concat($"text", lit(" tail drift words"))).as("text"))
    def probe(i: Dedup.LshIndex) =
      Dedup.lshProbeNearDup(i, delta, "text", "doc_id", threshold = 0.6)
        .orderBy($"a", $"b").collect().map(_.toString).toSeq
    val got = probe(compacted)
    assert(got.nonEmpty && got == probe(index),
      "compaction must be invisible to probe results")
  }

  test("bucketed LSH index: probe results equal the flat index's; a " +
    "small delta's scans are PARTITION-PRUNED on both relations") {
    val c = corpus
    val s = spark
    import s.implicits._
    val flat = Dedup.buildLshIndex(c, "text", "doc_id",
      tmpPath("bkt_flat"))
    val bucketed = Dedup.buildLshIndexBucketed(c, "text", "doc_id",
      tmpPath("bkt_part"), nBuckets = 64)
    val delta = c.limit(60).select(($"doc_id" + 1000L).as("doc_id"),
      when($"doc_id" % 2 === 0, $"text")
        .otherwise(concat($"text", lit(" tail drift words"))).as("text"))
    val got = Dedup.lshProbeNearDupBucketed(bucketed, delta, "text",
        "doc_id", threshold = 0.6)
      .orderBy($"a", $"b").collect().map(_.toString).toSeq
    val want = Dedup.lshProbeNearDup(flat, delta, "text", "doc_id",
        threshold = 0.6)
      .orderBy($"a", $"b").collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want,
      "bucketing must be invisible to probe results")
    // plan contract over a SMALL delta: both index scans carry a
    // NON-EMPTY partition filter on `bucket` (the PqSimSpec discipline).
    // Round 18: the probe pins its candidate stage, so the bands-side
    // pruned scan lives in the candidate plan (lshProbeCandsPlan — the
    // exact relation the probe executes) and the shingles-side pruned
    // scan in the final plan.
    val tiny = c.limit(2).select(($"doc_id" + 5000L).as("doc_id"), $"text")
    val probeDf = Dedup.lshProbeNearDupBucketed(bucketed, tiny, "text",
      "doc_id", threshold = 0.6)
    val plan = probeDf.queryExecution.executedPlan.toString
    val candsPlan = Dedup.lshProbeCandsPlan(bucketed, tiny, "text",
      "doc_id").queryExecution.executedPlan.toString
    def bucketFilters(p: String): List[String] =
      """PartitionFilters: \[[^\]]*\]""".r.findAllIn(p).toList
        .filter(f => f.contains("bucket") && !f.contains("[]"))
    assert(bucketFilters(plan).nonEmpty,
      s"expected the pruned shingles scan in the probe plan:\n$plan")
    assert(bucketFilters(candsPlan).nonEmpty,
      s"expected the pruned bands scan in the candidate plan:\n$candsPlan")
    // and an empty delta yields an empty, correctly-typed frame
    assert(Dedup.lshProbeNearDupBucketed(bucketed,
      c.filter(lit(false)), "text", "doc_id").count() == 0)
  }

  private def fileManifest(root: String): Seq[(String, Long)] = {
    val base = java.nio.file.Paths.get(root)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(base).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => (base.relativize(p).toString, java.nio.file.Files.size(p)))
      .filterNot(_._1.contains("_ingest_"))   // ledger bookkeeping
      .filterNot(_._1.endsWith("_SUCCESS"))
      .toSeq.sortBy(_._1)
  }

  test("bucketed append: half-built + half-appended index probes " +
    "identically to a full build; a replay of the same (queryId, " +
    "batchId) is a byte-level no-op; partition pruning holds " +
    "post-append") {
    val c = corpus
    val s = spark
    import s.implicits._
    val full = Dedup.buildLshIndexBucketed(c, "text", "doc_id",
      tmpPath("bapp_full"), nBuckets = 64)
    val half = Dedup.buildLshIndexBucketed(
      c.filter($"doc_id" % 2 === 0), "text", "doc_id",
      tmpPath("bapp_half"), nBuckets = 64)
    Dedup.appendToLshIndexBucketed(half,
      c.filter($"doc_id" % 2 =!= 0), "text", "doc_id",
      queryId = "q-bapp", batchId = 7L)
    val after = fileManifest(half.path)
    // replay: same (queryId, batchId) again → nothing changes on disk
    Dedup.appendToLshIndexBucketed(half,
      c.filter($"doc_id" % 2 =!= 0), "text", "doc_id",
      queryId = "q-bapp", batchId = 7L)
    assert(fileManifest(half.path) == after,
      "replayed append must be a no-op on the index file set")
    val delta = c.limit(60).select(($"doc_id" + 1000L).as("doc_id"),
      when($"doc_id" % 2 === 0, $"text")
        .otherwise(concat($"text", lit(" tail drift words"))).as("text"))
    def probe(i: Dedup.LshIndexBucketed) =
      Dedup.lshProbeNearDupBucketed(i, delta, "text", "doc_id",
          threshold = 0.6)
        .orderBy($"a", $"b").collect().map(_.toString).toSeq
    val got = probe(half)
    assert(got.nonEmpty && got == probe(full),
      "append must be indistinguishable from a fresh full build")
    // partition pruning survives the appended files (round 18: bands
    // pruning asserted on the candidate plan, shingles on the final —
    // see the probe's pinned-candidate comment)
    val tiny = c.limit(2).select(($"doc_id" + 5000L).as("doc_id"), $"text")
    val plan = Dedup.lshProbeNearDupBucketed(half, tiny, "text",
      "doc_id", threshold = 0.6).queryExecution.executedPlan.toString
    val candsPlan = Dedup.lshProbeCandsPlan(half, tiny, "text",
      "doc_id").queryExecution.executedPlan.toString
    def bucketFilters(p: String): List[String] =
      """PartitionFilters: \[[^\]]*\]""".r.findAllIn(p).toList
        .filter(f => f.contains("bucket") && !f.contains("[]"))
    assert(bucketFilters(plan).nonEmpty && bucketFilters(candsPlan).nonEmpty,
      s"post-append probe must stay pruned on bucket: final=" +
        s"${bucketFilters(plan)} cands=${bucketFilters(candsPlan)}")
    // bucketed compaction: one file per touched bucket, identical probe
    val compacted = Dedup.compactLshIndexBucketed(s, half,
      tmpPath("bapp_compact"))
    val perBucket = new java.io.File(s"${compacted.path}/bands")
      .listFiles().filter(_.getName.startsWith("bucket="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perBucket.nonEmpty && perBucket.forall(_ == 1),
      s"compaction must leave one file per bucket, got " +
        perBucket.mkString(","))
    assert(probe(compacted) == got,
      "bucketed compaction must be invisible to probe results")
  }

  test("bucketed digest append: half-built + half-appended index " +
    "gives the same incremental survivors as a full build") {
    val c = corpus
    val s = spark
    import s.implicits._
    val full = Dedup.buildDigestIndexBucketed(c, "text",
      tmpPath("dapp_full"), nBuckets = 32)
    val half = Dedup.buildDigestIndexBucketed(
      c.filter($"doc_id" % 2 === 0), "text",
      tmpPath("dapp_half"), nBuckets = 32)
    Dedup.appendToDigestIndexBucketed(half,
      c.filter($"doc_id" % 2 =!= 0), "text",
      queryId = "q-dapp", batchId = 3L)
    val delta = c.limit(60).select(($"doc_id" + 1000L).as("doc_id"),
      when($"doc_id" % 2 === 0, $"text")
        .otherwise(concat($"text", lit(" edited"))).as("text"))
    def survivors(i: Dedup.DigestIndexBucketed) =
      Dedup.incrementalNewBucketed(i, delta, "text", "doc_id")
        .orderBy($"survivor_id").collect().map(_.toString).toSeq
    val got = survivors(half)
    assert(got.nonEmpty && got == survivors(full))
    // replay idempotence on the digest index too
    val before = fileManifest(half.path)
    Dedup.appendToDigestIndexBucketed(half,
      c.filter($"doc_id" % 2 =!= 0), "text",
      queryId = "q-dapp", batchId = 3L)
    assert(fileManifest(half.path) == before)
  }

  test("flat compaction plan contract: compactLshIndex runs ZERO " +
    "shuffle exchanges (coalesce, not repartition)") {
    val c = corpus
    val s = spark
    import s.implicits._
    val index = Dedup.buildLshIndex(c, "text", "doc_id",
      tmpPath("noshuffle_src"))
    Dedup.appendToLshIndex(index, c.select($"doc_id" + 500L as "doc_id",
      $"text"), "text", "doc_id")
    val dst = tmpPath("noshuffle_dst")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        // delivery is async: the append above can still arrive here
        val p = qe.executedPlan.toString
        if (p.contains(dst)) plans.add(p)
        ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      Dedup.compactLshIndex(s, index, dst, filesPerRelation = 1)
      // listener delivery is async — poll for both write plans
      val deadline = System.nanoTime() + 10_000_000_000L
      while (plans.size() < 2 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(plans.size() >= 2, "expected both relation-write plans")
      import scala.jdk.CollectionConverters._
      plans.asScala.foreach { p =>
        assert(!p.contains("Exchange"),
          s"compaction must be shuffle-free:\n$p")
        assert(p.contains("Coalesce"), s"expected coalesce:\n$p")
      }
    } finally s.listenerManager.unregister(listener)
  }

  test("plan contract: index relations are scanned, never shuffled — " +
    "delta band keys and candidates broadcast") {
    val c = corpus
    val s = spark
    import s.implicits._
    val delta = c.limit(10)
      .select(($"doc_id" + 1000L).as("doc_id"), $"text")
    val index = Dedup.buildLshIndex(c, "text", "doc_id", tmpPath("plan"))
    val df = Dedup.lshProbeNearDup(index, delta, "text", "doc_id")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("BroadcastExchange".r.findAllIn(plan).length >= 3,
      s"delta bands, candidates, and delta shingles must broadcast:\n" +
        plan)
    // the only shuffle is the candidate-pair distinct
    val shuffles =
      "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
        .findAllIn(plan).length
    assert(shuffles <= 1, s"index side must not shuffle:\n$plan")
  }

  test("salted bucketed builds: filesPerBucket fans the write past one " +
    "task per bucket (more files than non-empty buckets) with probe " +
    "results and partition pruning UNCHANGED; auto stays one file per " +
    "bucket at test parallelism") {
    val c = corpus
    val s = spark
    import s.implicits._
    def bucketFiles(rel: String): (Int, Int) = {
      val dirs = new java.io.File(rel).listFiles()
        .filter(_.getName.startsWith("bucket="))
      (dirs.length,
        dirs.map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum)
    }
    val flat = Dedup.buildLshIndex(c, "text", "doc_id",
      tmpPath("salt_flat"))
    // explicit salt: each bucket's rows fan across up to 3 write tasks
    val salted = Dedup.buildLshIndexBucketed(c, "text", "doc_id",
      tmpPath("salt_lsh"), nBuckets = 16, filesPerBucket = 3)
    Seq("bands", "shingles").foreach { rel =>
      val (buckets, files) = bucketFiles(s"${salted.path}/$rel")
      assert(buckets > 0 && files > buckets,
        s"$rel: salted build must write >1 file in some buckets " +
          s"(got $files files over $buckets buckets)")
    }
    // auto (filesPerBucket = 0) at local[4] with nBuckets >= 4 → 1
    val auto = Dedup.buildLshIndexBucketed(c, "text", "doc_id",
      tmpPath("salt_auto"), nBuckets = 16)
    Seq("bands", "shingles").foreach { rel =>
      val (buckets, files) = bucketFiles(s"${auto.path}/$rel")
      assert(files == buckets,
        s"$rel: auto salt at test parallelism must stay 1 file/bucket")
    }
    val delta = c.limit(60).select(($"doc_id" + 1000L).as("doc_id"),
      when($"doc_id" % 2 === 0, $"text")
        .otherwise(concat($"text", lit(" tail drift words"))).as("text"))
    def probe(i: Dedup.LshIndexBucketed) =
      Dedup.lshProbeNearDupBucketed(i, delta, "text", "doc_id",
          threshold = 0.6)
        .orderBy($"a", $"b").collect().map(_.toString).toSeq
    val want = Dedup.lshProbeNearDup(flat, delta, "text", "doc_id",
        threshold = 0.6)
      .orderBy($"a", $"b").collect().map(_.toString).toSeq
    assert(want.nonEmpty && probe(salted) == want,
      "salting must be invisible to probe results")
    // pruning holds over multi-file buckets (directories, not files;
    // round 18: bands pruning asserted on the candidate plan)
    val tiny = c.limit(2).select(($"doc_id" + 5000L).as("doc_id"), $"text")
    val plan = Dedup.lshProbeNearDupBucketed(salted, tiny, "text",
      "doc_id", threshold = 0.6).queryExecution.executedPlan.toString
    val candsPlan = Dedup.lshProbeCandsPlan(salted, tiny, "text",
      "doc_id").queryExecution.executedPlan.toString
    def bucketFilters(p: String): List[String] =
      """PartitionFilters: \[[^\]]*\]""".r.findAllIn(p).toList
        .filter(f => f.contains("bucket") && !f.contains("[]"))
    assert(bucketFilters(plan).nonEmpty && bucketFilters(candsPlan).nonEmpty,
      s"salted probe must stay pruned on bucket: final=" +
        s"${bucketFilters(plan)} cands=${bucketFilters(candsPlan)}")
    // the digest index and the bucketed compactor take the same salt
    val dig = Dedup.buildDigestIndexBucketed(c, "text",
      tmpPath("salt_dig"), nBuckets = 8, filesPerBucket = 3)
    val (db, dfl) = bucketFiles(dig.path)
    assert(db > 0 && dfl > db, "digest build must salt too")
    val surv = Dedup.incrementalNewBucketed(dig, delta, "text", "doc_id")
      .orderBy($"survivor_id").collect().map(_.toString).toSeq
    val flatDig = Dedup.buildDigestIndexBucketed(c, "text",
      tmpPath("salt_dig_flat"), nBuckets = 8)
    val wantSurv = Dedup.incrementalNewBucketed(flatDig, delta, "text",
      "doc_id").orderBy($"survivor_id").collect().map(_.toString).toSeq
    assert(surv == wantSurv, "digest salting must not change survivors")
    val comp = Dedup.compactLshIndexBucketed(s, salted,
      tmpPath("salt_comp"), filesPerBucket = 2)
    Seq("bands", "shingles").foreach { rel =>
      val (buckets, files) = bucketFiles(s"${comp.path}/$rel")
      assert(files > buckets, s"$rel: salted compaction must fan out")
    }
    assert(probe(comp) == want,
      "salted compaction must be invisible to probe results")
  }

  test("broadcast-budget guard: with broadcasts disabled the bucketed " +
    "probe plans SHUFFLE joins (no BroadcastExchange), keeps both " +
    "partition-pruned index scans, and returns identical pairs") {
    val c = corpus
    val s = spark
    import s.implicits._
    val bucketed = Dedup.buildLshIndexBucketed(c, "text", "doc_id",
      tmpPath("guard"), nBuckets = 16)
    val flat = Dedup.buildLshIndex(c, "text", "doc_id",
      tmpPath("guard_flat"))
    val delta = c.limit(60).select(($"doc_id" + 1000L).as("doc_id"),
      when($"doc_id" % 2 === 0, $"text")
        .otherwise(concat($"text", lit(" tail drift words"))).as("text"))
    def probe() = Dedup.lshProbeNearDupBucketed(bucketed, delta, "text",
      "doc_id", threshold = 0.6)
    def probeFlat() = Dedup.lshProbeNearDup(flat, delta, "text",
      "doc_id", threshold = 0.6)
    val want = probe().orderBy($"a", $"b").collect()
      .map(_.toString).toSeq
    assert(want.nonEmpty)
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> s.conf.getOption(k)).toMap
    // threshold -1 models the oversized-backfill day: the guard must
    // demote every delta-derived broadcast hint to a planner-chosen
    // shuffle join rather than ram a corpus-scale delta through a
    // BroadcastExchange
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val df = probe()
      val got = df.orderBy($"a", $"b").collect().map(_.toString).toSeq
      assert(got == want,
        "shuffle fallback must answer to the same value oracle")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"over-budget delta must not broadcast:\n$plan")
      // round 18: bands pruning asserted on the candidate plan (the
      // final plan reads the pinned candidate rows)
      val candsPlan = Dedup.lshProbeCandsPlan(bucketed, delta, "text",
        "doc_id").queryExecution.executedPlan.toString
      def bucketFilters(p: String): List[String] =
        """PartitionFilters: \[[^\]]*\]""".r.findAllIn(p).toList
          .filter(f => f.contains("bucket") && !f.contains("[]"))
      assert(bucketFilters(plan).nonEmpty &&
        bucketFilters(candsPlan).nonEmpty,
        s"fallback must keep both pruned index scans: final=" +
          s"${bucketFilters(plan)} cands=${bucketFilters(candsPlan)}")
      // the flat probe takes the same guard
      val dfFlat = probeFlat()
      val gotFlat = dfFlat.orderBy($"a", $"b").collect()
        .map(_.toString).toSeq
      assert(gotFlat == want,
        "flat-probe shuffle fallback must answer identically")
      assert(!dfFlat.queryExecution.executedPlan.toString
        .contains("BroadcastExchange"),
        "flat probe must not broadcast over budget")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
