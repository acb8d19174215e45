package graft.streaming

import graft.SparkFunSuite

/** Replay idempotence of the streaming index-ingest loops — the
  * (queryId, batchId) high-water mark ([[IngestLedger]]) that makes a
  * foreachBatch retry of an already-applied batch a no-op: the same
  * batch applied twice must leave byte-identical index contents and
  * probe results (the at-least-once caveat
  * `Dedup.appendToLshIndex`'s contract warned about, closed). */
class IngestLedgerSpec extends SparkFunSuite {

  private def tmp(prefix: String): String =
    graft.TestPaths.dir(prefix).toString

  test("near-dup ingest: replaying an applied (queryId, batchId) " +
      "no-ops — index contents and later probes are identical") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_ledger_nd") + "/lsh"
    val base = "the quick brown fox jumps over the lazy dog again today"
    def apply(batchId: Long, queryId: String,
        rows: Seq[(Long, String)]): Int = {
      var sinkCalls = 0
      StreamingPipelines.nearDupIngestBatch(
        rows.toDF("doc_id", "text"), batchId, queryId, dir,
        "text", "doc_id", 0.6, 3, 64, 16) { (_, _) => sinkCalls += 1 }
      sinkCalls
    }
    assert(apply(0L, "q1", Seq(1L -> base, 2L -> "other engine text")) == 1)
    def indexState(): (Seq[String], Seq[String]) = (
      s.read.parquet(s"$dir/bands").collect()
        .map(_.toString).toSeq.sorted,
      s.read.parquet(s"$dir/shingles").collect()
        .map(_.toString).toSeq.sorted)
    val before = indexState()
    // the replay: same (queryId, batchId) → sink NOT re-run, no append
    assert(apply(0L, "q1", Seq(1L -> base, 2L -> "other engine text")) == 0,
      "a replayed batch must not re-run the sink")
    assert(indexState() == before,
      "a replayed batch must leave the index byte-identical")
    // an OLDER batchId of the same query is also a replay (monotonic ids)
    assert(apply(0L, "q1", Seq(1L -> base)) == 0)
    // probe results over the twice-applied index match the once-applied
    // index: exactly one (1 -> 9) pair, not two
    val probe = graft.operators.Dedup.lshProbeNearDup(
      graft.operators.Dedup.LshIndex(dir, 3, 64, 16),
      Seq(9L -> base).toDF("doc_id", "text"), "text", "doc_id", 0.6)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    assert(probe.toSeq == Seq((1L, 9L)),
      s"duplicated sidecar rows would duplicate pairs: ${probe.toSeq}")
    // a FRESH query reusing batchId 0 is NOT a replay and must apply
    assert(apply(0L, "q2", Seq(5L -> "novel content here")) == 1)
    assert(indexState() != before, "a fresh query's batch must append")
    // an ANONYMOUS caller (no queryId) gets no guard: both apply
    val c1 = apply(99L, "", Seq(6L -> "more novel content"))
    val n1 = s.read.parquet(s"$dir/shingles").count()
    val c2 = apply(99L, "", Seq(7L -> "even more novel content"))
    assert(c1 == 1 && c2 == 1 &&
      s.read.parquet(s"$dir/shingles").count() == n1 + 1)
  }

  test("flat digest ingest: replaying an applied (queryId, batchId) " +
      "is a byte-level no-op on the index (round 15 — previously a " +
      "bare append re-grew the index on every crash-retry)") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_ledger_new") + "/digests"
    def apply(batchId: Long, queryId: String,
        rows: Seq[(Long, String)]): (Int, Seq[Long]) = {
      var sinkCalls = 0
      var survivors: Seq[Long] = Nil
      StreamingPipelines.newIngestBatch(
        rows.toDF("doc_id", "text"), batchId, queryId, dir,
        "text", "doc_id") { (fresh, _) =>
        sinkCalls += 1
        survivors = fresh.select("survivor_id").collect()
          .map(_.getLong(0)).toSeq.sorted
      }
      (sinkCalls, survivors)
    }
    // batch 0: both docs are new
    assert(apply(0L, "q1", Seq(1L -> "alpha text", 2L -> "beta text"))
      == ((1, Seq(1L, 2L))))
    def digests(): Seq[String] = s.read.parquet(dir).collect()
      .map(_.getString(0)).toSeq.sorted
    val d0 = digests()
    assert(d0.length == 2)
    // replay of batch 0: sink NOT re-run, index byte-identical
    assert(apply(0L, "q1", Seq(1L -> "alpha text", 2L -> "beta text"))
      ._1 == 0, "a replayed batch must not re-run the sink")
    assert(digests() == d0,
      "a replayed batch must not re-append its digests")
    // batch 1: duplicate of doc 1 suppressed by the index, doc 3 new
    assert(apply(1L, "q1", Seq(3L -> "alpha text", 4L -> "gamma text"))
      == ((1, Seq(4L))))
    assert(digests().length == 3)
    // an OLDER batchId of the same query is also a replay
    assert(apply(0L, "q1", Seq(9L -> "delta text"))._1 == 0)
    // a FRESH query reusing batchId 0 applies normally
    assert(apply(0L, "q2", Seq(9L -> "delta text"))._1 == 1)
    assert(digests().length == 4)
    // anonymous callers get no guard (at-least-once by design)
    assert(apply(50L, "", Seq(10L -> "epsilon text"))._1 == 1)
    assert(apply(50L, "", Seq(11L -> "zeta text"))._1 == 1)
    assert(digests().length == 6)
  }

  test("BUCKETED near-dup ingest: batches accumulate bucket-aligned, " +
      "pairs match the flat loop, replay no-ops, probes stay pruned") {
    val s = spark
    import s.implicits._
    val bDir = tmp("graft_ledger_bnd") + "/lshb"
    val fDir = tmp("graft_ledger_bnd") + "/lshf"
    def docs(lo: Int, hi: Int) = (lo until hi).map { i =>
      val words = (0 until 25).map(j => s"w${(i * 5 + j * 3) % 30}")
      (i.toLong, words.mkString(" "))
    }
    var bPairs = Seq.empty[Seq[String]]
    var fPairs = Seq.empty[Seq[String]]
    def applyB(batchId: Long, rows: Seq[(Long, String)]): Int = {
      var calls = 0
      StreamingPipelines.bucketedNearDupIngestBatch(
        rows.toDF("doc_id", "text"), batchId, "qb", bDir,
        "text", "doc_id", 0.6, 3, 64, 16, 16) { (df, _) =>
        calls += 1
        bPairs = bPairs :+ df.collect().map(_.toString).toSeq.sorted
      }
      calls
    }
    def applyF(batchId: Long, rows: Seq[(Long, String)]): Unit =
      StreamingPipelines.nearDupIngestBatch(
        rows.toDF("doc_id", "text"), batchId, "qf", fDir,
        "text", "doc_id", 0.6, 3, 64, 16) { (df, _) =>
        fPairs = fPairs :+ df.collect().map(_.toString).toSeq.sorted
      }
    assert(applyB(0L, docs(0, 30)) == 1); applyF(0L, docs(0, 30))
    assert(applyB(1L, docs(30, 60)) == 1); applyF(1L, docs(30, 60))
    assert(applyB(2L, docs(0, 10).map { case (i, t) =>
      (i + 100L, t) }) == 1)
    applyF(2L, docs(0, 10).map { case (i, t) => (i + 100L, t) })
    assert(bPairs.last.nonEmpty, "re-crawl batch must hit near-dups")
    assert(bPairs == fPairs,
      "bucketed loop must emit exactly the flat loop's pairs")
    // replay of batch 2: sink NOT re-run, index unchanged on disk
    val before = s.read.parquet(s"$bDir/bands").collect()
      .map(_.toString).sorted.toSeq
    assert(applyB(2L, docs(0, 10).map { case (i, t) =>
      (i + 100L, t) }) == 0)
    assert(s.read.parquet(s"$bDir/bands").collect()
      .map(_.toString).sorted.toSeq == before)
    // post-append probe stays partition-pruned (round 18: bands-side
    // pruning lives in the probe's pinned candidate plan — assert it
    // via the lshProbeCandsPlan spec hook, shingles on the final plan)
    val idx = graft.operators.Dedup.LshIndexBucketed(bDir, 3, 64, 16, 16)
    val probe = graft.operators.Dedup.lshProbeNearDupBucketed(
      idx, docs(0, 2).toDF("doc_id", "text"), "text", "doc_id", 0.6)
    val cands = graft.operators.Dedup.lshProbeCandsPlan(
      idx, docs(0, 2).toDF("doc_id", "text"), "text", "doc_id")
    def bucketFilters(p: String): List[String] =
      """PartitionFilters: \[[^\]]*\]""".r.findAllIn(p).toList
        .filter(f => f.contains("bucket") && !f.contains("[]"))
    assert(bucketFilters(
        probe.queryExecution.executedPlan.toString).nonEmpty &&
      bucketFilters(
        cands.queryExecution.executedPlan.toString).nonEmpty)
  }

  test("BUCKETED exact-dedup ingest: survivors match the flat digest " +
      "loop batch-for-batch; replay no-ops") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_ledger_bxd") + "/digb"
    var outs = Seq.empty[Seq[String]]
    def apply(batchId: Long, rows: Seq[(Long, String)]): Int = {
      var calls = 0
      StreamingPipelines.bucketedNewIngestBatch(
        rows.toDF("doc_id", "text"), batchId, "qx", dir,
        "text", "doc_id", 16) { (df, _) =>
        calls += 1
        outs = outs :+ df.select("survivor_id").as[Long].collect()
          .sorted.toSeq.map(_.toString)
      }
      calls
    }
    assert(apply(0L, Seq(1L -> "aa", 2L -> "bb", 3L -> "aa")) == 1)
    assert(outs.last == Seq("1", "2"), s"${outs.last}")
    // batch 1: one re-crawl (suppressed), one novel
    assert(apply(1L, Seq(10L -> "aa", 11L -> "cc")) == 1)
    assert(outs.last == Seq("11"), s"${outs.last}")
    // replay batch 1 → sink skipped, index byte-stable
    val before = s.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    assert(apply(1L, Seq(10L -> "aa", 11L -> "cc")) == 0)
    assert(s.read.parquet(dir).collect().map(_.toString).sorted.toSeq
      == before)
  }

  test("record()→cleanup() crash debris is swept by the next append: " +
      "applied tokens at or below the high-water mark are deleted; " +
      "SUPERSEDED queries' uncommitted staging is dropped and their " +
      "committed manifests are FINISHED into the index") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_ledger_sweep") + "/idx"
    def append(batchId: Long, id: Long): Unit =
      IngestLedger.exactlyOnceAppend(s, dir, "q-sweep", batchId) { root =>
        Seq((id, s"text $id")).toDF("doc_id", "text")
          .write.mode("overwrite").parquet(root)
      }
    append(0L, 1L)
    // forge the exact crash window: batch 1's moves + mark completed,
    // cleanup didn't — its staging dir and manifest remain while the
    // HWM already covers batchId 1
    append(1L, 2L)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(root, "_ingest_staging")
    val debrisDir = new org.apache.hadoop.fs.Path(staging, "q-sweep_b1")
    fs.mkdirs(debrisDir)
    val debrisManifest =
      new org.apache.hadoop.fs.Path(staging, "q-sweep_b1.manifest")
    val out = fs.create(debrisManifest, true)
    out.write("part-orphan.parquet\n".getBytes("UTF-8")); out.close()
    // SUPERSEDED-query debris (a stream recreated with a new checkpoint
    // abandons its old queryId): round 12 left these forever —
    // unbounded accumulation under _ingest_staging. Uncommitted staging
    // (no manifest) is dropped; a COMMITTED manifest is finished, not
    // dropped (the manifest is the commit point — its file must land
    // in the live index).
    val foreign = new org.apache.hadoop.fs.Path(staging, "q-other_b0")
    val anon = new org.apache.hadoop.fs.Path(staging, "anon_b5_12345")
    fs.mkdirs(foreign); fs.mkdirs(anon)
    val committed = new org.apache.hadoop.fs.Path(staging, "q-dead_b7")
    Seq((99L, "text 99")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(committed.toString)
    val committedFile = IngestLedger.listDataFiles(s, committed).head
    val cm = new org.apache.hadoop.fs.Path(staging, "q-dead_b7.manifest")
    val out2 = fs.create(cm, true)
    out2.write((committedFile + "\n").getBytes("UTF-8")); out2.close()
    // on replay alreadyApplied() is true BEFORE resumePending() runs —
    // without the sweep this debris would live forever
    assert(IngestLedger.alreadyApplied(s, dir, "q-sweep", 1L))
    append(2L, 3L) // next real batch sweeps
    assert(!fs.exists(debrisDir), "applied staging dir must be swept")
    assert(!fs.exists(debrisManifest), "applied manifest must be swept")
    assert(!fs.exists(foreign), "superseded uncommitted staging is swept")
    assert(!fs.exists(anon), "crashed anonymous staging is swept")
    assert(!fs.exists(committed) && !fs.exists(cm),
      "superseded committed token is finished and cleaned")
    // the committed foreign batch's file landed in the live index:
    // 3 own rows + doc 99
    assert(s.read.parquet(dir).count() == 4)
    assert(s.read.parquet(dir).where("doc_id = 99").count() == 1)
  }

  test("staged-commit appends: a crash at ANY point either fully " +
      "re-runs (pre-manifest) or only finishes (post-manifest, even " +
      "mid-move) — the index is never double-applied") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog again today"
    def newIndex(dir: String, rows: Seq[(Long, String)]): Unit =
      StreamingPipelines.nearDupIngestBatch(rows.toDF("doc_id", "text"),
        0L, "qc", dir, "text", "doc_id", 0.6, 3, 64, 16) { (_, _) => () }
    def indexRows(dir: String): Seq[String] =
      (s.read.parquet(s"$dir/bands").collect().map(_.toString).sorted ++
        s.read.parquet(s"$dir/shingles").collect().map(_.toString).sorted)
        .toSeq
    val seed = Seq(1L -> base, 2L -> "other engine text")
    val b1 = Seq(11L -> (base + " with tail drift"))
    // reference: the same two batches applied cleanly
    val ref = tmp("graft_crash_ref") + "/lsh"
    newIndex(ref, seed)
    var refSink = 0
    StreamingPipelines.nearDupIngestBatch(b1.toDF("doc_id", "text"), 1L,
      "qc", ref, "text", "doc_id", 0.6, 3, 64, 16) { (_, _) => refSink += 1 }
    assert(refSink == 1)
    // crash point A: staged but NO manifest — replay must fully re-run
    val dirA = tmp("graft_crash_a") + "/lsh"
    newIndex(dirA, seed)
    val rootA = new org.apache.hadoop.fs.Path(dirA)
    val tokA = IngestLedger.tokenOf("qc", 1L)
    val idxA = graft.operators.Dedup.LshIndex(dirA, 3, 64, 16)
    graft.operators.Dedup.stageLshAppend(idxA, b1.toDF("doc_id", "text"),
      "text", "doc_id", IngestLedger.stagingRoot(rootA, tokA).toString)
    var sinkA = 0
    StreamingPipelines.nearDupIngestBatch(b1.toDF("doc_id", "text"), 1L,
      "qc", dirA, "text", "doc_id", 0.6, 3, 64, 16) { (_, _) => sinkA += 1 }
    assert(sinkA == 1, "pre-manifest crash: the batch body re-runs")
    assert(indexRows(dirA) == indexRows(ref),
      "pre-manifest crash: exactly one application")
    // crash point B: manifest written, moves PARTIALLY done — replay
    // must finish WITHOUT re-running probe/sink or re-staging
    val dirB = tmp("graft_crash_b") + "/lsh"
    newIndex(dirB, seed)
    val rootB = new org.apache.hadoop.fs.Path(dirB)
    val tokB = IngestLedger.tokenOf("qc", 1L)
    val idxB = graft.operators.Dedup.LshIndex(dirB, 3, 64, 16)
    graft.operators.Dedup.stageLshAppend(idxB, b1.toDF("doc_id", "text"),
      "text", "doc_id", IngestLedger.stagingRoot(rootB, tokB).toString)
    val filesB = IngestLedger.listDataFiles(s,
      IngestLedger.stagingRoot(rootB, tokB))
    assert(filesB.nonEmpty)
    BucketedSnapshotStore.atomicWrite(s,
      IngestLedger.manifestPath(rootB, tokB), filesB.mkString("\n"))
    IngestLedger.completeMoves(s, rootB, tokB, filesB.take(1)) // mid-move
    var sinkB = 0
    StreamingPipelines.nearDupIngestBatch(b1.toDF("doc_id", "text"), 1L,
      "qc", dirB, "text", "doc_id", 0.6, 3, 64, 16) { (_, _) => sinkB += 1 }
    assert(sinkB == 0,
      "post-manifest crash: probe/sink already ran — finish-only")
    assert(indexRows(dirB) == indexRows(ref),
      "post-manifest crash: exactly one application")
    assert(IngestLedger.alreadyApplied(s, dirB, "qc", 1L),
      "the finish path must advance the mark")
    val fsB = rootB.getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(!fsB.exists(IngestLedger.manifestPath(rootB, tokB)) &&
      !fsB.exists(IngestLedger.stagingRoot(rootB, tokB)),
      "the finish path must clean up staging")
    // and a FURTHER replay of the finished batch is a plain no-op
    StreamingPipelines.nearDupIngestBatch(b1.toDF("doc_id", "text"), 1L,
      "qc", dirB, "text", "doc_id", 0.6, 3, 64, 16) { (_, _) => sinkB += 1 }
    assert(sinkB == 0 && indexRows(dirB) == indexRows(ref))
  }

  test("IVF-PQ ingest: replaying an applied (queryId, batchId) no-ops " +
      "— no duplicate vectors, top-k slots stay correct") {
    val s = spark
    import s.implicits._
    def vec(id: Long): Array[Float] = {
      val c = (id % 3).toInt
      Array.tabulate(8)(p =>
        (if (p % 3 == c) 1.0f else 0.05f) + 0.01f * ((id * 7 + p) % 5))
    }
    def frame(ids: Seq[Long]) = ids.map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    val root = tmp("graft_ledger_pq")
    val idx = graft.operators.Similarity.buildIvfPqIndex(
      frame(0L until 24L), s"$root/ivfpq", nlist = 4, m = 4, ksub = 8)
    var sinkCalls = 0
    def apply(batchId: Long, queryId: String, ids: Seq[Long]): Unit =
      StreamingPipelines.ivfPqIngestBatch(frame(ids), batchId, queryId,
        idx, 3, 4, 4, "embedding", "vec_id") { (_, _) => sinkCalls += 1 }
    apply(0L, "q1", 24L until 32L)
    assert(sinkCalls == 1)
    val rows1 = s.read.parquet(idx.path).collect()
      .map(_.toString).toSeq.sorted
    apply(0L, "q1", 24L until 32L) // the replay
    assert(sinkCalls == 1, "a replayed batch must not re-run the sink")
    val rows2 = s.read.parquet(idx.path).collect()
      .map(_.toString).toSeq.sorted
    assert(rows2 == rows1,
      "a replayed batch must leave the index byte-identical")
    // a duplicated vector would occupy two of the k=3 slots: probe a
    // batch-1 vector's neighborhood and require 3 DISTINCT neighbors
    val topk = graft.operators.Similarity.ivfPqTopKIndexed(
      idx, frame(Seq(100L)), k = 3)
      .collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(topk.distinct.length == 3,
      s"duplicate appended vectors crowd the top-k: $topk")
    // empty batch: mark still advances, so ITS replay no-ops too
    apply(1L, "q1", Seq.empty)
    assert(sinkCalls == 2, "empty batch still reaches the sink once")
    apply(1L, "q1", Seq.empty)
    assert(sinkCalls == 2, "empty-batch replay must no-op")
  }
}
