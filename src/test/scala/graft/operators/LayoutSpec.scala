package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

class LayoutSpec extends SparkFunSuite {
  import spark.implicits._

  /** Scalar Morton reference: interleave bit i of x to 2i, y to 2i+1. */
  private def mortonRef(x: Long, y: Long): Long =
    (0 until 16).foldLeft(0L) { (z, i) =>
      z | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }

  test("zValue16 matches the bit-interleave reference over samples") {
    val pts = for {
      x <- Seq(0L, 1L, 2L, 255L, 256L, 4097L, 65535L)
      y <- Seq(0L, 1L, 3L, 128L, 32767L, 65535L)
    } yield (x, y)
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        Layout.zValue16(col("x"), col("y")).as("z"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) == mortonRef(x, y), s"z($x,$y)")
    }
  }

  test("pruneAudit: hand-checked file envelopes and box hits") {
    // 8 rows, 4-row files under natural order: file 0 covers x 0..3,
    // file 1 covers x 10..13; box x in [10,11] hits only file 1
    val df = (0L until 4L).map(i => (i, 5L, i))
      .++((0L until 4L).map(i => (i + 10L, 5L, i + 4L)))
      .toDF("x", "y", "ord")
    val r = Layout.pruneAudit(df, "x", "y", Seq(col("ord")), 4,
      10L, 11L, 0L, 9L).head()
    assert(r.getAs[Long]("n_files") == 2L)
    assert(r.getAs[Long]("files_hit") == 1L)
    assert(r.getAs[Long]("rows_scanned") == 4L)
    assert(r.getAs[Long]("rows_matched") == 2L)
  }

  test("sharded global rank (spark.graft.layout.shardedRank) produces " +
      "the identical audit as the single-task window") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(pmod(col("l_partkey"), lit(65536)).as("x"),
        pmod(col("l_suppkey"), lit(65536)).as("y"),
        col("l_orderkey"), col("l_linenumber"))
    def audit(): Seq[String] = {
      val zed = li.withColumn("z", Layout.zValue16(col("x"), col("y")))
      Layout.pruneAudit(zed, "x", "y",
          Seq(col("z"), col("l_orderkey"), col("l_linenumber")),
          512, 32L, 63L, 2L, 3L)
        .collect().map(_.toString).toSeq ++
      Layout.pruneAudit(li, "x", "y",
          Seq(col("l_orderkey"), col("l_linenumber")), 512,
          32L, 63L, 2L, 3L)
        .collect().map(_.toString).toSeq
    }
    val single = audit()
    spark.conf.set("spark.graft.layout.shardedRank", "true")
    try assert(audit() == single,
      "sharded rank must pin the identical file assignment and audit")
    finally spark.conf.set("spark.graft.layout.shardedRank", "false")
  }

  test("z-order layout prunes a box the natural layout cannot") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(pmod(col("l_partkey"), lit(65536)).as("x"),
        pmod(col("l_suppkey"), lit(65536)).as("y"),
        col("l_orderkey"), col("l_linenumber"))
    // sf0.001 keys span partkey 0..199, suppkey 0..9 — box inside that
    val natural = Layout.pruneAudit(li, "x", "y",
      Seq(col("l_orderkey"), col("l_linenumber")), 512,
      32L, 63L, 2L, 3L).head()
    val zed = Layout.pruneAudit(
      li.withColumn("z", Layout.zValue16(col("x"), col("y"))),
      "x", "y", Seq(col("z"), col("l_orderkey"), col("l_linenumber")),
      512, 32L, 63L, 2L, 3L).head()
    assert(natural.getAs[Long]("rows_matched") ==
      zed.getAs[Long]("rows_matched"), "matches are layout-invariant")
    assert(natural.getAs[Long]("rows_matched") > 0L, "box must be non-empty")
    assert(zed.getAs[Long]("rows_scanned") <
      natural.getAs[Long]("rows_scanned"),
      s"zorder must scan fewer rows: ${zed.getAs[Long]("rows_scanned")}" +
        s" vs ${natural.getAs[Long]("rows_scanned")}")
  }

  test("layout_bucket_join keeps the caller's runtime settings and " +
      "scopes its bucketed-scan flag to its own session") {
    val flag = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    val runtime = "spark.sql.files.ignoreCorruptFiles"
    spark.conf.set(runtime, "true")
    val q = try graft.SparkEntry.queries("layout_bucket_join")(spark, sfDir)
      finally spark.conf.unset(runtime)
    assert(q.sparkSession.conf.get(runtime) == "true")
    assert(q.sparkSession.conf.get(flag) == "true")
    assert(!spark.conf.getOption(flag).contains("true"))
    assert(q.collect().nonEmpty)
  }

  test("co-bucketed join plan has zero exchanges and zero sorts") {
    val tmp = graft.TestPaths.dir("graft_bucket_spec").toString
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
    Layout.writeBucketed(li, "spec_li_b", s"$tmp/li", 4, "l_orderkey")
    Layout.writeBucketed(ord, "spec_ord_b", s"$tmp/ord", 4, "o_orderkey")
    // one file per bucket (writeBucketed aligns tasks to buckets), so
    // the scan can report its sortBy order — behind this conf since 3.0
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering",
      "true")
    try {
      val j = spark.table("spec_li_b").hint("merge")
        .join(spark.table("spec_ord_b"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("o_orderpriority"))
      val n = j.count()
      assert(n == li.count(), "inner join on the FK keeps every lineitem")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(500))
      // the whole point of co-bucketing: NO exchange and NO sort on
      // either side — both inputs stream their co-located, pre-sorted
      // bucket files straight into the merge
      assert(!plan.contains("Exchange"), plan.take(2000))
      assert(!"\\bSort\\b".r.findFirstIn(plan.replace("SortMergeJoin", "SMJ"))
        .isDefined, plan.take(2000))
      // contrast: the same join over plain parquet shuffles both sides
      val plain = li.hint("merge")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("o_orderpriority"))
      plain.collect()
      val plainPlan = plain.queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(plainPlan).size >= 2, plainPlan.take(2000))
    } finally {
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS spec_li_b")
      spark.sql("DROP TABLE IF EXISTS spec_ord_b")
    }
  }

  test("compact shrinks the file count and preserves every row") {
    val tmp = graft.TestPaths.dir("graft_compact_spec").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.repartition(20).write.parquet(s"$tmp/small")
    val (before, after) =
      Layout.compact(spark, s"$tmp/small", s"$tmp/out", 64L << 10)
    assert(before == 20)
    assert(after < before, s"$after files after vs $before before")
    // content identity: same multiset of (doc_id, text)
    val a = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val b = spark.read.parquet(s"$tmp/out").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(a == b)
  }

  test("rangeBoundaries: exact count-threshold rule on a hand histogram") {
    // values 1..10 once each: ceil(p·10/100) → p25 needs cc≥3 → v=3,
    // p50 → v=5, p75 → v=8
    val df = (1L to 10L).toDF("v")
    assert(Layout.rangeBoundaries(df, "v", Seq(25, 50, 75)) ==
      Seq(3L, 5L, 8L))
    // heavy tie: 9×5 then one 100 — every boundary collapses onto 5
    val tied = (Seq.fill(9)(5L) :+ 100L).toDF("v")
    assert(Layout.rangeBoundaries(tied, "v", Seq(25, 50, 75)) ==
      Seq(5L, 5L, 5L))
  }

  test("equiCountBoundaries: exact k-way thresholds, duplicate collapse " +
      "past the integer-percent ceiling") {
    // values 1..10 once each, k=4: ceil(i·10/4) → needs 3,5,8 → the same
    // cuts p25/50/75 give — the percent API is the k≤100 special case
    val df = (1L to 10L).toDF("v")
    assert(Layout.equiCountBoundaries(df, "v", 4) == Seq(3L, 5L, 8L))
    // k=256 over 10 distinct values: integer percents could never express
    // these cuts (i·100/256 collapses); the count rule yields each value
    // once after dedup — ≤ k-1 DISTINCT ascending boundaries
    assert(Layout.equiCountBoundaries(df, "v", 256) == (1L to 10L))
    // row-balance on a unique-id domain: k=32 over 0..9999 ⇒ boundary i
    // at ceil(i·n/32) − 1
    val n = 10000
    val ids = (0L until n.toLong).toDF("v").repartition(11)
    assert(Layout.equiCountBoundaries(ids, "v", 32) ==
      (1 until 32).map(i => (i.toLong * n + 31) / 32 - 1))
  }

  test("rangeBoundaries on a corpus-sized UNIQUE-id domain stays exact " +
      "(the fixedPack shape: one histogram row per document)") {
    // every value distinct ⇒ the histogram is as large as the input —
    // the case whose full-histogram driver collect was the round-8
    // scale finding; the rewrite collects only shard totals + 1 agg row
    // (runtime-enforced by the collectSmall guard on every collect)
    val n = 10000
    val df = (0L until n.toLong).toDF("v").repartition(13)
    val ps = Seq(10, 25, 50, 75, 90)
    val got = Layout.rangeBoundaries(df, "v", ps)
    // reference: values 0..n-1 once each ⇒ cc(v) = v+1 ⇒ boundary(p) =
    // ceil(p·n/100) − 1
    val want = ps.map(p => (p.toLong * n + 99) / 100 - 1)
    assert(got == want)
    // non-contiguous, duplicated, shuffled domain vs a driver reference
    val vals = (0 until 5000).map(i => (i.toLong * 7919L) % 100000L)
    val ref = {
      val sorted = vals.sorted
      ps.map { p =>
        val need = ((p.toLong * vals.length + 99) / 100).toInt
        sorted(need - 1)
      }
    }
    assert(Layout.rangeBoundaries(vals.toDF("v").repartition(7), "v", ps)
      == ref)
  }

  test("writeRangePartitioned: labels partition the value range; " +
      "partition dirs prune a range predicate") {
    val tmp = graft.TestPaths.dir("graft_range_spec").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bs = Layout.rangeBoundaries(docs, "n_chars", Seq(25, 50, 75))
    Layout.writeRangePartitioned(docs, tmp, "n_chars", bs)
    val back = spark.read.parquet(tmp)
    assert(back.count() == docs.count())
    // per-partition max < next partition's min (ranges are disjoint)
    val prof = back.groupBy("part")
      .agg(min("n_chars").as("mn"), max("n_chars").as("mx"))
      .orderBy("part").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    prof.sliding(2).foreach {
      case Array((_, mxA), (mnB, _)) => assert(mxA < mnB)
      case _ =>
    }
    // a range predicate below b1 reads only partition 0 (plan shows
    // PartitionFilters pruning on the label derived from the predicate)
    val pruned = back.filter(col("part") === 0 && col("n_chars") <= bs.head)
    assert(pruned.count() ==
      docs.filter(col("n_chars") <= bs.head).count(),
      "partition 0 must contain exactly the rows at or below b1")
  }

  test("compact with a huge target lands exactly one file") {
    val tmp = graft.TestPaths.dir("graft_compact_one").toString
    spark.read.parquet(s"$sfDir/documents.parquet").repartition(7)
      .write.parquet(s"$tmp/small")
    val (_, after) =
      Layout.compact(spark, s"$tmp/small", s"$tmp/out", 1L << 40)
    assert(after == 1)
  }
}
