package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling probe: measures the GROWTH CURVE of the heavy-tail operators
  * against synthetically replicated corpora — the evidence that turns
  * "100 TB design" plan arguments into time-vs-rows numbers.
  *
  * Corpus construction (deterministic, id-remapped, content-perturbed):
  * replica `i` of sf0.1's documents shifts ids by `i * 100_000_000`
  * (clear of the +1M exact-twin shift the dedup queries add) and rewrites
  * every third token to a replica-tagged variant — cross-replica Jaccard
  * lands ~0.5, far below the 0.8/0.5 near-dup thresholds, so the
  * DUPLICATE STRUCTURE stays linear in the factor (each doc keeps exactly
  * its own in-query twin; replicas are corpus growth, not new dup pairs
  * — replicating verbatim would grow candidate pairs quadratically and
  * measure the corpus's dup rate, not the operator's scaling). Embedding
  * replicas get hash-derived pseudo-random vectors for the same reason
  * (cosine to the original ~0, each vector keeps only its in-query twin).
  *
  * Usage: `runMain graft.tools.ScaleProbe [baseSfDir] [factors] [reps]`
  * (defaults: /root/testdata/sf0.1, "1,4,10", 2). Emits a markdown table
  * of per-query median seconds per factor plus the rows scanned, for
  * BENCH_NOTES.
  */
object ScaleProbe {

  /** The heavy tails worth probing: LSH band joins, the substring window
    * relation, index build, vocabulary joins, k-means + cell-local
    * semantic dedup. */
  val ProbeQueries: Seq[String] = Seq(
    "dedup_minhash", "dedup_ngram_jaccard", "dedup_substring",
    "dedup_semantic", "text_bm25_top3", "text_index_lookup",
    "text_lm_bigram", "text_heavy_hitters")

  /** Relational mode (`rel` as 4th arg): the as-of family, the argmin
    * aggregate, the salted-join skew shape, and the bucketed range join,
    * over replicated orders/lineitem/events (dims stay fixed — that IS
    * the 100 TB shape: facts grow, dimensions don't). */
  val RelProbeQueries: Seq[String] = Seq(
    "q_asof_join", "q_asof_forward", "q_asof_nearest",
    "q2_min_cost_supplier", "q_skew_salted_join", "q_skew_salted_agg",
    "q_range_join")

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val factors = args.lift(1).getOrElse("1,4,10")
      .split(",").map(_.trim.toInt).toSeq
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    // 4th arg: "rel" for the relational mode, "rel:<q1,q2>" for a custom
    // list over the relational replicas, or a plain comma-separated list
    // probed over the document replicas
    val mode = args.lift(3)
    val relMode = mode.exists(m => m == "rel" || m.startsWith("rel:"))
    val probeQueries = mode match {
      case Some("rel") => RelProbeQueries
      case Some(m) if m.startsWith("rel:") =>
        m.stripPrefix("rel:").split(",").map(_.trim).toSeq
      case Some(m) => m.split(",").map(_.trim).toSeq
      case None => ProbeQueries
    }
    val customList = !relMode && mode.nonEmpty
    val outRoot = graft.queries.Artifact.path("scale", baseDir)
    val spark = graft.GraftSession.local("graft-scale-probe")

    val dirs = factors.map { f =>
      val dir = s"$outRoot/x$f"
      if (relMode) generateRel(spark, baseDir, dir, f)
      else generate(spark, baseDir, dir, f)
      f -> dir
    }

    // warm the JIT on the smallest factor before timing anything
    probeQueries.foreach { q =>
      graft.SparkEntry.queries(q)(spark, dirs.head._2)
        .write.format("noop").mode("overwrite").save()
    }

    val results = for ((f, dir) <- dirs; q <- probeQueries) yield {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val best = times.min
      System.err.println(f"[scale] x$f%-3d $q%-24s $best%7.2f s" +
        f" (${times.map(t => f"$t%.2f").mkString("/")})")
      (q, f, best)
    }

    // the written-index BUILD, timed directly (the query path memoizes
    // its index per dir, so the sweep above times the probe; the build's
    // own growth — a full tokenize + aggregate + bucketed write — is a
    // heavy tail in its own right)
    val buildResults = if (relMode || customList) Nil
    else dirs.map { case (f, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val t0 = System.nanoTime()
      graft.operators.InvertedIndex.build(docs, "text", "doc_id",
        s"$outRoot/idx_build_x$f", nBuckets = 64)
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scale] x$f%-3d index_build(direct)       $sec%7.2f s")
      ("text_index_build", f, sec)
    }

    val factTable = if (relMode) "lineitem" else "documents"
    val nRows = dirs.map { case (f, dir) =>
      f -> spark.read.parquet(s"$dir/$factTable.parquet").count()
    }.toMap
    println()
    println("| query | " + factors.map(f =>
      s"x$f (${nRows(f)} $factTable)").mkString(" | ") +
      " | growth vs rows |")
    println("|---|" + factors.map(_ => "---|").mkString + "---|")
    val tableQueries =
      if (relMode || customList) probeQueries
      else probeQueries :+ "text_index_build"
    tableQueries.foreach { q =>
      val all = results ++ buildResults
      val ts = factors.map(f => all.find(r => r._1 == q && r._2 == f)
        .get._3)
      val rowRatio = factors.last.toDouble / factors.head
      val timeRatio = ts.last / ts.head
      println(f"| $q | " + ts.map(t => f"$t%.2f s").mkString(" | ") +
        f" | ${timeRatio}%.1fx time for ${rowRatio}%.0fx rows |")
    }
    if (relMode || customList) { spark.stop(); return }
    // Supplementary probes at the LARGEST factor — the two tails that go
    // superlinear with query-pinned parameters, re-measured with the
    // parameters a production run would scale:
    //
    // 1. dedup_semantic pins nlist=16; SemDeDup's within-cell compare is
    //    O(cell^2), so fixed nlist goes quadratic as cells fill. The
    //    operator takes nlist — production sizes it ~ sqrt(N) to keep
    //    cells bounded. Measure 16 vs a sqrt-scaled nlist.
    val (bigF, bigDir) = dirs.last
    locally {
      val emb = spark.read.parquet(s"$bigDir/embeddings.parquet")
      val u = emb.unionAll(emb.withColumn("vec_id",
        col("vec_id") + 1000000L))
      // AutoNlist last: shows the round-7 √N default landing at (or past)
      // the hand-tuned operating point without a user-supplied nlist
      Seq(16, 64, 128, graft.operators.Similarity.AutoNlist)
        .foreach { nlist =>
        val t0 = System.nanoTime()
        val (ids, vecs) = graft.operators.Similarity.kmeansCentroids(
          u, nlist = nlist, iters = 1)
        graft.operators.Dedup.semanticNearDup(u, "embedding", "vec_id",
            ids, vecs, threshold = 0.95)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val label = if (nlist == graft.operators.Similarity.AutoNlist)
          s"auto(${ids.length})" else nlist.toString
        System.err.println(
          f"[scale] x$bigF%-3d dedup_semantic nlist=$label%-9s $sec%7.2f s")
      }
    }
    // 2. dedup_ngram_jaccard: candidate-pair volume per factor (is the
    //    top-end growth candidate explosion or per-pair cost?)
    dirs.foreach { case (f, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val u = docs.unionAll(docs.withColumn("doc_id",
        col("doc_id") + 1000000L))
      val cands = graft.operators.Dedup.ngramCandidatePairs(u,
        "text", "doc_id").count()
      System.err.println(s"[scale] x$f ngram candidate pairs: $cands")
    }
    spark.stop()
  }

  /** Relational replication: facts (orders / lineitem / events) grow by
    * `factor`, dimensions copy verbatim — the 100 TB shape. Order keys
    * shift by i·10^9 with lineitem shifted in lockstep (join structure
    * preserved); order DATES shift by i days so the as-of right side
    * genuinely grows per (custkey, date) instead of collapsing in its
    * pre-aggregate; event TIMES shift by i·30 days so range-join windows
    * don't stack f deep (that would measure synthetic density, not
    * growth). user/supp/part keys stay — per-key history grows linearly,
    * which is exactly the skew the salted shapes must absorb. */
  private def generateRel(spark: SparkSession, baseDir: String,
      dir: String, factor: Int): Unit = {
    if (new java.io.File(s"$dir/lineitem.parquet").exists) return
    Seq("supplier", "nation", "region", "customer", "part").foreach { d =>
      spark.read.parquet(s"$baseDir/$d.parquet")
        .write.mode("overwrite").parquet(s"$dir/$d.parquet")
    }
    val orders = spark.read.parquet(s"$baseDir/orders.parquet")
    (0 until factor).map { i =>
      if (i == 0) orders
      else orders
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * 1000000000L))
        .withColumn("o_orderdate", date_add(col("o_orderdate"), i))
    }.reduce(_ unionAll _).repartition(32)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
    (0 until factor).map { i =>
      if (i == 0) li
      else li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 1000000000L))
    }.reduce(_ unionAll _).repartition(32)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // ts has been int64-nanos in some rounds and TIMESTAMP(_NTZ) in
    // others (see graft.queries.Q.events) — shift by +30d per replica in
    // whichever representation the file carries
    val ev = spark.read.parquet(s"$baseDir/events.parquet")
    def shiftTs(i: Int): Column = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        col("ts") + lit(i * 2592000000000000L)
      case _ => col("ts") + expr(s"INTERVAL ${i * 30} DAYS")
    }
    (0 until factor).map { i =>
      if (i == 0) ev
      else ev
        .withColumn("event_id", col("event_id") + lit(i * 1000000000L))
        .withColumn("ts", shiftTs(i))
    }.reduce(_ unionAll _).repartition(32)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    System.err.println(s"[scale] generated rel x$factor corpus at $dir")
  }

  /** Write the factor-`f` corpus (documents + embeddings) under `dir`
    * unless it already exists from an earlier run of this JVM. */
  private def generate(spark: SparkSession, baseDir: String, dir: String,
      factor: Int): Unit = {
    if (new java.io.File(s"$dir/documents.parquet").exists) return
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val docReps = (0 until factor).map { i =>
      if (i == 0) docs
      else docs.select(
        (col("doc_id") + lit(i * 100000000L)).as("doc_id"),
        // every 3rd token (doc-phase-shifted) becomes a replica-tagged
        // variant: cross-replica Jaccard ~ 0.5 — corpus growth without
        // quadratic new dup pairs
        concat_ws(" ", transform(split(col("text"), " "),
          (t, p) => when((p + col("doc_id") % 7) % 3 === 0,
            concat(t, lit(s"q$i"), pmod(col("doc_id"), lit(89L))))
            .otherwise(t))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    docReps.reduce(_ unionAll _).repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val embReps = (0 until factor).map { i =>
      if (i == 0) emb
      else {
        val vid = col("vec_id") + lit(i * 100000000L)
        emb.select(vid.as("vec_id"),
          // hash-derived pseudo-random components in [-1, 1): replicas
          // are directionally unrelated to their source vector
          transform(sequence(lit(0), lit(dim - 1)),
            j => ((pmod(xxhash64(vid * 31L + j * 1315423911L), lit(2000L))
              - 1000L) / 1000.0).cast("float")).as("embedding"),
          col("label"))
      }
    }
    embReps.reduce(_ unionAll _).repartition(32)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    System.err.println(s"[scale] generated x$factor corpus at $dir")
  }
}
