package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.avro.{AvroDecoderState, AvroTransform}
import graft.config.EngineConfig
import graft.queries.Q
import graft.streaming.StreamingPipelines

/** The benchmark harness: one JVM runs one workload on `local[cores]` and
  * writes every measurement, and the inputs of the checks left to the
  * caller, as one JSON object to `--out`. `perfbench/run.py` drives it.
  *
  * Timing happens only from outside the program: around calls into its
  * public functions, and through Spark's public listener interfaces. With
  * `--trace 1` listeners record spans and per-operation work, traced and
  * untraced operations alternate (their ratio is the tracing overhead;
  * the listeners are attached for traced operations only), and the
  * single-thread decode layer loop runs over a seeded sample. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, data: String, smallData: String, work: String,
      out: String, cores: Int)

  /** Fixed per-fetch delay of the stand-in registry (one HTTP round
    * trip). An assumed value, not a measured one; BENCHMARK.json records
    * it. */
  val RegistryDelayNanos: Long = 1000000L
  /** Fixture builds per run; setup_s takes their median. */
  val FixtureReps = 3
  /** `decode_batch`: copies of the events table in the corpus. */
  val BatchCopies = 4
  /** `decode_stream_mixed`: a micro-batch reads StreamPartitions backlog
    * files (one per Kafka partition) of StreamFileRecords records each. */
  val StreamPartitions = 4
  val StreamFileRecords = 5000
  val StreamWarmBatches = 5
  /** Highest sustained rate the backlog is sized for; a faster program
    * drains it early and reports fewer batches. */
  val StreamMaxRate = 80000
  val StreamCheckRecords = 100000L
  val SampleRecords = 20000
  val LayerReps = 5

  /** `extension_mix`: the ROADMAP-named query families, in run order. */
  val MixQueries: Seq[String] = Seq("text_tfidf_top3", "text_tfidf_pruned",
    "text_bm25_top3", "text_pii_redact", "text_quality_classifier",
    "dedup_minhash", "dedup_substring", "dedup_ngram_jaccard",
    "graph_components", "graph_pagerank", "sim_topk_ivfpq", "sim_hybrid_rrf",
    "emb_deproject", "layout_zorder_prune", "q1_pricing_summary")
  /** Queries whose oracle SQL compares every document pair: their results
    * are checked on the small tables of `--small-data` only. */
  val PairwiseOracles: Seq[String] = Seq("dedup_minhash", "dedup_ngram_jaccard")

  final class Ctx(val spark: SparkSession, val a: Args, val sessionS: Double) {
    val spans = new Spans
    val root: Int = spans.add(-1, s"run.${a.workload}",
      spans.epoch(System.nanoTime()), -1L)
    val metrics = new java.util.LinkedHashMap[String, Double]()
    val details = new java.util.LinkedHashMap[String, Any]()
    val checks = new java.util.LinkedHashMap[String, Any]()
    var attempted = 0L
    var failed = 0L
    var exec: Option[ExecTrace] = None

    def check(name: String, expected: Any, actual: Any): Unit =
      checks.put(name, Map("ok" -> (expected == actual),
        "expected" -> expected, "actual" -> actual))

    def drain(): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)

    /** Attaches the Spark and query-execution listeners of a traced run. */
    def attach(): Unit = exec.foreach { et =>
      spark.sparkContext.addSparkListener(et)
      spark.listenerManager.register(et)
    }

    /** Delivers every pending event, then detaches the listeners. */
    def detach(): Unit = exec.foreach { et =>
      drain()
      spark.sparkContext.removeSparkListener(et)
      spark.listenerManager.unregister(et)
    }
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("data"), kv.getOrElse("small-data", ""),
      kv("work"), kv("out"), kv("cores").toInt)
    val jvmStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder().master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val c = new Ctx(spark, a, (System.currentTimeMillis() - jvmStart) / 1000.0)
    if (a.trace) c.exec = Some(new ExecTrace(c.spans, b => b % 2 == 0))
    a.workload match {
      case "decode_batch" => decodeBatch(c)
      case "decode_stream_mixed" => streamMixed(c)
      case "extension_mix" => extensionMix(c)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (a.trace) {
      floors(c)
      c.spans.update(c.root)(_.end = c.spans.epoch(System.nanoTime()))
      c.spans.write(Paths.get(a.work, "spans.csv"))
      c.details.put("spans", c.spans.size)
    }
    val out = Map("workload" -> a.workload, "seed" -> a.seed,
      "cores" -> a.cores, "trace" -> a.trace, "attempted" -> c.attempted,
      "failed" -> c.failed, "metrics" -> c.metrics, "checks" -> c.checks,
      "details" -> c.details)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(Paths.get(a.out), json.writeValueAsString(out))
    spark.stop()
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Garbage collections so far, all collectors of this JVM. */
  private def gcCount(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionCount).sum

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secsSince(t0))
  }

  /** Builds the fixture FixtureReps times, keeping the last; returns it
    * and the median build time. */
  private def fixture[A](build: => A)(discard: A => Unit): (A, Double) = {
    var last: Option[A] = None
    val times = (0 until FixtureReps).map { _ =>
      last.foreach(discard)
      val (v, s) = timed(build)
      last = Some(v)
      s
    }
    (last.get, Stats.median(times))
  }

  /** Closed-loop timed operations: op i starts when op i-1 has finished,
    * until `seconds` have passed and at least `minOps` ran. In a traced
    * run odd ops are traced, even ones run with no listener attached.
    * Returns (index, traced, seconds) per op that succeeded. */
  private def runOps(c: Ctx, name: String, minOps: Int, passLen: Int = 1)
      (op: Int => Unit): Seq[(Int, Boolean, Double)] = {
    val sc = c.spark.sparkContext
    val start = System.nanoTime()
    val gc0 = gcCount()
    val done = Seq.newBuilder[(Int, Boolean, Double)]
    var i = 0
    while (i < minOps || secsSince(start) < c.a.seconds || i % passLen != 0) {
      val traced = c.a.trace && i % 2 == 1
      val key = s"$name-$i"
      val t0 = System.nanoTime()
      val span = if (traced) c.spans.add(c.root, name, c.spans.epoch(t0), -1L) else -1
      if (traced) {
        c.attach()
        c.exec.foreach(_.beginOp(key, span))
        sc.setLocalProperty(ExecTrace.OpKey, key)
      }
      val ok = try { op(i); true } catch {
        case t: Throwable =>
          System.err.println(s"[perfbench] $name $i failed: $t")
          false
      } finally sc.setLocalProperty(ExecTrace.OpKey, null)
      val dt = secsSince(t0)
      if (traced) c.spans.update(span)(_.end = c.spans.epoch(System.nanoTime()))
      if (traced) {
        c.detach()
        c.exec.foreach(_.creditPlans(Some(key)))
      }
      if (ok) done += ((i, traced, dt)) else c.failed += 1
      i += 1
    }
    val ops = done.result()
    c.metrics.put("jvm.gc_count_per_op", (gcCount() - gc0).toDouble / i)
    c.details.put("op_s", ops.map(_._3))
    c.details.put("op_traced", ops.map(_._2))
    ops
  }

  /** Per-operation Spark work, averaged over the traced operations. */
  private def opMetrics(c: Ctx, keys: Seq[String], opWallS: Seq[Double])
      : Unit =
    c.exec.foreach { et =>
      c.drain()
      val all = et.stats
      val st = keys.flatMap(all.get)
      val n = math.max(1, st.size).toDouble
      def avg(f: OpStats => Double) = st.map(f).sum / n
      val busyS = st.map(_.busyMs).sum / 1000.0
      c.metrics.put("spark.jobs", avg(_.jobs))
      c.metrics.put("spark.stages", avg(_.stages))
      c.metrics.put("spark.tasks", avg(_.tasks))
      c.metrics.put("spark.task_busy_s", avg(_.busyMs) / 1000.0)
      c.metrics.put("spark.gc_s", avg(_.gcMs) / 1000.0)
      c.metrics.put("spark.shuffle_bytes", avg(_.shuffleBytes))
      c.metrics.put("spark.exchanges", avg(_.exchanges))
      c.metrics.put("op.planning_ms", avg(_.planningMs))
      c.metrics.put("spark.wall_over_busy",
        if (busyS > 0) opWallS.sum * c.a.cores / busyS else 0.0)
    }

  /** `spark.overhead_ratio` of a decode workload: wall time x cores over
    * the single-thread kernel time of the same records
    * (`kernel.decode_value_ns`, so call it after the layer table). */
  private def decodeOverhead(c: Ctx, wallS: Double, records: Double): Unit =
    c.metrics.put("spark.overhead_ratio", wallS * c.a.cores /
      (records * c.metrics.get("kernel.decode_value_ns") / 1e9))

  /** Tracing overhead: for each class of operation (`opClass` of its
    * index), its median traced time over its median untraced time; the
    * median over classes. */
  private def traceOverhead(c: Ctx, ops: Seq[(Int, Boolean, Double)],
      opClass: Int => Int = _ => 0): Unit =
    if (c.a.trace) {
      val ratios = ops.groupBy(o => opClass(o._1)).values.toSeq.flatMap { g =>
        val on = g.filter(_._2).map(_._3)
        val off = g.filterNot(_._2).map(_._3)
        if (on.isEmpty || off.isEmpty) None
        else Some(Stats.median(on) / Stats.median(off))
      }
      c.metrics.put("trace.overhead_ratio", Stats.median(ratios))
    }

  private def endToEnd(c: Ctx, setupS: Double, ratePerS: Double,
      opMs: Seq[Double]): Unit = {
    c.metrics.put("setup_s", setupS)
    c.metrics.put("throughput_per_s", ratePerS)
    c.metrics.put("op_ms_p50", Stats.quantile(opMs, 0.5))
    c.metrics.put("op_ms_p90", Stats.quantile(opMs, 0.9))
    c.metrics.put("op.samples", opMs.size.toDouble)
  }

  /** Schema-cache and registry counters of one provider's decoder state. */
  private def cacheMetrics(c: Ctx, p: CountingSchemaProvider): Unit = {
    val (hits, misses) = AvroDecoderState.cacheStats(p.cacheToken)
    val rc = CountingSchemaProvider.counters(p.cacheToken)
    val fetches = rc.fetches.sum()
    c.metrics.put("schema_cache.hits", hits.toDouble)
    c.metrics.put("schema_cache.misses", misses.toDouble)
    c.metrics.put("schema_cache.hit_ratio",
      hits.toDouble / math.max(1L, hits + misses))
    c.metrics.put("registry.fetches", fetches.toDouble)
    c.metrics.put("registry.fetch_ms",
      rc.fetchNanos.sum() / 1e6 / math.max(1L, fetches))
    c.metrics.put("registry.fetches_per_miss",
      fetches.toDouble / math.max(1L, misses))
    c.metrics.put("kernel.swallowed_errors",
      AvroDecoderState.swallowedErrorCount(p.cacheToken).toDouble)
  }

  /** The decode layer table over `sample`, on a fresh decoder state. */
  private def layers(c: Ctx, sample: Array[DecodeLayers.Sample],
      registry: Map[Int, String], withCounters: Boolean): Unit = {
    val p = CountingSchemaProvider.fresh(registry, "layers", RegistryDelayNanos)
    val r = DecodeLayers.run(sample, p, EngineConfig.DefaultSchemaCapacity,
      permissive = true, LayerReps, c.spans, c.root)
    r.metrics.foreach { case (k, v) => c.metrics.put(k, v) }
    c.check("layers.composition_byte_identical", 0, r.mismatches)
    if (withCounters) cacheMetrics(c, p)
    val m = r.metrics
    System.err.println(f"[perfbench] decode layers, ns/record over ${sample.length} records (median of $LayerReps reps; registry.fetch_ns is their mean):")
    Seq("wire.parse_ns", "schema_cache.lookup_ns", "registry.fetch_ns",
      "kernel.decode_to_json_ns",
      "envelope.value_ns", "trace.stage_sum_ns", "kernel.decode_value_ns",
      "trace.decode_overhead_ns", "envelope.key_ns").foreach { k =>
      System.err.println(f"[perfbench]   $k%-28s ${m(k)}%12.1f")
    }
  }

  // ---- decode_batch ----------------------------------------------------

  private def decodeBatch(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val rows = Q.events(spark, c.a.data)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props"), unix_micros(col("ts")).as("ts_us"))
      .orderBy("event_id").collect()
    val src = EventsTable(rows.map(_.getLong(0)), rows.map(_.getLong(1)),
      rows.map(_.getString(2)), rows.map(_.getDouble(3)),
      rows.map(_.getString(4)), rows.map(_.getLong(5)))
    val stride = src.eventId.max + 1
    val total = src.size.toLong * BatchCopies
    val schemaId = 1
    val json = Traffic.eventsSchema("Event")
    val bc = spark.sparkContext.broadcast(src)
    val (framed, fixtureS) = fixture({
      val df = spark.range(0, total, 1, c.a.cores * 4).as[Long]
        .mapPartitions { it =>
          val w = new AvroWriter
          it.map(j => Traffic.eventsCorpusRow(bc.value, j, stride, schemaId,
            json, w))
        }.toDF().persist(StorageLevel.MEMORY_ONLY)
      df.count()
      df
    })(df => df.unpersist(true))

    val provider = CountingSchemaProvider.fresh(Map(schemaId -> json),
      "batch", RegistryDelayNanos)
    val cfg = EngineConfig(Seq("stub://perfbench"), Map("events" -> false))
    def pass(): Unit = AvroTransform(framed, cfg, provider)
      .write.format("noop").mode("overwrite").save()
    // correctness, untimed: every record decodes to an envelope, and the
    // decoded fields of the first copy (offsets below n) aggregate to the
    // source table's, which run.py reads from the parquet
    val first = col("offset") < src.size
    val msg = get_json_object(col("value").cast("string"), "$.originMessage")
    def firstCopy(c: org.apache.spark.sql.Column) = when(first, c)
    val (agg, checkS) = timed(AvroTransform(framed, cfg, provider).agg(
      sum(when(col("value").cast("string").startsWith("{\"originSchema\":"), 1L)
        .otherwise(0L)).as("envelopes"),
      count(firstCopy(lit(1))).as("n"),
      sum(firstCopy(get_json_object(msg, "$.event_id").cast("long"))),
      sum(firstCopy(get_json_object(msg, "$.value").cast("decimal(18,2)")))
        .cast("string"),
      countDistinct(firstCopy(get_json_object(msg, "$.event_type"))))
      .head())
    c.check("batch.envelopes", total, agg.getLong(0))
    c.details.put("aggregates", Map("n" -> agg.getLong(1),
      "sum_event_id" -> agg.getLong(2), "sum_value" -> agg.getString(3),
      "event_types" -> agg.getLong(4)))
    // one untimed pass of the timed plan: its codegen and JIT
    val (_, warmS) = timed(pass())
    val setupS = c.sessionS + fixtureS + checkS + warmS
    c.details.put("fixture_s", fixtureS)
    c.details.put("check_s", checkS)
    c.details.put("warmup_s", warmS)

    val ops = runOps(c, "decode.pass", if (c.a.trace) 4 else 3)(_ => pass())
    val untraced = ops.filterNot(_._2).map(_._3)
    c.attempted = (ops.size + c.failed) * total
    endToEnd(c, setupS, total / Stats.median(untraced), untraced.map(_ * 1000))
    c.details.put("records_per_pass", total)
    opMetrics(c, ops.filter(_._2).map(o => s"decode.pass-${o._1}"),
      ops.filter(_._2).map(_._3))
    traceOverhead(c, ops)
    cacheMetrics(c, provider)
    c.check("batch.swallowed_errors", 0L,
      AvroDecoderState.swallowedErrorCount(provider.cacheToken))

    if (c.a.trace) {
      val sample = framed.sample(false,
        math.min(1.0, 2.0 * SampleRecords / total), c.a.seed)
        .limit(SampleRecords).select("value").collect()
        .map(r => DecodeLayers.Sample(r.getAs[Array[Byte]](0), null))
      layers(c, sample, Map(schemaId -> json), withCounters = false)
      decodeOverhead(c, untraced.sum, untraced.size.toDouble * total)
    }
  }

  // ---- decode_stream_mixed --------------------------------------------

  private def streamMixed(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val seed = c.a.seed
    val batchRecords = StreamPartitions * StreamFileRecords
    // a multiple of FixtureReps batches, so every part is whole files
    val batches = (StreamWarmBatches + c.a.seconds * StreamMaxRate /
      batchRecords + FixtureReps - 1) / FixtureReps * FixtureReps
    val total = batches.toLong * batchRecords
    val dir = s"${c.a.work}/backlog"
    // the backlog is written in FixtureReps equal parts, in offset order;
    // the fixture time is FixtureReps x the median part
    val part = total / FixtureReps
    val partTimes = (0 until FixtureReps).map { k =>
      timed(spark.range(k * part, (k + 1) * part, 1,
          (part / StreamFileRecords).toInt).as[Long]
        .mapPartitions { it =>
          val w = new AvroWriter
          it.map(i => MixedTraffic.row(seed, i, w))
        }.write.mode("append").parquet(dir))._2
    }
    val fixtureS = FixtureReps * Stats.median(partTimes)

    val provider = CountingSchemaProvider.fresh(MixedTraffic.registry,
      "stream", RegistryDelayNanos)
    val cfg = EngineConfig(Seq("stub://perfbench"),
      Map("orders" -> false, "users" -> true))
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
    }
    spark.streams.addListener(listener)
    // the stream's untraced batches share the attached listeners, which
    // ignore their events
    c.attach()
    val source = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[KafkaRow].schema)
      .option("maxFilesPerTrigger", StreamPartitions).parquet(dir)
    val streamStart = System.nanoTime()
    val q = StreamingPipelines.decodeStream(source, cfg, provider)
      .writeStream.format("noop")
      .option("checkpointLocation", s"${c.a.work}/checkpoint")
      .start()
    def withRows = progress.asScala.toSeq.filter(_.numInputRows > 0)
    var timedStart = 0L
    var warmLast = -1L
    var gc0 = 0L
    val deadline = System.nanoTime() + (c.a.seconds + 120) * 1000000000L
    var running = true
    while (running) {
      Thread.sleep(10)
      val seen = withRows
      if (timedStart == 0L && seen.size >= StreamWarmBatches) {
        gc0 = gcCount()
        timedStart = System.nanoTime()
        warmLast = seen.map(_.batchId).max
      }
      running = q.exception.isEmpty && System.nanoTime() < deadline &&
        seen.map(_.numInputRows).sum < total &&
        (timedStart == 0L || secsSince(timedStart) < c.a.seconds)
    }
    q.stop()
    val gcs = gcCount() - gc0
    c.detach()
    spark.streams.removeListener(listener)
    q.exception.foreach { e =>
      System.err.println(s"[perfbench] stream failed: ${e.cause}")
      c.failed += 1
    }
    val timedBatches = withRows.filter(_.batchId > warmLast).sortBy(_.batchId)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    val trigger = timedBatches.map(dur(_, "triggerExecution"))
    val untraced = timedBatches.filterNot(b => c.a.trace && b.batchId % 2 == 0)
    val untracedMs = untraced.map(dur(_, "triggerExecution"))
    val setupS = c.sessionS + fixtureS + (timedStart - streamStart) / 1e9
    c.details.put("fixture_s", fixtureS)
    c.details.put("backlog_records", total)
    c.attempted = timedBatches.map(_.numInputRows).sum + c.failed
    endToEnd(c, setupS,
      untraced.map(_.numInputRows).sum / (untracedMs.sum / 1000.0), untracedMs)
    for ((k, name) <- Seq("addBatch" -> "stream.add_batch_ms",
        "queryPlanning" -> "stream.query_planning_ms",
        "walCommit" -> "stream.wal_commit_ms",
        "commitOffsets" -> "stream.commit_offsets_ms",
        "latestOffset" -> "stream.latest_offset_ms"))
      c.details.put(name, Stats.median(timedBatches.map(dur(_, k))))
    c.details.put("stream.batch_ms_samples", untracedMs.size)
    c.metrics.put("jvm.gc_count_per_op", gcs.toDouble / math.max(1, timedBatches.size))
    c.details.put("op_s", trigger.map(_ / 1000))
    cacheMetrics(c, provider)

    c.exec.foreach { et =>
      timedBatches.filter(_.batchId % 2 == 0).foreach { b =>
        val start = java.time.Instant.parse(b.timestamp).toEpochMilli * 1000000L
        et.batchSpan(b.batchId, start,
          start + (dur(b, "triggerExecution") * 1e6).toLong,
          dur(b, "queryPlanning"))
      }
      val traced = timedBatches.filter(_.batchId % 2 == 0)
      opMetrics(c, traced.map(b => s"batch-${b.batchId}"),
        traced.map(dur(_, "triggerExecution") / 1000.0))
      val last = q.asInstanceOf[org.apache.spark.sql.execution.streaming
        .runtime.StreamingQueryWrapper].streamingQuery.lastExecution
      if (last != null) c.metrics.put("spark.exchanges",
        ExecTrace.exchanges(last.executedPlan).toDouble)
      c.metrics.put("trace.overhead_ratio",
        Stats.median(traced.map(dur(_, "triggerExecution"))) /
          Stats.median(untracedMs))
    }

    // correctness, outside the timed region: the same pipeline over the
    // first StreamCheckRecords records, against the generator's counts
    val exp = MixedTraffic.expected(seed, StreamCheckRecords)
    val checkProvider = CountingSchemaProvider.fresh(MixedTraffic.registry,
      "stream-check", RegistryDelayNanos)
    val in = spark.read.parquet(dir).where(col("offset") < StreamCheckRecords)
      .withColumn("orig_value", col("value"))
    val decodedTopic = col("topic").isin(MixedTraffic.ValueTopics: _*)
    val v = col("value").cast("string")
    val k = col("key").cast("string")
    val msg = get_json_object(v, "$.originMessage")
    def countIf(p: org.apache.spark.sql.Column) = sum(when(p, 1L).otherwise(0L))
    val r = StreamingPipelines.decodeStream(in, cfg, checkProvider).agg(
      count(lit(1)),
      countIf(col("value").isNull),
      countIf(col("topic").isin(MixedTraffic.PassTopics: _*) &&
        col("value") <=> col("orig_value")),
      countIf(decodedTopic && length(col("orig_value")) === 6 &&
        col("value") <=> col("orig_value")),
      countIf(decodedTopic && length(col("orig_value")) > 6 &&
        v.startsWith("{\"originSchema\":")),
      countIf(col("topic") === MixedTraffic.KeyTopic && k.startsWith("{") &&
        k.contains("\"originSchema\":")),
      sum(when(decodedTopic && length(col("orig_value")) > 6,
        coalesce(get_json_object(msg, "$.event_id"),
          get_json_object(msg, "$.id")).cast("long"))))
      .head()
    c.check("stream.records", exp.records, r.getLong(0))
    c.check("stream.tombstones_null", exp.tombstones, r.getLong(1))
    c.check("stream.passthrough_unchanged", exp.pass, r.getLong(2))
    c.check("stream.truncated_passed_through", exp.truncated, r.getLong(3))
    c.check("stream.value_envelopes", exp.decoded, r.getLong(4))
    c.check("stream.key_envelopes", exp.keyRows, r.getLong(5))
    c.check("stream.envelope_id_sum", exp.decodedIdSum, r.getLong(6))
    val swallowed = AvroDecoderState.swallowedErrorCount(checkProvider.cacheToken)
    c.check("stream.swallowed_errors", exp.truncated, swallowed)
    c.failed += math.max(0L, swallowed - exp.truncated)

    if (c.a.trace) {
      val sample = spark.read.parquet(dir)
        .where(decodedTopic && col("value").isNotNull)
        .sample(false, math.min(1.0, 2.0 * SampleRecords / total), seed)
        .limit(SampleRecords).select("topic", "key", "value").collect()
        .map(r => DecodeLayers.Sample(r.getAs[Array[Byte]](2),
          if (r.getString(0) == MixedTraffic.KeyTopic) r.getAs[Array[Byte]](1)
          else null))
      layers(c, sample, MixedTraffic.registry, withCounters = false)
      decodeOverhead(c, untracedMs.sum / 1000.0,
        untraced.map(_.numInputRows).sum.toDouble)
    }
  }

  // ---- extension_mix --------------------------------------------------

  private def extensionMix(c: Ctx): Unit = {
    val spark = c.spark
    // untimed warm-up pass on the small tables (codegen, class loading and
    // JIT of every query's plan shape), queries run concurrently; its
    // results are oracle-checked too. It does not finish the JIT: the first
    // timed pass runs ~10-20% slower than later ones.
    type Result = (Array[Row], org.apache.spark.sql.types.StructType)
    val small = new java.util.concurrent.ConcurrentHashMap[String, Result]()
    val (_, warmS) = timed(concurrently(c.a.cores, MixQueries.map { q => () =>
      val df = SparkEntry.queries(q)(spark, c.a.smallData)
      small.put(q, (df.collect(), df.schema))
    }))
    // the queries read their parquet inputs directly, so the warm-up pass
    // is this workload's whole set-up; it is too long to repeat
    val setupS = c.sessionS + warmS
    c.details.put("warmup_s", warmS)

    val n = MixQueries.size
    val firstPass = new java.util.LinkedHashMap[String, Result]()
    val ops = runOps(c, "query", if (c.a.trace) 2 * n else n, n) { i =>
      val name = MixQueries(i % n)
      val df = SparkEntry.queries(name)(spark, c.a.data)
      val rows = df.collect()
      if (!firstPass.containsKey(name)) firstPass.put(name, (rows, df.schema))
    }
    val byQuery = ops.groupBy(o => MixQueries(o._1 % n))
    val perQuery = MixQueries.map { q =>
      q -> Stats.median(byQuery.getOrElse(q, Nil).filterNot(_._2).map(_._3))
    }
    val mixTotal = perQuery.map(_._2).sum
    c.attempted = ops.size + c.failed
    endToEnd(c, setupS, n / mixTotal, perQuery.map(_._2 * 1000))
    c.details.put("mix_total_s", mixTotal)
    perQuery.foreach { case (q, s) => c.details.put(s"q.$q.s", s) }
    c.exec.foreach { et =>
      c.drain()
      val st = et.stats
      ops.filter(_._2).foreach { case (i, _, _) =>
        val q = MixQueries(i % n)
        st.get(s"query-$i").foreach { s =>
          c.details.put(s"q.$q.jobs", s.jobs)
          c.details.put(s"q.$q.tasks", s.tasks)
          c.details.put(s"q.$q.shuffle_bytes", s.shuffleBytes)
          c.details.put(s"q.$q.exchanges", s.exchanges)
        }
      }
    }
    opMetrics(c, ops.filter(_._2).map(o => s"query-${o._1}"),
      ops.filter(_._2).map(_._3))
    // no records are decoded here: the overhead is wall x cores over task
    // busy time
    if (c.a.trace)
      c.metrics.put("spark.overhead_ratio", c.metrics.get("spark.wall_over_busy"))
    traceOverhead(c, ops, _ % n)

    // correctness, outside the timed region: results as parquet plus each
    // query's oracle SQL, for run.py's DuckDB compare. The warm-up pass is
    // checked, and the first timed pass except the queries whose oracles
    // compare every document pair (minutes on the timed tables).
    val checked = Seq("small" -> small.asScala.toMap,
      "timed" -> firstPass.asScala.toMap.filter(r => !PairwiseOracles.contains(r._1)))
    val outDir = s"${c.a.work}/results"
    val writes = for ((pass, results) <- checked; (q, (rows, schema)) <- results)
      yield () => spark.createDataFrame(rows.toSeq.asJava, schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$pass/$q")
    concurrently(c.a.cores, writes)
    c.details.put("oracle_checks", checked.map { case (pass, results) =>
      pass -> results.keys.map(q => q -> SparkEntry.oracleSql(q)).toMap }.toMap)
    c.details.put("results_dir", outDir)
    c.check("mix.warm_queries_run", n, small.size)
    c.check("mix.timed_queries_run", n, firstPass.size)

    if (c.a.trace) {
      // extension_mix decodes nothing; its layer table comes from its own
      // events table framed under one schema id
      val json = Traffic.eventsSchema("Event")
      val w = new AvroWriter
      val sample = Q.events(spark, c.a.data)
        .sample(false, 0.5, c.a.seed).limit(SampleRecords)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("props"), unix_micros(col("ts")))
        .collect().map(r => DecodeLayers.Sample(Traffic.frame(1,
          Traffic.eventsBody(w, json, r.getLong(0), r.getLong(1),
            r.getString(2), r.getDouble(3), r.getString(4), r.getLong(5))),
          null))
      layers(c, sample, Map(1 -> json), withCounters = true)
    }
  }

  /** Runs `tasks` on `threads` threads; a failed task is reported and
    * leaves its result missing, which the caller's checks catch. */
  private def concurrently(threads: Int, tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      .foreach { f =>
        try f.get() catch { case e: Throwable =>
          System.err.println(s"[perfbench] ${e.getCause}")
        }
      }
    finally pool.shutdown()
  }

  /** The session floor: fixed cost of a trivial job and of a small
    * scan+sort, min of 5 after one warm-up each. */
  private def floors(c: Ctx): Unit = {
    val spark = c.spark
    def minOf(f: => Unit): Double = { f; (0 until 5).map(_ => timed(f)._2).min }
    c.metrics.put("floor.noop_s", minOf(spark.range(10)
      .write.format("noop").mode("overwrite").save()))
    c.metrics.put("floor.scan_sort_s", minOf(
      spark.read.parquet(s"${c.a.data}/documents.parquet")
        .select(col("doc_id")).orderBy(col("doc_id"))
        .write.format("noop").mode("overwrite").save()))
  }
}
