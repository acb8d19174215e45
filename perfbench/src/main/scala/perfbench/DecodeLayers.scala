package perfbench

import graft.avro.{AvroDecoderState, AvroEnvelope, DecodeKernel, WireFormat}

/** The decode layer table: ns/record for each public layer call of the
  * value path, measured in a single-thread loop over a seeded sample of a
  * workload's records.
  *
  * The traced loop composes `WireFormat.parse → cachedSchema →
  * decodeToJson → valueEnvelope` itself, with a span around each call; the
  * untraced loop calls `DecodeKernel.decodeValue`, the shipped kernel. The
  * two are interleaved rep by rep on one decoder state, and every composed
  * output must be byte-identical to the kernel's, so the table measures the
  * program that ships. Every record also times `keyEnvelope`.
  *
  * A schema-cache miss calls the stand-in registry, whose fixed delay is
  * the benchmark's, not the program's: the registry's own counted fetch
  * time is taken out of the lookup stage and reported as the
  * `registry.fetch` row, so `schema_cache.lookup_ns` is the program's
  * lookup and miss handling only. */
object DecodeLayers {

  /** A record whose value is decoded; `key` is null unless its key is. */
  final case class Sample(value: Array[Byte], key: Array[Byte])

  final case class Result(metrics: Map[String, Double], mismatches: Int)

  private val Stages = Array("wire.parse", "schema_cache.lookup",
    "kernel.decode_to_json", "envelope.value")

  def run(sample: Array[Sample], provider: CountingSchemaProvider, capacity: Int,
      permissive: Boolean, reps: Int, spans: Spans, root: Int): Result = {
    val state = AvroDecoderState.forProvider(provider, capacity)
    val fetchNanos = CountingSchemaProvider.counters(provider.cacheToken).fetchNanos
    val n = sample.length
    val expected = sample.map(s => DecodeKernel.decodeValue(s.value, state,
      permissive))
    val expectedKey = sample.map(s =>
      if (s.key == null) null
      else DecodeKernel.decodeKey(s.key, state, permissive, strip = true))
    val stageNs = Array.fill(Stages.length)(new Array[Double](reps))
    val keyEnvNs = new Array[Double](reps)
    val fetchNs = new Array[Double](reps)
    val recordNs = new Array[Double](reps)
    val kernelNs = new Array[Double](reps)
    val t = new Array[Long](5)
    var mismatches = 0
    var bytesIn, bytesOut = 0L

    for (rep <- 0 until reps) {
      var k0 = System.nanoTime()
      var i = 0
      while (i < n) {
        DecodeKernel.decodeValue(sample(i).value, state, permissive)
        i += 1
      }
      kernelNs(rep) = (System.nanoTime() - k0).toDouble / n

      // spans are kept for the last rep only: one rep is the table's
      // sample, the others only steady its medians
      val keep = rep == reps - 1
      val sums = new Array[Long](Stages.length)
      var keySum, recSum, keyCount, fetchSum = 0L
      i = 0
      while (i < n) {
        val s = sample(i)
        t(0) = System.nanoTime()
        val framed = WireFormat.parse(s.value)
        val f0 = fetchNanos.sum()
        t(1) = System.nanoTime()
        val cached = state.cachedSchema(framed.schemaId)
        t(2) = System.nanoTime()
        val fetched = fetchNanos.sum() - f0
        fetchSum += fetched
        sums(1) -= fetched
        var out: Array[Byte] = null
        try {
          val json = state.decodeToJson(cached, framed.schemaId, framed.body)
          t(3) = System.nanoTime()
          out = AvroEnvelope.valueEnvelope(framed.schemaId, json, cached.json)
        } catch {
          case e: Throwable if permissive && DecodeKernel.isDecodeFailure(e) =>
            t(3) = System.nanoTime()
            out = s.value
        }
        t(4) = System.nanoTime()
        var j = 0
        while (j < Stages.length) { sums(j) += t(j + 1) - t(j); j += 1 }
        recSum += t(4) - t(0)
        if (keep) {
          val rec = spans.add(root, "decode.record", spans.epoch(t(0)),
            spans.epoch(t(4)))
          j = 0
          while (j < Stages.length) {
            val id = spans.add(rec, Stages(j), spans.epoch(t(j)),
              spans.epoch(t(j + 1)))
            // the registry reports a duration only: its span is placed at
            // the start of the lookup that called it
            if (j == 1 && fetched > 0)
              spans.add(id, "registry.fetch", spans.epoch(t(1)),
                spans.epoch(t(1) + fetched))
            j += 1
          }
          if (!java.util.Arrays.equals(out, expected(i))) mismatches += 1
          bytesIn += s.value.length
          bytesOut += out.length
        }
        // a record whose key is not decoded times the key envelope on its
        // value's decoded JSON, so every workload measures the key layer
        val (kjson, kschema) =
          if (s.key != null) {
            val kf = WireFormat.parse(s.key)
            val kc = state.cachedSchema(kf.schemaId)
            (state.decodeToJson(kc, kf.schemaId, kf.body), kc.json)
          } else if (out ne s.value)
            (state.decodeToJson(cached, framed.schemaId, framed.body), cached.json)
          else (null, null)
        if (kjson != null) {
          k0 = System.nanoTime()
          val kout = AvroEnvelope.keyEnvelope(kjson, kschema)
          val k1 = System.nanoTime()
          keySum += k1 - k0
          keyCount += 1
          if (keep) {
            spans.add(root, "envelope.key", spans.epoch(k0), spans.epoch(k1))
            if (s.key != null && !java.util.Arrays.equals(kout, expectedKey(i)))
              mismatches += 1
          }
        }
        i += 1
      }
      for (j <- Stages.indices) stageNs(j)(rep) = sums(j).toDouble / n
      keyEnvNs(rep) = keySum.toDouble / math.max(1L, keyCount)
      fetchNs(rep) = fetchSum.toDouble / n
      recordNs(rep) = recSum.toDouble / n
    }

    val kernel = Stats.median(kernelNs.toSeq)
    val stageMedians = stageNs.map(a => Stats.median(a.toSeq))
    // fetches are rare events (a miss per rep per id beyond capacity), so
    // their row is the mean over reps, not the median
    val fetch = fetchNs.sum / reps
    val metrics = Map(
      "wire.parse_ns" -> stageMedians(0),
      "schema_cache.lookup_ns" -> stageMedians(1),
      "kernel.decode_to_json_ns" -> stageMedians(2),
      "envelope.value_ns" -> stageMedians(3),
      "envelope.key_ns" -> Stats.median(keyEnvNs.toSeq),
      "kernel.decode_value_ns" -> kernel,
      "trace.decode_overhead_ns" -> (Stats.median(recordNs.toSeq) - kernel),
      "registry.fetch_ns" -> fetch,
      "trace.stage_sum_ns" -> (stageMedians.sum + fetch),
      "envelope.bytes_out_per_in" -> bytesOut.toDouble / math.max(1L, bytesIn),
      "decode.sample_records" -> n.toDouble)
    Result(metrics, mismatches)
  }
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
