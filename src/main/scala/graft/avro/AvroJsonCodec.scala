package graft.avro

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.avro.Schema

/** Per-executor decode state: a schema-id → [[AvroDecoderState.CachedSchema]]
  * LRU. Each entry holds the parsed writer schema, its JSON, the
  * [[AvroTranscoder]] compiled from it and the ready-made value-envelope
  * prefix, all built once when the id is first fetched; eviction and the
  * single-flight miss path therefore cover the transcoder too.
  *
  * The cache mirrors the reference's
  * `SynchronizedCache(LRUCache(capacity))` over the registry client
  * (`/root/reference/src/main/java/com/ing/eventbus/connect/schema/converters/AvroTransform.java:108-109`,
  * hit path `:259-261`, miss+fetch `:262-269`), relocated from the single
  * Connect task thread to each executor JVM (SURVEY.md §4.3 #2). The
  * reference also builds a `DatumReader`, `DatumWriter` and `JsonEncoder`
  * per record (`AvroTransform.java:241-246`; SURVEY.md §4.1); here the
  * per-record work is one walk of the compiled transcoder.
  *
  * Thread-safety: the LRU is a synchronized `LinkedHashMap` in access order
  * behind a lock-free read mirror; a compiled transcoder is immutable and
  * keeps its scratch buffer per thread.
  */
final class AvroDecoderState(provider: SchemaProvider, capacity: Int) {

  /** Everything derived from one writer schema, computed exactly once per
    * (executor, id): the parsed schema, its serialized JSON (the reference
    * calls `schema.toString()` per record in the envelope), the compiled
    * transcoder and the value envelope's
    * `{"originSchema":"<escaped>","originMessage":"` prefix. */
  final case class CachedSchema(schema: Schema, json: String,
      transcoder: AvroTranscoder, envelopePrefix: Array[Byte]) {
    /** `json` as the Catalyst string every decoded row carries. */
    val jsonUtf8: org.apache.spark.unsafe.types.UTF8String =
      org.apache.spark.unsafe.types.UTF8String.fromString(json)
  }

  // Canonical LRU (capacity semantics parity with the reference's
  // SynchronizedCache(LRUCache), `AvroTransform.java:108`) + a lock-free
  // read mirror: the hot path does ONE ConcurrentHashMap get per record;
  // LRU access order is refreshed opportunistically (every 64th hit per
  // thread) — near-LRU eviction, exact-LRU is irrelevant when the working
  // set fits `schema.capacity`, and an always-locked access-ordered map
  // serializes all decode threads.
  private val schemas =
    new java.util.LinkedHashMap[Integer, CachedSchema](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Integer, CachedSchema]): Boolean = {
        val evict = size() > capacity
        if (evict) mirror.remove(e.getKey)
        evict
      }
    }
  private val mirror = new ConcurrentHashMap[Integer, CachedSchema]()
  private val touchCounter = ThreadLocal.withInitial[Array[Int]](() => new Array[Int](1))

  /** Count of decode failures swallowed in PERMISSIVE mode — the metric the
    * reference never had (it only `printStackTrace`d, SURVEY.md §4.3 #3). */
  val swallowedErrors = new LongAdder

  /** Schema-cache hit/miss counters (BASELINE.md asks for the hit ratio
    * under multi-schema topics). */
  val cacheHits = new LongAdder
  val cacheMisses = new LongAdder

  // Cold-start single-flight (SURVEY.md §7.4): the first thread to miss an
  // id does the (slow, remote) fetch; concurrent missers of the SAME id
  // wait on its future instead of stampeding the registry. A failed fetch
  // completes exceptionally and is removed, so the next record retries —
  // a transient registry error never poisons the cache.
  private val inflight =
    new ConcurrentHashMap[Integer, java.util.concurrent.CompletableFuture[CachedSchema]]()

  def cachedSchema(id: Int): CachedSchema = {
    val key = Integer.valueOf(id)
    val fast = mirror.get(key)
    if (fast != null) {
      cacheHits.increment()
      val c = touchCounter.get()
      c(0) += 1
      if ((c(0) & 63) == 0) schemas.synchronized { schemas.get(key) } // LRU touch
      return fast
    }
    cacheMisses.increment()
    val fut = new java.util.concurrent.CompletableFuture[CachedSchema]()
    val prior = inflight.putIfAbsent(key, fut)
    if (prior != null) {
      try return prior.join()
      catch {
        case e: java.util.concurrent.CompletionException => throw e.getCause
      }
    }
    try {
      // we won the fetch race; re-check the mirror (a fetch may have
      // completed and been removed from `inflight` before our putIfAbsent)
      val again = mirror.get(key)
      if (again != null) { fut.complete(again); return again }
      // fetch outside the LRU lock: a slow registry call must not
      // serialize the decode of already-cached ids
      val json = provider.schemaJsonById(id).getOrElse {
        throw new SchemaLookupException(s"Schema id $id not found in registry")
      }
      val parsed = new Schema.Parser().parse(json)
      val text = parsed.toString
      val entry = CachedSchema(parsed, text, AvroTranscoder.compile(parsed),
        AvroTranscoder.envelopePrefix(text))
      val winner = schemas.synchronized {
        val raced = schemas.get(key)
        if (raced != null) raced
        else {
          schemas.put(key, entry)
          mirror.put(key, entry)
          entry
        }
      }
      fut.complete(winner)
      winner
    } catch {
      case t: Throwable => fut.completeExceptionally(t); throw t
    } finally inflight.remove(key)
  }

  def schemaById(id: Int): Schema = cachedSchema(id).schema

  /** Decode an Avro-binary body (writer schema = reader schema, no
    * evolution — `AvroTransform.java:241-243`) to the JSON Avro's own
    * `JsonEncoder` writes (non-pretty, `:244-251`; union wrapping,
    * ISO-8859-1 bytes), kept for parity with the golden output
    * (`TransformTest.java:508`). `schemaId` is not needed: `cached`
    * already holds the compiled schema. */
  def decodeToJson(cached: CachedSchema, schemaId: Int,
      body: Array[Byte]): String =
    new String(cached.transcoder.json(body, 0), UTF_8)
}

/** JVM-wide registry of decoder states, keyed by the provider's cache token
  * and the schema capacity: every task on an executor shares one schema LRU
  * per pipeline, exactly one network fetch per new schema id per executor,
  * and two pipelines on one registry with different `schema.capacity`
  * values each get an LRU of their own size.
  *
  * BOUNDED (access-ordered LRU, [[AvroDecoderState.MaxStates]] entries): a
  * long-lived driver/executor JVM that keeps constructing pipelines must
  * not accumulate decoder states forever — an evicted state is simply
  * rebuilt (and its schema cache re-warmed) if that pipeline runs again.
  * The lookup is once per expression instance per executor (cached in a
  * `@transient lazy val`), so the synchronized map is OFF the per-row path.
  */
object AvroDecoderState {
  val MaxStates = 64
  private val states =
    new java.util.LinkedHashMap[(String, Int), AvroDecoderState](16, 0.75f,
        true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Int), AvroDecoderState]): Boolean =
        size() > MaxStates
    }

  def forProvider(provider: SchemaProvider, capacity: Int): AvroDecoderState =
    states.synchronized {
      val key = (provider.cacheToken, capacity)
      var s = states.get(key)
      if (s == null) {
        s = new AvroDecoderState(provider, capacity)
        states.put(key, s)
      }
      s
    }

  /** The states of one cache token, whatever their capacity. */
  private def statesOf(cacheToken: String): Seq[AvroDecoderState] = {
    val out = Seq.newBuilder[AvroDecoderState]
    states.forEach((k, s) => if (k._1 == cacheToken) out += s)
    out.result()
  }

  /** Test/metrics hooks, summed over the token's states. */
  def swallowedErrorCount(cacheToken: String): Long = states.synchronized {
    statesOf(cacheToken).map(_.swallowedErrors.sum()).sum
  }

  def cacheStats(cacheToken: String): (Long, Long) = states.synchronized {
    val ss = statesOf(cacheToken)
    (ss.map(_.cacheHits.sum()).sum, ss.map(_.cacheMisses.sum()).sum)
  }
}

/** JSON envelope construction (SURVEY.md §2.1 #10/#11) from a decoded
  * JSON string, with `org.json.JSONObject`-compatible escaping, so the
  * value envelope is byte-identical to the reference's golden output
  * (`TransformTest.java:508`): key order
  * `originSchema, originMessage, originSchemaId`.
  *
  * These are the envelopes' definition. [[DecodeKernel]] writes the same
  * bytes in one pass with [[AvroTranscoder]], which applies [[escape]]
  * while it decodes; `AvroTranscoderSpec` checks that the two agree.
  */
object AvroEnvelope {

  /** JSON string escape compatible with `org.json.JSONObject.quote` for the
    * characters that can appear here: quote, backslash, control chars, and
    * the `- ` / ` -℀` ranges org.json also escapes. */
  def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 16)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '/' if i > 0 && s.charAt(i - 1) == '<' => sb.append("\\/")
        case _ if c < ' ' || (c >= 0x80 && c < 0xa0) ||
            (c >= 0x2000 && c < 0x2100) =>
          sb.append(f"\\u${c.toInt}%04x")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Value-side envelope (`rewriteToSingleJson(int, byte[], Schema)`,
    * `AvroTransform.java:230-237`): the decoded message is a JSON-escaped
    * STRING, not a nested object (golden proof `TransformTest.java:508`). */
  def valueEnvelope(schemaId: Int, decodedJson: String,
      schemaJson: String): Array[Byte] = {
    val sb = new java.lang.StringBuilder(
      decodedJson.length + schemaJson.length + 64)
    sb.append("{\"originSchema\":\"").append(escape(schemaJson))
      .append("\",\"originMessage\":\"").append(escape(decodedJson))
      .append("\",\"originSchemaId\":").append(schemaId).append('}')
    sb.toString.getBytes(UTF_8)
  }

  /** Key-side envelope (`rewriteToSingleJson(byte[], Schema)`,
    * `AvroTransform.java:224-229`): the decoded record's own fields are
    * INLINED and `originSchema` is injected as a sibling — the documented
    * key/value asymmetry (SURVEY.md §7.4). Splices the schema in without
    * re-parsing the decoded JSON. */
  def keyEnvelope(decodedJson: String, schemaJson: String): Array[Byte] = {
    val t = decodedJson.trim
    val out =
      if (t.startsWith("{") && t.endsWith("}")) {
        val inner = t.substring(1, t.length - 1).trim
        val sep = if (inner.isEmpty) "" else ","
        s"{$inner$sep\"originSchema\":\"${escape(schemaJson)}\"}"
      } else {
        // Non-record key (Avro primitive): fall back to a wrapping object.
        s"""{"originKey":$t,"originSchema":"${escape(schemaJson)}"}"""
      }
    out.getBytes(UTF_8)
  }
}
