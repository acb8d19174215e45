package graft.avro

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpServer

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter}
import org.apache.avro.io.EncoderFactory

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkFunSuite
import graft.config.ErrorMode

/** Robustness beyond the reference's own suite (SURVEY.md §5 item 3):
  * property-based round-trips (ScalaCheck generators, fixed seed for
  * reproducibility), the reference's primitive type lattice, dynamic
  * multi-schema topics, LRU eviction, HTTP registry parsing. */
class AvroRobustnessSpec extends SparkFunSuite {

  /** Deterministic sampling from a ScalaCheck generator (no scalatestplus
    * bridge in the offline dependency set). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int = 100)(
      f: (A, B) => Unit): Unit =
    samples(ga, n).zip(samples(gb, n)).foreach { case (a, b) => f(a, b) }

  private val mapper = new ObjectMapper()

  private def decodeOne(provider: SchemaProvider,
      wire: Array[Byte]): String = {
    val state = AvroDecoderState.forProvider(provider, 100)
    new String(DecodeKernel.decodeValue(wire, state, permissive = false), UTF_8)
  }

  test("property: FullName round-trip preserves arbitrary unicode strings") {
    val (provider, id) = Fixtures.registry()
    // printable-ish unicode incl. quotes/backslashes/control chars and an
    // astral-plane codepoint (surrogate pair)
    val pieceGen = Gen.oneOf(
      Gen.alphaNumChar.map(_.toString),
      Gen.oneOf("\"", "\\", "\n", "\t", "é", "中",
        new String(Character.toChars(0x1D11E)), " "))
    val strGen = Gen.listOf(pieceGen).map(_.mkString)
    forAll2(strGen, strGen) { (first: String, last: String) =>
      val wire = WireFormat.frame(id, Fixtures.encodeFullName(first, last))
      val env = mapper.readTree(decodeOne(provider, wire))
      val msg = mapper.readTree(env.get("originMessage").asText())
      assert(msg.get("first").asText() == first)
      assert(msg.get("last").asText() == last)
      assert(env.get("originSchemaId").asInt() == id)
    }
  }

  test("property: mixed-primitive flat records round-trip exactly") {
    val schemaJson =
      """{"type":"record","name":"Mixed","fields":[
        |{"name":"i","type":"int"},{"name":"l","type":"long"},
        |{"name":"d","type":"double"},{"name":"b","type":"boolean"},
        |{"name":"s","type":"string"}]}""".stripMargin.replace("\n", "")
    val stub = new SchemaRegistryStub
    val id = stub.registerValueSchema("mixed", schemaJson)
    val provider = stub.toProvider
    val schema = new Schema.Parser().parse(schemaJson)

    val tupleGen = for {
      i <- Gen.chooseNum(Int.MinValue, Int.MaxValue)
      l <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
      d <- Gen.chooseNum(-1e12, 1e12)
      b <- Gen.oneOf(true, false)
      s <- Gen.alphaStr
    } yield (i, l, d, b, s)
    samples(tupleGen, 100).foreach { case (i, l, d, b, s) =>
      val rec = new GenericData.Record(schema)
      rec.put("i", i); rec.put("l", l); rec.put("d", d)
      rec.put("b", b); rec.put("s", s)
      val out = new ByteArrayOutputStream()
      val enc = EncoderFactory.get().binaryEncoder(out, null)
      new GenericDatumWriter[AnyRef](schema).write(rec, enc)
      enc.flush()
      val env = mapper.readTree(
        decodeOne(provider, WireFormat.frame(id, out.toByteArray)))
      val msg = mapper.readTree(env.get("originMessage").asText())
      assert(msg.get("i").asInt() == i && msg.get("l").asLong() == l)
      assert(msg.get("b").asBoolean() == b && msg.get("s").asText() == s)
      assert(msg.get("d").asDouble() == d ||
        (d.isNaN && msg.get("d").asDouble().isNaN))
    }
  }

  test("reference primitive lattice: top-level int/string/boolean payloads " +
      "(TransformTest.java:61-63)") {
    val stub = new SchemaRegistryStub
    val intId = stub.registerValueSchema("prims", "\"int\"")
    val strId = stub.registerValueSchema("prims2", "\"string\"")
    val boolId = stub.registerValueSchema("prims3", "\"boolean\"")
    val provider = stub.toProvider

    def enc(schemaJson: String, write: org.apache.avro.io.Encoder => Unit)
        : Array[Byte] = {
      val out = new ByteArrayOutputStream()
      val e = EncoderFactory.get().binaryEncoder(out, null)
      write(e); e.flush(); out.toByteArray
    }
    val intEnv = mapper.readTree(decodeOne(provider,
      WireFormat.frame(intId, enc("\"int\"", _.writeInt(42)))))
    assert(intEnv.get("originMessage").asText() == "42")
    val strEnv = mapper.readTree(decodeOne(provider,
      WireFormat.frame(strId, enc("\"string\"", _.writeString("hi")))))
    assert(strEnv.get("originMessage").asText() == "\"hi\"")
    val boolEnv = mapper.readTree(decodeOne(provider,
      WireFormat.frame(boolId, enc("\"boolean\"", _.writeBoolean(true)))))
    assert(boolEnv.get("originMessage").asText() == "true")
  }

  test("dynamic multi-schema topic: per-ROW schema resolution in one plan") {
    val s = spark
    import s.implicits._
    val stub = new SchemaRegistryStub
    val fnId = stub.registerValueSchema("t", Fixtures.FullNameSchemaJson)
    val otherJson =
      """{"type":"record","name":"Other","fields":[{"name":"x","type":"long"}]}"""
    val otherId = stub.registerValueSchema("t2", otherJson)
    val provider = stub.toProvider
    assert(fnId != otherId)

    val otherSchema = new Schema.Parser().parse(otherJson)
    def encOther(x: Long): Array[Byte] = {
      val rec = new GenericData.Record(otherSchema)
      rec.put("x", x)
      val out = new ByteArrayOutputStream()
      val e = EncoderFactory.get().binaryEncoder(out, null)
      new GenericDatumWriter[AnyRef](otherSchema).write(rec, e)
      e.flush(); out.toByteArray
    }
    val rows = (1 to 50).map { i =>
      if (i % 2 == 0) ("mixed", WireFormat.frame(fnId,
        Fixtures.encodeFullName(s"f$i", s"l$i")))
      else ("mixed", WireFormat.frame(otherId, encOther(i.toLong)))
    }
    val df = rows.toDF("topic", "value")
    val out = AvroTransform(df,
      Fixtures.cfg(Map("mixed" -> false)), provider)
      .select($"value".cast("string").as("env")).collect()
    val envs = out.map(r => mapper.readTree(r.getString(0)))
    assert(envs.count(_.get("originSchemaId").asInt() == fnId) == 25)
    assert(envs.count(_.get("originSchemaId").asInt() == otherId) == 25)
    assert(envs.filter(_.get("originSchemaId").asInt() == otherId)
      .forall(_.get("originSchema").asText().contains("\"Other\"")))
  }

  test("decoded honours ErrorMode: PERMISSIVE nulls an undecodable body " +
      "and counts it, FAILFAST fails the job, wire violations fail in both") {
    val s = spark
    import s.implicits._
    val (provider, id) = Fixtures.registry()
    def decodedRows(mode: ErrorMode, values: Array[Byte]*) =
      AvroTransform.decoded(values.map(("TransformTest", _))
          .toDF("topic", "value"), Fixtures.cfg(mode = mode), provider)
        .select("origin_schema_id", "origin_message").collect()
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq

    val good = WireFormat.frame(id, Fixtures.encodeFullName("fn", "ln"))
    val truncated = WireFormat.frame(id, Array[Byte](0x02))
    val before = AvroDecoderState.swallowedErrorCount(provider.cacheToken)
    val rows = decodedRows(ErrorMode.Permissive, good, truncated, null)
    assert(rows(0).getInt(0) == id && rows(0).getString(1).contains("fn"))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1),
      "an undecodable body must give a null envelope under PERMISSIVE")
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1))
    assert(AvroDecoderState.swallowedErrorCount(provider.cacheToken) > before)

    val failFast = intercept[Throwable](
      decodedRows(ErrorMode.FailFast, truncated))
    assert(causes(failFast).exists(DecodeKernel.isDecodeFailure))
    for (mode <- Seq(ErrorMode.Permissive, ErrorMode.FailFast)) {
      val e = intercept[Throwable](
        decodedRows(mode, Array[Byte](0, 0, 0, 0, 1)))
      assert(causes(e).exists(_.isInstanceOf[WireFormatException]))
    }
  }

  test("PERMISSIVE: a corrupt string length (2e9) or array count (5e8) " +
      "passes the bytes through without allocating for it") {
    val schemaJson =
      """{"type":"record","name":"Corrupt","fields":[
        |{"name":"id","type":"long"},{"name":"s","type":"string"},
        |{"name":"xs","type":{"type":"array","items":"long"}}]}"""
        .stripMargin.replace("\n", "")
    val stub = new SchemaRegistryStub
    val id = stub.registerValueSchema("corrupt", schemaJson)
    val state = AvroDecoderState.forProvider(stub.toProvider, 100)
    def body(write: org.apache.avro.io.Encoder => Unit): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      val e = EncoderFactory.get().binaryEncoder(out, null)
      write(e); e.flush()
      WireFormat.frame(id, out.toByteArray)
    }
    val good = body { e =>
      e.writeLong(7); e.writeString("ok"); e.writeArrayStart()
      e.setItemCount(1); e.startItem(); e.writeLong(1); e.writeArrayEnd()
    }
    val hugeString = body { e => e.writeLong(7); e.writeLong(2000000000L) }
    val hugeArray = body { e =>
      e.writeLong(7); e.writeString("ok"); e.writeLong(500000000L)
      e.writeLong(1); e.writeLong(2)
    }
    // warm the schema cache and the decode path before measuring
    DecodeKernel.decodeValue(good, state, permissive = true)
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val self = Thread.currentThread().getId
    val swallowed = state.swallowedErrors.sum()
    val before = threads.getThreadAllocatedBytes(self)
    val outs = Seq(hugeString, hugeArray).map(b =>
      b -> DecodeKernel.decodeValue(b, state, permissive = true))
    val allocated = threads.getThreadAllocatedBytes(self) - before
    outs.foreach { case (in, out) => assert(out.sameElements(in)) }
    assert(state.swallowedErrors.sum() == swallowed + 2)
    assert(allocated < (16L << 20), s"allocated $allocated bytes")
  }

  test("schema LRU respects capacity (eviction + refetch still correct)") {
    val stub = new SchemaRegistryStub
    val ids = (1 to 10).map { i =>
      stub.registerValueSchema(s"cap$i",
        s"""{"type":"record","name":"R$i","fields":[{"name":"v","type":"long"}]}""")
    }
    val provider = stub.toProvider
    val state = new AvroDecoderState(provider, capacity = 3)
    // touch all 10 twice; capacity 3 forces constant eviction
    (0 until 2).foreach { _ =>
      ids.foreach { id =>
        assert(state.schemaById(id).getName == s"R$id")
      }
    }
  }

  test("forProvider keys decoder states by (token, capacity): a second " +
      "pipeline on the same registry with a smaller schema.capacity gets " +
      "its own LRU") {
    val stub = new SchemaRegistryStub
    val ids = Seq("capKeyA", "capKeyB").map { n =>
      stub.registerValueSchema(n,
        s"""{"type":"record","name":"$n","fields":[{"name":"v","type":"long"}]}""")
    }
    val provider = stub.toProvider
    val wide = AvroDecoderState.forProvider(provider, 100)
    val narrow = AvroDecoderState.forProvider(provider, 1)
    assert(AvroDecoderState.forProvider(provider, 100) eq wide)
    (0 until 5).foreach(_ => ids.foreach(wide.schemaById))
    assert(wide.cacheMisses.sum() == 2)
    // capacity 1: alternating two ids evicts on every lookup
    (0 until 5).foreach(_ => ids.foreach(narrow.schemaById))
    assert(narrow.cacheMisses.sum() == 10)
    // the token's stats sum over both capacities' states
    assert(AvroDecoderState.cacheStats(provider.cacheToken) == ((8L, 12L)))
  }

  test("HTTP registry provider: fetch, 404 → None, multi-URL failover " +
      "(AvroTransform.java:267 parity)") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val schemaEscaped = mapper.writeValueAsString(Fixtures.FullNameSchemaJson)
    server.createContext("/schemas/ids/1", exchange => {
      val body = s"""{"schema": $schemaEscaped}""".getBytes(UTF_8)
      exchange.getResponseHeaders.add("Content-Type",
        "application/vnd.schemaregistry.v1+json")
      exchange.sendResponseHeaders(200, body.length)
      exchange.getResponseBody.write(body)
      exchange.close()
    })
    server.createContext("/", exchange => {
      exchange.sendResponseHeaders(404, -1); exchange.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val provider = HttpSchemaRegistryProvider(
        Seq(s"http://127.0.0.1:1/broken", s"http://127.0.0.1:$port"),
        "http-test")
      val got = provider.schemaJsonById(1)
      assert(got.contains(Fixtures.FullNameSchemaJson))
      assert(provider.schemaJsonById(999).isEmpty)
    } finally server.stop(0)
  }

  test("cold-start misses are single-flighted: N racing threads, one fetch " +
      "(SURVEY.md §7.4); a failed fetch does not poison the cache") {
    val fetches = new java.util.concurrent.atomic.AtomicInteger
    val failFirst = new java.util.concurrent.atomic.AtomicBoolean(true)
    val provider = new SchemaProvider {
      override val cacheToken = "single-flight-test"
      override def schemaJsonById(id: Int): Option[String] = {
        fetches.incrementAndGet()
        Thread.sleep(50) // wide race window
        if (id == 7 && failFirst.getAndSet(false))
          throw new SchemaLookupException("transient registry failure")
        Some(Fixtures.FullNameSchemaJson)
      }
    }
    val state = new AvroDecoderState(provider, capacity = 10)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      // 8 threads race the same cold id → exactly one fetch
      val tasks = (1 to 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[String] {
          override def call(): String = state.schemaById(1).getName
        }))
      assert(tasks.map(_.get()).forall(_ == "FullName"))
      assert(fetches.get() == 1, s"expected 1 fetch, got ${fetches.get()}")

      // a failing fetch propagates but the NEXT call retries and succeeds
      val before = fetches.get()
      intercept[SchemaLookupException](state.schemaById(7))
      assert(state.schemaById(7).getName == "FullName")
      assert(fetches.get() == before + 2)
    } finally pool.shutdown()
  }
}
