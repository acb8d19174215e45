package graft.avro

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.HttpServer

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter}
import org.apache.avro.io.EncoderFactory

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.config.{EngineConfig, EngineConfigException}

/** The analysis-time BinaryType gate (SURVEY.md §2.1 #4) — ports the
  * reference's `SchemaTest.java:12-62` type lattice against
  * `ConnectSchemaUtil.isBytesSchema`, relocated to eager Spark column-type
  * validation. */
class TypeGateSpec extends SparkFunSuite {
  import Fixtures._

  private def df(valueExpr: String, keyExpr: String = "CAST('k' AS BINARY)") = {
    val s = spark
    s.range(1).selectExpr("'TransformTest' AS topic",
      s"$keyExpr AS key", s"$valueExpr AS value")
  }

  test("binary value (nullable or not) passes the gate " +
      "(SchemaTest.java:13-17)") {
    val (provider, _) = registry()
    // construction alone must not throw — the gate is analysis-time
    AvroTransform(df("CAST(NULL AS BINARY)"), cfg(), provider)
    AvroTransform(df("CAST('x' AS BINARY)"), cfg(), provider)
  }

  test("non-bytes value types fail EAGERLY, naming column and type " +
      "(SchemaTest.java:25-62; ConnectException parity " +
      "AvroTransform.java:194-197)") {
    val (provider, _) = registry()
    // the reference lattice: boolean, int8-64, float32/64, string — plus
    // Spark-side near-misses (array<tinyint> is NOT binary; struct; decimal)
    val lattice = Seq("CAST(1 AS BOOLEAN)", "CAST(1 AS TINYINT)",
      "CAST(1 AS SMALLINT)", "CAST(1 AS INT)", "CAST(1 AS BIGINT)",
      "CAST(1 AS FLOAT)", "CAST(1 AS DOUBLE)", "'str'",
      "array(CAST(1 AS TINYINT))", "named_struct('b', CAST('x' AS BINARY))",
      "CAST(1 AS DECIMAL(10,2))")
    for (expr <- lattice) {
      val e = intercept[TypeGateException] {
        AvroTransform(df(expr), cfg(), provider)
      }
      assert(e.getMessage.contains("'value'"), s"$expr: ${e.getMessage}")
      assert(e.getMessage.contains("does not have a byte[]"))
    }
  }

  test("missing value column fails eagerly with the available schema") {
    val (provider, _) = registry()
    val noValue = spark.range(1).selectExpr("'t' AS topic")
    val e = intercept[TypeGateException] {
      AvroTransform(noValue, cfg(), provider)
    }
    assert(e.getMessage.contains("missing"))
  }

  test("key gate applies only when key decoding is configured " +
      "(processKeys, AvroTransform.java:131-137)") {
    val (provider, _) = registry()
    // key not configured → non-binary key is fine (reference only checks
    // the key schema inside the processKeys branch)
    AvroTransform(df("CAST('x' AS BINARY)", keyExpr = "'strKey'"),
      cfg(Map("TransformTest" -> false)), provider)
    val e = intercept[TypeGateException] {
      AvroTransform(df("CAST('x' AS BINARY)", keyExpr = "'strKey'"),
        cfg(Map("TransformTest" -> true)), provider)
    }
    assert(e.getMessage.contains("'key'"))
  }

  test("decoded() gates the value column too") {
    val (provider, _) = registry()
    intercept[TypeGateException] {
      AvroTransform.decoded(df("CAST(1 AS INT)"), cfg(), provider)
    }
  }
}

/** Fixed-schema typed decode fast path (SURVEY.md §7.3,
  * `graft.plans.AvroDecodeFixed`). */
class AvroTypedFastSpec extends SparkFunSuite {
  import Fixtures._

  private def valueDf(payloads: Seq[Array[Byte]]) = {
    val s = spark
    import s.implicits._
    payloads.toDF("value")
  }

  test("typed decode round-trips the FullName golden record") {
    val wire = WireFormat.frame(1, encodeFullName("fname", "lname"))
    val out = valueDf(Seq(wire))
      .select(AvroTransform.fromAvroFixed(FullNameSchemaJson,
        expectedSchemaId = 1)(col("value")).as("e"))
      .select("e.first", "e.last")
      .head
    assert(out.getString(0) == "fname" && out.getString(1) == "lname")
  }

  test("schema-id guard: frame with a different id throws " +
      "(single-schema contract)") {
    val wire = WireFormat.frame(7, encodeFullName("a", "b"))
    val out = valueDf(Seq(wire))
      .select(AvroTransform.fromAvroFixed(FullNameSchemaJson,
        expectedSchemaId = 1)(col("value")))
    val e = intercept[Throwable](out.collect())
    assert(chain(e).exists(_.isInstanceOf[SchemaLookupException]))
  }

  test("tombstone null passes through as null struct; permissive maps " +
      "decode failures to null; wire violations always throw") {
    val good = WireFormat.frame(1, encodeFullName("a", "b"))
    val corrupt = WireFormat.frame(1, Array[Byte](0x02)) // truncated body
    val decP = AvroTransform.fromAvroFixed(FullNameSchemaJson,
      permissive = true) _
    val rows = valueDf(Seq(good, corrupt, null))
      .select(decP(col("value")).as("e")).collect()
    assert(rows(0).getAs[Row]("e").getString(0) == "a")
    assert(rows(1).isNullAt(0) && rows(2).isNullAt(0))
    // failfast on the same corrupt body
    val strict = valueDf(Seq(corrupt))
      .select(AvroTransform.fromAvroFixed(FullNameSchemaJson)(col("value")))
    assert(intercept[Throwable](strict.collect()) != null)
    // short payload throws even in permissive mode
    val short = valueDf(Seq(Array[Byte](0, 0, 0, 0, 1)))
      .select(decP(col("value")))
    val e = intercept[Throwable](short.collect())
    assert(chain(e).exists(_.isInstanceOf[WireFormatException]))
  }

  test("complex types map faithfully: nullable union, array, map, bytes, " +
      "enum, nested record") {
    val schemaJson =
      """{"type":"record","name":"Cx","fields":[
        |{"name":"opt","type":["null","string"],"default":null},
        |{"name":"nums","type":{"type":"array","items":"long"}},
        |{"name":"tags","type":{"type":"map","values":"int"}},
        |{"name":"raw","type":"bytes"},
        |{"name":"color","type":{"type":"enum","name":"C","symbols":["RED","BLUE"]}},
        |{"name":"inner","type":{"type":"record","name":"In","fields":[
        |  {"name":"v","type":"double"}]}}
        |]}""".stripMargin.replace("\n", "")
    val schema = new Schema.Parser().parse(schemaJson)
    val rec = new GenericData.Record(schema)
    rec.put("opt", null)
    rec.put("nums", java.util.Arrays.asList(1L, 2L, 3L))
    rec.put("tags", java.util.Collections.singletonMap("a", 5))
    rec.put("raw", ByteBuffer.wrap(Array[Byte](9, 8)))
    rec.put("color", new GenericData.EnumSymbol(
      schema.getField("color").schema(), "BLUE"))
    val inner = new GenericData.Record(
      schema.getField("inner").schema())
    inner.put("v", 2.5)
    rec.put("inner", inner)
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[AnyRef](schema).write(rec, enc)
    enc.flush()
    val wire = WireFormat.frame(3, out.toByteArray)

    val row = valueDf(Seq(wire))
      .select(AvroTransform.fromAvroFixed(schemaJson)(col("value")).as("e"))
      .selectExpr("e.opt", "e.nums", "e.tags['a']", "CAST(e.raw AS STRING)",
        "e.color", "e.inner.v")
      .head
    assert(row.isNullAt(0))
    assert(row.getSeq[Long](1) == Seq(1L, 2L, 3L))
    assert(row.getInt(2) == 5)
    assert(row.getString(4) == "BLUE")
    assert(row.getDouble(5) == 2.5)
  }

  test("typed encode is byte-identical to the GenericDatumWriter reference " +
      "encode, and round-trips through the typed decode") {
    val s = spark
    import s.implicits._
    val rows = Seq(("fname", "lname"), ("", "x"), ("ünï©ödé", "末"))
    val got = rows.toDF("first", "last")
      .select(AvroTransform.toAvroFixed(FullNameSchemaJson)(
        struct(col("first"), col("last"))).as("body"))
      .collect().map(_.getAs[Array[Byte]]("body"))
    rows.zip(got).foreach { case ((f, l), bytes) =>
      assert(bytes.sameElements(encodeFullName(f, l)),
        s"native encode of ($f,$l) diverged from GenericDatumWriter")
    }
    // encode → frame → typed decode is the identity
    val round = rows.toDF("first", "last")
      .select(AvroTransform.fromAvroFixed(FullNameSchemaJson)(
        graft.avro.WireFormat.frameCol(1,
          AvroTransform.toAvroFixed(FullNameSchemaJson)(
            struct(col("first"), col("last"))))).as("e"))
      .select("e.first", "e.last")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(round == rows)
  }

  test("typed encode builds one serializer per (schema, thread) for the " +
      "JVM's life, not one per task") {
    import scala.jdk.CollectionConverters._
    val s = spark
    // a schema no other test encodes with: its builds are this test's
    val schemaJson = """{"type":"record","name":"EncodeOnce",""" +
      """"fields":[{"name":"n","type":"long"}]}"""
    def run(): Unit = s.range(0, 4000, 1, 16)
      .select(AvroTransform.toAvroFixed(schemaJson)(
        struct(col("id").as("n"))).as("b"))
      .write.format("noop").mode("overwrite").save()
    run()
    run()
    val mine = graft.plans.AvroEncodeFixed.builds.asScala.toSeq
      .filter(_._1 == schemaJson)
    assert(mine.nonEmpty)
    assert(mine.distinct.size == mine.size, s"rebuilt on a thread: $mine")
    assert(mine.size < 32, s"${mine.size} builds for 32 tasks")
  }

  test("property: random records of every supported type round-trip " +
      "encode → frame → decode bit-exactly (ScalaCheck, fixed seeds)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val s = spark
    import s.implicits._
    val schemaJson =
      """{"type":"record","name":"P","fields":[
        |{"name":"l","type":"long"},
        |{"name":"i","type":"int"},
        |{"name":"d","type":"double"},
        |{"name":"f","type":"float"},
        |{"name":"b","type":"boolean"},
        |{"name":"str","type":"string"},
        |{"name":"opt","type":["null","string"],"default":null},
        |{"name":"xs","type":{"type":"array","items":"long"}}
        |]}""".stripMargin.replace("\n", "")
    val gen = for {
      l <- Gen.long; i <- Gen.chooseNum(Int.MinValue, Int.MaxValue)
      d <- Gen.chooseNum(-1e12, 1e12); f <- Gen.chooseNum(-1e6f, 1e6f)
      b <- Gen.oneOf(true, false)
      str <- Gen.asciiPrintableStr
      opt <- Gen.option(Gen.alphaNumStr)
      xs <- Gen.listOfN(3, Gen.long)
    } yield (l, i, d, f, b, str, opt, xs)
    val rows = (0 until 60).flatMap(k =>
      gen.apply(Gen.Parameters.default, Seed(1000L + k)))
    val df = rows.toDF("l", "i", "d", "f", "b", "str", "opt", "xs")
    val back = df.select(AvroTransform.fromAvroFixed(schemaJson)(
        graft.avro.WireFormat.frameCol(9,
          AvroTransform.toAvroFixed(schemaJson)(
            struct(col("l"), col("i"), col("d"), col("f"), col("b"),
              col("str"), col("opt"), col("xs"))))).as("e"))
      .select("e.l", "e.i", "e.d", "e.f", "e.b", "e.str", "e.opt", "e.xs")
      .collect()
    rows.zip(back).foreach { case ((l, i, d, f, b, str, opt, xs), r) =>
      assert(r.getLong(0) == l && r.getInt(1) == i)
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(d))
      assert(java.lang.Float.floatToIntBits(r.getFloat(3)) ==
        java.lang.Float.floatToIntBits(f))
      assert(r.getBoolean(4) == b && r.getString(5) == str)
      assert(Option(r.getString(6)) == opt)
      assert(r.getSeq[Long](7).toList == xs)
    }
  }

  test("multi-branch unions are rejected with a clear error (the dynamic " +
      "JSON path is the escape hatch)") {
    val bad = """{"type":"record","name":"U","fields":[
      |{"name":"u","type":["int","string"]}]}""".stripMargin.replace("\n", "")
    val e = intercept[Throwable] {
      valueDf(Seq(WireFormat.frame(1, Array[Byte](0))))
        .select(AvroTransform.fromAvroFixed(bad)(col("value"))).collect()
    }
    assert(chain(e).exists(t => t.isInstanceOf[IllegalArgumentException] &&
      t.getMessage.contains("union")))
  }

  test("logical types decode as from_avro decodes them: decimal bytes, " +
      "date and timestamp-micros") {
    val schemaJson =
      """{"type":"record","name":"L","fields":[
        |{"name":"price","type":{"type":"bytes","logicalType":"decimal",
        |  "precision":9,"scale":2}},
        |{"name":"day","type":{"type":"int","logicalType":"date"}},
        |{"name":"at","type":{"type":"long","logicalType":"timestamp-micros"}}
        |]}""".stripMargin.replace("\n", "")
    val schema = new Schema.Parser().parse(schemaJson)
    val rec = new GenericData.Record(schema)
    rec.put("price", ByteBuffer.wrap(
      java.math.BigInteger.valueOf(-12345L).toByteArray)) // -123.45
    rec.put("day", -154498) // 1547-01-01, before the Gregorian switch
    rec.put("at", 1700000000123456L)
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[AnyRef](schema).write(rec, enc)
    enc.flush()
    val decoded = valueDf(Seq(WireFormat.frame(5, out.toByteArray)))
      .select(AvroTransform.fromAvroFixed(schemaJson)(col("value")).as("e"))
      .select("e.*")
    import org.apache.spark.sql.types._
    assert(decoded.schema.map(_.dataType) ==
      Seq(DecimalType(9, 2), DateType, TimestampType))
    val row = decoded.selectExpr("CAST(price AS STRING)",
      "CAST(unix_date(day) AS BIGINT)", "unix_micros(at)").head
    assert(row.getString(0) == "-123.45")
    assert(row.getLong(1) == -154498L && row.getLong(2) == 1700000000123456L)
  }

  test("a root [\"null\", record] schema decodes to the record's struct") {
    val schemaJson = "[\"null\"," + FullNameSchemaJson + "]"
    val union = new Schema.Parser().parse(schemaJson)
    val rec = new GenericData.Record(union.getTypes.get(1))
    rec.put("first", "u")
    rec.put("last", "v")
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[AnyRef](union).write(rec, enc)
    new GenericDatumWriter[AnyRef](union).write(null, enc)
    enc.flush()
    val bytes = out.toByteArray // record (branch 1), then null (branch 0)
    val rows = valueDf(Seq(WireFormat.frame(2, bytes.dropRight(1)),
        WireFormat.frame(2, bytes.takeRight(1))))
      .select(AvroTransform.fromAvroFixed(schemaJson)(col("value")).as("e"))
      .select("e.first", "e.last").collect()
    assert(rows(0).getString(0) == "u" && rows(0).getString(1) == "v")
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
  }

  test("typed encode matches struct fields by POSITION, not by name") {
    val s = spark
    import s.implicits._
    val body = Seq(("a", "b")).toDF("x", "y")
      .select(AvroTransform.toAvroFixed(FullNameSchemaJson)(
        struct(col("x"), col("y"))).as("body"))
      .head.getAs[Array[Byte]](0)
    assert(body.sameElements(encodeFullName("a", "b")))
  }

  test("typed encode rejects a fixed value of the wrong size instead of " +
      "truncating it") {
    val schemaJson = """{"type":"record","name":"F","fields":[
      |{"name":"h","type":{"type":"fixed","name":"H2","size":2}}]}"""
      .stripMargin.replace("\n", "")
    val s = spark
    import s.implicits._
    def enc(bytes: Array[Byte]) = Seq(Tuple1(bytes)).toDF("h")
      .select(AvroTransform.toAvroFixed(schemaJson)(struct(col("h"))))
      .head.getAs[Array[Byte]](0)
    assert(enc(Array[Byte](7, 8)).sameElements(Array[Byte](7, 8)))
    val e = intercept[Throwable](enc(Array[Byte](1, 2, 3)))
    assert(chain(e).exists(t => t.getMessage != null &&
      t.getMessage.contains("bytes")), chain(e).map(_.getMessage))
  }

  private def chain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
}

/** Registry basic-auth / custom-header parity (`AvroTransform.java:98,109`
  * `sourceProps` → `CachedSchemaRegistryClient`; mock credentials
  * `Constants.java:5-15`, `SchemaRegistryMock.java:82-85`). */
class RegistryAuthSpec extends SparkFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("basic auth round-trip: 401 without credentials, schema with them; " +
      "custom headers forwarded") {
    val expectedAuth = "Basic " + java.util.Base64.getEncoder
      .encodeToString("sourceuser:sourcepass".getBytes(UTF_8))
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val schemaEscaped = mapper.writeValueAsString(Fixtures.FullNameSchemaJson)
    @volatile var sawHeader: String = null
    server.createContext("/schemas/ids/1", exchange => {
      sawHeader = exchange.getRequestHeaders.getFirst("X-Graft-Test")
      val auth = exchange.getRequestHeaders.getFirst("Authorization")
      if (auth != expectedAuth) {
        exchange.sendResponseHeaders(401, -1); exchange.close()
      } else {
        val body = s"""{"schema": $schemaEscaped}""".getBytes(UTF_8)
        exchange.sendResponseHeaders(200, body.length)
        exchange.getResponseBody.write(body)
        exchange.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val anon = HttpSchemaRegistryProvider(Seq(base), "auth-anon")
      val e = intercept[SchemaLookupException](anon.schemaJsonById(1))
      assert(e.getMessage.contains("Failed to fetch"))

      val authed = HttpSchemaRegistryProvider(Seq(base), "auth-ok",
        userInfo = Some("sourceuser:sourcepass"),
        extraHeaders = Map("X-Graft-Test" -> "yes"))
      assert(authed.schemaJsonById(1)
        .contains(Fixtures.FullNameSchemaJson))
      assert(sawHeader == "yes")
    } finally server.stop(0)
  }

  test("HttpSchemaRegistryProvider.fromConfig wires URLs + auth and keys " +
      "the decoder-state cache by connection identity") {
    val props = Map(
      "src.schema.registry.url" -> "http://a,http://b",
      "avro.topics" -> "t:true",
      "src.basic.auth.credentials.source" -> "USER_INFO",
      "src.basic.auth.user.info" -> "u:p")
    val p1 = HttpSchemaRegistryProvider.fromConfig(EngineConfig.fromProps(props))
    val p2 = HttpSchemaRegistryProvider.fromConfig(EngineConfig.fromProps(props))
    assert(p1.baseUrls == Seq("http://a", "http://b"))
    assert(p1.userInfo.contains("u:p"))
    assert(p1.cacheToken == p2.cacheToken, "same config → shared state")
    val pOther = HttpSchemaRegistryProvider.fromConfig(EngineConfig.fromProps(
      props + ("src.basic.auth.user.info" -> "u:DIFFERENT")))
    assert(pOther.cacheToken != p1.cacheToken,
      "different credentials must not alias caches")
  }

  test("EngineConfig parses the basic-auth keys (USER_INFO source)") {
    val c = EngineConfig.fromProps(Map(
      "src.schema.registry.url" -> "http://a",
      "avro.topics" -> "t:true",
      "src.basic.auth.credentials.source" -> "USER_INFO",
      "src.basic.auth.user.info" -> "sourceuser:sourcepass"))
    assert(c.registryUserInfo.contains("sourceuser:sourcepass"))
    // URL / unset source → no user-info auth
    assert(EngineConfig.fromProps(Map(
      "src.schema.registry.url" -> "http://a", "avro.topics" -> "t:true",
      "src.basic.auth.credentials.source" -> "URL"))
      .registryUserInfo.isEmpty)
    // USER_INFO without credentials, or an unknown source, fail eagerly
    intercept[EngineConfigException](EngineConfig.fromProps(Map(
      "src.schema.registry.url" -> "http://a", "avro.topics" -> "t:true",
      "src.basic.auth.credentials.source" -> "USER_INFO")))
    intercept[EngineConfigException](EngineConfig.fromProps(Map(
      "src.schema.registry.url" -> "http://a", "avro.topics" -> "t:true",
      "src.basic.auth.credentials.source" -> "SASL")))
  }
}

/** Reader-schema evolution on the typed fast path
  * (`AvroTransform.fromAvroEvolved`): standard Avro schema resolution —
  * defaults, drops, alias renames, numeric promotion — applied between the
  * registry writer schema and an upgraded consumer's reader schema. */
class AvroEvolutionSpec extends SparkFunSuite {

  private val WriterJson =
    """{"type":"record","name":"V","fields":[
      |{"name":"id","type":"int"},
      |{"name":"nm","type":"string"},
      |{"name":"extra","type":"string"}]}""".stripMargin.replace("\n", "")

  private val ReaderJson =
    """{"type":"record","name":"V","fields":[
      |{"name":"id","type":"long"},
      |{"name":"name","type":"string","aliases":["nm"]},
      |{"name":"score","type":"double","default":0.5}]}"""
      .stripMargin.replace("\n", "")

  private def encodeV1(id: Int, nm: String, extra: String): Array[Byte] = {
    val schema = new org.apache.avro.Schema.Parser().parse(WriterJson)
    val rec = new GenericData.Record(schema)
    rec.put("id", id)
    rec.put("nm", nm)
    rec.put("extra", extra)
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[AnyRef](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  test("evolution: default filled, dropped field skipped, alias rename, " +
      "int->long promotion") {
    val s = spark
    import s.implicits._
    val framed = Seq(
        WireFormat.frame(7, encodeV1(41, "alpha", "drop-me")),
        WireFormat.frame(7, encodeV1(42, "beta", "drop-me-too")))
      .toDF("value")
    val out = framed
      .select(AvroTransform.fromAvroEvolved(WriterJson, ReaderJson,
        expectedSchemaId = 7)(col("value")).as("e"))
      .select(col("e.id"), col("e.name"), col("e.score"))
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
        r.getAs[Double]("score")))
    assert(out.toSeq == Seq((41L, "alpha", 0.5), (42L, "beta", 0.5)))
  }

  test("evolution: reader field with NO default fails loudly") {
    val s = spark
    import s.implicits._
    val badReader =
      """{"type":"record","name":"V","fields":[
        |{"name":"id","type":"long"},
        |{"name":"absent","type":"string"}]}""".stripMargin.replace("\n", "")
    val framed = Seq(WireFormat.frame(7, encodeV1(1, "x", "y"))).toDF("value")
    val e = intercept[Exception] {
      framed.select(AvroTransform.fromAvroEvolved(WriterJson, badReader,
        expectedSchemaId = 7)(col("value")).as("e"))
        .select(col("e.id")).collect()
    }
    // Avro resolution error surfaces (possibly wrapped by Spark execution)
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("missing required field")),
      chain(e).mkString("; "))
  }
}
