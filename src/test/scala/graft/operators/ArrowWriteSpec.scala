package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.{SparkFunSuite, TestPaths}
import graft.sources.ArrowShards

/** The Arrow shard export ([[ArrowShards.writeArrowShards]]: Spark's
  * Catalyst → Arrow writer and Arrow Java's stream writer).
  *
  * Verification: every shard round-trips through
  * [[ArrowIpc.batchesJvm]] (itself golden-pinned against real pyarrow
  * output), and the gated referee has real pyarrow decode every export
  * shape the queries write, so the writer answers to the reference
  * implementation from the read direction too. */
class ArrowWriteSpec extends SparkFunSuite {

  private def df(schema: StructType, rows: Seq[Any]*): DataFrame =
    spark.createDataFrame(rows.map(Row.fromSeq).asJava, schema)

  private def field(name: String, dt: DataType) =
    StructField(name, dt, nullable = true)

  /** The one shard that exporting `d` as a single partition writes. */
  private def shard(d: DataFrame, batchRows: Int = 8192,
      codec: String = null,
      dictCols: Set[String] = Set.empty): Array[Byte] = {
    val dir = TestPaths.dir("graft_arrow_write")
    ArrowShards.writeArrowShards(d.coalesce(1), dir.toString, batchRows,
      codec, dictCols)
    val files = dir.toFile.listFiles.filter(_.getName.endsWith(".arrows"))
    assert(files.length == 1, "one shard per non-empty partition")
    java.nio.file.Files.readAllBytes(files.head.toPath)
  }

  /** A Spark cell as the reader returns it: integers as Long, float32
    * exact-widened to Double, rows as member Seqs, maps as (key, value)
    * entry Seqs. */
  private def norm(v: Any): Any = v match {
    case null => null
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case f: Float => f.toDouble
    case r: Row => r.toSeq.map(norm)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => Seq(norm(k), norm(x)) }
    case s: scala.collection.Seq[_] => s.map(norm)
    case other => other
  }

  /** Exports `d` and checks that the repo reader returns its rows;
    * the shard's batches. */
  private def roundTrip(d: DataFrame, batchRows: Int = 8192,
      codec: String = null,
      dictCols: Set[String] = Set.empty): IndexedSeq[ArrowIpc.Batch] = {
    val batches = ArrowIpc.batchesJvm(shard(d, batchRows, codec, dictCols))
    val rows = d.collect()
    assert(batches.map(_.nRows).sum == rows.length, "row count")
    d.schema.fields.indices.foreach { ci =>
      assert(batches.flatMap(_.cols(ci).values) ==
        rows.toVector.map(r => norm(r.get(ci))),
        s"values of ${d.schema(ci).name}")
    }
    batches
  }

  test("round-trip matrix: primitives with nulls, lists, nested " +
      "lists, multi-batch, empty, no-null fast path") {
    val prims = roundTrip(df(StructType(Seq(
        field("id", LongType), field("x", DoubleType),
        field("f", FloatType), field("s", StringType),
        field("b", BooleanType), field("i", IntegerType),
        field("h", ShortType), field("y", ByteType))),
      Seq(1L, 1.5, 1.5f, "a", true, 7, 3.toShort, (-2).toByte),
      Seq(2L, null, 2.5f, null, false, null, null, null),
      Seq(null, 3.25, null, "héllo", null, -1, (-3).toShort, 127.toByte),
      Seq(4L, -0.0, 0.125f, "", true, Int.MaxValue, Short.MinValue,
        Byte.MinValue)))
    // integral columns of every width arrive as int64
    assert(prims.head.cols.map(_.kind) == Seq("long", "double", "double",
      "string", "bool", "long", "long", "long"))
    roundTrip(df(StructType(Seq(field("id", LongType),
        field("emb", ArrayType(FloatType)))),
      Seq(1L, Seq(1.0f, 2.0f)), Seq(2L, null), Seq(3L, Seq())))
    roundTrip(df(StructType(Seq(
        field("ll", ArrayType(ArrayType(LongType))))),
      Seq(Seq(Seq(1L, 2L), Seq(3L))), Seq(Seq()), Seq(null)))
    val multi = roundTrip(df(StructType(Seq(field("id", LongType),
        field("s", StringType))),
      (0 until 1000).map(i => Seq(i.toLong, s"row-$i")): _*),
      batchRows = 128)
    assert(multi.size == 8, "ceil(1000/128)")
    // an empty partition writes no shard
    val dir = TestPaths.dir("graft_arrow_empty")
    ArrowShards.writeArrowShards(df(StructType(Seq(field("id", LongType)))),
      dir.toString)
    assert(!dir.toFile.listFiles.exists(_.getName.endsWith(".arrows")))
  }

  test("writer is deterministic; unsupported types, codecs and " +
      "dictionary columns fail loud") {
    val d = df(StructType(Seq(field("a", LongType), field("b", StringType))),
      Seq(1L, "z"), Seq(2L, "z"))
    assert(java.util.Arrays.equals(shard(d, codec = "zstd",
      dictCols = Set("b")), shard(d, codec = "zstd", dictCols = Set("b"))))
    val dir = TestPaths.dir("graft_arrow_fail").toString
    intercept[IllegalArgumentException] {
      ArrowShards.writeArrowShards(d, dir, codec = "lzma")
    }
    intercept[IllegalArgumentException] {
      ArrowShards.writeArrowShards(d, dir, dictCols = Set("a"))
    }
    intercept[IllegalArgumentException] {
      ArrowShards.writeArrowShards(
        df(StructType(Seq(field("t", DateType))), Seq(null)), dir)
    }
  }

  test("dictionary columns (replacement batches across record " +
      "batches, nulls, all-null), zstd body compression, and both " +
      "together") {
    // new values in later record batches grow the dictionary, which
    // goes out again as a replacement DictionaryBatch
    val langs = df(StructType(Seq(field("id", LongType),
        field("lang", StringType))),
      (0 until 300).map(i => Seq(i.toLong,
        if (i % 11 == 0) null else s"lang-${i % 5 + i / 100}")): _*)
    val b = roundTrip(langs, batchRows = 64, dictCols = Set("lang"))
    assert(b.size == 5 && b.head.cols(1).kind == "string")
    // an all-null dictionary column still writes its (empty) dictionary
    roundTrip(df(StructType(Seq(field("id", LongType),
        field("d", StringType))), Seq(1L, null), Seq(2L, null)),
      dictCols = Set("d"))
    // zstd bodies
    val text = df(StructType(Seq(field("id", LongType),
        field("s", StringType))),
      (0 until 500).map(i => Seq(i.toLong, s"text-${i % 7} " * 8)): _*)
    roundTrip(text)
    roundTrip(text, codec = "zstd")
    val plain = shard(text)
    val comp = shard(text, codec = "zstd")
    assert(comp.length < plain.length / 2,
      s"repetitive text must compress: ${comp.length} vs ${plain.length}")
    // dict + zstd compose
    roundTrip(df(StructType(Seq(field("id", LongType),
        field("src", StringType), field("txt", StringType))),
      (0 until 300).map(i => Seq(i.toLong, s"crawl-${i % 3}",
        s"body $i " * 6)): _*),
      batchRows = 100, codec = "zstd", dictCols = Set("src"))
  }

  test("round 16: struct and map columns round-trip through the " +
      "repo reader (map surfaces as the spec's list<struct<key," +
      "value>>), nulls at every level, zstd bodies included") {
    val d = df(StructType(Seq(field("id", LongType),
        field("meta", StructType(Seq(field("s", StringType),
          field("n", IntegerType)))),
        field("props", MapType(StringType, LongType)))),
      Seq(1L, Row("a", 10), Map("k1" -> 1L, "k2" -> 2L)),
      Seq(2L, null, null),
      Seq(3L, Row(null, 30), Map()),
      Seq(4L, Row("d", null), Map("z" -> null)))
    for (codec <- Seq(null, "zstd", "lz4")) {
      val b = roundTrip(d, codec = codec)
      assert(b.size == 1 && b.head.nRows == 4)
      assert(b.head.cols.map(_.kind) == Seq("long",
        "struct<s:string,n:long>", "array<struct<key:string,value:long>>"))
      assert(b.head.cols(2).values == Vector(
        Seq(Seq("k1", 1L), Seq("k2", 2L)), null, Seq(), Seq(Seq("z", null))))
    }
  }

  test("gated PYARROW referee: real pyarrow decodes the struct+map " +
      "stream to the exact rows (skipped when pyarrow is absent)") {
    val probe = try {
      new ProcessBuilder("python3", "-c", "import pyarrow")
        .start().waitFor() == 0
    } catch { case _: Exception => false }
    assume(probe, "no python3/pyarrow on this host")
    // every export shape the corpus_export_arrow_* queries write
    val shapes = Seq(
      "plain" -> shard(df(StructType(Seq(field("id", LongType),
          field("s", StringType), field("x", DoubleType),
          field("b", BooleanType))),
        Seq(1L, "a", 0.5, true), Seq(2L, null, null, false))),
      "dict+zstd" -> shard(df(StructType(Seq(field("id", LongType),
          field("src", StringType))),
        Seq(1L, "x"), Seq(2L, "y"), Seq(3L, "z"), Seq(4L, "x")),
        batchRows = 2, codec = "zstd", dictCols = Set("src")),
      "struct" -> shard(df(StructType(Seq(field("id", LongType),
          field("meta", StructType(Seq(field("s", StringType),
            field("n", LongType)))))),
        Seq(1L, Row("a", 10L)), Seq(2L, null))),
      "map+lz4" -> shard(df(StructType(Seq(field("id", LongType),
          field("props", MapType(StringType, StringType)))),
        Seq(1L, Map("k1" -> "v1", "k2" -> "v2")), Seq(2L, Map())),
        codec = "lz4"),
      "list<float32>" -> shard(df(StructType(Seq(field("vec_id", LongType),
          field("emb", ArrayType(FloatType)))),
        Seq(1L, Seq(0.5f, 1.25f)), Seq(2L, null), Seq(3L, Seq()))))
    val files = shapes.map { case (_, bytes) =>
      val f = TestPaths.file("graft_arrow_referee", ".arrows")
      java.nio.file.Files.write(f, bytes)
      f.toString
    }
    val py =
      """import json, sys
        |import pyarrow.ipc as ipc
        |for path in sys.argv[1:]:
        |    t = ipc.open_stream(open(path, 'rb')).read_all()
        |    print(json.dumps(t.to_pylist(), sort_keys=True))
        |    print(';'.join(str(f.type) for f in t.schema))
        |""".stripMargin
    val pb = new ProcessBuilder((Seq("python3", "-c", py) ++ files).asJava)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, s"pyarrow failed:\n$out")
    val want = Seq(
      """[{"b": true, "id": 1, "s": "a", "x": 0.5}, """ +
        """{"b": false, "id": 2, "s": null, "x": null}]""",
      "int64;string;double;bool",
      """[{"id": 1, "src": "x"}, {"id": 2, "src": "y"}, """ +
        """{"id": 3, "src": "z"}, {"id": 4, "src": "x"}]""",
      "int64;dictionary<values=string, indices=int32, ordered=0>",
      """[{"id": 1, "meta": {"n": 10, "s": "a"}}, """ +
        """{"id": 2, "meta": null}]""",
      "int64;struct<s: string, n: int64>",
      """[{"id": 1, "props": [["k1", "v1"], ["k2", "v2"]]}, """ +
        """{"id": 2, "props": []}]""",
      "int64;map<string, string>",
      """[{"emb": [0.5, 1.25], "vec_id": 1}, {"emb": null, "vec_id": 2}, """ +
        """{"emb": [], "vec_id": 3}]""",
      "int64;list<$data$: float>")
    assert(out.trim.split("\n").toSeq == want, out)
  }

  test("float32 cells survive byte-exactly (widen-to-double is the " +
      "reader's exact binary widening)") {
    val vals = Seq(0.1f, 1e-40f, Float.MinPositiveValue, 3.4028235e38f,
      -0.0f)
    val got = ArrowIpc.batchesJvm(shard(df(StructType(Seq(
      field("f", FloatType))), vals.map(Seq(_)): _*))).head.cols.head.values
    vals.zip(got).foreach { case (f, d: Double) =>
      assert(java.lang.Float.floatToRawIntBits(f) ==
        java.lang.Float.floatToRawIntBits(d.toFloat))
    }
  }
}
