package graft.operators

import java.nio.channels.Channels

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, DateDayVector, FieldVector,
  Float2Vector, Float4Vector, IntVector, LargeVarCharVector, UInt4Vector,
  VarBinaryVector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.complex.UnionVector
import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryEncoder,
  DictionaryProvider}
import org.apache.arrow.vector.holders.NullableBigIntHolder
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.arrow.vector.types.Types.MinorType
import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding}
import org.scalatest.funsuite.AnyFunSuite

/** The types [[ArrowIpc]] declines: every stream here is written by
  * Arrow Java and is well formed, and a stream with one column of a type
  * the reader does not map decodes to nothing — never to a misread
  * column — while the same stream with a mapped type in its place
  * decodes. */
class ArrowIpcDeclineSpec extends AnyFunSuite {

  private val alloc = new RootAllocator()

  /** One record batch of `vectors` (closed here) as an Arrow stream. */
  private def stream(vectors: FieldVector*): Array[Byte] =
    streamWith(null, vectors: _*)

  private def streamWith(dicts: DictionaryProvider,
      vectors: FieldVector*): Array[Byte] = {
    val root = new VectorSchemaRoot(vectors.asJava)
    root.setRowCount(vectors.head.getValueCount)
    val bos = new java.io.ByteArrayOutputStream()
    val w = new ArrowStreamWriter(root, dicts, Channels.newChannel(bos))
    try {
      w.start()
      w.writeBatch()
      w.end()
    } finally {
      w.close()
      root.close()
    }
    bos.toByteArray
  }

  private def ids(): BigIntVector = {
    val v = new BigIntVector("id", alloc)
    v.allocateNew(2)
    v.set(0, 1L)
    v.set(1, 2L)
    v.setValueCount(2)
    v
  }

  private def ints(name: String): IntVector = {
    val v = new IntVector(name, alloc)
    v.allocateNew(2)
    v.set(0, 10)
    v.set(1, 20)
    v.setValueCount(2)
    v
  }

  test("the control: a signed int32 column decodes, widened to long") {
    val b = ArrowIpc.batchesJvm(stream(ids(), ints("x")))
    assert(b.map(_.nRows) == Vector(2L))
    assert(b.head.cols.map(c => (c.name, c.kind, c.values)) == Vector(
      ("id", "long", Vector(1L, 2L)), ("x", "long", Vector(10L, 20L))))
  }

  test("unsigned integers are declined") {
    val u = new UInt4Vector("x", alloc)
    u.allocateNew(2)
    u.set(0, 10)
    u.set(1, -1) // 2^32 - 1: no signed reading is right
    u.setValueCount(2)
    assert(ArrowIpc.batchesJvm(stream(ids(), u)).isEmpty)
  }

  test("half floats are declined; single floats widen exactly") {
    val h = new Float2Vector("x", alloc)
    h.allocateNew(2)
    h.set(0, 0x3c00.toShort) // 1.0
    h.set(1, 0x4000.toShort) // 2.0
    h.setValueCount(2)
    assert(ArrowIpc.batchesJvm(stream(ids(), h)).isEmpty)
    val f = new Float4Vector("x", alloc)
    f.allocateNew(2)
    f.set(0, 0.1f)
    f.set(1, 2.0f)
    f.setValueCount(2)
    assert(ArrowIpc.batchesJvm(stream(ids(), f)).head.cols(1).values ==
      Vector(0.1f.toDouble, 2.0))
  }

  test("unions are declined") {
    val u = new UnionVector("x", alloc, null, null)
    u.allocateNew()
    val h = new NullableBigIntHolder
    h.isSet = 1
    Seq(0, 1).foreach { i =>
      h.value = 5L + i
      u.setType(i, MinorType.BIGINT)
      u.setSafe(i, h)
    }
    u.setValueCount(2)
    assert(ArrowIpc.batchesJvm(stream(ids(), u)).isEmpty)
  }

  test("binary, large utf8 and temporal columns are declined") {
    val bin = new VarBinaryVector("x", alloc)
    bin.allocateNew()
    bin.setSafe(0, Array[Byte](1, 2))
    bin.setSafe(1, Array[Byte](3))
    bin.setValueCount(2)
    assert(ArrowIpc.batchesJvm(stream(ids(), bin)).isEmpty)
    val large = new LargeVarCharVector("x", alloc)
    large.allocateNew()
    large.setSafe(0, "a".getBytes("UTF-8"))
    large.setSafe(1, "b".getBytes("UTF-8"))
    large.setValueCount(2)
    assert(ArrowIpc.batchesJvm(stream(ids(), large)).isEmpty)
    val day = new DateDayVector("x", alloc)
    day.allocateNew(2)
    day.set(0, 1)
    day.set(1, 2)
    day.setValueCount(2)
    assert(ArrowIpc.batchesJvm(stream(ids(), day)).isEmpty)
  }

  test("a dictionary with unsigned indices is declined; signed " +
      "indices resolve") {
    def encoded(indexType: ArrowType.Int): Array[Byte] = {
      val values = new VarCharVector("dict", alloc)
      values.allocateNew()
      values.setSafe(0, "a".getBytes("UTF-8"))
      values.setSafe(1, "b".getBytes("UTF-8"))
      values.setValueCount(2)
      val dict = new Dictionary(values,
        new DictionaryEncoding(0L, false, indexType))
      val plain = new VarCharVector("x", alloc)
      plain.allocateNew()
      plain.setSafe(0, "b".getBytes("UTF-8"))
      plain.setSafe(1, "a".getBytes("UTF-8"))
      plain.setValueCount(2)
      val idx = DictionaryEncoder.encode(plain, dict).asInstanceOf[FieldVector]
      plain.close()
      val provider = new DictionaryProvider.MapDictionaryProvider(dict)
      try streamWith(provider, ids(), idx) finally provider.close()
    }
    val signed = ArrowIpc.batchesJvm(encoded(new ArrowType.Int(16, true)))
    assert(signed.head.cols(1).values == Vector("b", "a"))
    assert(ArrowIpc.batchesJvm(encoded(new ArrowType.Int(16, false)))
      .isEmpty)
  }
}
