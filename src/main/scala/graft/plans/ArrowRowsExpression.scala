package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.ArrowIpc

/** `arrow_rows(blob)` → one struct per DATA ROW of an Arrow IPC
  * stream/file blob, as [[ArrowIpc]] reads it (batch_idx, row_idx, then
  * the caller-declared columns — kinds `long`/`double`/`string`/`bool`,
  * `array<…>` and `struct<name:kind,…>`, matched BY NAME against the
  * stream's own schema). A blob whose schema doesn't
  * carry every declared column at the declared kind yields an EMPTY
  * array (PERMISSIVE), as does anything malformed — the
  * [[ProtoDecodeStruct]] discipline with the array-explode shape of
  * the media walks. */
case class ArrowRows(child: Expression,
    fields: Seq[(String, String)]) extends UnaryExpression {

  private def kindType(k: String): DataType = k match {
    case "long" => LongType
    case "double" => DoubleType
    case "string" => StringType
    case "bool" => BooleanType
    case l if l.startsWith("array<") && l.endsWith(">") =>
      // list columns (round 14): "array<double>" matches an Arrow
      // list<float64|float32> column, "array<long>" a list<int*>, …
      ArrayType(kindType(l.substring(6, l.length - 1)),
        containsNull = true)
    case s if s.startsWith("struct<") && s.endsWith(">") =>
      // struct columns (round 15) — "struct<key:string,value:long>";
      // members split at top-level commas (nesting via depth count)
      val body = s.substring(7, s.length - 1)
      val members = Vector.newBuilder[(String, String)]
      var depth = 0
      var start = 0
      var i = 0
      while (i <= body.length) {
        if (i == body.length || (body.charAt(i) == ',' && depth == 0)) {
          val m = body.substring(start, i)
          val c = m.indexOf(':')
          members += ((m.substring(0, c), m.substring(c + 1)))
          start = i + 1
        } else body.charAt(i) match {
          case '<' => depth += 1
          case '>' => depth -= 1
          case _ => ()
        }
        i += 1
      }
      StructType(members.result().map { case (n, kk) =>
        StructField(n, kindType(kk), nullable = true)
      })
    case other =>
      throw new IllegalArgumentException(s"unsupported kind $other")
  }

  override def dataType: DataType = ArrayType(StructType(
    Seq(StructField("batch_idx", LongType, nullable = false),
      StructField("row_idx", LongType, nullable = false)) ++
      fields.map { case (n, k) =>
        StructField(n, kindType(k), nullable = true)
      }), containsNull = false)

  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    // codegen routes through nullSafeEval too, so this one barrier
    // covers both paths: a latent decoder throw on a corrupt blob
    // degrades to the PERMISSIVE empty array, not a failed task
    try evalRows(input)
    catch {
      case scala.util.control.NonFatal(_) =>
        new GenericArrayData(Array.empty[Any])
    }

  private def evalRows(input: Any): Any = {
    val batches = ArrowIpc.batchesJvm(input.asInstanceOf[Array[Byte]])
    val empty = new GenericArrayData(Array.empty[Any])
    if (batches.isEmpty) return empty
    // resolve declared columns against the stream schema by name+kind
    val first = batches.head.cols.map(c => c.name -> c.kind).toMap
    if (!fields.forall { case (n, k) => first.get(n).contains(k) })
      return empty
    val rows = Vector.newBuilder[Any]
    var rowIdx = 0L
    // TYPE-directed conversion (round 15): a struct value and an
    // array value are both Seqs off the reader — the declared kind,
    // not the runtime shape, decides InternalRow vs ArrayData
    def internal(v: Any, dt: DataType): Any = (v, dt) match {
      case (null, _) => null
      case (s: String, _) => UTF8String.fromString(s)
      case (seq: Seq[_], ArrayType(et, _)) =>
        new GenericArrayData(seq.map(internal(_, et)).toArray)
      case (m: Seq[_], st: StructType) =>
        InternalRow.fromSeq(m.zip(st.fields.toSeq).map {
          case (x, f) => internal(x, f.dataType)
        })
      case (x, _) => x
    }
    val fieldTypes = fields.map { case (_, k) => kindType(k) }
    batches.foreach { b =>
      val byName = b.cols.map(c => c.name -> c).toMap
      if (fields.exists { case (n, k) =>
        !byName.get(n).exists(_.kind == k) }) return empty
      var r = 0
      while (r < b.nRows.toInt) {
        rows += InternalRow.fromSeq(
          Seq[Any](b.idx.toLong, rowIdx) ++
            fields.zip(fieldTypes).map { case ((n, _), dt) =>
              internal(byName(n).values(r), dt)
            })
        rowIdx += 1
        r += 1
      }
    }
    new GenericArrayData(rows.result().toArray)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("arrowRows", this,
      classOf[ArrowRows].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val setNull =
        if (nullable) s"\n      ${ev.isNull} = ${ev.value} == null;"
        else ""
      s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
        $self.nullSafeEval($c);$setNull"""
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : ArrowRows = copy(child = newChild)
  override def prettyName: String = "graft_arrow_rows"
}

object ArrowExprs {
  def arrowRowsCol(blob: Column,
      fields: Seq[(String, String)]): Column =
    ColumnBridge.column(ArrowRows(
      ColumnBridge.expression(blob), fields))
}
