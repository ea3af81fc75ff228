package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import com.fasterxml.jackson.core.StreamReadConstraints
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, JsonToStructs, UnaryExpression}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** String fields `fields` of a one-object JSON line, in one pass over its
  * bytes, with a JSON parser as the exact fallback.
  *
  * The fast path ([[WireKernels.scan]]) takes only canonical lines: one
  * flat `{…}` object with no whitespace, every key and value a `"…"` string
  * of printable ASCII without `\`, each requested field at most once and
  * nothing after the closing `}`, in at most 50,000 bytes (Jackson's default
  * key-length limit: no key on the fast path is one the parser refuses). A
  * requested field the line lacks reads null. Values are views over the
  * input bytes, valid for the current row like the input itself (Spark
  * copies a row before it keeps it).
  *
  * Every other line (and a null value) evaluates `fallback`, an expression
  * over the value as ordinal 0 of a one-field row — in practice
  * `from_json(value, schema)` — and takes `fields` from its struct by
  * name. For such a line the output is the fallback's, by construction; for
  * a canonical line a JSON parser reads exactly the bytes between the
  * quotes, so both paths agree.
  *
  * The fallback is not a child: its branch is generated lazily, behind the
  * fast path's null check (as `If` generates its branches), and gets its
  * own input row. So a `CodegenFallback` fallback such as `JsonToStructs`
  * does not pull the surrounding projection out of whole-stage codegen.
  */
case class WireFields(child: Expression, fallback: Expression, fields: Seq[String])
    extends UnaryExpression {
  private val fallbackType = fallback.dataType.asInstanceOf[StructType]
  require(fields.forall(f => fallbackType(f).dataType == StringType),
    s"wire_fields: every field of ${fields.mkString(",")} must be a string of the fallback")

  override def dataType: DataType = StructType(fields.map(StructField(_, StringType)))
  override def nullable: Boolean = true
  override def prettyName: String = "wire_fields"
  override protected def flatArguments: Iterator[Any] = Iterator(child, fields.mkString(","))

  @transient private lazy val names: Array[Array[Byte]] = fields.map(_.getBytes(UTF_8)).toArray
  @transient private lazy val ordinals: Array[Int] = fields.map(fallbackType.fieldIndex).toArray

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val fast = if (v == null) null else WireKernels.scan(v.asInstanceOf[UTF8String], names)
    if (fast != null) fast
    else WireKernels.select(
      fallback.eval(new GenericInternalRow(Array[Any](v))).asInstanceOf[InternalRow], ordinals)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val namesRef = ctx.addReferenceObj("wireNames", names, "byte[][]")
    val ordinalsRef = ctx.addReferenceObj("wireOrdinals", ordinals, "int[]")
    val c = child.genCode(ctx)
    val row = ctx.freshName("wireRow")
    val (outerRow, outerVars) = (ctx.INPUT_ROW, ctx.currentVars)
    ctx.INPUT_ROW = row
    ctx.currentVars = null
    val fb = try fallback.genCode(ctx) finally {
      ctx.INPUT_ROW = outerRow
      ctx.currentVars = outerVars
    }
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} = ${c.isNull} ? null :
        graft.functions.WireKernels.scan(${c.value}, $namesRef);
      if (${ev.value} == null) {
        org.apache.spark.sql.catalyst.InternalRow $row =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            new Object[] { ${c.isNull} ? null : ${c.value} });
        ${fb.code}
        ${ev.value} = graft.functions.WireKernels.select(
          ${fb.isNull} ? null : ${fb.value}, $ordinalsRef);
      }
      boolean ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WireFields {

  /** `struct<fields…>` strings of the JSON `value` column, identical to the
    * same fields of `from_json(value, schema)` (default options, session
    * time zone). */
  def apply(value: Column, schema: StructType, fields: Seq[String]): Column = {
    val json = JsonToStructs(schema, Map.empty, BoundReference(0, StringType, nullable = true),
      Some(SQLConf.get.sessionLocalTimeZone))
    ColumnBridge.column(WireFields(ColumnBridge.expression(value), json, fields))
  }
}

/** The kernels behind [[WireFields]], shared by `eval` and generated code. */
object WireKernels {

  /** The `names` fields of a canonical line as a row of views over `s`, or
    * null when `s` is not canonical (see [[WireFields]]). */
  def scan(s: UTF8String, names: Array[Array[Byte]]): InternalRow = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val end = s.numBytes - 1   // the closing '}'
    if (end < 1 || end >= StreamReadConstraints.DEFAULT_MAX_NAME_LEN ||
        Platform.getByte(base, off) != '{' || Platform.getByte(base, off + end) != '}') return null
    val out = new Array[Any](names.length)
    var i = 1
    while (i < end) {
      if (Platform.getByte(base, off + i) != '"') return null
      val key = i + 1
      i = closingQuote(base, off, key, end)
      if (i < 0 || i + 2 >= end || Platform.getByte(base, off + i + 1) != ':' ||
          Platform.getByte(base, off + i + 2) != '"') return null
      val f = fieldOf(names, base, off + key, i - key)
      val value = i + 3
      i = closingQuote(base, off, value, end)
      if (i < 0) return null
      if (f >= 0) {
        if (out(f) != null) return null   // a repeated field: the parser keeps the last
        out(f) = UTF8String.fromAddress(base, off + value, i - value)
      }
      i += 1
      if (i < end) {
        if (Platform.getByte(base, off + i) != ',') return null
        i += 1
        if (i == end) return null   // trailing comma
      }
    }
    new GenericInternalRow(out)
  }

  /** The requested `ordinals` of a parsed row (null stays null). */
  def select(row: InternalRow, ordinals: Array[Int]): InternalRow =
    if (row == null) null
    else {
      val out = new Array[Any](ordinals.length)
      var k = 0
      while (k < ordinals.length) {
        if (!row.isNullAt(ordinals(k))) out(k) = row.getUTF8String(ordinals(k))
        k += 1
      }
      new GenericInternalRow(out)
    }

  /** Index of the `"` that closes the string starting at `from`, or -1 when
    * none does before `end` or a byte on the way is not printable ASCII or
    * is a backslash (bytes are signed: UTF-8 continuation bytes are < 0). */
  private def closingQuote(base: AnyRef, off: Long, from: Int, end: Int): Int = {
    var i = from
    while (i < end) {
      val b = Platform.getByte(base, off + i)
      if (b == '"') return i
      if (b < 0x20 || b == 0x7f || b == '\\') return -1
      i += 1
    }
    -1
  }

  private def fieldOf(names: Array[Array[Byte]], base: AnyRef, at: Long, len: Int): Int = {
    var f = 0
    while (f < names.length) {
      val n = names(f)
      if (n.length == len &&
          ByteArrayMethods.arrayEquals(n, Platform.BYTE_ARRAY_OFFSET, base, at, len)) return f
      f += 1
    }
    -1
  }
}
