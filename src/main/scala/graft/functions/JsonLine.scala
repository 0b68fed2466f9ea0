package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, SpecializedGetters, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: a struct as one line of JSON, byte for
  * byte what Spark's `to_json` writes with default options, built
  * straight from the row's UTF-8 bytes.
  *
  * `to_json` decodes every string into a `String`, runs Jackson into a
  * `CharArrayWriter`, and re-encodes the whole line. This kernel copies
  * each string's bytes into a reusable buffer (one per generated class
  * instance, that is per task), escaping exactly what Jackson escapes
  * by default: `"`, `\`, the short forms `\b \t \n \f \r`, and every
  * other byte below 0x20 as `\u00XX` in uppercase hex. Bytes from 0x7F
  * up pass through. Field names are escaped once, when the writer is
  * built. Doubles are written with `Double.toString`, quoted when NaN
  * or infinite. A null struct field is omitted and a null array
  * element is written as `null`, as `to_json` does with its default
  * `ignoreNullFields`. A string that is not well-formed UTF-8 goes the
  * way `to_json` takes it, through `UTF8String.toString` (each
  * malformed sequence becomes U+FFFD) and back to UTF-8.
  *
  * It takes the types the hydro features and q18 carry: string,
  * double, array and struct. Any other type fails analysis by name. */
case class JsonLine(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType => JsonLine.unsupported(s) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(t) => TypeCheckResult.TypeCheckFailure(
        s"json_line does not support ${t.simpleString} (in ${s.simpleString})")
    }
    case other => TypeCheckResult.TypeCheckFailure(
      s"json_line expects a struct, got ${other.simpleString}")
  }

  @transient private lazy val writers: ThreadLocal[JsonLine.Writer] =
    ThreadLocal.withInitial(() => new JsonLine.Writer(child.dataType.asInstanceOf[StructType]))

  override def nullSafeEval(row: Any): Any = writers.get.line(row.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[JsonLine.Writer].getName
    val schema = ctx.addReferenceObj("jsonSchema", child.dataType, classOf[StructType].getName)
    val writer = ctx.addMutableState(cls, "jsonLine", v => s"$v = new $cls($schema);")
    nullSafeCodeGen(ctx, ev, row => s"${ev.value} = $writer.line($row);")
  }

  override protected def withNewChildInternal(newChild: Expression): JsonLine =
    copy(child = newChild)
}

object JsonLine {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** `struct` as one JSON line, as `to_json(struct)` writes it. */
  def apply(struct: Column): Column =
    ColumnBridge.column(JsonLine(ColumnBridge.expression(struct)))

  /** The first type in `t` the writer cannot write. */
  private def unsupported(t: DataType): Option[DataType] = t match {
    case StringType | DoubleType => None
    case ArrayType(e, _) => unsupported(e)
    case StructType(fields) => fields.iterator.map(f => unsupported(f.dataType)).collectFirst {
      case Some(u) => u
    }
    case other => Some(other)
  }

  private final val Str = 0
  private final val Dbl = 1
  private final val Arr = 2
  private final val Obj = 3

  private def kind(t: DataType): Int = t match {
    case StringType => Str
    case DoubleType => Dbl
    case _: ArrayType => Arr
    case _: StructType => Obj
    case other => throw new IllegalArgumentException(s"json_line does not support ${other.simpleString}")
  }

  /** What the writer knows of a value of type `t`: its kind and, for an
    * array or struct, the plan of what it holds. */
  private final class Plan(t: DataType) {
    val kind: Int = JsonLine.kind(t)
    val element: Plan = t match {
      case ArrayType(e, _) => new Plan(e)
      case _ => null
    }
    val fields: Array[Plan] = t match {
      case StructType(fs) => fs.map(f => new Plan(f.dataType))
      case _ => null
    }
    /** Each field's escaped `"name":`, UTF-8. */
    val keys: Array[Array[Byte]] = t match {
      case StructType(fs) => fs.map { f =>
        val w = new Writer(new StructType)
        w.string(UTF8String.fromString(f.name))
        w.byte(':')
        w.bytes
      }
      case _ => null
    }
  }

  private val Hex = "0123456789ABCDEF".getBytes(UTF_8)

  /** The kernel body: writes rows of `schema` into one reusable buffer. */
  final class Writer(schema: StructType) {
    private val root = new Plan(schema)
    private var buf = new Array[Byte](256)
    private var len = 0

    /** `row` as a JSON object, in a fresh UTF8String. */
    def line(row: InternalRow): UTF8String = {
      len = 0
      struct(root, row)
      UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))
    }

    private[JsonLine] def bytes: Array[Byte] = java.util.Arrays.copyOf(buf, len)

    private def reserve(n: Int): Unit =
      if (len + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))

    private[JsonLine] def byte(b: Int): Unit = {
      reserve(1)
      buf(len) = b.toByte
      len += 1
    }

    private def ascii(s: String): Unit = {
      reserve(s.length)
      var i = 0
      while (i < s.length) { buf(len) = s.charAt(i).toByte; len += 1; i += 1 }
    }

    private def value(p: Plan, g: SpecializedGetters, i: Int): Unit = p.kind match {
      case Str => string(g.getUTF8String(i))
      case Dbl => double(g.getDouble(i))
      case Arr => array(p.element, g.getArray(i))
      case _ => struct(p, g.getStruct(i, p.fields.length))
    }

    private def struct(p: Plan, row: InternalRow): Unit = {
      byte('{')
      var first = true
      var i = 0
      while (i < p.fields.length) {
        if (!row.isNullAt(i)) {
          if (!first) byte(',')
          first = false
          val key = p.keys(i)
          reserve(key.length)
          System.arraycopy(key, 0, buf, len, key.length)
          len += key.length
          value(p.fields(i), row, i)
        }
        i += 1
      }
      byte('}')
    }

    private def array(p: Plan, a: ArrayData): Unit = {
      byte('[')
      var i = 0
      while (i < a.numElements()) {
        if (i > 0) byte(',')
        if (a.isNullAt(i)) ascii("null") else value(p, a, i)
        i += 1
      }
      byte(']')
    }

    private def double(d: Double): Unit =
      if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) {
        byte('"')
        ascii(java.lang.Double.toString(d))
        byte('"')
      } else ascii(java.lang.Double.toString(d))

    private[JsonLine] def string(s: UTF8String): Unit =
      if (!quoted(s.getBaseObject, s.getBaseOffset, s.numBytes)) {
        val valid = s.toString.getBytes(UTF_8)
        quoted(valid, Platform.BYTE_ARRAY_OFFSET, valid.length)
      }

    /** Writes the bytes at (`base`, `off`, `n`) as a quoted, escaped JSON
      * string. Returns false, having written nothing, when they are not
      * well-formed UTF-8. Only ASCII bytes are ever escaped, and no byte
      * of a multi-byte sequence is ASCII, so well-formed sequences are
      * copied whole. */
    private def quoted(base: AnyRef, off: Long, n: Int): Boolean = {
      reserve(6 * n + 2) // every byte escaped as \u00XX, plus the quotes
      val start = len
      buf(len) = '"'.toByte
      len += 1
      var i = 0
      while (i < n) {
        val b = Platform.getByte(base, off + i)
        if (b >= 0) {
          if (b >= 0x20 && b != '"' && b != '\\') {
            buf(len) = b
            len += 1
          } else escape(b)
          i += 1
        } else {
          val k = sequence(base, off, i, n)
          if (k == 0) {
            len = start
            return false
          }
          Platform.copyMemory(base, off + i, buf, Platform.BYTE_ARRAY_OFFSET + len, k)
          len += k
          i += k
        }
      }
      buf(len) = '"'.toByte
      len += 1
      true
    }

    private def escape(b: Byte): Unit = {
      buf(len) = '\\'.toByte
      len += 1
      val short = b match {
        case 0x22 => '"'
        case 0x5c => '\\'
        case 0x08 => 'b'
        case 0x09 => 't'
        case 0x0a => 'n'
        case 0x0c => 'f'
        case 0x0d => 'r'
        case _ => 0
      }
      if (short != 0) {
        buf(len) = short.toByte
        len += 1
      } else {
        buf(len) = 'u'.toByte; buf(len + 1) = '0'.toByte; buf(len + 2) = '0'.toByte
        buf(len + 3) = Hex(b >> 4); buf(len + 4) = Hex(b & 0xf)
        len += 5
      }
    }
  }

  /** The length of the well-formed UTF-8 sequence of 2 to 4 bytes that
    * starts at byte `i` of (`base`, `off`, `n`), or 0 when it is
    * malformed: a stray continuation byte, an overlong form, a
    * surrogate, a code point past U+10FFFF, or a truncated sequence.
    * These are the sequences `UTF8String.toString` decodes to U+FFFD. */
  private def sequence(base: AnyRef, off: Long, i: Int, n: Int): Int = {
    def at(j: Int): Int = if (j < n) Platform.getByte(base, off + j) & 0xff else -1
    def cont(j: Int): Boolean = { val c = at(j); c >= 0x80 && c <= 0xbf }
    val b = at(i)
    val b1 = at(i + 1)
    if (b >= 0xc2 && b <= 0xdf) { if (cont(i + 1)) 2 else 0 }
    else if (b >= 0xe0 && b <= 0xef) {
      val lo = if (b == 0xe0) 0xa0 else 0x80
      val hi = if (b == 0xed) 0x9f else 0xbf
      if (b1 >= lo && b1 <= hi && cont(i + 2)) 3 else 0
    } else if (b >= 0xf0 && b <= 0xf4) {
      val lo = if (b == 0xf0) 0x90 else 0x80
      val hi = if (b == 0xf4) 0x8f else 0xbf
      if (b1 >= lo && b1 <= hi && cont(i + 2) && cont(i + 3)) 4 else 0
    } else 0
  }
}
