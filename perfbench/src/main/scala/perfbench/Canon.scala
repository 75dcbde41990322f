package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The canonical form of a query result and its order-free digest.
  *
  * It follows `tools/selfcheck.py`: columns are ordered by name, and a
  * float or double becomes its 10-significant-digit `%.9e` string
  * (`NaN`, `inf`, `-inf` spelled out, `-0.0` keeping its sign). Other
  * values get a type tag so that the form is the same whichever
  * language renders it; `canon.py` is the Python twin, and the two are
  * pinned to the same cases in `tests/canon_cases.json`.
  *
  * | value        | form                                    |
  * |--------------|-----------------------------------------|
  * | null         | `N`                                     |
  * | boolean      | `B1` / `B0`                             |
  * | integer      | `I<decimal>`                            |
  * | float/double | `F<%.9e>`                               |
  * | decimal      | `D<plain string at its scale>`          |
  * | string       | `S<utf-8 byte length>:<text>`           |
  * | binary       | `X<hex>`                                |
  * | date         | `d<days since 1970-01-01>`              |
  * | timestamp    | `T<microseconds since the epoch, UTC>`  |
  * | array        | `[v,v,...]`                             |
  * | struct       | `{name=v,name=v,...}` in declared order |
  *
  * A row is its values joined by `\u001f`. The digest of a result is
  * the row count plus two 64-bit sums of the rows' SHA-256 prefixes, so
  * row order and partitioning cannot change it, while a duplicated or
  * missing row does.
  */
object Canon {
  private val Sig = new MathContext(10, RoundingMode.HALF_EVEN)

  /** Python's `f"{v:.9e}"`: correctly rounded, half-even on the exact
    * binary value, exponent of at least two digits. */
  def sci(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v.isInfinite) (if (v > 0) "inf" else "-inf")
    else if (v == 0.0)
      (if (1.0 / v < 0) "-" else "") + "0.000000000e+00"
    else {
      val bd = new java.math.BigDecimal(v).round(Sig)
      val digits = bd.unscaledValue.abs.toString
      val exp = digits.length - 1 - bd.scale
      val mant = digits.padTo(10, '0')
      val e = math.abs(exp)
      (if (v < 0) "-" else "") + mant.head + "." + mant.tail +
        "e" + (if (exp < 0) "-" else "+") + (if (e < 10) "0" + e else e)
    }

  def value(v: Any, dt: DataType, sb: java.lang.StringBuilder): Unit =
    if (v == null) sb.append('N')
    else dt match {
      case BooleanType =>
        sb.append(if (v.asInstanceOf[Boolean]) "B1" else "B0")
      case ByteType | ShortType | IntegerType | LongType =>
        sb.append('I').append(v.toString)
      case FloatType => sb.append('F').append(sci(v.asInstanceOf[Float].toDouble))
      case DoubleType => sb.append('F').append(sci(v.asInstanceOf[Double]))
      case _: DecimalType =>
        sb.append('D')
          .append(v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString)
      case StringType | _: StringType =>
        val s = v.asInstanceOf[UTF8String]
        sb.append('S').append(s.numBytes).append(':').append(s.toString)
      case BinaryType =>
        sb.append('X')
        v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"${b & 0xff}%02x"))
      case DateType => sb.append('d').append(v.asInstanceOf[Int])
      case TimestampType | TimestampNTZType =>
        sb.append('T').append(v.asInstanceOf[Long])
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          if (i > 0) sb.append(',')
          value(if (a.isNullAt(i)) null else a.get(i, et), et, sb)
          i += 1
        }
        sb.append(']')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        st.fields.indices.foreach { i =>
          if (i > 0) sb.append(',')
          sb.append(st.fields(i).name).append('=')
          val f = st.fields(i).dataType
          value(if (r.isNullAt(i)) null else r.get(i, f), f, sb)
        }
        sb.append('}')
      case other =>
        throw new IllegalArgumentException(s"no canonical form for $other")
    }

  /** Column order of the canonical row: by name, ties in schema order. */
  def columnOrder(schema: StructType): Array[Int] =
    schema.fields.indices.sortBy(i => schema.fields(i).name).toArray

  def row(r: InternalRow, schema: StructType, order: Array[Int]): String = {
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < order.length) {
      if (j > 0) sb.append('\u001f')
      val i = order(j)
      val dt = schema.fields(i).dataType
      value(if (r.isNullAt(i)) null else r.get(i, dt), dt, sb)
      j += 1
    }
    sb.toString
  }

  /** Running order-free digest: count and two wrapping 64-bit sums. */
  final case class Digest(rows: Long, a: Long, b: Long) {
    def +(o: Digest): Digest = Digest(rows + o.rows, a + o.a, b + o.b)
    def render: String = f"$rows:${a}%016x${b}%016x"
  }
  val Zero: Digest = Digest(0L, 0L, 0L)

  def rowDigest(md: MessageDigest, canonRow: String): Digest = {
    val h = md.digest(canonRow.getBytes(UTF_8))
    def u64(off: Int): Long = {
      var x = 0L
      var k = 0
      while (k < 8) { x = (x << 8) | (h(off + k) & 0xffL); k += 1 }
      x
    }
    Digest(1L, u64(0), u64(8))
  }

  /** Materializes every row and column of `df` in one pass of Spark
    * jobs and folds it into its digest. */
  def digest(df: DataFrame): Digest = {
    val schema = df.schema
    val order = columnOrder(schema)
    df.queryExecution.toRdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("SHA-256")
      var d = Zero
      it.foreach(r => d = d + rowDigest(md, row(r, schema, order)))
      Iterator.single(d)
    }.collect().foldLeft(Zero)(_ + _)
  }

  /** The sorted column names, as the expected-digest file records them. */
  def columns(df: DataFrame): Seq[String] = df.schema.fieldNames.toSeq.sorted
}
