package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-insensitive content fingerprint of a query result, computed on
  * the executors while the result rows are drained.
  *
  * Each row becomes one canonical string (columns sorted by lower-cased
  * name, fields joined by U+001F); the fingerprint is the wrapping
  * 64-bit sum of the first eight bytes (little-endian) of each string's
  * MD5. `expected.py` implements the same canonical form over DuckDB
  * results, so the two sides must change together:
  *   - integral types print exactly;
  *   - float, double and decimal print as an integer when integral and
  *     below 1e15, otherwise rounded to 10 significant digits (half-even),
  *     which absorbs last-ulp differences in summation order;
  *   - date and timestamp print as microseconds since the epoch (UTC);
  *   - null prints as `\N`, arrays as `[a,b]`, structs as `{a,b}`,
  *     maps as `<k=v,...>` with entries sorted.
  */
object Canon {
  private val mc = new MathContext(10, RoundingMode.HALF_EVEN)
  private val integralLimit = new JBigDecimal("1e15")

  def fractional(sb: java.lang.StringBuilder, v: JBigDecimal): Unit = {
    val s = v.stripTrailingZeros
    if (s.signum == 0) sb.append('0')
    else if (s.scale <= 0 && s.abs.compareTo(integralLimit) < 0) sb.append(s.toBigInteger.toString)
    else sb.append(s.round(mc).stripTrailingZeros.toPlainString)
  }

  private def double(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN) sb.append("NaN")
    else if (d.isInfinite) sb.append(if (d > 0) "Inf" else "-Inf")
    else fractional(sb, new JBigDecimal(d))

  def value(sb: java.lang.StringBuilder, v: Any, dt: DataType): Unit =
    if (v == null) sb.append("\\N")
    else dt match {
      case BooleanType => sb.append(v.asInstanceOf[Boolean])
      case ByteType | ShortType | IntegerType | LongType => sb.append(v.toString)
      case FloatType => double(sb, v.asInstanceOf[Float].toDouble)
      case DoubleType => double(sb, v.asInstanceOf[Double])
      case _: DecimalType => fractional(sb, v.asInstanceOf[Decimal].toJavaBigDecimal)
      case DateType => sb.append(v.asInstanceOf[Int].toLong * 86400000000L)
      case TimestampType | TimestampNTZType => sb.append(v.asInstanceOf[Long])
      case BinaryType => v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"$b%02x"))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          if (i > 0) sb.append(',')
          value(sb, if (a.isNullAt(i)) null else a.get(i, et), et)
          i += 1
        }
        sb.append(']')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        st.fields.indices.foreach { i =>
          if (i > 0) sb.append(',')
          value(sb, if (r.isNullAt(i)) null else r.get(i, st.fields(i).dataType), st.fields(i).dataType)
        }
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val entries = (0 until m.numElements()).map { i =>
          val e = new java.lang.StringBuilder
          value(e, m.keyArray().get(i, kt), kt)
          e.append('=')
          value(e, if (m.valueArray().isNullAt(i)) null else m.valueArray().get(i, vt), vt)
          e.toString
        }.sorted
        sb.append('<').append(entries.mkString(",")).append('>')
      case _ => sb.append(v.toString)
    }

  /** Fold one partition's rows into (row count, fingerprint sum). */
  def partition(rows: Iterator[InternalRow], order: Array[Int], types: Array[DataType]): (Long, Long) = {
    val md5 = MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    var n = 0L
    var sum = 0L
    rows.foreach { row =>
      sb.setLength(0)
      var j = 0
      while (j < order.length) {
        if (j > 0) sb.append('\u001f')
        val i = order(j)
        value(sb, if (row.isNullAt(i)) null else row.get(i, types(i)), types(i))
        j += 1
      }
      val d = md5.digest(sb.toString.getBytes(UTF_8))
      var h = 0L
      var k = 7
      while (k >= 0) { h = (h << 8) | (d(k) & 0xffL); k -= 1 }
      sum += h
      n += 1
    }
    (n, sum)
  }
}
