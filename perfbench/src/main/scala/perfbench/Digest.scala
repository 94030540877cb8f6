package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Order-independent digest of a result: its row count plus the sum of one
  * 64-bit hash per row. A row hash covers every column, taken in column-name
  * order. Maps hash independently of entry order, doubles are rounded to 9
  * significant digits (so the last-bit noise of a float sum does not count
  * as a wrong answer), and -0.0 hashes as 0.0.
  *
  * Computing the digest is the timed action: it executes the result's final
  * physical plan as the program built it (no count() shortcut that would let
  * Catalyst prune columns or aggregates) and reads every value of every row.
  */
object Digest {

  def of(df: DataFrame): String = {
    val fields = df.schema.fields
    val order = fields.indices.sortBy(i => fields(i).name).toArray
    val types = fields.map(_.dataType)
    val rdd = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      while (it.hasNext) {
        val r = it.next()
        var rh = 17L
        var k = 0
        while (k < order.length) {
          val i = order(k)
          rh = rh * 0x9E3779B97F4A7C15L + value(r, i, types(i))
          k += 1
        }
        n += 1
        h += fmix(rh)
      }
      Iterator((n, h))
    }
    val (n, h) = rdd.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    s"$n:${java.lang.Long.toHexString(h)}"
  }

  private val NullHash = 0x5bd1e995L

  private def fmix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  private def dbl(d: Double): Long =
    if (d.isNaN) 0x7ff8L
    else if (d == 0.0) 0L
    else if (d.isInfinite) (if (d > 0) 0x7ff0L else -0x7ff0L)
    else {
      val e = 8 - math.floor(math.log10(math.abs(d))).toInt
      val m = math.rint(d * math.pow(10, e)).toLong
      m * 1000003L + e
    }

  private def bytes(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)

  private def value(r: SpecializedGetters, i: Int, t: DataType): Long =
    if (r.isNullAt(i)) NullHash
    else t match {
      case BooleanType => if (r.getBoolean(i)) 1L else 2L
      case ByteType => r.getByte(i).toLong
      case ShortType => r.getShort(i).toLong
      case IntegerType | DateType | _: YearMonthIntervalType => r.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType => r.getLong(i)
      case FloatType => dbl(r.getFloat(i).toDouble)
      case DoubleType => dbl(r.getDouble(i))
      case d: DecimalType =>
        val v = r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.stripTrailingZeros
        v.unscaledValue.hashCode.toLong * 31L + v.scale
      case _: StringType =>
        val u = r.getUTF8String(i)
        XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      case BinaryType => bytes(r.getBinary(i))
      case a: ArrayType => array(r.getArray(i), a.elementType)
      case m: MapType => map(r.getMap(i), m)
      case s: StructType =>
        val sr = r.getStruct(i, s.length)
        s.fields.indices.sortBy(j => s.fields(j).name)
          .foldLeft(19L)((h, j) => h * 0x9E3779B97F4A7C15L + value(sr, j, s.fields(j).dataType))
      case other => bytes(String.valueOf(r.get(i, other)).getBytes("UTF-8"))
    }

  private def array(a: ArrayData, t: DataType): Long = {
    var h = 23L + a.numElements
    var j = 0
    while (j < a.numElements) {
      h = h * 0x9E3779B97F4A7C15L + value(a, j, t)
      j += 1
    }
    fmix(h)
  }

  private def map(m: MapData, t: MapType): Long = {
    val ks = m.keyArray
    val vs = m.valueArray
    var h = 29L + m.numElements
    var j = 0
    while (j < m.numElements) {
      h += fmix(value(ks, j, t.keyType) * 0x9E3779B97F4A7C15L + value(vs, j, t.valueType))
      j += 1
    }
    h
  }
}
