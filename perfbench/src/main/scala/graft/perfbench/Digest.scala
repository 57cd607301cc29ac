package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** The one action that forces an op: every row of the op's executed plan
  * (`queryExecution.toRdd`) is read column by column and folded into an
  * order-insensitive digest — the row count plus the wrapping sum of
  * per-row 64-bit hashes. Reading every column keeps the optimizer from
  * pruning work the way `count()` does, and summing row hashes makes the
  * digest independent of partitioning and row order.
  *
  * Floating-point values are rounded to 24 mantissa bits (relative 6e-8)
  * before hashing, so sums whose merge order varies between runs still
  * digest the same. */
object Digest {

  final case class Result(rows: Long, hash: Long) {
    override def toString: String = f"$rows%d:$hash%016x"
  }

  def of(df: DataFrame): Result = {
    val schema = df.queryExecution.executedPlan.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      while (it.hasNext) { h += row(it.next(), schema); n += 1 }
      Iterator((n, h))
    }.collect()
    Result(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  @inline private def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  @inline private def combine(h: Long, v: Long): Long = mix(h * 31 + v)

  @inline private def dbl(v: Double): Long =
    if (v == 0.0) 0L
    else if (v.isNaN) 0x7ff8000000000000L
    else (java.lang.Double.doubleToRawLongBits(v) + (1L << 28)) & ~((1L << 29) - 1)

  private def bytes(b: Array[Byte]): Long = {
    var h = b.length.toLong
    var i = 0
    while (i < b.length) { h = h * 1099511628211L ^ (b(i) & 0xff); i += 1 }
    mix(h)
  }

  def row(r: InternalRow, schema: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < schema.length) {
      h = combine(h, if (r.isNullAt(i)) 0x9e3779b97f4a7c15L else field(r, i, schema(i).dataType))
      i += 1
    }
    h
  }

  private def field(r: InternalRow, i: Int, dt: DataType): Long = dt match {
    case BooleanType => if (r.getBoolean(i)) 1L else 2L
    case ByteType => r.getByte(i).toLong
    case ShortType => r.getShort(i).toLong
    case IntegerType | DateType | _: YearMonthIntervalType => r.getInt(i).toLong
    case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType => r.getLong(i)
    case FloatType => dbl(r.getFloat(i).toDouble)
    case DoubleType => dbl(r.getDouble(i))
    case d: DecimalType => bytes(r.getDecimal(i, d.precision, d.scale).toString.getBytes("UTF-8"))
    case _: StringType => bytes(r.getUTF8String(i).getBytes)
    case BinaryType => bytes(r.getBinary(i))
    case s: StructType => row(r.getStruct(i, s.length), s)
    case a: ArrayType => array(r.getArray(i), a.elementType)
    case m: MapType => map(r.getMap(i), m)
    case other => bytes(r.get(i, other).toString.getBytes("UTF-8"))
  }

  private def array(a: ArrayData, et: DataType): Long = {
    var h = a.numElements().toLong
    var j = 0
    val n = a.numElements()
    et match {
      case DoubleType =>
        while (j < n) { h = combine(h, if (a.isNullAt(j)) 1L else dbl(a.getDouble(j))); j += 1 }
      case _ =>
        val row = InternalRow.fromSeq(Seq(null))
        while (j < n) {
          h = combine(h, if (a.isNullAt(j)) 1L else {
            row.update(0, a.get(j, et)); field(row, 0, et)
          })
          j += 1
        }
    }
    h
  }

  private def map(m: MapData, t: MapType): Long = {
    val ks = m.keyArray(); val vs = m.valueArray()
    val kr = InternalRow.fromSeq(Seq(null)); val vr = InternalRow.fromSeq(Seq(null))
    var h = 0L
    var j = 0
    while (j < m.numElements()) {
      kr.update(0, ks.get(j, t.keyType))
      vr.update(0, vs.get(j, t.valueType))
      h += combine(field(kr, 0, t.keyType),
        if (vs.isNullAt(j)) 1L else field(vr, 0, t.valueType))
      j += 1
    }
    h
  }
}
