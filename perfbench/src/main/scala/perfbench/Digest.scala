package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** Order-insensitive content digest of a query result: the row count and
  * the wrapping sum of per-row 64-bit hashes. Floating-point values are
  * rounded to 6 significant digits first, so a change in summation order
  * does not change the digest.
  */
object Digest {
  final case class Result(rows: Long, digest: Long) {
    def hex: String = f"$digest%016x"
  }

  /** Executes the query's own physical plan once, as one SQL execution
    * like any Dataset action, and folds its rows. (`df.count()` would
    * let the optimizer prune every computed column and drop the sort.) */
  def of(df: DataFrame): Result = {
    val schema = df.schema
    val qe = df.queryExecution
    val (rows, sum) = SQLExecution.withNewExecutionId(qe, Some("digest")) {
      qe.toRdd
        .mapPartitions { it =>
          var n = 0L
          var s = 0L
          while (it.hasNext) { s += rowHash(it.next(), schema); n += 1 }
          Iterator((n, s))
        }
        .fold((0L, 0L)) { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) }
    }
    Result(rows, sum)
  }

  private def mix(h: Long, v: Long): Long = {
    var x = (h ^ v) * 0x9E3779B97F4A7C15L
    x ^= x >>> 31
    x * 0xBF58476D1CE4E5B9L
  }

  private def roundedDouble(v: Double): Long =
    if (v.isNaN) 0x7ff8000000000000L
    else if (v == 0.0 || v.isInfinite) java.lang.Double.doubleToLongBits(v + 0.0)
    else {
      val e = math.floor(math.log10(math.abs(v))).toInt
      val q = math.round(v / math.pow(10, e - 5))
      mix(q, e.toLong)
    }

  private def rowHash(r: InternalRow, schema: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < schema.length) {
      h = mix(h, if (r.isNullAt(i)) 0x5bd1e995L else valueHash(r, i, schema(i).dataType))
      i += 1
    }
    h
  }

  private def valueHash(r: InternalRow, i: Int, t: DataType): Long = t match {
    case BooleanType => if (r.getBoolean(i)) 1L else 2L
    case ByteType => r.getByte(i).toLong
    case ShortType => r.getShort(i).toLong
    case IntegerType | DateType | _: YearMonthIntervalType => r.getInt(i).toLong
    case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
      r.getLong(i)
    case FloatType => roundedDouble(r.getFloat(i).toDouble)
    case DoubleType => roundedDouble(r.getDouble(i))
    case d: DecimalType =>
      r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.stripTrailingZeros.hashCode.toLong
    case _: StringType => r.getUTF8String(i).hashCode.toLong
    case BinaryType => java.util.Arrays.hashCode(r.getBinary(i)).toLong
    case s: StructType => rowHash(r.getStruct(i, s.length), s)
    case a: ArrayType => arrayHash(r.getArray(i), a.elementType)
    case m: MapType => mapHash(r.getMap(i), m)
    case other => r.get(i, other).toString.hashCode.toLong
  }

  private def arrayHash(a: ArrayData, t: DataType): Long = {
    val asRow = new ArrayRow(a)
    var h = 31L
    var i = 0
    while (i < a.numElements()) {
      asRow.index = i
      h = mix(h, if (a.isNullAt(i)) 0x5bd1e995L else valueHash(asRow, 0, t))
      i += 1
    }
    h
  }

  private def mapHash(m: MapData, t: MapType): Long = {
    val ks = new ArrayRow(m.keyArray())
    val vs = new ArrayRow(m.valueArray())
    var h = 0L // entries are unordered: sum their hashes
    var i = 0
    while (i < m.numElements()) {
      ks.index = i
      vs.index = i
      val v = if (vs.a.isNullAt(i)) 0x5bd1e995L else valueHash(vs, 0, t.valueType)
      h += mix(valueHash(ks, 0, t.keyType), v)
      i += 1
    }
    h
  }

  /** Views element `index` of an array as field 0 of a row, so one
    * typed accessor path serves rows and arrays. */
  private final class ArrayRow(val a: ArrayData) extends InternalRow {
    var index = 0
    override def numFields: Int = 1
    override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException
    override def update(i: Int, value: Any): Unit = throw new UnsupportedOperationException
    override def copy(): InternalRow = this
    override def isNullAt(ordinal: Int): Boolean = a.isNullAt(index)
    override def getBoolean(ordinal: Int): Boolean = a.getBoolean(index)
    override def getByte(ordinal: Int): Byte = a.getByte(index)
    override def getShort(ordinal: Int): Short = a.getShort(index)
    override def getInt(ordinal: Int): Int = a.getInt(index)
    override def getLong(ordinal: Int): Long = a.getLong(index)
    override def getFloat(ordinal: Int): Float = a.getFloat(index)
    override def getDouble(ordinal: Int): Double = a.getDouble(index)
    override def getDecimal(ordinal: Int, precision: Int, scale: Int) =
      a.getDecimal(index, precision, scale)
    override def getUTF8String(ordinal: Int) = a.getUTF8String(index)
    override def getBinary(ordinal: Int): Array[Byte] = a.getBinary(index)
    override def getInterval(ordinal: Int) = a.getInterval(index)
    override def getVariant(ordinal: Int) = a.getVariant(index)
    override def getGeography(ordinal: Int) = a.getGeography(index)
    override def getGeometry(ordinal: Int) = a.getGeometry(index)
    override def getStruct(ordinal: Int, numFields: Int) = a.getStruct(index, numFields)
    override def getArray(ordinal: Int) = a.getArray(index)
    override def getMap(ordinal: Int) = a.getMap(index)
    override def get(ordinal: Int, dataType: DataType): AnyRef = a.get(index, dataType)
  }
}
