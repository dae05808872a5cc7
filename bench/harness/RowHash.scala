package benchharness

import java.math.MathContext

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, XXH64}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Runs a physical plan to completion and folds every output row into an
  * order-insensitive digest: row count, wrapping sum and xor of 64-bit row
  * hashes. Doubles are rounded to 7 significant digits first, so that a
  * stage whose floating-point sums are merged in a different order still
  * hashes the same. */
object RowHash {
  final case class Digest(rows: Long, sum: Long, xor: Long) {
    def hex: String = f"$sum%016x$xor%016x"
  }

  def run(plan: SparkPlan, schema: StructType): Digest = {
    val types = schema.fields.map(_.dataType)
    val parts = plan.execute().mapPartitions { it =>
      var n = 0L; var sum = 0L; var xor = 0L
      it.foreach { r =>
        val h = row(r, types)
        n += 1; sum += h; xor ^= h
      }
      Iterator((n, sum, xor))
    }.collect()
    parts.foldLeft(Digest(0, 0, 0)) { case (d, (n, s, x)) =>
      Digest(d.rows + n, d.sum + s, d.xor ^ x)
    }
  }

  private def mix(h: Long, v: Long): Long = {
    var z = h * 0x9E3779B97F4A7C15L + v
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val Digits = new MathContext(7)

  private def real(d: Double): Long =
    if (d.isNaN) 0x7ff8L
    else if (d.isInfinite || d == 0.0) java.lang.Double.doubleToLongBits(d + 0.0)
    else java.lang.Double.doubleToLongBits(
      new java.math.BigDecimal(d).round(Digits).doubleValue)

  private def bytes(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)

  def row(r: SpecializedGetters, types: Array[DataType]): Long = {
    var h = types.length.toLong
    var i = 0
    while (i < types.length) {
      h = mix(h, if (r.isNullAt(i)) 0x5bd1e995L else field(r, i, types(i)))
      i += 1
    }
    h
  }

  private def field(r: SpecializedGetters, i: Int, t: DataType): Long = t match {
    case BooleanType => if (r.getBoolean(i)) 1L else 2L
    case ByteType => r.getByte(i).toLong
    case ShortType => r.getShort(i).toLong
    case IntegerType | DateType => r.getInt(i).toLong
    case LongType | TimestampType | TimestampNTZType => r.getLong(i)
    case FloatType => real(r.getFloat(i).toDouble)
    case DoubleType => real(r.getDouble(i))
    case _: StringType =>
      val s = r.getUTF8String(i)
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
    case BinaryType => bytes(r.getBinary(i))
    case d: DecimalType =>
      bytes(r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
        .stripTrailingZeros.toPlainString.getBytes("UTF-8"))
    case s: StructType => row(r.getStruct(i, s.size), s.fields.map(_.dataType))
    case a: ArrayType =>
      val arr = r.getArray(i)
      row(arr, Array.fill(arr.numElements())(a.elementType))
    case m: MapType =>
      // map entries have no defined order: sum the entry hashes
      val mp = r.getMap(i)
      val ks = mp.keyArray(); val vs = mp.valueArray()
      (0 until mp.numElements()).foldLeft(0L) { (acc, j) =>
        acc + mix(field(ks, j, m.keyType),
          if (vs.isNullAt(j)) 0x5bd1e995L else field(vs, j, m.valueType))
      }
    case other => bytes(String.valueOf(r.get(i, other)).getBytes("UTF-8"))
  }
}
