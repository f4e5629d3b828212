package perfbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive fingerprint of a result: the row count plus the sum
  * and the xor of one 64-bit hash per row. Floating-point values are
  * rounded to 30 mantissa bits (about 9 decimal digits) first, so a sum
  * whose merge order varies between runs still fingerprints the same.
  */
object Fingerprint {
  final case class Fp(rows: Long, sum: Long, xor: Long) {
    def +(o: Fp): Fp = Fp(rows + o.rows, sum + o.sum, xor ^ o.xor)
    override def toString: String = f"$rows:$sum%016x:$xor%016x"
  }
  val Empty: Fp = Fp(0L, 0L, 0L)

  /** Materializes every row of `rdd` (one job) and fingerprints it. */
  def of(rdd: RDD[InternalRow], schema: StructType): Fp = {
    val types = schema.fields.map(_.dataType)
    rdd.mapPartitions { it =>
      var acc = Empty
      while (it.hasNext) {
        val h = mix(row(it.next(), types))
        acc = Fp(acc.rows + 1, acc.sum + h, acc.xor ^ h)
      }
      Iterator.single(acc)
    }.fold(Empty)(_ + _)
  }

  private def round(d: Double): Double =
    if (d.isNaN || d.isInfinite || d == 0.0) d
    else {
      val e = Math.getExponent(d)
      Math.scalb(Math.rint(Math.scalb(d, 30 - e)), e - 30)
    }

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def row(r: InternalRow, types: Array[DataType]): Long = {
    var h = 17L
    var i = 0
    while (i < types.length) {
      h = h * 31 + (if (r.isNullAt(i)) 0x5bd1e995L else value(r.get(i, types(i)), types(i)))
      i += 1
    }
    h
  }

  private def value(v: Any, t: DataType): Long = t match {
    case DoubleType => java.lang.Double.doubleToLongBits(round(v.asInstanceOf[Double]))
    case FloatType => java.lang.Double.doubleToLongBits(round(v.asInstanceOf[Float].toDouble))
    case s: StructType =>
      row(v.asInstanceOf[InternalRow], s.fields.map(_.dataType))
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var h = 19L
      var i = 0
      while (i < a.numElements()) {
        h = h * 31 + (if (a.isNullAt(i)) 0x5bd1e995L else value(a.get(i, et), et))
        i += 1
      }
      h
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val ks = m.keyArray()
      val vs = m.valueArray()
      var h = 23L
      var i = 0
      while (i < m.numElements()) {
        val vh = if (vs.isNullAt(i)) 0x5bd1e995L else value(vs.get(i, vt), vt)
        h += mix(value(ks.get(i, kt), kt) * 31 + vh)
        i += 1
      }
      h
    case BinaryType => java.util.Arrays.hashCode(v.asInstanceOf[Array[Byte]]).toLong
    case _ => v match {
      case s: UTF8String => s.hashCode.toLong
      case l: Long => l
      case n: Int => n.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case b: Boolean => if (b) 1L else 2L
      case other => other.hashCode.toLong
    }
  }
}
