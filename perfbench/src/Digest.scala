package graftbench

import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Row-order-independent digest of a query's output: the row count and
  * the wrapping sum of a 64-bit hash of every row. Floating-point values
  * hash at nine significant digits, so a different summation order inside
  * an aggregate does not read as a changed result. */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = f"$rows:$hash%016x"
}

object Digest {
  /** Runs the query's own physical plan (the stages the noop sink runs,
    * with no deserializer fused on top) and hashes its internal rows. */
  def of(df: DataFrame): Digest = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var h = 0L
      it.foreach { r =>
        n += 1
        h += (struct(r, schema, 0x3c6ef372).toLong << 32) |
          (struct(r, schema, 0x7f4a7c15) & 0xffffffffL)
      }
      Iterator((n, h))
    }.collect().foldLeft(Digest(0L, 0L)) { case (d, (n, h)) =>
      Digest(d.rows + n, d.hash + h)
    }
  }

  def parse(s: String): Digest = {
    val Array(n, h) = s.split(":")
    Digest(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  private def canon(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString

  private def struct(r: InternalRow, t: StructType, seed: Int): Int =
    MurmurHash3.orderedHash(t.fields.indices.map(i =>
      if (r.isNullAt(i)) seed else value(r.get(i, t(i).dataType), t(i).dataType, seed)), seed)

  private def array(a: ArrayData, t: DataType, seed: Int): Seq[Int] =
    (0 until a.numElements).map(i =>
      if (a.isNullAt(i)) seed else value(a.get(i, t), t, seed))

  private def value(v: Any, t: DataType, seed: Int): Int = t match {
    case s: StructType => struct(v.asInstanceOf[InternalRow], s, seed)
    case a: ArrayType => MurmurHash3.orderedHash(array(v.asInstanceOf[ArrayData], a.elementType, seed), seed)
    case m: MapType =>
      val md = v.asInstanceOf[MapData]
      MurmurHash3.unorderedHash(array(md.keyArray, m.keyType, seed)
        .zip(array(md.valueArray, m.valueType, seed)), seed)
    case BinaryType => MurmurHash3.bytesHash(v.asInstanceOf[Array[Byte]], seed)
    case DoubleType => MurmurHash3.stringHash(canon(v.asInstanceOf[Double]), seed)
    case FloatType => MurmurHash3.stringHash(canon(v.asInstanceOf[Float].toDouble), seed)
    case _ => MurmurHash3.stringHash(v.toString, seed)
  }
}
