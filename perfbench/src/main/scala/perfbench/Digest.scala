package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row count plus an order-insensitive digest of a frame's rows.
  *
  * The rules follow `tools/oracle_check.py`: columns are compared by name
  * (sorted), rows as a multiset, integers and strings exactly, and floats
  * after rounding (here to 6 significant digits, so a last-bit difference in
  * a reordered float sum does not change the digest). Each row is rendered
  * to a canonical string and hashed with MD5; the digest is the sum of the
  * row hashes modulo 2^64, so row order does not matter. `digest.py`
  * implements the same rendering for DuckDB results.
  *
  * The digest is computed inside the job that materializes the op's rows:
  * one pass over `queryExecution.toRdd`, as `graft.Bench.execRows` does,
  * with the hashing done per partition.
  */
object Digest {
  final case class Result(rows: Long, digest: String)

  private val Sig6 = new MathContext(6, RoundingMode.HALF_EVEN)
  private val TsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def number(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Sig6).stripTrailingZeros().toPlainString

  private def render(v: Any, dt: DataType, sb: java.lang.StringBuilder): Unit =
    if (v == null) sb.append('\u0000')
    else dt match {
      case BooleanType => sb.append(v.asInstanceOf[Boolean])
      case ByteType | ShortType | IntegerType | LongType => sb.append(v.toString)
      case FloatType => sb.append(number(v.asInstanceOf[Float].toDouble))
      case DoubleType => sb.append(number(v.asInstanceOf[Double]))
      case _: DecimalType =>
        val bd = v.asInstanceOf[Decimal].toJavaBigDecimal
        sb.append(if (bd.signum == 0) "0" else bd.round(Sig6).stripTrailingZeros().toPlainString)
      case _: StringType => sb.append(v.asInstanceOf[UTF8String].toString)
      case DateType => sb.append(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong))
      case TimestampType | TimestampNTZType =>
        val us = v.asInstanceOf[Long]
        val t = java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
        sb.append(TsFmt.format(t))
      case BinaryType => v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"${b & 0xff}%02x"))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        for (i <- 0 until a.numElements()) {
          if (i > 0) sb.append(',')
          render(if (a.isNullAt(i)) null else a.get(i, et), et, sb)
        }
        sb.append(']')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val entries = (0 until m.numElements()).map { i =>
          val e = new java.lang.StringBuilder
          render(m.keyArray().get(i, kt), kt, e)
          e.append(':')
          render(if (m.valueArray().isNullAt(i)) null else m.valueArray().get(i, vt), vt, e)
          e.toString
        }.sorted
        sb.append('{').append(entries.mkString(",")).append('}')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        st.fields.indices.foreach { i =>
          if (i > 0) sb.append(',')
          render(if (r.isNullAt(i)) null else r.get(i, st.fields(i).dataType), st.fields(i).dataType, sb)
        }
        sb.append('}')
      case _ => sb.append(v.toString)
    }

  /** Materialize every row of `df` and return its count and digest. */
  def of(df: DataFrame): Result = {
    val schema = df.schema
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name).map { case (f, i) => (i, f.dataType) }
    val header = cols.map(c => schema.fields(c._1).name).mkString("\u001f")
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
      val sb = new java.lang.StringBuilder
      var n = 0L
      var sum = 0L
      it.foreach { row =>
        n += 1
        sb.setLength(0)
        cols.indices.foreach { k =>
          val (i, dt) = cols(k)
          if (k > 0) sb.append('\u001f')
          render(if (row.isNullAt(i)) null else row.get(i, dt), dt, sb)
        }
        sum += java.nio.ByteBuffer.wrap(md5.digest(sb.toString.getBytes(UTF_8)), 0, 8).getLong
      }
      Iterator.single((n, sum))
    }.collect()
    val h = java.security.MessageDigest.getInstance("MD5").digest(header.getBytes(UTF_8))
    val total = parts.map(_._2).sum + java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    Result(parts.map(_._1).sum, f"$total%016x")
  }
}
