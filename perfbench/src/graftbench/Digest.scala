package graftbench

import java.math.RoundingMode
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Order-insensitive content digest of a query result.
  *
  * Canonical form follows `tools/compare.py`: columns sorted by name,
  * doubles (and floats) rounded to 6 decimal places, nulls spelled
  * `null`. Each row's canonical string is hashed with MD5 and the two
  * 64-bit halves are summed (mod 2^64) over all rows, so the digest is
  * a multiset hash: row order and partitioning do not matter, duplicate
  * rows still count. Computed executor-side, so a large result is never
  * collected to the driver. Timestamps print as UTC instants, dates as
  * ISO dates.
  */
object Digest {

  final case class Value(rows: Long, digest: String)

  /** Digest of `df`'s rows, computed from its own executed plan (the plan
    * the timed action ran), without converting rows to external objects. */
  def of(df: DataFrame): Value = {
    val sorted = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val idx = sorted.map(_._2)
    val types = sorted.map(_._1.dataType)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      var n = 0L
      var a = 0L
      var b = 0L
      it.foreach { row =>
        val h = md.digest(canonRow(row, idx, types).getBytes(UTF_8))
        a += long8(h, 0)
        b += long8(h, 8)
        n += 1
      }
      Iterator((n, a, b))
    }.collect()
    val (n, a, b) = parts.foldLeft((0L, 0L, 0L)) { case ((n0, a0, b0), (n1, a1, b1)) =>
      (n0 + n1, a0 + a1, b0 + b1)
    }
    Value(n, f"$a%016x$b%016x")
  }

  def canonRow(row: InternalRow, idx: Array[Int], types: Array[DataType]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < idx.length) {
      if (i > 0) sb.append('\u0001')
      sb.append(canon(row, idx(i), types(i)))
      i += 1
    }
    sb.toString
  }

  /** Field `i` of an internal row (or array) in canonical text. */
  private def canon(r: SpecializedGetters, i: Int, dt: DataType): String =
    if (r.isNullAt(i)) "null"
    else dt match {
      case DoubleType => double6(r.getDouble(i))
      case FloatType => double6(r.getFloat(i).toDouble)
      case d: DecimalType => r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString
      case TimestampType => micros(r.getLong(i)).toString
      case TimestampNTZType =>
        java.time.LocalDateTime.ofInstant(micros(r.getLong(i)), java.time.ZoneOffset.UTC).toString
      case DateType => java.time.LocalDate.ofEpochDay(r.getInt(i).toLong).toString
      case BinaryType => r.getBinary(i).map(x => f"$x%02x").mkString
      case ArrayType(et, _) =>
        val arr = r.getArray(i)
        (0 until arr.numElements()).map(j => canon(arr, j, et)).mkString("[", ",", "]")
      case MapType(kt, vt, _) =>
        val m = r.getMap(i)
        (0 until m.numElements()).map(j => canon(m.keyArray(), j, kt) + "=" +
          canon(m.valueArray(), j, vt))
          .sorted.mkString("{", ",", "}")
      case st: StructType =>
        val s = r.getStruct(i, st.size)
        st.fields.indices.map(j => canon(s, j, st.fields(j).dataType)).mkString("(", ",", ")")
      case _ => r.get(i, dt).toString
    }

  private def micros(us: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)

  /** `round(6)` then `%.6f`, as compare.py canonicalizes floats. */
  def double6(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) { if (d > 0) "inf" else "-inf" }
    else new java.math.BigDecimal(d).setScale(6, RoundingMode.HALF_EVEN).toPlainString

  private def long8(h: Array[Byte], off: Int): Long = {
    var x = 0L
    var i = 0
    while (i < 8) { x = (x << 8) | (h(off + i) & 0xffL); i += 1 }
    x
  }
}
