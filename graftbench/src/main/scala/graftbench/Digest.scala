package graftbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-insensitive result digest, computed identically by the DuckDB
  * reference side (`graftbench/inputs.py`, `digest_sql`).
  *
  * Per column: NULL count plus one summary whose form depends on the
  * column's kind —
  *  - `i` integral, boolean (0/1), date (epoch days), timestamp (epoch
  *    micros): the exact integer sum;
  *  - `f` float, double, decimal: NaN count, the sum of the non-NaN
  *    values and the sum of their absolute values (the comparison
  *    tolerance scales with the latter, so summation order is free);
  *  - `s` string: the exact sum of each value's MD5 upper 64 bits
  *    (DuckDB's `md5_number_upper`), unsigned.
  * A column of any other type is summarised by its NULL count only.
  */
object Digest {

  private final class Acc(val name: String, val kind: String) {
    var nulls = 0L
    var nans = 0L
    var isum = BigInt(0)
    var fsum = 0.0
    var fabs = 0.0
  }

  def kindOf(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
        DateType | TimestampType | TimestampNTZType => "i"
    case FloatType | DoubleType | _: DecimalType => "f"
    case StringType => "s"
    case _ => "o"
  }

  private val twoTo64 = BigInt(1) << 64

  private def md5Upper(s: String): BigInt = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (d(i) & 0xffL); i -= 1 }
    val b = BigInt(v)
    if (v < 0) b + twoTo64 else b
  }

  private def integral(v: Any): BigInt = v match {
    case b: Boolean => if (b) 1 else 0
    case n: java.lang.Number => BigInt(n.longValue)
    case d: java.time.LocalDate => BigInt(d.toEpochDay)
    case d: java.sql.Date => BigInt(d.toLocalDate.toEpochDay)
    case t: java.time.LocalDateTime =>
      val e = t.toEpochSecond(java.time.ZoneOffset.UTC)
      BigInt(e) * 1000000 + t.getNano / 1000
    case t: java.sql.Timestamp =>
      BigInt(Math.floorDiv(t.getTime, 1000L)) * 1000000 + t.getNanos / 1000
    case t: java.time.Instant =>
      BigInt(t.getEpochSecond) * 1000000 + t.getNano / 1000
  }

  /** The digest as a JSON object string (column names lower-cased). */
  def of(schema: StructType, rows: Iterator[Row]): String = {
    val accs = schema.fields.map(f => new Acc(f.name.toLowerCase, kindOf(f.dataType)))
    var n = 0L
    rows.foreach { r =>
      n += 1
      var i = 0
      while (i < accs.length) {
        val a = accs(i)
        if (r.isNullAt(i)) a.nulls += 1
        else a.kind match {
          case "i" => a.isum += integral(r.get(i))
          case "f" =>
            val d = r.get(i) match {
              case b: java.math.BigDecimal => b.doubleValue
              case b: scala.math.BigDecimal => b.toDouble
              case x: java.lang.Number => x.doubleValue
            }
            if (d.isNaN) a.nans += 1 else { a.fsum += d; a.fabs += math.abs(d) }
          case "s" => a.isum += md5Upper(r.getString(i))
          case _ => ()
        }
        i += 1
      }
    }
    val cols = accs.sortBy(_.name).map { a =>
      val body = a.kind match {
        case "i" | "s" => s""""sum":"${a.isum}""""
        case "f" => s""""nans":${a.nans},"sum":${jsonDouble(a.fsum)},"abs":${jsonDouble(a.fabs)}"""
        case _ => """"sum":null"""
      }
      s""""${a.name}":{"kind":"${a.kind}","nulls":${a.nulls},$body}"""
    }
    s"""{"rows":$n,"cols":{${cols.mkString(",")}}}"""
  }

  private def jsonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) s""""$d"""" else d.toString
}
