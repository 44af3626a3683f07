package graft.sources

import org.apache.parquet.hadoop.Footer
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Physical layout of the epoch-instant (`ts`) column in a parquet
  * dataset, sniffed from the file FOOTER — the producer of the data
  * decides the unit, not this library, so every loader (batch AND
  * streaming) must adapt instead of assuming.
  *
  * Known producer layouts for the same logical "event time" column:
  *   - `TIMESTAMP(NANOS)` — pyarrow's `timestamp[ns]` default. Spark's
  *     vectorized reader rejects it; the legacy `nanosAsLong` flag reads
  *     it as raw INT64 epoch-nanoseconds.
  *   - `TIMESTAMP(MICROS)`/`TIMESTAMP(MILLIS)` — Spark-native; reads as
  *     `TimestampNTZType` (isAdjustedToUTC=false) or `TimestampType`.
  *   - plain `INT64` with no annotation — a raw epoch tick column; by
  *     the events-table contract those ticks are nanoseconds.
  *
  * The sniff reads the footer [[Tables.parquet]] resolves the schema
  * from (one footer per dataset, zero data I/O) and — unlike probing a
  * resolved frame's schema — works without mutating session
  * configuration first.
  */
object TsLayout {

  sealed trait Unit
  /** TIMESTAMP(NANOS) or unannotated INT64: raw epoch-nanos longs. */
  case object Nanos extends Unit
  /** TIMESTAMP(MICROS)/TIMESTAMP(MILLIS): a native Spark timestamp. */
  case object Native extends Unit

  /** Footer-sniffed unit of `column` at `path` (a parquet file or a
    * directory of part files). Columns absent from the footer — or a
    * non-INT64 physical type — report [[Native]]: nothing to convert.
    */
  def unitOf(spark: SparkSession, path: String, column: String = "ts"): Unit =
    unitIn(Tables.footer(spark, path).getOrElse(
      throw new graft.GraftException(s"no parquet data file under $path")), column)

  private def unitIn(footer: Footer, column: String): Unit = {
    import scala.jdk.CollectionConverters._
    val schema = footer.getParquetMetadata.getFileMetaData.getSchema
    val field = schema.getFields.asScala.collectFirst {
      case t if t.getName.equalsIgnoreCase(column) && t.isPrimitive =>
        t.asPrimitiveType()
    }
    field match {
      case Some(f) if f.getPrimitiveTypeName ==
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 =>
        f.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation
            if t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS => Nanos
          case t: TimestampLogicalTypeAnnotation => Native
          case null => Nanos // unannotated INT64: epoch-nanos by contract
          case _ => Native
        }
      case _ => Native
    }
  }

  /** Batch-read `path` with the right reader flags for its layout —
    * NANOS files need `spark.sql.legacy.parquet.nanosAsLong` (a session
    * conf Spark provides no per-read handle for; set lazily, ONLY when a
    * NANOS file is actually in front of us, never unconditionally).
    * `ts` arrives as raw nanos `LongType` (NANOS layout) or a native
    * timestamp — callers normalize via [[normalizeTs]]. The unit comes
    * from the footer the schema is resolved from, so one footer is read.
    */
  def readRaw(spark: SparkSession, path: String): DataFrame = {
    val footer = Tables.footer(spark, path)
    if (footer.exists(unitIn(_, "ts") == Nanos))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.resolve(spark, path, footer)
  }

  /** Canonicalize an events frame's `ts` to the engine's internal form,
    * `TimestampNTZType` at microsecond precision, from whatever the
    * reader produced: raw nanos longs truncate ns→µs with integer `div`
    * (the same truncation DuckDB applies; a double round-trip would
    * corrupt ~1.7e18 tick values), native timestamps relabel to NTZ
    * (pure under the UTC session).
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts",
          expr("timestamp_micros(ts div 1000)").cast(TimestampNTZType))
      case Some(TimestampType) =>
        df.withColumn("ts", col("ts").cast(TimestampNTZType))
      case _ => df
    }

  /** `ts` re-expressed as raw epoch-nanos longs whatever the source
    * layout — the wire contract ([[graft.streaming.EventStreams.rawSchema]]);
    * native-timestamp sources multiply their µs ticks back up (exact:
    * µs×1000 stays far under 2^63 for any realistic instant).
    */
  def tsAsRawNanos(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => df
      case Some(_) => df.withColumn("ts",
        unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case None => df
    }
}
