package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

import graft.sources.{Tables, TsLayout}
import graft.streaming.EventStreams

/** Source-layer robustness across physical timestamp layouts: the
  * producer of `events.parquet` decides the `ts` unit, and the harness
  * has ALREADY switched it once (TIMESTAMP(NANOS) → TIMESTAMP(MICROS)
  * mid-build — the round-7 regression). Batch loader AND streaming
  * source must therefore produce the identical canonical frame
  * (`ts: TimestampNTZType`, µs precision) for every layout a parquet
  * writer plausibly emits:
  *
  *   - `TIMESTAMP(NANOS, isAdjustedToUTC=false)` — pyarrow `timestamp[ns]`
  *     (written here with parquet-java's example writer, since Spark
  *     cannot produce NANOS itself);
  *   - plain unannotated `INT64` — raw epoch ticks, nanos by contract;
  *   - `TIMESTAMP(MICROS, isAdjustedToUTC=false)` — Spark NTZ write;
  *   - `TIMESTAMP(MICROS, isAdjustedToUTC=true)` — Spark LTZ write.
  *
  * One canonical 240-row event set is written in all four layouts; every
  * layout must load to the same rows, stream to the same windowed
  * aggregate, and round-trip through the wire (raw-nanos) adapter.
  */
class TsLayoutSpec extends SparkSpec {

  // ns ticks with DELIBERATE sub-µs digits (`+ i%997`): NANOS layouts
  // must truncate ns→µs on load exactly like DuckDB, not round
  private val baseNs = 1700000000L * 1000000000L
  private case class Ev(id: Long, ns: Long, user: Long, tpe: String, v: Double)
  private val rows: Seq[Ev] = (0 until 240).map { i =>
    Ev(i.toLong, baseNs + i * 97_000_000_000L + (i % 7) * 1_234_000L + i % 997,
      (i % 5).toLong, Seq("view", "click", "purchase")(i % 3), i * 0.25)
  }
  // canonical µs instants after the contract truncation
  private val wantUs: Seq[Long] = rows.map(_.ns / 1000)

  private lazy val work =
    java.nio.file.Files.createTempDirectory("graft_tslayout").toString

  /** layout name -> dir laid out like testdata (dir/events.parquet) */
  private lazy val layouts: Map[String, String] = Map(
    "nanos" -> writeNanos(),
    "int64_plain" -> writeSpark("int64_plain",
      df => df.withColumn("ts", col("ns")).drop("ns")),
    "micros_ntz" -> writeSpark("micros_ntz",
      df => df.withColumn("ts",
        expr("timestamp_micros(ns div 1000)").cast(TimestampNTZType)).drop("ns")),
    "micros_ltz" -> writeSpark("micros_ltz",
      df => df.withColumn("ts",
        expr("timestamp_micros(ns div 1000)").cast("timestamp")).drop("ns")))

  private def srcFrame(): DataFrame = {
    import spark.implicits._
    rows.map(e => (e.id, e.ns, e.user, e.tpe, e.v))
      .toDF("event_id", "ns", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
  }

  /** Spark-written layout: single part file renamed to `events.parquet`
    * so the directory mirrors the harness testdata shape.
    */
  private def writeSpark(name: String, shape: DataFrame => DataFrame): String = {
    val dir = new java.io.File(s"$work/$name")
    val stage = new java.io.File(s"$work/${name}_stage")
    shape(srcFrame())
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    dir.mkdirs()
    val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, "events.parquet").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  /** TIMESTAMP(NANOS) layout via parquet-java — the pyarrow wire shape
    * Spark itself cannot write.
    */
  private def writeNanos(): String = {
    val dir = new java.io.File(s"$work/nanos"); dir.mkdirs()
    new java.io.File(dir, "events.parquet").delete()
    val schema: MessageType = Types.buildMessage()
      .optional(INT64).named("event_id")
      .optional(INT64).as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
      .optional(INT64).named("user_id")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .optional(DOUBLE).named("value")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set(org.apache.parquet.hadoop.example.GroupWriteSupport.PARQUET_EXAMPLE_SCHEMA,
      schema.toString)
    val writer = ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new Path(s"$dir/events.parquet"), conf))
      .withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = f.newGroup()
      g.add("event_id", r.id); g.add("ts", r.ns); g.add("user_id", r.user)
      g.add("event_type", r.tpe); g.add("value", r.v); g.add("props", "{}")
      writer.write(g)
    } finally writer.close()
    dir.toString
  }

  test("footer sniff classifies every layout without touching session conf") {
    assert(TsLayout.unitOf(spark, s"${layouts("nanos")}/events.parquet")
      === TsLayout.Nanos)
    assert(TsLayout.unitOf(spark, s"${layouts("int64_plain")}/events.parquet")
      === TsLayout.Nanos)
    assert(TsLayout.unitOf(spark, s"${layouts("micros_ntz")}/events.parquet")
      === TsLayout.Native)
    assert(TsLayout.unitOf(spark, s"${layouts("micros_ltz")}/events.parquet")
      === TsLayout.Native)
    // and the REAL testdata, whatever the harness shipped this round,
    // classifies without error
    TsLayout.unitOf(spark, s"$sf/events.parquet")
  }

  test("Tables.load canonicalizes every layout to the same NTZ-µs frame") {
    val frames = layouts.map { case (name, dir) =>
      val df = Tables.load(spark, dir, "events")
      assert(df.schema("ts").dataType === TimestampNTZType,
        s"$name loads ts as ${df.schema("ts").dataType}")
      name -> df.select(col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val expected = rows.map(_.id).zip(wantUs).toMap
    frames.foreach { case (name, got) =>
      assert(got === expected, s"layout $name diverges from canonical µs instants")
    }
  }

  test("streaming source adapts per layout: windowed agg matches batch on all four") {
    layouts.foreach { case (name, dir) =>
      val stream = EventStreams.readEventsStream(spark, dir)
      val q = EventStreams.startMemorySink(
        EventStreams.hourlyByType(stream, watermark = false), s"tsl_$name")
      try {
        q.processAllAvailable()
        val streamed = spark.table(s"tsl_$name").collect().map(_.toSeq).toSet
        val batch = EventStreams.hourlyByType(
          Tables.load(spark, dir, "events"), watermark = false)
          .collect().map(_.toSeq).toSet
        assert(streamed === batch, s"layout $name: stream != batch")
        assert(streamed.nonEmpty)
      } finally q.stop()
    }
    // all four layouts must ALSO agree with each other
    val all = layouts.keys.map(n => spark.table(s"tsl_$n")
      .collect().map(_.toSeq).toSet).toSeq
    assert(all.distinct.size === 1, "layouts disagree on the windowed aggregate")
  }

  /** Legacy TIMESTAMP(MILLIS) layout: Spark's TIMESTAMP_MILLIS output
    * mode, as older Hive writers produce it.
    */
  private lazy val millisDir: String = {
    val stage = s"$work/millis_stage"
    val dir = new java.io.File(s"$work/millis"); dir.mkdirs()
    // outputTimestampType is a session conf, not a write option
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
      srcFrame()
        .withColumn("ts", expr("timestamp_millis(ns div 1000000)").cast("timestamp"))
        .drop("ns")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stage)
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.parquet.outputTimestampType", p)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, "events.parquet").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("TIMESTAMP(MILLIS) legacy layout: classified Native, loads quantized-to-ms") {
    // legacy writers (Spark's TIMESTAMP_MILLIS output mode, older Hive)
    // annotate MILLIS; the sniff must NOT treat it as raw nanos, and the
    // load path lands on the native-timestamp branch (ms-quantized values)
    val dir = millisDir
    assert(TsLayout.unitOf(spark, s"$dir/events.parquet") === TsLayout.Native)
    val df = Tables.load(spark, dir, "events")
    assert(df.schema("ts").dataType === TimestampNTZType)
    val got = df.select(col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = rows.map(e => e.id -> e.ns / 1000000L * 1000L).toMap
    assert(got === expected, "millis layout did not load ms-quantized NTZ")
  }

  test("wire adapter re-expresses every layout as identical raw-nanos longs (µs granularity)") {
    // ns→µs truncation is lossy by contract, so raw-nanos round-trips
    // agree at µs×1000 — the NANOS layout's sub-µs digits are dropped
    // on load, exactly like DuckDB's TIMESTAMP_NS→µs comparison space
    val sets = layouts.map { case (name, dir) =>
      val df = EventStreams.eventsAsRawNanos(spark, dir)
      assert(df.schema("ts").dataType === LongType)
      assert(df.schema.fieldNames.toSeq
        === EventStreams.rawSchema.fieldNames.toSeq, s"$name wire shape")
      name -> df.select(col("event_id"),
          (col("ts") - (col("ts") % 1000L)).as("ns_us"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val expected = rows.map(_.id).zip(wantUs.map(_ * 1000L)).toMap
    sets.foreach { case (name, got) =>
      assert(got === expected, s"layout $name wire adapter diverges")
    }
  }

  test("Tables.parquet resolves every layout to the schema Spark infers") {
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(nanosAsLong)
    val files = (layouts + ("millis" -> millisDir)).map { case (n, d) =>
      n -> s"$d/events.parquet" }
    try {
      for (flag <- Seq("true", "false"); (name, f) <- files) {
        spark.conf.set(nanosAsLong, flag)
        // the schema, or the class of the error resolving it
        def outcome(df: => DataFrame) =
          scala.util.Try(df.schema).toEither.left.map(_.getClass)
        val inferred = outcome(spark.read.parquet(f))
        assert(outcome(Tables.parquet(spark, f)) === inferred,
          s"$name with nanosAsLong=$flag")
        // without the flag, both refuse a NANOS column
        assert(inferred.isLeft === (name == "nanos" && flag == "false"))
      }
    } finally saved.fold(spark.conf.unset(nanosAsLong))(spark.conf.set(nanosAsLong, _))
  }
}
