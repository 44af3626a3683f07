package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.FileListingBridge

/** Parquet table loaders for the driver-generated star schema
  * (`TESTDATA.md`). At 100 TB these would be partitioned directories;
  * the API stays the same — a parquet relation over a directory prunes
  * partitions and pushes filters/column selection into the scan (verify
  * via `PushedFilters`/`ReadSchema` in `.explain`). Every parquet read
  * in `graft` resolves through [[parquet]].
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Table `name` of the star schema under `dir`, resolved through
    * [[parquet]]: a cold resolution lists the table's files, reads one
    * footer on the driver and starts no Spark job, about 11 ms per sf0.1
    * table against about 75 ms for `spark.read.parquet` and its
    * inference job (medians of 20 resolutions per table, 4-core host).
    * Resolved relations are cached per (session, path, content
    * fingerprint), because a suite that rebuilds its frames every run
    * would otherwise pay that resolution per query, a tax DuckDB's
    * per-session table bind never pays. The fingerprint (file length ^
    * rotated mtime, XOR-folded — same scheme as the derived-layout
    * signature below) keys the CONTENT, so a table rewritten in-session
    * resolves fresh on its next load; an unchanged table costs one
    * directory stat walk. The data itself is re-read from parquet by
    * every job — this caches the resolution, never results.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = (spark, path, fingerprint(new java.io.File(path)))
    relations.computeIfAbsent(key, _ =>
      // events: the producer decides the `ts` physical unit (the harness
      // has shipped both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) layouts
      // of the same table) — sniff the footer and adapt instead of
      // assuming; see [[TsLayout]].
      if (name == "events") TsLayout.normalizeTs(TsLayout.readRaw(spark, path))
      else parquet(spark, path))
  }

  /** `path` (a parquet file or directory) as a DataFrame, resolved
    * without a Spark job. `spark.read.parquet` infers the data schema
    * with a one-task job that reads a single footer
    * (`ParquetUtils.inferSchema`); this reads that same footer on the
    * driver and passes Spark the schema it would have inferred, so only
    * the file listing and partition discovery remain. When the session
    * asks for schema merging, or there is no file to read, Spark's own
    * inference runs (and raises its own error on an empty directory).
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    resolve(spark, path, footer(spark, path))

  /** [[parquet]] with the footer already read by the caller. */
  private[sources] def resolve(spark: SparkSession, path: String,
      footer: Option[Footer]): DataFrame = footer match {
    case Some(f) if !spark.sessionState.conf.isParquetSchemaMergingEnabled =>
      // the converter reads the session's binaryAsString, int96AsTimestamp,
      // inferTimestampNTZ and nanosAsLong settings, as inference does
      spark.read.schema(ParquetFileFormat.readSchemaFromFooter(f,
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
        .parquet(path)
    case _ => spark.read.parquet(path)
  }

  /** The footer Spark's schema inference reads for `path`: among the
    * leaf files its file index lists, `_common_metadata`, then
    * `_metadata`, then the first data file in full-path order. None when
    * the path does not exist or holds no file.
    */
  private[sources] def footer(spark: SparkSession, path: String): Option[Footer] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val leaves =
      try leafFiles(fs, fs.getFileStatus(root)).sortBy(_.getPath.toString)
      catch { case _: java.io.FileNotFoundException => Nil }
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    summaries.flatMap(n => leaves.find(_.getPath.getName == n)).headOption
      .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
      .map(f => new Footer(f.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)))
  }

  private def leafFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot(s => FileListingBridge.hidden(s.getPath.getName))
      .flatMap(leafFiles(fs, _))

  private def fingerprint(f: java.io.File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).map(_.map(fingerprint).foldLeft(0L)(_ ^ _))
        .getOrElse(0L)
    else f.length ^ java.lang.Long.rotateLeft(f.lastModified, 21)

  private val relations = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Long), DataFrame]()

  /** Drop every cached relation (cold-bench hook — mirrors the other
    * session decision caches; content changes invalidate WITHOUT this,
    * via the fingerprint key).
    */
  def resetRelationCache(): Unit = relations.clear()

  /** The `documents` table re-laid-out as a hive-partitioned dataset
    * (`.../lang=en/...`), the 100 TB read posture: a filter on `lang`
    * prunes whole directories at PLANNING time (`PartitionFilters` in the
    * scan, fewer files listed+read), which no row-group statistic can do.
    * Built lazily per source dir under java.io.tmpdir and reused; the
    * write itself is a one-time layout job, exactly like a production
    * ingest repartitioning into its partition scheme.
    */
  def documentsByLang(spark: SparkSession, dir: String): DataFrame =
    derivedCopy(spark, dir, "documents", "documents_by_lang") { (df, out) =>
      df
        // one file per partition dir: at this SF a per-lang directory is
        // a single task's worth; at 100 TB you'd keep the natural task
        // fan-out instead of coalescing
        .repartition(org.apache.spark.sql.functions.col("lang"))
        .write.mode("overwrite").partitionBy("lang").parquet(out)
    }

  /** The `events` table re-laid-out on the z-curve of (user_id, value)
    * ([[graft.operators.ZOrder.layout]]): every file and row group
    * covers a small rectangle of (user_id, value) space, so a box
    * predicate on BOTH columns — with no z column in the query — skips
    * row groups via ordinary parquet min/max stats in both dimensions,
    * where a linear sort is selective in one. Cached per source dir and
    * content signature, like [[documentsByLang]].
    */
  def eventsZOrdered(spark: SparkSession, dir: String): DataFrame =
    derivedCopy(spark, dir, "events", "events_zorder") { (df, out) =>
      // skip granularity is the row group: write small groups (256 KB
      // blocks) and scale the file fan-out with the data so each file
      // holds a few narrow z-tiles. At warehouse scale the same layout
      // uses production-sized files with the row-group size tuned to
      // the scan's skip granularity — the mechanism (group-level
      // min/max on the curve dimensions) is identical.
      val rows = df.count()
      val parts = math.max(32L, math.min(512L, rows / 32768L)).toInt
      // curve resolution matched to the group count (2^(dims*bits) ≈
      // #groups): finer buckets shred a box predicate into more Morton
      // runs than there are group z-ranges and every group overlaps one
      val groups = math.max(1L, rows / 4000L)
      val bits = math.max(3, math.min(10,
        (math.log(groups.toDouble) / math.log(2) / 2).toInt))
      graft.operators.ZOrder.layout(df, Seq("user_id", "value"), bits = bits,
          numPartitions = parts)
        .write.mode("overwrite")
        .option("parquet.block.size", 256 * 1024)
        .parquet(out)
    }

  /** Signature-cached derived layout under java.io.tmpdir: rebuild only
    * when the SOURCE's content signature (file names + sizes + mtimes)
    * changes — regenerating the source in place must invalidate the
    * copy, or the layout would silently diverge from what an oracle
    * reading the original sees. The write itself is a one-time layout
    * job, exactly like a production ingest repartitioning into its
    * layout scheme.
    */
  private def derivedCopy(spark: SparkSession, dir: String, table: String,
      name: String)(write: (DataFrame, String) => Unit): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9.]+", "_")
    val out = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft-partitioned/$key/$name")
    val src = new java.io.File(s"$dir/$table.parquet")
    val sig = Option(src.listFiles()).map(_.filter(_.isFile)).getOrElse(Array(src))
      .sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("\n")
    val sigFile = new java.io.File(out.getParentFile, s"$name.sig")
    val fresh = new java.io.File(out, "_SUCCESS").isFile && sigFile.isFile &&
      new String(java.nio.file.Files.readAllBytes(sigFile.toPath), "UTF-8") == sig
    if (!fresh) {
      write(load(spark, dir, table), out.toString)
      sigFile.getParentFile.mkdirs()
      java.nio.file.Files.write(sigFile.toPath, sig.getBytes("UTF-8"))
    }
    // same fingerprint-keyed relation reuse as load(): a rebuilt copy
    // (new content under the same path) resolves fresh, an unchanged one
    // skips the per-execution partition-discovery + footer pass
    relations.computeIfAbsent(
      (spark, out.toString, fingerprint(out)),
      _ => parquet(spark, out.toString))
  }
}
