package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import graft.sources.Tables

/** Small-file compaction: rewrite a parquet dataset into ~target-size
  * files. The classic 100 TB operational problem — streaming sinks and
  * over-parallel writers leave thousands of KB-scale files per
  * partition, and every downstream scan then pays per-file open/footer
  * costs and schedules a task per file (or per tiny split); the
  * NameNode/object-store listing cost scales with file count, not
  * bytes. The fix is a periodic metadata-driven rewrite:
  *
  *   - the bin count comes from the FILE METADATA (sum of on-disk
  *     bytes / target), a driver-side listing — no data pass decides
  *     the plan;
  *   - the rewrite itself is one job: read → repartition(bins) →
  *     write. `repartition` (round-robin shuffle) balances bytes
  *     evenly across output files regardless of input skew; a
  *     `coalesce` would chain tiny files into whichever tasks they
  *     fell into and can leave the skew in place.
  *
  * Sort order is NOT preserved (round-robin); compose with
  * [[ZOrder.layout]] when the rewrite should also (re)cluster — the
  * two are the same shuffle, so clustering is free at compaction time.
  */
object Compaction {

  final case class Stats(filesBefore: Int, bytesBefore: Long, filesAfter: Int)

  /** Data files (ignores _SUCCESS/metadata/hidden) under a parquet
    * output directory — non-recursive, matching a single (partition)
    * directory's layout.
    */
  def dataFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .toSeq

  /** Rewrite `inDir` (a parquet directory) into `outDir` with
    * ~`targetBytes` files. Returns before/after stats. Compression
    * ratios differ between the fragmented and compacted copies, so the
    * bin count uses input bytes as the estimate — exact sizing isn't
    * the point; escaping per-file costs is.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, targetBytes: Long): Stats = {
    require(targetBytes > 0, "targetBytes must be positive")
    val files = dataFiles(inDir)
    val bytes = files.map(_.length).sum
    val bins = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    Tables.parquet(spark, inDir)
      .repartition(bins)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    Stats(files.size, bytes, dataFiles(outDir).size)
  }
}
