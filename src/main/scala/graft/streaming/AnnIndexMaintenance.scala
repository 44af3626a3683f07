package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

/** Streaming ANN-INDEX maintenance — the standing-pipeline form of
  * [[Similarity.ensureLshBucketLayout]] under continuous arrival: an
  * embedding stream appends each micro-batch into the bucket-PARTITIONED
  * parquet layout (one write per trigger, clustered by LSH bucket), so
  * every probe prunes to the hamming-ball buckets AT THE FILE INDEX over
  * the corpus-so-far — the ss1b shape, maintained instead of rebuilt.
  *
  * State is the layout itself (on disk, not in the driver), which is
  * exactly what makes this the 100 TB posture: the index grows with the
  * corpus like any database index, the driver holds nothing but the
  * hyperplane constants, and a probe's cost is governed by the bucket
  * fan-out ((Σ C(nbits,0..h))/2^nbits of the files), not by how long the
  * stream has run. At cluster scale the same shape is "append to a
  * bucket-clustered table per trigger, compact occasionally"
  * ([[graft.operators.Compaction]] is the compaction half).
  *
  * Restart recovery is BY CONSTRUCTION rather than by save/load: the
  * state is already durable, and [[merge]] is idempotent under
  * foreachBatch's at-least-once replay through a TWO-PHASE append —
  *
  *   1. the trigger's rows are STAGED under `_graft_staging/<batchId>`
  *      (an underscore path, invisible to readers), overwriting any
  *      partial staging a crashed prior attempt left;
  *   2. the commit marker `_graft_commits/<batchId>` is created — the
  *      single commit point;
  *   3. the staged files MOVE into their bucket directories (file names
  *      are task-UUID-unique, so a re-run cannot collide).
  *
  * A crash before (2) leaves nothing visible and the replay restages
  * from scratch; a crash after (2) — mid-move included — makes the
  * replay a FINALIZE: it sees the marker, publishes whatever is still
  * staged (files already moved are simply absent), and skips the
  * re-append. So the same batchId can never double its rows, even under
  * a v2 file committer whose failed jobs leave partial output — partial
  * output lands in staging, never in the readable layout. All paths go
  * through the Hadoop [[FileSystem]] API, so the contract holds on
  * HDFS/ABFS exactly as on the local FS. (S3 caveat: rename is
  * copy+delete, not atomic — but per-FILE visibility is all the protocol
  * needs, since readers only ever list complete closed files and the
  * idempotence decision rides the marker, not the moves.)
  *
  * Invariant (spec-gated): after any stream prefix, [[probe]] equals the
  * batch probe over a layout built from the same documents — candidates
  * are bucket co-residency (a pure function of the vector and the seeded
  * hyperplanes), scoring is exact cosine, so arrival order and batching
  * cannot change the result.
  */
final class AnnIndexMaintenance(spark: SparkSession, path: String,
    vecCol: String = "embedding", idCol: String = "vec_id",
    nbits: Int = 4, dim: Int = 64, seed: Long = 42L) {

  private val planes = Similarity.hyperplanes(dim, nbits, seed)
  private val layout = new Path(path)
  private def fs: FileSystem =
    layout.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def commitDir = new Path(layout, "_graft_commits")
  private def marker(batchId: Long) = new Path(commitDir, batchId.toString)
  private def staging(batchId: Long) =
    new Path(new Path(layout, "_graft_staging"), batchId.toString)

  /** Has this trigger already been appended? (at-least-once guard) */
  def committed(batchId: Long): Boolean = fs.exists(marker(batchId))

  /** foreachBatch body — append one trigger's vectors, clustered by
    * bucket so each bucket stays a few contiguous files per trigger
    * rather than tasks×buckets splinters. `batchId < 0` appends
    * unconditionally (ad-hoc/batch use); a non-negative id goes through
    * the staged two-phase commit above, so a crash-replayed trigger
    * either restages (not yet committed) or finalizes (committed) —
    * never doubles.
    */
  def merge(emb: DataFrame, batchId: Long): Unit = synchronized {
    if (batchId < 0) {
      clustered(emb).write.mode("append").partitionBy("bucket").parquet(path)
      return
    }
    if (committed(batchId)) { finalizeStaged(batchId); return }
    stage(emb, batchId)
    markCommitted(batchId)
    finalizeStaged(batchId)
  }

  private def clustered(emb: DataFrame): DataFrame =
    emb.select(col(idCol), col(vecCol))
      .withColumn("bucket", Similarity.lshBucket(col(vecCol), planes))
      .repartition(1 << nbits, col("bucket"))

  /** Phase 1: write the trigger under `_graft_staging/<batchId>` —
    * mode(overwrite) clears any partial files a crashed attempt left.
    * Spec hook: calling ONLY this simulates a crash before commit.
    */
  private[graft] def stage(emb: DataFrame, batchId: Long): Unit =
    clustered(emb).write.mode("overwrite").partitionBy("bucket")
      .parquet(staging(batchId).toString)

  /** Phase 2: the commit point. Spec hook: stage+mark without finalize
    * simulates a crash mid-publish.
    */
  private[graft] def markCommitted(batchId: Long): Unit = {
    fs.mkdirs(commitDir)
    fs.create(marker(batchId), /* overwrite = */ true).close()
  }

  /** Hadoop's FileSystem.rename reports most failures by RETURNING
    * false, not throwing — an unchecked move would silently drop
    * committed rows. Throwing keeps the staging dir (and the marker)
    * in place, so a replayed trigger re-finalizes the leftovers.
    */
  private def mustRename(src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst returned false")

  /** Phase 3: publish whatever is still staged for a COMMITTED batch —
    * idempotent, because moved files are absent from staging and the
    * task-UUID file names cannot collide with a prior partial publish.
    * The staging dir is deleted only after EVERY move succeeded; a
    * failed move throws with staging intact, replay finalizes the rest.
    */
  private[graft] def finalizeStaged(batchId: Long): Unit = {
    val stg = staging(batchId)
    if (!fs.exists(stg)) return
    fs.listStatus(stg).filter(_.getPath.getName.startsWith("bucket="))
      .foreach { bucketDir =>
        val dst = new Path(layout, bucketDir.getPath.getName)
        fs.mkdirs(dst)
        fs.listStatus(bucketDir.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .foreach(f => mustRename(f.getPath, new Path(dst, f.getPath.getName)))
      }
    fs.delete(stg, /* recursive = */ true)
    // drop any cached file listing — a probe planned after the publish
    // must see the new files
    spark.catalog.refreshByPath(path)
  }

  /** The layout as a frame (bucket is the partition column). */
  def index: DataFrame = {
    require(fs.exists(layout),
      s"no layout at $path — merge at least one trigger first")
    Tables.parquet(spark, path)
  }

  /** Exact-cosine top-k over the hamming-`probeHamming` bucket ball of
    * an external query vector — ONE probe job whose scan prunes to the
    * probed buckets at the file index (PartitionFilters, plan-gated).
    */
  def probe(query: Array[Float], k: Int = 10,
      probeHamming: Int = 1): DataFrame =
    Similarity.bruteForceTopK(
      index.filter(col("bucket").isin(probeBuckets(query, probeHamming): _*)),
      vecCol, idCol, query, k)

  /** The query's bucket plus every bucket within `h` bit flips. */
  def probeBuckets(query: Array[Float], h: Int = 1): Seq[Long] = {
    val qBits = planes.zipWithIndex.map { case (p, i) =>
      if (p.zip(query).map { case (a, b) => a * b.toDouble }.sum >= 0.0)
        1L << i
      else 0L
    }.sum
    def ball(start: Int, left: Int, acc: Long): Seq[Long] =
      if (left == 0) Seq(acc)
      else (start until nbits).flatMap(i =>
        ball(i + 1, left - 1, acc ^ (1L << i)))
    (0 to h).flatMap(ball(0, _, qBits)).distinct
  }

  /** Rewrite the layout clustered — one-ish file per bucket — and swap
    * it in, keeping the commit log. Per-trigger appends leave up to one
    * file per (trigger × bucket); a probe's task count is its bucket
    * ball's FILE count, so a long-lived stream pays growing scheduling
    * cost until compacted (the same maintenance any append-mode table
    * needs; at cluster scale this is the table format's OPTIMIZE).
    * Call between triggers; like any non-transactional directory
    * rewrite, a probe racing the swap can see a partial layout —
    * production puts the layout in a transactional table and gets the
    * atomic swap from the format. FileSystem-API moves, same S3 caveat
    * as the scaladoc above.
    */
  def compact(): Unit = synchronized {
    val tmp = new Path(path + ".compact")
    index.repartition(1 << nbits, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(tmp.toString)
    fs.listStatus(layout).filter(_.getPath.getName.startsWith("bucket="))
      .foreach(d => fs.delete(d.getPath, /* recursive = */ true))
    fs.listStatus(tmp).filter(_.getPath.getName.startsWith("bucket="))
      .foreach(d => mustRename(d.getPath, new Path(layout, d.getPath.getName)))
    fs.delete(tmp, /* recursive = */ true)
    // drop any cached file listing for the path — a probe planned after
    // the swap must list the compacted files, not the deleted ones
    spark.catalog.refreshByPath(path)
  }

  /** Wire a streaming embedding frame into this handle; `.start()` to
    * run. The trigger's batchId flows into the commit log, which is
    * what makes a crash-replayed trigger a no-op.
    */
  def attach(emb: DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    Maintenance.attach(emb)(merge(_, _))
}
