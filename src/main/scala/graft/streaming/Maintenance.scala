package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

import graft.sources.Tables

/** The one maintenance skeleton of the foreachBatch fleet: a handle
  * writes its [[fold]] and names its state frames ([[pieces]]); this base
  * owns the [[BatchLedger]] guard on [[merge]], [[save]] (every piece as
  * `<name>/` parquet, then the ledger, in one [[Snapshots.publish]]ed
  * version), [[attach]] and [[Maintenance.resume]]. Folds and saves hold
  * the handle's lock, so a save between triggers sees one state.
  */
abstract class Maintenance(spark: SparkSession) extends BatchLedger {

  /** Fold one trigger's batch into the state. */
  protected def fold(batch: DataFrame): Unit

  /** The named state frames a snapshot holds; empty while a state that
    * takes its schema from the first batch is unborn.
    */
  protected def pieces: Seq[(String, DataFrame)]

  /** Write the snapshot's state under the staging dir `dir`. */
  protected def writePieces(dir: String): Unit =
    pieces.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name")
    }

  /** An empty state frame of the DDL schema `ddl`. */
  protected def emptyState(ddl: String): DataFrame = spark.createDataFrame(
    java.util.Collections.emptyList[Row](), StructType.fromDDL(ddl))

  /** foreachBatch body. A non-negative `batchId` rides the ledger: a
    * checkpoint-replayed trigger is a no-op, and the id is recorded only
    * after the fold succeeds; −1 folds unconditionally.
    */
  final def merge(batch: DataFrame, batchId: Long = -1L): Unit =
    synchronized {
      if (alreadyApplied(batchId)) return
      fold(batch)
      recordApplied(batchId)
    }

  /** Persist the state and the ledger as one snapshot version. */
  def save(path: String): Unit = synchronized {
    require(pieces.nonEmpty, "fold at least one trigger before saving")
    Snapshots.publish(spark, path) { dir =>
      writePieces(dir)
      spark.range(1).select(lit(lastAppliedBatch).as("last_batch_id"))
        .write.mode("overwrite").parquet(s"$dir/ledger")
    }
  }

  /** Wire a streaming frame into this handle; `.start()` to run. */
  def attach[T](batches: Dataset[T]): DataStreamWriter[T] =
    Maintenance.attach(batches)(merge(_, _))
}

object Maintenance {

  /** The foreachBatch wiring: each trigger goes to `merge` with its id. */
  private[streaming] def attach[T](batches: Dataset[T])
      (merge: (DataFrame, Long) => Unit): DataStreamWriter[T] =
    batches.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[T], id: Long) => merge(b.toDF(), id) }

  /** A resolved snapshot version, read piece by piece. */
  final class Snapshot private[Maintenance] (spark: SparkSession,
      val dir: String) {

    /** Piece `name`, pinned: the eager localCheckpoint cuts lineage to
      * the snapshot files, so a later save() to the SAME path is not an
      * overwrite-what-you-read.
      */
    def apply(name: String): DataFrame =
      Tables.parquet(spark, s"$dir/$name").localCheckpoint(eager = true)

    /** Piece `name` when the snapshot holds it. */
    def optional(name: String): Option[DataFrame] =
      if (exists(name)) Some(apply(name)) else None

    private[Maintenance] def exists(name: String): Boolean = {
      val p = new Path(s"$dir/$name")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
  }

  /** Reconstruct a saved handle in a fresh job: `build` makes it from
    * the newest committed snapshot under `path` (or a legacy flat one),
    * then its ledger is restored from the same version — −1 for a
    * snapshot that predates the ledger.
    */
  def resume[H <: Maintenance](spark: SparkSession, path: String)
      (build: Snapshot => H): H = {
    val s = new Snapshot(spark, Snapshots.resolve(spark, path))
    val h = build(s)
    h.restoreLedger(if (s.exists("ledger"))
      Tables.parquet(spark, s"${s.dir}/ledger").head().getLong(0) else -1L)
    h
  }
}
