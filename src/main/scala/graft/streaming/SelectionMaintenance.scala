package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.DsirSelection
import graft.sources.Tables

/** Streaming DSIR maintenance — the standing-pipeline form of the
  * imp1/imp2 selection queries: a document stream folds into the
  * importance model's sufficient statistics one micro-batch at a time
  * (foreachBatch), and any frame can be scored/selected against the
  * model as of the latest trigger.
  *
  * The state is the CONSTANT 256-row (bucket, target-count, raw-count)
  * table — per-trigger work is one explode + aggregate over the trigger
  * plus a 256-row merge, independent of how much corpus has streamed by
  * (the O(1)-state property that makes the hashed feature space the
  * right streaming design; contrast a vocabulary-grain model whose
  * state grows with the corpus). Kept behind a localCheckpoint per
  * merge so lineage stays flat across arbitrarily many triggers — the
  * iterative-loop discipline.
  *
  * Invariant (spec-gated): after any stream prefix, [[ratioTable]]
  * equals the batch kernel's ratio table over every document seen so
  * far, however the stream was micro-batched — bucket-count addition is
  * associative and commutative, so merge order cannot matter. Scoring a
  * fixed probe frame through [[select]] therefore matches the batch
  * imp2 resample on the same corpus.
  */
final class SelectionMaintenance(spark: SparkSession) extends BatchLedger {

  @volatile private var state: DataFrame = spark.createDataFrame(
    java.util.Collections.emptyList[Row](),
    StructType(Seq(StructField("b", LongType, nullable = false),
      StructField("tc", LongType, nullable = false),
      StructField("rc", LongType, nullable = false))))

  /** The model's sufficient statistics as of the last merged trigger. */
  def bucketCounts: DataFrame = state

  /** foreachBatch body — fold one trigger's documents into the model. A
    * non-negative `batchId` rides the [[BatchLedger]]: a checkpoint-
    * replayed trigger is a no-op; −1 folds unconditionally.
    */
  def merge(docs: DataFrame, batchId: Long = -1L): Unit = synchronized {
    if (alreadyApplied(batchId)) return
    val delta = DsirSelection.bucketState(
      DsirSelection.hashedBigramCounts(docs))
    if (!delta.isEmpty) {
      state = DsirSelection.mergeState(state, delta)
        .localCheckpoint(eager = true)
    }
    recordApplied(batchId)
  }

  /** Per-bucket importance ratio table from the current state. */
  def ratioTable: DataFrame = DsirSelection.ratioTable(state)

  /** Score + deterministically resample a static probe frame
    * `(doc_id, source, text)` against the model as of now.
    */
  def select(docs: DataFrame): DataFrame =
    DsirSelection.resample(DsirSelection.scoreDocs(
      DsirSelection.hashedBigramCounts(docs), ratioTable))

  /** Persist the 256-row bucket state so a restarted job
    * [[SelectionMaintenance.resume]]s without replaying the consumed
    * stream prefix — bucket-count addition is associative/commutative,
    * so the resumed fold is byte-identical to uninterrupted
    * (spec-gated). Call between triggers.
    */
  def save(path: String): Unit = synchronized {
    Snapshots.publish(spark, path) { dir =>
      state.write.mode("overwrite").parquet(s"$dir/bucketCounts")
      BatchLedger.save(spark, dir, lastAppliedBatch)
    }
  }

  /** Wire a streaming document frame into this handle; `.start()` to
    * run. The trigger's batchId rides the ledger, so a checkpoint-driven
    * replay after restart is a no-op.
    */
  def attach(docs: DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, id: Long) => merge(b, id) }
}

object SelectionMaintenance {

  /** Reconstruct a [[SelectionMaintenance.save]]d handle in a fresh
    * job — the model state loads from parquet; no streamed document is
    * re-read.
    */
  def resume(spark: SparkSession, path: String): SelectionMaintenance = {
    val dir = Snapshots.resolve(spark, path)
    val h = new SelectionMaintenance(spark)
    // eager localCheckpoint cuts lineage to the snapshot files, so a
    // later save() to the SAME path is not an overwrite-what-you-read
    h.state = Tables.parquet(spark, s"$dir/bucketCounts")
      .localCheckpoint(eager = true)
    h.restoreLedger(BatchLedger.load(spark, dir))
    h
  }
}
