package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.ProtoPrune
import graft.sources.Tables

/** Streaming prototype-model maintenance — the standing-pipeline form
  * of the imp7 prune: an embedding stream folds into the per-cluster
  * centroid SUFFICIENT STATISTICS one micro-batch at a time
  * (foreachBatch), and any probe frame can be distance-scored and
  * pruned against the model as of the latest trigger.
  *
  * The state is the CONSTANT (clusters x dims)-row (cl, j, sum, count)
  * table — per-trigger work is one explode + aggregate over the trigger
  * plus a bounded merge, independent of how many vectors have streamed
  * by (the same O(1)-state property as [[SelectionMaintenance]]'s
  * hashed feature space; an IVF cluster catalog keeps the same bound in
  * production). localCheckpoint per merge keeps lineage flat across
  * arbitrarily many triggers — the iterative-loop discipline.
  *
  * Invariant (spec-gated): component sums are associative-commutative
  * additions, so after any stream prefix the state equals the batch
  * kernel's [[ProtoPrune.componentState]] over every vector seen so
  * far, however micro-batched — and pruning a fixed probe frame whose
  * vectors are exactly the streamed corpus reproduces the batch imp7
  * output bit-for-bit.
  */
final class EmbedMaintenance(spark: SparkSession) extends BatchLedger {

  @volatile private var state: DataFrame = spark.createDataFrame(
    java.util.Collections.emptyList[Row](),
    StructType(Seq(StructField("cl", LongType, nullable = false),
      StructField("j", org.apache.spark.sql.types.IntegerType,
        nullable = false),
      StructField("s", LongType, nullable = false),
      StructField("n", LongType, nullable = false))))

  /** The model's sufficient statistics as of the last merged trigger. */
  def componentState: DataFrame = state

  /** foreachBatch body — fold one trigger's vectors into the model. A
    * non-negative `batchId` rides the [[BatchLedger]]: a checkpoint-
    * replayed trigger is a no-op; −1 folds unconditionally.
    */
  def merge(emb: DataFrame, batchId: Long = -1L): Unit = synchronized {
    if (alreadyApplied(batchId)) return
    val delta = ProtoPrune.componentState(ProtoPrune.components(emb))
    if (!delta.isEmpty) {
      state = ProtoPrune.mergeState(state, delta)
        .localCheckpoint(eager = true)
    }
    recordApplied(batchId)
  }

  /** Distance-score + rank-prune a static probe frame
    * `(vec_id, embedding)` against the model as of now.
    */
  def prune(emb: DataFrame): DataFrame =
    ProtoPrune.prune(ProtoPrune.distances(
      ProtoPrune.components(emb), ProtoPrune.centroids(state)))

  /** Persist the sufficient statistics so a restarted job
    * [[EmbedMaintenance.resume]]s without replaying the consumed stream
    * prefix — component sums are associative/commutative, so the
    * resumed fold is byte-identical to uninterrupted (spec-gated).
    * Call between triggers.
    */
  def save(path: String): Unit = synchronized {
    Snapshots.publish(spark, path) { dir =>
      state.write.mode("overwrite").parquet(s"$dir/componentState")
      BatchLedger.save(spark, dir, lastAppliedBatch)
    }
  }

  /** Wire a streaming embedding frame into this handle; `.start()` to
    * run. The trigger's batchId rides the ledger, so a checkpoint-driven
    * replay after restart is a no-op.
    */
  def attach(emb: DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    emb.writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, id: Long) => merge(b, id) }
}

object EmbedMaintenance {

  /** Reconstruct an [[EmbedMaintenance.save]]d handle in a fresh job —
    * the model state loads from parquet; no streamed vector is re-read.
    */
  def resume(spark: SparkSession, path: String): EmbedMaintenance = {
    val dir = Snapshots.resolve(spark, path)
    val h = new EmbedMaintenance(spark)
    // eager localCheckpoint cuts lineage to the snapshot files, so a
    // later save() to the SAME path is not an overwrite-what-you-read
    h.state = Tables.parquet(spark, s"$dir/componentState")
      .localCheckpoint(eager = true)
    h.restoreLedger(BatchLedger.load(spark, dir))
    h
  }
}
