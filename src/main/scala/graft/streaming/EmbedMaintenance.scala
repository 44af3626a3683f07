package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.ProtoPrune

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
final class EmbedMaintenance(spark: SparkSession) extends Maintenance(spark) {

  @volatile private var state: DataFrame = emptyState(
    "cl BIGINT NOT NULL, j INT NOT NULL, s BIGINT NOT NULL, n BIGINT NOT NULL")

  /** The model's sufficient statistics as of the last merged trigger. */
  def componentState: DataFrame = state

  /** Fold one trigger's vectors into the model. No emptiness probe: an
    * empty delta re-sums the state to the same rows, and a probe would
    * compute the delta a second time.
    */
  protected def fold(emb: DataFrame): Unit = {
    val delta = ProtoPrune.componentState(ProtoPrune.components(emb))
    state = ProtoPrune.mergeState(state, delta)
      .localCheckpoint(eager = true)
  }

  /** Distance-score + rank-prune a static probe frame
    * `(vec_id, embedding)` against the model as of now.
    */
  def prune(emb: DataFrame): DataFrame =
    ProtoPrune.prune(ProtoPrune.distances(
      ProtoPrune.components(emb), ProtoPrune.centroids(state)))

  protected def pieces: Seq[(String, DataFrame)] =
    Seq("componentState" -> state)
}

object EmbedMaintenance {
  /** Resume a saved handle: no streamed vector is re-read. */
  def resume(spark: SparkSession, path: String): EmbedMaintenance =
    Maintenance.resume(spark, path) { s =>
      val h = new EmbedMaintenance(spark)
      h.state = s("componentState")
      h
    }
}
