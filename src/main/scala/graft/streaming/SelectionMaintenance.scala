package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.DsirSelection

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
final class SelectionMaintenance(spark: SparkSession)
    extends Maintenance(spark) {

  @volatile private var state: DataFrame =
    emptyState("b BIGINT NOT NULL, tc BIGINT NOT NULL, rc BIGINT NOT NULL")

  /** The model's sufficient statistics as of the last merged trigger. */
  def bucketCounts: DataFrame = state

  /** Fold one trigger's documents into the model. No emptiness probe: an
    * empty delta merges to the same rows, and a probe would compute the
    * delta a second time.
    */
  protected def fold(docs: DataFrame): Unit = {
    val delta = DsirSelection.bucketState(
      DsirSelection.hashedBigramCounts(docs))
    state = DsirSelection.mergeState(state, delta)
      .localCheckpoint(eager = true)
  }

  /** Per-bucket importance ratio table from the current state. */
  def ratioTable: DataFrame = DsirSelection.ratioTable(state)

  /** Score + deterministically resample a static probe frame
    * `(doc_id, source, text)` against the model as of now.
    */
  def select(docs: DataFrame): DataFrame =
    DsirSelection.resample(DsirSelection.scoreDocs(
      DsirSelection.hashedBigramCounts(docs), ratioTable))

  protected def pieces: Seq[(String, DataFrame)] = Seq("bucketCounts" -> state)
}

object SelectionMaintenance {
  /** Resume a saved handle: no streamed document is re-read. */
  def resume(spark: SparkSession, path: String): SelectionMaintenance =
    Maintenance.resume(spark, path) { s =>
      val h = new SelectionMaintenance(spark)
      h.state = s("bucketCounts")
      h
    }
}
