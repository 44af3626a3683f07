package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.IncrementalAgg
import graft.operators.IncrementalAgg.AggSpec
import graft.sources.Tables

/** Streaming RETRACTION-capable view maintenance — the standing form of
  * inc4's counting algebra, i.e. a CDC changelog stream (not an
  * append-only fact stream, which [[ViewMaintenance]] serves): each
  * trigger carries SIGNED fact rows (+1 insert / −1 retract; an update
  * is the −old/+new pair), and the published sum/count view is correct
  * after any trigger.
  *
  * State is the counting-algebra aggregate with its hidden witnesses
  * (_rows multiplicity, per-sum non-null counts) — group-grain, bounded
  * by the group vocabulary, localCheckpointed per merge so lineage
  * stays flat. Because the signed fold is associative and commutative,
  * the view is micro-batching-invariant EVEN WHEN an update's −old and
  * +new rows land in different triggers (the state is momentarily
  * mid-update, but the fold converges to the same place — spec-gated),
  * which is exactly the out-of-order tolerance a CDC consumer needs.
  */
final class RetractionMaintenance(spark: SparkSession, keys: Seq[String],
    aggs: Seq[AggSpec], signCol: String = "_sign") extends BatchLedger {

  @volatile private var state: DataFrame = null

  /** foreachBatch body — fold one trigger's signed rows into the state.
    * A non-negative `batchId` rides the [[BatchLedger]]: a checkpoint-
    * replayed trigger is a no-op; −1 folds unconditionally.
    */
  def merge(signed: DataFrame, batchId: Long = -1L): Unit = synchronized {
    if (alreadyApplied(batchId)) return
    if (state == null) {
      // an empty unsigned aggregate of the batch's fact columns yields
      // the counting-state schema to fold the first trigger into
      state = IncrementalAgg.aggregateCounting(
        signed.drop(signCol).limit(0), keys, aggs)
    }
    if (!signed.isEmpty) {
      state = IncrementalAgg.refreshCounting(state, signed, keys, aggs,
        signCol).localCheckpoint(eager = true)
    }
    recordApplied(batchId)
  }

  /** The published view as of the last merged trigger (None before). */
  def view: Option[DataFrame] =
    Option(state).map(IncrementalAgg.publishCounting(_, keys, aggs))

  /** The raw counting state incl. witnesses (persistence/inspection). */
  def countingState: Option[DataFrame] = Option(state)

  /** Persist the counting state (with witnesses) so a restarted job
    * [[RetractionMaintenance.resume]]s mid-changelog without replaying
    * the consumed prefix — the signed fold is associative/commutative,
    * so the resumed view is byte-identical to uninterrupted
    * (spec-gated), even when a −old/+new update pair is split across
    * the restart. Call between triggers.
    */
  def save(path: String): Unit = synchronized {
    require(state != null, "fold at least one trigger before saving")
    Snapshots.publish(spark, path) { dir =>
      state.write.mode("overwrite").parquet(s"$dir/countingState")
      BatchLedger.save(spark, dir, lastAppliedBatch)
    }
  }

  /** Wire a streaming signed-changelog frame into this handle. The
    * trigger's batchId rides the ledger, so a checkpoint-driven replay
    * after restart is a no-op.
    */
  def attach(signed: DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    signed.writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, id: Long) => merge(b, id) }
}

object RetractionMaintenance {

  /** Reconstruct a [[RetractionMaintenance.save]]d handle in a fresh
    * job — the counting state loads from parquet; the changelog prefix
    * consumed before the kill is never replayed.
    */
  def resume(spark: SparkSession, path: String, keys: Seq[String],
      aggs: Seq[AggSpec], signCol: String = "_sign")
      : RetractionMaintenance = {
    val dir = Snapshots.resolve(spark, path)
    val h = new RetractionMaintenance(spark, keys, aggs, signCol)
    // eager localCheckpoint cuts lineage to the snapshot files, so a
    // later save() to the SAME path is not an overwrite-what-you-read
    h.state = Tables.parquet(spark, s"$dir/countingState")
      .localCheckpoint(eager = true)
    h.restoreLedger(BatchLedger.load(spark, dir))
    h
  }
}
