package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.IncrementalAgg
import graft.operators.IncrementalAgg.{AggSpec, JoinView}
import graft.sources.Tables

/** Streaming materialized-view maintenance — the standing-pipeline form
  * of the inc1/inc2/inc3 batch refreshes: a fact stream folds into a
  * join-view aggregate `agg(F ⋈ D) GROUP BY dim attrs` one micro-batch
  * at a time (foreachBatch), and dimension changelogs can be applied
  * between triggers; the published view is readable after any trigger.
  *
  * State is the [[IncrementalAgg.JoinView]] triple — the key-grain fact
  * sub-aggregate (bounded by distinct join keys, the same size a
  * shuffled join's build side would be), the current dimension, and the
  * view. A trigger reads its facts once: they aggregate to join-key
  * grain and are pinned, then [[IncrementalAgg.foldJoinView]] folds that
  * delta into the key-grain state and, joined to the dimension, into
  * the view. The dimension is static between dim deltas and sum/count/
  * min/max are self-decomposable, so a fact trigger needs no
  * affected-group splice and leaves the pinned dimension as it is. An
  * empty trigger folds to identical rows. Three eager localCheckpoints
  * per trigger (delta, key state, view) keep lineage flat across
  * arbitrarily many triggers — the iterative-loop discipline — and
  * stored facts are never rescanned (the IncrementalAggSpec file proof).
  * A dim delta splices only the groups its changed keys belonged to or
  * now belong to, re-derived from the stored key-grain state.
  *
  * Invariant (spec-gated): after any stream prefix, `view` equals the
  * batch `buildJoinView` over every fact seen so far against the
  * dimension as of now — however the stream was micro-batched and
  * WHENEVER the dim deltas were interleaved, because the key-grain fold
  * is associative/commutative and the affected-group recompute
  * re-derives from the folded partials, not from arrival order.
  */
final class ViewMaintenance(spark: SparkSession, dim0: DataFrame,
    joinKeys: Seq[String], groupCols: Seq[String], aggs: Seq[AggSpec])
    extends BatchLedger {

  @volatile private var state: JoinView = null

  /** The published view as of the last merged trigger (None before). */
  def view: Option[DataFrame] = Option(state).map(_.view)

  /** The key-grain sub-aggregate (inspection / persistence). */
  def keyAgg: Option[DataFrame] = Option(state).map(_.keyAgg)

  /** foreachBatch body — fold one trigger's facts into the view. A
    * non-negative `batchId` rides the [[BatchLedger]]: a checkpoint-
    * replayed trigger is a no-op; −1 folds unconditionally.
    */
  def merge(facts: DataFrame, batchId: Long = -1L): Unit = synchronized {
    if (alreadyApplied(batchId)) return
    // the first trigger folds into an empty base over the pinned dim
    val base = Option(state).getOrElse(IncrementalAgg.buildJoinView(
      facts.limit(0), dim0, joinKeys, groupCols, aggs)
      .copy(dim = dim0.localCheckpoint(eager = true)))
    val delta = IncrementalAgg.aggregate(facts, joinKeys, aggs)
      .localCheckpoint(eager = true)
    val jv = IncrementalAgg.foldJoinView(base, delta, joinKeys, groupCols,
      aggs)
    state = jv.copy(keyAgg = jv.keyAgg.localCheckpoint(eager = true),
      view = jv.view.localCheckpoint(eager = true))
    recordApplied(batchId)
  }

  /** Apply a dimension changelog (dim columns + `op`, at most one row
    * per key, 'U' upsert / 'D' delete) between triggers: the affected
    * groups recompute from the stored key-grain partials, which stay as
    * they are — no fact rescan, no stream replay.
    */
  def applyDimDelta(changes: DataFrame): Unit = synchronized {
    require(state != null, "fold at least one trigger before dim deltas")
    val jv = IncrementalAgg.spliceRefresh(state, state.keyAgg, None,
      Some(changes), joinKeys, groupCols, aggs, counting = false)
    state = jv.copy(dim = jv.dim.localCheckpoint(eager = true),
      view = jv.view.localCheckpoint(eager = true))
  }

  /** Persist the full maintenance state — the JoinView triple — so a
    * restarted job [[ViewMaintenance.resume]]s mid-stream with no
    * stored-fact rescan and no stream replay. Call between triggers.
    */
  def save(path: String): Unit = synchronized {
    require(state != null, "fold at least one trigger before saving")
    Snapshots.publish(spark, path) { dir =>
      state.keyAgg.write.mode("overwrite").parquet(s"$dir/keyAgg")
      state.dim.write.mode("overwrite").parquet(s"$dir/dim")
      state.view.write.mode("overwrite").parquet(s"$dir/view")
      BatchLedger.save(spark, dir, lastAppliedBatch)
    }
  }

  /** Wire a streaming fact frame into this handle; `.start()` to run.
    * The trigger's batchId rides the ledger, so a checkpoint-driven
    * replay after restart is a no-op.
    */
  def attach(facts: DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    facts.writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, id: Long) => merge(b, id) }
}

object ViewMaintenance {

  /** Reconstruct a [[ViewMaintenance.save]]d handle in a fresh job: the
    * key-grain sub-aggregate, the dimension as of the kill, and the
    * published view all load from parquet — stored facts are never
    * rescanned and the consumed stream prefix is never replayed.
    */
  def resume(spark: SparkSession, path: String, joinKeys: Seq[String],
      groupCols: Seq[String], aggs: Seq[AggSpec]): ViewMaintenance = {
    val dir = Snapshots.resolve(spark, path)
    // eager localCheckpoints cut lineage to the snapshot files, so a
    // later save() to the SAME path is not an overwrite-what-you-read
    val dim = Tables.parquet(spark, s"$dir/dim").localCheckpoint(eager = true)
    val h = new ViewMaintenance(spark, dim, joinKeys, groupCols, aggs)
    h.state = JoinView(
      Tables.parquet(spark, s"$dir/keyAgg").localCheckpoint(eager = true),
      dim,
      Tables.parquet(spark, s"$dir/view").localCheckpoint(eager = true))
    h.restoreLedger(BatchLedger.load(spark, dir))
    h
  }
}
