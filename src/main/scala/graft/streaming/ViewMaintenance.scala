package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.IncrementalAgg
import graft.operators.IncrementalAgg.{AggSpec, JoinView}

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
    extends Maintenance(spark) {

  @volatile private var state: JoinView = null

  /** The published view as of the last merged trigger (None before). */
  def view: Option[DataFrame] = Option(state).map(_.view)

  /** The key-grain sub-aggregate (inspection / persistence). */
  def keyAgg: Option[DataFrame] = Option(state).map(_.keyAgg)

  /** Fold one trigger's facts into the view. */
  protected def fold(facts: DataFrame): Unit = {
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

  protected def pieces: Seq[(String, DataFrame)] = Option(state).toSeq
    .flatMap(s => Seq("keyAgg" -> s.keyAgg, "dim" -> s.dim, "view" -> s.view))
}

object ViewMaintenance {
  /** Resume a saved handle: no fact rescan, no stream replay. */
  def resume(spark: SparkSession, path: String, joinKeys: Seq[String],
      groupCols: Seq[String], aggs: Seq[AggSpec]): ViewMaintenance =
    Maintenance.resume(spark, path) { s =>
      val dim = s("dim")
      val h = new ViewMaintenance(spark, dim, joinKeys, groupCols, aggs)
      h.state = JoinView(s("keyAgg"), dim, s("view"))
      h
    }
}
