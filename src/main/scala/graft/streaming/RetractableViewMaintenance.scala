package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.IncrementalAgg
import graft.operators.IncrementalAgg.{AggSpec, JoinView}

/** Streaming RETRACTION-capable view maintenance — the standing form of
  * inc5, completing the maintenance family: [[ViewMaintenance]] takes
  * an append-only fact stream plus dim deltas, [[RetractionMaintenance]]
  * takes a signed changelog with no dimension; this handle consumes a
  * SIGNED fact changelog (`_sign` +1 insert / −1 retract; an update is
  * its −old/+new pair, arriving together or across triggers) AND
  * between-trigger dimension changelogs, maintaining
  * `agg(F ⋈ D) GROUP BY dim attrs` for invertible aggregates.
  *
  * State is the [[IncrementalAgg.JoinView]] triple with a
  * counting-algebra key-grain sub-aggregate (signed `_rows`
  * multiplicity + per-sum non-null witnesses): keys retracted to zero
  * rows vanish, a group whose last non-null measure is retracted
  * publishes SUM = NULL, and groups losing every key drop out of the
  * view — full-recompute parity after any trigger. A trigger reads its
  * batch once, into a pinned signed key-grain aggregate, folds that
  * into the counting state and pins the result; the affected-group
  * splice then takes the trigger's keys from the pinned aggregate and
  * re-derives their groups from the pinned state, so neither the splice
  * nor the view's checkpoint re-reads the batch or recomputes the fold.
  * The splice stays because a retraction can make a group vanish, which
  * a plain fold cannot express. The pinned dimension is left as it is,
  * an empty trigger leaves the view as it was, and stored facts are
  * never rescanned. Three eager localCheckpoints per trigger (signed
  * aggregate, counting state, view) keep lineage flat across
  * arbitrarily many triggers. A dim delta splices the
  * groups of its changed keys against the stored counting state.
  *
  * Invariant (spec-gated): after any stream prefix, `view` equals the
  * batch [[IncrementalAgg.buildRetractableJoinView]] over the NET fact
  * multiset seen so far against the dimension as of now — however the
  * signed changelog was micro-batched and whenever the dim deltas were
  * interleaved, because the signed fold is associative/commutative and
  * the splice re-derives affected groups from the folded state.
  */
final class RetractableViewMaintenance(spark: SparkSession,
    dim0: DataFrame, joinKeys: Seq[String], groupCols: Seq[String],
    aggs: Seq[AggSpec], signCol: String = "_sign")
    extends Maintenance(spark) {

  @volatile private var state: JoinView = null

  /** The published view as of the last merged trigger (None before). */
  def view: Option[DataFrame] = Option(state).map(_.view)

  /** The counting key-grain state (inspection / persistence). */
  def keyAgg: Option[DataFrame] = Option(state).map(_.keyAgg)

  /** Fold one trigger's SIGNED fact deltas. */
  protected def fold(signedDeltas: DataFrame): Unit = {
    // the first trigger folds into an empty base over the pinned dim
    val base = Option(state).getOrElse(
      IncrementalAgg.buildRetractableJoinView(
        signedDeltas.limit(0).drop(signCol), dim0, joinKeys, groupCols,
        aggs).copy(dim = dim0.localCheckpoint(eager = true)))
    // the batch is read once, into its pinned signed key-grain
    // aggregate; the fold and the splice's touched keys both read that
    val delta = IncrementalAgg.aggregateSigned(signedDeltas, joinKeys, aggs,
      signCol).localCheckpoint(eager = true)
    val keyAgg2 = IncrementalAgg.foldCounting(base.keyAgg, delta, joinKeys)
      .localCheckpoint(eager = true)
    val jv = IncrementalAgg.spliceRefresh(base, keyAgg2,
      Some(delta.select(joinKeys.map(col): _*)), None, joinKeys,
      groupCols, aggs, counting = true)
    state = jv.copy(view = jv.view.localCheckpoint(eager = true))
  }

  /** Apply a dimension changelog (dim columns + `op`, at most one row
    * per key) between triggers — affected groups recompute from the
    * stored counting state, which stays as it is — no fact rescan, no
    * stream replay.
    */
  def applyDimDelta(changes: DataFrame): Unit = synchronized {
    require(state != null, "fold at least one trigger before dim deltas")
    val jv = IncrementalAgg.spliceRefresh(state, state.keyAgg, None,
      Some(changes), joinKeys, groupCols, aggs, counting = true)
    state = jv.copy(dim = jv.dim.localCheckpoint(eager = true),
      view = jv.view.localCheckpoint(eager = true))
  }

  protected def pieces: Seq[(String, DataFrame)] = Option(state).toSeq
    .flatMap(s => Seq("keyAgg" -> s.keyAgg, "dim" -> s.dim, "view" -> s.view))
}

object RetractableViewMaintenance {
  /** Resume a saved handle: no fact rescan, no changelog replay. */
  def resume(spark: SparkSession, path: String, joinKeys: Seq[String],
      groupCols: Seq[String], aggs: Seq[AggSpec],
      signCol: String = "_sign"): RetractableViewMaintenance =
    Maintenance.resume(spark, path) { s =>
      val dim = s("dim")
      val h = new RetractableViewMaintenance(spark, dim, joinKeys,
        groupCols, aggs, signCol)
      h.state = JoinView(s("keyAgg"), dim, s("view"))
      h
    }
}
