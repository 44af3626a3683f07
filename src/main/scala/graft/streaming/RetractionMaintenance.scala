package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.IncrementalAgg
import graft.operators.IncrementalAgg.AggSpec

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
    aggs: Seq[AggSpec], signCol: String = "_sign")
    extends Maintenance(spark) {

  @volatile private var state: DataFrame = null

  /** Fold one trigger's signed rows into the state. No emptiness probe:
    * an empty batch re-sums the state to the same rows.
    */
  protected def fold(signed: DataFrame): Unit = {
    // an empty unsigned aggregate of the batch's fact columns yields
    // the counting-state schema to fold the first trigger into
    val base = Option(state).getOrElse(IncrementalAgg.aggregateCounting(
      signed.drop(signCol).limit(0), keys, aggs))
    state = IncrementalAgg.refreshCounting(base, signed, keys, aggs,
      signCol).localCheckpoint(eager = true)
  }

  /** The published view as of the last merged trigger (None before). */
  def view: Option[DataFrame] =
    Option(state).map(IncrementalAgg.publishCounting(_, keys, aggs))

  /** The raw counting state incl. witnesses (persistence/inspection). */
  def countingState: Option[DataFrame] = Option(state)

  protected def pieces: Seq[(String, DataFrame)] =
    Option(state).toSeq.map("countingState" -> _)
}

object RetractionMaintenance {
  /** Resume a saved handle: the consumed changelog is not replayed. */
  def resume(spark: SparkSession, path: String, keys: Seq[String],
      aggs: Seq[AggSpec], signCol: String = "_sign")
      : RetractionMaintenance =
    Maintenance.resume(spark, path) { s =>
      val h = new RetractionMaintenance(spark, keys, aggs, signCol)
      h.state = s("countingState")
      h
    }
}
