package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Decontam, IncrementalAgg, SetSimJoin}
import graft.operators.IncrementalAgg.AggSpec

/** Streaming decontamination intake — the standing-pipeline form of
  * cur12: the corpus index and stats state are built ONCE at
  * construction (the corpus files are scanned once, ever), then every
  * micro-batch of fresh crawl documents is probed against the standing
  * index, its hits quarantined, and only the admitted rows folded into
  * the corpus stats (signed counting deltas) and the quarantine census.
  *
  * State is bounded: the materialized index (corpus-prefix grain, fixed
  * at construction), the counting stats (stat-key grain), and the
  * census (stat-key grain) — per-trigger work is one probe join plus
  * two group-grain merges, independent of how much crawl has streamed
  * by. Quarantined ROWS are not retained (the census prices them;
  * callers routing them to a quarantine sink do so in their own
  * foreachBatch around [[merge]]).
  *
  * Invariant (spec-gated): after any stream prefix, [[statsNow]] and
  * [[censusNow]] equal the batch [[Decontam.processBatch]] over the
  * concatenation of every batch seen so far, however the stream was
  * micro-batched — the probe decision per document depends only on the
  * fixed index, and both folds are associative and commutative.
  */
final class IntakeMaintenance private (spark: SparkSession,
    standing: Decontam.IntakeState, census0: Option[DataFrame],
    idCol: String, tokensCol: String, statKeys: Seq[String],
    statAggs: Seq[AggSpec]) extends Maintenance(spark) {

  /** Build the standing state from the corpus (scanned once, here). */
  def this(spark: SparkSession, corpus: DataFrame, idCol: String,
      tokensCol: String, statKeys: Seq[String], statAggs: Seq[AggSpec],
      tNum: Int, tDen: Int) =
    this(spark, Decontam.buildIntake(corpus, idCol, tokensCol, statKeys,
      statAggs, tNum, tDen), None, idCol, tokensCol, statKeys, statAggs)

  @volatile private var stats: DataFrame = standing.stats
  @volatile private var census: Option[DataFrame] = census0

  /** Decontaminate one trigger's documents. */
  protected def fold(batch: DataFrame): Unit =
    // the probe stays: without it an empty first batch would publish
    // an empty census where censusNow reports None
    if (!batch.isEmpty) {
      val res = Decontam.processBatch(
        Decontam.IntakeState(standing.index, stats), batch, idCol,
        tokensCol, statKeys, statAggs)
      stats = res.stats.localCheckpoint(eager = true)
      val delta = res.quarantined.groupBy(statKeys.map(col): _*)
        .agg(count(lit(1)).as("n_quarantined"))
        .join(res.admitted.groupBy(statKeys.map(col): _*)
          .agg(count(lit(1)).as("n_admitted")), statKeys, "full")
        .select(statKeys.map(col) ++ Seq(
          coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
          coalesce(col("n_quarantined"), lit(0L)).as("n_quarantined")): _*)
      val merged = census.map(_.unionByName(delta)
          .groupBy(statKeys.map(col): _*)
          .agg(sum(col("n_admitted")).as("n_admitted"),
            sum(col("n_quarantined")).as("n_quarantined")))
        .getOrElse(delta)
      census = Some(merged.localCheckpoint(eager = true))
    }

  /** Published corpus stats (corpus + every admitted doc) as of now. */
  def statsNow: DataFrame =
    IncrementalAgg.publishCounting(stats, statKeys, statAggs)

  /** Per-stat-key quarantine/admission census as of now. */
  def censusNow: Option[DataFrame] = census

  protected def pieces: Seq[(String, DataFrame)] =
    ("stats" -> stats) +: census.toSeq.map("census" -> _)

  /** The standing index is written next to the frames, once per save. */
  override protected def writePieces(dir: String): Unit = {
    standing.index.save(s"$dir/index")
    super.writePieces(dir)
  }
}

object IntakeMaintenance {
  /** Resume a saved handle: the corpus files are never read again. */
  def resume(spark: SparkSession, path: String, idCol: String,
      tokensCol: String, statKeys: Seq[String],
      statAggs: Seq[AggSpec]): IntakeMaintenance =
    Maintenance.resume(spark, path) { s =>
      // materialized pins the index's vocab + postings, as s() pins pieces
      val index = SetSimJoin.loadJaccardIndex(spark, s"${s.dir}/index")
      new IntakeMaintenance(spark, Decontam.IntakeState(index.materialized,
        s("stats")), s.optional("census"), idCol, tokensCol, statKeys,
        statAggs)
    }
}
