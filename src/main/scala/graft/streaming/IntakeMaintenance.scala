package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Decontam, IncrementalAgg}
import graft.operators.IncrementalAgg.AggSpec
import graft.sources.Tables

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
  *
  * Restart recovery (spec-gated at multiple kill points): [[save]]
  * persists the full handle state — index, stats, census — as parquet;
  * [[IntakeMaintenance.resume]] reconstructs the handle in a LATER JOB
  * without touching the corpus, and the resumed stream's final
  * stats/census are identical to an uninterrupted run's. A real crawl
  * pipeline restarts; this is the posture it restarts through.
  */
final class IntakeMaintenance private (spark: SparkSession,
    standing: Decontam.IntakeState, census0: Option[DataFrame],
    idCol: String, tokensCol: String, statKeys: Seq[String],
    statAggs: Seq[AggSpec]) extends BatchLedger {

  /** Build the standing state from the corpus (scanned once, here). */
  def this(spark: SparkSession, corpus: DataFrame, idCol: String,
      tokensCol: String, statKeys: Seq[String], statAggs: Seq[AggSpec],
      tNum: Int, tDen: Int) =
    this(spark, Decontam.buildIntake(corpus, idCol, tokensCol, statKeys,
      statAggs, tNum, tDen), None, idCol, tokensCol, statKeys, statAggs)

  @volatile private var stats: DataFrame = standing.stats
  @volatile private var census: Option[DataFrame] = census0

  /** foreachBatch body — decontaminate one trigger's documents. A
    * non-negative `batchId` rides the [[BatchLedger]]: a checkpoint-
    * replayed trigger is a no-op; −1 folds unconditionally.
    */
  def merge(batch: DataFrame, batchId: Long = -1L): Unit = synchronized {
    if (alreadyApplied(batchId)) return
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
    recordApplied(batchId)
  }

  /** Published corpus stats (corpus + every admitted doc) as of now. */
  def statsNow: DataFrame =
    IncrementalAgg.publishCounting(stats, statKeys, statAggs)

  /** Per-stat-key quarantine/admission census as of now. */
  def censusNow: Option[DataFrame] = census

  /** Persist the handle's full state — index + stats parquet (via
    * [[Decontam.saveIntake]]) plus the census — so a restarted job
    * [[IntakeMaintenance.resume]]s from here with no corpus rescan.
    * Call between triggers (foreachBatch serializes against merge).
    */
  def save(path: String): Unit = synchronized {
    Snapshots.publish(spark, path) { dir =>
      Decontam.saveIntake(Decontam.IntakeState(standing.index, stats), dir)
      census.foreach(_.write.mode("overwrite").parquet(s"$dir/census"))
      BatchLedger.save(spark, dir, lastAppliedBatch)
    }
  }

  /** Wire a streaming crawl frame (idCol, tokensCol + stat columns)
    * into this handle; `.start()` to run. The trigger's batchId rides
    * the ledger, so a checkpoint-driven replay after restart is a no-op.
    */
  def attach(batch: DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    batch.writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, id: Long) => merge(b, id) }
}

object IntakeMaintenance {

  /** Reconstruct a [[IntakeMaintenance.save]]d handle in a fresh job:
    * index, stats, and census all load from parquet — the corpus files
    * are never read again. The resumed handle continues the stream
    * exactly where the killed one stopped (restart parity is the
    * spec-gated invariant).
    */
  def resume(spark: SparkSession, path: String, idCol: String,
      tokensCol: String, statKeys: Seq[String],
      statAggs: Seq[AggSpec]): IntakeMaintenance = {
    val dir = Snapshots.resolve(spark, path)
    // eager localCheckpoints (index.materialized checkpoints vocab +
    // postings) cut lineage to the snapshot files, so a later save() to
    // the SAME path is not an overwrite-what-you-read
    val st0 = Decontam.loadIntake(spark, dir)
    val st = Decontam.IntakeState(st0.index.materialized,
      st0.stats.localCheckpoint(eager = true))
    val censusPath = new org.apache.hadoop.fs.Path(s"$dir/census")
    val fs = censusPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val census =
      if (fs.exists(censusPath))
        Some(Tables.parquet(spark, s"$dir/census").localCheckpoint(eager = true))
      else None
    val h = new IntakeMaintenance(spark, st, census, idCol, tokensCol,
      statKeys, statAggs)
    h.restoreLedger(BatchLedger.load(spark, dir))
    h
  }
}
