package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.IncrementalAgg.AggSpec
import graft.sources.Tables

/** The crawl-intake decontamination pipeline, composed end-to-end from
  * the standing kernels: build a prefix-filter near-dup index and a
  * counting-algebra stats state over the corpus ONCE, then for every
  * fresh batch — probe for contamination (exact Jaccard lookup,
  * [[SetSimJoin.probeJaccardIndex]]), QUARANTINE the hits (the dq8
  * split discipline: contaminated rows leave the pipeline, visibly
  * censused, never silently dropped), and fold the admitted rows into
  * the corpus-level stats via signed counting deltas
  * ([[IncrementalAgg.refreshCounting]]) — no corpus rescan.
  *
  * The 100 TB property [[DecontamSpec]] pins at plan level: the corpus
  * files are scanned ONCE, at [[buildIntake]] (a localCheckpoint
  * barrier — everything downstream reads the materialized blocks), and
  * the per-batch probe/quarantine/refresh plans read only the batch
  * itself plus the materialized index/stats. A crawl pipeline admitting
  * thousands of batches pays the corpus exactly once; the returned
  * state is re-storable across jobs ([[SetSimJoin.JaccardIndex.save]]
  * and the stats frame is plain parquet).
  *
  * Ref: the composition the reference leaves to user code around its
  * dedup surface (slide/utils.py has no intake pipeline); quarantine
  * semantics follow the dq8 row, stats algebra follows inc4/inc5.
  */
object Decontam {

  /** The standing per-corpus state: near-dup index + counting stats. */
  final case class IntakeState(index: SetSimJoin.JaccardIndex,
      stats: DataFrame)

  /** One processed batch: the contamination evidence, the two splits,
    * and the refreshed stats state (feed it to the next batch).
    */
  final case class IntakeResult(hits: DataFrame, quarantined: DataFrame,
      admitted: DataFrame, stats: DataFrame)

  /** Build the standing intake state over the corpus. The corpus is
    * localCheckpointed FIRST, so its files are scanned exactly once —
    * the index build (vocab sort, posting explode) and the stats
    * aggregate all read the materialized blocks.
    */
  def buildIntake(corpus: DataFrame, idCol: String, tokensCol: String,
      statKeys: Seq[String], statAggs: Seq[AggSpec],
      tNum: Int, tDen: Int, maxBucket: Int = 100000): IntakeState = {
    val c = corpus.localCheckpoint(eager = true)
    IntakeState(
      SetSimJoin.buildJaccardIndex(c, idCol, tokensCol, tNum, tDen,
        maxBucket).materialized,
      IncrementalAgg.aggregateCounting(c, statKeys, statAggs)
        .localCheckpoint(eager = true))
  }

  /** Persist the standing state — index parquet + stats parquet — so a
    * LATER JOB picks up the intake where this one left it: load, probe
    * the next batch, store the refreshed stats back. The corpus itself
    * is never needed again.
    */
  def saveIntake(st: IntakeState, path: String): Unit = {
    st.index.save(s"$path/index")
    st.stats.write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Read back a [[saveIntake]]d state. */
  def loadIntake(spark: org.apache.spark.sql.SparkSession,
      path: String): IntakeState =
    IntakeState(SetSimJoin.loadJaccardIndex(spark, s"$path/index"),
      Tables.parquet(spark, s"$path/stats"))

  /** Decontaminate one fresh batch against the standing state: probe,
    * split, admit. `batch` must carry `idCol`, `tokensCol`, and the
    * stat key/input columns. A batch row is quarantined when ANY corpus
    * document sits within the index's Jaccard threshold; admitted rows
    * fold into the stats as +1 signed deltas.
    */
  def processBatch(st: IntakeState, batch: DataFrame, idCol: String,
      tokensCol: String, statKeys: Seq[String],
      statAggs: Seq[AggSpec]): IntakeResult = {
    val hits = SetSimJoin.probeJaccardIndex(st.index, batch, idCol,
      tokensCol)
    val hitIds = hits.select(col("probe_id").as(idCol)).distinct()
    val quarantined = batch.join(hitIds, Seq(idCol), "left_semi")
    val admitted = batch.join(hitIds, Seq(idCol), "left_anti")
    val stats2 = IncrementalAgg.refreshCounting(st.stats,
      admitted.withColumn("_sign", lit(1L)), statKeys, statAggs)
    IntakeResult(hits, quarantined, admitted, stats2)
  }
}
