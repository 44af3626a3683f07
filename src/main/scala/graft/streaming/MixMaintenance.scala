package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{Mixing, TextAnalysis}
import graft.sources.Tables

/** Streaming MIX maintenance — the standing-pipeline form of the
  * cur9 UniMax allocation: a document stream folds into per-source
  * token totals one micro-batch at a time (foreachBatch), and the
  * budget allocation can be read from the state after any trigger.
  *
  * State is SOURCE-cardinality (one row per source ever seen) — bounded
  * by the catalog of sources, not the corpus; per-trigger work is one
  * token aggregate over the trigger plus a source-grain merge, behind a
  * localCheckpoint so lineage stays flat. Token-count addition is
  * associative/commutative, so the state after any prefix equals the
  * batch aggregate over the same documents however the stream was
  * micro-batched (spec-gated, with allocation parity against the batch
  * cur9 query).
  */
final class MixMaintenance(spark: SparkSession) extends BatchLedger {

  @volatile private var state: DataFrame = spark.createDataFrame(
    java.util.Collections.emptyList[Row](),
    StructType(Seq(StructField("source", StringType, nullable = true),
      StructField("tok", LongType, nullable = false))))

  /** Per-source token totals as of the last merged trigger. */
  def tokenCounts: DataFrame = state

  /** foreachBatch body — fold one trigger's documents into the totals.
    * A non-negative `batchId` rides the [[BatchLedger]]: a checkpoint-
    * replayed trigger is a no-op; −1 folds unconditionally.
    */
  def merge(docs: DataFrame, batchId: Long = -1L): Unit = synchronized {
    if (alreadyApplied(batchId)) return
    // no emptiness probe: an empty batch folds to the same rows, and the
    // fold's one checkpoint is the only action a trigger pays
    val delta = docs.groupBy("source")
      .agg(sum(TextAnalysis.tokenCount(col("text"))).as("tok"))
    val l = state.select(col("source"), col("tok").as("tok_a"))
    val r = delta.select(col("source"), col("tok").as("tok_d"))
    state = l.join(r, Seq("source"), "fullouter")
      .select(col("source"),
        (coalesce(col("tok_a"), lit(0L)) + coalesce(col("tok_d"), lit(0L)))
          .as("tok"))
      .localCheckpoint(eager = true)
    recordApplied(batchId)
  }

  /** UniMax allocation over the current totals (cur9 semantics). */
  def unimaxAlloc(budgetNum: Int = 7, budgetDen: Int = 10): DataFrame =
    Mixing.unimaxAlloc(state, budgetNum, budgetDen)

  /** Persist the per-source totals so a restarted job
    * [[MixMaintenance.resume]]s without replaying the consumed stream
    * prefix — token-count addition is associative/commutative, so the
    * resumed fold is byte-identical to uninterrupted (spec-gated).
    * Call between triggers.
    */
  def save(path: String): Unit = synchronized {
    Snapshots.publish(spark, path) { dir =>
      state.write.mode("overwrite").parquet(s"$dir/tokenCounts")
      BatchLedger.save(spark, dir, lastAppliedBatch)
    }
  }

  /** Wire a streaming document frame into this handle; `.start()` to
    * run. The trigger's batchId rides the ledger, so a checkpoint-driven
    * replay after restart is a no-op.
    */
  def attach(docs: DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, id: Long) => merge(b, id) }
}

object MixMaintenance {

  /** Reconstruct a [[MixMaintenance.save]]d handle in a fresh job — the
    * totals load from parquet; no streamed document is re-read.
    */
  def resume(spark: SparkSession, path: String): MixMaintenance = {
    val dir = Snapshots.resolve(spark, path)
    val h = new MixMaintenance(spark)
    // eager localCheckpoint cuts lineage to the snapshot files, so a
    // later save() to the SAME path is not an overwrite-what-you-read
    h.state = Tables.parquet(spark, s"$dir/tokenCounts")
      .localCheckpoint(eager = true)
    h.restoreLedger(BatchLedger.load(spark, dir))
    h
  }
}
