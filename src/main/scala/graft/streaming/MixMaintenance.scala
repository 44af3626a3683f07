package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Mixing, TextAnalysis}

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
final class MixMaintenance(spark: SparkSession) extends Maintenance(spark) {

  @volatile private var state: DataFrame =
    emptyState("source STRING, tok BIGINT NOT NULL")

  /** Per-source token totals as of the last merged trigger. */
  def tokenCounts: DataFrame = state

  /** Fold one trigger's documents into the totals. */
  protected def fold(docs: DataFrame): Unit = {
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
  }

  /** UniMax allocation over the current totals (cur9 semantics). */
  def unimaxAlloc(budgetNum: Int = 7, budgetDen: Int = 10): DataFrame =
    Mixing.unimaxAlloc(state, budgetNum, budgetDen)

  protected def pieces: Seq[(String, DataFrame)] = Seq("tokenCounts" -> state)
}

object MixMaintenance {
  /** Resume a saved handle: no streamed document is re-read. */
  def resume(spark: SparkSession, path: String): MixMaintenance =
    Maintenance.resume(spark, path) { s =>
      val h = new MixMaintenance(spark)
      h.state = s("tokenCounts")
      h
    }
}
