package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.operators.Dedup

/** Streaming content-defined-chunk dedup — the standing-pipeline form
  * of the dd21 batch query: a document stream folds into a chunk-
  * fingerprint index one micro-batch at a time (foreachBatch), and the
  * corpus-level dedup statistics are readable after any trigger.
  *
  * State is the chunk-fingerprint table (fp, first_rank, copies,
  * chunk_len) — the dedup INDEX itself, so unlike the constant-state
  * DSIR/mix handles it grows with the distinct-chunk vocabulary; that
  * is inherent to exact dedup (DocStreams' keyed band state has the
  * same character). Per-trigger work is the trigger's own chunking
  * (linear in trigger characters) plus one full-outer merge against the
  * index; at web scale the merge side would be a sharded KV table, but
  * the merge ALGEBRA here is the part that must be right: min for
  * first_rank, sum for copies — associative and commutative, so the
  * folded index is micro-batching-invariant (spec-gated == batch).
  *
  * The corpus-level stats derived from the index equal dd21's global
  * numbers exactly: an occurrence is a duplicate iff it is not the
  * occurrence at the fp's global minimum (doc_id, chunk_idx) rank, and
  * once every document has streamed, per-fp (min rank, count) carries
  * the same information however arrival was batched. (dd21's PER-SOURCE
  * split needs occurrence-grain retro-labeling and stays batch-only.)
  */
final class ChunkMaintenance(spark: SparkSession) extends Maintenance(spark) {

  @volatile private var state: DataFrame = emptyState("fp STRING NOT NULL, " +
    "first_rank DECIMAL(38,0) NOT NULL, copies BIGINT NOT NULL, " +
    "chunk_len BIGINT NOT NULL")

  /** The chunk-fingerprint index as of the last merged trigger. */
  def index: DataFrame = state

  /** Fold one trigger's documents (doc_id, text) into the index. No
    * emptiness probe: an empty delta re-aggregates the index to the same
    * rows, and a probe would chunk the batch a second time.
    */
  protected def fold(docs: DataFrame): Unit = {
    val delta = Dedup.contentDefinedChunks(
        docs.select(col("doc_id"), col("text")), "doc_id", "text")
      .select(md5(col("chunk")).as("fp"),
        // 2^32-stride Decimal(38,0) rank: collision-free for any int64
        // doc_id (chunk_idx is posexplode-derived, always < 2^31) — the
        // same packing dd21/dd22 use, so stream == batch attribution
        (col("doc_id").cast(DecimalType(38, 0)) * 4294967296L +
          col("chunk_idx")).as("grank"),
        length(col("chunk")).cast(LongType).as("chunk_len"))
      .groupBy("fp")
      .agg(min(col("grank")).as("first_rank"),
        count(lit(1)).as("copies"), min(col("chunk_len")).as("chunk_len"))
    state = state.select("fp", "first_rank", "copies", "chunk_len")
      .unionByName(delta.select("fp", "first_rank", "copies", "chunk_len"))
      .groupBy("fp")
      .agg(min(col("first_rank")).as("first_rank"),
        sum(col("copies")).as("copies"),
        min(col("chunk_len")).as("chunk_len"))
      .localCheckpoint(eager = true)
  }

  /** Corpus-level dedup statistics from the index — one 1-row frame
    * (n_chunks, distinct_chunks, chunk_bytes, dup_chunks, dup_bytes),
    * equal to dd21's global totals once the same corpus has streamed.
    */
  def dedupStats: DataFrame =
    state.agg(
      coalesce(sum(col("copies")), lit(0L)).as("n_chunks"),
      count(lit(1)).as("distinct_chunks"),
      coalesce(sum(col("copies") * col("chunk_len")), lit(0L)).as("chunk_bytes"),
      coalesce(sum(col("copies") - 1L), lit(0L)).as("dup_chunks"),
      coalesce(sum((col("copies") - 1L) * col("chunk_len")), lit(0L))
        .as("dup_bytes"))

  protected def pieces: Seq[(String, DataFrame)] = Seq("index" -> state)
}

object ChunkMaintenance {
  /** Resume a saved handle: no streamed document is re-read. */
  def resume(spark: SparkSession, path: String): ChunkMaintenance =
    Maintenance.resume(spark, path) { s =>
      val h = new ChunkMaintenance(spark)
      h.state = s("index")
      h
    }
}
