package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Dedup

/** A bucket's accumulated members: parallel arrays of (doc id,
  * normalized-enough text to re-shingle). Top-level case class so Spark
  * can derive its state Encoder.
  */
case class DedupBucket(ids: Array[Long], texts: Array[String],
    overflowed: Boolean)

/** [[DedupBucket]] plus per-member event times — the windowed-retention
  * state ([[DocStreams.nearDupPairsWindowed]]). `tss` stays parallel to
  * `ids` even when an overflow drops the texts, so expired members of a
  * hot bucket still age out and the bucket eventually resets.
  */
case class DedupBucketT(ids: Array[Long], texts: Array[String],
    tss: Array[Long], overflowed: Boolean)

/** One emitted near-dup pair (`ida < idb`, exact-verified). */
case class NearDupPair(ida: Long, idb: Long)

/** Streaming near-duplicate detection over a DOCUMENT stream — the
  * standing-pipeline form of [[graft.operators.Dedup.minHashDedup]]:
  * a corpus that arrives continuously is deduped as it lands, instead
  * of being re-paired batch-against-corpus each ingest
  * ([[graft.operators.Dedup.incrementalNearDups]] is the daily-batch
  * middle ground; this is the per-trigger end of the same spectrum).
  *
  * Shape: each incoming doc is banded partition-locally (the SAME
  * per-doc kernel as the batch pipeline, `Dedup.bandHashes` — no
  * shuffle), then one keyed-state operator per (band, bhash) bucket
  * holds the bucket's members and emits each new member's
  * exact-verified pairs against the members already present. The
  * shuffle key is (band, bhash) — identical to the batch pipeline's one
  * shuffle — and state is per-bucket, so skew is bounded by the same
  * `maxBucket` guard: a degenerate bucket (boilerplate shingle, m² pair
  * explosion) stops emitting and marks itself overflowed rather than
  * holding the pipeline hostage, exactly like the batch
  * `lshCandidates.filter(size between 2,maxBucket)`.
  *
  * Equivalence: over any prefix of the stream, the SET of emitted pairs
  * equals the batch `minHashDedup` pairs of the same documents
  * (candidates = bucket co-membership, which is order-independent;
  * verification is the same integer-exact shingle Jaccard). A pair
  * sharing several bands is emitted once per shared band (at-least-once
  * per pair); chain `dropDuplicatesWithinWatermark` on (ida, idb) — or
  * an idempotent sink keyed by the pair — for exactly-once delivery,
  * the streaming norm.
  *
  * 100 TB posture: state lives in the state store (RocksDB off-heap in
  * production), partitioned by bucket key; memory per bucket is capped
  * (`maxBucket` members × text bytes). Unbounded corpus growth is real
  * state growth — the same truth the batch band INDEX has — so standing
  * deployments use [[nearDupPairsWindowed]], which bounds state to the
  * dedup horizon via event-time eviction, or periodically compact the
  * index to a static corpus probed via
  * [[graft.operators.Dedup.incrementalNearDups]]. Carrying the text
  * into the bucket is what makes in-state verification EXACT; an
  * estimate-only variant would carry the 64-long signature instead
  * (8× smaller state, probabilistic verify) — the exactness/state
  * trade is the deployment's to make.
  */
object DocStreams {

  /** Verified near-dup pairs of a streaming (id, text) document frame.
    * Parameters mirror [[graft.operators.Dedup.minHashDedup]].
    */
  def nearDupPairs(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshNum: Int = 4, threshDen: Int = 5, seed: Long = 42L,
      maxBucket: Int = 1000): Dataset[NearDupPair] = {
    import spark.implicits._
    val cs = Dedup.coeffs(numHashes, seed)
    // partition-local banding, text carried to the bucket (id, bhash, text)
    val banded = docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          val bh = Dedup.bandHashes(text, n, numHashes, bands, cs)
          bh.indices.iterator.map(b => (id, b, bh(b), text))
        }
      }

    banded
      .groupByKey { case (_, band, bhash, _) => (band, bhash) }
      .flatMapGroupsWithState[DedupBucket, NearDupPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[DedupBucket]) =>
          val st = state.getOption.getOrElse(
            DedupBucket(Array.emptyLongArray, Array.empty[String], overflowed = false))
          var ids = st.ids
          var texts = st.texts
          var over = st.overflowed
          val out = Seq.newBuilder[NearDupPair]
          // id-sorted intake: within-trigger arrivals pair like any
          // state-resident member, and the order docs happened to land
          // in a micro-batch cannot change the emitted set
          val incoming = rows.toArray.sortBy(_._1)
          var i = 0
          while (i < incoming.length) {
            val (id, _, _, text) = incoming(i)
            // re-delivery of a known id is a no-op (at-least-once source)
            if (!over && !ids.contains(id)) {
              if (ids.length >= maxBucket) {
                // degenerate bucket: stop pairing, drop the payloads —
                // the batch pipeline drops these buckets wholesale
                over = true
                texts = Array.empty[String]
              } else {
                var j = 0
                while (j < ids.length) {
                  if (Dedup.jaccardAtLeast(texts(j), text, n, threshNum, threshDen)) {
                    val (a, b) = if (ids(j) < id) (ids(j), id) else (id, ids(j))
                    out += NearDupPair(a, b)
                  }
                  j += 1
                }
                ids = ids :+ id
                texts = texts :+ text
              }
            }
            i += 1
          }
          state.update(DedupBucket(ids, texts, over))
          out.result().iterator
      }
  }

  /** Windowed-retention near-dup pairs: like [[nearDupPairs]], but each
    * document carries an event time (`tsCol`) and only pairs with
    * documents within `horizonMs` of it — the DEDUP HORIZON. This is
    * what bounds the state that [[nearDupPairs]] (by design, for the
    * batch-parity proof) grows without limit: members whose event time
    * has fallen `horizonMs` behind the watermark can never pair with a
    * future document (the watermark already drops later arrivals), so
    * they are evicted, and a bucket whose members have all aged out is
    * REMOVED from the store — FunnelStream's buffer discipline applied
    * to the band index. State is bounded by (docs per horizon) × bands,
    * independent of total corpus age.
    *
    * `docs` must already carry a watermark on `tsCol`
    * (`.withWatermark(tsCol, delay)`) — event-time timeouts require it,
    * and the allowed lateness is the caller's trade to make.
    *
    * Semantics under the horizon: the emitted pair set over any stream
    * prefix equals the batch pipeline's pairs RESTRICTED to
    * |ts_a − ts_b| ≤ horizon (parity-specced); an overflowed bucket
    * resumes pairing once its hot burst ages out; an evicted id that is
    * re-delivered with a fresh in-window timestamp is a new document by
    * definition of the horizon.
    */
  def nearDupPairsWindowed(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      tsCol: String = "ts", horizonMs: Long = 7L * 24 * 3600 * 1000,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshNum: Int = 4, threshDen: Int = 5, seed: Long = 42L,
      maxBucket: Int = 1000): Dataset[NearDupPair] = {
    import spark.implicits._
    require(horizonMs > 0, "dedup horizon must be positive")
    val cs = Dedup.coeffs(numHashes, seed)
    // banding via a column-level kernel (same per-doc Dedup.bandHashes,
    // still partition-local): the watermarked event-time column must
    // SURVIVE to the stateful operator for EventTimeTimeout, and an
    // object-level mapPartitions round-trip would strip its watermark
    // metadata (FunnelStream's "watermark column must survive" rule)
    val bandUdf = udf { text: String =>
      val bh = Dedup.bandHashes(text, n, numHashes, bands, cs)
      bh.indices.map(b => (b, bh(b)))
    }
    // the watermarked tsCol is passed through UNALIASED: even an
    // identity cast/rename would mint a metadata-free attribute and the
    // event-time timeout would reject the plan
    val banded = docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"),
        col(tsCol))
      .withColumn("_bh", explode(bandUdf(col("text"))))
      .select(col("id"), col("_bh._1").as("band"), col("_bh._2").as("bhash"),
        col("text"), col(tsCol))
      .as[(Long, Int, Long, String, java.sql.Timestamp)]

    banded
      .groupByKey { case (_, band, bhash, _, _) => (band, bhash) }
      .flatMapGroupsWithState[DedupBucketT, NearDupPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state: GroupState[DedupBucketT]) =>
          val st = state.getOption.getOrElse(DedupBucketT(
            Array.emptyLongArray, Array.empty[String],
            Array.emptyLongArray, overflowed = false))
          // evict dead members first: a future doc arrives with event
          // time >= watermark, and pairs only within the horizon, so
          // ts < watermark - horizon can never pair again
          val cutoff = state.getCurrentWatermarkMs() - horizonMs
          val keep = st.tss.indices.filter(st.tss(_) >= cutoff).toArray
          var ids = keep.map(st.ids)
          var tss = keep.map(st.tss)
          var texts = if (st.overflowed) st.texts else keep.map(st.texts)
          // a fully-aged-out bucket resets (including its overflow flag)
          var over = st.overflowed && ids.nonEmpty
          if (over) texts = Array.empty[String]

          val out = Seq.newBuilder[NearDupPair]
          // id-sorted intake, as in nearDupPairs
          val incoming = rows.toArray.sortBy(_._1)
          var i = 0
          while (i < incoming.length) {
            val (id, _, _, text, tsRaw) = incoming(i)
            val ts = tsRaw.getTime
            if (!over && !ids.contains(id)) {
              if (ids.length >= maxBucket) {
                over = true
                texts = Array.empty[String]
              } else {
                var j = 0
                while (j < ids.length) {
                  if (math.abs(tss(j) - ts) <= horizonMs &&
                      Dedup.jaccardAtLeast(texts(j), text, n, threshNum, threshDen)) {
                    val (a, b) = if (ids(j) < id) (ids(j), id) else (id, ids(j))
                    out += NearDupPair(a, b)
                  }
                  j += 1
                }
                ids = ids :+ id
                texts = texts :+ text
                tss = tss :+ ts
              }
            }
            i += 1
          }
          if (ids.isEmpty) state.remove()
          else {
            state.update(DedupBucketT(ids, texts, tss, over))
            // re-arm the eviction alarm: fires once the watermark passes
            // the youngest member's horizon (always > current watermark,
            // since survivors have ts >= cutoff)
            state.setTimeoutTimestamp(tss.max + horizonMs + 1)
          }
          out.result().iterator
      }
  }

  /** The dedup-APPLY form: the pair stream reduced to a per-doc verdict
    * (`doc_id`, `dup_of` = its smallest already-seen near-duplicate) —
    * what an ingest pipeline joins against to drop non-representatives.
    * Emitted at-least-once like the pairs; key the sink by `doc_id`.
    */
  def dupVerdicts(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshNum: Int = 4, threshDen: Int = 5, seed: Long = 42L,
      maxBucket: Int = 1000): DataFrame =
    nearDupPairs(spark, docs, idCol, textCol, n, numHashes, bands,
      threshNum, threshDen, seed, maxBucket)
      .toDF()
      .select(col("idb").as("doc_id"), col("ida").as("dup_of"))
}

/** Streaming CLUSTER maintenance — the standing-pipeline form of
  * [[graft.operators.Dedup.incrementalComponents]]: the near-dup pair
  * stream folds into a component labeling one micro-batch at a time
  * (foreachBatch); each trigger re-contracts ONLY the clusters its new
  * pairs touch, so per-trigger work scales with the trigger, never the
  * corpus-so-far.
  *
  * Invariant (spec-gated): after any stream prefix, [[labels]] equals a
  * full batch clustering over every pair emitted so far — however the
  * stream was micro-batched. The label table is held behind this handle
  * with a localCheckpoint per merge (bounded lineage); a production
  * deployment keeps the identical merge result in a transactional table
  * so concurrent readers see atomic label versions.
  */
final class ClusterMaintenance(spark: SparkSession)
    extends Maintenance(spark) {

  @volatile private var current: DataFrame =
    emptyState("id BIGINT NOT NULL, cluster BIGINT NOT NULL")

  /** The labeling after every merged trigger: (id, cluster = min member). */
  def labels: DataFrame = current

  /** Merge one trigger's pairs into the labeling. The distinct pairs are
    * pinned, so the contraction reads the batch once; no emptiness
    * probe, since no pair touches no cluster and the labels stay as
    * they are.
    */
  protected def fold(pairs: DataFrame): Unit = {
    val p = pairs.select(col("ida"), col("idb")).distinct()
      .localCheckpoint(eager = true)
    current = Dedup.incrementalComponents(current, p)
      .localCheckpoint(eager = true)
  }

  protected def pieces: Seq[(String, DataFrame)] = Seq("labels" -> current)
}

object ClusterMaintenance {
  /** Resume a saved handle: the consumed pair prefix is not replayed. */
  def resume(spark: SparkSession, path: String): ClusterMaintenance =
    Maintenance.resume(spark, path) { s =>
      val h = new ClusterMaintenance(spark)
      h.current = s("labels")
      h
    }
}
