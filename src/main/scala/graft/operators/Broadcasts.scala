package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SizeEstimator
import scala.util.DynamicVariable

/** Runtime-stats-gated broadcast: the decision a cost-based optimizer
  * would make, taken on MEASURED size instead of compounded estimates.
  *
  * Spark's static planner can't broadcast a join side whose size estimate
  * is inflated by upstream joins/filters (estimates multiply), and AQE
  * only converts to broadcast AFTER both sides' shuffle writes are
  * already running — by then the big side has paid its full shuffle
  * write. For a plan like q3 (30M filtered lineitem rows shuffled against
  * a 1.5M-row orders×customer side), that lost conversion is 2× total
  * latency at the 60M-row replica.
  *
  * `gated` materializes the candidate side once (it is about to be
  * consumed anyway), reads its ACTUAL row count and a MEASURED size, and
  * broadcasts only if the estimated DESERIALIZED relation fits the
  * threshold — otherwise it returns the materialized frame for a normal
  * shuffle join. At 100 TB the same query's filtered side is billions of
  * rows, the gate fails, and the plan degrades gracefully to the
  * scale-correct shuffle join: no hand-tuned constant ever broadcasts an
  * unboundedly-growing side.
  *
  * Materialization is `persist(MEMORY_AND_DISK)` + count, NOT
  * `localCheckpoint`: persisted blocks keep their lineage, so a lost
  * executor recomputes its partitions instead of aborting the job — the
  * fault-tolerance posture a 1000-executor cluster requires — and blocks
  * spill rather than OOM. Decisions are cached per (session, canonical
  * plan, gate): re-running the same query reuses the already-materialized
  * side instead of checkpointing a fresh orphan copy each run. The cache
  * is a bounded LRU that unpersists what it evicts, and [[reset]] drops
  * everything — a long-lived session running many distinct queries can
  * no longer accumulate pinned storage without bound, and a caller that
  * regenerates source files in-session resets to drop stale frames.
  */
object Broadcasts {

  /** Compressed-columnar cache bytes → deserialized broadcast-hash-relation
    * heap bytes. The cache stats measure the EXACT size of the encoded
    * columnar buffers, but what a broadcast actually pins on every
    * executor is the row-format hash relation — dictionary/RLE encoding
    * undone, plus hash-table overhead — typically several times larger.
    * Gating on raw cache bytes therefore under-gates; the factor keeps
    * the measurement exact while pricing in the expansion. (The
    * SizeEstimator fallback needs no factor: it already walks the boxed
    * object graph, an over-estimate of the unsafe-row relation.)
    */
  private val CacheExpansion = 4L

  /** Default gate on the estimated DESERIALIZED relation size: 1/16 of
    * the executor heap, floored at 256 MB (the pre-r13 fixed gate, ≈
    * 64 MB of compressed cache). A broadcast pins one relation copy per
    * executor, so the budget that decides it is per-executor MEMORY,
    * not an absolute constant — a 48 GB executor happily pins a 1.5 GB
    * hash relation to avoid re-shuffling a fact table three orders of
    * magnitude larger, while an 8 GB executor keeps the old 512 MB-ish
    * operating point. (Measured at the 1000x bench replica: q5's
    * reduced orders⋈customer side grows past the fixed 256 MB gate and
    * the fallback shuffle join paid 48 s on a 600M-row fact — against
    * ~1.4 GB pinned once in a 48 GB heap. At 100 TB the same arithmetic
    * holds per executor: broadcasting gigabytes beats shuffling
    * terabytes whenever the relation fits the executor's pin budget.)
    * Stays well under Spark's 8 GB broadcast cap on any realistic heap.
    *
    * On a cluster the relation pins on EXECUTORS, so the heap that
    * matters is `spark.executor.memory`, not the driver JVM this object
    * loaded in — [[defaultMaxBytes]] reads the conf when it's set and
    * falls back to `Runtime.maxMemory` (exact in local mode, where
    * driver == executor and the conf is typically unset).
    */
  val DefaultMaxBytes: Long =
    pinBudget(None, Runtime.getRuntime.maxMemory)

  /** Sentinel default for `maxBytes`: resolve the gate from the
    * session's executor-memory conf at call time (0 keeps its meaning
    * of "never broadcast, just materialize").
    */
  val UseSessionDefault: Long = Long.MinValue

  /** The session's pin budget: `spark.executor.memory` when configured
    * (cluster posture — one relation copy per executor heap), else this
    * JVM's max heap (local posture — driver IS the executor).
    */
  def defaultMaxBytes(spark: SparkSession): Long =
    budgetOverride.value.getOrElse(pinBudget(
      spark.sparkContext.getConf.getOption("spark.executor.memory"),
      Runtime.getRuntime.maxMemory))

  private val budgetOverride = new DynamicVariable[Option[Long]](None)

  /** Run `body` with the session pin budget replaced by `bytes` on this
    * thread — `withPinBudget(0L)` closes every default gate, so specs can
    * drive the gated queries down their past-the-budget branch. A test
    * substitution point, not a user option.
    */
  private[graft] def withPinBudget[T](bytes: Long)(body: => T): T =
    budgetOverride.withValue(Some(bytes))(body)

  /** max(256 MB, heap/16) over the configured executor heap when given,
    * else the fallback heap — split out pure so the conf-driven gate is
    * directly spec-pinnable.
    */
  private[graft] def pinBudget(executorMemory: Option[String],
      runtimeMax: Long): Long = {
    val heap = executorMemory
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(runtimeMax)
    math.max(256L << 20, heap / 16)
  }

  private final case class Entry(result: DataFrame, materialized: DataFrame,
      rows: Long, broadcasted: Boolean)

  /** Decision LRU keyed by (session, canonicalized plan, gate) —
    * structural plan equality (collision-proof, unlike a 32-bit hash),
    * session-scoped so a frame never outlives or crosses its
    * SparkSession, gate-scoped so the same plan gated at 64 MB and
    * 512 MB cannot alias to one decision. Bounded: eviction unpersists
    * the evicted side's storage.
    */
  private val MaxEntries = 64
  private val decided =
    new java.util.LinkedHashMap[(SparkSession, LogicalPlan, Long), Entry](
        16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, LogicalPlan, Long), Entry]): Boolean =
        if (size > MaxEntries) { e.getValue.materialized.unpersist(false); true }
        else false
    }

  /** Drop every cached decision and unpersist its storage. Call between
    * benchmark iterations for cold-cache timings, or after regenerating
    * source files whose plans were gated in this session.
    */
  def reset(): Unit = decided.synchronized {
    decided.values.forEach(e => e.materialized.unpersist(false))
    decided.clear()
  }

  /** Number of live cached decisions (spec hook). */
  def cachedCount: Int = decided.synchronized(decided.size)

  /** A gated side with its measured stats: the frame to join against,
    * the materializing count (already paid), and whether the gate chose
    * broadcast — what a downstream runtime filter
    * ([[RuntimeFilters.keyFilter]]) needs to decide AND size itself.
    * `bare` is the same materialized side WITHOUT the broadcast hint —
    * the frame for consumers that execute the side standalone (a
    * [[LookupJoin]] collect, a sketch build): a hint with no join above
    * it is dead weight Catalyst warns about on every run.
    */
  final case class Gated(df: DataFrame, rows: Long, broadcasted: Boolean,
      bare: DataFrame)

  def gated(df: DataFrame, maxBytes: Long = UseSessionDefault,
      sampleRows: Int = 1024): DataFrame =
    gatedStats(df, maxBytes, sampleRows).df

  /** [[gated]] plus the measured row count and the broadcast verdict. */
  def gatedStats(df: DataFrame, maxBytes: Long = UseSessionDefault,
      sampleRows: Int = 1024): Gated = {
    val gate = if (maxBytes == UseSessionDefault)
      defaultMaxBytes(df.sparkSession) else maxBytes
    val key = (df.sparkSession, PlanBridge.analyzed(df).canonicalized, gate)
    def stats(e: Entry) = Gated(e.result, e.rows, e.broadcasted,
      e.materialized)
    val hit = decided.synchronized(decided.get(key))
    if (hit != null) return stats(hit)
    // decide() runs Spark jobs — outside the lock. A concurrent racer may
    // decide the same plan; the loser's copy is unpersisted, first wins.
    val fresh = decide(df, gate, sampleRows)
    decided.synchronized {
      val race = decided.get(key)
      if (race != null) { fresh.materialized.unpersist(false); stats(race) }
      else { decided.put(key, fresh); stats(fresh) }
    }
  }

  private def decide(df: DataFrame, maxBytes: Long,
      sampleRows: Int): Entry = {
    val ck = df.persist(StorageLevel.MEMORY_AND_DISK)
    val n = ck.count() // materializes the cache; the side is consumed next
    if (n == 0L) return Entry(broadcast(ck), ck, 0L, broadcasted = true)
    // measured size, best first: the materialized InMemoryRelation reports
    // the EXACT byte size of the cached data (its stats accumulator) —
    // re-deriving the optimized plan after the count picks the cache up;
    // × CacheExpansion prices the columnar→hash-relation decode (above).
    // Fallback (cache lookup failed): SizeEstimator over a head sample —
    // boxed-row object-graph bytes, a conservative over-estimate.
    val cacheBytes = ck.queryExecution.optimizedPlan.collectFirst {
      case im: org.apache.spark.sql.execution.columnar.InMemoryRelation
          if im.cacheBuilder.isCachedColumnBuffersLoaded =>
        BigInt(im.cacheBuilder.sizeInBytesStats.value.longValue) * CacheExpansion
    }
    val bytes: BigInt = cacheBytes.getOrElse {
      val sample = ck.head(math.min(n, sampleRows.toLong).toInt)
      BigInt(n) * math.max(SizeEstimator.estimate(sample) / sample.length, 1L)
    }
    if (bytes <= maxBytes) Entry(broadcast(ck), ck, n, broadcasted = true)
    else Entry(ck, ck, n, broadcasted = false)
  }
}
