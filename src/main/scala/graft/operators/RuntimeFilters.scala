package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.LongType

/** Hand-pushed runtime join filter: a Bloom filter of the SMALL side's
  * join keys, applied to the FACT side — for the SHUFFLE-JOIN path
  * only, where it cuts the fact shuffle write by the filter's
  * selectivity before a single byte moves.
  *
  * Why shuffle-only is a MEASURED decision, not a guess: at the 1000×
  * bench replica (600 M lineitem rows) we planted this filter ahead of
  * q3/q5's BROADCAST joins and swept the sketch's fpp — every point
  * LOST to the bare plan (q5 warm: bare 5.08 s vs 6.31/6.54/8.34 s at
  * fpp 0.25/0.1/0.5; q3: bare 6.84 s vs 6.95–9.37 s). The reason is
  * probe cost: `spark.util.sketch`'s Bloom pays two Murmur3 runs plus
  * k = ⌈−log₂ fpp⌉ SCATTERED word reads per row, while the broadcast
  * hash join's LongHashedRelation probe the filter tries to shield is
  * ONE codegen'd lookup — the "guard" costs more than the guarded
  * probe. (DuckDB wins the same move with a one-cache-line blocked
  * SIMD filter; sketch offers no such layout.) Spark's own
  * `InjectRuntimeFilter` fires only on shuffle joins for the same
  * arithmetic: against a SHUFFLE the sketch saves serializing,
  * writing, and re-reading the dropped rows — orders of magnitude more
  * per row than any probe — so that is the only path that arms it:
  * the `Gated` overloads of [[LookupJoin.inner]]/[[LookupJoin.semi]]
  * plant it on the fact exactly when the gate refused the broadcast.
  *
  * Semantics: the filter can only pass EXTRA rows (false positives), and
  * the join it guards drops them — results are identical for the inner
  * equi-join this is built for. NULL fact keys are dropped by the filter
  * (might_contain(NULL) is NULL), which an inner equi-join does anyway.
  *
  * Scale posture: the Bloom is built once per (session, build-side plan)
  * from the ALREADY-MATERIALIZED gated side (one cheap pass over the
  * cache), cached in a bounded LRU, and embedded in the fact filter as a
  * binary literal — shipped with the task binary exactly like the
  * optimizer's own injected filters. When the key set outgrows
  * [[RuntimeFilters.MaxKeys]] the filter is SKIPPED, not shrunk: a
  * saturated Bloom filters nothing and taxes every row, so past the
  * budget the plan simply stays the gated shuffle join — the same
  * graceful degradation as [[Broadcasts.gated]].
  *
  * The probe predicate is Spark's own codegen'd
  * `BloomFilterMightContain` (what InjectRuntimeFilter plants),
  * registered as the SQL function `graft_might_contain` by
  * [[graft.GraftExtensions]]; the build is the public
  * `DataFrameStatFunctions.bloomFilter` (same `spark.util.sketch`
  * serialization both ends, raw long keys both ends).
  */
object RuntimeFilters {

  /** Past this many build-side keys the filter is skipped: at 1% fpp the
    * sketch would exceed ~75 MB — past the point where a per-row
    * pre-probe beats the hash relation it's trying to shield.
    */
  val MaxKeys: Long = 64L << 20

  /** Default false-positive rate, balanced for the SHUFFLE path this
    * filter guards: per fact row the sketch costs k = ⌈−log₂ fpp⌉
    * scattered word reads (~k cache misses), and saves fpp-fraction ×
    * the serialize-write-read cost of a shuffled row — hundreds of ns.
    * 5% (k=4, ~6.2 bits/key) keeps the sketch small enough to sit in
    * cache for tens of millions of keys while passing only 1-in-20 of
    * the droppable rows into the shuffle.
    */
  val Fpp: Double = 0.05

  /** Built blooms keyed by (session, canonicalized build plan, key col):
    * the gated side's plan is stable across warm re-runs, so the build
    * pass is paid once per session, like the gated-broadcast decision it
    * rides on. Over-budget sides are not cached — the guard there is a
    * single long compare against the row count the caller already
    * measured. Bounded: a full cache holds ≤ 8 sketches of ≤ ~75 MB;
    * eviction just drops bytes (the sketch is an embedded literal, no
    * cluster-side state to free).
    *
    * IMMUTABLE-SIDE contract (spec-gated, RuntimeFiltersSpec): the key
    * is the side's canonicalized plan, not its file contents. A side
    * whose files are rewritten in-session keeps serving the OLD sketch
    * until [[reset]] — and unlike a stale broadcast decision, a stale
    * Bloom is a CORRECTNESS hazard here: keys ADDED to the side after
    * the build would have their fact rows dropped before the shuffle.
    * Same posture as [[Broadcasts]]/[[LookupJoin]]: sides are
    * session-immutable snapshots; regenerate files → reset().
    */
  private val MaxEntries = 8
  private val built =
    new java.util.LinkedHashMap[(SparkSession, LogicalPlan, String),
        Array[Byte]](16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, LogicalPlan, String),
            Array[Byte]]): Boolean = size > MaxEntries
    }

  /** Drop every cached sketch (cold-bench hook, mirrors
    * [[Broadcasts.reset]]).
    */
  def reset(): Unit = built.synchronized(built.clear())

  /** Number of live cached sketches (spec hook). */
  def cachedCount: Int = built.synchronized(built.size)

  /** `fact` filtered to rows whose `factKey` might be in `side`'s
    * `sideKey` set — or `fact` unchanged when the side is over budget.
    * `sideRows` is the side's measured row count (the gated
    * materialization already has it — [[Broadcasts.gatedStats]]).
    */
  def keyFilter(fact: DataFrame, factKey: Column, side: DataFrame,
      sideKey: String, sideRows: Long, fpp: Double = Fpp): DataFrame = {
    if (sideRows <= 0 || sideRows > MaxKeys) return fact
    val key = (side.sparkSession, PlanBridge.analyzed(side).canonicalized,
      s"$sideKey@$fpp")
    val hit = built.synchronized(built.get(key))
    val sketch = if (hit != null) hit else {
      // one pass over the (already materialized) side — outside the lock
      val fresh = serialize(side, sideKey, sideRows, fpp)
      built.synchronized {
        val race = built.get(key)
        if (race != null) race else { built.put(key, fresh); fresh }
      }
    }
    fact.filter(mightContain(sketch, factKey))
  }

  /** The codegen'd membership predicate over a serialized sketch. */
  def mightContain(sketch: Array[Byte], key: Column): Column =
    call_function("graft_might_contain", lit(sketch), key.cast(LongType))

  private def serialize(side: DataFrame, sideKey: String,
      rows: Long, fpp: Double): Array[Byte] = {
    val bf = side.select(col(sideKey).cast(LongType).as(sideKey))
      .stat.bloomFilter(sideKey, math.max(rows, 1L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
}
