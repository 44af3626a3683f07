package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.{LongLookupTable, LongMapLookup, StringPoolLookup}

/** Map-side LOOKUP JOIN for unique-long-key dimension sides carrying
  * one or more long payload attributes — the star-schema "attach k
  * attributes from a dim" join, done as a broadcast VARIABLE plus
  * codegen'd probe expressions instead of a BroadcastHashJoin. The
  * payloads live slot-major in ONE table (one broadcast, one build),
  * so a multi-attribute dimension no longer needs per-query packing
  * tricks to qualify.
  *
  * Why it exists (measured at the 1000× replica): a broadcast hash
  * join REBUILDS its relation on the driver for every execution —
  * collect the side, build the UnsafeRow hash relation
  * single-threaded, re-broadcast — and for a reduced star-schema side
  * of millions of rows that rebuild dominates the warm run (q3b
  * 8.12 → 3.30 s, LOOKUP_ARITY_MEASURE.json; q10 19.5 → 2.83 s,
  * LOOKUP_STRING_MEASURE.json). This operator builds a compact
  * open-addressing long→long table ONCE per (session, side plan),
  * broadcasts it once, and probes it with [[LongMapLookup]] inside
  * whole-stage codegen — warm executions pay only the probes. That is
  * also the standing-pipeline posture the bench's warm/cold split
  * already reports: the COLD pass resets this cache (Bench does) and
  * honestly re-pays the build.
  *
  * Semantics: exactly the inner equi-join `fact ⋈ side ON factKey =
  * sideKey` projecting `side.payload` — REQUIRING the side's keys
  * unique (a dimension; duplicates throw loudly rather than silently
  * picking one). NULL side keys cannot match and are skipped; NULL fact
  * keys produce NULL lookups and are dropped by the inner filter; NULL
  * payloads are rejected at build (a NULL-payload dimension row is
  * indistinguishable from a miss in the lookup encoding).
  *
  * Scale posture: the table is ~2.3× key bytes (load factor 0.7) — a
  * 4.5 M-key side is ~100 MB pinned once per executor, the same budget
  * class [[Broadcasts]] gates on. Queries pass the
  * [[Broadcasts.gatedStats]] side itself to the `Gated` overloads of
  * [[inner]]/[[semi]], which take the probe only when the gate chose
  * broadcast and otherwise shuffle-join the materialized side behind a
  * Bloom guard ([[RuntimeFilters.keyFilter]]) — one query shape, and
  * nothing unboundedly-growing is ever collected to the driver.
  *
  * Cache-lifetime contract (spec-gated, LookupJoinSpec):
  *
  *   - IMMUTABLE SIDES. The cache keys on the side's canonicalized
  *     PLAN, not its file contents — a dimension whose underlying files
  *     are rewritten in-session serves the table built from the OLD
  *     files until [[reset]] (the same posture [[Broadcasts]] documents
  *     for its gated decisions). Rewriting a gated dim mid-session is a
  *     CDC/RetractableView workload; batch-analytics dims are
  *     snapshot-immutable, and pipelines that do regenerate files call
  *     reset() after.
  *   - EVICTION IS NON-DESTRUCTIVE. A full LRU unpersists the evicted
  *     table's executor copies instead of destroying the broadcast: a
  *     concurrently RUNNING query that still probes it re-fetches
  *     lazily (slower, never wrong), and the final destroy happens via
  *     Spark's ContextCleaner once no plan references the handle.
  *     [[reset]] — the cold-bench / regenerated-files hook — DOES
  *     destroy, and is documented for quiesced sessions only.
  */
object LookupJoin {

  /** Hard cap on collected side keys (~1.5 GB table) — above it the
    * caller's gate should have refused long before.
    */
  val MaxKeys: Long = 64L << 20

  /** A built lookup side: the key→payload table plus, per payload
    * field, the broadcast string pool that decodes it — null for
    * integral fields, which ride the table raw. String attributes are
    * dictionary-encoded at build (long code in the table, one shared
    * pool per field), so the hot probe stays scalar-long codegen and
    * the strings move once per executor, not per row.
    */
  final case class LookupSide(table: Broadcast[LongLookupTable],
      pools: Array[Broadcast[Array[UTF8String]]]) {
    private[LookupJoin] def destroy(): Unit = {
      table.destroy()
      pools.foreach(p => if (p != null) p.destroy())
    }
    private[LookupJoin] def unpersist(): Unit = {
      table.unpersist(/* blocking = */ false)
      pools.foreach(p => if (p != null) p.unpersist(/* blocking = */ false))
    }
  }

  private val MaxEntries = 8
  private val built =
    new java.util.LinkedHashMap[(SparkSession, LogicalPlan, String),
        LookupSide](16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, LogicalPlan, String),
            LookupSide]): Boolean =
        if (size > MaxEntries) {
          // unpersist, not destroy: a running query probing the evicted
          // table re-fetches it; ContextCleaner destroys it after the
          // last plan reference drops (cache-lifetime contract above)
          e.getValue.unpersist(); true
        } else false
    }

  /** Drop every cached table and DESTROY its broadcast (cold-bench
    * hook, mirrors [[Broadcasts.reset]]; also the invalidation hook
    * after regenerating a side's files). Call on a quiesced session —
    * a query mid-flight on a destroyed table fails.
    */
  def reset(): Unit = built.synchronized {
    built.values.forEach(_.destroy())
    built.clear()
  }

  /** Number of live cached tables (spec hook). */
  def cachedCount: Int = built.synchronized(built.size)

  /** `fact` inner-lookup-joined against `side`: the result is `fact`
    * plus `as` = the side payload for the matching unique `sideKey`,
    * rows without a match dropped — exactly
    * `fact.join(side, factKey === sideKey)` with the payload projected.
    * The key must be integral. Integral payloads come back as long
    * (re-cast downstream if needed); STRING payloads are
    * dictionary-encoded at build and come back as string (the table
    * carries the long code, a broadcast pool decodes on attach).
    */
  def inner(fact: DataFrame, factKey: Column, side: DataFrame,
      sideKey: String, payload: String, as: String): DataFrame =
    inner(fact, factKey, side, sideKey, Seq(payload -> as))

  /** Multi-attribute form: attach every `(payload → as)` column from
    * the matching unique `sideKey` row — ONE table (payloads slot-major
    * per key), one broadcast, k codegen'd probes per row. Payloads must
    * be integral or string, and non-NULL; the inner filter keys on the
    * first attached column (the probes agree — one find() result per
    * key).
    */
  def inner(fact: DataFrame, factKey: Column, side: DataFrame,
      sideKey: String, payloads: Seq[(String, String)]): DataFrame = {
    require(payloads.nonEmpty, "lookup join needs at least one payload")
    val bc = tableFor(side, sideKey, payloads.map(_._1))
    val keyExpr = PlanBridge.expression(factKey.cast(LongType))
    val attached = payloads.zipWithIndex.foldLeft(fact) {
      case (df, ((_, as), j)) =>
        val probe = LongMapLookup(keyExpr, bc.table, j)
        val e = if (bc.pools(j) != null) StringPoolLookup(probe, bc.pools(j))
          else probe
        df.withColumn(as, PlanBridge.column(e))
    }
    attached.filter(col(payloads.head._2).isNotNull)
  }

  /** Existence-only probe over the SAME cached multi-payload table:
    * keep the fact rows whose key is present (one field-0 probe per
    * row, no columns attached) — the left-semi twin a caller uses on
    * the hot path when the payloads are functionally dependent on the
    * key and attach AFTER a reducing aggregate/top-k, so the one table
    * serves both the 600M-row filter and the 10-row attachment. A
    * string field 0 probes by its dictionary code — no decode on the
    * hot path.
    */
  def semi(fact: DataFrame, factKey: Column, side: DataFrame,
      sideKey: String, payloads: Seq[String]): DataFrame = {
    require(payloads.nonEmpty, "lookup join needs at least one payload")
    val bc = tableFor(side, sideKey, payloads)
    fact.filter(PlanBridge.column(LongMapLookup(
      PlanBridge.expression(factKey.cast(LongType)), bc.table, 0)).isNotNull)
  }

  /** [[inner]] against a gated side, choosing the physical join: when
    * the gate chose broadcast, the cached-table probe above over
    * `side.bare`; past the pin budget, a shuffle join against the
    * already-materialized side with the fact Bloom-guarded by the side's
    * keys, so the rows the join would drop never enter the fact
    * shuffle (measured at the forced-shuffle 1000× arm: q3 39.6 → 8.5 s,
    * BLOOMGUARD_MEASURE.json). Both branches return the same schema:
    * integral payloads as long, strings as string; the `as` names must
    * be new to `fact`. The shuffle branch does not check key
    * uniqueness — it is the plain equi-join.
    */
  def inner(fact: DataFrame, factKey: Column, side: Broadcasts.Gated,
      sideKey: String, payload: String, as: String): DataFrame =
    inner(fact, factKey, side, sideKey, Seq(payload -> as))

  def inner(fact: DataFrame, factKey: Column, side: Broadcasts.Gated,
      sideKey: String, payloads: Seq[(String, String)]): DataFrame =
    if (side.broadcasted) inner(fact, factKey, side.bare, sideKey, payloads)
    else {
      val types = side.bare.schema
      shuffleJoin(fact, factKey, side, sideKey, "inner",
        payloads.map { case (p, as) =>
          (if (types(p).dataType == StringType) col(p)
           else col(p).cast(LongType)).as(as)
        })
    }

  /** [[semi]] against a gated side: the existence probe inside the pin
    * budget, the Bloom-guarded shuffle left-semi join past it.
    */
  def semi(fact: DataFrame, factKey: Column, side: Broadcasts.Gated,
      sideKey: String, payloads: Seq[String]): DataFrame =
    if (side.broadcasted) semi(fact, factKey, side.bare, sideKey, payloads)
    else shuffleJoin(fact, factKey, side, sideKey, "left_semi", Nil)

  private def shuffleJoin(fact: DataFrame, factKey: Column,
      side: Broadcasts.Gated, sideKey: String, how: String,
      attach: Seq[Column]): DataFrame = {
    val k = Cols.fresh("_lookup_key", fact.columns)
    RuntimeFilters.keyFilter(fact, factKey, side.bare, sideKey, side.rows)
      .join(side.bare.select(col(sideKey).cast(LongType).as(k) +: attach: _*),
        factKey.cast(LongType) === col(k), how)
      .drop(k)
  }

  private def tableFor(side: DataFrame, sideKey: String,
      payloads: Seq[String]): LookupSide = {
    val key = (side.sparkSession, PlanBridge.analyzed(side).canonicalized,
      s"$sideKey->${payloads.mkString(",")}")
    val hit = built.synchronized(built.get(key))
    if (hit != null) return hit
    // build outside the lock — one collect over the (typically already
    // materialized) side, once per session
    val fresh = build(side, sideKey, payloads)
    built.synchronized {
      val race = built.get(key)
      if (race != null) { fresh.destroy(); race }
      else { built.put(key, fresh); fresh }
    }
  }

  private def build(side: DataFrame, sideKey: String,
      payloads: Seq[String]): LookupSide = {
    val arity = payloads.size
    // string payloads collect raw and dictionary-encode driver-side;
    // everything else keeps the cast-to-long contract
    val isStr = side.select(payloads.map(col): _*).schema.fields
      .map(_.dataType == StringType)
    val sel = col(sideKey).cast(LongType) +: payloads.zipWithIndex.map {
      case (p, j) => if (isStr(j)) col(p) else col(p).cast(LongType)
    }
    val rows = side.select(sel: _*).collect()
    require(rows.length <= MaxKeys,
      s"lookup side has ${rows.length} keys — past the $MaxKeys budget, " +
        "gate the side and take the shuffle join instead")
    val dicts = Array.tabulate(arity)(j =>
      if (isStr(j)) new java.util.HashMap[String, Long]() else null)
    val poolBufs = Array.tabulate(arity)(j =>
      if (isStr(j)) new scala.collection.mutable.ArrayBuffer[String]() else null)
    val pairs = rows.iterator.filter(!_.isNullAt(0)).map { r =>
      val vs = new Array[Long](arity)
      var j = 0
      while (j < arity) {
        if (r.isNullAt(j + 1)) throw new graft.GraftInvalidOperation(
          s"lookup join payload '${payloads(j)}' is NULL for key " +
            s"${r.getLong(0)} — a NULL payload is indistinguishable " +
            "from a miss; join instead")
        vs(j) = if (isStr(j)) {
          val s = r.getString(j + 1)
          var code = dicts(j).getOrDefault(s, -1L)
          if (code < 0) {
            code = poolBufs(j).length.toLong
            dicts(j).put(s, code)
            poolBufs(j) += s
          }
          code
        } else r.getLong(j + 1)
        j += 1
      }
      (r.getLong(0), vs)
    }
    val table = LongLookupTable.buildMulti(pairs, rows.length, arity)
    val sc = side.sparkSession.sparkContext
    val pools = Array.tabulate[Broadcast[Array[UTF8String]]](arity) { j =>
      if (isStr(j)) sc.broadcast(poolBufs(j).map(UTF8String.fromString).toArray)
      else null
    }
    LookupSide(sc.broadcast(table), pools)
  }
}
