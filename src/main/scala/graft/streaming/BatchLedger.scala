package graft.streaming

/** Per-handle BATCH LEDGER for the foreachBatch maintenance fleet: each
  * handle records the highest stream batchId it has folded, persists it
  * alongside the state (a one-row `ledger` piece), and skips a
  * re-delivered id — so under Spark's own checkpointLocation restart
  * (batchIds are monotone across restarts and the in-flight trigger is
  * REPLAYED with its original id) the replay is a no-op instead of a
  * double-count, and a snapshot is self-describing about which stream
  * prefix it covers (the [[AnnIndexMaintenance]] commit-log idea, at
  * driver-state grain).
  *
  * [[Maintenance]] is the single owner of the ledger: its `merge` guards
  * and records, its `save` persists, `Maintenance.resume` restores, and
  * its `attach` feeds each trigger's batchId in.
  *
  * Contract: ledger-guarded `merge(df, batchId)` applies a batch iff
  * `batchId` exceeds the last applied id (foreachBatch delivers ids in
  * order; a replayed id is ≤), and records it only AFTER the fold
  * succeeds — a failed fold leaves the ledger untouched, so the retry
  * is not skipped. `batchId < 0` (the `merge(df)` default) bypasses
  * the ledger for ad-hoc/batch use and for callers that re-drive a
  * suffix through a FRESH source whose ids restart at 0. The two
  * restart postures this supports:
  *
  *   - Spark checkpointLocation (production): resume the handle, point
  *     the restarted query at the same checkpoint; replayed trigger →
  *     skipped, new triggers (higher ids) → applied.
  *   - manual re-drive (the restart specs): resume the handle and feed
  *     exactly the unconsumed suffix with ids continuing from
  *     [[BatchLedger.lastAppliedBatch]] — the ids a checkpointed stream
  *     would deliver.
  */
trait BatchLedger {

  @volatile private var last: Long = -1L

  /** Highest stream batchId folded into the state (−1 = none). */
  def lastAppliedBatch: Long = last

  /** Already folded? (a replayed trigger under at-least-once delivery)
    *
    * Only the single in-flight trigger can legitimately re-deliver, and
    * it re-delivers with `batchId == last` — Spark commits stream
    * offsets per batch, so a checkpointed restart replays AT MOST one
    * id. An id MORE than one step behind means the handle was
    * re-attached to a query with a FRESH checkpoint (ids restart at 0):
    * silently skipping the first `last+1` triggers would be invisible
    * data loss, so that regression throws instead. Re-drive a fresh
    * source with continued ids (the restart specs' posture) or through
    * the `batchId = -1` ad-hoc overloads.
    */
  private[streaming] def alreadyApplied(batchId: Long): Boolean = {
    if (batchId >= 0 && batchId < last)
      throw new graft.GraftInvalidOperation(
        s"batchId $batchId regressed behind the ledger ($last): this is " +
          "a fresh-checkpoint restart, not a replay — skipping would " +
          "silently drop the stream prefix up to the ledger. Point the " +
          "restarted query at the original checkpointLocation, or feed " +
          "the suffix with continued ids / batchId = -1.")
    batchId >= 0 && batchId == last
  }

  /** Record a successfully folded trigger. */
  private[streaming] def recordApplied(batchId: Long): Unit =
    if (batchId >= 0 && batchId > last) last = batchId

  /** Restore the ledger from a loaded snapshot (resume()). */
  private[streaming] def restoreLedger(batchId: Long): Unit = last = batchId
}
