package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental maintenance of a pre-aggregated table (a materialized
  * aggregate view): fold a batch of NEW fact rows into a stored aggregate
  * without rescanning the base fact data. The 100 TB property is the same
  * one [[Cdc.applyChangelog]] gives tables: a refresh touches only
  * |stored agg| + |delta| rows — one shuffle over aggregate-sized data,
  * with map-side partial aggregation on the delta — while a recompute
  * would re-read the full fact history.
  *
  * Supported functions are the self-decomposable ones whose combine step
  * is again a builtin aggregate: sum/count (combine = sum), min/max
  * (combine = min/max); avg is carried as sum+count and derived at read
  * time. Append-only by design: retractions would need sign-carrying
  * deltas for sum/count and are impossible for min/max without re-reading
  * the group's history; deletions belong to a changelog-driven recompute
  * of the affected groups (see [[Cdc]]).
  */
object IncrementalAgg {

  /** one aggregate column: `fn(input) AS out`, fn ∈ sum|count|min|max */
  final case class AggSpec(input: String, fn: String, out: String)

  private def firstPass(fn: String, in: Column): Column = fn match {
    case "sum"   => sum(in)
    case "count" => count(in)
    case "min"   => min(in)
    case "max"   => max(in)
    case other   => throw new IllegalArgumentException(s"unsupported agg: $other")
  }

  private def combinePass(fn: String, in: Column): Column = fn match {
    case "sum" | "count" => sum(in)
    case "min"           => min(in)
    case "max"           => max(in)
    case other           => throw new IllegalArgumentException(s"unsupported agg: $other")
  }

  /** full aggregation of a fact frame — builds the stored aggregate */
  def aggregate(facts: DataFrame, keys: Seq[String], aggs: Seq[AggSpec]): DataFrame = {
    val exprs = aggs.map(a => firstPass(a.fn, col(a.input)).as(a.out))
    facts.groupBy(keys.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** Merge new fact rows into a stored aggregate: aggregate the delta,
    * then [[fold]] it in. Base-only groups pass through (a one-row group
    * re-aggregates to itself), new groups appear, shared groups fold.
    * Output schema equals `aggregate`'s, so the result can be stored
    * back and refreshed again.
    */
  def refresh(storedAgg: DataFrame, deltaFacts: DataFrame, keys: Seq[String],
      aggs: Seq[AggSpec]): DataFrame =
    fold(storedAgg, aggregate(deltaFacts, keys, aggs), keys, aggs)

  /** Union first-pass partials into a stored aggregate and re-combine per
    * `keys`. `partials` carries every column of `stored` at `keys` grain
    * or finer (extra columns are dropped), so a key-grain delta joined to
    * a dimension folds straight into a group-grain view. Each output
    * keeps the stored column's type, so a folded state folds again
    * without widening.
    */
  def fold(stored: DataFrame, partials: DataFrame, keys: Seq[String],
      aggs: Seq[AggSpec]): DataFrame = {
    val cols = stored.columns.map(col).toIndexedSeq
    val combined = aggs.map(a => combinePass(a.fn, col(a.out))
      .cast(stored.schema(a.out).dataType).as(a.out))
    stored.select(cols: _*).unionByName(partials.select(cols: _*))
      .groupBy(keys.map(col): _*).agg(combined.head, combined.tail: _*)
  }

  /** Counting-algebra aggregate for INVERTIBLE functions (sum/count;
    * avg = sum+count derived at read time): the stored form that
    * supports RETRACTIONS, i.e. fact deletes and updates, which
    * [[refresh]]'s append-only fold cannot. The state carries two
    * hidden witnesses per the classic bag-algebra IVM treatment:
    *
    *  - `_rows`: signed row multiplicity — a group retracted to zero
    *    rows DISAPPEARS (full-recompute parity), instead of lingering
    *    as a zero row;
    *  - `__cnt_<out>` per sum column: the non-null measure count, so a
    *    group whose last non-null measure is retracted restores SUM =
    *    NULL (a plain signed fold would leave 0, silently diverging
    *    from any engine's recompute).
    *
    * min/max are NOT invertible — a deletion can only be absorbed by
    * re-deriving the group, which is exactly what [[refreshJoinView]]'s
    * affected-group recompute does from key-grain partials; use that
    * path (or a changelog recompute, [[Cdc]]) when non-invertible
    * aggregates must survive deletes.
    */
  def aggregateCounting(facts: DataFrame, keys: Seq[String],
      aggs: Seq[AggSpec]): DataFrame = {
    require(aggs.forall(a => a.fn == "sum" || a.fn == "count"),
      "counting-algebra IVM supports invertible aggregates only (sum/count)")
    val exprs = aggs.map(a => firstPass(a.fn, col(a.input)).as(a.out)) ++
      aggs.collect { case AggSpec(in, "sum", out) =>
        count(col(in)).as(s"__cnt_$out") } :+
      count(lit(1)).as("_rows")
    facts.groupBy(keys.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** Publishable projection of an [[aggregateCounting]] state: hidden
    * witnesses dropped, SUM columns nulled where their non-null count
    * is zero.
    */
  def publishCounting(stored: DataFrame, keys: Seq[String],
      aggs: Seq[AggSpec]): DataFrame =
    stored.select(keys.map(col) ++ aggs.map {
      case AggSpec(_, "sum", out) =>
        when(col(s"__cnt_$out") === 0L, lit(null)).otherwise(col(out)).as(out)
      case a => col(a.out)
    }: _*)

  /** Fold SIGNED fact deltas into an [[aggregateCounting]] state:
    * `deltas` carries the fact columns plus `signCol` (+1 insert, −1
    * retract; an update is the −old/+new pair). One delta-grain
    * aggregate ([[aggregateSigned]]) + one state-grain merge
    * ([[foldCounting]]) — stored facts never rescanned, groups retracted
    * to zero rows vanish.
    */
  def refreshCounting(stored: DataFrame, deltas: DataFrame,
      keys: Seq[String], aggs: Seq[AggSpec],
      signCol: String = "_sign"): DataFrame =
    foldCounting(stored, aggregateSigned(deltas, keys, aggs, signCol), keys)

  /** Signed `keys`-grain aggregate of fact deltas, in the column layout
    * of an [[aggregateCounting]] state: each measure, count and witness
    * is a signed sum, `_rows` the net multiplicity.
    */
  def aggregateSigned(deltas: DataFrame, keys: Seq[String],
      aggs: Seq[AggSpec], signCol: String = "_sign"): DataFrame = {
    require(aggs.forall(a => a.fn == "sum" || a.fn == "count"),
      "counting-algebra IVM supports invertible aggregates only (sum/count)")
    val sgn = col(signCol).cast("long")
    val deltaExprs = aggs.map {
      case AggSpec(in, "sum", out) => sum(sgn * col(in)).as(out)
      case AggSpec(in, "count", out) =>
        sum(when(col(in).isNotNull, sgn).otherwise(0L)).as(out)
      case a => throw new IllegalArgumentException(s"unsupported: ${a.fn}")
    } ++ aggs.collect { case AggSpec(in, "sum", out) =>
      sum(when(col(in).isNotNull, sgn).otherwise(0L)).as(s"__cnt_$out")
    } :+ sum(sgn).as("_rows")
    deltas.groupBy(keys.map(col): _*).agg(deltaExprs.head, deltaExprs.tail: _*)
  }

  /** Sum an [[aggregateSigned]] delta into a counting state per `keys`,
    * dropping keys retracted to zero rows.
    */
  def foldCounting(stored: DataFrame, deltaAgg: DataFrame,
      keys: Seq[String]): DataFrame = {
    val cols = stored.columns.map(col).toIndexedSeq
    val merged = stored.columns.filterNot(keys.contains).map(c => sum(col(c)).as(c))
    stored.select(cols: _*).unionByName(deltaAgg.select(cols: _*))
      .groupBy(keys.map(col): _*).agg(merged.head, merged.tail: _*)
      .filter(col("_rows") > 0L)
  }

  /** Stored state of an incrementally maintained JOIN view
    * `agg(F ⋈ D) GROUP BY dim attrs` — the classic IVM star-view:
    *
    *  - `keyAgg`: the fact sub-aggregate at JOIN-KEY grain (`aggregate
    *    (F, joinKeys, aggs)`) — the reusable "partial view" of IVM
    *    delta algebra. Bounded by distinct join keys, i.e. the same
    *    size a shuffled join would have to materialize anyway;
    *  - `dim`: the current dimension table;
    *  - `view`: the published aggregate at dimension-attribute grain.
    *
    * All three are plain frames, so the state is re-storable: write
    * them out, read them back, refresh again.
    */
  final case class JoinView(keyAgg: DataFrame, dim: DataFrame,
      view: DataFrame)

  /** Build the initial [[JoinView]] for `agg(facts ⋈ dim) GROUP BY
    * groupCols` (inner join on `joinKeys`; `groupCols` must be DIMENSION
    * attribute columns — the delta algebra below relies on groups being
    * dim-derived).
    */
  def buildJoinView(facts: DataFrame, dim: DataFrame, joinKeys: Seq[String],
      groupCols: Seq[String], aggs: Seq[AggSpec]): JoinView = {
    val keyAgg = aggregate(facts, joinKeys, aggs)
    JoinView(keyAgg, dim, viewOf(keyAgg, dim, joinKeys, groupCols, aggs))
  }

  private def viewOf(keyAgg: DataFrame, dim: DataFrame,
      joinKeys: Seq[String], groupCols: Seq[String],
      aggs: Seq[AggSpec]): DataFrame = {
    val combined = aggs.map(a => combinePass(a.fn, col(a.out)).as(a.out))
    keyAgg.join(dim, joinKeys)
      .groupBy(groupCols.map(col): _*).agg(combined.head, combined.tail: _*)
  }

  /** Static-dimension fact fold — the fast path when no dimension
    * changelog rides along: `keyAgg' = fold(keyAgg, ΔK)` and
    * `view' = fold(view, ΔK ⋈ dim)`, where ΔK is the fact delta already
    * aggregated to join-key grain ([[aggregate]] over `joinKeys`). The
    * self-decomposable functions fold a group's new partials into its
    * stored row, so no affected-group splice is needed; groups are
    * matched by `groupBy`, which keeps NULL group attributes as one
    * group. `dim` is carried over unchanged. Pin ΔK before calling: both
    * folds read it.
    */
  def foldJoinView(jv: JoinView, deltaAgg: DataFrame,
      joinKeys: Seq[String], groupCols: Seq[String],
      aggs: Seq[AggSpec]): JoinView =
    JoinView(fold(jv.keyAgg, deltaAgg, joinKeys, aggs), jv.dim,
      fold(jv.view, deltaAgg.join(jv.dim, joinKeys), groupCols, aggs))

  /** null-safe equi-condition on shared column names between two aliased
    * frames — group attributes can be NULL, and a plain equi-join would
    * silently keep a NULL group's stale row forever.
    */
  private def nullSafeOn(l: String, r: String, cols: Seq[String]): Column =
    cols.map(c => col(s"$l.$c") <=> col(s"$r.$c")).reduce(_ && _)

  /** Changing-dimension refresh — the full IVM delta algebra for
    * `agg(F ⋈ D)`: folds a fact delta (ΔF ⋈ D term) AND a dimension
    * changelog (the F ⋈ ΔD and ΔF ⋈ ΔD terms inc2's static-dim refresh
    * omits) into the stored view without rescanning stored facts.
    *
    * `dimChanges` carries the dim's columns plus `opCol` ('U' upsert /
    * `deleteOp` delete), at most ONE row per join key (pre-collapse a
    * multi-version changelog with [[Cdc.applyChangelog]]'s latest-first
    * rule first). The refresh:
    *
    *  1. folds ΔF into `keyAgg` ([[refresh]] at join-key grain);
    *  2. applies the changelog to `dim` (anti-join out changed keys,
    *     union the non-delete rows);
    *  3. derives the AFFECTED groups — every group an affected key
    *     (touched by ΔF or ΔD) belonged to under the OLD dim or belongs
    *     to under the NEW dim. Groups outside this set have identical
    *     key membership and identical keyAgg rows, so their view rows
    *     are untouched;
    *  4. recomputes exactly the affected groups from `keyAgg' ⋈ dim'`
    *     and splices them over the stored view (null-safe on group
    *     attrs). Recomputing from the KEY-GRAIN sub-aggregate is what
    *     makes min/max maintainable under retraction: a group that
    *     loses its max key re-derives from the surviving keys' partials
    *     — no fact rescan, which signed-delta algebras can't offer for
    *     non-invertible aggregates.
    *
    * Cost at 100 TB: |ΔF| + one pass over keyAgg (key-grain, the join's
    * own build side) + dim-grain and view-grain splices. The stored
    * fact history is never read — IncrementalAggSpec proves the
    * no-rescan property on real files.
    */
  def refreshJoinView(jv: JoinView, deltaFacts: DataFrame,
      dimChanges: DataFrame, joinKeys: Seq[String], groupCols: Seq[String],
      aggs: Seq[AggSpec], opCol: String = "op",
      deleteOp: String = "D"): JoinView =
    spliceRefresh(jv, refresh(jv.keyAgg, deltaFacts, joinKeys, aggs),
      Some(deltaFacts.select(joinKeys.map(col): _*)), Some(dimChanges),
      joinKeys, groupCols, aggs, counting = false, opCol, deleteOp)

  /** The shared dim-changelog + affected-group splice of the join-view
    * refreshes: apply the changelog (if any), derive the groups any
    * touched key belonged to (old dim) or belongs to (new dim), recompute
    * exactly those groups from the already-folded key-grain state
    * `keyAgg2`, and splice them over the stored view (null-safe on group
    * attrs). `factKeys` are the join keys whose key-grain rows changed;
    * None means `keyAgg2` is the stored state unchanged. With no
    * changelog the dim is carried over as the same frame. `counting`
    * selects the [[buildRetractableJoinView]] roll-up.
    */
  private[graft] def spliceRefresh(jv: JoinView, keyAgg2: DataFrame,
      factKeys: Option[DataFrame], dimChanges: Option[DataFrame],
      joinKeys: Seq[String], groupCols: Seq[String], aggs: Seq[AggSpec],
      counting: Boolean, opCol: String = "op",
      deleteOp: String = "D"): JoinView = {
    val changedKeys = dimChanges.map(_.select(joinKeys.map(col): _*).distinct())
    val dim2 = dimChanges.fold(jv.dim)(ch =>
      jv.dim.join(changedKeys.get, joinKeys, "left_anti")
        .unionByName(ch.filter(col(opCol) =!= lit(deleteOp))
          .select(jv.dim.columns.map(col).toIndexedSeq: _*)))

    val affectedKeys = (factKeys.toSeq ++ changedKeys)
      .reduce(_ unionByName _).distinct()
    val dims = if (dimChanges.isEmpty) Seq(jv.dim) else Seq(jv.dim, dim2)
    val affectedGroups = dims
      .map(_.join(affectedKeys, joinKeys, "left_semi")
        .select(groupCols.map(col): _*))
      .reduce(_ unionByName _).distinct()

    // recompute ONLY the affected groups: restrict the dim first so the
    // key-grain join can broadcast the (usually tiny) affected slice
    val dimAffected = dim2.alias("__dn")
      .join(affectedGroups.alias("__ag"),
        nullSafeOn("__dn", "__ag", groupCols), "left_semi")
    val recomputed =
      if (counting) viewOfCounting(keyAgg2, dimAffected, joinKeys, groupCols, aggs)
      else viewOf(keyAgg2, dimAffected, joinKeys, groupCols, aggs)
    val view2 = jv.view.alias("__vw")
      .join(affectedGroups.alias("__ag"),
        nullSafeOn("__vw", "__ag", groupCols), "left_anti")
      .unionByName(recomputed)
    JoinView(keyAgg2, dim2, view2)
  }

  /** Group-grain combine of a COUNTING key-grain state joined to a dim:
    * sums and counts roll up by addition, each SUM's non-null witness
    * rolls up alongside so a group whose every underlying measure is
    * gone publishes SUM = NULL (full-recompute parity). Key rows
    * retracted to zero rows never reach here — refreshCounting already
    * drops them — so a group with no surviving facts produces no row.
    */
  private def viewOfCounting(keyAgg: DataFrame, dim: DataFrame,
      joinKeys: Seq[String], groupCols: Seq[String],
      aggs: Seq[AggSpec]): DataFrame = {
    val rolled = aggs.flatMap {
      case AggSpec(_, "sum", out) =>
        Seq(sum(col(out)).as(out), sum(col(s"__cnt_$out")).as(s"__cnt_$out"))
      case AggSpec(_, "count", out) => Seq(sum(col(out)).as(out))
      case a => throw new IllegalArgumentException(s"unsupported: ${a.fn}")
    }
    keyAgg.join(dim, joinKeys)
      .groupBy(groupCols.map(col): _*).agg(rolled.head, rolled.tail: _*)
      .select(groupCols.map(col) ++ aggs.map {
        case AggSpec(_, "sum", out) =>
          when(col(s"__cnt_$out") === 0L, lit(null)).otherwise(col(out))
            .as(out)
        case a => col(a.out)
      }: _*)
  }

  /** RETRACTION-capable join view — [[refreshJoinView]]'s dim-churn
    * algebra composed with [[refreshCounting]]'s signed fact deltas:
    * the key-grain sub-aggregate is a counting-algebra state (with its
    * `_rows` and per-sum witnesses), so fact DELETES and UPDATES and
    * dimension churn maintain the same view. Invertible aggregates only
    * (sum/count) — a min/max that must survive deletes needs the
    * key-grain-partial recompute path of [[refreshJoinView]] instead.
    */
  def buildRetractableJoinView(facts: DataFrame, dim: DataFrame,
      joinKeys: Seq[String], groupCols: Seq[String],
      aggs: Seq[AggSpec]): JoinView = {
    val keyAgg = aggregateCounting(facts, joinKeys, aggs)
    JoinView(keyAgg, dim,
      viewOfCounting(keyAgg, dim, joinKeys, groupCols, aggs))
  }

  /** Fold SIGNED fact deltas (`signCol`: +1 insert / −1 retract) AND a
    * dimension changelog into a [[buildRetractableJoinView]] state.
    * Stored facts are never rescanned: the signed fold touches
    * |Δ| + |keyAgg| rows, the splice touches dim-grain and view-grain
    * slices of the affected groups only. A key retracted to zero rows
    * vanishes from the state, so a group losing its last fact drops out
    * of the view exactly as a full recompute would.
    */
  def refreshRetractableJoinView(jv: JoinView, signedDeltas: DataFrame,
      dimChanges: DataFrame, joinKeys: Seq[String], groupCols: Seq[String],
      aggs: Seq[AggSpec], signCol: String = "_sign", opCol: String = "op",
      deleteOp: String = "D"): JoinView =
    spliceRefresh(jv,
      refreshCounting(jv.keyAgg, signedDeltas, joinKeys, aggs, signCol),
      Some(signedDeltas.select(joinKeys.map(col): _*)), Some(dimChanges),
      joinKeys, groupCols, aggs, counting = true, opCol, deleteOp)
}
