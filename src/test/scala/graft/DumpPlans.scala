package graft

import java.nio.file.{Files, Paths}

/** Regenerate PLANS.md: formatted physical plans for the headline
  * queries with the scale-relevant properties called out.
  * Run: sbt "Test/runMain graft.DumpPlans"
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.1"
    val notes = Map(
      "q1_pricing_summary" ->
        "One scan; date filter and 7-column pruned schema pushed into parquet; partial+final HashAggregate.",
      "q3_shipping_priority" ->
        "Filters pushed to all three scans; TakeOrderedAndProject top-10 (no global sort). The reduced (orders x customer) side attaches via LookupJoin, the q5 shape: a unique-orderkey long->long table built+broadcast ONCE per session and probed by the codegen'd graft_lookup expression inside the lineitem scan's Filter — where a BroadcastHashJoin rebuilt its relation on the driver every execution (8.00 -> 3.39 s warm at the 1000x replica, r14 -> r15 BENCHSCALE.json artifacts — 1.95x -> 1.03x of DuckDB). The order date is functionally dependent on the order key, so the 600M-row aggregate groups on the BARE key (one probe per row, in the filter only; key+sum-only exchange — 190 -> 148 MB at 1000x) and the micros-packed date re-probes the same cached table on just the top-10 rows, reconstructed as timestamp_ntz. Only exchange: the aggregate's. Past the pin budget the same LookupJoin calls take their other branch: a shuffle join against the materialized side with a Bloom of its keys on the lineitem scan (measured AT the forced-shuffle 1000x arm: bare 39.6s vs guarded 8.5s — BLOOMGUARD_MEASURE.json; the Bloom on the BROADCAST path was measured and rejected).",
      "q5_local_supplier" ->
        "Fact table never shuffles: the reduced (orders x customer) side and the supplier side each attach via LookupJoin — a unique-key long->long table built+broadcast ONCE per session, probed by the codegen'd graft_lookup expression in the Filter below, where a BroadcastHashJoin would rebuild its relation on the driver EVERY execution. The aggregate groups on the bare nation key; nation/region broadcast onto the <=25-row partial; the only exchange is the final aggregate's. Past the pin budget the same LookupJoin calls shuffle-join the materialized sides, with a Bloom of the orderkeys on the lineitem scan keeping ~6/7 of it out of the fact shuffle (the Bloom on the BROADCAST path was measured and rejected - BLOOMGUARD_MEASURE.json: bare 5.6s vs 6.6-14.1s at 1000x).",
      "q3b_priority_detail" ->
        "q3 with the full detail projection (order date AND customer key) — the multi-attribute LookupJoin adoption: ONE arity-2 slot-major table serves both the 600M-row existence probe (graft_lookup field 0 in the scan Filter, no columns attached) and the post-top-10 re-probe that attaches both attributes. Same single-exchange shape as q3; measured at the 1000x replica: 3.30s warm vs 8.12s for the BroadcastHashJoin shape and 3.42s for two packed arity-1 tables (LOOKUP_ARITY_MEASURE.json).",
      "tx14_quality_classifier" ->
        "Hashed 1-2-gram linear quality classifier (fastText/CCNet-style): the per-doc gram-bucket array is one codegen'd scan expression (salted md5, oracle replays exact hashes); explode feeds a BROADCAST join against the 4096-row weight table; partial aggregation collapses to doc grain before the only exchange — shuffle rows ~= docs, never grams.",
      "dd2_minhash_lsh" ->
        "Signature stage is shuffle-free mapPartitions; one bucket-group exchange (compacted single-long bucket key since r16 — (band,bhash) folds to xxhash64 pre-exchange, DD2_MEASURE.json); verify joins only candidate ids (left-semi pushdown).",
      "ss1_cosine_topk" ->
        "Whole-stage-codegen'd CosineSim kernel over the scan; TakeOrderedAndProject top-k.",
      "dd5_embed_cosine" ->
        "Banded multi-table LSH: posexplode to (table, bucket), equi-join on the bucket key, exact cosine verify — no cartesian or nested-loop node anywhere.",
      "q15_top_supplier" ->
        "Scalar subquery as a broadcast 1-row aggregate inside ONE plan (no driver round-trip); empty window degenerates to an empty join, not an NPE.",
      "q22_global_sales" ->
        "Global-aggregate scalar folded in as a broadcast single-row cross join; anti-join against orders stays an equi-join.",
      "q6_revenue_delta" ->
        "Single scan with every predicate pushed into parquet; one partial+final aggregate, no exchange beyond the final singleton.",
      "q18_big_orders" ->
        "groupByClustered elides the 60M-row aggregate exchange when the verified layout allows (AssumeClustered; shuffle-agg fallback otherwise); TopKJoin then commutes the top-100 below the join by adaptive refill — TakeOrderedAndProject over the post-HAVING side, 100-row broadcast probe of orders, escalate only if the probe under-fills (refill-cap fallback: stats-gated join, then shuffle join past the gate). No verification jobs; orders never shuffles; nothing larger than 100 rows is broadcast.",
      "q19_disjunctive" ->
        "Disjunctive predicate stays a single scan+filter over the part join — no union-of-scans blowup; part dim broadcast.",
      "dd3_simhash" ->
        "SimHash pipeline: one signature aggregation (64 bit-sums), chunk explode, bucket-group exchange, candidate-only Jaccard verify — no all-pairs stage, same shape as dd2.",
      "rj1_range_join" ->
        "Grid-bucketed point-in-interval: explode intervals onto bins, shuffle equi-join on the bin id, exact containment inside the bucket — no BroadcastNestedLoopJoin.",
      "rj3_interval_overlap" ->
        "Interval-overlap grid join: both sides explode onto bins, pair kept only in the first shared bin (no distinct pass), equi-join on the bin id — no nested-loop node.",
      "ss2x_lsh_exhaustive" ->
        "LSH bucketing machinery under exhaustive probing: bucket assembly + isin filter + codegen'd cosine + TakeOrderedAndProject (exact mode of the ss2 plan).",
      "ss4_ivf_exhaustive" ->
        "IVF probe plan: centroid assignment as a codegen'd expression over the scan, cell filter, TakeOrderedAndProject — cells become partition keys at scale.",
      "cc1_contamination" ->
        "Contamination probe: benchmark shingles broadcast to the corpus scan; overlap counted scan-side — corpus is never shuffled.",
      "bp1_boilerplate" ->
        "Boilerplate trigrams: explode + one count aggregate + min-doc filter; pure Column pipeline, one exchange.",
      "ch1_chunk" ->
        "Chunking UDTF shape: let-bound token split, sequence+transform chunk windows, posexplode — zero shuffles (scan-side row generation).",
      "tf1_term_stats" ->
        "Term stats: one explode + two-level aggregate (term df/tf); the count table is vocabulary-sized, broadcastable downstream.",
      "i2_duration_agg" ->
        "Interval arithmetic folded to scan-side micros math; single aggregate exchange.",
      "ss5_pq_exhaustive" ->
        "PQ ADC scoring: per-block code lookup against literal tables over the encoded column, TakeOrderedAndProject pool, exact re-rank — original vectors only touched by the re-rank.",
      "dd10_incremental_dedup" ->
        "Incremental dedup: batch bands probe the corpus band index with one (band,bhash) equi-join; corpus is never self-paired; candidate-only verify.",
      "cur3_token_budget_pack" ->
        "Shard packing: one running-sum window per language partition — no join, no global sort before the ordered output.",
      "s4_three_way_split" ->
        "Split audit: scan-side portable-hash bucket + single hash aggregate; no join.",
      "ss1b_cosine_topk_indexed" ->
        "ANN through the bucket-partitioned LSH layout: the scan's PartitionFilters prune to the hamming-1 probe buckets at the FILE index (~5/16 of the corpus read, one clustered file per bucket), codegen'd cosine + TakeOrderedAndProject — one job, no full scan, no shuffle.",
      "pk1_sequence_pack" ->
        "Sequence packing over the distributed prefix sum: range-sorted scan, per-partition offsets (no Window operator anywhere — the single-partition cumulative-sum stage is gone), arithmetic projections for window ids.",
      "lm1_bigram_score" ->
        "Bigram LM scoring: positional bigram explode, vocabulary-grain count tables broadcast into the scoring join, one per-doc aggregate exchange.",
      "sk6_hll_registers" ->
        "HLL registers: scan-side md5/bin arithmetic, 64-row register aggregates for full and half-partial builds, broadcastable full-outer merge — sketch-sized payloads only past the first aggregate.",
      "cc3_containment" ->
        "Containment decontamination: probe grams and probe sizes broadcast (benchmark-sized); the corpus side is one explode + broadcast hash join + partial aggregation — only colliding (doc, probe) pairs ever shuffle.",
      "sk8_quantile_sketch" ->
        "Bottom-k quantile sketch: each sketch branch is TakeOrderedAndProject (per-partition heaps — no global sort of values anywhere); percentiles aggregate 256-row samples; scalars meet in 1-row cross joins.",
      "imp3_select_pack_mix" ->
        "End-to-end shard build (DSIR select → prefix-sum pack → temperature mix): the 256-row ratio table and 1-row max broadcast into the doc-grain score/selection stages (BroadcastHashJoin, zero extra exchange); the packing stage enters as the pk1 prefix-sum RDD (range sort + per-partition offsets, already executed — see pk1 entry); after it only the source-grain aggregate exchange and a source-cardinality window remain. The composition pays exactly the shuffles of its parts.",
      "imp7_prototype_prune" ->
        "Prototype pruning: component-grain explode, (cluster x dim)-bounded centroid aggregate broadcast back into the component stream (BroadcastHashJoin BuildRight), one vec-grain distance aggregate, rank+count windows sharing ONE cluster-partitioned sort — no all-pairs stage anywhere; window partitions are cluster-sized (centroid-catalog cardinality in production).",
      "dd20_d4_pipeline" ->
        "D4 funnel (SemDeDup then prototype-prune): the dedup stage is the cluster-key LEFT ANTI join (pairwise work bounded by cluster size, nothing materializes past the first match), survivors flow into the imp7 prune plan, and the rollup joins three CLUSTER-grain frames — after the anti-join nothing wider than the cluster catalog moves.",
      "inc3_dim_churn" ->
        "Changing-dimension IVM refresh: the stored fact history appears NOWHERE in this plan — only the key-grain sub-aggregate, the dim (anti-join + changelog union), the affected-group semi/anti splices (null-safe <=> conditions), and the delta's own aggregate. Every join against the group set is a BroadcastHashJoin (affected groups are group-cardinality); the one data-sized exchange is the delta's key-grain partial aggregate.",
      "sj3_jaccard_probe" ->
        "Dedicated R-S prefix join: corpus prefix postings and probe prefix postings meet in ONE equi-join on the prefix token (no cartesian/nested-loop anywhere); vocabulary rank is the two-pass range sort + zipWithIndex (no Window operator); min-shared-prefix-token predicate emits each pair once with no Distinct pass; exact integer verify on the sorted index arrays.",
      "sj4_containment_probe" ->
        "Containment probe: the probe side posts only its rarest-token prefixes, the corpus side is the full inverted index — one equi-join on the token id, emit-once on the minimal shared token, integer containment verify; no nested-loop node, no Distinct.",
      "inc5_retractable_join_view" ->
        "Retraction-capable IVM refresh: stored facts appear NOWHERE — the signed delta aggregates at key grain (one data-sized exchange), merges with the stored counting state, and the dim-changelog splice recomputes only the affected groups (null-safe <=> semi/anti joins, BroadcastHashJoin on the group-cardinality sets); the published projection nulls SUMs from the rolled-up witnesses without extra stages.",
      "cur12_decontam_intake" ->
        "Composed decontamination intake: the corpus parquet is scanned only under the build-time localCheckpoint barrier — the probe join reads the materialized postings, the quarantine split is two broadcast semi/anti joins on the hit ids, and the stats refresh merges the admitted batch's group-grain delta with the materialized counting state. Per-batch cost = the batch itself plus group-grain merges.",
      "sj5_jaccard_index_reload" ->
        "Persisted-index probe: the corpus appears only as the reloaded index's OWN parquet (vocab + surviving postings) — the probe pays its prefix explode, one posting equi-join, emit-once, integer verify; no rebuild, no corpus scan, no nested-loop node.",
      "cur13_resumed_intake" ->
        "Resumed intake funnel (job 2 of 2): every input is the persisted state's own parquet — index vocab/postings, folded counting stats, batch-1 census — plus batch 2 itself; the corpus and batch 1 appear NOWHERE. Probe equi-join, broadcast hit-id splits, group-grain counting merge, two small census joins.",
      "cur14_decontam_shingles" ->
        "Realistic-shingle decontamination: identical funnel shape to cur12 with the token set swapped to word 3-grams (one extra transform in the scan projection — shingling adds no stage); probe equi-join on posting tokens, broadcast quarantine splits, group-grain stats merge, full-join census so fully-quarantined arms stay visible.")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (auto-generated by graft.DumpPlans at sf0.1)\n\n")
    sb.append("Evidence for the plan-shape claims in README: pushed filters, pruned\n")
    sb.append("schemas, broadcast dimensions, partial aggregation, top-k without\n")
    sb.append("global sorts, and shuffle-free kernel stages.\n")
    Seq("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
      "q6_revenue_delta", "q18_big_orders", "q19_disjunctive",
      "q3b_priority_detail", "tx14_quality_classifier",
      "dd2_minhash_lsh", "dd3_simhash", "ss1_cosine_topk", "dd5_embed_cosine",
      "ss2x_lsh_exhaustive", "ss4_ivf_exhaustive",
      "rj1_range_join", "rj3_interval_overlap",
      "cc1_contamination", "bp1_boilerplate", "ch1_chunk", "tf1_term_stats",
      "i2_duration_agg", "ss5_pq_exhaustive", "dd10_incremental_dedup",
      "cur3_token_budget_pack", "s4_three_way_split",
      "q15_top_supplier", "q22_global_sales",
      "ss1b_cosine_topk_indexed", "pk1_sequence_pack", "lm1_bigram_score",
      "sk6_hll_registers", "cc3_containment",
      "sk8_quantile_sketch", "imp3_select_pack_mix",
      "imp7_prototype_prune", "dd20_d4_pipeline",
      "inc3_dim_churn", "sj3_jaccard_probe",
      "sj4_containment_probe", "inc5_retractable_join_view",
      "cur12_decontam_intake", "sj5_jaccard_index_reload",
      "cur13_resumed_intake", "cur14_decontam_shingles").foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name\n\n${notes(name)}\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    Files.writeString(Paths.get("/root/repo/PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
