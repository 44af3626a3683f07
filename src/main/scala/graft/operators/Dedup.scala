package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for large-scale training-data pipelines
  * (BASELINE.json north star; not present in the reference, which only has
  * `drop_duplicates`, slide/utils.py:818-826).
  *
  * Everything is expressed as shuffles over derived keys — the shapes that
  * survive 100 TB:
  *
  *  - exact dedup = one hash shuffle on the content key, map-side partial;
  *  - MinHash-LSH = explode shingles → one groupBy(doc) for signatures →
  *    explode bands → one self-join on (band, bandHash) whose input is
  *    tiny (docs × bands rows, not shingles) → exact verify on candidates
  *    only. No all-pairs stage ever materializes;
  *  - SimHash = same shape with 64 bit-sums and chunk-equality banding.
  *
  * Skew guard: near-dup clusters of size m produce m² candidate pairs in a
  * bucket; `maxBucket` drops degenerate buckets (e.g. boilerplate shingles)
  * the way production dedup pipelines do.
  */
object Dedup {

  /** Exact dedup on a set of columns: representative id + multiplicity per
    * distinct key — one hash aggregate, no sort.
    */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))

  /** distinct character n-grams of a text column as an array (codegen'd
    * higher-order functions; guarded for texts shorter than n)
    */
  def charNgrams(text: Column, n: Int): Column =
    when(length(text) < n, array().cast(ArrayType(StringType)))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))

  /** distinct word w-shingles ("a b c" windows). For prose-like corpora
    * word shingles are the right MinHash feature: char n-grams from a
    * small shared vocabulary give unrelated documents jaccard ~0.6 and
    * the banding degenerates to all-pairs (measured: 6.3M candidates on
    * 5k docs); word shingles put unrelated pairs below j=0.1.
    */
  def wordShingles(text: Column, w: Int): Column =
    graft.functions.Kernels.letBind(
      split(trim(regexp_replace(text, "\\s+", " ")), " ")) { ws =>
      // let-bound: otherwise the regex+split re-runs per shingle inside
      // the transform lambda (subexpression elimination stops at lambda
      // scope boundaries)
      when(size(ws) < w, array().cast(ArrayType(StringType)))
        .otherwise(array_distinct(transform(
          sequence(lit(1), size(ws) - (w - 1)),
          i => concat_ws(" ", slice(ws, i, lit(w))))))
    }

  /** Span-level exact dedup (the paragraph-dedup shape of C4/Dolma-style
    * pipelines, applied to word spans since the corpus is single-line):
    * each document is cut into non-overlapping `spanWords`-word spans; a
    * span INSTANCE survives iff it is the first occurrence of its
    * normalized content in corpus order (doc_id, span_idx). Returns one
    * row per document: total spans, kept spans, and the text rebuilt from
    * the kept spans (empty string when everything was seen before).
    *
    * Scale shape: explode → one hash-partitioned aggregate on the span
    * fingerprint (min (doc_id, span_idx) struct = the winner; partial
    * aggregation combines map-side) → equi-join winners back to the
    * exploded spans → re-group by document. Two shuffles on span rows,
    * both keyed on high-cardinality columns (fingerprint, doc_id); no
    * window over the full corpus, no driver state. At 100 TB the span
    * table is ~6× the document count and both shuffles stay balanced
    * because span fingerprints are near-unique.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int): DataFrame = {
    val ws = split(trim(regexp_replace(col(textCol), "\\s+", " ")), " ")
    val spans = df
      .select(col(idCol), posexplode(
        when(col(textCol).isNull || trim(col(textCol)) === "",
            array().cast(ArrayType(StringType)))
          .otherwise(transform(
            sequence(lit(0), ((size(ws) - 1) / spanWords).cast(IntegerType)),
            i => concat_ws(" ", slice(ws, i * spanWords + 1, lit(spanWords))))))
        .as(Seq("span_idx", "span")))
      .withColumn("fp", md5(lower(col("span"))))
    val winners = spans
      .groupBy("fp")
      .agg(min(struct(col(idCol), col("span_idx"))).as("w"))
      .select(col("fp"), col("w")(idCol).as("w_id"),
        col("w")("span_idx").as("w_idx"))
    spans.join(winners, Seq("fp"))
      .withColumn("kept",
        (col(idCol) === col("w_id") && col("span_idx") === col("w_idx"))
          .cast(IntegerType))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("kept")).as("n_kept"),
        concat_ws(" ", sort_array(collect_list(
          when(col("kept") === 1,
            struct(col("span_idx"), col("span"))))).getField("span"))
          .as("text_kept"))
  }

  private val P: Long = 2147483647L // 2^31 - 1, Mersenne prime

  /** deterministic MinHash coefficient streams (seeded): odd 64-bit
    * multipliers for multiply-shift hashing in Z_2^64 (overflow wraps by
    * design)
    */
  private[graft] def coeffs(numHashes: Int, seed: Long): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numHashes)((rnd.nextLong() | 1L, rnd.nextLong()))
  }

  /** One document's LSH band hashes (the per-doc core of
    * [[minHashBands]], shared with the streaming form
    * [[graft.streaming.DocStreams]]): FNV-1a word-`n`-shingle hashes →
    * `numHashes` multiply-shift minima → `bands` band hashes. Returns
    * an EMPTY array for texts under `n` words (they can never pair —
    * same contract as the batch kernel).
    */
  private[graft] def bandHashes(text: String, n: Int, numHashes: Int,
      bands: Int, cs: Array[(Long, Long)]): Array[Long] = {
    val words = if (text == null) Array.empty[String]
      else text.trim.split("\\s+").filter(_.nonEmpty)
    if (words.length < n) return Array.emptyLongArray
    val rowsPerBand = numHashes / bands
    val seen = new java.util.HashSet[Long]()
    var i = 0
    while (i <= words.length - n) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        if (j > 0) { h ^= ' '; h *= 0x100000001b3L }
        val w = words(i + j)
        var c = 0
        while (c < w.length) {
          h ^= w.charAt(c)
          h *= 0x100000001b3L
          c += 1
        }
        j += 1
      }
      seen.add(java.lang.Math.floorMod(h, P))
      i += 1
    }
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val it = seen.iterator()
    while (it.hasNext) {
      val g = it.next()
      var k = 0
      while (k < numHashes) {
        val v = (cs(k)._1 * g + cs(k)._2) >>> 16
        if (v < sig(k)) sig(k) = v
        k += 1
      }
    }
    Array.tabulate(bands) { b =>
      var bh = 0L
      var r2 = 0
      while (r2 < rowsPerBand) {
        bh = bh * 1000003L + sig(b * rowsPerBand + r2)
        r2 += 1
      }
      bh
    }
  }

  /** Distinct word-`n`-shingles of a text as a JVM set — the driver/state
    * twin of the [[wordShingles]] Column (identical normalization:
    * trim, whitespace-collapse, `n`-word windows joined by one space).
    */
  private[graft] def shingleSet(text: String, n: Int): java.util.HashSet[String] = {
    val out = new java.util.HashSet[String]()
    val words = if (text == null) Array.empty[String]
      else text.trim.split("\\s+").filter(_.nonEmpty)
    var i = 0
    while (i <= words.length - n) {
      val sb = new java.lang.StringBuilder(words(i))
      var j = 1
      while (j < n) { sb.append(' ').append(words(i + j)); j += 1 }
      out.add(sb.toString)
      i += 1
    }
    out
  }

  /** Integer-exact Jaccard threshold test over word-`n`-shingles —
    * the in-state verification the streaming dedup runs, identical
    * arithmetic to [[verifyJaccard]]'s Column form.
    */
  private[graft] def jaccardAtLeast(a: String, b: String, n: Int,
      threshNum: Int, threshDen: Int): Boolean = {
    val sa = shingleSet(a, n)
    val sb = shingleSet(b, n)
    if (sa.isEmpty || sb.isEmpty) return false
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    inter.toLong * threshDen >= (sa.size.toLong + sb.size - inter) * threshNum
  }

  /** Fan a small input out to the session's core count before a
    * compute-heavy per-row kernel. sf-scale parquet arrives as a single
    * row group per table — Spark's byte-range splits hand a row group to
    * exactly one task, so the scan (and any kernel fused onto it) runs
    * on ONE core no matter how many the session has (measured: the dd2
    * signature kernel alone is 0.34 s serial vs 0.17 s fanned at sf0.1,
    * and a 26 MB 32-file replica bin-packs to 2 splits). The gate is
    * scale-adaptive (guide §2): fan out only when the size estimate says
    * the scan cannot reach ~half the cores worth of splits AND the input
    * is small enough that one round-robin exchange is ~free relative to
    * the kernel; at real scale the scan already fans out and this is a
    * no-op (unknown-size sources estimate huge and are left alone).
    *
    * The gate is priced by optimizing `df`'s plan on the driver
    * (`optimizedPlan.stats`), once per call. The current callers pass
    * scan-rooted frames (a projection or filter over a table), where
    * that pass is cheap; a deep input pays a full Catalyst optimization
    * of its subtree here, before the returned frame is planned again.
    */
  private[graft] def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val split = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
    if (bytes <= split * cores / 2 && bytes <= BigInt(2L << 30))
      // hash-partition on a deterministic whole-row hash, NOT round-robin:
      // a keyless repartition first pays a local sort of its input on the
      // (single) map task so retries reproduce the assignment (guide
      // §2.5/SPARK-23207) — measured 0.58 s serial on a 600k-row scan
      // task, dwarfing the kernel it parallelizes. The row hash is
      // deterministic under retries and near-unique, so the spread is
      // uniform without any sort. Names are quoted so a column named
      // with a dot or a backtick is not re-parsed as a path.
      df.repartition(cores, xxhash64(df.columns.map(c =>
        col("`" + c.replace("`", "``") + "`")): _*))
    else df
  }

  /** MinHash signatures + LSH banding in a single partition-local typed
    * pass: (id, band, bhash) — `bands` rows per doc, NO shuffle (the
    * small-input fan-out above is the only exchange it can introduce).
    *
    * Why `mapPartitions` and not column expressions: the hash kernel is
    * docs × shingles × numHashes long-multiplies (hundreds of millions per
    * small partition). Spark's higher-order functions evaluate their
    * lambdas interpreted per element, and an explode→groupBy(id) shape
    * shuffles every shingle row; a typed per-partition loop JIT-compiles
    * to raw long arithmetic and emits only docs×bands rows. (Measured:
    * 46s → ~2s at sf0.1.) This is the "genuine per-partition imperative
    * logic" exception — everything before and after stays declarative.
    */
  def minHashBands(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
      seed: Long = 42L): DataFrame =
    bandsKernel(fanOut(df), idCol, textCol, n, numHashes, bands, seed)

  /** [[minHashBands]] without the fan-out — for callers that already
    * hold a fanned-out frame they reuse elsewhere in the same plan.
    */
  private def bandsKernel(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, seed: Long): DataFrame = {
    val cs = coeffs(numHashes, seed)
    val out = StructType(Seq(
      StructField("id", LongType), StructField("band", IntegerType),
      StructField("bhash", LongType)))
    val idIdx = df.schema.fieldIndex(idCol)
    val txtIdx = df.schema.fieldIndex(textCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(idIdx)
        // distinct word-shingle FNV-1a hashes → multiply-shift minima
        // (no division in the hot loop: floorMod costs a ~30-cycle divide
        // per shingle×hash; exact verify makes the hash family purely a
        // recall knob, and recall is spec-gated) → band hashes, all in
        // the shared per-doc kernel
        val bh = bandHashes(r.getString(txtIdx), n, numHashes, bands, cs)
        bh.indices.iterator.map(b => org.apache.spark.sql.Row(id, b, bh(b)))
      }
    }(org.apache.spark.sql.Encoders.row(out))
  }

  /** Candidate pairs from LSH buckets (ida < idb, distinct): one shuffle
    * groups each (band, bhash) bucket, singleton buckets vanish in the
    * aggregation, and pairs are generated bucket-locally. `maxBucket`
    * drops degenerate buckets (m members → m² pairs).
    */
  def lshCandidates(bandsDf: DataFrame, maxBucket: Int = 1000): DataFrame = {
    // the bucket shuffle carries a SINGLE compacted long key: (band,
    // bhash) folds to one xxhash64 before the exchange, so each shuffle
    // row is (bkey, id) — two longs — instead of three columns. A
    // 64-bit fold can merge two distinct buckets (~n²/2⁶⁵ for n
    // buckets: ~1e-4 even at 60M), which only ADDS candidates the
    // exact verify then rejects — the verified pair set is unchanged
    // (the superset property is measured in DD2_MEASURE.json, bytes
    // and pairs, 10×/100×). The theoretical loss path — a merge
    // pushing a bucket past maxBucket — needs two already-degenerate
    // buckets to collide in 2⁻⁶⁴, far below the recall knob maxBucket
    // itself already is.
    bandsDf.select(xxhash64(col("band"), col("bhash")).as("bkey"), col("id"))
      .groupBy("bkey")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(col("ids")).as("ida"), col("ids"))
      .select(col("ida"), explode(col("ids")).as("idb"))
      .filter(col("ida") < col("idb"))
      .distinct()
  }

  /** Exact-verify candidate pairs against true n-gram Jaccard with integer
    * arithmetic (`threshNum/threshDen`, e.g. 4/5 = 0.8) — no float
    * boundary issues against the oracle.
    */
  def verifyJaccard(candidates: DataFrame, df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshNum: Int = 4, threshDen: Int = 5,
      shingler: (Column, Int) => Column = wordShingles): DataFrame = {
    // shingle only documents that appear in a candidate pair — at scale
    // candidates are a vanishing fraction of the corpus. NO distinct on
    // the ids: a left-semi build side tolerates duplicate keys (the
    // hashed relation dedups on build), and the distinct was a whole
    // extra exchange+stage per execution (guide §2.4; measured r17:
    // dd2 warm 0.85 → 0.75 s at sf0.1, identical pair set)
    val candIds = candidates.select(col("ida").as("id"))
      .union(candidates.select(col("idb").as("id")))
    // the shingle sets join in twice (ida side, idb side); materialize
    // them once — they cover candidate docs only, so this is tiny
    val sets = df.select(col(idCol).as("id"), col(textCol))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"), shingler(col(textCol), n).as("grams"))
      .localCheckpoint(true)
    val withSets = candidates
      .join(sets.withColumnRenamed("id", "ida").withColumnRenamed("grams", "ga"), "ida")
      .join(sets.withColumnRenamed("id", "idb").withColumnRenamed("grams", "gb"), "idb")
    withSets
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("na", size(col("ga")))
      .withColumn("nb", size(col("gb")))
      .filter(col("inter") * threshDen >= (col("na") + col("nb") - col("inter")) * threshNum)
      .select("ida", "idb")
  }

  /** Full MinHash-LSH near-dup pipeline over word `n`-shingles:
    * shingle → sign → band → bucket group → exact verify.
    * Output: verified near-dup pairs.
    *
    * Default 64 hashes / 16 bands (4 rows per band): candidate
    * probability 1−(1−j⁴)^16 keeps miss < 2e-12 for true pairs (j ≥
    * 0.95 on this corpus) and < 3e-4 even at the j = 0.8 verify
    * threshold, at half the signature-kernel cost of 128/32 (measured
    * 1.7 → 1.1 s at sf0.1 with identical output — the exact verify
    * makes band count a recall knob only, and recall is oracle-gated).
    */
  def minHashDedup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshNum: Int = 4, threshDen: Int = 5): DataFrame = {
    // Small-corpus fast path (r18, guide §1/§2.4): ONE action, zero
    // checkpoints. The measured floor at bench scale is per-action
    // planning + AQE stage rounds (~0.1 s per fresh QueryExecution,
    // ~0.05 s per stage round — ProfileJobFloor/ProfileStageFloor), not
    // data: the shipped shape paid 3 eager actions per execution. Here
    // the fanned-out input is consumed by the kernel AND both verify
    // sides of one plan (AQE reuses the exchange), the candidate pairs
    // feed the plan exactly once as the build of a broadcast pair-join,
    // and the exact-verify grams evaluate per pair row in parallel.
    // Measured (ProfileDd2R18, identical pair sets asserted): 0.70 →
    // 0.53 s warm at sf0.1.
    //
    // The gate: broadcasting candidate pairs (+ their texts on one side)
    // is only safe when the corpus is small enough to bound them — past
    // `spark.graft.dedup.smallCorpusBytes` (default 512 MB; candidate
    // pairs of a 512 MB corpus are at most a few M rows × ~150 B) the
    // shipped shape runs: proxy-only shuffles (guide §8), checkpointed
    // candidates, SMJ-degradable semi-join verify.
    val smallCap = BigInt(df.sparkSession.conf
      .get("spark.graft.dedup.smallCorpusBytes", (512L << 20).toString).toLong)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= smallCap) {
      val d = fanOut(df)
      val c = lshCandidates(bandsKernel(d, idCol, textCol, n, numHashes, bands, 42L))
      val ta = d.select(col(idCol).as("ida"), col(textCol).as("_ta"))
      val j1 = ta.join(broadcast(c), Seq("ida"))
      val tb = d.select(col(idCol).as("idb"), col(textCol).as("_tb"))
      val j2 = tb.join(broadcast(j1), Seq("idb"))
        .withColumn("ga", wordShingles(col("_ta"), n))
        .withColumn("gb", wordShingles(col("_tb"), n))
      j2.withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
        .withColumn("na", size(col("ga")))
        .withColumn("nb", size(col("gb")))
        .filter(col("inter") * threshDen >= (col("na") + col("nb") - col("inter")) * threshNum)
        .select("ida", "idb")
    } else {
      // candidates feed the plan THREE times (candIds union twice + the
      // pair join) — without materialization the whole signature+bucket
      // pipeline recomputes per appearance. The frame is tiny (pairs that
      // share a bucket), so an eager local checkpoint is the right trade
      // at scale. (A lazy .cache() measures WORSE here — the three
      // consuming stages run concurrently inside one action and race the
      // cache population, each recomputing the full signature lineage:
      // 1.48 → 2.0 s at sf0.1.)
      val cands = lshCandidates(minHashBands(df, idCol, textCol, n, numHashes, bands))
        .localCheckpoint(true)
      verifyJaccard(cands, df, idCol, textCol, n, threshNum, threshDen)
    }
  }

  /** Incremental near-dup detection: which documents of a NEW `batch`
    * duplicate the existing `corpus` — or each other? This is the shape
    * production dedup actually runs day to day: the corpus band index is
    * precomputed (and ~10³–10⁶× larger than the batch), so the batch's
    * bands probe it with one (band, bhash) equi-join and the corpus is
    * NEVER paired against itself — cost scales with the batch, not the
    * corpus². Candidates are exact-verified like every other pipeline
    * here, so output = all pairs (ida < idb, ≥1 side in batch) with
    * n-shingle Jaccard ≥ threshold.
    *
    * Ids must be disjoint between corpus and batch (re-ingests arrive
    * under new ids by construction in any content-addressed pipeline).
    */
  def incrementalNearDups(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshNum: Int = 4, threshDen: Int = 5): DataFrame = {
    val cb = minHashBands(corpus, idCol, textCol, n, numHashes, bands)
    val bb = minHashBands(batch, idCol, textCol, n, numHashes, bands)
    // batch bands probe (corpus ∪ batch) bands: batch-corpus pairs AND
    // batch-batch pairs fall out of the same join; corpus-corpus never
    // materializes. Normalize to ida < idb, dedup across bands.
    val probe = bb.select(col("band"), col("bhash"), col("id").as("_pid"))
    val index = cb.unionByName(bb)
      .select(col("band"), col("bhash"), col("id").as("_iid"))
    val cands = probe.join(index, Seq("band", "bhash"))
      .filter(col("_pid") =!= col("_iid"))
      .select(least(col("_pid"), col("_iid")).as("ida"),
        greatest(col("_pid"), col("_iid")).as("idb"))
      .distinct()
      .localCheckpoint(true) // feeds verifyJaccard three times
    verifyJaccard(cands, corpus.unionByName(batch), idCol, textCol,
      n, threshNum, threshDen)
  }

  /** Connected components over near-dup pairs → cluster labels (minimum
    * member id), the step that turns pairs into dedup decisions ("keep
    * the cluster representative, drop the rest").
    *
    * Iterative label propagation: every node starts labeled with itself;
    * each round takes the min label across neighbors; converges in
    * O(component diameter) rounds (near-dup clusters are tiny — chains of
    * re-crawls — so a handful of distributed join+agg rounds, each a
    * shuffle on node id). The driver only sees one convergence counter
    * per round, never the data.
    *
    * Output: (id, cluster) for every node that appears in a pair.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val edges = pairs.select(col("ida").as("a"), col("idb").as("b"))
      .union(pairs.select(col("idb").as("a"), col("ida").as("b")))
      .distinct().cache()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("cluster", col("id"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // neighbor labels: for each edge a→b, b's current label.
      // localCheckpoint (not cache) each round: a cache leaves the
      // LOGICAL plan nested 3 levels deeper per round (next references
      // labels twice + the convergence probe once), which is exponential
      // tree growth — at ~15+ rounds the optimizer/explain string alone
      // OOMs. Checkpointing truncates the plan to the materialized blocks.
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "b"), Seq("b"))
        .groupBy(col("a").as("id"))
        .agg(min(col("cluster")).as("ncluster"))
      val next = labels.join(neighborMin, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("cluster"), coalesce(col("ncluster"), col("cluster"))).as("cluster"))
        .localCheckpoint(eager = true)
      val changed = next.join(labels.withColumnRenamed("cluster", "old"), Seq("id"))
        .filter(col("cluster") =!= col("old")).limit(1).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    // wrong labels are worse than no labels: refuse to return unconverged
    if (!converged) {
      edges.unpersist()
      throw new graft.GraftException(
        s"connectedComponents did not converge in $maxIter iterations " +
          "(component diameter too large — raise maxIter, or use " +
          "connectedComponentsLogStar whose rounds are O(log n))")
    }
    // labels is already a materialized localCheckpoint (truncated
    // lineage); its blocks are reclaimed by the ContextCleaner when the
    // returned frame is GC'd
    edges.unpersist()
    labels
  }

  /** Connected components in O(log n) rounds via alternating large-star /
    * small-star (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii,
    * "Connected Components in MapReduce and Beyond", ACM SoCC 2014).
    *
    * [[connectedComponents]]' label propagation needs one round per unit
    * of component DIAMETER — fine for blob-shaped near-dup clusters, but a
    * re-crawl CHAIN of length d (page edited once per crawl, each version
    * near-dup only with its neighbors) costs d shuffles. Star contraction
    * converges in O(log d) rounds regardless of shape:
    *
    *  - large-star: every node connects its LARGER neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: every node connects its smaller neighbors (and
    *    itself) to the minimum of its smaller neighbors.
    *
    * Both are one aggregate + one self-join on node id — the aggregate's
    * shuffle partitioning is reused by the join, so each half-round is a
    * single shuffle of the current edge set. The fixpoint is the star
    * forest: every node points at its component minimum. Output matches
    * [[connectedComponents]] exactly: (id, cluster=min member id) for
    * every node that appears in a pair.
    */
  def connectedComponentsLogStar(pairs: DataFrame, maxIter: Int = 30): DataFrame =
    ccLogStar(pairs, maxIter)._1

  /** [[connectedComponentsLogStar]] plus the number of rounds used —
    * exposed so the spec can assert the logarithmic bound on a long chain.
    */
  private[graft] def ccLogStar(pairs: DataFrame, maxIter: Int): (DataFrame, Int) = {
    // materialize the raw pair set first: (1) nodes and edges below each
    // read it, so a complex upstream pipeline (LSH, semi-join lineage)
    // runs once, not twice; (2) Catalyst's constraint inference
    // mis-rewrites union constraints (key-not-found in
    // UnionBase.rewriteConstraints) when the greatest/least + distinct
    // stack sits directly on self-referencing union lineage — the
    // barrier hands it a clean LogicalRDD instead
    val src = pairs.select(col("ida"), col("idb")).localCheckpoint(eager = true)
    val nodes = src.select(col("ida").as("id"))
      .union(src.select(col("idb").as("id")))
      .distinct().localCheckpoint(eager = true)

    // canonical edge orientation: a > b (both star steps emit it this way)
    var edges = src
      .select(greatest(col("ida"), col("idb")).as("a"),
        least(col("ida"), col("idb")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint(eager = true)

    // large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u.
    // Every edge survives via its smaller endpoint's neighborhood.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy("a").agg(min("b").as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      sym.join(mins, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
    }

    // small-star(u): m = min of u's smaller neighbors N(u); emit (v, m)
    // for v ∈ N(u) ∪ {u} \ {m}. Input is already oriented a > b.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("a").agg(min("b").as("m"))
      e.join(mins, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .union(mins.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }

    // converged ⟺ the round was a no-op AND the set is a star forest
    // (one parent per child, no parent is itself a child) — the second
    // clause makes the returned labels correct by construction rather
    // than by appeal to the fixpoint theorem
    def isStarForest(e: DataFrame): Boolean = {
      val oneParent = e.groupBy("a").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).limit(1).count() == 0
      lazy val rootsFlat = e.select(col("b").as("a")).join(e, Seq("a"), "left_semi")
        .limit(1).count() == 0
      oneParent && rootsFlat
    }
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(eager = true)
      // both sides are distinct canonical sets: equal ⟺ same count and
      // no row of next outside edges
      converged = next.count() == edges.count() &&
        next.exceptAll(edges).limit(1).count() == 0 &&
        isStarForest(next)
      edges = next
      iter += 1
    }
    if (!converged) {
      throw new graft.GraftException(
        s"connectedComponentsLogStar did not converge in $maxIter rounds " +
          "(theoretical bound is O(log n) — raise maxIter)")
    }
    // fixpoint = star forest: every non-root points at its component min
    val labels = nodes
      .join(edges.select(col("a").as("id"), col("b").as("parent")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("parent"), col("id")).as("cluster"))
      .localCheckpoint(eager = true)
    (labels, iter)
  }

  /** Incremental cluster maintenance — the daily-ingest companion to
    * [[incrementalNearDups]]: merge a batch's new near-dup pairs into an
    * existing component labeling WITHOUT re-clustering the corpus.
    *
    * Only components touched by a new pair can change. Their star edges
    * (member → root) are pulled with one semi-join against the
    * batch-sized touched set, unioned with the new pairs, and
    * re-contracted with [[connectedComponentsLogStar]]; every other label
    * passes through untouched. Replacing a component's internal edges by
    * its star preserves connectivity, so the result equals a full
    * re-clustering over (old pairs ∪ new pairs) — spec-gated. Work
    * scales with the batch and its affected clusters, never the corpus.
    *
    * `labels`: (id, cluster) as produced by either components operator;
    * `newPairs`: (ida, idb) — every pair involving ≥1 batch doc
    * (corpus↔batch plus batch↔batch).
    */
  def incrementalComponents(labels: DataFrame, newPairs: DataFrame): DataFrame = {
    val touched = newPairs.select(col("ida").as("id"))
      .union(newPairs.select(col("idb").as("id"))).distinct()
    val affected = labels.join(touched, Seq("id"), "left_semi")
      .select(col("cluster")).distinct()
    val subEdges = labels.join(affected, Seq("cluster"), "left_semi")
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("ida"), col("cluster").as("idb"))
    val relabeled = connectedComponentsLogStar(subEdges.unionByName(newPairs))
    labels.join(affected, Seq("cluster"), "left_anti")
      .select(col("id"), col("cluster"))
      .unionByName(relabeled)
  }

  /** Edit-distance near-dup pairs with LOSSLESS length blocking:
    * `levenshtein(a,b) >= |len(a)-len(b)|`, so pairs within `maxDist`
    * must sit in the same or adjacent length band of width `maxDist+1`
    * — the candidate join key is the band, never a cross product, and
    * no true pair can be missed. Each left row probes its own band and
    * the one below; the verify step is the exact levenshtein.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int): DataFrame = {
    val width = maxDist + 1
    val base = df.select(col(idCol).as("id"), col(textCol).as("t"),
      expr(s"CAST(length(t) AS BIGINT) div $width").as("band"))
    // each row probes its own band and the one below; every qualifying
    // unordered pair meets at least once in SOME order, so canonicalize
    // to (min, max) and dedupe — no order-dependent filter to get wrong
    val probe = base.select(col("id").as("ida"), col("t").as("ta"),
      explode(array(col("band"), col("band") - 1L)).as("band"))
    probe.join(base.select(col("id").as("idb"), col("t").as("tb"), col("band")),
      Seq("band"))
      .filter(col("ida") =!= col("idb"))
      .filter(levenshtein(col("ta"), col("tb")) <= maxDist)
      .select(least(col("ida"), col("idb")).as("ida"),
        greatest(col("ida"), col("idb")).as("idb"))
      .distinct()
  }

  /** The apply step: drop every near-dup cluster member except its
    * representative (minimum id). Composes the full pipeline —
    * MinHash-LSH pairs → connected components → anti-join — and returns
    * the deduplicated corpus. The anti-join's right side is only the
    * dropped ids (vanishingly small at scale), so Catalyst broadcasts it.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshNum: Int = 4, threshDen: Int = 5): DataFrame = {
    val pairs = minHashDedup(df, idCol, textCol, n, numHashes, bands, threshNum, threshDen)
    val clusters = connectedComponents(pairs)
    val toDrop = clusters.filter(col("id") =!= col("cluster")).select(col("id"))
    df.join(toDrop, df(idCol) === toDrop("id"), "left_anti")
  }

  /** 64-bit SimHash over whitespace tokens: explode tokens → 64 signed
    * bit-sums per doc → reassemble the sign bits into one long.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(array_distinct(split(trim(col(textCol)), "\\s+"))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("id"), xxhash64(col("tok")).as("h"))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"b$i")
    }
    val sums = toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map { i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_ + _)
    sums.select(col("id"), sig.as("simhash"))
  }

  /** one row per (doc, chunk): the simhash split into `nChunks` equal bit
    * slices — the blocking key space for [[simHashPairs]] and the
    * dropped-bucket audit in [[simHashDedup]].
    */
  private def simHashChunks(sigs: DataFrame, nChunks: Int): DataFrame = {
    require(64 % nChunks == 0, s"nChunks must divide 64, got $nChunks")
    val cb = 64 / nChunks // bits per chunk
    val mask = if (cb == 64) -1L else (1L << cb) - 1L
    sigs.select(col("id"), col("simhash"),
      explode(array((0 until nChunks).map(k =>
        struct(lit(k).as("chunk"),
          shiftright(col("simhash"), k * cb).bitwiseAND(mask).as("cv"))): _*)).as("cc"))
      .select(col("id"), col("simhash"), col("cc.chunk").as("chunk"), col("cc.cv").as("cv"))
  }

  /** SimHash near-dup candidates by chunk equality (pigeonhole: any pair
    * within hamming distance `nChunks - 1` differs in fewer chunks than
    * exist, so it shares ≥1 — candidate recall is GUARANTEED, not
    * probabilistic, for `maxHamming ≤ nChunks - 1`), then exact hamming
    * filter ≤ maxHamming. More chunks ⇒ wider guaranteed radius but
    * shallower buckets (64/nChunks bits each), so more false candidates;
    * the `maxBucket` guard caps degenerate chunk values the same way
    * [[lshCandidates]] caps LSH buckets.
    */
  def simHashPairs(sigs: DataFrame, maxHamming: Int = 3, nChunks: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    require(maxHamming <= nChunks - 1,
      s"pigeonhole banding only guarantees recall for maxHamming <= ${nChunks - 1}; " +
        s"got $maxHamming with $nChunks chunks")
    val chunked = simHashChunks(sigs, nChunks)
    // bucket-local pair generation with the same degenerate-bucket guard
    // as MinHash-LSH (a chunk value shared by m docs yields m² pairs)
    val buckets = chunked.groupBy("chunk", "cv")
      .agg(sort_array(collect_list(struct(col("id"), col("simhash")))).as("ms"))
      .filter(size(col("ms")).between(2, maxBucket))
    buckets
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Full SimHash near-dup pipeline, gated the same way as
    * [[minHashDedup]]: SimHash blocking (chunk-equality candidates, exact
    * hamming ≤ maxHamming) followed by the exact n-shingle Jaccard verify.
    * Output = verified near-dup pairs, which equals the brute-force
    * all-pairs Jaccard oracle whenever every true pair sits within
    * `maxHamming` simhash bits (the recall-1 argument; measured margin on
    * this corpus is asserted in LlmOpsSpec). Same scale shape as MinHash:
    * one signature aggregation, one chunk-bucket shuffle, candidate-only
    * verification — no all-pairs stage.
    *
    * Defaults are sized for THIS corpus: its documents are short (~10–100
    * tokens), so true j ≥ 0.8 pairs scatter up to 12 of 64 simhash bits
    * (measured; ProbeSimHash) and the guaranteed-recall radius must be 15
    * (16 chunks of 4 bits). Long-document corpora concentrate near-dups
    * within a few bits — there, tighten to the classic nChunks=4,
    * maxHamming=3 point where chunk buckets are 16 bits deep and the
    * candidate count stays near-linear at 100 TB.
    *
    * The operating-point tradeoff is explicit: with 4-bit chunks a chunk
    * value has only 16 possible values, so average bucket depth is ~N/16
    * and the pair stage is near-quadratic — the 16×4 point is only valid
    * for corpora small enough that N/16 ≤ `maxBucket` (≈160k docs at the
    * default cap). Beyond that, buckets overflow; since silently dropping
    * them would void the pigeonhole recall guarantee that dd3's oracle
    * equality rests on, this path AUDITS the blocking stage: it counts
    * over-`maxBucket` buckets and fails (`strictRecall = true`, default)
    * or warns to stderr (`false`, degrading to best-effort recall like
    * plain LSH). The audit reuses the checkpointed signatures, so its
    * cost is one count over the chunk aggregation — not a second scan of
    * the corpus.
    */
  def simHashDedup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 15, nChunks: Int = 16, n: Int = 3,
      threshNum: Int = 4, threshDen: Int = 5, maxBucket: Int = 10000,
      strictRecall: Boolean = true): DataFrame = {
    val sigs = simHash(df, idCol, textCol)
      .localCheckpoint(true) // feeds the bucket audit + the pair stage
    val dropped = simHashChunks(sigs, nChunks)
      .groupBy("chunk", "cv").count()
      .filter(col("count") > maxBucket).count()
    if (dropped > 0) {
      val msg = s"simHashDedup: $dropped chunk bucket(s) exceed maxBucket=" +
        s"$maxBucket and would be dropped — the pigeonhole recall guarantee " +
        s"does not hold at this (nChunks=$nChunks, corpus size) operating " +
        "point; use deeper chunks (smaller nChunks) or raise maxBucket"
      if (strictRecall) throw new IllegalStateException(msg)
      else Console.err.println(s"WARN $msg")
    }
    val cands = simHashPairs(sigs, maxHamming, nChunks, maxBucket)
      .select("ida", "idb")
      .localCheckpoint(true) // feeds verifyJaccard three times (see minHashDedup)
    verifyJaccard(cands, df, idCol, textCol, n, threshNum, threshDen)
  }

  /** EXACT duplicated-substring statistics, the character-grain dedup
    * signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499): for every document, how
    * many of its length-`l` character windows occur at least twice in
    * the corpus (anywhere — another document or a repeat within itself),
    * and how many characters lie inside at least one such duplicated
    * window (the fraction that exact-substring dedup would cut).
    *
    * Distributed shape: one row per character position (hash of the
    * window starting there — corpus-bytes grain, LINEAR, the same order
    * of work as tokenization; the paper's suffix array is the
    * constant-factor-better alternative), one count aggregate over
    * window hashes (duplicated hashes are a tiny minority), a semi-join
    * back, and a per-document interval union. The union-length is the
    * one-pass running-max trick: each interval contributes its extension
    * beyond the furthest end seen so far, so no island materialization.
    * Per-doc windows are bounded by document length — the partitionBy
    * window never serializes the corpus.
    *
    * Output: (id, n_chars, total_windows, dup_windows, dup_pm,
    * covered_chars), docs shorter than `l` excluded. All integers.
    */
  /** (id, _pos) of every length-`l` window of `docs`(_txt) whose hash
    * occurs >= 2 times in the corpus — shared by
    * [[duplicatedSubstringStats]] and [[cutDuplicatedSubstrings]].
    */
  private def dupWindowPositions(docs: DataFrame, idCol: String,
      l: Int): DataFrame = {
    val wins = docs
      .select(col(idCol),
        explode(sequence(lit(1L),
          (length(col("_txt")) - lit(l - 1)).cast(LongType))).as("_pos"),
        col("_txt"))
      .select(col(idCol), col("_pos"),
        md5(col("_txt").substr(col("_pos"), lit(l))).as("_wh"))
    val dupHashes = wins.groupBy("_wh").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= 2).select("_wh")
    wins.join(dupHashes, "_wh").select(col(idCol), col("_pos"))
  }

  def duplicatedSubstringStats(df: DataFrame, idCol: String,
      textCol: String, l: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(l >= 2, "window length must be >= 2")
    val docs = df.select(col(idCol), col(textCol).as("_txt"))
      .filter(length(col("_txt")) >= l)
    val dup = dupWindowPositions(docs, idCol, l)
    val w = Window.partitionBy(idCol).orderBy("_pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val end = col("_pos") + (l - 1)
    val contrib = greatest(lit(0L),
      end - greatest(coalesce(max(end).over(w), lit(0L)), col("_pos") - 1))
    val stats = dup.withColumn("_contrib", contrib)
      .groupBy(idCol)
      .agg(count(lit(1)).as("dup_windows"),
        sum(col("_contrib")).as("covered_chars"))
    docs.join(stats, Seq(idCol), "left")
      .select(col(idCol),
        length(col("_txt")).cast(LongType).as("n_chars"),
        (length(col("_txt")) - lit(l - 1)).cast(LongType).as("total_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("covered_chars"), lit(0L)).as("covered_chars"))
      // `div`, not `/`: Column./ on longs is DOUBLE division
      .withColumn("dup_pm", expr("dup_windows * 1000 div total_windows"))
  }

  /** The APPLY step of exact-substring dedup (Lee et al. 2022): rewrite
    * each document with every duplicated length-`l` window REMOVED — the
    * union of duplicated windows is merged into maximal islands
    * (overlapping or adjacent), and the text is rebuilt from the gaps
    * between them. Documents without duplicated windows (including those
    * shorter than `l`) pass through unchanged.
    *
    * Distributed shape: [[dupWindowPositions]]'s linear scan, island
    * merging by the running-max window per document (per-doc-bounded
    * partitions), then one per-doc aggregation that assembles the kept
    * segments in order — the only text reconstruction is doc-grain.
    *
    * Output: (id, kept text as `textCol`).
    */
  def cutDuplicatedSubstrings(df: DataFrame, idCol: String,
      textCol: String, l: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(l >= 2, "window length must be >= 2")
    val base = df.select(col(idCol), col(textCol).as("_txt"))
    val docs = base.filter(length(col("_txt")) >= l)
    val dup = dupWindowPositions(docs, idCol, l)

    val wPrev = Window.partitionBy(idCol).orderBy("_pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prevMax = max(col("_pos") + (l - 1)).over(wPrev)
    // merge overlapping OR adjacent covered intervals into islands
    val marked = dup.withColumn("_start",
      (col("_pos") > coalesce(prevMax, lit(Long.MinValue)) + 1L)
        .cast(LongType))
    val wIsl = Window.partitionBy(idCol).orderBy("_pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    val islands = marked
      .withColumn("_isl", sum(col("_start")).over(wIsl))
      .groupBy(col(idCol), col("_isl"))
      .agg(min(col("_pos")).as("_s"), (max(col("_pos")) + (l - 1)).as("_e"))
    // per island: the kept gap BEFORE it; per doc: plus the tail
    val wLag = Window.partitionBy(idCol).orderBy("_s")
    val gaps = islands
      .withColumn("_pe", coalesce(lag(col("_e"), 1).over(wLag), lit(0L)))
      .join(docs, Seq(idCol))
      .select(col(idCol), col("_s"),
        col("_txt").substr((col("_pe") + 1L).cast(IntegerType),
          (col("_s") - col("_pe") - 1L).cast(IntegerType)).as("_seg"),
        col("_e"))
    val rebuilt = gaps
      .groupBy(idCol)
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("_s"), col("_seg")))),
          x => x.getField("_seg")), "").as("_head"),
        max(col("_e")).as("_maxe"))
      .join(docs, Seq(idCol))
      .select(col(idCol),
        concat(col("_head"),
          col("_txt").substr((col("_maxe") + 1L).cast(IntegerType),
            length(col("_txt")))).as("_kept"))
    base.join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("_kept"), col("_txt")).as(textCol))
  }

  /** Content-defined chunking (the LBFS/rsync family — Muthitacharoen
    * et al., SOSP 2001; the FastCDC refinement is the same boundary
    * rule with gear tables): split each document at every position
    * where a polynomial rolling hash of the LAST `w` characters is
    * 0 mod `modulus`, plus a final cut at end-of-text. Boundaries
    * depend only on a `w`-char local window, so an edit early in a
    * document shifts every FIXED-size block but leaves all
    * content-defined chunks outside the edit window byte-identical —
    * the property that makes chunk-grain dedup robust to edits, which
    * doc-grain (dd1) and window-grain (dd15) dedup are not.
    *
    * Hash at position j (1-based): sum of `code(j-i) * base^i` for
    * i in [0, w), over Unicode code points, in Long arithmetic (no
    * overflow below code points ~2^41/base^(w-1)). Expected chunk
    * length is `modulus` characters.
    *
    * Distributed shape: three narrow projections (code-point array,
    * cut-position array, chunk array) then one explode — per-row work
    * linear in characters with a constant `w`-term window, no shuffle
    * introduced here at all; downstream chunk-hash aggregation is the
    * only exchange, exactly dd15's corpus-bytes-grain profile.
    *
    * Output: input columns + (`chunk_idx` 1-based, `chunk`);
    * concatenating chunks in chunk_idx order rebuilds the text exactly
    * (DedupSpec property). Empty text yields zero chunks.
    */
  def contentDefinedChunks(df: DataFrame, idCol: String, textCol: String,
      w: Int = 4, base: Int = 31, modulus: Int = 16): DataFrame = {
    require(w >= 2 && base >= 2 && modulus >= 2, "degenerate CDC params")
    val Seq(codesC, cutsC) = Cols.fresh(Seq("_codes", "_cuts"), df.columns)
    val txt = col(textCol)
    val n = length(txt).cast(LongType)
    // per-char code points; slice(..) drops any trailing "" artifact of
    // split-by-empty-regex and yields [] for empty text
    val codes = transform(
      slice(split(txt, ""), lit(1), length(txt)), ch => ascii(ch).cast(LongType))
    val pows = (0 until w).map(i => math.pow(base.toDouble, i.toDouble).toLong)
    def hashAt(j: Column, cs: Column): Column =
      pows.zipWithIndex.map { case (p, i) =>
        element_at(cs, (j - i).cast(IntegerType)) * p
      }.reduce(_ + _)
    val inner = when(n < w, array().cast(ArrayType(LongType)))
      .otherwise(filter(sequence(lit(w.toLong), n),
        j => pmod(hashAt(j, col(codesC)), lit(modulus.toLong)) === 0L))
    val cuts = when(n === 0L, array().cast(ArrayType(LongType)))
      .otherwise(array_distinct(concat(inner, array(n))))
    // index-lambda transform (i is 0-based): prev cut = cuts(i), or 0 for
    // the first chunk — no sequence() call, so empty cuts stays empty
    val chunks = transform(col(cutsC), (c, i) => {
      val prev = when(i === 0, lit(0L))
        .otherwise(element_at(col(cutsC), i.cast(IntegerType)))
      struct((i + 1).cast(LongType).as("chunk_idx"),
        txt.substr((prev + 1L).cast(IntegerType),
          (c - prev).cast(IntegerType)).as("chunk"))
    })
    df.withColumn(codesC, codes)
      .withColumn(cutsC, cuts)
      .select(df.columns.map(col) :+ explode(chunks).as("_c"): _*)
      .select(df.columns.map(col) :+ col("_c.chunk_idx") :+ col("_c.chunk"): _*)
  }
}
