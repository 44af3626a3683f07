package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** EXACT set-similarity self-join: every pair with Jaccard(A,B) >=
  * tNum/tDen, without the cross product — the prefix-filtering family
  * (SSJoin, Chaudhuri et al. ICDE 2006; All-Pairs, Bayardo et al. WWW
  * 2007; PPJoin, Xiao et al. WWW 2008). MinHash-LSH (Dedup.minHashDedup)
  * trades recall for speed; this join is lossless:
  *
  *  - impose a global token order (frequency ascending, then token — the
  *    canonical "rare first" order that makes prefixes selective);
  *  - a record's PREFIX is its first |S| - ceil(t*|S|) + 1 ordered
  *    tokens. If J(A,B) >= t, the smallest shared token lies inside BOTH
  *    prefixes (pigeonhole on the non-shared tokens before it), so
  *    blocking on prefix tokens loses nothing;
  *  - candidates sharing several prefix tokens are emitted once via the
  *    min-shared-prefix-token predicate (no Distinct — same trick as
  *    FuzzyJoinRewrite / the range join's first-shared-bin);
  *  - exact integer verify: inter*tDen >= tNum*(|A|+|B|-inter).
  *
  * Scale shape: the vocabulary table is token-grain (bounded, sorted
  * once); the exploded prefix table is sub-linear in total tokens
  * (prefixes shrink as t grows); one shuffle on the prefix token with
  * the same maxBucket seatbelt as the LSH/fuzzy joins. Verification
  * carries the two sorted index arrays — set intersection on sorted
  * int arrays, codegen'd.
  *
  * Exactness caveat: the join is lossless as long as no prefix-token
  * bucket exceeds `maxBucket` (default 100k). A bucket that large means
  * >maxBucket records share one of their RAREST tokens — a degenerate
  * (tiny-vocabulary or boilerplate-dominated) corpus where prefix
  * filtering cannot block and any exact algorithm degrades toward
  * all-pairs; the seatbelt then drops that token's bucket instead of
  * letting the stage explode, trading completeness for survival the
  * same way Dedup.minHashDedup's maxBucket does. A qualifying pair is
  * lost only when EVERY prefix token the pair shares is hot (the
  * emit-once anchor takes its min over SURVIVING tokens, so one hot
  * token among several shared ones costs nothing). The trade is
  * AUDITABLE, not just documented: [[droppedTokens]] lists each
  * refused token with its bucket size and [[lostPairBound]] upper-
  * bounds the pairs a probe batch can have lost. Raise the bound (or
  * pre-dedup boilerplate with bp1) when completeness matters more.
  */
object SetSimJoin {

  /** Self-join `df` on Jaccard of `tokensCol` (array<string>, treated as
    * a SET) at threshold tNum/tDen. Returns (ida, idb, jaccard_pm) with
    * ida < idb, jaccard_pm = floor(1000 * |A∩B| / |A∪B|).
    */
  def jaccardSelfJoin(df: DataFrame, idCol: String, tokensCol: String,
      tNum: Int, tDen: Int, maxBucket: Int = 100000): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "threshold must be in (0,1]")

    val docs = df.select(col(idCol).as("_id"),
      array_distinct(col(tokensCol)).as("_toks"))
      .filter(size(col("_toks")) > 0)

    // global token order: frequency asc, token asc -> dense index.
    // Vocabulary-grain, and DISTRIBUTED: orderBy is a range-partitioned
    // total sort, and zipWithIndex assigns contiguous per-partition
    // offsets from one tiny count job — no single-partition window (the
    // row_number().over(Window.orderBy(...)) it replaces serialized the
    // whole vocabulary through one task, a chokepoint at web-corpus
    // vocabularies). zipWithIndex runs its offset job eagerly at plan
    // build; the data pass itself stays lazy. The (freq, token) order is
    // total, so the resulting index is deterministic regardless of
    // partition boundaries.
    val ss = df.sparkSession
    import ss.implicits._
    val vocab = docs.select(explode(col("_toks")).as("_tok"))
      .groupBy("_tok").agg(count(lit(1)).as("_freq"))
      .orderBy(col("_freq"), col("_tok"))
      .select(col("_tok")).as[String]
      .rdd.zipWithIndex()
      .map { case (t, i) => (t, i + 1L) }
      .toDF("_tok", "_tidx")

    // per doc: sorted index array + prefix slice
    val indexed = docs.select(col("_id"), explode(col("_toks")).as("_tok"))
      .join(vocab, "_tok")
      .groupBy("_id").agg(sort_array(collect_list(col("_tidx"))).as("_idx"))
      .withColumn("_sz", size(col("_idx")))
      // prefixLen = sz - ceil(t*sz) + 1, integer ceil (div, not fp /)
      .withColumn("_plen",
        expr(s"_sz - ((_sz * $tNum + ${tDen - 1}) div $tDen) + 1"))
      .withColumn("_prefix", slice(col("_idx"), lit(1), col("_plen")))

    // block on prefix tokens, with the degenerate-token seatbelt
    val blocked = indexed.select(col("_id"), col("_idx"), col("_prefix"),
      explode(col("_prefix")).as("_ptok"))
    val hotToks = collectHotTokens(blocked, maxBucket).map(_._1)
    // drop hot tokens from the postings AND from the carried prefix
    // arrays, so the emit-once anchor below sees only SURVIVING tokens
    // (anchoring on the raw prefix intersection's min would lose any
    // pair whose minimal shared token was maxBucket-dropped even when
    // other shared postings survived)
    val safe = blocked.filter(notHot(hotToks))
      .withColumn("_prefix", dropHot(col("_prefix"), hotToks))

    val a = safe.select(col("_ptok"), col("_id").as("ida"),
      col("_idx").as("_ia"), col("_prefix").as("_pa"))
    val b = safe.select(col("_ptok"), col("_id").as("idb"),
      col("_idx").as("_ib"), col("_prefix").as("_pb"))

    a.join(b, "_ptok")
      .filter(col("ida") < col("idb"))
      // emit each pair once: on its minimal (surviving) shared prefix
      // token — exactly the join-key domain
      .filter(col("_ptok") === array_min(array_intersect(col("_pa"), col("_pb"))))
      .withColumn("_inter", size(array_intersect(col("_ia"), col("_ib"))).cast(LongType))
      .withColumn("_union",
        (size(col("_ia")) + size(col("_ib"))).cast(LongType) - col("_inter"))
      .filter(col("_inter") * tDen >= col("_union") * tNum)
      .select(col("ida"), col("idb"),
        (col("_inter") * 1000L / col("_union")).cast(LongType).as("jaccard_pm"))
  }

  /** The maxBucket-dropped tokens as ONE 1-row array frame, so the
    * emit-once anchor can take its min over tokens that actually
    * survived into the posting join. Structurally bounded: a token goes
    * hot only when >maxBucket records post it, so |hot| ≤ postings /
    * maxBucket (and ≤ the vocabulary) — broadcast-safe by construction.
    * Completeness caveat after this fix: a qualifying pair is lost only
    * when EVERY shared prefix token is hot (previously: whenever the
    * MINIMAL shared prefix token was hot, a strictly broader loss).
    */
  /** Hard ceiling on how many maxBucket-dropped tokens a kernel will
    * carry as literals. |hot| ≤ total postings / maxBucket by
    * construction (a token is hot only when >maxBucket records post
    * it), so crossing this bound means ≥ maxHotTokens × maxBucket
    * postings sit in degenerate buckets — a corpus where prefix
    * filtering has collapsed entirely and the caller must raise
    * maxBucket or pre-dedup boilerplate, loudly, not silently.
    */
  val MaxHotTokens: Int = 100000

  /** The maxBucket-dropped (hot) tokens, collected to the driver — a
    * bounded, seatbelted scalar fetch (the vocab-ceiling head() class):
    * the set is token-grain, ≤ postings/maxBucket, and capped by
    * [[MaxHotTokens]]. Driver-side literals keep BOTH uses of the hot
    * set inside whole-stage codegen: the posting drop becomes an InSet
    * filter (no anti-join shuffle) and the emit-once anchor can take
    * its min over SURVIVING tokens (an attached 1-row frame would plan
    * as a nested-loop cross; anchoring on the raw intersection min
    * would lose any pair whose minimal shared token was dropped even
    * when other shared postings survived).
    */
  private def collectHotTokens(postings: DataFrame,
      maxBucket: Int): Seq[(Long, Long)] = {
    val hot = postings.groupBy("_ptok").agg(count(lit(1)).as("_c"))
      .filter(col("_c") > maxBucket).select("_ptok", "_c")
      .limit(MaxHotTokens + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    if (hot.size > MaxHotTokens)
      throw new IllegalStateException(
        s"more than $MaxHotTokens prefix tokens exceed maxBucket=" +
          s"$maxBucket — prefix filtering has degenerated on this " +
          "corpus; raise maxBucket or pre-dedup boilerplate first")
    hot
  }

  /** `!(_ptok IN hot)` as a codegen InSet filter (true when no hot). */
  private def notHot(hotToks: Seq[Long]): Column =
    if (hotToks.isEmpty) lit(true)
    else !col("_ptok").isInCollection(hotToks)

  /** Drop hot tokens from a prefix ARRAY column, so downstream
    * emit-once anchors see only surviving tokens. Identity when empty.
    */
  private def dropHot(prefix: Column, hotToks: Seq[Long]): Column =
    if (hotToks.isEmpty) prefix
    else array_except(prefix, typedlit(hotToks))

  /** Shared helpers for the R-S (probe) form. */

  /** Frequency-ascending dense token order for the R-S join: corpus
    * tokens rank 1..V by (corpus freq asc, token asc); tokens seen ONLY
    * in the probe rank V+1.. (token asc). Prefix-filter correctness
    * holds under ANY shared total order, and ranking probe-only tokens
    * LAST is the choice that makes the corpus side REUSABLE: a corpus
    * document contains no probe-only token, so its index arrays and
    * prefixes are identical whatever the probe batch — post them once,
    * probe many times (the standing decontamination-index posture).
    */
  private def tokBag(df: DataFrame, tokensCol: String): DataFrame =
    df.select(explode(array_distinct(col(tokensCol))).as("_tok"))

  /** Corpus-only frequency-ascending dense rank 1..V. */
  private def corpusVocab(corpus: DataFrame, tokensCol: String): DataFrame = {
    val ss = corpus.sparkSession
    import ss.implicits._
    tokBag(corpus, tokensCol)
      .groupBy("_tok").agg(count(lit(1)).as("_freq"))
      .orderBy(col("_freq"), col("_tok"))
      .select(col("_tok")).as[String]
      .rdd.zipWithIndex()
      .map { case (t, i) => (t, i + 1L) }
      .toDF("_tok", "_tidx")
  }

  /** Probe-only tokens ranked past the corpus ceiling (token asc). */
  private def probeExtension(probe: DataFrame, tokensCol: String,
      vocab: DataFrame, ceiling: Long): DataFrame = {
    val ss = probe.sparkSession
    import ss.implicits._
    tokBag(probe, tokensCol).distinct()
      .join(vocab.select("_tok"), Seq("_tok"), "left_anti")
      .orderBy(col("_tok"))
      .select(col("_tok")).as[String]
      .rdd.zipWithIndex()
      .map { case (t, i) => (t, ceiling + i + 1L) }
      .toDF("_tok", "_tidx")
  }

  private[graft] def rsVocab(corpus: DataFrame, probe: DataFrame,
      idCol: String, tokensCol: String): DataFrame = {
    val base = corpusVocab(corpus, tokensCol)
    // one vocabulary-grain row to the driver: the corpus rank ceiling
    val vBase = base.agg(coalesce(max(col("_tidx")), lit(0L)))
      .head().getLong(0)
    base.unionByName(probeExtension(probe, tokensCol, base, vBase))
  }

  /** (_id, _idx sorted index array, _sz, _prefix) under `vocab`. */
  private def indexDocs(df: DataFrame, idCol: String, tokensCol: String,
      vocab: DataFrame, tNum: Int, tDen: Int): DataFrame =
    df.select(col(idCol).as("_id"),
        array_distinct(col(tokensCol)).as("_toks"))
      .filter(size(col("_toks")) > 0)
      .select(col("_id"), explode(col("_toks")).as("_tok"))
      .join(vocab, "_tok")
      .groupBy("_id").agg(sort_array(collect_list(col("_tidx"))).as("_idx"))
      .withColumn("_sz", size(col("_idx")))
      .withColumn("_plen",
        expr(s"_sz - ((_sz * $tNum + ${tDen - 1}) div $tDen) + 1"))
      .withColumn("_prefix", slice(col("_idx"), lit(1), col("_plen")))

  /** The probe side's posting table: exactly its |S|−⌈t·|S|⌉+1 prefix
    * tokens per record, NEVER the full token set (package-visible so the
    * spec can pin the prefix-bounded posting count).
    */
  private[graft] def probePostings(probe: DataFrame, idCol: String,
      tokensCol: String, vocab: DataFrame, tNum: Int, tDen: Int): DataFrame =
    indexDocs(probe, idCol, tokensCol, vocab, tNum, tDen)
      .select(col("_id").as("pid"), col("_idx").as("_ip"),
        col("_prefix").as("_pp"), explode(col("_prefix")).as("_ptok"))

  /** EXACT R-S set-similarity PROBE join: every (probe, corpus) pair
    * with Jaccard ≥ tNum/tDen — the decontamination / near-dup LOOKUP
    * where the probe is a benchmark or a fresh crawl batch, not the
    * corpus itself. A dedicated asymmetric kernel, not the
    * union-through-the-self-join trick: the corpus posts its prefixes
    * ONCE under its own token order (reusable across probe batches —
    * probe-only tokens rank past the corpus ceiling, see [[rsVocab]]),
    * the probe posts only its own prefixes, and corpus-internal /
    * probe-internal candidate pairs are never generated. Same pigeonhole
    * exactness as [[jaccardSelfJoin]] (J ≥ t ⇒ the smallest shared token
    * lies in BOTH prefixes under any shared total order), same
    * min-shared-prefix-token single emission, same integer verify, same
    * maxBucket seatbelt on degenerate corpus prefix tokens (with the
    * same completeness caveat).
    *
    * Returns (probe_id, corpus_id, jaccard_pm).
    */
  def jaccardProbeJoin(corpus: DataFrame, probe: DataFrame, idCol: String,
      tokensCol: String, tNum: Int, tDen: Int,
      maxBucket: Int = 100000): DataFrame =
    probeJaccardIndex(
      buildJaccardIndex(corpus, idCol, tokensCol, tNum, tDen, maxBucket),
      probe, idCol, tokensCol)

  /** The REIFIED corpus side of [[jaccardProbeJoin]]: token order,
    * rank ceiling, and prefix postings, built once. This is the
    * standing decontamination-index posture — persist/localCheckpoint
    * `vocab` and `postings` and every probe batch pays only its own
    * prefix explode + one posting join (PROBEJOIN_MEASURE.json prices
    * the amortization); the per-call [[jaccardProbeJoin]] wrapper
    * rebuilds it each time.
    */
  final case class JaccardIndex(vocab: DataFrame, vocabCeiling: Long,
      postings: DataFrame, hotTokens: Seq[(Long, Long)],
      tNum: Int, tDen: Int) {
    /** localCheckpoint the frames — the SESSION-lifetime reuse form. */
    def materialized: JaccardIndex =
      copy(vocab = vocab.localCheckpoint(eager = true),
        postings = postings.localCheckpoint(eager = true))

    /** Persist the index to parquet — the CROSS-JOB standing-index
      * posture: a decontamination index built once over the corpus
      * survives the session, and later jobs [[loadJaccardIndex]] it and
      * pay only their own probe batch's prefix explode. Layout:
      * `vocab/` and `postings/` parquet directories plus a 1-row
      * `meta/` parquet carrying (ceiling, t_num, t_den) and the
      * hot-token audit arrays, so the loaded index probes
      * byte-identically to the freshly built one (SetSimJoinSpec gates
      * the identity) AND still answers what maxBucket cost it
      * ([[droppedTokens]] / [[lostPairBound]]).
      */
    def save(path: String): Unit = {
      val spark = vocab.sparkSession
      vocab.write.mode("overwrite").parquet(s"$path/vocab")
      postings.write.mode("overwrite").parquet(s"$path/postings")
      spark.range(1).select(lit(vocabCeiling).as("ceiling"),
          lit(tNum).as("t_num"), lit(tDen).as("t_den"),
          typedlit(hotTokens.map(_._1)).as("hot"),
          typedlit(hotTokens.map(_._2)).as("hot_counts"))
        .write.mode("overwrite").parquet(s"$path/meta")
    }
  }

  /** Read back a [[JaccardIndex.save]]d index. */
  def loadJaccardIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): JaccardIndex = {
    val meta = Tables.parquet(spark, s"$path/meta").head()
    JaccardIndex(Tables.parquet(spark, s"$path/vocab"),
      meta.getAs[Long]("ceiling"),
      Tables.parquet(spark, s"$path/postings"),
      meta.getAs[scala.collection.Seq[Long]]("hot").toSeq
        .zip(meta.getAs[scala.collection.Seq[Long]]("hot_counts")),
      meta.getAs[Int]("t_num"), meta.getAs[Int]("t_den"))
  }

  def buildJaccardIndex(corpus: DataFrame, idCol: String, tokensCol: String,
      tNum: Int, tDen: Int, maxBucket: Int = 100000): JaccardIndex = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "threshold must be in (0,1]")
    val vocab = corpusVocab(corpus, tokensCol)
    val ceiling = vocab.agg(coalesce(max(col("_tidx")), lit(0L)))
      .head().getLong(0)
    val cBlocked = indexDocs(corpus, idCol, tokensCol, vocab, tNum, tDen)
      .select(col("_id").as("cid"), col("_idx").as("_ic"),
        col("_prefix").as("_pc"), explode(col("_prefix")).as("_ptok"))
    // the stored postings carry SURVIVING prefixes only — hot tokens
    // are gone from both the posting rows and the _pc arrays, so every
    // future probe's emit-once anchor automatically mins over tokens
    // that can actually appear as join keys (see collectHotTokens)
    val hotToks = collectHotTokens(cBlocked, maxBucket)
    val hotIdx = hotToks.map(_._1)
    JaccardIndex(vocab, ceiling,
      cBlocked.filter(notHot(hotIdx))
        .withColumn("_pc", dropHot(col("_pc"), hotIdx)), hotToks,
      tNum, tDen)
  }

  def probeJaccardIndex(ix: JaccardIndex, probe: DataFrame, idCol: String,
      tokensCol: String): DataFrame = {
    // probe-only tokens rank past the stored ceiling, so the stored
    // postings stay valid verbatim for ANY probe batch
    val fullVocab = ix.vocab.unionByName(
      probeExtension(probe, tokensCol, ix.vocab, ix.vocabCeiling))
    val pPost = probePostings(probe, idCol, tokensCol, fullVocab,
      ix.tNum, ix.tDen)
    pPost.join(ix.postings, "_ptok")
      // emit each pair once: on the minimal token the probe's prefix
      // shares with the corpus's SURVIVING prefix (exactly the
      // join-key domain — _pc was hot-dropped at build time, so a
      // dropped minimal token cannot veto a pair other tokens carry)
      .filter(col("_ptok") === array_min(array_intersect(col("_pp"), col("_pc"))))
      .withColumn("_inter",
        size(array_intersect(col("_ip"), col("_ic"))).cast(LongType))
      .withColumn("_union",
        (size(col("_ip")) + size(col("_ic"))).cast(LongType) - col("_inter"))
      .filter(col("_inter") * ix.tDen >= col("_union") * ix.tNum)
      .select(col("pid").as("probe_id"), col("cid").as("corpus_id"),
        (col("_inter") * 1000L / col("_union")).cast(LongType).as("jaccard_pm"))
  }

  /** DIRECTED exact containment PROBE join: every (probe, corpus) pair
    * with |P∩C| ≥ (tNum/tDen)·|P| — "this probe set is (mostly) quoted
    * inside that corpus document", the decontamination LOOKUP shape
    * (does a benchmark item's content appear in the training corpus?).
    * Asymmetry follows [[containmentSelfJoin]]: only the CONTAINED
    * (probe) side can be prefix-blocked — it posts its
    * |P|−⌈t·|P|⌉+1 rarest tokens — while the corpus container side
    * posts ALL its tokens (the witness may sit anywhere in C), i.e. the
    * corpus side IS an inverted index, built once under the corpus's
    * own token order ([[rsVocab]]) and reusable across probe batches.
    * Seatbelt: tokens whose CORPUS posting exceeds `maxBucket` are
    * dropped (a stopword-grade posting: the probe's rarest-first
    * prefixes rarely contain one, but a degenerate corpus can force it)
    * with the usual completeness caveat.
    *
    * Returns (probe_id, corpus_id, containment_pm = floor(1000·|P∩C|/|P|)).
    */
  def containmentProbeJoin(corpus: DataFrame, probe: DataFrame,
      idCol: String, tokensCol: String, tNum: Int, tDen: Int,
      maxBucket: Int = 100000): DataFrame =
    probeContainmentIndex(
      buildContainmentIndex(corpus, idCol, tokensCol, tNum, tDen,
        maxBucket), probe, idCol, tokensCol)

  /** The REIFIED corpus side of [[containmentProbeJoin]] —
    * [[JaccardIndex]]'s sibling for the quote/subset relation: the
    * corpus's FULL inverted index (the containment witness may sit
    * anywhere in the container, so unlike the Jaccard index nothing is
    * prefix-truncated), its token order, rank ceiling, and the
    * maxBucket-dropped hot tokens. The hot set must ride along (as
    * driver-bounded literals, see [[collectHotTokens]]): the corpus's
    * `_ic` arrays double as the exact verify arrays and cannot be
    * hot-dropped, so each probe batch subtracts the hot set from its
    * own anchored prefix instead — (pp \ hot) ∩ ic == (pp ∩ ic) \ hot.
    * Built once, probed by any batch (probe-only tokens rank past the
    * ceiling), persisted via [[ContainmentIndex.save]].
    */
  final case class ContainmentIndex(vocab: DataFrame, vocabCeiling: Long,
      postings: DataFrame, hotTokens: Seq[(Long, Long)],
      tNum: Int, tDen: Int) {
    /** localCheckpoint the frames — the SESSION-lifetime reuse form. */
    def materialized: ContainmentIndex =
      copy(vocab = vocab.localCheckpoint(eager = true),
        postings = postings.localCheckpoint(eager = true))

    /** Persist to parquet (vocab + postings + 1-row meta carrying
      * ceiling, threshold, and the hot-token audit arrays) — the
      * cross-job standing decontamination-lookup posture; SetSimJoinSpec
      * gates that a reloaded index probes identically.
      */
    def save(path: String): Unit = {
      val spark = vocab.sparkSession
      vocab.write.mode("overwrite").parquet(s"$path/vocab")
      postings.write.mode("overwrite").parquet(s"$path/postings")
      spark.range(1).select(lit(vocabCeiling).as("ceiling"),
          lit(tNum).as("t_num"), lit(tDen).as("t_den"),
          typedlit(hotTokens.map(_._1)).as("hot"),
          typedlit(hotTokens.map(_._2)).as("hot_counts"))
        .write.mode("overwrite").parquet(s"$path/meta")
    }
  }

  /** Read back a [[ContainmentIndex.save]]d index. */
  def loadContainmentIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): ContainmentIndex = {
    val meta = Tables.parquet(spark, s"$path/meta").head()
    ContainmentIndex(Tables.parquet(spark, s"$path/vocab"),
      meta.getAs[Long]("ceiling"),
      Tables.parquet(spark, s"$path/postings"),
      meta.getAs[scala.collection.Seq[Long]]("hot").toSeq
        .zip(meta.getAs[scala.collection.Seq[Long]]("hot_counts")),
      meta.getAs[Int]("t_num"), meta.getAs[Int]("t_den"))
  }

  def buildContainmentIndex(corpus: DataFrame, idCol: String,
      tokensCol: String, tNum: Int, tDen: Int,
      maxBucket: Int = 100000): ContainmentIndex = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "threshold must be in (0,1]")
    val vocab = corpusVocab(corpus, tokensCol)
    val ceiling = vocab.agg(coalesce(max(col("_tidx")), lit(0L)))
      .head().getLong(0)
    val cFull = indexDocs(corpus, idCol, tokensCol, vocab, tNum, tDen)
      .select(col("_id").as("cid"), col("_idx").as("_ic"),
        explode(col("_idx")).as("_ptok"))
    val hotToks = collectHotTokens(cFull, maxBucket)
    ContainmentIndex(vocab, ceiling,
      cFull.filter(notHot(hotToks.map(_._1))), hotToks, tNum, tDen)
  }

  def probeContainmentIndex(ix: ContainmentIndex, probe: DataFrame,
      idCol: String, tokensCol: String): DataFrame = {
    // probe-only tokens rank past the stored ceiling: the stored
    // inverted index stays valid verbatim for ANY probe batch
    val fullVocab = ix.vocab.unionByName(
      probeExtension(probe, tokensCol, ix.vocab, ix.vocabCeiling))
    val pPost = probePostings(probe, idCol, tokensCol, fullVocab,
      ix.tNum, ix.tDen)
    // the corpus's _ic is the VERIFY array and must stay full, so the
    // hot drop lands on the probe's anchored prefix instead:
    // (pp \ hot) ∩ ic == (pp ∩ ic) \ hot — the emit-once min skips
    // dropped tokens without touching the intersection verify
    pPost.withColumn("_pp", dropHot(col("_pp"), ix.hotTokens.map(_._1)))
      .join(ix.postings, "_ptok")
      // emit once: on the minimal surviving token shared between the
      // probe's prefix and the corpus doc's full set (the join-key
      // domain)
      .filter(col("_ptok") === array_min(array_intersect(col("_pp"), col("_ic"))))
      .withColumn("_inter",
        size(array_intersect(col("_ip"), col("_ic"))).cast(LongType))
      .withColumn("_szp", size(col("_ip")).cast(LongType))
      .filter(col("_inter") * ix.tDen >= col("_szp") * ix.tNum)
      .select(col("pid").as("probe_id"), col("cid").as("corpus_id"),
        (col("_inter") * 1000L / col("_szp")).cast(LongType)
          .as("containment_pm"))
  }

  /** DIRECTED exact containment self-join: every ordered pair (a, b),
    * a ≠ b, with |A∩B| ≥ (tNum/tDen)·|A| — "A is (mostly) contained in
    * B", the subset/quote relation Jaccard under-scores when A is much
    * smaller than B. Same prefix-filtering machinery as
    * [[jaccardSelfJoin]] with the asymmetric twist: only the CONTAINED
    * side can be prefix-blocked (if overlap ≥ ⌈t·|A|⌉, one of A's first
    * |A|−⌈t·|A|⌉+1 rarest tokens is in B — pigeonhole on the tokens A
    * may have outside B), while the container side must post ALL its
    * tokens (the witness may sit anywhere in B). The posting shuffle is
    * therefore inverted-index sized (ii1's shape); the contained side's
    * prefix holds only its rarest tokens, so candidate buckets stay
    * small on ordinary corpora. Seatbelt: tokens whose PREFIX posting
    * exceeds `maxBucket` are dropped with the same completeness caveat
    * as the Jaccard form.
    *
    * Returns (ida = contained, idb = container, containment_pm =
    * floor(1000·|A∩B| / |A|)).
    */
  def containmentSelfJoin(df: DataFrame, idCol: String, tokensCol: String,
      tNum: Int, tDen: Int, maxBucket: Int = 100000): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "threshold must be in (0,1]")

    val docs = df.select(col(idCol).as("_id"),
      array_distinct(col(tokensCol)).as("_toks"))
      .filter(size(col("_toks")) > 0)

    val ss = df.sparkSession
    import ss.implicits._
    val vocab = docs.select(explode(col("_toks")).as("_tok"))
      .groupBy("_tok").agg(count(lit(1)).as("_freq"))
      .orderBy(col("_freq"), col("_tok"))
      .select(col("_tok")).as[String]
      .rdd.zipWithIndex()
      .map { case (t, i) => (t, i + 1L) }
      .toDF("_tok", "_tidx")

    val indexed = docs.select(col("_id"), explode(col("_toks")).as("_tok"))
      .join(vocab, "_tok")
      .groupBy("_id").agg(sort_array(collect_list(col("_tidx"))).as("_idx"))
      .withColumn("_sz", size(col("_idx")))
      .withColumn("_plen",
        expr(s"_sz - ((_sz * $tNum + ${tDen - 1}) div $tDen) + 1"))
      .withColumn("_prefix", slice(col("_idx"), lit(1), col("_plen")))

    val aBlocked = indexed.select(col("_id").as("ida"),
      col("_idx").as("_ia"), col("_sz").as("_sza"),
      col("_prefix").as("_pa"), explode(col("_prefix")).as("_ptok"))
    val hotToks = collectHotTokens(aBlocked, maxBucket).map(_._1)
    // drop hot tokens from the postings and the carried prefix array,
    // so the emit-once anchor below mins over surviving tokens only
    val aSafe = aBlocked.filter(notHot(hotToks))
      .withColumn("_pa", dropHot(col("_pa"), hotToks))

    // container side posts EVERY token
    val bSide = indexed.select(col("_id").as("idb"), col("_idx").as("_ib"),
      explode(col("_idx")).as("_ptok"))

    aSafe.join(bSide, "_ptok")
      .filter(col("ida") =!= col("idb"))
      // emit each pair once: on the minimal surviving token shared
      // between A's prefix and B's full set (exactly the join-key
      // domain — _pa was hot-dropped above, so a dropped minimal token
      // cannot veto a pair other tokens carry)
      .filter(col("_ptok") === array_min(array_intersect(col("_pa"), col("_ib"))))
      .withColumn("_inter",
        size(array_intersect(col("_ia"), col("_ib"))).cast(LongType))
      .filter(col("_inter") * tDen >= col("_sza").cast(LongType) * tNum)
      .select(col("ida"), col("idb"),
        expr("CAST(_inter * 1000 div _sza AS BIGINT)").as("containment_pm"))
  }

  // ---- hot-token loss audit (FuzzyJoin.droppedKeys' sibling for the
  // standing indexes): the maxBucket seatbelt trades completeness for
  // survival, and these surfaces make the trade VISIBLE instead of a
  // scaladoc caveat — what was dropped, how big each refused bucket
  // was, and an upper bound on the pairs a probe batch can have lost.

  /** The maxBucket-dropped tokens of a standing index, one row per hot
    * token: (token, token_idx, corpus_postings) where corpus_postings
    * is the refused bucket's size. Token-grain and ≤ postings/maxBucket
    * rows by construction. A qualifying pair is lost iff EVERY prefix
    * token it shares with the corpus appears here — run this when the
    * seatbelt's completeness trade-off needs auditing (an empty frame
    * means the join was exact).
    */
  def droppedTokens(ix: JaccardIndex): DataFrame =
    droppedTokensOf(ix.vocab, ix.hotTokens)

  /** [[droppedTokens]] for the containment index (hot = tokens whose
    * FULL corpus posting exceeded maxBucket).
    */
  def droppedTokens(ix: ContainmentIndex): DataFrame =
    droppedTokensOf(ix.vocab, ix.hotTokens)

  private def droppedTokensOf(vocab: DataFrame,
      hot: Seq[(Long, Long)]): DataFrame = {
    val ss = vocab.sparkSession
    import ss.implicits._
    hot.toDF("token_idx", "corpus_postings")
      .join(vocab.select(col("_tok"), col("_tidx").as("token_idx")),
        Seq("token_idx"), "left")
      .select(col("_tok").as("token"), col("token_idx"),
        col("corpus_postings"))
      .orderBy("token_idx")
  }

  /** Upper bound on the pairs THIS probe batch can have lost to the
    * hot-token drop: per hot token, the probe prefix postings that
    * would have anchored on it × the refused corpus bucket's size. A
    * candidate pair is generated through at least one shared token, so
    * a lost pair is counted by every hot token it shares — the
    * per-token products, and a fortiori their sum, upper-bound the
    * loss (usually loosely: a pair with ANY surviving shared token is
    * not lost at all). Returns (token, token_idx, corpus_postings,
    * probe_postings, lost_pair_bound), one row per hot token; an empty
    * frame means the probe ran exact.
    */
  def lostPairBound(ix: JaccardIndex, probe: DataFrame, idCol: String,
      tokensCol: String): DataFrame =
    lostPairBoundOf(ix.vocab, ix.vocabCeiling, ix.hotTokens, ix.tNum,
      ix.tDen, probe, idCol, tokensCol)

  /** [[lostPairBound]] for the containment index. */
  def lostPairBound(ix: ContainmentIndex, probe: DataFrame, idCol: String,
      tokensCol: String): DataFrame =
    lostPairBoundOf(ix.vocab, ix.vocabCeiling, ix.hotTokens, ix.tNum,
      ix.tDen, probe, idCol, tokensCol)

  private def lostPairBoundOf(vocab: DataFrame, ceiling: Long,
      hot: Seq[(Long, Long)], tNum: Int, tDen: Int, probe: DataFrame,
      idCol: String, tokensCol: String): DataFrame = {
    val hotIdx = hot.map(_._1)
    // the probe must be indexed under the EXTENDED vocabulary (exactly
    // like the real probe run): dropping probe-only tokens would
    // shorten |P| and so the prefix, undercounting the probe's hot
    // postings — and an audit that can undercount is not a bound
    val fullVocab = vocab.unionByName(
      probeExtension(probe, tokensCol, vocab, ceiling))
    val pCnt = probePostings(probe, idCol, tokensCol, fullVocab, tNum, tDen)
      .filter(if (hotIdx.isEmpty) lit(false)
        else col("_ptok").isInCollection(hotIdx))
      .groupBy(col("_ptok").as("token_idx"))
      .agg(count(lit(1)).as("probe_postings"))
    droppedTokensOf(vocab, hot)
      .join(pCnt, Seq("token_idx"), "left")
      .select(col("token"), col("token_idx"), col("corpus_postings"),
        coalesce(col("probe_postings"), lit(0L)).as("probe_postings"),
        (col("corpus_postings") *
          coalesce(col("probe_postings"), lit(0L))).as("lost_pair_bound"))
      .orderBy("token_idx")
  }
}
