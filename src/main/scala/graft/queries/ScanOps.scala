package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, PrefixSum, RankMetrics, TextAnalysis}
import graft.sources.Tables

/** Scan-primitive pipeline ops: distributed global prefix sums (sequence
  * packing), per-document LM-proxy scoring, and HLL register sketches.
  * All-integer outputs per the repo's oracle conventions.
  */
object ScanOps {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val tokenSql =
    """SELECT doc_id, CAST(CASE WHEN nrm = '' THEN 0
      |  ELSE length(nrm) - length(replace(nrm, ' ', '')) + 1 END AS BIGINT) AS n_tokens
      |FROM (SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS nrm
      |  FROM documents)""".stripMargin

  /** j-th deterministic Bloom position (of `m`) for key column `c` —
    * 8 md5 hex chars (32 bits) salted by j, mod m; identical arithmetic
    * is spelled in the oracle SQL
    */
  private def bloomPos(j: Int, c: org.apache.spark.sql.Column, m: Int) =
    conv(substring(md5(concat(lit(j.toString), c.cast(StringType))), 1, 8),
      16, 10).cast(LongType) % m

  private def bloomPosSql(j: Int, c: String, m: Int) =
    s"CAST(CAST(('0x'||substr(md5('$j'||CAST($c AS VARCHAR)),1,8)) AS UBIGINT) % $m AS BIGINT)"

  /** (doc_id, n_bg, lm_pm) — the lm1 count-LM predictability score,
    * shared by lm1, cur10 and an5. One pass builds the bigram/unigram
    * count tables, one pass scores; joins deliberately unhinted (AQE
    * broadcasts the vocabulary-sized counts at gate scale, degrades to
    * a shuffle join instead of an OOM at web scale).
    */
  private def lmScored(docs: DataFrame): DataFrame = {
    val ws = split(trim(regexp_replace(col("text"), "\\s+", " ")), " ")
    val docBg = docs.select(col("doc_id"), explode(
      when(size(ws) < 2, array().cast(ArrayType(StringType)))
        .otherwise(transform(sequence(lit(1), size(ws) - 1),
          i => concat(element_at(ws, i), lit(" "), element_at(ws, i + 1)))))
      .as("bg"))
    val c2 = docBg.groupBy("bg").agg(count(lit(1)).as("c2"))
    val c1 = docs.select(explode(ws).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    docBg
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(c2, "bg")
      .join(c1, col("w1") === col("w"))
      .select(col("doc_id"), expr("c2 * 1000 div c1").as("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bg"),
        expr("CAST(sum(s) div count(1) AS BIGINT)").as("lm_pm"))
  }

  /** Oracle CTE chain replaying [[lmScored]] up to
    * `sc(doc_id, n_bg, lm_pm)`; `d(doc_id, source, ws)` stays visible
    * for consumers that need the source column (cur10).
    */
  private val lmPrelude: String =
    """d AS (SELECT doc_id, source,
      |  string_split(trim(regexp_replace(text,'\s+',' ','g')),' ') AS ws
      |  FROM documents),
      |b AS (SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i+1] AS bg
      |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) _t),
      |c2 AS (SELECT bg, count(*) AS c2 FROM b GROUP BY 1),
      |c1 AS (SELECT w, count(*) AS c1
      |  FROM (SELECT unnest(ws) AS w FROM d) GROUP BY 1),
      |sc AS (SELECT doc_id, count(*) AS n_bg,
      |  CAST(SUM(c2.c2 * 1000 // c1.c1) // count(*) AS BIGINT) AS lm_pm
      |FROM b JOIN c2 USING (bg) JOIN c1 ON b.w1 = c1.w
      |GROUP BY doc_id)""".stripMargin

  /** Oracle CTE chain for the boilerplate label shared by an5/an6:
    * `lab(doc_id)` = documents containing a duplicated length-50
    * substring (dd15's linear window machinery).
    */
  private val labPrelude: String =
    """docs50 AS (SELECT doc_id, text FROM documents
      |  WHERE length(text) >= 50),
      |w AS (SELECT doc_id, md5(substr(text, i, 50)) AS wh
      |  FROM docs50, LATERAL
      |   (SELECT unnest(generate_series(1, length(text) - 49)) AS i) _t),
      |dh AS (SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2),
      |lab AS (SELECT DISTINCT doc_id FROM w JOIN dh USING (wh))""".stripMargin

  /** (lm_pm, y) for every scored document — the lm1 predictability
    * score next to the 0/1 duplicated-substring label; shared by an5
    * (AUC) and an6 (calibration).
    */
  private def scoredLabeled(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val lab = Dedup.duplicatedSubstringStats(docs, "doc_id", "text", l = 50)
      .filter(col("dup_windows") > 0)
      .select(col("doc_id"), lit(1L).as("y1"))
    lmScored(docs)
      .join(lab, Seq("doc_id"), "left")
      .select(col("lm_pm"), coalesce(col("y1"), lit(0L)).as("y"))
  }

  /** fp1 stretch depth: enough per-row work that core count is visible
    * over the per-query floor at bench scale (6k dependent MINSTD
    * rounds per row), small enough that the query stays a sub-second
    * suite member at full cores. MINSTD (Park-Miller, x→x·48271 mod 2³¹−1)
    * because the iterate is exact in 64-bit integers (product < 2⁴⁷)
    * and, being linear, has the closed form x_K = x₀·48271^K mod M the
    * oracle verifies with ONE exact BIGINT multiply — no giant SQL
    * expression on the DuckDB side. Expression-tree forms of the chain
    * were measured and rejected: a digest chain is allocation-bound (GC
    * contention flattens scaling past ~8 threads) and a deep
    * column-expression chain costs ~1.3 s of PLANNING per action
    * (ProfileFp1 / bench A/B) — the typed kernel keeps the plan tiny
    * and the work in JIT'd registers.
    */
  private val Fp1Rounds = 6000

  val all: Seq[Q] = Seq(

    // FP1 — per-row iterated-PRNG stretch: the key-stretching shape of
    // content-addressing / PII-tokenization pipelines (chained rounds
    // per record, folded to integer checks; verified against the
    // closed form). Purely per-row register arithmetic over one narrow
    // two-column scan — embarrassingly parallel, so it doubles as the
    // suite's CORE-COUNT CANARY: every other bench query at sf scale is
    // bound by the per-query floor or the single-row-group serial scan,
    // so an 8-core bench arm measures ≈ a 32-core arm on them
    // (PERF_r17 scaling.suspect_cpus_ignored); this one's warm time
    // scales with cores. The fan-out exchange is the scale-adaptive
    // small-input gate (no-op once the scan itself fans out); the
    // projection is cut to the two key columns BEFORE the exchange
    // (guide §2.3). Grouping keys off the final state: a single
    // global-agg row would let a count() action prune the whole chain
    // (a one-row aggregate's cardinality is known without executing it
    // — measured, ProfileFp1).
    Q("fp1_digest_stretch",
      (s, dir) => {
        val M = 2147483647L
        val rounds = Fp1Rounds
        // one line per order: the stretch is per-KEY work, and the 4×
        // row cut shrinks the serial single-row-group scan+exchange-write
        // term that would otherwise cap the core-count ratio; the
        // predicate lands in PushedFilters. Seed folds to one column
        // BEFORE the exchange (§2.3) and the kernel runs on a primitive
        // Dataset[Long] — no Row boxing on either side of the loop.
        val seeds = t(s, dir, "lineitem")
          .filter(col("l_linenumber") === 1)
          .select(((col("l_orderkey") * 3L + col("l_linenumber")) % M).as("x0"))
        Dedup.fanOut(seeds)
          .as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .mapPartitions { xs =>
            xs.map { x0 =>
              var x = x0
              var i = 0
              while (i < rounds) { x = x * 48271L % M; i += 1 }
              x
            }
          }(org.apache.spark.sql.Encoders.scalaLong)
          .toDF("x")
          .groupBy((col("x") % 16).as("b"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"))
          .orderBy("b")
      },
      Some {
        // closed form of the linear iterate: x_K = x0 · 48271^K mod M;
        // x0, c < 2³¹ so the single product is exact in BIGINT
        val c = BigInt(48271).modPow(Fp1Rounds, 2147483647L)
        s"""SELECT x % 16 AS b, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(x) AS BIGINT) AS s1
           |FROM (SELECT ((l_orderkey * 3 + l_linenumber) % 2147483647)
           |             * $c % 2147483647 AS x
           |      FROM lineitem WHERE l_linenumber = 1)
           |GROUP BY 1 ORDER BY 1""".stripMargin
      },
      bench = true),

    // PK1 — sequence packing (concat-then-chunk): documents in doc_id
    // order are packed into fixed 512-token training windows; each doc
    // reports its global token offset and the first/last window it
    // lands in. The offset is a GLOBAL prefix sum computed by the
    // two-pass PrefixSum operator (range sort + broadcast partition
    // offsets) — no single-partition Window anywhere in the plan
    // (plan-guarded in PrefixSumSpec); the oracle replays it with the
    // windowed cumulative sum that is fine at oracle scale.
    Q("pk1_sequence_pack",
      (s, dir) => {
        val L = 512
        val toks = t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        PrefixSum.exclusive(toks, "doc_id", "n_tokens", "tok_offset")
          .filter(col("n_tokens") > 0)
          .withColumn("first_win", expr(s"tok_offset div $L"))
          .withColumn("last_win", expr(s"(tok_offset + n_tokens - 1) div $L"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, n_tokens,
              | CAST(cum - n_tokens AS BIGINT) AS tok_offset,
              | CAST((cum - n_tokens) // 512 AS BIGINT) AS first_win,
              | CAST((cum - 1) // 512 AS BIGINT) AS last_win
              |FROM (
              | SELECT doc_id, n_tokens,
              |  SUM(n_tokens) OVER (ORDER BY doc_id
              |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              | FROM ($tokenSql))
              |WHERE n_tokens > 0
              |ORDER BY doc_id""".stripMargin)),

    // LM1 — per-document bigram LM-proxy score: for every adjacent word
    // pair, the corpus conditional frequency floor(1000·c(w1w2)/c(w1)),
    // averaged per document — the curation signal a count-based language
    // model gives ("how predictable is this doc"), all-integer so both
    // engines agree exactly. Plan: one pass builds the bigram/unigram
    // count tables, one pass scores. The joins carry NO broadcast hint
    // on purpose: at gate scale AQE broadcasts the vocabulary-sized
    // counts on its own, and at web scale (where a bigram table can
    // dwarf executor memory) the same plan degrades to a shuffle join
    // instead of an OOM — a forced hint would pin the wrong choice.
    Q("lm1_bigram_score",
      (s, dir) => lmScored(t(s, dir, "documents")).orderBy("doc_id"),
      Some(s"""WITH $lmPrelude
             |SELECT doc_id, n_bg, lm_pm FROM sc
             |ORDER BY doc_id""".stripMargin)),

    // CUR10 — CCNet-style perplexity bucketing (Wenzek et al. 2020,
    // arXiv:1911.00359): within each source, rank documents by the lm1
    // count-LM predictability score and split into equal-depth
    // head/middle/tail thirds — the bucket boundary CCNet uses to keep
    // head+middle and drop (or down-weight) the tail. Output is the
    // per-(source, bucket) accounting: docs, characters, and the score
    // band. The NTILE window partitions by SOURCE — bounded by the
    // source catalog (languages, in CCNet), never the corpus, and each
    // partition's sort is the per-source doc list, the same bound every
    // per-source rule here lives with.
    Q("cur10_ccnet_buckets",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("lm_pm").desc, col("doc_id"))
        docs.select(col("doc_id"), col("source"),
            length(col("text")).cast(LongType).as("chars"))
          .join(lmScored(docs), Seq("doc_id"))
          .withColumn("bucket", ntile(3).over(w).cast(LongType))
          .groupBy("source", "bucket")
          .agg(count(lit(1)).as("n_docs"), sum("chars").as("chars"),
            min("lm_pm").as("min_pm"), max("lm_pm").as("max_pm"))
          .orderBy("source", "bucket")
      },
      Some(s"""WITH $lmPrelude,
             |nt AS (SELECT d.doc_id, d.source, sc.lm_pm,
             |    length(dd.text) AS chars,
             |    NTILE(3) OVER (PARTITION BY d.source
             |      ORDER BY sc.lm_pm DESC, d.doc_id) AS bkt
             |  FROM sc JOIN d ON d.doc_id = sc.doc_id
             |  JOIN documents dd ON dd.doc_id = sc.doc_id)
             |SELECT source, CAST(bkt AS BIGINT) AS bucket,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(chars) AS BIGINT) AS chars,
             |  CAST(min(lm_pm) AS BIGINT) AS min_pm,
             |  CAST(max(lm_pm) AS BIGINT) AS max_pm
             |FROM nt GROUP BY 1, 2
             |ORDER BY source, bucket""".stripMargin)),

    // AN5 — does the curation signal actually rank what it claims to?
    // AUC (Mann–Whitney, tie-corrected) of the lm1 predictability score
    // predicting "this document contains a duplicated length-50
    // substring" (dd15's label) — boilerplate is the predictable text a
    // count LM scores high, so a working signal lands well above the
    // 500-permille coin flip. The kernel ([[graft.operators.RankMetrics]])
    // works on the SCORE-GRAIN count table (<= 1001 rows at any corpus
    // size), so the AUC costs two corpus passes (score + label) plus
    // constant-size rank algebra; corpus-grain count products run in
    // Decimal(38,0) per the silent-int64-wrap convention.
    Q("an5_score_auc",
      (s, dir) => {
        val ls = scoredLabeled(s, dir)
        RankMetrics.aucPermille(ls, "lm_pm", "y")
      },
      Some(s"""WITH $lmPrelude,
             |$labPrelude,
             |ls AS (SELECT sc.lm_pm,
             |    CASE WHEN lab.doc_id IS NOT NULL THEN 1 ELSE 0 END AS y
             |  FROM sc LEFT JOIN lab ON lab.doc_id = sc.doc_id),
             |g AS (SELECT lm_pm, CAST(sum(y) AS BIGINT) AS np,
             |    CAST(count(*) - sum(y) AS BIGINT) AS nn
             |  FROM ls GROUP BY 1),
             |cum AS (SELECT lm_pm, np, nn,
             |    COALESCE(CAST(SUM(nn) OVER (ORDER BY lm_pm
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS cnn
             |  FROM g)
             |SELECT CAST((SELECT sum(np) FROM g) AS BIGINT) AS n_pos,
             |  CAST((SELECT sum(nn) FROM g) AS BIGINT) AS n_neg,
             |  CAST(sum(2 * CAST(np AS HUGEINT) * cnn
             |           + CAST(np AS HUGEINT) * nn) * 1000 //
             |    (2 * (SELECT CAST(sum(np) AS HUGEINT) FROM g)
             |       * (SELECT sum(nn) FROM g)) AS BIGINT) AS auc_pm
             |FROM cum""".stripMargin)),

    // AN6 — the calibration companion to an5's discrimination: per
    // observed score value, how often the "contains a duplicated
    // substring" label actually fires (rate in permille). an5 says the
    // signal RANKS correctly; this is the table you read a threshold
    // off — e.g. "above 34 permille predictability, more than 15% of
    // docs are boilerplate, cut there". Score-grain output (<= 1001
    // rows at any corpus size), built from the same two corpus passes
    // as an5 — no window at all, just one aggregate.
    Q("an6_score_calibration",
      (s, dir) => scoredLabeled(s, dir)
        .groupBy("lm_pm")
        .agg(count(lit(1)).as("n_docs"), sum("y").as("n_dup"),
          expr("sum(y) * 1000 div count(1)").as("rate_pm"))
        .orderBy("lm_pm"),
      Some(s"""WITH $lmPrelude,
             |$labPrelude
             |SELECT sc.lm_pm, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN lab.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_dup,
             |  CAST(sum(CASE WHEN lab.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             |    * 1000 // count(*) AS BIGINT) AS rate_pm
             |FROM sc LEFT JOIN lab ON lab.doc_id = sc.doc_id
             |GROUP BY 1
             |ORDER BY lm_pm""".stripMargin)),

    // AN7 — per-source Kolmogorov–Smirnov drift on the score
    // distribution: D = max over score values of |CDF_source −
    // CDF_rest|, in permille — the shape-sensitive companion to an4's
    // L1 feature drift (KS catches a shifted or bimodal source whose
    // bucket masses still roughly match). Exact integer arithmetic via
    // cross-multiplication: |f_src·n_rest − f_rest·n_src| compared at
    // every observed score, products in Decimal(38,0)/HUGEINT per the
    // silent-int64-wrap convention.
    //
    // Scale shape: one corpus pass to the (source, score) count table,
    // then ALL work is on bounded frames — the grid is source-catalog x
    // score-domain (<= sources x 1001 rows), the CDF windows partition
    // by source over that grid, and the rollup is source-grain.
    Q("an7_ks_drift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ds = lmScored(docs)
          .join(docs.select("doc_id", "source"), Seq("doc_id"))
          .select(col("source"), col("lm_pm"))
        val cSrc = ds.groupBy("source", "lm_pm").agg(count(lit(1)).as("c"))
        val cAll = ds.groupBy("lm_pm").agg(count(lit(1)).as("ca"))
        val grid = ds.select("source").distinct()
          .crossJoin(cAll)
          .join(cSrc, Seq("source", "lm_pm"), "left")
          .select(col("source"), col("lm_pm"),
            coalesce(col("c"), lit(0L)).as("c_src"),
            (col("ca") - coalesce(col("c"), lit(0L))).as("c_rest"))
        val wCum = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("lm_pm")
        val cum = grid
          .withColumn("f_src", sum("c_src").over(wCum))
          .withColumn("f_rest", sum("c_rest").over(wCum))
        val tot = cum.groupBy("source")
          .agg(max("f_src").as("n_src"), max("f_rest").as("n_rest"))
        cum.join(tot, Seq("source"))
          .groupBy("source", "n_src", "n_rest")
          .agg(expr("""CAST(max(abs(CAST(f_src AS DECIMAL(38,0)) * n_rest
                    - CAST(f_rest AS DECIMAL(38,0)) * n_src)) * 1000
                div (CAST(n_src AS DECIMAL(38,0)) * n_rest)
                AS BIGINT)""").as("ks_pm"))
          .select(col("source"), col("n_src"), col("ks_pm"))
          .orderBy("source")
      },
      Some(s"""WITH $lmPrelude,
             |ds AS (SELECT d.source, sc.lm_pm FROM sc JOIN d USING (doc_id)),
             |csrc AS (SELECT source, lm_pm, CAST(count(*) AS BIGINT) AS c
             |  FROM ds GROUP BY 1, 2),
             |call AS (SELECT lm_pm, CAST(count(*) AS BIGINT) AS ca
             |  FROM ds GROUP BY 1),
             |grid AS (SELECT src.source, ca.lm_pm,
             |    COALESCE(cs.c, 0) AS c_src,
             |    ca.ca - COALESCE(cs.c, 0) AS c_rest
             |  FROM (SELECT DISTINCT source FROM ds) src
             |  CROSS JOIN call ca
             |  LEFT JOIN csrc cs ON cs.source = src.source AND cs.lm_pm = ca.lm_pm),
             |cum AS (SELECT source, lm_pm,
             |    CAST(SUM(c_src) OVER (PARTITION BY source ORDER BY lm_pm)
             |      AS BIGINT) AS f_src,
             |    CAST(SUM(c_rest) OVER (PARTITION BY source ORDER BY lm_pm)
             |      AS BIGINT) AS f_rest
             |  FROM grid),
             |tot AS (SELECT source, CAST(max(f_src) AS BIGINT) AS n_src,
             |  CAST(max(f_rest) AS BIGINT) AS n_rest FROM cum GROUP BY 1)
             |SELECT c.source, t.n_src,
             |  CAST(max(abs(CAST(c.f_src AS HUGEINT) * t.n_rest
             |      - CAST(c.f_rest AS HUGEINT) * t.n_src)) * 1000 //
             |    (CAST(t.n_src AS HUGEINT) * t.n_rest) AS BIGINT) AS ks_pm
             |FROM cum c JOIN tot t USING (source)
             |GROUP BY c.source, t.n_src, t.n_rest
             |ORDER BY c.source""".stripMargin)),

    // DD15 — exact duplicated-substring statistics (Lee et al. 2022):
    // per document, the length-50 character windows that occur >= 2
    // times anywhere in the corpus, and the characters covered by at
    // least one such window — the span-level cut an exact-substring
    // dedup pass would make (dd13 is the paragraph-grain sibling).
    // Linear corpus-bytes work: position-window hashes, one count
    // aggregate, per-doc interval union by the running-max trick.
    Q("dd15_substring_dedup",
      (s, dir) => Dedup.duplicatedSubstringStats(
        t(s, dir, "documents"), "doc_id", "text", l = 50)
        .orderBy("doc_id"),
      Some("""WITH docs AS (SELECT doc_id, text FROM documents
             |  WHERE length(text) >= 50),
             |w AS (SELECT doc_id, i AS pos, md5(substr(text, i, 50)) AS wh
             |  FROM docs, LATERAL
             |   (SELECT unnest(generate_series(1, length(text) - 49)) AS i) _t),
             |dh AS (SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2),
             |d AS (SELECT doc_id, pos FROM w JOIN dh USING (wh)),
             |u AS (SELECT doc_id,
             |  greatest(0, (pos + 49) - greatest(
             |    COALESCE(max(pos + 49) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0),
             |    pos - 1)) AS contrib
             |  FROM d),
             |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_windows,
             |  CAST(sum(contrib) AS BIGINT) AS covered_chars
             |  FROM u GROUP BY doc_id)
             |SELECT docs.doc_id,
             |  CAST(length(text) AS BIGINT) AS n_chars,
             |  CAST(length(text) - 49 AS BIGINT) AS total_windows,
             |  COALESCE(dup_windows, 0) AS dup_windows,
             |  COALESCE(covered_chars, 0) AS covered_chars,
             |  CAST(COALESCE(dup_windows, 0) * 1000 // (length(text) - 49)
             |    AS BIGINT) AS dup_pm
             |FROM docs LEFT JOIN st ON docs.doc_id = st.doc_id
             |ORDER BY docs.doc_id""".stripMargin)),

    // DD16 — the APPLY step of dd15: every duplicated length-50 window
    // is cut, the union of windows merged into maximal islands and the
    // text rebuilt from the gaps (Lee et al.'s actual dedup transform).
    // Docs without duplicated windows pass through unchanged; the gate
    // compares the rebuilt text by length + fingerprint.
    Q("dd16_substring_cut",
      (s, dir) => Dedup.cutDuplicatedSubstrings(
        t(s, dir, "documents"), "doc_id", "text", l = 50)
        .select(col("doc_id"),
          length(col("text")).cast(LongType).as("kept_chars"),
          md5(col("text")).as("kept_fp"))
        .orderBy("doc_id"),
      Some("""WITH docs AS (SELECT doc_id, text FROM documents
             |  WHERE length(text) >= 50),
             |w AS (SELECT doc_id, i AS pos, md5(substr(text, i, 50)) AS wh
             |  FROM docs, LATERAL
             |   (SELECT unnest(generate_series(1, length(text) - 49)) AS i) _t),
             |dh AS (SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2),
             |d AS (SELECT doc_id, pos FROM w JOIN dh USING (wh)),
             |m AS (SELECT doc_id, pos,
             |  CASE WHEN pos > COALESCE(max(pos + 49) OVER (PARTITION BY doc_id
             |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |    -4611686018427387904) + 1 THEN 1 ELSE 0 END AS st
             |  FROM d),
             |i AS (SELECT doc_id, isl, min(pos) AS s, max(pos) + 49 AS e
             |  FROM (SELECT doc_id, pos,
             |    SUM(st) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
             |   FROM m)
             |  GROUP BY doc_id, isl),
             |g AS (SELECT doc_id, s, e,
             |  COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
             |  FROM i),
             |r AS (SELECT g.doc_id,
             |  string_agg(substr(text, CAST(pe + 1 AS INTEGER),
             |    CAST(s - pe - 1 AS INTEGER)), '' ORDER BY s) AS head,
             |  max(e) AS maxe
             |  FROM g JOIN docs ON g.doc_id = docs.doc_id GROUP BY g.doc_id),
             |k AS (SELECT d2.doc_id,
             |  COALESCE(r.head || substr(d2.text, CAST(r.maxe + 1 AS INTEGER)),
             |    d2.text) AS kept
             |  FROM documents d2 LEFT JOIN r ON d2.doc_id = r.doc_id)
             |SELECT doc_id, CAST(length(kept) AS BIGINT) AS kept_chars,
             |  md5(kept) AS kept_fp
             |FROM k ORDER BY doc_id""".stripMargin)),

    // SK9 — join-size estimation from Count-Min inner products (Cormode
    // & Muthukrishnan 2005 §4.2), the cost-based-planner primitive: the
    // self-join size on l_partkey is Σ_p c(p)², and the CMS estimate is
    // min over rows r of Σ_b cnt_r[b]² — computable from two 4x4096-counter
    // sketches without touching the key space, which is why a planner
    // can afford it per candidate join at 100 TB. Deterministic md5
    // bucketing (sk4's hash), so the oracle rebuilds the identical
    // sketch; squares accumulate in DECIMAL/HUGEINT (the fe4 silent-wrap
    // class). est >= exact always (collision inflation); the emitted
    // ratio shows the estimate's tightness.
    Q("sk9_join_size_cms",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        def bucket(r: org.apache.spark.sql.Column,
        k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          pmod(conv(substring(md5(concat(r.cast(StringType), lit(":"),
            k.cast(StringType))), 1, 8), 16, 10).cast(LongType), lit(4096L))
        val exact = li.groupBy("l_partkey").agg(count(lit(1)).as("c"))
          .agg(sum(col("c").cast(DecimalType(38, 0)) * col("c"))
            .cast(LongType).as("exact_pairs"))
        val est = li
          .select(col("l_partkey"), explode(sequence(lit(0), lit(3))).as("r"))
          .groupBy(col("r"), bucket(col("r"), col("l_partkey")).as("bucket"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy("r")
          .agg(sum(col("cnt").cast(DecimalType(38, 0)) * col("cnt"))
            .cast(LongType).as("ip"))
          .agg(min(col("ip")).as("est_cms"))
        exact.crossJoin(est)
          .select(col("exact_pairs"), col("est_cms"),
            expr("CAST(exact_pairs * 1000 div est_cms AS BIGINT)")
              .as("tightness_pm"))
      },
      Some("""WITH c AS (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1),
             |exact AS (SELECT CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS exact_pairs
             |          FROM c),
             |rows4 AS (SELECT unnest(generate_series(0,3)) AS r),
             |counters AS (
             |  SELECT r,
             |    CAST(('0x'||substr(md5(CAST(r AS VARCHAR)||':'||CAST(l_partkey AS VARCHAR)),1,8)) AS UBIGINT) % 4096 AS bucket,
             |    count(*) AS cnt
             |  FROM lineitem, rows4 GROUP BY 1, 2),
             |ip AS (SELECT r, CAST(SUM(CAST(cnt AS HUGEINT) * cnt) AS BIGINT) AS ip
             |       FROM counters GROUP BY 1),
             |est AS (SELECT CAST(MIN(ip) AS BIGINT) AS est_cms FROM ip)
             |SELECT exact_pairs, est_cms,
             |  CAST(exact_pairs * 1000 // est_cms AS BIGINT) AS tightness_pm
             |FROM exact, est""".stripMargin)),

    // SK8 — mergeable quantile sketch via the bottom-k hash sample
    // (the KMV sample re-used as a uniform row sample: the k rows with
    // the smallest md5 of their PRIMARY KEY are a deterministic simple
    // random sample, and bottomk(bottomk(A) ∪ bottomk(B)) == bottomk(A∪B)
    // makes it mergeable — partition-local bottom-k heaps, one tiny
    // combine, never a global sort of values). Quantile estimates are
    // `percentile` over the 256 sampled cents; a9 established that
    // Spark's percentile == DuckDB's quantile_cont bit-for-bit over
    // sorted longs. Emitted next to the EXACT quantiles and the
    // merge-identity flag (estimates from two half-sketches merged ==
    // the direct sketch) — the at-scale contract in one row.
    Q("sk8_quantile_sketch",
      (s, dir) => {
        val k = 256
        val base = t(s, dir, "lineitem").select(
          col("l_orderkey"),
          md5(concat_ws("-", col("l_orderkey"), col("l_linenumber"))).as("h"),
          expr("CAST(ROUND(l_extendedprice*100) AS BIGINT)").as("c"))
        def est(df: DataFrame, p50: String, p90: String): DataFrame =
          df.orderBy("h").limit(k).agg(
            expr("percentile(c, 0.5)").as(p50),
            expr("percentile(c, 0.9)").as(p90))
        val direct = est(base, "est_p50_c", "est_p90_c")
        val merged = est(
          base.filter(col("l_orderkey") % 2 === 0).orderBy("h").limit(k)
            .unionByName(
              base.filter(col("l_orderkey") % 2 === 1).orderBy("h").limit(k)),
          "m_p50", "m_p90")
        val exact = base.agg(
          expr("percentile(c, 0.5)").as("exact_p50_c"),
          expr("percentile(c, 0.9)").as("exact_p90_c"))
        direct.crossJoin(exact).crossJoin(merged)
          .select(lit(256L).as("k"),
            col("est_p50_c"), col("est_p90_c"),
            col("exact_p50_c"), col("exact_p90_c"),
            (col("m_p50") === col("est_p50_c") &&
             col("m_p90") === col("est_p90_c")).cast("bigint").as("merged_ok"))
      },
      Some("""WITH base AS (SELECT l_orderkey,
             |  md5(CAST(l_orderkey AS VARCHAR) || '-' ||
             |      CAST(l_linenumber AS VARCHAR)) AS h,
             |  CAST(ROUND(l_extendedprice*100) AS BIGINT) AS c
             | FROM lineitem),
             |sk AS (SELECT c FROM base ORDER BY h LIMIT 256),
             |ska AS (SELECT h, c FROM base WHERE l_orderkey % 2 = 0
             |        ORDER BY h LIMIT 256),
             |skb AS (SELECT h, c FROM base WHERE l_orderkey % 2 = 1
             |        ORDER BY h LIMIT 256),
             |skm AS (SELECT c FROM (SELECT * FROM ska UNION ALL SELECT * FROM skb)
             |        ORDER BY h LIMIT 256)
             |SELECT CAST(256 AS BIGINT) AS k,
             | (SELECT quantile_cont(c, 0.5) FROM sk) AS est_p50_c,
             | (SELECT quantile_cont(c, 0.9) FROM sk) AS est_p90_c,
             | (SELECT quantile_cont(c, 0.5) FROM base) AS exact_p50_c,
             | (SELECT quantile_cont(c, 0.9) FROM base) AS exact_p90_c,
             | CAST((SELECT quantile_cont(c, 0.5) FROM skm) =
             |        (SELECT quantile_cont(c, 0.5) FROM sk)
             |  AND (SELECT quantile_cont(c, 0.9) FROM skm) =
             |        (SELECT quantile_cont(c, 0.9) FROM sk) AS BIGINT) AS merged_ok
             |""".stripMargin)),

    // SK7 — deterministic Bloom filter (Bloom 1970), the runtime-filter
    // primitive: the distinct order-placing custkeys are folded into a
    // 4096-bit array (k=3 salted md5 positions — the same deterministic-
    // hash discipline as sk3/sk4/sk6), then EVERY customer is probed.
    // Output: the filter's fill, the probe outcomes, and the measured
    // false-positive count vs exact membership — the number a join
    // planner trades against shuffle bytes when it pushes the filter
    // into the fact scan. Mergeability is set-union of positions (the
    // distinct aggregate IS the merge); at 100 TB the build side is a
    // distinct-key scan and the probe rides broadcast.
    Q("sk7_bloom_filter",
      (s, dir) => {
        val m = 4096
        // build side keyed on a custkey subset so the probe has real
        // negatives (every customer places orders at gate scale — an
        // all-members probe would measure nothing)
        val keys = t(s, dir, "orders")
          .filter(col("o_custkey").isNotNull && col("o_custkey") % 3 =!= 0)
          .select(col("o_custkey").as("k")).distinct()
        val bits = keys.select(explode(array(
          bloomPos(0, col("k"), m), bloomPos(1, col("k"), m),
          bloomPos(2, col("k"), m))).as("bit")).distinct()
        val probe = t(s, dir, "customer").select(col("c_custkey").as("c"))
        def passJ(df: DataFrame, j: Int): DataFrame =
          df.join(broadcast(bits.withColumnRenamed("bit", s"_b$j")),
            bloomPos(j, col("c"), m) === col(s"_b$j"), "left_semi")
        val pass = passJ(passJ(passJ(probe, 0), 1), 2)
        val truth = probe.join(keys, col("c") === col("k"), "left_semi")
        val row = bits.agg(count(lit(1)).as("n_bits_set"))
          .crossJoin(keys.agg(count(lit(1)).as("n_keys")))
          .crossJoin(probe.agg(count(lit(1)).as("n_probes")))
          .crossJoin(truth.agg(count(lit(1)).as("n_true_members")))
          .crossJoin(pass.agg(count(lit(1)).as("n_bloom_pass")))
        row.select(col("n_keys"), col("n_bits_set"), col("n_probes"),
          col("n_true_members"), col("n_bloom_pass"),
          (col("n_bloom_pass") - col("n_true_members")).as("n_false_pos"))
      },
      Some {
        val m = 4096
        def union3(c: String) = (0 to 2).map(j =>
          s"SELECT ${bloomPosSql(j, c, m)} AS bit FROM k").mkString("\nUNION ALL\n")
        s"""WITH k AS (SELECT DISTINCT o_custkey AS k FROM orders
           |  WHERE o_custkey IS NOT NULL AND o_custkey % 3 <> 0),
           |b AS (SELECT DISTINCT bit FROM (
           |${union3("k")})),
           |p AS (SELECT c_custkey AS c FROM customer),
           |pass AS (SELECT c FROM p
           |  WHERE ${bloomPosSql(0, "c", m)} IN (SELECT bit FROM b)
           |    AND ${bloomPosSql(1, "c", m)} IN (SELECT bit FROM b)
           |    AND ${bloomPosSql(2, "c", m)} IN (SELECT bit FROM b)),
           |t AS (SELECT c FROM p WHERE c IN (SELECT k FROM k))
           |SELECT CAST((SELECT count(*) FROM k) AS BIGINT) AS n_keys,
           |  CAST((SELECT count(*) FROM b) AS BIGINT) AS n_bits_set,
           |  CAST((SELECT count(*) FROM p) AS BIGINT) AS n_probes,
           |  CAST((SELECT count(*) FROM t) AS BIGINT) AS n_true_members,
           |  CAST((SELECT count(*) FROM pass) AS BIGINT) AS n_bloom_pass,
           |  CAST((SELECT count(*) FROM pass) -
           |       (SELECT count(*) FROM t) AS BIGINT) AS n_false_pos""".stripMargin
      }),

    // SK6 — HyperLogLog register sketch (Flajolet et al. 2007) over the
    // distinct-user stream, DETERMINISTIC like sk3/sk4: register index =
    // first 2 md5 hex chars mod 64, rho = leading zeros of the next 48
    // hash bits + 1 (49 - unpadded binary length — identical formula in
    // both engines), register value = max rho. Emitted alongside the
    // same registers rebuilt by MERGING two half-partials (event_id
    // parity), the partial-sketches-then-combine identity that matters
    // at 100 TB — a broken merge diverges from the full build. The
    // estimator stays in the consumer; registers are the exact,
    // integer-valued state.
    Q("sk6_hll_registers",
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
        def regs(df: DataFrame): DataFrame = {
          val h = md5(col("user_id").cast(StringType))
          val x = conv(substring(h, 3, 12), 16, 10).cast(LongType)
          df.select(
              (conv(substring(h, 1, 2), 16, 10).cast(LongType) % 64).as("reg"),
              (lit(49L) - length(ltrim(bin(x), "0"))).as("rho"))
            .groupBy("reg").agg(max(col("rho")).as("rho"))
        }
        val full = regs(ev)
        val merged = regs(ev.filter(col("event_id") % 2 === 0))
          .withColumnRenamed("rho", "rho0")
          .join(regs(ev.filter(col("event_id") % 2 === 1))
            .withColumnRenamed("rho", "rho1"), Seq("reg"), "full_outer")
          .select(col("reg"),
            greatest(coalesce(col("rho0"), lit(0L)),
              coalesce(col("rho1"), lit(0L))).as("rho_merged"))
        full.join(merged, Seq("reg")).orderBy("reg")
      },
      Some("""WITH e AS (SELECT user_id, event_id, md5(CAST(user_id AS VARCHAR)) AS h
             |  FROM events WHERE user_id IS NOT NULL),
             |r AS (SELECT event_id,
             |  CAST(CAST(('0x'||substr(h,1,2)) AS UBIGINT) % 64 AS BIGINT) AS reg,
             |  49 - length(ltrim(bin(CAST(CAST(('0x'||substr(h,3,12)) AS UBIGINT) AS BIGINT)),'0')) AS rho
             | FROM e),
             |f AS (SELECT reg, CAST(max(rho) AS BIGINT) AS rho FROM r GROUP BY 1),
             |h0 AS (SELECT reg, max(rho) AS rho0 FROM r WHERE event_id % 2 = 0 GROUP BY 1),
             |h1 AS (SELECT reg, max(rho) AS rho1 FROM r WHERE event_id % 2 = 1 GROUP BY 1),
             |m AS (SELECT reg,
             |  CAST(greatest(COALESCE(rho0, 0), COALESCE(rho1, 0)) AS BIGINT) AS rho_merged
             | FROM h0 FULL OUTER JOIN h1 USING (reg))
             |SELECT reg, rho, rho_merged
             |FROM f JOIN m USING (reg)
             |ORDER BY reg""".stripMargin)),

    // AN8 — precision/recall/F1 threshold curve for the lm1 score
    // against the dd15 duplicated-substring label: the operating-point
    // table that turns an5's AUC into a deployable cutoff ("flag a doc
    // when lm_pm >= t"). One corpus scan to the score-grain count
    // table; every cumulative runs on that bounded frame
    // (RankMetrics.prCurve), so the curve is constant work at any
    // corpus size.
    Q("an8_pr_curve",
      (s, dir) => RankMetrics.prCurve(scoredLabeled(s, dir), "lm_pm", "y"),
      Some(s"""WITH $lmPrelude,
             |$labPrelude,
             |ls AS (SELECT sc.lm_pm,
             |    CASE WHEN lab.doc_id IS NOT NULL THEN 1 ELSE 0 END AS y
             |  FROM sc LEFT JOIN lab ON lab.doc_id = sc.doc_id),
             |g AS (SELECT lm_pm AS threshold, CAST(sum(y) AS BIGINT) AS np,
             |    CAST(count(*) - sum(y) AS BIGINT) AS nn
             |  FROM ls GROUP BY 1),
             |cum AS (SELECT threshold, np, nn,
             |    CAST(SUM(np) OVER (ORDER BY threshold DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
             |    CAST(SUM(nn) OVER (ORDER BY threshold DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
             |  FROM g),
             |tot AS (SELECT CAST(sum(np) AS BIGINT) AS pos FROM g)
             |SELECT threshold, tp, fp, pos - tp AS fn,
             |  CAST(CAST(tp AS HUGEINT) * 1000 // (tp + fp) AS BIGINT) AS precision_pm,
             |  CAST(CAST(tp AS HUGEINT) * 1000 // pos AS BIGINT) AS recall_pm,
             |  CAST(2 * CAST(tp AS HUGEINT) * 1000 // (2 * tp + fp + (pos - tp)) AS BIGINT) AS f1_pm
             |FROM cum, tot ORDER BY threshold""".stripMargin)),

    // AN9 — Cohen's kappa (inter-annotator agreement): the metric every
    // labeling/rater pipeline reports before trusting its labels. Two
    // binary raters derived deterministically from events (rater A =
    // value ≥ 40; rater B = the same signal through a ±10 seeded
    // perturbation, so agreement is high but imperfect), kappa =
    // (po − pe) / (1 − pe) in exact ppm integer algebra. The pe term
    // multiplies corpus-grain counts (n², a1·b1) — Decimal(38,0) /
    // HUGEINT per the silent-overflow convention. One scan, one 1-row
    // aggregate; negative kappa is well-defined (div truncates toward
    // zero in both engines).
    Q("an9_cohens_kappa",
      (s, dir) => {
        val r = t(s, dir, "events").filter(col("value").isNotNull)
          .select(round(col("value") * 100).cast(LongType).as("v"),
            col("event_id"))
          .select((col("v") >= 4000L).cast(LongType).as("a"),
            ((col("v") + (col("event_id") % 21) * 100L - 1000L) >= 4000L)
              .cast(LongType).as("b"))
        r.agg(count(lit(1)).as("n"), sum(col("a")).as("a1"),
            sum(col("b")).as("b1"),
            sum(col("a") * col("b")).as("n11"),
            sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
          .select(col("n"),
            expr("CAST(CAST(n11 + n00 AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)")
              .as("po_ppm"),
            expr("""CAST((CAST(a1 AS DECIMAL(38,0)) * b1
                    + CAST(n - a1 AS DECIMAL(38,0)) * (n - b1)) * 1000000
                    div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)""")
              .as("pe_ppm"))
          .select(col("n"), col("po_ppm"), col("pe_ppm"),
            expr("""CAST(CAST(po_ppm - pe_ppm AS DECIMAL(38,0)) * 1000000
                    div greatest(1000000 - pe_ppm, 1) AS BIGINT)""")
              .as("kappa_ppm"))
          .orderBy("n")
      },
      Some("""WITH r AS (SELECT
             |    CAST(CAST(ROUND(value*100) AS BIGINT) >= 4000 AS INT) AS a,
             |    CAST((CAST(ROUND(value*100) AS BIGINT)
             |      + (event_id % 21) * 100 - 1000) >= 4000 AS INT) AS b
             |  FROM events WHERE value IS NOT NULL),
             |g AS (SELECT count(*) AS n, CAST(SUM(a) AS BIGINT) AS a1,
             |    CAST(SUM(b) AS BIGINT) AS b1, CAST(SUM(a*b) AS BIGINT) AS n11,
             |    CAST(SUM((1-a)*(1-b)) AS BIGINT) AS n00 FROM r),
             |p AS (SELECT n,
             |    CAST(CAST(n11 + n00 AS HUGEINT) * 1000000 // n AS BIGINT) AS po_ppm,
             |    CAST((CAST(a1 AS HUGEINT) * b1 + CAST(n - a1 AS HUGEINT) * (n - b1))
             |      * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm
             |  FROM g)
             |SELECT n, po_ppm, pe_ppm,
             |  CAST(CAST(po_ppm - pe_ppm AS HUGEINT) * 1000000
             |    // greatest(1000000 - pe_ppm, 1) AS BIGINT) AS kappa_ppm
             |FROM p ORDER BY n""".stripMargin)),

    // FE8 — per-group winsorization at exact discrete percentiles: clamp
    // each value into [p05, p95] of its group, the standard outlier
    // treatment before scaling/featurizing. Percentiles are derived by
    // rank arithmetic (value at rank ⌈p·n⌉ under the group's value
    // sort), NOT percentile_disc, so both engines replay the identical
    // pick. Cost is one value sort per group — the price of EXACT order
    // statistics; the approximate scale path is the bottom-k sketch
    // (sk8) feeding the same clamp.
    Q("fe8_winsorize",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, dir, "events")
          .filter(col("value").isNotNull && col("event_type").isNotNull)
          .select(col("event_type"),
            round(col("value") * 100).cast(LongType).as("v"))
        val wS = Window.partitionBy("event_type").orderBy("v")
        val ranked = e
          .withColumn("rn", row_number().over(wS))
          .withColumn("n",
            count(lit(1)).over(Window.partitionBy("event_type")))
        val cuts = ranked
          .filter(col("rn") === expr("(n * 5 + 99) div 100") ||
            col("rn") === expr("(n * 95 + 99) div 100"))
          .groupBy("event_type")
          .agg(min(col("v")).as("p05"), max(col("v")).as("p95"))
        ranked.join(cuts, "event_type")
          .withColumn("wv", least(greatest(col("v"), col("p05")), col("p95")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), min(col("p05")).as("p05_c"),
            min(col("p95")).as("p95_c"), sum(col("wv")).as("sum_w"),
            min(col("wv")).as("min_w"), max(col("wv")).as("max_w"))
          .orderBy(asc_nulls_first("event_type"))
      },
      Some("""WITH e AS (SELECT event_type, CAST(ROUND(value*100) AS BIGINT) AS v
             |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
             |r AS (SELECT event_type, v,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             |    COUNT(*) OVER (PARTITION BY event_type) AS n FROM e),
             |c AS (SELECT event_type, MIN(v) AS p05, MAX(v) AS p95 FROM r
             |  WHERE rn = (n * 5 + 99) // 100 OR rn = (n * 95 + 99) // 100
             |  GROUP BY 1),
             |w AS (SELECT r.event_type, LEAST(GREATEST(r.v, c.p05), c.p95) AS wv,
             |    c.p05, c.p95
             |  FROM r JOIN c USING (event_type))
             |SELECT event_type, COUNT(*) AS n, CAST(MIN(p05) AS BIGINT) AS p05_c,
             |  CAST(MIN(p95) AS BIGINT) AS p95_c, CAST(SUM(wv) AS BIGINT) AS sum_w,
             |  CAST(MIN(wv) AS BIGINT) AS min_w, CAST(MAX(wv) AS BIGINT) AS max_w
             |FROM w GROUP BY 1 ORDER BY event_type NULLS FIRST""".stripMargin)),

    // CUR11 — domain reweighting in the DoReMi shape (Xie et al. 2023,
    // arXiv:2305.10429): boost the mixture weight of domains the
    // reference model finds HARD. The published rule multiplies domain
    // shares by exp(excess loss / T) — float, engine-divergent — so
    // this is the exact-integer proxy: deficit_pm = how far the
    // domain's mean lm1 predictability sits BELOW the corpus mean, and
    // weight ∝ tokens × (1000 + deficit_pm), normalized to ppm by
    // integer division. One corpus scan (lm1's machinery), one
    // source-grain aggregate, two structurally-1-row broadcasts.
    Q("cur11_doremi_reweight",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val per = docs.select(col("doc_id"), col("source"),
            size(split(trim(regexp_replace(col("text"), "\\s+", " ")), " "))
              .cast(LongType).as("tok"))
          .join(lmScored(docs), Seq("doc_id"))
        val src = per.groupBy("source")
          .agg(count(lit(1)).as("docs"), sum(col("tok")).as("tokens"),
            expr("CAST(sum(lm_pm) div count(1) AS BIGINT)").as("mean_lm_pm"))
        val g = broadcast(per.agg(
          expr("CAST(sum(lm_pm) div count(1) AS BIGINT)").as("gmean")))
        val b = src.crossJoin(g)
          .withColumn("deficit_pm",
            greatest(lit(0L), col("gmean") - col("mean_lm_pm")))
          // wraw = tokens x (1000 + deficit) and its x1e6 ppm scaling
          // wrap int64 at ~1e13-token corpora: Decimal(38,0) internals
          // per the repo convention (HUGEINT in the oracle)
          .withColumn("wraw", col("tokens").cast(DecimalType(38, 0)) *
            (lit(1000L) + col("deficit_pm")))
        val tot = broadcast(b.agg(sum(col("wraw")).as("wtot")))
        b.crossJoin(tot)
          .select(col("source"), col("docs"), col("tokens"),
            col("mean_lm_pm"), col("deficit_pm"),
            expr("CAST(wraw * 1000000 div wtot AS BIGINT)").as("weight_ppm"))
          .orderBy(asc_nulls_first("source"))
      },
      Some(s"""WITH $lmPrelude,
             |per AS (SELECT d.doc_id, d.source, len(ws) AS tok, sc.lm_pm
             |  FROM d JOIN sc USING (doc_id)),
             |src AS (SELECT source, count(*) AS docs,
             |    CAST(SUM(tok) AS BIGINT) AS tokens,
             |    CAST(SUM(lm_pm) // count(*) AS BIGINT) AS mean_lm_pm
             |  FROM per GROUP BY 1),
             |g AS (SELECT CAST(SUM(lm_pm) // count(*) AS BIGINT) AS gmean FROM per),
             |bw AS (SELECT source, docs, tokens, mean_lm_pm,
             |    greatest(0, gmean - mean_lm_pm) AS deficit_pm,
             |    CAST(tokens AS HUGEINT) * (1000 + greatest(0, gmean - mean_lm_pm)) AS wraw
             |  FROM src, g),
             |tot AS (SELECT CAST(SUM(wraw) AS HUGEINT) AS wtot FROM bw)
             |SELECT source, docs, tokens, mean_lm_pm,
             |  CAST(deficit_pm AS BIGINT) AS deficit_pm,
             |  CAST(wraw * 1000000 // wtot AS BIGINT) AS weight_ppm
             |FROM bw, tot ORDER BY source NULLS FIRST""".stripMargin)),

    // DD21 — content-defined chunking dedup: rolling-hash chunk
    // boundaries ([[graft.operators.Dedup.contentDefinedChunks]], the
    // LBFS/FastCDC family), then per-source chunk-grain dedup stats
    // under the global first-occurrence rule (first = smallest
    // (doc_id, chunk_idx)). The chunk-grain complement to dd1 (doc
    // grain) and dd15 (fixed-window grain): robust to edits because
    // boundaries are content-local. Linear in corpus characters; the
    // only shuffles are the fp first-occurrence aggregate and the
    // fp join (unhinted — chunk-vocabulary grain, AQE decides).
    Q("dd21_cdc_chunks",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "source", "text")
        val ch = Dedup.contentDefinedChunks(docs, "doc_id", "text")
        // grank = global (doc_id, chunk_idx) occurrence rank, packed with
        // a 2^32 stride in Decimal(38,0): chunk_idx is posexplode-derived
        // (< 2^31 always), and the Decimal width keeps any int64 doc_id
        // collision-free — a 1e6 stride in BIGINT collides once a doc
        // exceeds 1e6 chunks (~16 MB of text) and wraps past doc_id 9.2e12
        val occ = ch.select(col("source"), md5(col("chunk")).as("fp"),
          length(col("chunk")).cast(LongType).as("len"),
          (col("doc_id").cast(DecimalType(38, 0)) * 4294967296L +
            col("chunk_idx")).as("grank"))
        // first occurrence via a window over fp, NOT a groupBy + self-
        // join: the join form re-chunks the whole corpus for the
        // aggregate side (two full scans in the plan); the window is
        // one scan + one fp-hash exchange
        val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
        occ.withColumn("first_rank", min(col("grank")).over(w))
          .groupBy("source")
          .agg(count(lit(1)).as("n_chunks"),
            countDistinct(col("fp")).as("distinct_chunks"),
            sum(col("len")).as("chunk_bytes"),
            sum(when(col("grank") > col("first_rank"), 1L).otherwise(0L))
              .as("dup_chunks"),
            sum(when(col("grank") > col("first_rank"), col("len"))
              .otherwise(0L)).as("dup_bytes"))
          .orderBy(asc_nulls_first("source"))
      },
      Some("""WITH d AS (SELECT doc_id, source, text, length(text) AS n
             |  FROM documents WHERE length(text) >= 1),
             |cuts AS (SELECT doc_id, source, text, list_sort(list_distinct(
             |    [j FOR j IN range(4, n+1)
             |       IF (ascii(text[j]) + 31*ascii(text[j-1]) + 961*ascii(text[j-2])
             |           + 29791*ascii(text[j-3])) % 16 = 0] || [n])) AS cut
             |  FROM d),
             |occ AS (SELECT source, md5(chunk) AS fp, length(chunk) AS len,
             |    CAST(doc_id AS HUGEINT) * 4294967296 + i AS grank
             |  FROM (SELECT doc_id, source, i,
             |          text[CASE WHEN i=1 THEN 1 ELSE cut[i-1]+1 END : cut[i]] AS chunk
             |        FROM cuts,
             |          LATERAL (SELECT unnest(generate_series(1, len(cut))) AS i) _t)),
             |f AS (SELECT fp, min(grank) AS first_rank FROM occ GROUP BY 1)
             |SELECT source, count(*) AS n_chunks,
             |  count(DISTINCT occ.fp) AS distinct_chunks,
             |  CAST(sum(len) AS BIGINT) AS chunk_bytes,
             |  CAST(sum(CASE WHEN grank > first_rank THEN 1 ELSE 0 END) AS BIGINT)
             |    AS dup_chunks,
             |  CAST(sum(CASE WHEN grank > first_rank THEN len ELSE 0 END) AS BIGINT)
             |    AS dup_bytes
             |FROM occ JOIN f USING (fp)
             |GROUP BY source ORDER BY source NULLS FIRST""".stripMargin)),

    // DD22 — the APPLY step of chunk-grain dedup (dd16's sibling at
    // content-defined-chunk grain): rebuild every document from only
    // the chunks whose fingerprint occurs there FIRST (global
    // (doc_id, chunk_idx) order) — repeated boilerplate chunks vanish
    // wherever they re-appear, within or across documents. Gated like
    // dd16 by (kept length, md5 of the rebuilt text) so a rebuild bug
    // cannot hide in an aggregate. Same single-scan + fp-window shape
    // as dd21; the rebuild is one doc-grain aggregate.
    Q("dd22_cdc_cut",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val ch = Dedup.contentDefinedChunks(docs, "doc_id", "text")
          .select(col("doc_id"), col("chunk_idx"), col("chunk"),
            md5(col("chunk")).as("fp"),
            // 2^32-stride Decimal rank — same collision-free packing as dd21
            (col("doc_id").cast(DecimalType(38, 0)) * 4294967296L +
              col("chunk_idx")).as("grank"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
        ch.withColumn("keep", col("grank") === min(col("grank")).over(w))
          .groupBy("doc_id")
          .agg(array_join(transform(
            sort_array(collect_list(when(col("keep"),
              struct(col("chunk_idx"), col("chunk"))))),
            x => x.getField("chunk")), "").as("kept_text"))
          .select(col("doc_id"),
            length(col("kept_text")).cast(LongType).as("kept_chars"),
            md5(col("kept_text")).as("kept_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text, length(text) AS n
             |  FROM documents WHERE length(text) >= 1),
             |cuts AS (SELECT doc_id, text, list_sort(list_distinct(
             |    [j FOR j IN range(4, n+1)
             |       IF (ascii(text[j]) + 31*ascii(text[j-1]) + 961*ascii(text[j-2])
             |           + 29791*ascii(text[j-3])) % 16 = 0] || [n])) AS cut
             |  FROM d),
             |occ AS (SELECT doc_id, i AS chunk_idx, chunk, md5(chunk) AS fp,
             |    CAST(doc_id AS HUGEINT) * 4294967296 + i AS grank
             |  FROM (SELECT doc_id, i,
             |          text[CASE WHEN i=1 THEN 1 ELSE cut[i-1]+1 END : cut[i]] AS chunk
             |        FROM cuts,
             |          LATERAL (SELECT unnest(generate_series(1, len(cut))) AS i) _t)),
             |kept AS (SELECT doc_id, chunk_idx, chunk,
             |    grank = min(grank) OVER (PARTITION BY fp) AS keep FROM occ)
             |SELECT doc_id, CAST(length(kept_text) AS BIGINT) AS kept_chars,
             |  md5(kept_text) AS kept_md5
             |FROM (SELECT doc_id, COALESCE(string_agg(chunk, '' ORDER BY chunk_idx)
             |        FILTER (WHERE keep), '') AS kept_text
             |      FROM kept GROUP BY doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // RF33 — CDC chunking differential fuzz, the rf27/rf31 pattern:
    // 5 seed instances of 300 generated hex strings (lengths 1-40 plus
    // every-7th empty) chunked by the operator vs the oracle's full
    // list-comprehension replay of the SAME generate_series strings,
    // compared chunk-for-chunk; instance seedoff=500 is the DEGENERATE
    // single-symbol case ('a'*k, k=0..16): the rolling hash is constant
    // — 'aaaa' hashes to 97*32784 which is 0 mod 16 — so EVERY position
    // ≥ 4 is a boundary and the walk must emit runs of 1-char chunks
    // plus the leading 3-char remainder without dropping or merging.
    Q("rf33_cdc_fuzz",
      (s, dir) => {
        val insts = Seq(0L, 100L, 200L, 300L, 400L).map { off =>
          val txt = when(pmod(col("id"), lit(7)) === 0, lit(""))
            .otherwise(concat(
              md5(concat(lit(s"C$off:"), col("id").cast(StringType))),
              md5(concat(lit(s"D$off:"), col("id").cast(StringType))))
              .substr(lit(1), (lit(1) + pmod(col("id"), lit(40))).cast(IntegerType)))
          s.range(1, 301).select(col("id").as("sid"), txt.as("txt"))
            .withColumn("seedoff", lit(off))
        }
        val deg = s.range(1, 301).select(col("id").as("sid"),
          lit("a" * 16).substr(lit(1),
            pmod(col("id"), lit(17)).cast(IntegerType)).as("txt"))
          .withColumn("seedoff", lit(500L))
        (insts :+ deg).map(df =>
            Dedup.contentDefinedChunks(df, "sid", "txt")
              .select("seedoff", "sid", "chunk_idx", "chunk"))
          .reduce(_.unionByName(_))
          .orderBy("seedoff", "sid", "chunk_idx")
      },
      Some {
        def inst(off: Long, gen: String) =
          s"""SELECT CAST($off AS BIGINT) AS seedoff, sid, i AS chunk_idx,
             |  txt[CASE WHEN i=1 THEN 1 ELSE cut[i-1]+1 END : cut[i]] AS chunk
             |FROM (
             |  SELECT sid, txt, list_sort(list_distinct(
             |    [j FOR j IN range(4, n+1)
             |       IF (ascii(txt[j]) + 31*ascii(txt[j-1]) + 961*ascii(txt[j-2])
             |           + 29791*ascii(txt[j-3])) % 16 = 0] || [n])) AS cut
             |  FROM (SELECT i AS sid, $gen AS txt
             |        FROM generate_series(1,300) _g(i)) _s,
             |    LATERAL (SELECT length(txt) AS n) _n
             |  WHERE n >= 1) _c,
             |  LATERAL (SELECT unnest(generate_series(1, len(cut))) AS i) _t""".stripMargin
        val seeds = Seq(0L, 100L, 200L, 300L, 400L).map { off =>
          inst(off,
            s"""CASE WHEN i%7=0 THEN '' ELSE substr(
               |  md5('C$off:'||CAST(i AS VARCHAR))||md5('D$off:'||CAST(i AS VARCHAR)),
               |  1, CAST(1 + i%40 AS INT)) END""".stripMargin)
        }
        val deg = inst(500L, s"substr('${"a" * 16}', 1, CAST(i%17 AS INT))")
        (seeds :+ deg).mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY seedoff, sid, chunk_idx")
      })
  )
}
