package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Frame, Funnel, QualityAudit, Similarity, TextAnalysis, Tokenize}
import graft.sources.Tables

/** Curation-pipeline breadth queries: Gopher-style quality rules,
  * span-level exact dedup (the C4/Dolma paragraph-dedup shape), funnel
  * analysis, equi-depth binning, and typed source/sink round-trips
  * (CSV / JSON-lines / ORC). Every query carries a full DuckDB oracle;
  * the round-trip oracles read the ORIGINAL parquet, so a lossy writer
  * or reader shows up as a hash mismatch.
  */
object PipelineOps {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** sj5's persisted-index location, keyed by sf dir: built+saved once
    * per JVM at a FIXED path (overwrite-mode parquet) so repeated plan
    * constructions neither leak temp dirs nor re-pay the build.
    */
  private val sj5IndexDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** cur13's persisted mid-funnel intake state, same discipline. */
  private val cur13StateDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast(LongType)

  /** documents ∪ re-crawl simulation (same construction as LlmData's
    * dedup corpora) — gives span dedup real cross-document duplicates
    */
  private def dupDocs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val re = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Frame(d).union(Frame(re), unique = false).df
  }
  private val dupDocsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0""".stripMargin

  def all: Seq[Q] = Seq(

    // TX9 — Gopher-style quality rules (Rae et al. 2021, arXiv:2112.11446
    // §A1.1): five independent integerized rule flags + the conjunction.
    // One projection over the scan — the whole rule set is codegen'd
    // Column arithmetic, no shuffle, no UDF.
    Q("tx9_gopher_rules",
      (s, dir) => {
        val flags = TextAnalysis.gopherFlags(col("text"))
        val boolCols = Set("word_count_ok", "mean_word_len_ok",
          "symbol_ratio_ok", "alpha_word_ok", "stopword_ok")
        t(s, dir, "documents").select(
          (col("doc_id") +: flags.map { case (n, c) =>
            (if (boolCols(n)) c.cast(IntegerType).cast(LongType) else c).as(n)
          } :+ TextAnalysis.gopherPass(col("text"))
            .cast(IntegerType).cast(LongType).as("pass")): _*)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_words, mean_word_len_pm, symbol_pm, alpha_word_pm,
             | stop_hits,
             | CAST(CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS word_count_ok,
             | CAST(CASE WHEN mean_word_len_pm >= 3000 AND mean_word_len_pm <= 10000 THEN 1 ELSE 0 END AS BIGINT) AS mean_word_len_ok,
             | CAST(CASE WHEN symbol_pm <= 100 THEN 1 ELSE 0 END AS BIGINT) AS symbol_ratio_ok,
             | CAST(CASE WHEN alpha_word_pm >= 800 THEN 1 ELSE 0 END AS BIGINT) AS alpha_word_ok,
             | CAST(CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS stopword_ok,
             | CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
             |   AND mean_word_len_pm >= 3000 AND mean_word_len_pm <= 10000
             |   AND symbol_pm <= 100 AND alpha_word_pm >= 800
             |   AND stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS pass
             |FROM (
             | SELECT doc_id, n_words,
             |  CASE WHEN n_words = 0 THEN 0
             |    ELSE nsp_chars * 1000 // n_words END AS mean_word_len_pm,
             |  CASE WHEN n_words = 0 THEN 1000
             |    ELSE (hashes + ellipses) * 1000 // n_words END AS symbol_pm,
             |  CASE WHEN n_words = 0 THEN 0
             |    ELSE alpha_words * 1000 // n_words END AS alpha_word_pm,
             |  stop_hits
             | FROM (
             |  SELECT doc_id,
             |   CAST(CASE WHEN nrm = '' THEN 0
             |     ELSE length(nrm) - length(replace(nrm, ' ', '')) + 1 END AS BIGINT) AS n_words,
             |   CAST(length(replace(nrm, ' ', '')) AS BIGINT) AS nsp_chars,
             |   CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS hashes,
             |   CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS ellipses,
             |   CAST(len(regexp_extract_all(nrm, '[^ ]*[a-zA-Z][^ ]*')) AS BIGINT) AS alpha_words,
             |   CAST(CASE WHEN length(p) - length(replace(p, ' the ', '')) > 0 THEN 1 ELSE 0 END
             |    + CASE WHEN length(p) - length(replace(p, ' be ', '')) > 0 THEN 1 ELSE 0 END
             |    + CASE WHEN length(p) - length(replace(p, ' to ', '')) > 0 THEN 1 ELSE 0 END
             |    + CASE WHEN length(p) - length(replace(p, ' of ', '')) > 0 THEN 1 ELSE 0 END
             |    + CASE WHEN length(p) - length(replace(p, ' and ', '')) > 0 THEN 1 ELSE 0 END
             |    + CASE WHEN length(p) - length(replace(p, ' that ', '')) > 0 THEN 1 ELSE 0 END
             |    + CASE WHEN length(p) - length(replace(p, ' have ', '')) > 0 THEN 1 ELSE 0 END
             |    + CASE WHEN length(p) - length(replace(p, ' with ', '')) > 0 THEN 1 ELSE 0 END
             |    + CASE WHEN length(p) - length(replace(p, ' is ', '')) > 0 THEN 1 ELSE 0 END
             |    + CASE WHEN length(p) - length(replace(p, ' a ', '')) > 0 THEN 1 ELSE 0 END
             |    AS BIGINT) AS stop_hits
             |  FROM (SELECT doc_id, text,
             |    trim(regexp_replace(text, '\s+', ' ', 'g')) AS nrm,
             |    ' ' || lower(text) || ' ' AS p FROM documents)
             | )
             |) ORDER BY doc_id""".stripMargin)),

    // DD13 — span-level exact dedup (C4/Dolma paragraph dedup applied to
    // 12-word spans, since the corpus is single-line): first occurrence
    // in corpus order survives, later copies are cut out of the rebuilt
    // text. Two span-keyed shuffles, no corpus-order global sort.
    Q("dd13_span_dedup",
      (s, dir) => Dedup.spanDedup(dupDocs(s, dir), "doc_id", "text", 12)
        .orderBy("doc_id"),
      Some(s"""WITH pool AS ($dupDocsSql),
              |base AS (
              | SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS nrm
              | FROM pool WHERE text IS NOT NULL AND trim(text) <> ''),
              |spans AS (
              | SELECT doc_id, g - 1 AS span_idx,
              |  array_to_string(ws[((g-1)*12 + 1):((g-1)*12 + 12)], ' ') AS span
              | FROM (SELECT doc_id, string_split(nrm, ' ') AS ws FROM base) w,
              | LATERAL (SELECT unnest(generate_series(1, (len(ws)-1)//12 + 1)) AS g) _t),
              |marked AS (
              | SELECT doc_id, span_idx, span,
              |  ROW_NUMBER() OVER (PARTITION BY md5(lower(span))
              |    ORDER BY doc_id, span_idx) AS rn
              | FROM spans)
              |SELECT doc_id, COUNT(*) AS n_spans,
              | CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              | COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' '
              |    ORDER BY span_idx), '') AS text_kept
              |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // FN1 — funnel analysis (signup → view → click → purchase): per-user
    // deepest stage reached and signup→purchase latency. Chained
    // MIN-after-previous stage frames; oracle replays the identical CTE
    // chain.
    Q("fn1_funnel",
      (s, dir) => Funnel.funnel(t(s, dir, "events"),
          "user_id", "event_type", "ts",
          Seq("signup", "view", "click", "purchase"))
        .select(col("user_id"), col("stage_reached"),
          ((unix_micros(col("t_last").cast(TimestampType)) -
            unix_micros(col("t_first").cast(TimestampType))) / 1000000L)
            .cast(LongType).as("funnel_span_s"))
        .orderBy("user_id"),
      Some("""WITH s1 AS (
             | SELECT user_id, MIN(ts) AS t1 FROM events
             | WHERE event_type = 'signup' AND user_id IS NOT NULL GROUP BY 1),
             |s2 AS (
             | SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
             | JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
             | WHERE e.event_type = 'view' GROUP BY 1),
             |s3 AS (
             | SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
             | JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
             | WHERE e.event_type = 'click' GROUP BY 1),
             |s4 AS (
             | SELECT e.user_id, MIN(e.ts) AS t4 FROM events e
             | JOIN s3 ON e.user_id = s3.user_id AND e.ts > s3.t3
             | WHERE e.event_type = 'purchase' GROUP BY 1)
             |SELECT s1.user_id,
             | CAST(1 + CASE WHEN s2.user_id IS NOT NULL THEN 1 ELSE 0 END
             |   + CASE WHEN s3.user_id IS NOT NULL THEN 1 ELSE 0 END
             |   + CASE WHEN s4.user_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage_reached,
             | CAST((epoch_us(COALESCE(s4.t4, s3.t3, s2.t2, s1.t1)) - epoch_us(s1.t1))
             |   // 1000000 AS BIGINT) AS funnel_span_s
             |FROM s1
             |LEFT JOIN s2 ON s1.user_id = s2.user_id
             |LEFT JOIN s3 ON s1.user_id = s3.user_id
             |LEFT JOIN s4 ON s1.user_id = s4.user_id
             |ORDER BY s1.user_id""".stripMargin)),

    // FE2 — equi-depth binning: NTILE(10) per event_type over a total
    // order (value, event_id), reported as per-bin count + exact cent
    // bounds — the feature-binning step of a training pipeline.
    Q("fe2_quantile_bin",
      (s, dir) => {
        val w = Window.partitionBy("event_type")
          .orderBy(asc_nulls_first("value"), asc("event_id"))
        t(s, dir, "events")
          .select(col("event_type"), col("value"), col("event_id"))
          .withColumn("bin", ntile(10).over(w).cast(LongType))
          .groupBy("event_type", "bin")
          .agg(count(lit(1)).as("n"),
            min(cents(col("value"))).as("lo_c"),
            max(cents(col("value"))).as("hi_c"))
          .orderBy(asc_nulls_first("event_type"), asc("bin"))
      },
      Some("""SELECT event_type, bin, COUNT(*) AS n,
             | MIN(CAST(ROUND(value*100) AS BIGINT)) AS lo_c,
             | MAX(CAST(ROUND(value*100) AS BIGINT)) AS hi_c
             |FROM (
             | SELECT event_type, value,
             |  CAST(NTILE(10) OVER (PARTITION BY event_type
             |    ORDER BY value NULLS FIRST, event_id) AS BIGINT) AS bin
             | FROM events)
             |GROUP BY 1, 2
             |ORDER BY event_type NULLS FIRST, bin""".stripMargin)),

    // CUR5 — curation pipeline v2, composing this round's operators in
    // one declarative plan: Gopher quality gate → span-level exact dedup
    // over the survivors → per-source token accounting of the deduped
    // text. At scale this is one projection (gate), two span-keyed
    // shuffles (dedup), one broadcast-joined aggregate (stats).
    Q("cur5_curation_v2",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val passed = docs.filter(TextAnalysis.gopherPass(col("text")))
          .select(col("doc_id"), col("text"), col("source"))
        val deduped = Dedup.spanDedup(
          passed.select("doc_id", "text"), "doc_id", "text", 12)
        deduped.join(passed.select("doc_id", "source"), Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_spans")).as("n_spans"),
            sum(col("n_kept")).as("n_kept"),
            sum(TextAnalysis.tokenCount(col("text_kept"))).as("kept_tokens"))
          .orderBy(asc_nulls_first("source"))
      },
      Some("""WITH flags AS (
             | SELECT doc_id, text, source,
             |  CAST(CASE WHEN nrm = '' THEN 0
             |    ELSE length(nrm) - length(replace(nrm, ' ', '')) + 1 END AS BIGINT) AS n_words,
             |  CAST(length(replace(nrm, ' ', '')) AS BIGINT) AS nsp_chars,
             |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS hashes,
             |  CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS ellipses,
             |  CAST(len(regexp_extract_all(nrm, '[^ ]*[a-zA-Z][^ ]*')) AS BIGINT) AS alpha_words,
             |  CAST(CASE WHEN length(p) - length(replace(p, ' the ', '')) > 0 THEN 1 ELSE 0 END
             |   + CASE WHEN length(p) - length(replace(p, ' be ', '')) > 0 THEN 1 ELSE 0 END
             |   + CASE WHEN length(p) - length(replace(p, ' to ', '')) > 0 THEN 1 ELSE 0 END
             |   + CASE WHEN length(p) - length(replace(p, ' of ', '')) > 0 THEN 1 ELSE 0 END
             |   + CASE WHEN length(p) - length(replace(p, ' and ', '')) > 0 THEN 1 ELSE 0 END
             |   + CASE WHEN length(p) - length(replace(p, ' that ', '')) > 0 THEN 1 ELSE 0 END
             |   + CASE WHEN length(p) - length(replace(p, ' have ', '')) > 0 THEN 1 ELSE 0 END
             |   + CASE WHEN length(p) - length(replace(p, ' with ', '')) > 0 THEN 1 ELSE 0 END
             |   + CASE WHEN length(p) - length(replace(p, ' is ', '')) > 0 THEN 1 ELSE 0 END
             |   + CASE WHEN length(p) - length(replace(p, ' a ', '')) > 0 THEN 1 ELSE 0 END
             |   AS BIGINT) AS stop_hits
             | FROM (SELECT doc_id, text, source,
             |   trim(regexp_replace(text, '\s+', ' ', 'g')) AS nrm,
             |   ' ' || lower(text) || ' ' AS p FROM documents)),
             |passed AS (
             | SELECT doc_id, text, source FROM flags
             | WHERE n_words >= 50 AND n_words <= 100000
             |  AND (CASE WHEN n_words = 0 THEN 0 ELSE nsp_chars * 1000 // n_words END) BETWEEN 3000 AND 10000
             |  AND (CASE WHEN n_words = 0 THEN 1000 ELSE (hashes + ellipses) * 1000 // n_words END) <= 100
             |  AND (CASE WHEN n_words = 0 THEN 0 ELSE alpha_words * 1000 // n_words END) >= 800
             |  AND stop_hits >= 2),
             |base AS (
             | SELECT doc_id, source, trim(regexp_replace(text, '\s+', ' ', 'g')) AS nrm
             | FROM passed WHERE text IS NOT NULL AND trim(text) <> ''),
             |spans AS (
             | SELECT doc_id, g - 1 AS span_idx,
             |  array_to_string(ws[((g-1)*12 + 1):((g-1)*12 + 12)], ' ') AS span
             | FROM (SELECT doc_id, string_split(nrm, ' ') AS ws FROM base) w,
             | LATERAL (SELECT unnest(generate_series(1, (len(ws)-1)//12 + 1)) AS g) _t),
             |marked AS (
             | SELECT doc_id, span_idx, span,
             |  ROW_NUMBER() OVER (PARTITION BY md5(lower(span))
             |    ORDER BY doc_id, span_idx) AS rn
             | FROM spans),
             |dedup AS (
             | SELECT doc_id, COUNT(*) AS n_spans,
             |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' '
             |    ORDER BY span_idx), '') AS text_kept
             | FROM marked GROUP BY doc_id)
             |SELECT b.source, COUNT(*) AS n_docs,
             | CAST(SUM(d.n_spans) AS BIGINT) AS n_spans,
             | CAST(SUM(d.n_kept) AS BIGINT) AS n_kept,
             | CAST(SUM(CASE WHEN trim(regexp_replace(d.text_kept, '\s+', ' ', 'g')) = '' THEN 0
             |   ELSE length(trim(regexp_replace(d.text_kept, '\s+', ' ', 'g')))
             |    - length(replace(trim(regexp_replace(d.text_kept, '\s+', ' ', 'g')), ' ', '')) + 1 END)
             |  AS BIGINT) AS kept_tokens
             |FROM dedup d JOIN base b USING (doc_id)
             |GROUP BY 1 ORDER BY source NULLS FIRST""".stripMargin)),

    // FE3 — winsorization: clip order totals to the per-priority
    // [p10, p90] band (exact-integer percentiles, bounds rounded to
    // cents); two-pass, stats broadcast back — the fact table never
    // shuffles.
    Q("fe3_winsorize",
      (s, dir) => graft.operators.Features.winsorizeStats(
          t(s, dir, "orders").withColumn("v_c", cents(col("o_totalprice"))),
          "o_orderpriority", 0.1, 0.9)
        .orderBy(asc_nulls_first("o_orderpriority")),
      Some("""WITH st AS (
             | SELECT o_orderpriority,
             |  CAST(ROUND(quantile_cont(CAST(ROUND(o_totalprice*100) AS BIGINT), 0.1)) AS BIGINT) AS lo_c,
             |  CAST(ROUND(quantile_cont(CAST(ROUND(o_totalprice*100) AS BIGINT), 0.9)) AS BIGINT) AS hi_c
             | FROM orders GROUP BY 1)
             |SELECT o.o_orderpriority, COUNT(*) AS n,
             | CAST(SUM(LEAST(GREATEST(CAST(ROUND(o.o_totalprice*100) AS BIGINT), st.lo_c), st.hi_c)) AS BIGINT) AS sum_clipped_c,
             | MIN(st.lo_c) AS lo_c, MIN(st.hi_c) AS hi_c
             |FROM orders o JOIN st USING (o_orderpriority)
             |GROUP BY 1 ORDER BY o_orderpriority NULLS FIRST""".stripMargin)),

    // FE4 — deterministic z-score distribution: z in permille from exact
    // integer sums (z = (v·n − Σv)/√(n·Σv² − (Σv)²) — the only float ops
    // are one sqrt and one divide on identical operands in any engine),
    // bucketed at 500 pm. Two-pass, stats broadcast back.
    Q("fe4_zscore_dist",
      (s, dir) => graft.operators.Features.zBucketCounts(
          t(s, dir, "events").filter(col("value").isNotNull)
            .withColumn("v_c", cents(col("value"))),
          "event_type", bucketPm = 500L)
        .orderBy(asc_nulls_first("event_type"), asc("z_bucket")),
      Some("""WITH base AS (
             | SELECT event_type, CAST(ROUND(value*100) AS BIGINT) AS v_c
             | FROM events WHERE value IS NOT NULL),
             |st AS (
             | SELECT event_type, COUNT(*) AS zn, SUM(v_c) AS s1,
             |  SUM(v_c*v_c) AS s2
             | FROM base GROUP BY 1
             | HAVING COUNT(*)*SUM(v_c*v_c) > SUM(v_c)*SUM(v_c))
             |SELECT b.event_type,
             | CAST(FLOOR(CAST(ROUND((b.v_c*st.zn - st.s1) * 1000.0 /
             |   sqrt(CAST(st.zn*st.s2 - st.s1*st.s1 AS DOUBLE))) AS BIGINT)
             |   / 500.0) AS BIGINT) AS z_bucket,
             | COUNT(*) AS n
             |FROM base b JOIN st USING (event_type)
             |GROUP BY 1, 2
             |ORDER BY event_type NULLS FIRST, z_bucket""".stripMargin)),

    // AN1 — rate-anomaly detection: hourly event counts per type vs the
    // trailing 24 OBSERVED hourly buckets (rows window, identical in
    // both engines); anomalous when cnt ≥ 3× trailing mean with ≥ 12
    // buckets of history. All-integer flag: cnt·nw·10 ≥ sw·30.
    Q("an1_rate_anomaly",
      (s, dir) => {
        val hourly = t(s, dir, "events")
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("event_type").orderBy("hour")
          .rowsBetween(-24, -1)
        hourly.select(col("hour"), col("event_type"), col("cnt"),
            count(col("cnt")).over(w).as("nw"),
            coalesce(sum(col("cnt")).over(w), lit(0L)).as("sw"))
          .withColumn("anomaly",
            (col("nw") >= 12 && col("cnt") * col("nw") * 10 >= col("sw") * 30)
              .cast(IntegerType).cast(LongType))
          .orderBy("hour", "event_type")
      },
      Some("""SELECT hour, event_type, cnt, nw, sw,
             | CAST(CASE WHEN nw >= 12 AND cnt * nw * 10 >= sw * 30
             |   THEN 1 ELSE 0 END AS BIGINT) AS anomaly
             |FROM (
             | SELECT hour, event_type, cnt,
             |  COUNT(cnt) OVER w AS nw,
             |  CAST(COALESCE(SUM(cnt) OVER w, 0) AS BIGINT) AS sw
             | FROM (SELECT date_trunc('hour', ts) AS hour, event_type,
             |         COUNT(*) AS cnt FROM events GROUP BY 1, 2)
             | WINDOW w AS (PARTITION BY event_type ORDER BY hour
             |   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
             |ORDER BY hour, event_type""".stripMargin)),

    // COHORT1 — weekly retention: users grouped by signup week, counted
    // as active in each subsequent week they produced any event. The
    // user-grain frames are bounded by the user count, so the joins
    // broadcast at scale.
    Q("cohort1_retention",
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
        val signup = ev.filter(col("event_type") === "signup")
          .groupBy("user_id")
          .agg(min(date_trunc("week", col("ts"))).as("cw"))
        val activity = ev
          .select(col("user_id"), date_trunc("week", col("ts")).as("aw"))
          .distinct()
        signup.join(activity, Seq("user_id"))
          .filter(col("aw") >= col("cw"))
          .groupBy(col("cw").as("cohort_week"),
            (datediff(col("aw"), col("cw")) / 7).cast(LongType)
              .as("week_offset"))
          .agg(count_distinct(col("user_id")).as("active_users"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH s AS (
             | SELECT user_id, MIN(CAST(date_trunc('week', ts) AS TIMESTAMP)) AS cw
             | FROM events
             | WHERE event_type = 'signup' AND user_id IS NOT NULL GROUP BY 1),
             |a AS (
             | SELECT DISTINCT user_id,
             |  CAST(date_trunc('week', ts) AS TIMESTAMP) AS aw FROM events
             | WHERE user_id IS NOT NULL)
             |SELECT cw AS cohort_week,
             | CAST(date_diff('day', cw, aw) // 7 AS BIGINT) AS week_offset,
             | COUNT(DISTINCT user_id) AS active_users
             |FROM s JOIN a USING (user_id) WHERE aw >= cw
             |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin)),

    // DDF5 — span-dedup splice fuzz: twins are CONSTRUCTED from the
    // corpus itself (twin = first 12 words of doc d ++ words 13.. of doc
    // d+10, id d+2000000) so every twin span is a planted duplicate and
    // the span-dedup result is fully determined — both engines build the
    // same corpus and must agree on every kept span.
    Q("ddf5_span_splice",
      (s, dir) => {
        val base = t(s, dir, "documents")
          .filter(col("doc_id") % 5 === 0 && col("text").isNotNull &&
            trim(col("text")) =!= "")
          .select(col("doc_id"),
            trim(regexp_replace(col("text"), "\\s+", " ")).as("text"))
        val wsOf = (c: org.apache.spark.sql.Column) => split(c, " ")
        val a = base.select(col("doc_id").as("ida"), col("text").as("ta"))
        val b = base.select(col("doc_id").as("idb"), col("text").as("tb"))
        val twins = a.join(b, col("ida") + 10 === col("idb"))
          .select((col("ida") + 2000000L).as("doc_id"),
            concat_ws(" ", concat(slice(wsOf(col("ta")), 1, 12),
              slice(wsOf(col("tb")), 13, 100000))).as("text"))
        Dedup.spanDedup(base.unionByName(twins), "doc_id", "text", 12)
          .orderBy("doc_id")
      },
      Some("""WITH base AS (
             | SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS text
             | FROM documents
             | WHERE doc_id % 5 = 0 AND text IS NOT NULL AND trim(text) <> ''),
             |tw AS (
             | SELECT a.doc_id + 2000000 AS doc_id,
             |  array_to_string(
             |    string_split(a.text, ' ')[1:12] ||
             |    string_split(b.text, ' ')[13:100000], ' ') AS text
             | FROM base a JOIN base b ON a.doc_id + 10 = b.doc_id),
             |pool AS (SELECT * FROM base UNION ALL SELECT * FROM tw),
             |spans AS (
             | SELECT doc_id, g - 1 AS span_idx,
             |  array_to_string(ws[((g-1)*12 + 1):((g-1)*12 + 12)], ' ') AS span
             | FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM pool
             |       WHERE text <> '') w,
             | LATERAL (SELECT unnest(generate_series(1, (len(ws)-1)//12 + 1)) AS g) _t),
             |marked AS (
             | SELECT doc_id, span_idx, span,
             |  ROW_NUMBER() OVER (PARTITION BY md5(lower(span))
             |    ORDER BY doc_id, span_idx) AS rn
             | FROM spans)
             |SELECT doc_id, COUNT(*) AS n_spans,
             | CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             | COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' '
             |    ORDER BY span_idx), '') AS text_kept
             |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // IO1/IO2/IO3 — typed source/sink round-trips: write the orders table
    // out in the named format, read it back with the ORIGINAL schema (no
    // inference — the production posture), aggregate. The oracle reads
    // the original parquet, so any writer/reader lossiness (timestamp
    // precision, quoting, type coercion) breaks the hash.
    Q("io1_csv_roundtrip",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val tmp = roundTripDir(dir, "csv")
        orders.write.mode("overwrite").option("header", "true").csv(tmp)
        s.read.schema(orders.schema).option("header", "true").csv(tmp)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(cents(col("o_totalprice"))).as("sum_c"),
            max(col("o_orderdate")).as("max_dt"))
          .orderBy(asc_nulls_first("o_orderpriority"))
      },
      Some(ordersAggSql)),

    Q("io2_json_roundtrip",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val tmp = roundTripDir(dir, "json")
        orders.write.mode("overwrite").json(tmp)
        s.read.schema(orders.schema).json(tmp)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(cents(col("o_totalprice"))).as("sum_c"),
            max(col("o_orderdate")).as("max_dt"))
          .orderBy(asc_nulls_first("o_orderpriority"))
      },
      Some(ordersAggSql)),

    // TOK1 — subword tokenization: greedy longest-prefix WordPiece
    // segmentation (char-fallback UNK) against a fixed vocabulary.
    // Segmentation runs over the DISTINCT-word table only (vocabulary-
    // bounded, not corpus-bounded); the oracle replays the greedy rule
    // with a recursive CTE over the same vocab VALUES list.
    Q("tok1_wordpiece",
      (s, dir) => Tokenize.docPieceStats(
          t(s, dir, "documents"), "doc_id", "text", wpVocab)
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE vocab(v) AS (
              |  SELECT * FROM (VALUES ${wpVocab.map(w => s"('$w')").mkString(", ")})),
              |wcounts AS (
              | SELECT doc_id, word, COUNT(*) AS n FROM (
              |  SELECT doc_id,
              |   unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS word
              |  FROM documents) WHERE word <> '' GROUP BY 1, 2),
              |words AS (SELECT DISTINCT word FROM wcounts),
              |seg AS (
              | SELECT word, 1 AS pos, CAST(0 AS BIGINT) AS n_pieces,
              |   CAST(0 AS BIGINT) AS n_unk FROM words
              | UNION ALL
              | SELECT word, CAST(pos + COALESCE(mlen, 1) AS INTEGER), n_pieces + 1,
              |   n_unk + CASE WHEN mlen IS NULL THEN 1 ELSE 0 END
              | FROM (SELECT s.word, s.pos, s.n_pieces, s.n_unk,
              |        (SELECT MAX(len(v)) FROM vocab
              |         WHERE substr(s.word, s.pos, len(v)) = v) AS mlen
              |       FROM seg s WHERE s.pos <= len(s.word)) _x),
              |pieces AS (SELECT word, n_pieces, n_unk FROM seg
              |           WHERE pos = len(word) + 1)
              |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_words,
              | CAST(SUM(n * n_pieces) AS BIGINT) AS n_pieces,
              | CAST(SUM(n * n_unk) AS BIGINT) AS n_unk
              |FROM wcounts JOIN pieces USING (word)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // TOK4 — unigram-LM segmentation (SentencePiece shape, Kudo 2018):
    // substring-candidate vocabulary (freq >= 3, single chars always
    // in), then Viterbi per distinct word under the packed integer
    // objective pieces*10^9 - Σmin(freq, 999999) — fewest pieces, then
    // highest total unit frequency; the minimal cost is unique per word
    // so no path tie-break is needed. Spark runs layered min-DP
    // (word-grain joins, rounds = max word length); the oracle
    // enumerates ALL segmentations with a recursive CTE and takes the
    // same MIN — two different algorithms, one answer.
    Q("tok4_unigram_lm",
      (s, dir) => {
        val words = t(s, dir, "documents")
          .select(explode(split(trim(regexp_replace(col("text"), "\\s+", " ")),
            " ")).as("word"))
          .filter(col("word") =!= "")
        Tokenize.unigramSegment(words, "word")
          .orderBy("word")
      },
      Some("""WITH RECURSIVE w AS (
             |  SELECT word FROM (
             |    SELECT DISTINCT unnest(string_split(
             |      trim(regexp_replace(text,'\s+',' ','g')),' ')) AS word
             |    FROM documents)
             |  WHERE length(word) BETWEEN 1 AND 24),
             |sp AS (SELECT word, i, l, substr(word, CAST(i AS INT), CAST(l AS INT)) AS unit
             |  FROM w,
             |    LATERAL (SELECT unnest(generate_series(1, length(word))) AS i) _i,
             |    LATERAL (SELECT unnest(generate_series(1,
             |      least(6, length(word) - i + 1))) AS l) _l),
             |f AS (SELECT unit, count(*) AS freq FROM sp GROUP BY 1),
             |v AS (SELECT unit, freq FROM f WHERE freq >= 3 OR length(unit) = 1),
             |ed AS (SELECT sp.word, sp.i - 1 AS s, sp.i - 1 + sp.l AS e,
             |    1000000000 - least(freq, 999999) AS c
             |  FROM sp JOIN v USING (unit)),
             |seg AS (
             |  SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cost FROM w
             |  UNION ALL
             |  SELECT ed.word, ed.e, seg.cost + ed.c
             |  FROM seg JOIN ed ON ed.word = seg.word AND ed.s = seg.pos),
             |m AS (SELECT word, min(cost) AS cost FROM seg
             |  WHERE pos = length(word) GROUP BY word)
             |SELECT word, CAST(length(word) AS BIGINT) AS n_chars,
             |  CAST(cost // 1000000000 + 1 AS BIGINT) AS n_pieces,
             |  CAST((cost // 1000000000 + 1) * 1000000000 - cost AS BIGINT) AS freq_sum,
             |  cost
             |FROM m ORDER BY word""".stripMargin)),

    // TOK6 — per-source unigram fertility: tok4's segmentation applied
    // corpus-wide through the (source, word) count table — pieces per
    // word and chars per piece BY DOMAIN, the table a tokenizer
    // evaluation actually reads (a domain whose fertility is high is
    // under-served by the vocab). Same distinct-word-grain DP as tok4;
    // the corpus join adds one aggregate. Words past the tok4 length
    // cap are excluded from both engines' totals.
    Q("tok6_unigram_fertility",
      (s, dir) => {
        val wc = t(s, dir, "documents")
          .select(col("source"), explode(split(trim(
            regexp_replace(col("text"), "\\s+", " ")), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy("source", "word").agg(count(lit(1)).as("n"))
        val seg = Tokenize.unigramSegment(wc.select("word"), "word")
        wc.join(seg, Seq("word"))
          .groupBy("source")
          .agg(sum(col("n")).as("corpus_words"),
            sum(col("n") * col("n_pieces")).as("corpus_pieces"),
            sum(col("n") * col("n_chars")).as("corpus_chars"))
          .select(col("source"), col("corpus_words"), col("corpus_pieces"),
            col("corpus_chars"),
            expr("CAST(corpus_pieces * 1000 div corpus_words AS BIGINT)")
              .as("fertility_pm"),
            expr("CAST(corpus_chars * 1000 div corpus_pieces AS BIGINT)")
              .as("chars_per_piece_pm"))
          .orderBy(asc_nulls_first("source"))
      },
      Some("""WITH RECURSIVE wc AS (
             |  SELECT source, word, count(*) AS n FROM (
             |    SELECT source, unnest(string_split(
             |      trim(regexp_replace(text,'\s+',' ','g')),' ')) AS word
             |    FROM documents)
             |  WHERE word <> '' GROUP BY 1, 2),
             |w AS (SELECT DISTINCT word FROM wc
             |  WHERE length(word) BETWEEN 1 AND 24),
             |sp AS (SELECT word, i, l, substr(word, CAST(i AS INT), CAST(l AS INT)) AS unit
             |  FROM w,
             |    LATERAL (SELECT unnest(generate_series(1, length(word))) AS i) _i,
             |    LATERAL (SELECT unnest(generate_series(1,
             |      least(6, length(word) - i + 1))) AS l) _l),
             |f AS (SELECT unit, count(*) AS freq FROM sp GROUP BY 1),
             |v AS (SELECT unit, freq FROM f WHERE freq >= 3 OR length(unit) = 1),
             |ed AS (SELECT sp.word, sp.i - 1 AS s, sp.i - 1 + sp.l AS e,
             |    1000000000 - least(freq, 999999) AS c
             |  FROM sp JOIN v USING (unit)),
             |seg AS (
             |  SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cost FROM w
             |  UNION ALL
             |  SELECT ed.word, ed.e, seg.cost + ed.c
             |  FROM seg JOIN ed ON ed.word = seg.word AND ed.s = seg.pos),
             |m AS (SELECT word, length(word) AS n_chars,
             |    min(cost) // 1000000000 + 1 AS n_pieces
             |  FROM seg WHERE pos = length(word) GROUP BY 1, 2),
             |t AS (SELECT source,
             |  CAST(SUM(n) AS BIGINT) AS corpus_words,
             |  CAST(SUM(n * n_pieces) AS BIGINT) AS corpus_pieces,
             |  CAST(SUM(n * n_chars) AS BIGINT) AS corpus_chars
             | FROM wc JOIN m USING (word) GROUP BY 1)
             |SELECT source, corpus_words, corpus_pieces, corpus_chars,
             |  CAST(corpus_pieces * 1000 // corpus_words AS BIGINT) AS fertility_pm,
             |  CAST(corpus_chars * 1000 // corpus_pieces AS BIGINT)
             |    AS chars_per_piece_pm
             |FROM t ORDER BY source NULLS FIRST""".stripMargin)),

    // RF35 — unigram-LM differential fuzz: 2 seeded instances of 200
    // hex words (lengths 1-10, 16-symbol alphabet so substring
    // collisions are dense and the freq>=3 vocab is non-trivial) plus
    // the DEGENERATE constant-symbol instance ('a'*k, k=1..16) where
    // every unit is in-vocab and the fewest-pieces optimum has MANY
    // piece multisets — the packed objective must still pick the unique
    // max-frequency one (e.g. len 16 → 6+6+4 beats 6+5+5 by one freq
    // point). Spark's layered min-DP vs the oracle's all-paths
    // recursive CTE over the SAME generated words, per instance
    // (vocabularies are instance-local).
    Q("rf35_unigram_fuzz",
      (s, dir) => {
        def inst(off: Long) = s.range(1, 201).select(
          md5(concat(lit(s"W$off:"), col("id").cast(StringType)))
            .substr(lit(1), (lit(1) + pmod(col("id"), lit(10))).cast(IntegerType))
            .as("word"))
        val deg = s.range(1, 17).select(
          lit("a" * 16).substr(lit(1), col("id").cast(IntegerType)).as("word"))
        Seq(0L -> inst(0L), 100L -> inst(100L), 500L -> deg).map {
          case (off, words) =>
            Tokenize.unigramSegment(words, "word").withColumn("seedoff", lit(off))
        }.reduce(_.unionByName(_))
          .select("seedoff", "word", "n_chars", "n_pieces", "freq_sum", "cost")
          .orderBy("seedoff", "word")
      },
      Some {
        def chain(off: Long, gen: String) =
          s"""SELECT CAST($off AS BIGINT) AS seedoff, word,
             |  CAST(length(word) AS BIGINT) AS n_chars,
             |  CAST(cost // 1000000000 + 1 AS BIGINT) AS n_pieces,
             |  CAST((cost // 1000000000 + 1) * 1000000000 - cost AS BIGINT) AS freq_sum,
             |  cost
             |FROM (
             |  WITH RECURSIVE w AS (SELECT DISTINCT $gen AS word
             |      FROM generate_series(1, ${if (off == 500L) 16 else 200}) _g(i)),
             |  sp AS (SELECT word, i, l, substr(word, CAST(i AS INT), CAST(l AS INT)) AS unit
             |    FROM w,
             |      LATERAL (SELECT unnest(generate_series(1, length(word))) AS i) _i,
             |      LATERAL (SELECT unnest(generate_series(1,
             |        least(6, length(word) - i + 1))) AS l) _l),
             |  f AS (SELECT unit, count(*) AS freq FROM sp GROUP BY 1),
             |  v AS (SELECT unit, freq FROM f WHERE freq >= 3 OR length(unit) = 1),
             |  ed AS (SELECT sp.word, sp.i - 1 AS s, sp.i - 1 + sp.l AS e,
             |      1000000000 - least(freq, 999999) AS c
             |    FROM sp JOIN v USING (unit)),
             |  seg AS (
             |    SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cost FROM w
             |    UNION ALL
             |    SELECT ed.word, ed.e, seg.cost + ed.c
             |    FROM seg JOIN ed ON ed.word = seg.word AND ed.s = seg.pos)
             |  SELECT word, min(cost) AS cost FROM seg
             |  WHERE pos = length(word) GROUP BY word)""".stripMargin
        val i0 = chain(0L,
          "substr(md5('W0:'||CAST(i AS VARCHAR)), 1, CAST(1 + i%10 AS INT))")
        val i1 = chain(100L,
          "substr(md5('W100:'||CAST(i AS VARCHAR)), 1, CAST(1 + i%10 AS INT))")
        val dg = chain(500L, s"substr('${"a" * 16}', 1, CAST(i AS INT))")
        Seq(i0, i1, dg).mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY seedoff, word")
      }),

    // TX10 — TextRank keywords (Mihalcea & Tarau 2004): 5 PageRank power
    // iterations over the word co-occurrence graph (adjacent-word edges,
    // symmetric, document-frequency weighted). All-integer fixed-point
    // (micro-units, div before scale) so each iteration is exactly
    // SQL-replayable; the oracle chains the same 5 iterations as CTEs.
    Q("tx10_textrank",
      (s, dir) => graft.operators.TextRank.keywords(
          t(s, dir, "documents"), "text", iters = 5, k = 20)
        .select(col("word"), col("r")),
      Some(textRankOracleSql(5, 20))),

    // TOK2 — BPE merge learning (Sennrich et al. 2016): 4 iterations of
    // count-adjacent-pairs → merge argmax, over the weighted distinct-
    // word table. Marker-prefixed symbols make the merge a boundary-safe
    // string replace, so the oracle replays training step by step with
    // the identical replace; ties break (cnt DESC, pair ASC) in both
    // engines.
    Q("tok2_bpe_train",
      (s, dir) => {
        import s.implicits._
        val words = t(s, dir, "documents")
          .select(explode(split(trim(regexp_replace(col("text"), "\\s+", " ")),
            " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy("word").agg(count(lit(1)).as("n"))
        Tokenize.bpeTrain(words, "word", "n", steps = 4)
          .toDF("step", "left_sym", "right_sym", "cnt")
          .select(col("step").cast(LongType).as("step"),
            col("left_sym"), col("right_sym"), col("cnt"))
          .orderBy("step")
      },
      Some(bpeOracleSql(4))),

    // TOK3 — BPE APPLY: the symbol table after tok2's 4 trained merges —
    // the encode step of the trained tokenizer, run on the DISTINCT-word
    // table (vocabulary-bounded, never corpus-bounded). One row per word:
    // corpus weight, piece count, and the pieces themselves. The oracle
    // re-trains AND re-applies all 4 merges with the identical
    // marker-prefixed boundary-safe replaces.
    Q("tok3_bpe_apply",
      (s, dir) => {
        val words = t(s, dir, "documents")
          .select(explode(split(trim(regexp_replace(col("text"), "\\s+", " ")),
            " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy("word").agg(count(lit(1)).as("n"))
        Tokenize.bpeSegments(words, "word", "n", steps = 4)
          .orderBy("word")
      },
      Some(bpeApplyOracleSql(4))),

    // TOK5 — tokenizer FERTILITY: corpus-weighted pieces-per-word and
    // chars-per-piece (both permille) of the 4-merge BPE tokenizer —
    // the evaluation numbers a tokenizer choice is made on (fertility
    // drives sequence length, and sequence length drives training
    // cost). Same vocabulary-bounded segmentation as tok3, reduced to
    // one scalar row; the oracle re-trains and re-applies the merges.
    Q("tok5_fertility",
      (s, dir) => {
        val words = t(s, dir, "documents")
          .select(explode(split(trim(regexp_replace(col("text"), "\\s+", " ")),
            " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy("word").agg(count(lit(1)).as("n"))
        Tokenize.bpeSegments(words, "word", "n", steps = 4)
          .agg(
            expr("CAST(sum(n) AS BIGINT)").as("corpus_words"),
            expr("CAST(sum(n * n_pieces) AS BIGINT)").as("corpus_pieces"),
            expr("CAST(sum(n * length(word)) AS BIGINT)").as("corpus_chars"))
          .select(col("corpus_words"), col("corpus_pieces"), col("corpus_chars"),
            expr("CAST(corpus_pieces * 1000 div corpus_words AS BIGINT)")
              .as("fertility_pm"),
            expr("CAST(corpus_chars * 1000 div corpus_pieces AS BIGINT)")
              .as("chars_per_piece_pm"))
          .orderBy("corpus_words")
      },
      Some(s"""WITH ${bpeChainSql(4)},
             |f AS (SELECT CAST(SUM(n) AS BIGINT) AS corpus_words,
             |  CAST(SUM(n * len(string_split(sym, ' '))) AS BIGINT) AS corpus_pieces,
             |  CAST(SUM(n * length(word)) AS BIGINT) AS corpus_chars
             | FROM s5)
             |SELECT corpus_words, corpus_pieces, corpus_chars,
             | CAST(corpus_pieces * 1000 // corpus_words AS BIGINT) AS fertility_pm,
             | CAST(corpus_chars * 1000 // corpus_pieces AS BIGINT) AS chars_per_piece_pm
             |FROM f ORDER BY corpus_words""".stripMargin)),

    // SS6 — exact kNN join (every 10th vector's 5 nearest neighbors by
    // cosine): broadcast query side, map-side bounded top-k aggregation
    // (the shuffle carries ≤ k rows per partition × query). Scores round
    // to 6 decimals before ranking; ties break on neighbor id.
    Q("ss6_knn_join",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.knnJoinExact(
            emb.filter(col("vec_id") % 10 === 0), emb, "embedding", "vec_id", 5)
          .select(col("qid"), col("rk"), col("nid"))
          .orderBy("qid", "rk")
      },
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
             |  FROM embeddings WHERE vec_id % 10 = 0),
             |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv
             |  FROM embeddings)
             |SELECT qid, rk, nid FROM (
             | SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
             |   ORDER BY ROUND(list_cosine_similarity(qv, nv), 6) DESC, nid) AS rk
             | FROM q JOIN c ON qid <> nid)
             |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin)),

    // DQ7 — column-profile drift between two dataset versions (the
    // Deequ/Great-Expectations "profile and compare" step — the
    // version-grain complement to dq1's distribution PSI and cd3's row
    // diff): per column, (null count, distinct count, min, max,
    // mean-cents) for orders before/after a version cut, unpivoted to
    // (column, metric) rows with an integer relative-drift score. ONE
    // scan per version computes every metric (multi-distinct handled by
    // Spark's Expand), the compare is a 1-row × 1-row broadcast cross —
    // profiling stays scan-bound at any scale.
    Q("dq7_profile_drift",
      (s, dir) => {
        def prof(df: DataFrame, p: String) = df.agg(
          count(lit(1)).as(p + "rows"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as(p + "ck_null"),
          countDistinct(col("o_custkey")).as(p + "ck_dist"),
          min(col("o_custkey")).as(p + "ck_min"),
          max(col("o_custkey")).as(p + "ck_max"),
          min(floor(col("o_totalprice") * 100).cast(LongType)).as(p + "tp_min"),
          max(floor(col("o_totalprice") * 100).cast(LongType)).as(p + "tp_max"),
          expr("CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) div count(1) AS BIGINT)")
            .as(p + "tp_mean"),
          countDistinct(col("o_orderpriority")).as(p + "pr_dist"))
        val o = t(s, dir, "orders")
        val cut = "1998-01-01"
        val v1 = prof(o.filter(col("o_orderdate") < lit(cut)), "a_")
        val v2 = prof(o.filter(col("o_orderdate") >= lit(cut)), "b_")
        val metrics = Seq(
          ("o_orderkey", "rows", "rows"), ("o_custkey", "n_null", "ck_null"),
          ("o_custkey", "n_distinct", "ck_dist"), ("o_custkey", "min", "ck_min"),
          ("o_custkey", "max", "ck_max"), ("o_totalprice", "min_cents", "tp_min"),
          ("o_totalprice", "max_cents", "tp_max"),
          ("o_totalprice", "mean_cents", "tp_mean"),
          ("o_orderpriority", "n_distinct", "pr_dist"))
        val stack = metrics.map { case (c, m, f) =>
          s"'$c', '$m', a_$f, b_$f"
        }.mkString(", ")
        v1.crossJoin(broadcast(v2))
          .selectExpr(s"stack(${metrics.size}, $stack) AS (col_name, metric, v1, v2)")
          .withColumn("drift_pm",
            expr("abs(v1 - v2) * 1000 div greatest(abs(v1), 1)"))
          .orderBy("col_name", "metric")
      },
      Some("""WITH v1 AS (SELECT count(*) AS rows_,
             |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ck_null,
             |    count(DISTINCT o_custkey) AS ck_dist,
             |    min(o_custkey) AS ck_min, max(o_custkey) AS ck_max,
             |    CAST(min(floor(o_totalprice * 100)) AS BIGINT) AS tp_min,
             |    CAST(max(floor(o_totalprice * 100)) AS BIGINT) AS tp_max,
             |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) // count(*) AS BIGINT) AS tp_mean,
             |    count(DISTINCT o_orderpriority) AS pr_dist
             |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
             |v2 AS (SELECT count(*) AS rows_,
             |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ck_null,
             |    count(DISTINCT o_custkey) AS ck_dist,
             |    min(o_custkey) AS ck_min, max(o_custkey) AS ck_max,
             |    CAST(min(floor(o_totalprice * 100)) AS BIGINT) AS tp_min,
             |    CAST(max(floor(o_totalprice * 100)) AS BIGINT) AS tp_max,
             |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) // count(*) AS BIGINT) AS tp_mean,
             |    count(DISTINCT o_orderpriority) AS pr_dist
             |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
             |rows_u AS (
             |  SELECT 'o_orderkey' AS col_name, 'rows' AS metric, v1.rows_ AS v1, v2.rows_ AS v2 FROM v1, v2
             |  UNION ALL SELECT 'o_custkey', 'n_null', v1.ck_null, v2.ck_null FROM v1, v2
             |  UNION ALL SELECT 'o_custkey', 'n_distinct', v1.ck_dist, v2.ck_dist FROM v1, v2
             |  UNION ALL SELECT 'o_custkey', 'min', v1.ck_min, v2.ck_min FROM v1, v2
             |  UNION ALL SELECT 'o_custkey', 'max', v1.ck_max, v2.ck_max FROM v1, v2
             |  UNION ALL SELECT 'o_totalprice', 'min_cents', v1.tp_min, v2.tp_min FROM v1, v2
             |  UNION ALL SELECT 'o_totalprice', 'max_cents', v1.tp_max, v2.tp_max FROM v1, v2
             |  UNION ALL SELECT 'o_totalprice', 'mean_cents', v1.tp_mean, v2.tp_mean FROM v1, v2
             |  UNION ALL SELECT 'o_orderpriority', 'n_distinct', v1.pr_dist, v2.pr_dist FROM v1, v2)
             |SELECT col_name, metric, v1, v2,
             |  CAST(abs(v1 - v2) * 1000 // greatest(abs(v1), 1) AS BIGINT) AS drift_pm
             |FROM rows_u ORDER BY col_name, metric""".stripMargin)),

    // SJ3 — set-similarity PROBE join (the R-S form of sj1): find every
    // corpus document within Jaccard >= 7/10 of a probe set — the
    // lossless decontamination/near-dup LOOKUP, where the probe is a
    // benchmark or a fresh crawl batch, not the corpus itself. Runs the
    // DEDICATED asymmetric kernel (SetSimJoin.jaccardProbeJoin): the
    // corpus posts its prefixes once under its own token order
    // (reusable across probe batches — probe-only tokens rank past the
    // corpus ceiling), the probe posts only its |S|-ceil(t*|S|)+1
    // prefix tokens (spec-pinned, SetSimJoinSpec), and corpus-internal
    // candidate pairs are never generated — unlike the previous
    // sentinel-offset union through the self-join kernel, which paid
    // the full corpus x corpus posting discipline per probe batch.
    // Probe = every 17th doc, so each finds at least its own original
    // at J = 1.
    Q("sj3_jaccard_probe",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          graft.operators.Corpus.words(col("text")).as("toks"))
        val probe = toks.filter(col("doc_id") % 17 === 0)
        graft.operators.SetSimJoin.jaccardProbeJoin(
            toks, probe, "doc_id", "toks", tNum = 7, tDen = 10)
          .select(col("probe_id"), col("corpus_id"),
            col("jaccard_pm").as("j_pm"))
          .orderBy("probe_id", "corpus_id")
      },
      Some("""WITH s AS (SELECT doc_id,
             |  list_distinct(string_split(trim(regexp_replace(text,'\s+',' ','g')),' ')) AS toks
             |  FROM documents),
             |p AS (SELECT doc_id AS probe_id, toks FROM s WHERE doc_id % 17 = 0)
             |SELECT p.probe_id, c.doc_id AS corpus_id,
             |  CAST(len(list_intersect(p.toks, c.toks)) * 1000
             |    // (len(p.toks) + len(c.toks) - len(list_intersect(p.toks, c.toks)))
             |    AS BIGINT) AS j_pm
             |FROM p JOIN s c ON TRUE
             |WHERE len(list_intersect(p.toks, c.toks)) * 10
             |      >= (len(p.toks) + len(c.toks) - len(list_intersect(p.toks, c.toks))) * 7
             |ORDER BY probe_id, corpus_id""".stripMargin)),

    // SJ4 — containment PROBE join (the R-S form of sj2, and the set-
    // containment complement of sj3's Jaccard lookup): which corpus
    // documents contain ≥95% of a probe document's vocabulary — the
    // decontamination question proper ("is this benchmark item quoted
    // in the training set"), asked through the asymmetric kernel: the
    // probe posts only its rarest-token prefixes, the corpus side is a
    // posted-once inverted index reusable across probe batches. Probe =
    // every 23rd doc, so each contains itself at 1000 permille.
    Q("sj4_containment_probe",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          graft.operators.Corpus.words(col("text")).as("toks"))
        val probe = toks.filter(col("doc_id") % 23 === 0)
        graft.operators.SetSimJoin.containmentProbeJoin(
            toks, probe, "doc_id", "toks", tNum = 19, tDen = 20)
          .select(col("probe_id"), col("corpus_id"),
            col("containment_pm").as("c_pm"))
          .orderBy("probe_id", "corpus_id")
      },
      Some("""WITH s AS (SELECT doc_id,
             |  list_distinct(string_split(trim(regexp_replace(text,'\s+',' ','g')),' ')) AS toks
             |  FROM documents),
             |p AS (SELECT doc_id AS probe_id, toks FROM s WHERE doc_id % 23 = 0)
             |SELECT p.probe_id, c.doc_id AS corpus_id,
             |  CAST(len(list_intersect(p.toks, c.toks)) * 1000
             |    // len(p.toks) AS BIGINT) AS c_pm
             |FROM p JOIN s c ON TRUE
             |WHERE len(list_intersect(p.toks, c.toks)) * 20 >= len(p.toks) * 19
             |ORDER BY probe_id, corpus_id""".stripMargin)),

    // SJ5 — the PERSISTED index probed across jobs: sj3's lookup run
    // through JaccardIndex.save → loadJaccardIndex — build the corpus
    // index, write it to parquet (vocab + surviving postings + 1-row
    // threshold/ceiling meta), read it back, probe. Same oracle as the
    // fresh-index probe, so the row gates that persistence is lossless
    // — the cross-job standing-index posture a real crawl pipeline
    // consumes (the reload even skips the rebuild: PROBEJOIN_MEASURE's
    // reload_probe_batch_sec). All-pairs oracle → audit-excluded like
    // sj1-sj3.
    Q("sj5_jaccard_index_reload",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          graft.operators.Corpus.words(col("text")).as("toks"))
        val probe = toks.filter(col("doc_id") % 17 === 0)
        // fixed per-(JVM, sf-dir) location, built+saved ONCE per session:
        // overwrite-mode writes make re-saves safe, the fixed path stops
        // the temp-dir-per-plan-construction disk leak, and repeated
        // constructions (bench attempts, audits, DumpPlans) pay only the
        // reload+probe — the posture the row's name claims to measure
        val ixDir = sj5IndexDir.computeIfAbsent(dir, d => {
          val path = sys.props("java.io.tmpdir") +
            s"/graft-sj5-ix2-${math.abs(d.hashCode).toHexString}"
          graft.operators.SetSimJoin.buildJaccardIndex(
            t(s, d, "documents").select(col("doc_id"),
              graft.operators.Corpus.words(col("text")).as("toks")),
            "doc_id", "toks", tNum = 7, tDen = 10).save(path)
          path
        })
        val reloaded = graft.operators.SetSimJoin.loadJaccardIndex(s, ixDir)
        graft.operators.SetSimJoin.probeJaccardIndex(
            reloaded, probe, "doc_id", "toks")
          .select(col("probe_id"), col("corpus_id"),
            col("jaccard_pm").as("j_pm"))
          .orderBy("probe_id", "corpus_id")
      },
      Some("""WITH s AS (SELECT doc_id,
             |  list_distinct(string_split(trim(regexp_replace(text,'\s+',' ','g')),' ')) AS toks
             |  FROM documents),
             |p AS (SELECT doc_id AS probe_id, toks FROM s WHERE doc_id % 17 = 0)
             |SELECT p.probe_id, c.doc_id AS corpus_id,
             |  CAST(len(list_intersect(p.toks, c.toks)) * 1000
             |    // (len(p.toks) + len(c.toks) - len(list_intersect(p.toks, c.toks)))
             |    AS BIGINT) AS j_pm
             |FROM p JOIN s c ON TRUE
             |WHERE len(list_intersect(p.toks, c.toks)) * 10
             |      >= (len(p.toks) + len(c.toks) - len(list_intersect(p.toks, c.toks))) * 7
             |ORDER BY probe_id, corpus_id""".stripMargin)),

    // RF40 — probe-join differential fuzz (rf28/rf30's sibling for the
    // R-S kernels, which until now were gated only on the documents
    // table): 3 seeded instances of a 200-doc generated corpus (31-token
    // vocab, 4-11 tokens/doc from md5 draws) probed by a 3-arm batch —
    // near-dups (every 10th doc, first token dropped), fresh docs the
    // corpus never saw, and exact copies (every 17th) — through BOTH
    // the Jaccard probe (t=3/5) and the containment probe (t=4/5),
    // tagged and unioned. Oracle = brute-force all-pairs replay of the
    // identical generated arrays (sf-independent, so the row also runs
    // in the bounded 100x audit where the partition count differs).
    Q("rf40_probe_join_fuzz",
      (s, dir) => {
        val insts = Seq(0L, 100L, 200L).map { off =>
          val corpus = s.range(0, 200).select(col("id").as("did"),
            expr(("transform(sequence(1, cast(pmod(id, 8) + 4 as int)), " +
              "j -> concat('x', cast(conv(substr(md5(concat('P@:', id, " +
              "':', j)), 1, 4), 16, 10) as bigint) % 31))")
              .replace("@", off.toString)).as("rtoks"))
          val p1 = corpus.filter(col("did") % 10 === 0)
            .select((col("did") + 5000L).as("did"),
              expr("slice(rtoks, 2, size(rtoks) - 1)").as("rtoks"))
          val p2 = s.range(0, 10).select((col("id") + 6000L).as("did"),
            expr(("transform(sequence(1, cast(pmod(id, 5) + 3 as int)), " +
              "j -> concat('x', cast(conv(substr(md5(concat('Q@:', id, " +
              "':', j)), 1, 4), 16, 10) as bigint) % 31))")
              .replace("@", off.toString)).as("rtoks"))
          val p3 = corpus.filter(col("did") % 17 === 0)
            .select((col("did") + 7000L).as("did"), col("rtoks"))
          val probe = p1.unionByName(p2).unionByName(p3)
          val j = graft.operators.SetSimJoin.jaccardProbeJoin(
              corpus, probe, "did", "rtoks", tNum = 3, tDen = 5)
            .select(lit("J").as("kind"), col("probe_id"), col("corpus_id"),
              col("jaccard_pm").as("score_pm"))
          val c = graft.operators.SetSimJoin.containmentProbeJoin(
              corpus, probe, "did", "rtoks", tNum = 4, tDen = 5)
            .select(lit("C").as("kind"), col("probe_id"), col("corpus_id"),
              col("containment_pm").as("score_pm"))
          j.unionByName(c).withColumn("seedoff", lit(off))
        }
        insts.reduce(_.unionByName(_))
          .select("seedoff", "kind", "probe_id", "corpus_id", "score_pm")
          .orderBy("seedoff", "kind", "probe_id", "corpus_id")
      },
      Some {
        val per = Seq(0L, 100L, 200L).map { off =>
          s"""SELECT CAST($off AS BIGINT) AS seedoff, kind, probe_id,
             |  corpus_id, score_pm
             |FROM (
             |WITH corpus AS (
             |  SELECT i AS did,
             |    ['x' || CAST(CAST(('0x'||substr(md5('P$off:'||i||':'||j),1,4)) AS BIGINT) % 31 AS VARCHAR)
             |     FOR j IN range(1, i % 8 + 5)] AS rtoks
             |  FROM range(0, 200) _t(i)),
             |probe AS (
             |  SELECT did + 5000 AS did, rtoks[2:] AS rtoks
             |  FROM corpus WHERE did % 10 = 0
             |  UNION ALL
             |  SELECT i + 6000,
             |    ['x' || CAST(CAST(('0x'||substr(md5('Q$off:'||i||':'||j),1,4)) AS BIGINT) % 31 AS VARCHAR)
             |     FOR j IN range(1, i % 5 + 4)]
             |  FROM range(0, 10) _f(i)
             |  UNION ALL
             |  SELECT did + 7000, rtoks FROM corpus WHERE did % 17 = 0),
             |cd AS (SELECT did AS cid, list_distinct(rtoks) AS toks FROM corpus),
             |pd AS (SELECT did AS pid, list_distinct(rtoks) AS toks FROM probe)
             |SELECT 'J' AS kind, pid AS probe_id, cid AS corpus_id,
             |  CAST(len(list_intersect(p.toks, c.toks)) * 1000
             |    // (len(p.toks) + len(c.toks) - len(list_intersect(p.toks, c.toks)))
             |    AS BIGINT) AS score_pm
             |FROM pd p JOIN cd c ON
             |  len(list_intersect(p.toks, c.toks)) * 5
             |    >= (len(p.toks) + len(c.toks) - len(list_intersect(p.toks, c.toks))) * 3
             |UNION ALL
             |SELECT 'C', pid, cid,
             |  CAST(len(list_intersect(p.toks, c.toks)) * 1000 // len(p.toks) AS BIGINT)
             |FROM pd p JOIN cd c ON
             |  len(list_intersect(p.toks, c.toks)) * 5 >= len(p.toks) * 4
             |) _u""".stripMargin
        }
        per.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY seedoff, kind, probe_id, corpus_id")
      }),

    // CUR12 — the composed crawl-intake DECONTAMINATION pipeline, the
    // end-to-end shape sj3/sj4 (probe index), dq8 (quarantine apply)
    // and inc4 (counting-algebra stats) exist for: build the Jaccard
    // index + per-lang stats state ONCE over the corpus (docs with
    // id%3<>0), probe a fresh batch (planted exact dups — every 17th
    // corpus doc re-ID'd — mixed with docs the corpus never saw:
    // id%3=0 ∧ id%5=0), quarantine every batch doc within J >= 9/10 of
    // ANY corpus doc (calibrated: ~45/62 batch docs quarantined, ~17
    // admitted at gate scales — both splits populated), and fold ONLY the admitted docs into the stats
    // via +1 signed counting deltas. One frame out: per-lang corpus
    // stats AFTER admission next to the batch census. The corpus is
    // scanned once at build and never again during probe/refresh
    // (DecontamSpec pins the plan property); the oracle replays the
    // identical funnel with a brute-force all-pairs probe.
    Q("cur12_decontam_intake",
      (s, dir) => {
        import graft.operators.{Decontam, IncrementalAgg}
        import graft.operators.IncrementalAgg.AggSpec
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            graft.operators.Corpus.words(col("text")).as("toks"))
        val corpus = toks.filter(col("doc_id") % 3 =!= 0)
        val batch = toks.filter(col("doc_id") % 17 === 0 ||
            (col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0))
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
            col("n_chars"), col("toks"))
        val statKeys = Seq("lang")
        val statAggs = Seq(AggSpec("n_chars", "sum", "chars_sum"),
          AggSpec("n_chars", "count", "n_docs"))
        val st = Decontam.buildIntake(corpus, "doc_id", "toks",
          statKeys, statAggs, tNum = 9, tDen = 10)
        val res = Decontam.processBatch(st, batch, "doc_id", "toks",
          statKeys, statAggs)
        val census = res.quarantined.groupBy("lang")
          .agg(count(lit(1)).as("n_quarantined"))
          .join(res.admitted.groupBy("lang")
            .agg(count(lit(1)).as("n_admitted")), Seq("lang"), "full")
        IncrementalAgg.publishCounting(res.stats, statKeys, statAggs)
          .join(census, Seq("lang"), "left")
          .select(col("lang"), col("n_docs"), col("chars_sum"),
            coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
            coalesce(col("n_quarantined"), lit(0L)).as("n_quarantined"))
          .orderBy("lang")
      },
      Some("""WITH s AS (SELECT doc_id, lang, n_chars,
             |  list_distinct(string_split(trim(regexp_replace(text,'\s+',' ','g')),' ')) AS toks
             |  FROM documents),
             |corpus AS (SELECT * FROM s WHERE doc_id % 3 <> 0),
             |batch AS (SELECT doc_id + 1000000 AS bid, lang, n_chars, toks
             |  FROM s WHERE doc_id % 17 = 0 OR (doc_id % 3 = 0 AND doc_id % 5 = 0)),
             |hits AS (SELECT DISTINCT b.bid FROM batch b JOIN corpus c ON
             |  len(list_intersect(b.toks, c.toks)) * 10
             |    >= (len(b.toks) + len(c.toks) - len(list_intersect(b.toks, c.toks))) * 9),
             |dec AS (SELECT b.*, b.bid IN (SELECT bid FROM hits) AS quar FROM batch b),
             |stats AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
             |    COUNT(n_chars) AS n_docs
             |  FROM (SELECT lang, n_chars FROM corpus
             |        UNION ALL SELECT lang, n_chars FROM dec WHERE NOT quar)
             |  GROUP BY 1),
             |census AS (SELECT lang,
             |    CAST(SUM(CASE WHEN quar THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
             |    CAST(SUM(CASE WHEN quar THEN 0 ELSE 1 END) AS BIGINT) AS n_admitted
             |  FROM dec GROUP BY 1)
             |SELECT s.lang, n_docs, chars_sum,
             |  COALESCE(n_admitted, 0) AS n_admitted,
             |  COALESCE(n_quarantined, 0) AS n_quarantined
             |FROM stats s LEFT JOIN census USING (lang)
             |ORDER BY lang""".stripMargin)),

    // CUR13 — the RESUMED intake funnel: cur12's pipeline killed and
    // picked up by a LATER JOB. Batch 1 (planted exact dups, every 17th
    // corpus doc re-ID'd) runs against the freshly built state, then the
    // whole intake — index, folded stats, batch-1 census — is persisted
    // (Decontam.saveIntake + census parquet) and the "job" ends; batch 2
    // (doc_id%15=0, mostly unseen) is processed by a state LOADED from
    // parquet, never from the corpus or the first job's memory. One
    // frame out: per-lang stats after BOTH admissions next to both
    // batch censuses. The oracle replays the identical two-batch funnel
    // with brute-force probes and NO save/load — so the row gates that
    // mid-funnel persistence is invisible to the result, the cross-job
    // restart posture RestartRecoverySpec proves for the streaming
    // handle. All-pairs oracle → audit posture follows cur12.
    Q("cur13_resumed_intake",
      (s, dir) => {
        import graft.operators.{Decontam, IncrementalAgg}
        import graft.operators.IncrementalAgg.AggSpec
        val statKeys = Seq("lang")
        val statAggs = Seq(AggSpec("n_chars", "sum", "chars_sum"),
          AggSpec("n_chars", "count", "n_docs"))
        def toks = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            graft.operators.Corpus.words(col("text")).as("toks"))
        // job 1 — build, process batch 1, persist, die. Memoized per
        // (JVM, sf dir) at a fixed overwrite-mode path like sj5: no
        // temp-dir leak, and re-constructions resume, not rebuild.
        val path = cur13StateDir.computeIfAbsent(dir, d => {
          val p = sys.props("java.io.tmpdir") +
            s"/graft-cur13-st2-${math.abs(d.hashCode).toHexString}"
          val corpus = toks.filter(col("doc_id") % 3 =!= 0)
          val b1 = toks.filter(col("doc_id") % 17 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
              col("n_chars"), col("toks"))
          val st = Decontam.buildIntake(corpus, "doc_id", "toks",
            statKeys, statAggs, tNum = 9, tDen = 10)
          val r1 = Decontam.processBatch(st, b1, "doc_id", "toks",
            statKeys, statAggs)
          Decontam.saveIntake(
            Decontam.IntakeState(st.index, r1.stats), p)
          r1.quarantined.groupBy("lang")
            .agg(count(lit(1)).as("n_quar_b1"))
            .join(r1.admitted.groupBy("lang")
              .agg(count(lit(1)).as("n_adm_b1")), Seq("lang"), "full")
            .write.mode("overwrite").parquet(s"$p/census")
          p
        })
        // job 2 — everything it knows arrived through parquet
        val loaded = Decontam.loadIntake(s, path)
        val b2 = toks.filter(col("doc_id") % 15 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"),
            col("n_chars"), col("toks"))
        val r2 = Decontam.processBatch(loaded, b2, "doc_id", "toks",
          statKeys, statAggs)
        val c2 = r2.quarantined.groupBy("lang")
          .agg(count(lit(1)).as("n_quar_b2"))
          .join(r2.admitted.groupBy("lang")
            .agg(count(lit(1)).as("n_adm_b2")), Seq("lang"), "full")
        IncrementalAgg.publishCounting(r2.stats, statKeys, statAggs)
          .join(Tables.parquet(s, s"$path/census"), Seq("lang"), "left")
          .join(c2, Seq("lang"), "left")
          .select(col("lang"), col("n_docs"), col("chars_sum"),
            coalesce(col("n_adm_b1"), lit(0L)).as("n_adm_b1"),
            coalesce(col("n_quar_b1"), lit(0L)).as("n_quar_b1"),
            coalesce(col("n_adm_b2"), lit(0L)).as("n_adm_b2"),
            coalesce(col("n_quar_b2"), lit(0L)).as("n_quar_b2"))
          .orderBy("lang")
      },
      Some("""WITH s AS (SELECT doc_id, lang, n_chars,
             |  list_distinct(string_split(trim(regexp_replace(text,'\s+',' ','g')),' ')) AS toks
             |  FROM documents),
             |corpus AS (SELECT * FROM s WHERE doc_id % 3 <> 0),
             |b1 AS (SELECT doc_id + 1000000 AS bid, lang, n_chars, toks
             |  FROM s WHERE doc_id % 17 = 0),
             |b2 AS (SELECT doc_id + 2000000 AS bid, lang, n_chars, toks
             |  FROM s WHERE doc_id % 15 = 0),
             |h1 AS (SELECT DISTINCT b.bid FROM b1 b JOIN corpus c ON
             |  len(list_intersect(b.toks, c.toks)) * 10
             |    >= (len(b.toks) + len(c.toks) - len(list_intersect(b.toks, c.toks))) * 9),
             |h2 AS (SELECT DISTINCT b.bid FROM b2 b JOIN corpus c ON
             |  len(list_intersect(b.toks, c.toks)) * 10
             |    >= (len(b.toks) + len(c.toks) - len(list_intersect(b.toks, c.toks))) * 9),
             |d1 AS (SELECT b.*, b.bid IN (SELECT bid FROM h1) AS quar FROM b1 b),
             |d2 AS (SELECT b.*, b.bid IN (SELECT bid FROM h2) AS quar FROM b2 b),
             |stats AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
             |    COUNT(n_chars) AS n_docs
             |  FROM (SELECT lang, n_chars FROM corpus
             |        UNION ALL SELECT lang, n_chars FROM d1 WHERE NOT quar
             |        UNION ALL SELECT lang, n_chars FROM d2 WHERE NOT quar)
             |  GROUP BY 1),
             |c1 AS (SELECT lang,
             |    CAST(SUM(CASE WHEN quar THEN 0 ELSE 1 END) AS BIGINT) AS n_adm_b1,
             |    CAST(SUM(CASE WHEN quar THEN 1 ELSE 0 END) AS BIGINT) AS n_quar_b1
             |  FROM d1 GROUP BY 1),
             |c2 AS (SELECT lang,
             |    CAST(SUM(CASE WHEN quar THEN 0 ELSE 1 END) AS BIGINT) AS n_adm_b2,
             |    CAST(SUM(CASE WHEN quar THEN 1 ELSE 0 END) AS BIGINT) AS n_quar_b2
             |  FROM d2 GROUP BY 1)
             |SELECT s.lang, n_docs, chars_sum,
             |  COALESCE(n_adm_b1, 0) AS n_adm_b1,
             |  COALESCE(n_quar_b1, 0) AS n_quar_b1,
             |  COALESCE(n_adm_b2, 0) AS n_adm_b2,
             |  COALESCE(n_quar_b2, 0) AS n_quar_b2
             |FROM stats s LEFT JOIN c1 USING (lang) LEFT JOIN c2 USING (lang)
             |ORDER BY lang""".stripMargin)),

    // CUR14 — the decontamination funnel over REALISTIC shingles: cur12
    // runs on unigram token sets of the 31-word synthetic vocabulary,
    // where Jaccard is so saturated the threshold had to be calibrated
    // to 9/10 (at 7/10 that vocab quarantines ~90% of any batch). Real
    // crawl dedup shingles documents into word 3-grams (vocab ~31^3
    // here), so this row re-runs the identical funnel shape on
    // Corpus.shingles(text, 3) with a three-arm batch — planted exact
    // copies, perturbed copies (first three shingles cut), and fresh
    // docs the corpus never saw — at the UN-calibrated t=7/10, and
    // publishes per-arm selectivity (quar_ppm) next to the stats fold.
    // Measured at gate scale: exact 20/20 and perturbed 25/26
    // quarantined, fresh 4/34 — the threshold separates dup from fresh
    // under realistic shingling; 9/10 was the toy-vocab artifact, not
    // the operator. All-pairs oracle → audit posture follows cur12
    // (unbounded 10x, excluded from the bounded 100x).
    Q("cur14_decontam_shingles",
      (s, dir) => {
        import graft.operators.{Decontam, IncrementalAgg}
        import graft.operators.IncrementalAgg.AggSpec
        val statKeys = Seq("src")
        val statAggs = Seq(AggSpec("n_chars", "sum", "chars_sum"),
          AggSpec("n_chars", "count", "n_docs"))
        val sh = t(s, dir, "documents").select(col("doc_id"),
          col("n_chars"),
          graft.operators.Corpus.shingles(col("text"), 3).as("g"))
        val corpus = sh.filter(col("doc_id") % 3 =!= 0)
          .select(col("doc_id"), col("g").as("toks"),
            lit("corpus").as("src"), col("n_chars"))
        val exactA = sh.filter(col("doc_id") % 3 =!= 0 &&
            col("doc_id") % 17 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            col("g").as("toks"), lit("exact").as("src"), col("n_chars"))
        val pert = sh.filter(col("doc_id") % 3 =!= 0 &&
            col("doc_id") % 13 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            expr("slice(g, 4, greatest(size(g) - 3, 0))").as("toks"),
            lit("perturbed").as("src"), col("n_chars"))
        val fresh = sh.filter(col("doc_id") % 3 === 0 &&
            col("doc_id") % 5 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            col("g").as("toks"), lit("fresh").as("src"), col("n_chars"))
        val batch = exactA.unionByName(pert).unionByName(fresh)
        val st = Decontam.buildIntake(corpus, "doc_id", "toks",
          statKeys, statAggs, tNum = 7, tDen = 10)
        val res = Decontam.processBatch(st, batch, "doc_id", "toks",
          statKeys, statAggs)
        val census = res.quarantined.groupBy("src")
          .agg(count(lit(1)).as("n_quarantined"))
          .join(res.admitted.groupBy("src")
            .agg(count(lit(1)).as("n_admitted")), Seq("src"), "full")
          .select(col("src"),
            coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
            coalesce(col("n_quarantined"), lit(0L)).as("n_quarantined"))
        // FULL join: a fully-quarantined arm contributes nothing to the
        // stats fold but its census row is the selectivity record — it
        // must stay visible, zero-filled on the stats side
        IncrementalAgg.publishCounting(res.stats, statKeys, statAggs)
          .join(census, Seq("src"), "full")
          .select(col("src"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("chars_sum"), lit(0L)).as("chars_sum"),
            coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
            coalesce(col("n_quarantined"), lit(0L)).as("n_quarantined"))
          .withColumn("quar_ppm", expr(
            "CASE WHEN n_admitted + n_quarantined > 0 THEN " +
              "(n_quarantined * 1000000) div (n_admitted + n_quarantined)" +
              " ELSE CAST(0 AS BIGINT) END"))
          .orderBy("src")
      },
      Some("""WITH s AS (SELECT doc_id, n_chars,
             |  string_split(trim(regexp_replace(text,'\s+',' ','g')),' ') AS ws
             |  FROM documents),
             |sh AS (SELECT doc_id, n_chars,
             |  [array_to_string(ws[g:g+2], ' ') FOR g IN range(1, greatest(len(ws)-1, 1))] AS grams
             |  FROM s),
             |corpus AS (SELECT doc_id, list_distinct(grams) AS toks,
             |    'corpus' AS src, n_chars FROM sh WHERE doc_id % 3 <> 0),
             |b AS (
             |  SELECT doc_id + 1000000 AS bid, list_distinct(grams) AS toks,
             |    'exact' AS src, n_chars
             |  FROM sh WHERE doc_id % 3 <> 0 AND doc_id % 17 = 0
             |  UNION ALL
             |  SELECT doc_id + 2000000, list_distinct(grams[4:]), 'perturbed', n_chars
             |  FROM sh WHERE doc_id % 3 <> 0 AND doc_id % 13 = 0
             |  UNION ALL
             |  SELECT doc_id + 3000000, list_distinct(grams), 'fresh', n_chars
             |  FROM sh WHERE doc_id % 3 = 0 AND doc_id % 5 = 0),
             |hits AS (SELECT DISTINCT b.bid FROM b JOIN corpus c ON
             |  len(b.toks) > 0 AND len(c.toks) > 0 AND
             |  len(list_intersect(b.toks, c.toks)) * 10
             |    >= (len(b.toks) + len(c.toks) - len(list_intersect(b.toks, c.toks))) * 7),
             |dec AS (SELECT b.*, b.bid IN (SELECT bid FROM hits) AS quar FROM b),
             |stats AS (SELECT src, CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
             |    COUNT(n_chars) AS n_docs
             |  FROM (SELECT src, n_chars FROM corpus
             |        UNION ALL SELECT src, n_chars FROM dec WHERE NOT quar)
             |  GROUP BY 1),
             |census AS (SELECT src,
             |    CAST(SUM(CASE WHEN quar THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
             |    CAST(SUM(CASE WHEN quar THEN 0 ELSE 1 END) AS BIGINT) AS n_admitted
             |  FROM dec GROUP BY 1)
             |SELECT src,
             |  COALESCE(n_docs, 0) AS n_docs,
             |  COALESCE(chars_sum, 0) AS chars_sum,
             |  COALESCE(n_admitted, 0) AS n_admitted,
             |  COALESCE(n_quarantined, 0) AS n_quarantined,
             |  CASE WHEN COALESCE(n_admitted, 0) + COALESCE(n_quarantined, 0) > 0
             |    THEN CAST(COALESCE(n_quarantined, 0) * 1000000
             |      // (COALESCE(n_admitted, 0) + COALESCE(n_quarantined, 0)) AS BIGINT)
             |    ELSE CAST(0 AS BIGINT) END AS quar_ppm
             |FROM stats FULL JOIN census USING (src)
             |ORDER BY src""".stripMargin)),

    // DQ8 — the quarantine APPLY of the quality audit (dq2 reports
    // metrics; this SPLITS the rows): every event gets a reason
    // bitmask — 1 null user, 2 unknown type, 4 value out of range, 8
    // null ts, 16 duplicate event_id (keep-first) — and the output is
    // the per-mask census. Three defect arms are PLANTED (every 997th
    // event re-appears with a nulled user / bogus type / negative
    // value per id%3, dq4's planted-violation discipline) so each
    // reason bit demonstrably fires; the duplicate rank orders on the
    // provenance flag so the planted copy, not the original, is the
    // one quarantined. One scan + one event_id window — linear.
    Q("dq8_quarantine",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
        val base = ev.withColumn("pl", lit(0L))
        val planted = ev.filter(col("event_id") % 997 === 0)
          .select(col("event_id"), col("ts"),
            when(col("event_id") % 3 === 0, lit(null).cast(LongType))
              .otherwise(col("user_id")).as("user_id"),
            when(col("event_id") % 3 === 1, lit("bogus"))
              .otherwise(col("event_type")).as("event_type"),
            when(col("event_id") % 3 === 2, lit(-5.0))
              .otherwise(col("value")).as("value"))
          .withColumn("pl", lit(1L))
        val rn = row_number().over(
          Window.partitionBy("event_id").orderBy("pl"))
        base.unionByName(planted)
          .withColumn("rn", rn)
          .withColumn("reason_mask",
            when(col("user_id").isNull, 1L).otherwise(0L) +
              when(col("event_type").isin("view", "click", "purchase",
                "signup", "error"), 0L).otherwise(2L) +
              when(col("value") >= 0 && col("value") <= 10000, 0L)
                .otherwise(4L) +
              when(col("ts").isNull, 8L).otherwise(0L) +
              when(col("rn") > 1, 16L).otherwise(0L))
          .groupBy("reason_mask")
          .agg(count(lit(1)).as("n_rows"))
          .orderBy("reason_mask")
      },
      Some("""WITH planted AS (
             |  SELECT event_id, ts,
             |    CASE WHEN event_id % 3 = 0 THEN NULL ELSE user_id END AS user_id,
             |    CASE WHEN event_id % 3 = 1 THEN 'bogus' ELSE event_type END AS event_type,
             |    CASE WHEN event_id % 3 = 2 THEN -5.0 ELSE value END AS value,
             |    1 AS pl
             |  FROM events WHERE event_id % 997 = 0),
             |allr AS (
             |  SELECT event_id, ts, user_id, event_type, value, 0 AS pl FROM events
             |  UNION ALL SELECT * FROM planted),
             |rk AS (SELECT *,
             |    row_number() OVER (PARTITION BY event_id ORDER BY pl) AS rn
             |  FROM allr)
             |SELECT CAST(
             |    CASE WHEN user_id IS NULL THEN 1 ELSE 0 END
             |  + CASE WHEN event_type IN ('view','click','purchase','signup','error')
             |      THEN 0 ELSE 2 END
             |  + CASE WHEN value >= 0 AND value <= 10000 THEN 0 ELSE 4 END
             |  + CASE WHEN ts IS NULL THEN 8 ELSE 0 END
             |  + CASE WHEN rn > 1 THEN 16 ELSE 0 END AS BIGINT) AS reason_mask,
             |  count(*) AS n_rows
             |FROM rk GROUP BY 1 ORDER BY reason_mask""".stripMargin)),

    // DQ2 — declarative data-quality constraint audit: five checks
    // (completeness permille, primary-key duplicate count, domain
    // membership, range, timestamp completeness) evaluated in ONE
    // aggregation pass over events — the Deequ shape (Schelter et al.,
    // VLDB 2018). Metrics are scale-free so the same bounds hold at
    // every SF.
    Q("dq2_constraint_audit",
      (s, dir) => QualityAudit.audit(t(s, dir, "events"), eventChecks()),
      Some("""WITH m AS (
             | SELECT COUNT(*) AS n, COUNT(user_id) AS c_user,
             |  COUNT(DISTINCT event_id) AS d_eid,
             |  SUM(CASE WHEN event_type IN ('view','click','purchase','signup','error')
             |      THEN 0 ELSE 1 END) AS v_type,
             |  SUM(CASE WHEN value >= 0 AND value <= 10000 THEN 0 ELSE 1 END) AS v_val,
             |  COUNT(ts) AS c_ts
             | FROM events),
             |rows_ AS (
             | SELECT '01_user_id_completeness_pm' AS chk, 'user_id' AS col_name,
             |   CAST(c_user * 1000 // n AS BIGINT) AS value,
             |   CAST(900 AS BIGINT) AS lo, CAST(1000 AS BIGINT) AS hi FROM m
             | UNION ALL
             | SELECT '02_event_id_pk_dups', 'event_id',
             |   CAST(n - d_eid AS BIGINT), 0, 0 FROM m
             | UNION ALL
             | SELECT '03_event_type_domain_viol', 'event_type',
             |   CAST(v_type AS BIGINT), 0, 0 FROM m
             | UNION ALL
             | SELECT '04_value_range_viol', 'value',
             |   CAST(v_val AS BIGINT), 0, 0 FROM m
             | UNION ALL
             | SELECT '05_ts_completeness_pm', 'ts',
             |   CAST(c_ts * 1000 // n AS BIGINT), 1000, 1000 FROM m)
             |SELECT chk, col_name, value, lo, hi,
             | CAST(CASE WHEN value >= lo AND value <= hi THEN 1 ELSE 0 END AS BIGINT) AS ok
             |FROM rows_ ORDER BY chk""".stripMargin)),

    // TX13 — URL normalization + blocklist audit, every crawl pipeline's
    // first stage: canonical form (https, lowercase host, www./port
    // stripped, trailing slash trimmed, fragment dropped, utm_* params
    // removed) as pure regexp/array kernels, then per-host dedup counts
    // and the blocklist flag. URLs are built deterministically from
    // (source, doc_id) — three raw variants per doc that MUST collapse
    // to one canonical form (n_urls < n_docs proves the merge). One
    // scan + one host-grain aggregate.
    Q("tx13_url_normalize",
      (s, dir) => {
        val raw = concat(lit("HTTPS://WWW."), upper(col("source")),
          lit(".Example.COM:443/p"), (col("doc_id") % 50).cast(StringType),
          when(col("doc_id") % 3 === 0,
            concat(lit("/?utm_source=x&id="), (col("doc_id") % 7).cast(StringType)))
          .when(col("doc_id") % 3 === 1,
            concat(lit("?id="), (col("doc_id") % 7).cast(StringType),
              lit("&utm_campaign=y#frag")))
          .otherwise(lit("/")))
        t(s, dir, "documents")
          .select(TextAnalysis.normalizeUrl(raw).as("url_norm"),
            TextAnalysis.urlHost(raw).as("host"))
          .groupBy("host")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct("url_norm").as("n_urls"))
          .withColumn("blocked",
            when(col("host").isin("src0.example.com", "src13.example.com"), 1L)
              .otherwise(0L))
          .orderBy("host")
      },
      Some("""WITH raw AS (SELECT doc_id,
             |  'HTTPS://WWW.' || upper(source) || '.Example.COM:443/p' ||
             |  CAST(doc_id % 50 AS VARCHAR) ||
             |  CASE WHEN doc_id % 3 = 0
             |       THEN '/?utm_source=x&id=' || CAST(doc_id % 7 AS VARCHAR)
             |       WHEN doc_id % 3 = 1
             |       THEN '?id=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_campaign=y#frag'
             |       ELSE '/' END AS url
             | FROM documents),
             |q AS (SELECT doc_id, url,
             |  COALESCE(array_to_string(list_filter(
             |    string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
             |    x -> NOT starts_with(x, 'utm_') AND x <> ''), '&'), '') AS q2
             | FROM raw),
             |n AS (SELECT doc_id,
             |  regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1)),
             |    '^www\.', '') AS host,
             |  'https://' ||
             |   regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1)),
             |     '^www\.', '') ||
             |   regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]*([^?#]*)', 1),
             |     '/+$', '') ||
             |   CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END AS url_norm
             | FROM q)
             |SELECT host, COUNT(*) AS n_docs, COUNT(DISTINCT url_norm) AS n_urls,
             | CAST(CASE WHEN host IN ('src0.example.com', 'src13.example.com')
             |      THEN 1 ELSE 0 END AS BIGINT) AS blocked
             |FROM n GROUP BY host ORDER BY host""".stripMargin)),

    // DQ5 — k-anonymity audit (Sweeney 2002): group events by the
    // quasi-identifier (event_type, signup-week user cohort bucket) and
    // report, per k threshold in {2, 5, 10}, how many equivalence
    // classes and rows fall below k — the re-identification risk screen
    // a release pipeline runs before publishing. One aggregate to
    // QI-cardinality rows, then a 3-row threshold explode; scale-free.
    Q("dq5_kanonymity",
      (s, dir) => {
        val qi = t(s, dir, "events")
          .filter(col("user_id").isNotNull)
          .groupBy(col("event_type"), (col("user_id") % 20).as("cohort"))
          .agg(count(lit(1)).as("n"))
        qi.crossJoin(broadcast(
            s.range(0, 3).select(element_at(
              typedLit(Seq(2L, 5L, 10L)), col("id").cast(IntegerType) + 1)
              .as("k"))))
          .groupBy("k")
          .agg(count(lit(1)).as("n_classes"),
            sum(when(col("n") < col("k"), 1L).otherwise(0L)).as("small_classes"),
            sum(when(col("n") < col("k"), col("n")).otherwise(0L)).as("rows_at_risk"),
            min(col("n")).as("min_class_size"))
          .orderBy("k")
      },
      Some("""WITH qi AS (
             |  SELECT event_type, user_id % 20 AS cohort, count(*) AS n
             |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
             |ks(k) AS (VALUES (CAST(2 AS BIGINT)), (CAST(5 AS BIGINT)),
             |          (CAST(10 AS BIGINT)))
             |SELECT k, count(*) AS n_classes,
             |  CAST(SUM(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT) AS small_classes,
             |  CAST(SUM(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
             |  CAST(MIN(n) AS BIGINT) AS min_class_size
             |FROM qi CROSS JOIN ks GROUP BY k
             |ORDER BY k""".stripMargin)),

    // IO4 — parquet schema evolution: half the table written with a
    // 3-column early schema, half with the full 6-column schema;
    // mergeSchema unifies the read and evolved-away columns come back
    // NULL. The oracle replays the projection with typed NULLs.
    Q("io4_schema_evolution",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val d1 = roundTripDir(dir, "evo1")
        val d2 = roundTripDir(dir, "evo2")
        orders.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .write.mode("overwrite").parquet(d1)
        orders.filter(col("o_orderkey") % 2 === 1)
          .write.mode("overwrite").parquet(d2)
        s.read.option("mergeSchema", "true").parquet(d1, d2)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(cents(col("o_totalprice"))).as("sum_c"),
            count(col("o_orderdate")).as("n_dt"))
          .orderBy(asc_nulls_first("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n,
             | CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_c,
             | COUNT(o_orderdate) AS n_dt
             |FROM (
             | SELECT CAST(NULL AS VARCHAR) AS o_orderstatus, o_totalprice,
             |   CAST(NULL AS TIMESTAMP) AS o_orderdate
             | FROM orders WHERE o_orderkey % 2 = 0
             | UNION ALL
             | SELECT o_orderstatus, o_totalprice, o_orderdate
             | FROM orders WHERE o_orderkey % 2 = 1)
             |GROUP BY 1 ORDER BY o_orderstatus NULLS FIRST""".stripMargin)),

    Q("io3_orc_roundtrip",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val tmp = roundTripDir(dir, "orc")
        orders.write.mode("overwrite").orc(tmp)
        s.read.schema(orders.schema).orc(tmp)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(cents(col("o_totalprice"))).as("sum_c"),
            max(col("o_orderdate")).as("max_dt"))
          .orderBy(asc_nulls_first("o_orderpriority"))
      },
      Some(ordersAggSql)))

  /** checks for dq2 — every metric is scale-free (permille ratio or a
    * must-be-zero count), so the same bounds hold at every SF and at the
    * replicas
    */
  private def eventChecks(): Seq[QualityAudit.Check] = {
    val n = count(lit(1))
    Seq(
      QualityAudit.Check("01_user_id_completeness_pm", "user_id",
        QualityAudit.completeness(col("user_id")) * 1000L / n, 900L, 1000L),
      QualityAudit.Check("02_event_id_pk_dups", "event_id",
        n - QualityAudit.distinctness(col("event_id")), 0L, 0L),
      QualityAudit.Check("03_event_type_domain_viol", "event_type",
        QualityAudit.violations(col("event_type").isin(
          "view", "click", "purchase", "signup", "error")), 0L, 0L),
      QualityAudit.Check("04_value_range_viol", "value",
        QualityAudit.violations(col("value") >= 0 && col("value") <= 10000),
        0L, 0L),
      QualityAudit.Check("05_ts_completeness_pm", "ts",
        QualityAudit.completeness(col("ts")) * 1000L / n, 1000L, 1000L))
  }

  /** WordPiece vocabulary: multi-char stems covering the corpus words
    * plus a partial single-char alphabet ('p' et al. deliberately absent
    * so the UNK fallback path is exercised). The SAME literal list feeds
    * the Spark kernel and the oracle's VALUES clause.
    */
  private val wpVocab: Seq[String] = Seq(
    "th", "le", "ta", "win", "dow", "str", "eam", "spark", "col", "umn",
    "ue", "val", "ord", "er", "que", "ry", "jo", "in", "ha", "sh", "sc",
    "an", "sl", "ow", "fa", "st", "gr", "oup", "me", "rge", "ro", "li",
    "ne", "ke", "pa", "rt", "da", "sm", "all", "batch", "cu", "om", "fi",
    "lt",
    "a", "e", "i", "o", "u", "w", "y", "t", "r", "s", "b", "g", "v", "c", "d")

  /** the tx10 oracle: the same `iters` power iterations as chained CTEs,
    * identical integer fixed-point arithmetic
    */
  private def textRankOracleSql(iters: Int, k: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
         | SELECT e.dst AS word,
         |  150000 + 85 * SUM(r${i - 1}.r * e.w // ws_.wtot) // 100 AS r
         | FROM e JOIN r${i - 1} ON e.src = r${i - 1}.word
         | JOIN ws_ ON e.src = ws_.src
         | GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH bg AS (
       | SELECT DISTINCT doc_id, ws[g] AS a, ws[g+1] AS b
       | FROM (SELECT doc_id,
       |   string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS ws
       |  FROM documents) w,
       | LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS g) _t),
       |pairs AS (SELECT a, b, COUNT(*) AS w FROM bg WHERE a <> b GROUP BY 1, 2),
       |e AS (SELECT src, dst, SUM(w) AS w FROM (
       |  SELECT a AS src, b AS dst, w FROM pairs
       |  UNION ALL SELECT b, a, w FROM pairs) GROUP BY 1, 2),
       |ws_ AS (SELECT src, SUM(w) AS wtot FROM e GROUP BY 1),
       |r0 AS (SELECT src AS word, CAST(1000000 AS BIGINT) AS r FROM ws_),
       |$iterCtes
       |SELECT word, CAST(r AS BIGINT) AS r FROM r$iters
       |ORDER BY r DESC, word LIMIT $k""".stripMargin
  }

  /** the tok2 oracle: `steps` chained (pairs → argmax → merge) CTE
    * stages generated from the same loop structure the operator runs
    */
  private def bpeOracleSql(steps: Int): String = {
    def pairStage(i: Int): String =
      s"""p$i AS (SELECT ws[g] || ' ' || ws[g+1] AS pair, SUM(n) AS cnt
         | FROM (SELECT n, string_split(sym, ' ') AS ws FROM s$i) _x$i,
         | LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS g) _g$i
         | GROUP BY 1),
         |b$i AS (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1)""".stripMargin
    def mergeStage(i: Int): String =
      s"""s${i + 1} AS (SELECT n, replace(sym, (SELECT pair FROM b$i),
         |  replace((SELECT pair FROM b$i), ' ', '')) AS sym FROM s$i)""".stripMargin
    val stages = (1 to steps).map { i =>
      pairStage(i) + (if (i < steps) ",\n" + mergeStage(i) else "")
    }.mkString(",\n")
    val finals = (1 to steps).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS step,
         | replace(string_split(pair, ' ')[1], '~', '') AS left_sym,
         | replace(string_split(pair, ' ')[2], '~', '') AS right_sym,
         | CAST(cnt AS BIGINT) AS cnt FROM b$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH w AS (
       | SELECT word, COUNT(*) AS n FROM (
       |  SELECT unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS word
       |  FROM documents) WHERE word <> '' GROUP BY 1),
       |s1 AS (SELECT n, trim(regexp_replace(word, '(.)', '~\\1 ', 'g')) AS sym FROM w),
       |$stages
       |SELECT * FROM (
       |$finals
       |) ORDER BY step""".stripMargin
  }

  /** tok3's oracle: replay BPE training AND application — every merge
    * stage applied (unlike [[bpeOracleSql]], which stops at the last
    * argmax), with the word column carried through to the final symbol
    * table.
    */
  /** The shared w/s1/merge-stage CTE chain of the BPE apply oracles:
    * re-trains and re-applies `steps` merges, ending at s{steps+1}
    * (word, n, sym).
    */
  private def bpeChainSql(steps: Int): String = {
    def pairStage(i: Int): String =
      s"""p$i AS (SELECT ws[g] || ' ' || ws[g+1] AS pair, SUM(n) AS cnt
         | FROM (SELECT n, string_split(sym, ' ') AS ws FROM s$i) _x$i,
         | LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS g) _g$i
         | GROUP BY 1),
         |b$i AS (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1)""".stripMargin
    def mergeStage(i: Int): String =
      s"""s${i + 1} AS (SELECT word, n, replace(sym, (SELECT pair FROM b$i),
         |  replace((SELECT pair FROM b$i), ' ', '')) AS sym FROM s$i)""".stripMargin
    val stages = (1 to steps).map(i => pairStage(i) + ",\n" + mergeStage(i))
      .mkString(",\n")
    s"""w AS (
       | SELECT word, COUNT(*) AS n FROM (
       |  SELECT unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS word
       |  FROM documents) WHERE word <> '' GROUP BY 1),
       |s1 AS (SELECT word, n, trim(regexp_replace(word, '(.)', '~\\1 ', 'g')) AS sym FROM w),
       |$stages""".stripMargin
  }

  private def bpeApplyOracleSql(steps: Int): String =
    s"""WITH ${bpeChainSql(steps)}
       |SELECT word, CAST(n AS BIGINT) AS n,
       | CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_pieces,
       | replace(sym, '~', '') AS pieces
       |FROM s${steps + 1} ORDER BY word""".stripMargin

  private def roundTripDir(dir: String, fmt: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_io_${fmt}_" +
      dir.replaceAll("[^a-zA-Z0-9]", "_")

  private val ordersAggSql =
    """SELECT o_orderpriority, COUNT(*) AS n,
      | CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_c,
      | MAX(o_orderdate) AS max_dt
      |FROM orders GROUP BY 1
      |ORDER BY o_orderpriority NULLS FIRST""".stripMargin
}
