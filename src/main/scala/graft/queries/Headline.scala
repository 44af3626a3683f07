package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Broadcasts, Frame, LookupJoin}
import graft.sources.Tables

/** Headline analytical queries (TPC-H-shaped) used for BENCH. Plans are
  * tuned for scale: filters sit directly on scans (pushed into parquet),
  * small dimensions are broadcast, aggregates are partial (map-side
  * combine), and every join is an equi-join Catalyst can reorder.
  */
object Headline {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def cents(c: Column): Column = round(c * 100).cast(LongType)

  def all: Seq[Q] = Seq(

    // TPC-H Q1: pricing summary — single scan + hash aggregate
    Q("q1_pricing_summary",
      (s, dir) => Frame(t(s, dir, "lineitem"))
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupAgg(Seq("l_returnflag", "l_linestatus"),
          "sum_qty" -> sum(col("l_quantity").cast(LongType)),
          "sum_base_c" -> sum(cents(col("l_extendedprice"))),
          "sum_disc_c" -> sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))),
          "sum_charge_c" -> sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))),
          "avg_qty_m" -> round(avg("l_quantity") * 1000).cast(LongType),
          // integerize the raw discounts to basis points BEFORE averaging:
          // the sum is then exact in a double, so partition merge order
          // can't shift it by ULPs and flip ROUND at a .5 boundary
          "avg_disc_m" -> round(avg(round(col("l_discount") * 10000).cast(LongType)) / 10).cast(LongType),
          "cnt" -> count(lit(1)))
        .df.orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             | CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             | CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_c,
             | CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
             | CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*(1+l_tax)*100) AS BIGINT)) AS BIGINT) AS sum_charge_c,
             | CAST(ROUND(AVG(l_quantity)*1000) AS BIGINT) AS avg_qty_m,
             | CAST(ROUND(AVG(CAST(ROUND(l_discount*10000) AS BIGINT))/10) AS BIGINT) AS avg_disc_m,
             | COUNT(*) AS cnt
             |FROM lineitem WHERE l_shipdate <= '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
      bench = true),

    // TPC-H Q3-shaped: shipping priority — 3-way join, filters pushed to
    // each scan, top-10 via TakeOrderedAndProject (no full sort). The
    // reduced (orders × customer) side is a unique-o_orderkey dimension
    // with ONE live attribute, so inside the pin budget it attaches via
    // LookupJoin's codegen'd probe instead of a BroadcastHashJoin —
    // same reasoning as q5 below: the hash join REBUILDS its relation
    // on the driver every execution, and at the 600M-row replica that
    // rebuild was most of q3's gap to DuckDB (8.00 → 3.39 s warm,
    // r14 → r15 BENCHSCALE.json 1000× artifacts — the recorded
    // round-over-round numbers for this change, 1.95× → 1.03× of
    // DuckDB). The TIMESTAMP_NTZ order date rides the long-payload table
    // as unix micros — an exact round trip under the pinned UTC
    // session — and is reconstructed at the group keys. Past the pin
    // budget the same calls shuffle-join the materialized side,
    // Bloom-guarded (LookupJoin's Gated overloads).
    Q("q3_shipping_priority",
      (s, dir) => {
        val c = t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1996-03-15"))
          .select("o_orderkey", "o_custkey", "o_orderdate")
        val ocG = Broadcasts.gatedStats(
          o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
            .select(col("o_orderkey"),
              unix_micros(col("o_orderdate").cast("timestamp")).as("_od")))
        val l0 = t(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1996-03-15"))
          .select("l_orderkey", "l_extendedprice", "l_discount")
        val revenue =
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        val reconstructed =
          timestamp_micros(col("_od")).cast("timestamp_ntz")
        // the order date is functionally dependent on the order key
        // (the lookup side is unique-key), so the 600M-row aggregate
        // groups on the BARE key — one probe per row in the filter,
        // none in the group key, a key+sum-only exchange — and the
        // date attaches AFTER the top-10, re-probing the same cached
        // table on ten rows
        LookupJoin.inner(l0, col("l_orderkey"), ocG,
            "o_orderkey", "_od", "_od").drop("_od")
          .groupBy(col("l_orderkey").as("o_orderkey"))
          .agg(revenue.as("revenue_c"))
          .orderBy(desc_nulls_last("revenue_c"),
            asc_nulls_first("o_orderkey"))
          .limit(10)
          .transform(top => LookupJoin.inner(top, col("o_orderkey"),
            ocG, "o_orderkey", "_od", "_od"))
          .select(col("o_orderkey"),
            reconstructed.as("o_orderdate"), col("revenue_c"))
          .orderBy(desc_nulls_last("revenue_c"),
            asc_nulls_first("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderdate,
             | CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c
             |FROM customer, orders, lineitem
             |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
             |  AND l_orderkey = o_orderkey
             |  AND o_orderdate < '1996-03-15' AND l_shipdate > '1996-03-15'
             |GROUP BY o_orderkey, o_orderdate
             |ORDER BY revenue_c DESC NULLS LAST, o_orderkey NULLS FIRST
             |LIMIT 10""".stripMargin),
      bench = true),

    // q3 with the FULL detail projection — order date AND customer key
    // attach to the top-10 (TPC-H Q3 proper projects two order
    // attributes; the q3 headliner above carries one). This is the
    // multi-attribute LookupJoin adoption: the reduced (orders ×
    // customer) side is still a unique-orderkey dimension, but its TWO
    // live attributes ride ONE slot-major table (one build, one
    // broadcast) instead of the per-query packing trick a single-payload
    // table would force, or a per-execution BroadcastHashJoin rebuild.
    // The 600M-row aggregate still groups on the BARE key (both
    // attributes are functionally dependent on it) and re-probes the
    // cached table on just the top-10 rows.
    Q("q3b_priority_detail",
      (s, dir) => {
        val c = t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1996-03-15"))
          .select("o_orderkey", "o_custkey", "o_orderdate")
        val ocG = Broadcasts.gatedStats(
          o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
            .select(col("o_orderkey"),
              unix_micros(col("o_orderdate").cast("timestamp")).as("_od"),
              col("o_custkey")))
        val l0 = t(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1996-03-15"))
          .select("l_orderkey", "l_extendedprice", "l_discount")
        val revenue =
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        val reconstructed =
          timestamp_micros(col("_od")).cast("timestamp_ntz")
        // ONE arity-2 table serves both sides of the reduction: the
        // 600M-row hot path probes it existence-only (semi — field-0
        // probe, no columns attached), the 10-row top-k re-probes it
        // to attach both attributes
        val pay = Seq("_od", "o_custkey")
        LookupJoin.semi(l0, col("l_orderkey"), ocG, "o_orderkey", pay)
          .groupBy(col("l_orderkey").as("o_orderkey"))
          .agg(revenue.as("revenue_c"))
          .orderBy(desc_nulls_last("revenue_c"),
            asc_nulls_first("o_orderkey"))
          .limit(10)
          .transform(top => LookupJoin.inner(top, col("o_orderkey"),
            ocG, "o_orderkey", pay.map(p => p -> p)))
          .select(col("o_orderkey"),
            reconstructed.as("o_orderdate"), col("o_custkey"),
            col("revenue_c"))
          .orderBy(desc_nulls_last("revenue_c"),
            asc_nulls_first("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderdate, o_custkey,
             | CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c
             |FROM customer, orders, lineitem
             |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
             |  AND l_orderkey = o_orderkey
             |  AND o_orderdate < '1996-03-15' AND l_shipdate > '1996-03-15'
             |GROUP BY o_orderkey, o_orderdate, o_custkey
             |ORDER BY revenue_c DESC NULLS LAST, o_orderkey NULLS FIRST
             |LIMIT 10""".stripMargin)),

    // TPC-H Q5-shaped: local supplier volume — 6-way join; dims broadcast
    Q("q5_local_supplier",
      (s, dir) => {
        // the q3 shape applied to q5: reduce (filtered orders ⋈ bcast
        // customer) to its two live columns and gated-broadcast it into
        // the lineitem scan, so the fact table never shuffles — measured
        // 3.64 -> 2.37 s at the 100x replica (DuckDB parity). The oc side
        // is ~2M 16-byte rows at 100x (~36 MB by cache stats), inside the
        // default gate; at a scale where it outgrows the gate the same
        // calls take the Bloom-guarded shuffle join. Only remaining
        // exchange: the 5-row final aggregate's.
        //
        // The region predicate reaches customers only TRANSITIVELY
        // (c_nationkey = s_nationkey = n_nationkey, r_name = 'ASIA') and
        // the gated materialization is a barrier Catalyst cannot push a
        // later filter through — so push it by hand: a 5-key broadcast
        // semi-join keeps only ASIA-nation customers BEFORE oc is built,
        // shrinking the pinned relation and the probe hit rate ~5x
        // (measured at the 1000x replica: 26.0 -> 6.8 s warm).
        val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
        val n = t(s, dir, "nation")
        val asiaKeys = t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region")
            .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("_asia_nk"))
        val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
          .join(broadcast(asiaKeys),
            col("c_nationkey") === col("_asia_nk"), "left_semi")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
          .select("o_orderkey", "o_custkey")
        val ocG = Broadcasts.gatedStats(
          o.join(broadcast(c), c("c_custkey") === o("o_custkey"))
            .select("o_orderkey", "c_nationkey"))
        val suG = Broadcasts.gatedStats(
          t(s, dir, "supplier").select("s_suppkey", "s_nationkey"))
        val l0 = t(s, dir, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        // Inside the pin budget the oc side is a unique-orderkey, one-
        // attribute dimension — exactly LookupJoin's shape: the compact
        // long→long table is built+broadcast ONCE per session and the
        // fact probes it in codegen, where a BroadcastHashJoin would
        // rebuild its relation on the driver EVERY execution (the Bloom
        // alternative on this path measured strictly worse at the 1000×
        // replica: bare 5.6 s vs 6.6–14.1 s, BLOOMGUARD_MEASURE.json).
        //
        // r17: the supplier side is ALSO a unique-long-key dimension
        // (s_suppkey → s_nationkey), so the hot path probes it as a
        // second cached lookup table; the nation⋈region joins and the
        // n_name group key leave the fact grain entirely — the 600M-row
        // aggregate groups on the BARE nationkey (a long, narrower
        // exchange) and n_name attaches to the ≤25-row partial result,
        // re-aggregated BY NAME so the declared GROUP BY n_name
        // semantics hold even under duplicate names (two-level
        // aggregate, guide §2.3/§2.4).
        val revenue =
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        LookupJoin.inner(l0, col("l_orderkey"), ocG,
            "o_orderkey", "c_nationkey", "c_nationkey")
          .transform(lj => LookupJoin.inner(lj, col("l_suppkey"), suG,
            "s_suppkey", "s_nationkey", "_snk"))
          .filter(col("_snk") === col("c_nationkey"))
          .groupBy(col("_snk"))
          .agg(revenue.as("_rev_part"))
          .join(broadcast(n), col("n_nationkey") === col("_snk"))
          .join(broadcast(r), col("r_regionkey") === col("n_regionkey"))
          .groupBy(col("n_name"))
          .agg(sum(col("_rev_part")).as("revenue_c"))
          .orderBy(desc_nulls_last("revenue_c"), asc_nulls_first("n_name"))
      },
      Some("""SELECT n_name,
             | CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_c
             |FROM customer, orders, lineitem, supplier, nation, region
             |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
             |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |  AND r_name = 'ASIA'
             |  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
             |GROUP BY n_name
             |ORDER BY revenue_c DESC NULLS LAST, n_name NULLS FIRST""".stripMargin),
      bench = true)
  )
}
