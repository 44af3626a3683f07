package graft

import org.apache.spark.sql.functions._
import graft.expressions.LongLookupTable
import graft.operators.LookupJoin

/** The map-side lookup join must be EXACTLY the inner equi-join it
  * replaces (unique-key dimension, one payload attribute), build its
  * table once per session, and refuse the shapes where lookup and join
  * semantics could diverge (duplicate keys, NULL payloads).
  */
class LookupJoinSpec extends SparkSpec {
  import spark.implicits._

  /** An RDD-backed fact frame: over a local relation the optimizer would
    * evaluate the lookup expression on the driver with interpreted
    * `eval`, and the generated code would never run.
    */
  private def facts[T: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](keys: T*) =
    spark.createDataset(spark.sparkContext.parallelize(keys, 2)).toDF("fk")

  test("lookup inner == join inner, incl. misses and NULL fact keys") {
    LookupJoin.reset()
    val side = Seq((10L, 1L), (20L, 2L), (30L, 3L),
      (Long.MinValue, 9L)).toDF("k", "p") // sentinel-valued real key
    val fact = facts(Some(10L), Some(20L), Some(99L), None,
      Some(Long.MinValue))
    val got = LookupJoin.inner(fact, col("fk"), side, "k", "p", "p")
      .collect().map(_.toSeq).toSet
    val want = fact.join(side, col("fk") === col("k"))
      .select("fk", "p").collect().map(_.toSeq).toSet
    assert(got === want)
    assert(got === Set(Seq(10L, 1L), Seq(20L, 2L), Seq(Long.MinValue, 9L)))
    LookupJoin.reset()
  }

  test("one table per (session, side plan); reset frees it") {
    LookupJoin.reset()
    val side = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") % 7).as("p"))
    val fact = spark.range(0, 5000).select(col("id").as("fk"))
    LookupJoin.inner(fact, col("fk"), side, "k", "p", "p").count()
    assert(LookupJoin.cachedCount === 1)
    LookupJoin.inner(fact, col("fk"), side, "k", "p", "p").count()
    assert(LookupJoin.cachedCount === 1, "same side plan rebuilt the table")
    LookupJoin.reset()
    assert(LookupJoin.cachedCount === 0)
  }

  test("duplicate side keys and NULL payloads are refused loudly") {
    LookupJoin.reset()
    val dup = Seq((1L, 1L), (1L, 2L)).toDF("k", "p")
    val fact = facts(1L)
    assertThrows[GraftInvalidOperation] {
      LookupJoin.inner(fact, col("fk"), dup, "k", "p", "p").count()
    }
    val nullPay = Seq((1L, Some(1L)), (2L, Option.empty[Long]))
      .toDF("k", "p")
    assertThrows[GraftInvalidOperation] {
      LookupJoin.inner(fact, col("fk"), nullPay, "k", "p", "p").count()
    }
    // NULL side KEYS are merely skipped — an inner join drops them too
    LookupJoin.reset()
    val nullKey = Seq((Some(1L), 5L), (Option.empty[Long], 6L))
      .toDF("k", "p")
    assert(LookupJoin.inner(fact, col("fk"), nullKey, "k", "p", "p")
      .collect().map(_.toSeq).toSet === Set(Seq(1L, 5L)))
    LookupJoin.reset()
  }

  test("table handles collisions, the empty-slot sentinel, and stays " +
      "exact across a dense key range") {
    val n = 100000
    val t = LongLookupTable.build(
      (0 until n).iterator.map(i => (i.toLong * 1000003L, i.toLong)), n)
    assert(t.size === n)
    (0 until n by 997).foreach { i =>
      val slot = t.find(i.toLong * 1000003L)
      assert(slot >= 0 && t.valueAt(slot) === i.toLong)
    }
    assert(t.find(12345L) === -1) // not a multiple of 1000003
    val withSentinel = LongLookupTable.build(
      Iterator((Long.MinValue, 7L), (1L, 8L)), 2)
    assert(withSentinel.valueAt(withSentinel.find(Long.MinValue)) === 7L)
    assert(withSentinel.find(2L) === -1)
  }

  test("LRU eviction unpersists, never destroys — a frame built before " +
      "the eviction still answers exactly") {
    LookupJoin.reset()
    val fact = spark.range(0, 100).select(col("id").as("fk"))
    def side(m: Int) = spark.range(0, 50).select(col("id").as("k"),
      (col("id") * m).as("p"))
    val early = LookupJoin.inner(fact, col("fk"), side(1), "k", "p", "p")
    assert(early.filter(col("p") === col("fk")).count() === 50)
    // nine more distinct side plans roll the first table out of the
    // 8-entry LRU while `early`'s plan still references its broadcast
    (2 to 10).foreach { m =>
      LookupJoin.inner(fact, col("fk"), side(m), "k", "p", "p").count()
    }
    assert(LookupJoin.cachedCount === 8, "LRU exceeded its bound")
    // evicted = unpersisted only: the probe re-fetches the table and the
    // in-flight frame stays exact (destroy() here would fail its tasks)
    assert(early.filter(col("p") === col("fk")).count() === 50)
    LookupJoin.reset()
  }

  test("immutable-side contract: a side whose files are rewritten " +
      "in-session serves the OLD table until reset()") {
    LookupJoin.reset()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lookup-stale").toString
    spark.range(0, 10).select(col("id").as("k"), lit(1L).as("p"))
      .write.mode("overwrite").parquet(dir)
    val fact = spark.range(0, 10).select(col("id").as("fk"))
    def total(): Long = LookupJoin.inner(fact, col("fk"),
        spark.read.parquet(dir), "k", "p", "p")
      .agg(sum("p")).head().getLong(0)
    assert(total() === 10L)
    spark.range(0, 10).select(col("id").as("k"), lit(2L).as("p"))
      .write.mode("overwrite").parquet(dir)
    spark.catalog.refreshByPath(dir)
    // the cache keys on the canonicalized plan (same root path ==
    // same key), so the rewrite is INVISIBLE until the documented
    // invalidation hook — the contract under test
    assert(total() === 10L,
      "rewritten side escaped the session cache without reset()")
    LookupJoin.reset()
    assert(total() === 20L, "reset() did not invalidate the stale table")
  }

  test("arity-2 lookup inner == join inner: both attributes attach " +
      "from one table, misses and NULL fact keys drop") {
    LookupJoin.reset()
    val side = Seq((10L, 1L, 100L), (20L, 2L, 200L),
      (Long.MinValue, 9L, 900L)).toDF("k", "p", "q")
    val fact = facts(Some(10L), Some(20L), Some(99L), None,
      Some(Long.MinValue))
    val got = LookupJoin.inner(fact, col("fk"), side, "k",
        Seq("p" -> "p", "q" -> "q"))
      .collect().map(_.toSeq).toSet
    val want = fact.join(side, col("fk") === col("k"))
      .select("fk", "p", "q").collect().map(_.toSeq).toSet
    assert(got === want)
    assert(got === Set(Seq(10L, 1L, 100L), Seq(20L, 2L, 200L),
      Seq(Long.MinValue, 9L, 900L)))
    // ONE cached table serves the pair — and the semi (existence-only)
    // form reuses it rather than building an arity-1 sibling
    assert(LookupJoin.cachedCount === 1)
    assert(LookupJoin.semi(fact, col("fk"), side, "k", Seq("p", "q"))
      .collect().map(_.getLong(0)).toSet ===
      Set(10L, 20L, Long.MinValue))
    assert(LookupJoin.cachedCount === 1,
      "semi built a second table for the same (side, payloads)")
    LookupJoin.reset()
  }

  test("arity-2 refusal semantics match arity-1: duplicate keys and a " +
      "NULL in EITHER payload field throw") {
    LookupJoin.reset()
    val fact = facts(1L)
    val dup = Seq((1L, 1L, 1L), (1L, 2L, 2L)).toDF("k", "p", "q")
    assertThrows[GraftInvalidOperation] {
      LookupJoin.inner(fact, col("fk"), dup, "k",
        Seq("p" -> "p", "q" -> "q")).count()
    }
    val nullSecond = Seq((1L, Some(1L), Some(1L)),
      (2L, Some(2L), Option.empty[Long])).toDF("k", "p", "q")
    assertThrows[GraftInvalidOperation] {
      LookupJoin.inner(fact, col("fk"), nullSecond, "k",
        Seq("p" -> "p", "q" -> "q")).count()
    }
    LookupJoin.reset()
  }

  test("multi-payload table stays exact across a dense key range " +
      "(slot-major layout, per-field reads)") {
    val n = 50000
    val t = LongLookupTable.buildMulti(
      (0 until n).iterator.map(i =>
        (i.toLong * 1000003L, Array(i.toLong, i.toLong * 2, -i.toLong))),
      n, 3)
    assert(t.size === n && t.arity === 3)
    (0 until n by 991).foreach { i =>
      val slot = t.find(i.toLong * 1000003L)
      assert(slot >= 0)
      assert(t.valueAt(slot, 0) === i.toLong)
      assert(t.valueAt(slot, 1) === i.toLong * 2)
      assert(t.valueAt(slot, 2) === -i.toLong)
    }
    assert(t.find(12345L) === -1)
    val withSentinel = LongLookupTable.buildMulti(
      Iterator((Long.MinValue, Array(7L, 70L)), (1L, Array(8L, 80L))), 2, 2)
    val s = withSentinel.find(Long.MinValue)
    assert(withSentinel.valueAt(s, 0) === 7L &&
      withSentinel.valueAt(s, 1) === 70L)
  }

  test("q3b's broadcast path: one arity-2 table, graft_lookup in the " +
      "plan, result equals the plain three-way join") {
    graft.operators.Broadcasts.reset()
    LookupJoin.reset()
    val df = SparkEntry.queries("q3b_priority_detail")(spark, sf)
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_lookup"),
      "q3b lost its lookup-join fast path")
    assert(df.schema("o_orderdate").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    val want = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_shipdate") > lit("1996-03-15"))
      .join(spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderdate") < lit("1996-03-15")),
        col("l_orderkey") === col("o_orderkey"))
      .join(spark.read.parquet(s"$sf/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_custkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).as("revenue_c"))
      .orderBy(desc_nulls_last("revenue_c"), asc_nulls_first("o_orderkey"))
      .limit(10)
    assert(df.collect().map(_.toSeq).toSeq ===
      want.collect().map(_.toSeq).toSeq)
    // the semi probe and the top-10 attachment share one cached table
    assert(LookupJoin.cachedCount === 1,
      "q3b built more than one table for the oc side")
    graft.operators.Broadcasts.reset()
    LookupJoin.reset()
  }

  test("string payloads: dictionary-encoded lookup == join inner, " +
      "shared strings share one pool code, misses drop") {
    LookupJoin.reset()
    val side = Seq((10L, "alice", 1L), (20L, "bob", 2L),
      (30L, "alice", 3L), (Long.MinValue, "carol", 9L))
      .toDF("k", "name", "p")
    val fact = facts(Some(10L), Some(20L), Some(30L), Some(99L), None,
      Some(Long.MinValue))
    val got = LookupJoin.inner(fact, col("fk"), side, "k",
        Seq("name" -> "name", "p" -> "p"))
      .collect().map(_.toSeq).toSet
    val want = fact.join(side, col("fk") === col("k"))
      .select("fk", "name", "p").collect().map(_.toSeq).toSet
    assert(got === want)
    assert(got === Set(Seq(10L, "alice", 1L), Seq(20L, "bob", 2L),
      Seq(30L, "alice", 3L), Seq(Long.MinValue, "carol", 9L)))
    // the attached column is a real string, and the existence-only semi
    // reuses the same cached table (field-0 probes the code, no decode)
    assert(LookupJoin.cachedCount === 1)
    assert(LookupJoin.semi(fact, col("fk"), side, "k", Seq("name", "p"))
      .collect().map(_.getLong(0)).toSet ===
      Set(10L, 20L, 30L, Long.MinValue))
    assert(LookupJoin.cachedCount === 1,
      "semi built a second table for the string-payload side")
    LookupJoin.reset()
  }

  test("string payloads: NULL strings are refused like NULL longs") {
    LookupJoin.reset()
    val fact = facts(1L)
    val nullStr = Seq((1L, Some("x")), (2L, Option.empty[String]))
      .toDF("k", "name")
    assertThrows[GraftInvalidOperation] {
      LookupJoin.inner(fact, col("fk"), nullStr, "k", "name", "name")
        .count()
    }
    LookupJoin.reset()
  }

  test("q10's broadcast path: both sides probe cached lookup tables, " +
      "strings decode post-top-20, result equals the plain join") {
    graft.operators.Broadcasts.reset()
    LookupJoin.reset()
    val df = SparkEntry.queries("q10_returned_items")(spark, sf)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_lookup"),
      "q10 lost its lookup-join fast path")
    assert(plan.contains("graft_pool_decode"),
      "q10's string attributes are not pool-decoded")
    assert(df.schema("c_name").dataType ===
      org.apache.spark.sql.types.StringType)
    val want = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_returnflag") === "R")
      .join(spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderdate") >= lit("1996-10-01") &&
          col("o_orderdate") < lit("1997-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(spark.read.parquet(s"$sf/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .join(spark.read.parquet(s"$sf/nation.parquet"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).as("revenue_c"))
      .orderBy(desc_nulls_last("revenue_c"), asc_nulls_first("c_custkey"))
      .limit(20)
    assert(df.collect().map(_.toSeq).toSeq ===
      want.collect().map(_.toSeq).toSeq)
    // orders table + customer-dim table, each built once: the custkey
    // semi probe and the top-20 string attachment share the dim table
    assert(LookupJoin.cachedCount === 2,
      "q10 built more than its two side tables")
    graft.operators.Broadcasts.reset()
    LookupJoin.reset()
  }

  test("q5's broadcast path carries the codegen'd lookup, not a " +
      "per-run-rebuilt hash relation") {
    graft.operators.Broadcasts.reset()
    LookupJoin.reset()
    val plan = SparkEntry.queries("q5_local_supplier")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_lookup"),
      "q5 lost its lookup-join fast path")
    graft.operators.Broadcasts.reset()
    LookupJoin.reset()
  }

  test("q3's broadcast path carries the codegen'd lookup and " +
      "round-trips the TIMESTAMP_NTZ payload exactly") {
    graft.operators.Broadcasts.reset()
    LookupJoin.reset()
    val df = SparkEntry.queries("q3_shipping_priority")(spark, sf)
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_lookup"),
      "q3 lost its lookup-join fast path")
    // the micros-packed order date must reconstruct to the exact
    // TIMESTAMP_NTZ the plain join would produce
    assert(df.schema("o_orderdate").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    val want = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_shipdate") > lit("1996-03-15"))
      .join(spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderdate") < lit("1996-03-15")),
        col("l_orderkey") === col("o_orderkey"))
      .join(spark.read.parquet(s"$sf/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).as("revenue_c"))
      .orderBy(desc_nulls_last("revenue_c"), asc_nulls_first("o_orderkey"))
      .limit(10)
    assert(df.collect().map(_.toSeq).toSeq ===
      want.collect().map(_.toSeq).toSeq)
    graft.operators.Broadcasts.reset()
    LookupJoin.reset()
  }
}
