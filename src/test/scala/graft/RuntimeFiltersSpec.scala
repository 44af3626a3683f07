package graft

import org.apache.spark.sql.functions._
import graft.operators.{Broadcasts, LookupJoin, RuntimeFilters}

/** The hand-pushed runtime Bloom filter (q3/q5's fact-side pre-probe)
  * must be SEMANTICALLY INVISIBLE — it may only pass extra rows the
  * join then drops — and operationally bounded: one build per
  * (session, side plan), skip past the key budget, reset hook for the
  * cold bench.
  */
class RuntimeFiltersSpec extends SparkSpec {
  import spark.implicits._

  test("no true key ever filtered; join through the filter is exact") {
    RuntimeFilters.reset()
    val side = spark.range(0, 5000).filter(col("id") % 7 === 0)
      .select(col("id").as("k"))
    val fact = spark.range(0, 5000)
      .select(col("id").as("fk"), (col("id") * 2).as("v"))
    val filtered = RuntimeFilters.keyFilter(fact, col("fk"), side, "k", 715L)
    // zero false negatives: every fact row whose key IS in the side
    // survives the sketch (Bloom guarantees this; the spec pins the
    // build/probe hashing agreement — raw longs both ends)
    assert(filtered.filter(col("fk") % 7 === 0).count() ===
      fact.filter(col("fk") % 7 === 0).count())
    // the joined result is EXACT — false positives drop in the join
    val got = filtered.join(side, col("fk") === col("k"))
      .select("fk", "v").collect().map(_.toSeq).toSet
    val want = fact.join(side, col("fk") === col("k"))
      .select("fk", "v").collect().map(_.toSeq).toSet
    assert(got === want)
    // and the sketch genuinely prunes: 1/7 of keys at 1% fpp leaves
    // well under a third of the fact rows
    assert(filtered.count() < fact.count() / 3,
      s"sketch filtered nothing: ${filtered.count()} of ${fact.count()}")
    RuntimeFilters.reset()
  }

  test("NULL fact keys drop (inner-join semantics preserved)") {
    RuntimeFilters.reset()
    val side = Seq(1L, 2L).toDF("k")
    val fact = Seq(Some(1L), None, Some(9L)).toDF("fk")
    val filtered = RuntimeFilters.keyFilter(fact, col("fk"), side, "k", 2L)
    assert(filtered.collect().map(_.getLong(0)).toSet === Set(1L))
    RuntimeFilters.reset()
  }

  test("one build per (session, side plan): warm re-runs reuse the " +
      "sketch; reset drops it") {
    RuntimeFilters.reset()
    def side = spark.range(0, 100).select(col("id").as("k"))
    def fact = spark.range(0, 1000).select(col("id").as("fk"))
    RuntimeFilters.keyFilter(fact, col("fk"), side, "k", 100L).count()
    assert(RuntimeFilters.cachedCount === 1)
    RuntimeFilters.keyFilter(fact, col("fk"), side, "k", 100L).count()
    assert(RuntimeFilters.cachedCount === 1, "same plan rebuilt the sketch")
    RuntimeFilters.reset()
    assert(RuntimeFilters.cachedCount === 0)
  }

  test("past the key budget the filter is SKIPPED, not saturated") {
    RuntimeFilters.reset()
    val side = spark.range(0, 10).select(col("id").as("k"))
    val fact = spark.range(0, 100).select(col("id").as("fk"))
    val out = RuntimeFilters.keyFilter(fact, col("fk"), side, "k",
      RuntimeFilters.MaxKeys + 1)
    assert(out eq fact, "over-budget side must return the fact unchanged")
    assert(RuntimeFilters.cachedCount === 0)
    // empty side: nothing to filter against — fact unchanged, join
    // yields zero rows anyway
    assert(RuntimeFilters.keyFilter(fact, col("fk"), side.limit(0), "k", 0L)
      eq fact)
    RuntimeFilters.reset()
  }

  test("the gated LookupJoin arms the Bloom guard ONLY past the " +
      "broadcast gate: bare probe when the side broadcasts, " +
      "might_contain on the fact when it shuffles — same rows either way") {
    Broadcasts.reset()
    LookupJoin.reset()
    RuntimeFilters.reset()
    val side = spark.range(0, 20000).filter(col("id") % 5 === 0)
      .select(col("id").as("k"), (col("id") % 7).as("tag"))
    val fact = spark.range(0, 20000)
      .select(col("id").as("fk"), (col("id") * 3).as("v"))
    val want = fact.join(side, col("fk") === col("k"))
      .select("fk", "v", "tag").collect().map(_.toSeq).toSet

    // broadcast path (default gate): the overload must NOT plant a
    // sketch — the bare probe measured faster at the 1000× replica
    val bcast = Broadcasts.gatedStats(side)
    assert(bcast.broadcasted)
    val probed = LookupJoin.inner(fact, col("fk"), bcast, "k", "tag", "tag")
    val probedPlan = probed.queryExecution.optimizedPlan.toString
    assert(!probedPlan.contains("might_contain"),
      "guard planted a sketch on the broadcast path")
    assert(probedPlan.contains("graft_lookup"))
    assert(probed.collect().map(_.toSeq).toSet === want)

    // shuffle path (gate = 0 refuses the broadcast): the sketch keeps
    // droppable rows out of the fact shuffle
    val shuffled = Broadcasts.gatedStats(side, maxBytes = 0L)
    assert(!shuffled.broadcasted && shuffled.rows === 4000L)
    val guarded = LookupJoin.inner(fact, col("fk"), shuffled, "k",
      "tag", "tag")
    val guardedPlan = guarded.queryExecution.optimizedPlan.toString
    assert(guardedPlan.contains("might_contain"),
      "shuffle path lost its runtime filter")
    assert(!guardedPlan.contains("graft_lookup"))
    assert(RuntimeFilters.keyFilter(fact, col("fk"), shuffled.bare, "k",
      shuffled.rows).count() < fact.count(),
      "sketch filtered nothing on the shuffle path")
    assert(guarded.schema === probed.schema)
    assert(guarded.collect().map(_.toSeq).toSet === want,
      "guarded shuffle join diverged from bare")
    Broadcasts.reset()
    LookupJoin.reset()
    RuntimeFilters.reset()
  }

  test("immutable-side contract: a side whose files are rewritten " +
      "in-session serves the OLD sketch until reset()") {
    RuntimeFilters.reset()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bloom-stale").toString
    spark.range(0, 100).select(col("id").as("k"))
      .write.mode("overwrite").parquet(dir)
    val fact = spark.range(0, 200).select(col("id").as("fk"))
    def kept(): Long = RuntimeFilters.keyFilter(fact, col("fk"),
      spark.read.parquet(dir), "k", 100L).count()
    val fresh = kept()
    assert(fresh >= 100 && fresh < 200) // fp may pass a few extras
    // the side GAINS keys 100..199 — the hazard case: a stale Bloom
    // would drop their fact rows before the shuffle
    spark.range(0, 200).select(col("id").as("k"))
      .write.mode("overwrite").parquet(dir)
    spark.catalog.refreshByPath(dir)
    assert(kept() === fresh,
      "rewritten side escaped the sketch cache without reset()")
    RuntimeFilters.reset()
    // rebuilt sketch: Bloom has no false negatives — all 200 pass
    assert(kept() === 200L, "reset() did not invalidate the stale sketch")
  }
}
