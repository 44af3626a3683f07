package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import graft.operators.{Broadcasts, LookupJoin, RuntimeFilters}

/** Every gated query has ONE shape whose LookupJoin calls pick the probe
  * or the shuffle join from the gate's verdict. Both branches must give
  * the same answer: each query runs with the gates open (the lookup
  * probes every sf ≤ 0.1 run takes) and with the pin budget forced to 0
  * (the past-the-budget branch no oracle run reaches otherwise), and the
  * closed-gate plan must be the branch it claims to be — no lookup
  * probe, the Bloom guard on the fact scan, no broadcast of a side the
  * gate declined.
  */
class GatedBranchesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** The sf0.01 fixture beside the suites' default one. */
  private val sf01 = s"${new java.io.File(sf).getParent}/sf0.01"

  private def reset(): Unit = {
    Broadcasts.reset()
    LookupJoin.reset()
    RuntimeFilters.reset()
  }

  /** (frame, rows, executed plan) of one run; `closed` runs with every
    * default gate shut and Spark's own size-based broadcast off — a side
    * past the pin budget is far past that threshold, so the only
    * broadcasts left are the explicit hints on small dimensions.
    */
  private def run(name: String, closed: Boolean)
      : (DataFrame, Seq[Seq[Any]], SparkPlan) = {
    val build = () => SparkEntry.queries(name)(spark, sf01)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    if (closed) spark.conf.set(key, "-1")
    try {
      val df = if (closed) Broadcasts.withPinBudget(0L)(build()) else build()
      val rows = df.collect().map(_.toSeq).toSeq
      (df, rows, df.queryExecution.executedPlan)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def scans(p: SparkPlan, table: String): Seq[FileSourceScanExec] =
    collect(p) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(table)) => s
    }

  private val gated = Seq("q3_shipping_priority", "q3b_priority_detail",
    "q5_local_supplier", "q7_volume_shipping", "q10_returned_items",
    "q19_disjunctive")

  gated.foreach { name =>
    test(s"$name: open and closed gates give identical rows; the closed " +
        "plan is the Bloom-guarded shuffle join") {
      reset()
      val (open, openRows, _) = run(name, closed = false)
      assert(open.queryExecution.optimizedPlan.toString
        .contains("graft_lookup"), s"$name lost its lookup probe")
      val (shut, shutRows, plan) = run(name, closed = true)
      assert(shut.schema === open.schema)
      assert(openRows.nonEmpty)
      assert(shutRows === openRows, s"$name: the branches disagree")

      assert(!shut.queryExecution.optimizedPlan.toString
        .contains("graft_lookup"), "closed gate still probes a lookup")
      // the Bloom guard sits on the lineitem scan itself, below any join
      val guards = collect(plan) {
        case f: FilterExec if f.condition.toString.contains("might_contain")
            && f.collectLeaves().size == 1 && scans(f, "lineitem").nonEmpty => f
      }
      assert(guards.nonEmpty, s"$name: no Bloom guard on the fact scan")
      // a declined side is read from its persisted copy, never broadcast
      assert(collect(plan) { case i: InMemoryTableScanExec => i }.nonEmpty)
      collect(plan) { case b: BroadcastExchangeExec => b }.foreach { b =>
        assert(collect(b) { case i: InMemoryTableScanExec => i }.isEmpty,
          s"$name broadcasts a side the gate declined:\n$b")
      }
      reset()
    }
  }

  test("oracle row counts hold on the closed branch (DuckDB, sf0.01)") {
    reset()
    assert(run("q5_local_supplier", closed = true)._2.size === 5)
    val (_, q7, plan) = run("q7_volume_shipping", closed = true)
    assert(q7.size === 42)
    // q7 reads its persisted orders⋈customer side, not orders again
    assert(scans(plan, "orders").isEmpty, "q7 rescans orders past the gate")
    val (q19, q19Rows, _) = run("q19_disjunctive", closed = true)
    assert(q19Rows.head(q19.schema.fieldIndex("cnt")) === 424L)
    reset()
  }
}
