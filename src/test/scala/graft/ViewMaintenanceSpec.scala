package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.IncrementalAgg
import graft.operators.IncrementalAgg.AggSpec
import graft.sources.Tables
import graft.streaming.ViewMaintenance

/** Streaming join-view maintenance parity: the view folded over a fact
  * stream must equal the batch buildJoinView on the same facts and the
  * dimension as of now — under different micro-batchings, arrival
  * orders, and dim-delta interleavings.
  */
class ViewMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private val groups = Seq("g")
  private val aggs = Seq(AggSpec("v", "sum", "v_sum"),
    AggSpec("v", "count", "v_cnt"),
    AggSpec("v", "min", "v_min"), AggSpec("v", "max", "v_max"))

  private def facts() = Tables.load(spark, sf, "events")
    .filter(col("user_id").isNotNull)
    .select(col("user_id").as("k"),
      round(col("value") * 100).cast("long").as("v"))
    .as[(Long, Long)].collect().toSeq.sortBy(identity)

  private def dim() = Tables.load(spark, sf, "customer")
    .select(col("c_custkey").as("k"), col("c_mktsegment").as("g"))

  private def rows(df: DataFrame) =
    df.collect().map(_.toSeq).toSet

  // a multiset of rows: a group split in two (e.g. a NULL group that
  // failed to fold into its stored row) shows as an extra row
  private def bag(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  private def columns(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)

  /** Merge `batches` one at a time; after each, the view must equal the
    * batch build over every fact merged so far, row for row and type
    * for type.
    */
  private def assertFoldParity(dim: DataFrame, batches: Seq[DataFrame]): Unit = {
    val vm = new ViewMaintenance(spark, dim, keys, groups, aggs)
    batches.zipWithIndex.foldLeft(Option.empty[DataFrame]) { case (seen, (b, i)) =>
      vm.merge(b)
      val all = seen.fold(b)(_.unionByName(b))
      val want = IncrementalAgg.buildJoinView(all, dim, keys, groups, aggs).view
      assert(columns(vm.view.get) === columns(want), s"types after batch $i")
      assert(bag(vm.view.get) === bag(want), s"view diverged after batch $i")
      Some(all)
    }
  }

  // a merge starts at most this many Spark jobs: one pinned delta
  // aggregate, the key-grain fold and the view fold, each an eager
  // localCheckpoint over one exchange, plus the dimension join's build
  private val MaxMergeJobs = 8

  test("streamed view == batch view under different batchings") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fs = facts()
    val expected = rows(IncrementalAgg.buildJoinView(
      fs.toDF("k", "v"), dim(), keys, groups, aggs).view)
    // -4 streams in reverse order: the key-grain fold is commutative,
    // so late-arriving early facts must land on the identical view
    for (nBatches <- Seq(1, 4, -4)) {
      val ms = MemoryStream[(Long, Long)]
      val vm = new ViewMaintenance(spark, dim(), keys, groups, aggs)
      val q = vm.attach(ms.toDF().toDF("k", "v")).start()
      try {
        val ordered = if (nBatches < 0) fs.reverse else fs
        ordered.grouped(math.max(1, fs.size / math.abs(nBatches)))
          .foreach { b => ms.addData(b); q.processAllAvailable() }
        assert(rows(vm.view.get) === expected,
          s"view diverged at $nBatches batches")
      } finally q.stop()
    }
  }

  test("dim deltas interleaved mid-stream land on the post-churn view") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fs = facts()
    val d = dim()
    // churn: every 10th key moves to a synthetic segment, every 25th is
    // deleted — applied BETWEEN the second and third of four triggers
    val changes = d.filter(col("k") % 10 === 0 || col("k") % 25 === 0)
      .select(col("k"),
        when(col("k") % 25 === 0, col("g")).otherwise(lit("MOVED")).as("g"),
        when(col("k") % 25 === 0, lit("D")).otherwise(lit("U")).as("op"))
    val dimNew = d.filter(!(col("k") % 25 === 0))
      .withColumn("g",
        when(col("k") % 10 === 0, lit("MOVED")).otherwise(col("g")))
    val expected = rows(IncrementalAgg.buildJoinView(
      fs.toDF("k", "v"), dimNew, keys, groups, aggs).view)

    val ms = MemoryStream[(Long, Long)]
    val vm = new ViewMaintenance(spark, d, keys, groups, aggs)
    val q = vm.attach(ms.toDF().toDF("k", "v")).start()
    try {
      val quarters = fs.grouped(math.max(1, fs.size / 4)).toSeq
      quarters.take(2).foreach { b => ms.addData(b); q.processAllAvailable() }
      vm.applyDimDelta(changes)
      quarters.drop(2).foreach { b => ms.addData(b); q.processAllAvailable() }
      assert(rows(vm.view.get) === expected)
    } finally q.stop()
  }

  test("state stays flat: many triggers do not grow the view plan") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long)]
    val vm = new ViewMaintenance(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "g"), keys, groups, aggs)
    val q = vm.attach(ms.toDF().toDF("k", "v")).start()
    try {
      (1 to 30).foreach { i =>
        ms.addData(Seq((1L, i.toLong), (2L, i.toLong)))
        q.processAllAvailable()
      }
      // localCheckpoint per merge: the published view's plan must be a
      // handful of nodes over the checkpointed state, not 30 stacked
      // refreshes
      val planLines = vm.view.get.queryExecution.optimizedPlan.toString
        .linesIterator.size
      assert(planLines < 20, s"view plan grew to $planLines lines")
      val r = vm.view.get.orderBy("g").collect()
      assert(r.map(_.getLong(1)).toSeq === Seq(465L, 465L))
    } finally q.stop()
  }

  test("a fact-only merge reads its micro-batch once, in few jobs") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-viewmaint/read-once"
    val n = 6000L
    spark.range(0, n)
      .select((col("id") % 70).as("k"), (col("id") * 37 % 1000).as("v"))
      .repartition(3).write.mode("overwrite").parquet(dir)
    // keys 60..69 are missing from the dimension
    val d = (0L until 60L).map(k => (k, s"g${k % 5}")).toDF("k", "g")
    val seed = (0L until 70L).map(k => (k, k)).toDF("k", "v")
    val vm = new ViewMaintenance(spark, d, keys, groups, aggs)
    vm.merge(seed)
    val batch = spark.read.parquet(dir)
    batch.schema // file listing outside the probed merge
    val cost = ActionProbe(spark)(vm.merge(batch))
    info(s"merge: ${cost.jobs} jobs, ${cost.fileRows} file rows")
    assert(cost.fileRows === n,
      s"merge read ${cost.fileRows} file rows for a $n-row micro-batch")
    assert(cost.jobs <= MaxMergeJobs, s"merge ran ${cost.jobs} jobs")
    assert(bag(vm.view.get) === bag(IncrementalAgg.buildJoinView(
      seed.unionByName(batch), d, keys, groups, aggs).view))
  }

  test("fold parity: NULL group attributes fold into one row") {
    val d = Seq((1L, Some("a")), (2L, None), (3L, None), (4L, Some("b")))
      .toDF("k", "g")
    val batches = Seq(
      Seq((1L, Some(5L)), (2L, Some(7L)), (3L, None)),
      Seq((2L, Some(1L)), (3L, Some(9L)), (4L, Some(2L))),
      Seq((3L, Some(-4L)), (1L, None), (2L, Some(100L))))
      .map(_.toDF("k", "v"))
    assertFoldParity(d, batches)
  }

  test("fold parity: fact keys missing from the dim or NULL drop out") {
    val d = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "g")
    val batches = Seq(
      Seq((Some(1L), Some(3L)), (None, Some(50L)), (Some(9L), Some(8L))),
      Seq((None, Some(6L)), (Some(9L), None), (Some(3L), Some(-2L))),
      Seq((Some(2L), Some(4L)), (Some(8L), Some(1L)), (None, None)))
      .map(_.toDF("k", "v"))
    assertFoldParity(d, batches)
  }

  test("fold parity: empty micro-batches, first, between and last") {
    val d = Seq((1L, Some("a")), (2L, None), (3L, Some("b"))).toDF("k", "g")
    val empty = Seq.empty[(Long, Option[Long])].toDF("k", "v")
    val batches = Seq(empty,
      Seq((1L, Some(3L)), (2L, None), (3L, Some(4L))).toDF("k", "v"),
      empty,
      Seq((2L, Some(8L)), (3L, Some(1L))).toDF("k", "v"),
      empty)
    assertFoldParity(d, batches)
  }

  test("fold parity: decimal sums keep the batch build's types") {
    // sum widens a decimal by 10 digits per pass; a fold that did not
    // hold the stored type would widen the state on every trigger
    val d = Seq((1L, "a"), (2L, "b")).toDF("k", "g")
    val batches = Seq(Seq((1L, "1.25"), (2L, "3.50")),
      Seq((1L, "0.75")), Seq((2L, "-1.10"), (1L, "2.00")))
      .map(_.toDF("k", "v").withColumn("v", col("v").cast("decimal(10,2)")))
    assertFoldParity(d, batches)
  }

  test("a merge after a dim delta folds against the new dimension") {
    // key 7 is missing from the old dim (its facts sit in the key-grain
    // state only), key 5 is in the NULL group
    val d = Seq((1L, Some("a")), (2L, Some("a")), (3L, Some("b")),
      (4L, Some("b")), (5L, None), (6L, Some("c"))).toDF("k", "g")
    // key 7 is born into c, key 2 moves to the NULL group, key 3 is
    // deleted, key 6 moves to a
    val changes = Seq((7L, Some("c"), "U"), (2L, None, "U"),
      (3L, Some("b"), "D"), (6L, Some("a"), "U")).toDF("k", "g", "op")
    val dNew = Seq((1L, Some("a")), (2L, None), (4L, Some("b")),
      (5L, None), (6L, Some("a")), (7L, Some("c"))).toDF("k", "g")
    val b1 = (1L to 7L).flatMap(k => Seq((k, k * 10), (k, k + 1)))
      .toDF("k", "v")
    val b2 = (1L to 8L).map(k => (k, 100L - k)).toDF("k", "v")
    def want(facts: DataFrame) =
      IncrementalAgg.buildJoinView(facts, dNew, keys, groups, aggs).view

    val vm = new ViewMaintenance(spark, d, keys, groups, aggs)
    vm.merge(b1)
    vm.applyDimDelta(changes)
    assert(bag(vm.view.get) === bag(want(b1)), "after the dim delta")
    vm.merge(b2)
    assert(bag(vm.view.get) === bag(want(b1.unionByName(b2))),
      "merge after the dim delta")
  }
}
