package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.IncrementalAgg
import graft.operators.IncrementalAgg.AggSpec
import graft.streaming.RetractableViewMaintenance

/** Streaming retractable-view parity: the counting join view folded
  * over a signed fact changelog stream — with dimension changelogs
  * applied mid-stream — must equal the batch retractable view of the
  * net fact multiset against the final dimension, under any
  * micro-batching, including one that splits an update's −old/+new
  * pair across triggers.
  */
class RetractableViewStreamSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private val groups = Seq("g")
  private val aggs = Seq(AggSpec("v", "sum", "v_sum"),
    AggSpec("v", "count", "v_cnt"))

  private def dimOld = (0L to 9L).map(k => (k, s"g${k % 3}")).toDF("k", "g")

  // signed fact changelog over keys 0..9 (key 8 BORN with the dim
  // delta): inserts, deletes of every 3rd, −old/+new updates, key 6
  // retracted to zero rows, key 7 left all-NULL
  private def changelog: Seq[(Long, Option[Long], Long)] = {
    val base = (1 to 40).map { i =>
      ((i % 6).toLong, if (i % 7 == 0) None else Some(i.toLong), 1L)
    }
    val dels = (1 to 40).filter(_ % 3 == 0).map { i =>
      ((i % 6).toLong,
        if (i % 7 == 0) Option.empty[Long] else Some(i.toLong), -1L)
    }
    val upds = (1 to 40).filter(i => i % 3 != 0 && i % 4 == 0).flatMap { i =>
      val old = if (i % 7 == 0) Option.empty[Long] else Some(i.toLong)
      Seq(((i % 6).toLong, old, -1L),
        ((i % 6).toLong, old.map(_ + 500L), 1L))
    }
    val k6 = Seq((6L, Some(9L), 1L), (6L, Some(9L), -1L))
    val k7 = Seq((7L, Option.empty[Long], 1L),
      (7L, Option.empty[Long], 1L))
    val k8 = Seq((8L, Some(77L), 1L))
    base ++ dels ++ upds ++ k6 ++ k7 ++ k8
  }

  // dim churn applied MID-stream: keys 5 and 8 move to groups born with
  // the changelog, key 4 is deleted (its surviving facts must leave the
  // view) — key 8's only fact arrives AFTER the move in most batchings
  private def dimChanges = Seq((5L, "gX", "U"), (4L, "g1", "D"),
    (8L, "gY", "U")).toDF("k", "g", "op")

  private def netFacts = {
    val bag = scala.collection.mutable.ArrayBuffer[(Long, Option[Long])]()
    changelog.foreach { case (k, v, s) =>
      if (s > 0) bag += ((k, v)) else bag.remove(bag.indexOf((k, v)))
    }
    bag.toSeq.toDF("k", "v")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("streamed signed facts + mid-stream dim churn == batch view") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dimNew = (0L to 9L).filter(_ != 4L)
      .map(k => (k, if (k == 5L) "gX" else if (k == 8L) "gY"
        else s"g${k % 3}"))
      .toDF("k", "g")
    val expected = rows(IncrementalAgg.buildRetractableJoinView(
      netFacts, dimNew, keys, groups, aggs).view)
    // batch sizes 1 (every −old/+new pair split) and 9 (pairs straddle
    // boundaries); the dim delta lands midway through the stream each
    // time — arrival order must not matter
    for (chunk <- Seq(1, 9, changelog.size)) {
      val ms = MemoryStream[(Long, Option[Long], Long)]
      val vm = new RetractableViewMaintenance(spark, dimOld, keys,
        groups, aggs)
      val q = vm.attach(ms.toDF().toDF("k", "v", "_sign")).start()
      try {
        val batches = changelog.grouped(chunk).toSeq
        val mid = batches.size / 2
        batches.zipWithIndex.foreach { case (b, i) =>
          ms.addData(b); q.processAllAvailable()
          if (i == mid) vm.applyDimDelta(dimChanges)
        }
        assert(rows(vm.view.get) === expected,
          s"streamed view diverged from batch at chunk=$chunk")
      } finally q.stop()
    }
  }

  test("a merge pins the signed fold: its view does not re-derive it") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-retractview/pinned"
    val n = 5000L
    // every row inserted, every 5th also retracted in the same batch
    val ins = spark.range(0, n).select((col("id") % 10).as("k"),
      col("id").as("v"), lit(1L).as("_sign"))
    ins.unionByName(ins.filter(col("v") % 5 === 0)
        .withColumn("_sign", lit(-1L)))
      .repartition(3).write.mode("overwrite").parquet(dir)
    val vm = new RetractableViewMaintenance(spark, dimOld, keys, groups, aggs)
    vm.merge(Seq((3L, Option(1L), 1L)).toDF("k", "v", "_sign"))
    val batch = spark.read.parquet(dir)
    batch.schema // file listing outside the probed merge
    val cost = ActionProbe(spark)(vm.merge(batch))
    info(s"merge: ${cost.jobs} jobs, ${cost.fileRows} file rows")
    // the signed key-grain aggregate reads the batch once and is pinned;
    // the fold and the splice's touched keys read the pinned aggregate
    val batchRows = n + n / 5
    assert(cost.fileRows === batchRows,
      s"merge read ${cost.fileRows} file rows for a $batchRows-row batch")
    val net = ins.filter(col("v") % 5 =!= 0).drop("_sign")
      .unionByName(Seq((3L, 1L)).toDF("k", "v"))
    assert(rows(vm.view.get) === rows(IncrementalAgg
      .buildRetractableJoinView(net, dimOld, keys, groups, aggs).view))
  }
}
