package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, IncrementalAgg}
import graft.operators.IncrementalAgg.AggSpec
import graft.sources.Tables
import graft.streaming.{ChunkMaintenance, ClusterMaintenance,
  EmbedMaintenance, MixMaintenance, NearDupPair, RetractionMaintenance,
  SelectionMaintenance, ViewMaintenance}

/** Restart recovery across the streaming FLEET: every foreachBatch
  * maintenance handle that holds driver-side state can be killed
  * mid-sequence, its state persisted to parquet, and a FRESH handle
  * resumed from the loaded state over the remaining batches — and the
  * final derived output must be identical to the uninterrupted run, at
  * every kill point. RestartRecoverySpec proves this for the intake and
  * retractable-view handles; this spec extends the posture to the rest
  * of the fleet (chunk index, embed model, DSIR selection, source mix,
  * dedup clusters, signed retraction, join view), because a real crawl
  * pipeline restarts ALL of its standing state, not just the intake.
  *
  * Scope note (cluster): the pair stream feeding ClusterMaintenance is
  * itself stateful (DocStreams' keyed band buckets live in Spark's
  * state store and recover via stream checkpointing, Spark's native
  * mechanism); this spec feeds the PAIR changelog directly, which is
  * exactly the handle's own restart boundary — upstream recovers via
  * checkpoint, the label table recovers via save/resume.
  */
class RestartFleetSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def tmp(tag: String): String = java.nio.file.Files
    .createTempDirectory(s"graft-fleet-$tag").toString

  /** Kill after the first batch (state barely born), mid-stream, and
    * one batch before the end.
    */
  private def killPoints(n: Int): Seq[Int] =
    Seq(1, n / 2, n - 1).distinct.filter(k => k > 0 && k < n)

  /** Generic harness: run `mk()` handles over batch prefixes/suffixes
    * split at every kill point and compare `out` against the
    * uninterrupted run. The prefix streams through attach (real
    * foreachBatch, ids 0..kill−1); the resumed handle is driven the way
    * Spark's own checkpointLocation restart drives it — the in-flight
    * trigger REPLAYED with its original id (the ledger must no-op it),
    * then the unconsumed suffix under checkpoint-CONTINUED ids.
    */
  private def proveRestart[H <: graft.streaming.BatchLedger, B](tag: String,
      batches: Seq[B], mk: () => H,
      runBatches: (H, Seq[B]) => Unit, save: (H, String) => Unit,
      resume: String => H, out: H => Set[Seq[Any]],
      mergeAt: (H, B, Long) => Unit): Unit = {
    val full = mk()
    runBatches(full, batches)
    val want = out(full)
    assert(want.nonEmpty, s"$tag: uninterrupted run produced no state")
    for (kill <- killPoints(batches.size)) {
      val first = mk()
      runBatches(first, batches.take(kill))
      val dir = tmp(s"$tag-$kill")
      save(first, dir)
      val resumed = resume(dir)
      // the snapshot is self-describing about its covered prefix
      assert(resumed.lastAppliedBatch === (kill - 1).toLong,
        s"$tag: snapshot ledger ${resumed.lastAppliedBatch} != ${kill - 1}")
      // at-least-once: the in-flight trigger replays with the SAME id —
      // a double-count would diverge the final equality below
      mergeAt(resumed, batches(kill - 1), (kill - 1).toLong)
      batches.drop(kill).zipWithIndex.foreach { case (b, i) =>
        mergeAt(resumed, b, (kill + i).toLong)
      }
      assert(out(resumed) === want,
        s"$tag: resumed output diverged from uninterrupted at kill=$kill")
    }
  }

  // ---- fixtures

  private def docRows: Seq[(Long, String, String)] =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)

  private def docBatches[T](rows: Seq[T], n: Int = 5): Seq[Seq[T]] =
    rows.grouped(math.max(1, rows.size / n)).toSeq

  test("chunk-index maintenance killed + resumed == uninterrupted") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batches = docBatches(docRows.map { case (id, _, t) => (id, t) })
    proveRestart[ChunkMaintenance, Seq[(Long, String)]](
      "chunk", batches,
      () => new ChunkMaintenance(spark),
      (h, bs) => {
        val ms = MemoryStream[(Long, String)]
        val q = h.attach(ms.toDF().toDF("doc_id", "text")).start()
        try bs.foreach { b => ms.addData(b); q.processAllAvailable() }
        finally q.stop()
      },
      (h, d) => h.save(d),
      d => ChunkMaintenance.resume(spark, d),
      h => rows(h.index) ++ rows(h.dedupStats),
      (h, b, id) => h.merge(b.toDF("doc_id", "text"), id))
  }

  test("embed-model maintenance killed + resumed == uninterrupted") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vecs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val probe = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    proveRestart[EmbedMaintenance, Seq[(Long, Seq[Float])]](
      "embed", docBatches(vecs),
      () => new EmbedMaintenance(spark),
      (h, bs) => {
        val ms = MemoryStream[(Long, Seq[Float])]
        val q = h.attach(ms.toDF().toDF("vec_id", "embedding")).start()
        try bs.foreach { b => ms.addData(b); q.processAllAvailable() }
        finally q.stop()
      },
      (h, d) => h.save(d),
      d => EmbedMaintenance.resume(spark, d),
      // the model state AND a pruned probe frame: the derived decision
      // surface must survive the restart, not just the raw sums
      h => rows(h.componentState) ++ rows(h.prune(probe)),
      (h, b, id) => h.merge(b.toDF("vec_id", "embedding"), id))
  }

  test("DSIR-selection maintenance killed + resumed == uninterrupted") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val probe = Tables.load(spark, sf, "documents")
    proveRestart[SelectionMaintenance, Seq[(Long, String, String)]](
      "dsir", docBatches(docRows),
      () => new SelectionMaintenance(spark),
      (h, bs) => {
        val ms = MemoryStream[(Long, String, String)]
        val q = h.attach(ms.toDF().toDF("doc_id", "source", "text")).start()
        try bs.foreach { b => ms.addData(b); q.processAllAvailable() }
        finally q.stop()
      },
      (h, d) => h.save(d),
      d => SelectionMaintenance.resume(spark, d),
      h => rows(h.bucketCounts) ++
        rows(h.select(probe).select("doc_id")),
      (h, b, id) => h.merge(b.toDF("doc_id", "source", "text"), id))
  }

  test("mix maintenance killed + resumed == uninterrupted") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    proveRestart[MixMaintenance, Seq[(Long, String, String)]](
      "mix", docBatches(docRows),
      () => new MixMaintenance(spark),
      (h, bs) => {
        val ms = MemoryStream[(Long, String, String)]
        val q = h.attach(ms.toDF().toDF("doc_id", "source", "text")).start()
        try bs.foreach { b => ms.addData(b); q.processAllAvailable() }
        finally q.stop()
      },
      (h, d) => h.save(d),
      d => MixMaintenance.resume(spark, d),
      h => rows(h.tokenCounts) ++ rows(h.unimaxAlloc()),
      (h, b, id) => h.merge(b.toDF("doc_id", "source", "text"), id))
  }

  test("cluster maintenance killed + resumed == uninterrupted") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the batch pipeline's own verified pair set, streamed as a
    // changelog — a kill point can split a component's edges across the
    // restart, which is exactly what the incremental contraction must
    // absorb from the persisted labeling
    val pairs = Dedup.minHashDedup(
        Tables.load(spark, sf, "documents"), "doc_id", "text")
      .select(col("ida"), col("idb"))
      .as[(Long, Long)].collect().toSeq.sorted
      .map { case (a, b) => NearDupPair(a, b) }
    proveRestart[ClusterMaintenance, Seq[NearDupPair]](
      "cluster", docBatches(pairs),
      () => new ClusterMaintenance(spark),
      (h, bs) => {
        val ms = MemoryStream[NearDupPair]
        val q = h.attach(ms.toDS()).start()
        try bs.foreach { b => ms.addData(b); q.processAllAvailable() }
        finally q.stop()
      },
      (h, d) => h.save(d),
      d => ClusterMaintenance.resume(spark, d),
      h => rows(h.labels),
      (h, b, id) => h.merge(b.toDF(), id))
  }

  test("retraction maintenance killed + resumed == uninterrupted, " +
      "including a kill splitting an update's −old/+new pair") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val keys = Seq("k")
    val aggs = Seq(AggSpec("v", "sum", "v_sum"),
      AggSpec("v", "count", "v_cnt"))
    // inserts, deletes, −old/+new update pairs, a group retracted to
    // zero, an all-NULL group — batched by 7 so updates straddle batch
    // boundaries and at least one kill point lands mid-update
    val changelog: Seq[(String, Option[Long], Long)] = {
      val base = (1 to 40).map { i =>
        (s"g${i % 5}", if (i % 7 == 0) None else Some(i.toLong), 1L)
      }
      val dels = (1 to 40).filter(_ % 3 == 0).map { i =>
        (s"g${i % 5}",
          if (i % 7 == 0) Option.empty[Long] else Some(i.toLong), -1L)
      }
      val upds = (1 to 40).filter(i => i % 3 != 0 && i % 4 == 0).flatMap { i =>
        val old = if (i % 7 == 0) Option.empty[Long] else Some(i.toLong)
        Seq((s"g${i % 5}", old, -1L), (s"g${i % 5}", old.map(_ + 500L), 1L))
      }
      base ++ dels ++ upds ++
        Seq(("gz", Some(9L), 1L), ("gz", Some(9L), -1L),
          ("gn", Option.empty[Long], 1L), ("gn", Option.empty[Long], 1L))
    }
    proveRestart[RetractionMaintenance, Seq[(String, Option[Long], Long)]](
      "retract", changelog.grouped(7).toSeq,
      () => new RetractionMaintenance(spark, keys, aggs),
      (h, bs) => {
        val ms = MemoryStream[(String, Option[Long], Long)]
        val q = h.attach(ms.toDF().toDF("k", "v", "_sign")).start()
        try bs.foreach { b => ms.addData(b); q.processAllAvailable() }
        finally q.stop()
      },
      (h, d) => h.save(d),
      d => RetractionMaintenance.resume(spark, d, keys, aggs),
      h => rows(h.view.get),
      (h, b, id) => h.merge(b.toDF("k", "v", "_sign"), id))
  }

  test("join-view maintenance killed + resumed == uninterrupted, " +
      "around the dim churn") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val keys = Seq("k")
    val groups = Seq("g")
    val aggs = Seq(AggSpec("v", "sum", "v_sum"),
      AggSpec("v", "count", "v_cnt"), AggSpec("v", "min", "v_min"))
    val facts = Tables.load(spark, sf, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id").as("k"),
        round(col("value") * 100).cast("long").as("v"))
      .as[(Long, Long)].collect().toSeq.sorted
    val dim0 = Tables.load(spark, sf, "customer")
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("g"))
    val dimChanges = dim0.filter(col("k") % 10 === 0)
      .select(col("k"), lit("MOVED").as("g"), lit("U").as("op"))
    val batches = docBatches(facts, 6).zipWithIndex
    val mid = batches.size / 2

    def runFacts(h: ViewMaintenance,
        bs: Seq[(Seq[(Long, Long)], Int)]): Unit = {
      val ms = MemoryStream[(Long, Long)]
      val q = h.attach(ms.toDF().toDF("k", "v")).start()
      try bs.foreach { case (b, i) =>
        ms.addData(b); q.processAllAvailable()
        if (i == mid) h.applyDimDelta(dimChanges)
      } finally q.stop()
    }

    val full = new ViewMaintenance(spark, dim0, keys, groups, aggs)
    runFacts(full, batches)
    val want = rows(full.view.get)
    assert(want.nonEmpty)

    // kills on both sides of the churn: before (the resumed job applies
    // it) and after (the churned dim must survive the round-trip)
    for (kill <- Seq(1, mid, mid + 1, batches.size - 1).distinct
        .filter(k => k > 0 && k < batches.size)) {
      val first = new ViewMaintenance(spark, dim0, keys, groups, aggs)
      runFacts(first, batches.take(kill))
      val dir = tmp(s"view-$kill")
      first.save(dir)
      val resumed = ViewMaintenance.resume(spark, dir, keys, groups, aggs)
      assert(resumed.lastAppliedBatch === (kill - 1).toLong)
      // checkpoint-restart posture: the in-flight trigger replays with
      // its original id (ledger no-op), then the suffix continues under
      // the ids the checkpointed stream would deliver, dim churn at mid
      resumed.merge(batches(kill - 1)._1.toDF("k", "v"), (kill - 1).toLong)
      batches.drop(kill).foreach { case (b, i) =>
        resumed.merge(b.toDF("k", "v"), i.toLong)
        if (i == mid) resumed.applyDimDelta(dimChanges)
      }
      assert(rows(resumed.view.get) === want,
        s"join view diverged from uninterrupted at kill=$kill")
    }
  }

  test("save after resume to the SAME path — with no intervening merge — " +
      "round-trips (the periodic-checkpoint posture)") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // chunk: plain-state handle; the resumed state is read FROM the path
    // it will be re-saved to, which without the eager localCheckpoint in
    // resume() is an overwrite-what-you-read AnalysisException
    val batches = docBatches(docRows.map { case (id, _, t) => (id, t) })
    val h0 = new ChunkMaintenance(spark)
    batches.take(2).zipWithIndex.foreach { case (b, i) =>
      h0.merge(b.toDF("doc_id", "text"), i.toLong)
    }
    val dir = tmp("resave-chunk")
    h0.save(dir)
    val h1 = ChunkMaintenance.resume(spark, dir)
    h1.save(dir) // periodic checkpoint, zero new triggers since resume
    val h2 = ChunkMaintenance.resume(spark, dir)
    assert(h2.lastAppliedBatch === 1L)
    batches.drop(2).zipWithIndex.foreach { case (b, i) =>
      h2.merge(b.toDF("doc_id", "text"), (2 + i).toLong)
    }
    val want = new ChunkMaintenance(spark)
    batches.foreach(b => want.merge(b.toDF("doc_id", "text")))
    assert(rows(h2.index) === rows(want.index),
      "save-after-resume round-trip diverged")

    // join view: the triple re-saves to the path it was just loaded from
    // (the dim is the hazard — merge keeps it pinned as loaded, never
    // re-checkpointing it)
    val keys = Seq("k"); val groups = Seq("g")
    val aggs = Seq(AggSpec("v", "sum", "v_sum"))
    val dim0 = (0L to 9L).map(k => (k, s"g${k % 3}")).toDF("k", "g")
    val vm0 = new ViewMaintenance(spark, dim0, keys, groups, aggs)
    vm0.merge((1L to 20L).map(i => (i % 10, i)).toDF("k", "v"), 0L)
    val vdir = tmp("resave-view")
    vm0.save(vdir)
    val vm1 = ViewMaintenance.resume(spark, vdir, keys, groups, aggs)
    vm1.save(vdir)
    val vm2 = ViewMaintenance.resume(spark, vdir, keys, groups, aggs)
    // and an immediate dim delta splices against the re-saved state
    vm2.applyDimDelta(Seq((0L, "gX", "U")).toDF("k", "g", "op"))
    assert(rows(vm2.view.get) === rows({
      val w = new ViewMaintenance(spark, dim0, keys, groups, aggs)
      w.merge((1L to 20L).map(i => (i % 10, i)).toDF("k", "v"))
      w.applyDimDelta(Seq((0L, "gX", "U")).toDF("k", "g", "op"))
      w
    }.view.get), "view save-after-resume round-trip diverged")
  }

  test("a crash MID-SAVE (between state and ledger writes) leaves the " +
      "prior consistent snapshot — resume never loads a torn mix") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val keys = Seq("k"); val groups = Seq("g")
    val aggs = Seq(AggSpec("v", "sum", "v_sum"))
    val dim0 = (0L to 9L).map(k => (k, s"g${k % 3}")).toDF("k", "g")
    val b0 = (1L to 20L).map(i => (i % 10, i)).toDF("k", "v")
    val b1 = (21L to 40L).map(i => (i % 10, i)).toDF("k", "v")
    val h = new ViewMaintenance(spark, dim0, keys, groups, aggs)
    h.merge(b0, 0L)
    val dir = tmp("torn-view")
    h.save(dir) // consistent snapshot covering batch 0
    val wantV0 = rows(h.view.get)
    h.merge(b1, 1L)
    // crash between the state write and the ledger write: under the
    // staged protocol that is an exception INSIDE the staging closure —
    // new state parquet written, ledger (and marker) never land
    intercept[RuntimeException] {
      graft.streaming.Snapshots.publish(spark, dir) { staged =>
        h.keyAgg.get.write.mode("overwrite").parquet(s"$staged/keyAgg")
        h.view.get.write.mode("overwrite").parquet(s"$staged/view")
        throw new RuntimeException("kill -9 mid-save")
      }
    }
    val resumed = ViewMaintenance.resume(spark, dir, keys, groups, aggs)
    assert(resumed.lastAppliedBatch === 0L,
      "resume picked up a torn snapshot's coverage")
    assert(rows(resumed.view.get) === wantV0,
      "resume loaded torn state (new view with old ledger)")
    // the stream re-drives from the ledger: replay 0 (no-op) then 1
    resumed.merge(b0, 0L)
    resumed.merge(b1, 1L)
    assert(rows(resumed.view.get) === rows(h.view.get),
      "post-crash re-drive diverged from the uninterrupted run")
    // and a CLEAN save over the torn leftovers publishes + supersedes
    resumed.save(dir)
    val again = ViewMaintenance.resume(spark, dir, keys, groups, aggs)
    assert(again.lastAppliedBatch === 1L)
    assert(rows(again.view.get) === rows(h.view.get))
  }

  test("a ledger regression (fresh-checkpoint restart, ids back at 0) " +
      "throws instead of silently dropping the prefix") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val h = new ChunkMaintenance(spark)
    val batch = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    h.merge(batch, 0L)
    h.merge(batch, 1L)
    h.merge(batch, 1L) // in-flight replay: fine, no-op
    assert(h.lastAppliedBatch === 1L)
    intercept[GraftInvalidOperation] {
      h.merge(batch, 0L) // two behind: cannot be a checkpoint replay
    }
    h.merge(batch, -1L) // ad-hoc bypass stays available
  }

  test("pre-versioning FLAT snapshots still resume (read-only compat)") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp("flat-compat")
    // hand-write the legacy flat layout a pre-r15 save() produced
    Seq((1L, 0L), (2L, 0L)).toDF("pair_a", "pair_b")
      .groupBy(col("pair_a").as("doc_id")).agg(min("pair_b").as("label"))
      .write.mode("overwrite").parquet(s"$dir/labels")
    spark.range(1).select(lit(3L).as("last_batch_id"))
      .write.mode("overwrite").parquet(s"$dir/ledger")
    val h = ClusterMaintenance.resume(spark, dir)
    assert(h.lastAppliedBatch === 3L)
    assert(rows(h.labels).nonEmpty)
    // the next save publishes v0, which then wins over the flat pieces —
    // but leaves them for ONE publish cycle: a sibling that resolve()d
    // the bare path just before v0 gets the same grace window Keep=2
    // gives a reader of a superseded version dir
    h.save(dir)
    val h2 = ClusterMaintenance.resume(spark, dir)
    assert(h2.lastAppliedBatch === 3L)
    assert(rows(h2.labels) === rows(h.labels))
    val afterFirst = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(afterFirst.contains("labels") && afterFirst.contains("ledger"),
      s"flat pieces must survive the FIRST versioned publish (grace " +
        s"window for a concurrent bare-path reader): $afterFirst")
    // the second publish GCs them: nothing reading the bare path
    // directly can pick up the stale pre-versioning state afterwards
    h2.save(dir)
    val leftovers = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!leftovers.contains("labels") && !leftovers.contains("ledger"),
      s"legacy flat pieces survived the second versioned publish: $leftovers")
  }

  test("a concurrent external reader's resolve() survives one publish " +
      "(superseded version kept for a grace window)") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val h = new ChunkMaintenance(spark)
    h.merge(Seq((1L, "alpha bravo"), (2L, "charlie")).toDF("doc_id", "text"), 0L)
    val dir = tmp("concurrent-reader")
    h.save(dir)
    // a sibling process resolves the current version...
    val resolved = graft.streaming.Snapshots.resolve(spark, dir)
    // ...and a publish races it before it reads
    h.merge(Seq((3L, "delta echo")).toDF("doc_id", "text"), 1L)
    h.save(dir)
    // the resolved dir must still exist and read cleanly (retention
    // keeps the superseded version), while a fresh resolve sees the new
    assert(new java.io.File(new java.net.URI(
      "file:" + resolved.stripPrefix("file:")).getPath).exists(),
      s"superseded version $resolved deleted under a concurrent reader")
    assert(spark.read.parquet(s"$resolved/ledger").count() === 1L)
    val newest = graft.streaming.Snapshots.resolve(spark, dir)
    assert(newest !== resolved)
    // TWO publishes later the grace window has passed and the old
    // version is gone — the documented one-cycle bound
    h.merge(Seq((4L, "foxtrot")).toDF("doc_id", "text"), 2L)
    h.save(dir)
    assert(!new java.io.File(new java.net.URI(
      "file:" + resolved.stripPrefix("file:")).getPath).exists(),
      "retention kept more than the grace window")
  }

  test("a torn version dir (renamed but never marked) is ignored by " +
      "resolve and swept without a name collision") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val h = new ChunkMaintenance(spark)
    h.merge(Seq((1L, "alpha")).toDF("doc_id", "text"), 0L)
    val dir = tmp("torn-version")
    h.save(dir) // v0 committed
    // simulate a crash between the rename and the marker: a v1 dir with
    // data files but no _COMMITTED
    val torn = new java.io.File(dir, "v1")
    assert(torn.mkdirs())
    java.nio.file.Files.write(torn.toPath.resolve("part-00000"),
      "torn".getBytes)
    // resolve ignores it (a dir without the marker is never read)
    val resolved = graft.streaming.Snapshots.resolve(spark, dir)
    assert(resolved.endsWith("/v0"), s"resolve picked the torn dir: $resolved")
    // the next publish must not collide with the torn name: it takes v2
    h.merge(Seq((2L, "bravo")).toDF("doc_id", "text"), 1L)
    h.save(dir)
    val after = graft.streaming.Snapshots.resolve(spark, dir)
    assert(after.endsWith("/v2"), s"publish after torn dir landed at $after")
    assert(!torn.exists(), "torn uncommitted debris was not swept")
    assert(ChunkMaintenance.resume(spark, dir).lastAppliedBatch === 1L)
  }

  test("a crash during the FIRST save (staging debris only) fails " +
      "resume with the save-first message, not an opaque read error") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp("first-save-crash")
    intercept[RuntimeException] {
      graft.streaming.Snapshots.publish(spark, dir) { staged =>
        spark.range(1).write.parquet(s"$staged/piece")
        throw new RuntimeException("kill -9 mid-first-save")
      }
    }
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Snapshots.resolve(spark, dir)
    }
    assert(e.getMessage.contains("save() at least once"),
      s"wrong failure for a torn first save: ${e.getMessage}")
  }
}
