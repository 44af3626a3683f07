package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.DsirSelection
import graft.sources.Tables
import graft.streaming.SelectionMaintenance

/** Streaming DSIR parity: the importance model maintained over a
  * document stream must equal the batch kernel's model on the same
  * corpus, regardless of how the stream was micro-batched, and selecting
  * a probe frame through the handle must match the batch resample.
  */
class SelectionStreamSpec extends SparkSpec {
  import spark.implicits._

  // a mix merge is its fold's eager checkpoint: two shuffle stages and
  // the result stage (4 jobs with the emptiness probe it used to run)
  private val MaxMixMergeJobs = 3

  private def corpus() = Tables.load(spark, sf, "documents")
    .select(col("doc_id"), col("source"), col("text"))
    .as[(Long, String, String)].collect().toSeq.sortBy(_._1)

  private def stateMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("streamed DSIR model == batch model (3 micro-batches), selection matches") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = corpus()
    val ms = MemoryStream[(Long, String, String)]
    val sm = new SelectionMaintenance(spark)
    val q = sm.attach(ms.toDF().toDF("doc_id", "source", "text")).start()
    try {
      docs.grouped(math.max(1, docs.size / 3)).foreach { b =>
        ms.addData(b); q.processAllAvailable()
      }
      val batchDocs = Tables.load(spark, sf, "documents")
      val batchState = DsirSelection.bucketState(
        DsirSelection.hashedBigramCounts(batchDocs))
      assert(stateMap(sm.bucketCounts.select("b", "tc", "rc")) ===
        stateMap(batchState.select("b", "tc", "rc")),
        "streamed bucket state diverged from batch")
      // selecting the full corpus through the handle == the imp2 query
      val streamed = sm.select(batchDocs)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val batch = SparkEntry.queries("imp2_dsir_resample")(spark, sf)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(streamed === batch, "streamed selection diverged from batch imp2")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streamed mix totals == batch totals; UniMax allocation matches cur9") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = corpus()
    val ms = MemoryStream[(Long, String, String)]
    val mm = new graft.streaming.MixMaintenance(spark)
    val q = mm.attach(ms.toDF().toDF("doc_id", "source", "text")).start()
    try {
      docs.grouped(math.max(1, docs.size / 4)).foreach { b =>
        ms.addData(b); q.processAllAvailable()
      }
      val streamed = mm.unimaxAlloc().collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val batch = SparkEntry.queries("cur9_unimax_alloc")(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(streamed.toSeq === batch.toSeq,
        "streamed UniMax allocation diverged from batch cur9")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("mix merge: each batch is one fold; an empty batch keeps the totals") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val empty = docs.filter(col("doc_id") < 0L)
    def totals(mm: graft.streaming.MixMaintenance) =
      mm.tokenCounts.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val fresh = new graft.streaming.MixMaintenance(spark)
    fresh.merge(empty)
    assert(totals(fresh).isEmpty)
    fresh.merge(docs)
    val mm = new graft.streaming.MixMaintenance(spark)
    mm.merge(docs.filter(col("doc_id") % 2 === 0L))
    val half = ActionProbe(spark)(mm.merge(docs.filter(col("doc_id") % 2 === 1L)))
    val before = totals(mm)
    assert(before.nonEmpty && before === totals(fresh))
    val none = ActionProbe(spark)(mm.merge(empty))
    info(s"merge: ${half.jobs} jobs; empty merge: ${none.jobs} jobs")
    assert(totals(mm) === before, "an empty batch changed the totals")
    assert(half.jobs <= MaxMixMergeJobs, s"merge ran ${half.jobs} jobs")
    assert(none.jobs <= MaxMixMergeJobs, s"empty merge ran ${none.jobs} jobs")
  }

  test("selection maintenance is micro-batching invariant (1 vs 5 batches)") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = corpus()
    def run(parts: Int): Map[Long, (Long, Long)] = {
      val ms = MemoryStream[(Long, String, String)]
      val sm = new SelectionMaintenance(spark)
      val q = sm.attach(ms.toDF().toDF("doc_id", "source", "text")).start()
      try {
        docs.grouped(math.max(1, docs.size / parts)).foreach { b =>
          ms.addData(b); q.processAllAvailable()
        }
        stateMap(sm.bucketCounts.select("b", "tc", "rc"))
      } finally q.stop()
    }
    assert(run(1) === run(5))
  }

  test("streamed centroid state == batch; prune through handle == batch imp7") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val vecs = emb.as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val ms = MemoryStream[(Long, Seq[Float])]
    val em = new graft.streaming.EmbedMaintenance(spark)
    val q = em.attach(ms.toDF().toDF("vec_id", "embedding")).start()
    try {
      vecs.grouped(math.max(1, vecs.size / 3)).foreach { b =>
        ms.addData(b); q.processAllAvailable()
      }
      val streamedState = em.componentState.collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      val batchState = graft.operators.ProtoPrune.componentState(
        graft.operators.ProtoPrune.components(emb)).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      assert(streamedState === batchState,
        "streamed centroid sufficient statistics diverged from batch")
      val streamed = em.prune(emb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val batch = SparkEntry.queries("imp7_prototype_prune")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(streamed.sortBy(_._1).toSeq === batch.sortBy(_._1).toSeq,
        "streamed prune diverged from batch imp7")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }
}
