package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Corpus
import graft.operators.IncrementalAgg.AggSpec
import graft.sources.Tables
import graft.streaming._

/** The snapshot layout of every maintenance handle, pinned: a save
  * commits one `v<N>` directory holding exactly the handle's named
  * pieces, the `ledger` and the `_COMMITTED` marker. Snapshots written
  * by earlier builds resume only while these names hold. Each snapshot
  * also resumes to the saved state and ledger.
  */
class SnapshotLayoutSpec extends SparkSpec {
  import spark.implicits._
  import SnapshotLayoutSpec.Case

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private val keys = Seq("k")
  private val groups = Seq("g")
  private val sumCount = Seq(AggSpec("v", "sum", "v_sum"),
    AggSpec("v", "count", "v_cnt"))
  private val statKeys = Seq("lang")
  private val statAggs = Seq(AggSpec("n_chars", "sum", "chars_sum"),
    AggSpec("n_chars", "count", "n_docs"))

  private def dim = (0L to 9L).map(k => (k, s"g${k % 3}")).toDF("k", "g")
  private def facts = (1L to 30L).map(i => (i % 10, i)).toDF("k", "v")
  private def signed = facts.withColumn("_sign", lit(1L))
  private def docs = Tables.load(spark, sf, "documents")
    .filter(col("doc_id") % 4 === 0)
    .select(col("doc_id"), col("source"), col("text"))
  private def corpus = Tables.load(spark, sf, "documents")
    .filter(col("doc_id") % 3 =!= 0)
    .select(col("doc_id"), col("lang"), col("n_chars"),
      Corpus.words(col("text")).as("toks"))
  private def crawl = Tables.load(spark, sf, "documents")
    .filter(col("doc_id") % 3 === 0)
    .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
      col("n_chars"), Corpus.words(col("text")).as("toks"))

  private def intake(mergeFirst: Boolean): String => Seq[DataFrame] = dir => {
    val h = new IntakeMaintenance(spark, corpus, "doc_id", "toks", statKeys,
      statAggs, 9, 10)
    if (mergeFirst) h.merge(crawl, 0L)
    h.save(dir)
    h.statsNow +: h.censusNow.toSeq
  }

  private def resumedIntake(dir: String) = {
    val h = IntakeMaintenance.resume(spark, dir, "doc_id", "toks",
      statKeys, statAggs)
    (h.lastAppliedBatch, h.statsNow +: h.censusNow.toSeq)
  }

  private val cases = Seq(
    Case("view", Set("keyAgg", "dim", "view"), dir => {
      val h = new ViewMaintenance(spark, dim, keys, groups, sumCount)
      h.merge(facts, 0L)
      h.save(dir)
      Seq(h.keyAgg.get, h.view.get)
    }, dir => {
      val h = ViewMaintenance.resume(spark, dir, keys, groups, sumCount)
      (h.lastAppliedBatch, Seq(h.keyAgg.get, h.view.get))
    }),
    Case("retractable-view", Set("keyAgg", "dim", "view"), dir => {
      val h = new RetractableViewMaintenance(spark, dim, keys, groups,
        sumCount)
      h.merge(signed, 0L)
      h.save(dir)
      Seq(h.keyAgg.get, h.view.get)
    }, dir => {
      val h = RetractableViewMaintenance.resume(spark, dir, keys, groups,
        sumCount)
      (h.lastAppliedBatch, Seq(h.keyAgg.get, h.view.get))
    }),
    Case("retraction", Set("countingState"), dir => {
      val h = new RetractionMaintenance(spark, keys, sumCount)
      h.merge(signed, 0L)
      h.save(dir)
      Seq(h.countingState.get)
    }, dir => {
      val h = RetractionMaintenance.resume(spark, dir, keys, sumCount)
      (h.lastAppliedBatch, Seq(h.countingState.get))
    }),
    Case("mix", Set("tokenCounts"), dir => {
      val h = new MixMaintenance(spark)
      h.merge(docs, 0L)
      h.save(dir)
      Seq(h.tokenCounts)
    }, dir => {
      val h = MixMaintenance.resume(spark, dir)
      (h.lastAppliedBatch, Seq(h.tokenCounts))
    }),
    Case("selection", Set("bucketCounts"), dir => {
      val h = new SelectionMaintenance(spark)
      h.merge(docs, 0L)
      h.save(dir)
      Seq(h.bucketCounts)
    }, dir => {
      val h = SelectionMaintenance.resume(spark, dir)
      (h.lastAppliedBatch, Seq(h.bucketCounts))
    }),
    Case("embed", Set("componentState"), dir => {
      val h = new EmbedMaintenance(spark)
      h.merge(Tables.load(spark, sf, "embeddings")
        .select(col("vec_id"), col("embedding")), 0L)
      h.save(dir)
      Seq(h.componentState)
    }, dir => {
      val h = EmbedMaintenance.resume(spark, dir)
      (h.lastAppliedBatch, Seq(h.componentState))
    }),
    Case("chunk", Set("index"), dir => {
      val h = new ChunkMaintenance(spark)
      h.merge(docs.select(col("doc_id"), col("text")), 0L)
      h.save(dir)
      Seq(h.index)
    }, dir => {
      val h = ChunkMaintenance.resume(spark, dir)
      (h.lastAppliedBatch, Seq(h.index))
    }),
    Case("cluster", Set("labels"), dir => {
      val h = new ClusterMaintenance(spark)
      h.merge(Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("ida", "idb"), 0L)
      h.save(dir)
      Seq(h.labels)
    }, dir => {
      val h = ClusterMaintenance.resume(spark, dir)
      (h.lastAppliedBatch, Seq(h.labels))
    }),
    Case("intake", Set("index", "stats", "census"), intake(true),
      resumedIntake),
    // saved before any trigger: no census piece, a ledger of −1
    Case("intake-unmerged", Set("index", "stats"), intake(false),
      resumedIntake, ledger = -1L))

  for (c <- cases) {
    test(s"${c.name}: the committed snapshot holds exactly its pieces") {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-layout-${c.name}").toString
      val want = c.saveTo(dir)
      val v = new Path(Snapshots.resolve(spark, dir))
      assert(v.getName === "v0")
      val names = v.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(v).map(_.getPath.getName).toSet
      assert(names === c.pieces ++ Set("ledger", "_COMMITTED"))
      val (ledger, got) = c.resumeFrom(dir)
      assert(ledger === c.ledger)
      assert(got.map(rows) === want.map(rows))
    }
  }
}

object SnapshotLayoutSpec {

  /** A handle saved after one trigger (id 0) and resumed: the state
    * frames it saved, and the resumed handle's ledger and frames.
    * `pieces` are the snapshot's entries besides `ledger`/`_COMMITTED`.
    */
  final case class Case(name: String, pieces: Set[String],
      saveTo: String => Seq[DataFrame],
      resumeFrom: String => (Long, Seq[DataFrame]), ledger: Long = 0L)
}
