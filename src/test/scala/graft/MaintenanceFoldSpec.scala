package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.IncrementalAgg.AggSpec
import graft.sources.Tables
import graft.streaming.{ChunkMaintenance, ClusterMaintenance,
  EmbedMaintenance, RetractionMaintenance, SelectionMaintenance}

/** The handles that fold with no emptiness probe: a non-empty merge of a
  * file-backed batch reads the batch's file rows exactly once (a probe
  * on the unpinned delta would read them again), and an empty batch
  * leaves the state rows as they were.
  */
class MaintenanceFoldSpec extends SparkSpec {
  import MaintenanceFoldSpec._

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  private def fileBacked(tag: String, df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-fold-$tag")
      .resolve("batch").toString
    df.repartition(3).write.parquet(dir)
    val batch = spark.read.parquet(dir)
    batch.schema // file listing outside the probed merge
    batch
  }

  private def docs = Tables.load(spark, sf, "documents")
    .select(col("doc_id"), col("source"), col("text"))

  private val cases = Seq(
    Case("selection", () => docs, () => {
      val h = new SelectionMaintenance(spark)
      Handle(h.merge(_), () => h.bucketCounts)
    }),
    Case("embed", () => Tables.load(spark, sf, "embeddings")
        .select(col("vec_id"), col("embedding")), () => {
      val h = new EmbedMaintenance(spark)
      Handle(h.merge(_), () => h.componentState)
    }),
    Case("chunk", () => docs.select(col("doc_id"), col("text")), () => {
      val h = new ChunkMaintenance(spark)
      Handle(h.merge(_), () => h.index)
    }),
    // stars of five ids: every component converges in one contraction
    Case("cluster", () => spark.range(0, 3000).filter(col("id") % 5 =!= 0)
        .select((col("id") - col("id") % 5).as("ida"), col("id").as("idb")),
      () => {
        val h = new ClusterMaintenance(spark)
        Handle(h.merge(_), () => h.labels)
      }),
    // every row inserted, every 4th also retracted
    Case("retraction", () => {
      val ins = spark.range(0, 4000).select((col("id") % 10).as("k"),
        col("id").as("v"), lit(1L).as("_sign"))
      ins.unionByName(ins.filter(col("v") % 4 === 0)
        .withColumn("_sign", lit(-1L)))
    }, () => {
      val h = new RetractionMaintenance(spark, Seq("k"),
        Seq(AggSpec("v", "sum", "v_sum"), AggSpec("v", "count", "v_cnt")))
      Handle(h.merge(_), () => h.countingState.get)
    }))

  for (c <- cases) {
    test(s"${c.name}: a merge reads its batch once; an empty batch " +
        "keeps the state") {
      val batch = fileBacked(c.name, c.rows())
      val n = batch.count()
      val h = c.mk()
      h.merge(batch) // the state exists before the probed merges
      val once = ActionProbe(spark)(h.merge(batch))
      val before = rows(h.state())
      val empty = ActionProbe(spark)(h.merge(batch.limit(0)))
      info(s"merge: ${once.jobs} jobs, ${once.fileRows} file rows " +
        s"($n-row batch); empty merge: ${empty.jobs} jobs")
      assert(once.fileRows === n,
        s"merge read ${once.fileRows} file rows for a $n-row batch")
      assert(before.nonEmpty)
      assert(rows(h.state()) === before, "an empty batch changed the state")
    }
  }
}

object MaintenanceFoldSpec {

  /** A handle as the spec drives it: its merge and its state frame. */
  final case class Handle(merge: DataFrame => Unit, state: () => DataFrame)

  final case class Case(name: String, rows: () => DataFrame,
      mk: () => Handle)
}
