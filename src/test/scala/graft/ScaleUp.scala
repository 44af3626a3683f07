package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Dev tool (Test/runMain): replicate an SF dir K times with offset keys
  * into an output dir, preserving join semantics — the input for the
  * bench scaling proof (Spark's fixed overhead amortizes with scale
  * while an in-process engine grows linearly). Key offsets keep the
  * replicas disjoint: each copy's orders still join only its own
  * customers/lineitems, so per-copy query semantics are preserved and
  * result sizes scale linearly like a real larger SF.
  *
  * Usage: Test/runMain graft.ScaleUp <srcDir> <dstDir> <copies>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, kStr) = args
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, dst, kStr.toInt)
    println(s"SCALEUP done: $dst = $src x $kStr")
    spark.stop()
  }

  /** Write the `k`-fold replica of every table under `src` to `dst`. */
  def run(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1

    val cust = Tables.load(spark, src, "customer")
    val supp = Tables.load(spark, src, "supplier")
    val part = Tables.load(spark, src, "part")
    val ord = Tables.load(spark, src, "orders")
    val li = Tables.load(spark, src, "lineitem")
    val docs = Tables.load(spark, src, "documents")
    val emb = Tables.load(spark, src, "embeddings")
    val (nC, nS, nP, nO, nD, nE) = (maxOf(cust, "c_custkey"), maxOf(supp, "s_suppkey"),
      maxOf(part, "p_partkey"), maxOf(ord, "o_orderkey"),
      maxOf(docs, "doc_id"), maxOf(emb, "vec_id"))

    // one crossJoin against a broadcast 0..k-1 range beats a k-branch
    // union: the plan stays O(1) nodes at any k (a 1000-copy union
    // chokes the analyzer), and each input row fans out to its k offset
    // copies inside a single codegen stage — required for the 1000x
    // bench replica
    //
    // clusterKey: the driver's ingest writes lineitem/orders in key
    // order, and the old per-copy union kept each copy's (offset-
    // disjoint) key range inside its own partitions — a property
    // ClusteredAgg's shuffle-free aggregate verifies and exploits. The
    // fan-out interleaves copies, so keyed tables get a range
    // repartition + in-partition sort to restore ingest-shaped files
    // (key-disjoint partitions, sorted within).
    def replicate(df: DataFrame, offsets: Map[String, Long],
        clusterKey: Option[String] = None): DataFrame = {
      val copies = spark.range(k).select(col("id").as("_copy"))
      // repartition the SOURCE, not the fanned-out result: the source
      // is a handful of MB (one scan partition — a single task would
      // otherwise write the whole k-fold output serially), so a 32-way
      // shuffle of it is free and every executor thread fans out and
      // writes its own slice in parallel
      val src32 = df.repartition(32)
      val fanned = offsets.foldLeft(src32.crossJoin(broadcast(copies))) {
        case (d, (c, base)) =>
          d.withColumn(c, col(c) + col("_copy") * lit(base))
      }.select(df.columns.map(col): _*)
      clusterKey match {
        case Some(ck) =>
          fanned.repartitionByRange(32, col(ck)).sortWithinPartitions(ck)
        case None => fanned
      }
    }

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")

    write(Tables.load(spark, src, "region"), "region")
    write(Tables.load(spark, src, "nation"), "nation")
    write(replicate(cust, Map("c_custkey" -> nC)), "customer")
    write(replicate(supp, Map("s_suppkey" -> nS)), "supplier")
    write(replicate(part, Map("p_partkey" -> nP)), "part")
    write(replicate(ord, Map("o_orderkey" -> nO, "o_custkey" -> nC),
      clusterKey = Some("o_orderkey")), "orders")
    write(replicate(li, Map("l_orderkey" -> nO, "l_partkey" -> nP,
      "l_suppkey" -> nS), clusterKey = Some("l_orderkey")), "lineitem")
    write(replicate(docs, Map("doc_id" -> nD)), "documents")
    write(replicate(emb, Map("vec_id" -> nE)), "embeddings")
    // events: ids and users offset (user_id tracks the customer offset so
    // per-copy funnels/enrichment joins stay closed); timestamps are kept,
    // so windows aggregate across copies — well-defined, linearly larger
    // per-user results
    // Tables.load already normalizes ts to TimestampNTZ micros, which is
    // what both engines read back — the replica just persists that form
    val ev = Tables.load(spark, src, "events")
    val nEv = maxOf(ev, "event_id")
    write(replicate(ev, Map("event_id" -> nEv, "user_id" -> nC)), "events")
  }
}
