package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.functions.{Kernels, SqlCast}
import graft.operators.{Frame, IncrementalAgg}
import graft.sources.Tables
import graft.streaming.ViewMaintenance

/** How a read op's result reaches the caller. */
sealed trait Delivery
case object Collect extends Delivery
case object Iterate extends Delivery
case object Arrow extends Delivery

/** One read op: `build` constructs the result (a registry query or a
  * Frame chain, including any plan-time work graft does there), and the
  * runner materializes it with `delivery`. `family` groups ops for the
  * per-kernel metrics.
  */
final case class ReadOp(name: String, family: String, delivery: Delivery,
    build: SparkSession => DataFrame)

/** The inputs a workload reads, as paths the input generator wrote. */
final case class Inputs(sfDir: String, framesDir: String, writeDir: String,
    queries: Seq[String], tables: Seq[String])

/** One workload: what set-up loads, the read ops, and the write stream. */
final class Workload(val name: String, in: Inputs) {

  /** Tables the registry queries read; set-up loads each through
    * `Tables.load`, the frames workload reads its own parquet instead.
    */
  val tables: Seq[String] = in.tables

  private var frames: Map[String, DataFrame] = Map.empty

  /** Input loading and registration, each table or frame timed through
    * `sources`. Frames are read once and pinned in memory: the `frames`
    * workload models in-memory frames, so their scan is set-up work, not
    * part of any read.
    */
  def load(spark: SparkSession, sources: (=> Unit) => Unit): Unit =
    if (name == "frames") {
      frames = Seq("f", "g", "d").map { t =>
        val df = spark.read.parquet(s"${in.framesDir}/$t.parquet").cache()
        sources(df.foreach(_ => ()))
        t -> df
      }.toMap
    } else tables.foreach(t => sources(Tables.load(spark, in.sfDir, t)))

  lazy val reads: Seq[ReadOp] =
    if (name == "frames") frameOps
    else {
      val byName = SparkEntry.registry.map(q => q.name -> q).toMap
      in.queries.map { n =>
        val q = byName(n)
        ReadOp(n, "query", Collect, s => q.run(s, in.sfDir))
      }
    }

  // ---- the write stream: ViewMaintenance over micro-batch files ----

  private val aggs = Seq(
    IncrementalAgg.AggSpec("q", "sum", "sq"),
    IncrementalAgg.AggSpec("q", "count", "nq"),
    IncrementalAgg.AggSpec("q", "max", "mq"))

  def newView(spark: SparkSession): ViewMaintenance =
    new ViewMaintenance(spark, spark.read.parquet(s"${in.writeDir}/dim.parquet"),
      Seq("k"), Seq("grp"), aggs)

  def microBatch(spark: SparkSession, k: Int): DataFrame =
    spark.read.parquet(s"${in.writeDir}/b=$k")

  // ---- the frames workload: graft's Frame kernel surface ----

  private def f(n: String) = Frame(frames(n))

  private val joinTypes = Seq("inner", "left", "right", "full", "semi", "anti")

  private def frameOps: Seq[ReadOp] = Seq(
    // 3VL filter: integer truthiness, then a Kleene AND over NULL
    // booleans and NaN doubles
    ReadOp("filter_3vl", "filter", Collect, _ =>
      f("f").filter(col("g") % 3).filter(col("b") && col("x") < 50.0).df),
    // the cast matrix's divergent cells: numeric-text to double, to
    // integer and to boolean, double to integer, integer and boolean to
    // text
    ReadOp("cast_matrix", "cast", Collect, _ => {
      val df = frames("f")
      Frame(df).select(
        "k" -> col("k"),
        "d" -> SqlCast.on(df, col("ns"), DoubleType),
        "i" -> SqlCast.on(df, col("ns"), LongType),
        "bo" -> SqlCast.on(df, col("ns"), BooleanType),
        "xi" -> SqlCast.on(df, col("x"), LongType),
        "gs" -> SqlCast.on(df, col("g"), StringType),
        "bs" -> SqlCast.on(df, col("b"), StringType)).df
    }),
    ReadOp("like", "like", Collect, _ =>
      f("f").filter(Kernels.like(col("s"), "%s3", ignoreCase = false, positive = true) ||
        Kernels.like(col("ns"), "-%.%", ignoreCase = false, positive = true))
        .select("k" -> col("k"), "s" -> col("s"), "ns" -> col("ns")).df)
  ) ++ joinTypes.map { jt =>
    // NULL keys on both sides never match
    ReadOp(s"join_$jt", "join", Collect, _ =>
      Frame(frames("f").select("k", "x")).join(Frame(frames("d").select("k", "a")), jt, Seq("k")).df)
  } ++ Seq(
    ReadOp("union", "setop", Collect, _ =>
      Frame(frames("f").select("k", "s")).union(Frame(frames("g").select("k", "s")), unique = true).df),
    ReadOp("intersect", "setop", Collect, _ =>
      Frame(frames("f").select("k", "s")).intersect(Frame(frames("g").select("k", "s"))).df),
    ReadOp("except", "setop", Collect, _ =>
      Frame(frames("f").select("k", "s")).except(Frame(frames("g").select("k", "s"))).df),
    ReadOp("distinct", "distinct", Collect, _ =>
      Frame(frames("f").select("k", "g", "b")).dropDuplicates().df),
    ReadOp("group_agg", "groupagg", Collect, _ =>
      f("f").groupAgg(Seq("g", "s"),
        "n" -> count(lit(1)), "sk" -> sum(col("k")), "sx" -> sum(col("x")),
        "mx" -> max(col("x")), "mt" -> max(col("t"))).df),
    ReadOp("group_apply", "groupapply", Collect, _ => {
      val out = StructType(Seq(StructField("g", LongType), StructField("n", LongType),
        StructField("sk", LongType)))
      Frame(frames("f").select("g", "k")).groupApply(Seq("g"), out)(Workload.groupCount).df
    }),
    ReadOp("row_iterator", "arrow", Iterate, _ =>
      f("f").filter(col("x") > 0.0).df),
    ReadOp("arrow_stream", "arrow", Arrow, _ =>
      frames("f").select("k", "g", "x", "s")))
}

object Workload {
  /** group_apply's per-group function: row count and the sum of `k`. */
  def groupCount(rows: Iterator[Row]): Iterator[Row] = {
    var g: Any = null
    var n = 0L
    var sk: java.lang.Long = null
    rows.foreach { r =>
      g = r.get(0)
      n += 1
      if (!r.isNullAt(1)) sk = (if (sk == null) 0L else sk.longValue) + r.getLong(1)
    }
    Iterator.single(Row(g, n, sk))
  }
}
