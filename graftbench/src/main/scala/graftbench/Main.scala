package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.graftbench.ListenerBusHook
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{ArrowInterchange, Broadcasts, ClusteredAgg, Frame, LookupJoin, RuntimeFilters, Similarity}
import graft.sources.Tables
import graft.streaming.ViewMaintenance

/** The benchmark's JVM side: one closed-loop client that times calls
  * into graft and writes every sample, result digest and (in a traced
  * run) every op's layer record to a JSON file. `graftbench/run.py`
  * generates the inputs, starts this with a JSON config, checks the
  * digests against DuckDB and prints the metrics.
  *
  * Usage: graftbench.Main <config.json>
  */
object Main {

  val mapper = new ObjectMapper()

  final class Conf(m: java.util.Map[String, AnyRef]) {
    def str(k: String): String = String.valueOf(m.get(k))
    def int(k: String): Int = m.get(k).asInstanceOf[Number].intValue
    def bool(k: String): Boolean = m.get(k).asInstanceOf[Boolean]
    def strs(k: String): Seq[String] =
      m.get(k).asInstanceOf[java.util.List[String]].asScala.toSeq
  }

  def main(args: Array[String]): Unit = {
    val conf = new Conf(mapper.readValue(new java.io.File(args(0)),
      classOf[java.util.Map[String, AnyRef]]))
    conf.str("mode") match {
      case "oracle" => dumpOracle(conf)
      case _ => new Runner(conf).run()
    }
  }

  /** The registry's DuckDB oracle SQL for the named queries. */
  private def dumpOracle(conf: Conf): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val out = new java.util.LinkedHashMap[String, String]()
    conf.strs("queries").foreach(n => out.put(n, sql(n)))
    mapper.writeValue(new java.io.File(conf.str("out")), out)
  }

  /** Clock in epoch milliseconds with sub-millisecond resolution, on the
    * same base as Spark's event timestamps.
    */
  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs(): Double = epochBaseMs + (System.nanoTime() - nanoBase) / 1e6

  /** The six session caches graft keeps; a cold op starts with all empty. */
  def resetCaches(): Unit = {
    Broadcasts.reset()
    ClusteredAgg.reset()
    RuntimeFilters.reset()
    LookupJoin.reset()
    Similarity.resetRelationCache()
    Tables.resetRelationCache()
  }
}

final class Runner(conf: Main.Conf) {
  import Main._

  private val workload = new Workload(conf.str("workload"), Inputs(
    conf.str("sf_dir"), conf.str("frames_dir"), conf.str("write_dir"),
    conf.strs("queries"), conf.strs("tables")))
  private val seed = conf.int("seed").toLong
  private val rnd = new java.util.Random(seed)
  private val cpus = conf.int("cpus")
  private val injectWrong = conf.str("inject_wrong")

  private val ops = new java.util.ArrayList[AnyRef]()
  private val traces = new java.util.ArrayList[AnyRef]()
  private var spark: SparkSession = _
  private val trace = new Trace
  /** whether the trace listeners are registered for the current pass */
  private var tracing = false
  private var opSeq = 0
  private var storagePeakMb = 0.0
  private var heapPeakMb = 0.0
  private var merges = 0
  private var view: ViewMaintenance = _
  /** per read op: the tables its executions scan, found during warm-up */
  private val scanned = mutable.Map.empty[String, mutable.Set[String]]

  private def session(): SparkSession = {
    val work = conf.str("local_dir")
    graft.Bench.session(conf.str("sf_dir"), cpus.toString, Map(
      "spark.local.dir" -> work,
      "spark.sql.warehouse.dir" -> s"$work/warehouse",
      "spark.driver.host" -> "localhost"))
  }

  private def storageMb(): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => (max - free).toDouble }.sum / (1 << 20)

  private def sample(): Unit = {
    storagePeakMb = math.max(storagePeakMb, storageMb())
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    heapPeakMb = math.max(heapPeakMb, heap)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  // ---------------------------------------------------------------- ops

  private final case class Outcome(wallS: Double, error: String, digest: String,
      rows: Long, spans: Map[String, (Double, Double)])

  /** One read: build, then materialize in full. Only the build and the
    * materialization are timed; the digest is taken afterwards.
    */
  private def read(op: ReadOp, cold: Boolean): Outcome = {
    val spans = mutable.Map.empty[String, (Double, Double)]
    def span[T](layer: String)(body: => T): T = {
      val a = nowMs(); try body finally spans(layer) = (a, nowMs())
    }
    val t0 = System.nanoTime()
    val a0 = nowMs()
    try {
      if (cold && tracing)
        span("sources")(workload.tables.foreach(t => Tables.load(spark, conf.str("sf_dir"), t)))
      val df = span("build")(op.build(spark))
      val result: Either[Array[Row], Array[Byte]] = span("action") {
        op.delivery match {
          case Collect => Left(df.collect())
          case Iterate =>
            val buf = mutable.ArrayBuffer.empty[Row]
            Frame(df).rowIterator.foreach(buf += _)
            Left(buf.toArray)
          case Arrow => Right(Frame(df).toArrowStream)
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      spans("op") = (a0, nowMs())
      val (schema, rows) = result match {
        case Left(rs) => (df.schema, rs)
        case Right(bytes) =>
          val back = ArrowInterchange.fromStream(spark, bytes)
          (back.schema, back.collect())
      }
      // the self-test's injected defect: the op loses one result row
      val checked = if (op.name == injectWrong) rows.drop(1) else rows
      Outcome(wall, null, Digest.of(schema, checked.iterator), checked.length, spans.toMap)
    } catch {
      case e: Throwable =>
        spans("op") = (a0, nowMs())
        Outcome((System.nanoTime() - t0) / 1e9, e.getClass.getName, null, 0, spans.toMap)
    }
  }

  /** One write: fold the next micro-batch into the view; the view is
    * read back for the check outside the timed span.
    */
  private def write(batch: Int): (Outcome, Double) = {
    val facts = workload.microBatch(spark, batch)
    val a0 = nowMs()
    val t0 = System.nanoTime()
    try {
      view.merge(facts)
      val wall = (System.nanoTime() - t0) / 1e9
      val a1 = nowMs()
      merges += 1
      val v0 = System.nanoTime()
      val v = view.view.get
      val rows = v.collect()
      val viewS = (System.nanoTime() - v0) / 1e9
      (Outcome(wall, null, Digest.of(v.schema, rows.iterator), rows.length,
        Map("op" -> (a0, a1), "maintain" -> (a0, a1))), viewS)
    } catch {
      case e: Throwable =>
        merges += 1
        (Outcome((System.nanoTime() - t0) / 1e9, e.getClass.getName, null, 0,
          Map("op" -> (a0, nowMs()))), 0.0)
    }
  }

  private def record(name: String, kind: String, pass: Int, cold: Boolean,
      o: Outcome, extra: (String, AnyRef)*): Unit = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    m.put("op", name); m.put("kind", kind); m.put("pass", Int.box(pass))
    m.put("cold", Boolean.box(cold)); m.put("traced", Boolean.box(tracing))
    m.put("wall_s", Double.box(o.wallS)); m.put("error", o.error)
    m.put("digest", o.digest); m.put("rows", Long.box(o.rows))
    extra.foreach { case (k, v) => m.put(k, v) }
    ops.add(m)
  }

  /** Run one op with its `graftbench.op` tag; in a traced run, drain the
    * listener bus afterwards and keep the op's layer record.
    */
  private def tagged[T](name: String, iterates: Boolean)(body: => (Outcome, T))
      : (Outcome, T) = {
    opSeq += 1
    val id = opSeq.toString
    spark.sparkContext.setLocalProperty(Trace.OpKey, id)
    val s0 = if (tracing) storageMb() else 0.0
    val r = try body finally spark.sparkContext.setLocalProperty(Trace.OpKey, null)
    if (tracing) {
      ListenerBusHook.drain(spark.sparkContext)
      val t = trace.opRecord(id, r._1.spans, iterates)
      val m = new java.util.LinkedHashMap[String, AnyRef]()
      m.put("op", name); m.put("seq", Int.box(opSeq))
      m.put("wall_ms", Double.box(t.wallMs))
      m.put("layers", t.layers.map { case (k, v) => k -> Double.box(v) }.asJava)
      m.put("plan", t.plan.map { case (k, v) => k -> Double.box(v) }.asJava)
      Seq("jobs" -> t.jobs, "build_jobs" -> t.buildJobs, "stages" -> t.stages,
        "tasks" -> t.tasks, "failed_tasks" -> t.failedTasks, "exchanges" -> t.exchanges)
        .foreach { case (k, v) => m.put(k, Int.box(v)) }
      Seq("task_run_ms" -> t.taskRunMs.toDouble, "task_cpu_ms" -> t.taskCpuMs,
        "sched_delay_ms" -> t.schedDelayMs.toDouble,
        "shuffle_write_b" -> t.shuffleWrite.toDouble, "shuffle_read_b" -> t.shuffleRead.toDouble,
        "spill_b" -> t.spill.toDouble, "input_b" -> t.inputBytes.toDouble,
        "input_rows" -> t.inputRows.toDouble, "result_b" -> t.resultBytes.toDouble,
        "storage_delta_mb" -> (storageMb() - s0), "gc_s" -> gcSeconds())
        .foreach { case (k, v) => m.put(k, Double.box(v)) }
      m.put("spans", r._1.spans.map { case (k, (a, b)) =>
        k -> java.util.List.of(Double.box(a), Double.box(b)) }.asJava)
      traces.add(m)
      trace.clear()
    }
    sample()
    r
  }

  private def readOp(op: ReadOp, pass: Int, cold: Boolean): Outcome = {
    if (cold) resetCaches()
    val (o, _) = tagged(op.name, op.delivery == Iterate)((read(op, cold), ()))
    record(op.name, "read", pass, cold, o, "family" -> op.family)
    o
  }

  private var batchOrder: Array[Int] = _

  private def writeOp(pass: Int): Unit = {
    val batch = batchOrder(merges % batchOrder.length)
    val seq = merges + 1
    val (o, viewS) = tagged("merge", iterates = false)(write(batch))
    record("merge", "write", pass, cold = false, o, "seq" -> Int.box(seq),
      "batch" -> Int.box(batch), "view_s" -> Double.box(viewS))
  }

  // -------------------------------------------------------------- set-up

  /** Watches the queries executed during warm-up and records which input
    * tables each read op scans (for input rows per pass).
    */
  private final class ScanWatch extends QueryExecutionListener {
    @volatile var current = ""
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      val files = qe.analyzed.collect {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
          r.location.rootPaths.map(p => p.getName.stripSuffix(".parquet"))
      }.flatten
      scanned.synchronized(scanned.getOrElseUpdate(current, mutable.Set.empty) ++= files)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Set-up, timed from process start: session creation, input loading
    * and registration (the tables through `Tables.load`, the view's first
    * micro-batch through `ViewMaintenance.merge`), and a fixed warm-up of
    * one execution of every read op.
    */
  private def setup(): Map[String, Double] = {
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val marks = mutable.LinkedHashMap.empty[String, Double]
    def mark(k: String): Unit = marks(k) = (System.currentTimeMillis() - t0) / 1000.0
    mark("main")
    spark = session()
    mark("session")
    var sourcesMs = 0.0
    workload.load(spark, body => { val a = nowMs(); body; sourcesMs += nowMs() - a })
    view = workload.newView(spark)
    view.merge(workload.microBatch(spark, batchOrder(0)))
    mark("loaded")
    val watch = new ScanWatch
    spark.listenerManager.register(watch)
    workload.reads.foreach { op =>
      watch.current = op.name
      val o = read(op, cold = false)
      marks("warmup." + op.name) = o.wallS
      if (o.error != null) System.err.println(s"[graftbench] warm-up ${op.name}: ${o.error}")
      // the listener runs on the bus thread: let it see this op's
      // queries before the next op is named
      ListenerBusHook.drain(spark.sparkContext)
    }
    spark.listenerManager.unregister(watch)
    mark("setup")
    marks("sources") = sourcesMs / 1000.0
    marks.toMap
  }

  // ----------------------------------------------------------------- run

  def run(): Unit = {
    // merges follow a seeded order of the micro-batches, cycling; the
    // first one seeds the view during set-up
    batchOrder = shuffled(0 until conf.int("micro_batches")).toArray
    merges = 1
    val setupMarks = setup()
    storagePeakMb = 0.0
    heapPeakMb = 0.0

    val writesPerPass = conf.int("writes_per_pass")
    val deadline = System.nanoTime() + (conf.int("seconds") * 1e9).toLong
    // Warm passes until the run's seconds have passed, then one cold
    // pass: a cold pass empties the caches the warm passes rely on, so it
    // comes last. In a traced run every warm op runs twice in a row,
    // untraced and traced, in an order that alternates by pass, so the
    // tracing overhead is a paired difference that the JIT's progress
    // during the run does not bias; its cold pass is traced only.
    val traced = conf.bool("trace")
    // Every pass runs the reads in one fixed order with the writes evenly
    // spaced between them, so each run gives the JIT the same history.
    val reads = workload.reads
    val writesAt = (1 to writesPerPass).map(j => j * reads.size / (writesPerPass + 1))
    val gc0 = gcSeconds()
    val passes = new java.util.ArrayList[AnyRef]()
    var pass = 0
    def setTracing(on: Boolean): Unit = if (on != tracing) {
      if (on) {
        spark.sparkContext.addSparkListener(trace)
        spark.listenerManager.register(trace)
      } else {
        spark.sparkContext.removeSparkListener(trace)
        spark.listenerManager.unregister(trace)
      }
      tracing = on
    }
    def runPass(cold: Boolean): Unit = {
      // a full collection between passes, outside every timed span, so
      // no pass inherits the previous one's garbage or its unreleased
      // transient broadcasts
      System.gc()
      pass += 1
      val modes =
        if (!traced) Seq(false)
        else if (cold) Seq(true)
        else if (pass % 2 == 0) Seq(false, true)
        else Seq(true, false)
      val p0 = System.nanoTime()
      var readS = 0.0
      var tracedS = 0.0
      reads.zipWithIndex.foreach { case (op, i) =>
        if (!cold) writesAt.count(_ == i).times(modes.foreach { t => setTracing(t); writeOp(pass) })
        modes.foreach { t =>
          setTracing(t)
          val w = readOp(op, pass, cold).wallS
          if (t) tracedS += w else readS += w
        }
      }
      val m = new java.util.LinkedHashMap[String, AnyRef]()
      m.put("pass", Int.box(pass)); m.put("cold", Boolean.box(cold))
      m.put("traced", Boolean.box(traced)); m.put("read_s", Double.box(readS))
      m.put("traced_read_s", Double.box(tracedS))
      m.put("wall_s", Double.box((System.nanoTime() - p0) / 1e9))
      m.put("storage_mb", Double.box(storageMb()))
      m.put("persisted_rdds", Int.box(spark.sparkContext.getPersistentRDDs.size))
      passes.add(m)
    }
    // whole passes only, so every op is sampled equally often
    var warm = 0
    while (warm < 2 || System.nanoTime() < deadline) {
      runPass(cold = false)
      warm += 1
    }
    runPass(cold = true)
    val gcS = gcSeconds() - gc0

    val out = new java.util.LinkedHashMap[String, AnyRef]()
    out.put("setup", setupMarks.map { case (k, v) => k -> Double.box(v) }.asJava)
    out.put("setup_batch", Int.box(batchOrder(0)))
    out.put("passes", passes)
    out.put("ops", ops)
    out.put("traces", traces)
    out.put("scanned", scanned.map { case (k, v) => k -> v.toSeq.sorted.asJava }.asJava)
    out.put("storage_peak_mb", Double.box(storagePeakMb))
    out.put("heap_peak_mb", Double.box(heapPeakMb))
    out.put("gc_s", Double.box(gcS))
    val rt = ManagementFactory.getRuntimeMXBean
    val host = new java.util.LinkedHashMap[String, AnyRef]()
    host.put("jdk", System.getProperty("java.version") + " " + System.getProperty("java.vm.name"))
    host.put("jvm_flags", rt.getInputArguments.asScala.filter(_.startsWith("-X")).asJava)
    host.put("heap_max_mb", Long.box(Runtime.getRuntime.maxMemory >> 20))
    host.put("spark_master", spark.sparkContext.master)
    host.put("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    host.put("spark_version", spark.version)
    out.put("host", host)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(conf.str("out")), out)
    spark.stop()
  }

  private implicit class Times(n: Int) {
    def times(body: => Unit): Unit = (1 to n).foreach(_ => body)
  }

  private def shuffled[T](xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}
