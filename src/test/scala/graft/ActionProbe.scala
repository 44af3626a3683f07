package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What one block of driver code costs Spark: the jobs it starts and the
  * rows its tasks read from files. A stage reads files when its RDD
  * lineage holds a `FileScanRDD`; its tasks' input records are file
  * rows. Rows read back from cached or checkpointed blocks are not
  * counted.
  */
object ActionProbe {
  final case class Cost(jobs: Int, fileRows: Long)

  def apply(spark: SparkSession)(body: => Unit): Cost = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val rows = new AtomicLong
    val scanStages = ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        e.stageInfos.filter(_.rddInfos.exists(_.name == "FileScanRDD"))
          .foreach(s => scanStages.add(s.stageId))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && scanStages.contains(e.stageId))
          rows.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBusDrain(sc) }
    finally sc.removeSparkListener(l)
    Cost(jobs.get, rows.get)
  }
}
