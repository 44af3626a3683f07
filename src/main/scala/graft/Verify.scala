package graft

import org.apache.spark.sql.SparkSession
import graft.sources.Tables

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (`tools/check.py`), and
  * verify.json, one `{wall_s, rows, error_class}` record per query
  * (`rows` and `error_class` are null for a failed and a passed query
  * respectively). Exits non-zero when any query failed.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.tune(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // every registry window without PARTITION BY warns on each execution;
    // the wall would drown the `[verify] … failed` lines
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    new java.io.File(outDir).mkdirs()
    val records = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val t0 = System.nanoTime()
      def wall = (System.nanoTime() - t0) / 1e9
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val w = wall
        System.err.println(f"[verify] $name ok in $w%.1fs")
        Record(name, w, Some(Tables.parquet(spark, s"$outDir/$name").count()), None)
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Record(name, wall, None, Some(e.getClass.getName))
      }
    }
    OracleDump.write(s"$outDir/oracle_sql.json")
    writeRecords(s"$outDir/verify.json", records)
    spark.stop()
    val failed = records.filter(_.errorClass.isDefined)
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} of ${records.size} " +
        s"queries failed: ${failed.map(_.name).mkString(", ")}")
      sys.exit(1)
    }
  }

  private final case class Record(name: String, wallS: Double,
      rows: Option[Long], errorClass: Option[String])

  private def writeRecords(path: String, rs: Seq[Record]): Unit = {
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val body = rs.map { r =>
      val wall = "%.3f".formatLocal(java.util.Locale.ROOT, r.wallS)
      val rows = r.rows.fold("null")(_.toString)
      val err = r.errorClass.fold("null")(str)
      s"""  ${str(r.name)}: {"wall_s": $wall, "rows": $rows, "error_class": $err}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      body.mkString("{\n", ",\n", "\n}\n"))
  }
}
