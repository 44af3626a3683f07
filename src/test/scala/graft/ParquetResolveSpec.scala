package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

/** `Tables.parquet` resolves a parquet path with the schema Spark's
  * inference would produce, read from the same footer on the driver,
  * and without the one-task inference job.
  */
class ParquetResolveSpec extends SparkSpec {
  import spark.implicits._

  // the sf0.01 tables sit next to the suite's sf0.001 fixtures
  private lazy val sf01 = s"${new java.io.File(sf).getParent}/sf0.01"

  private lazy val work =
    Files.createTempDirectory("graft_parquet_resolve").toString

  private def jobs(body: => Any): Int = ActionProbe(spark) { body; () }.jobs

  private def assertInferred(path: String, resolved: DataFrame): Unit =
    assert(resolved.schema === spark.read.parquet(path).schema, path)

  private def assertInferred(path: String): Unit =
    assertInferred(path, Tables.parquet(spark, path))

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val saved = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally saved.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** One part file of `df`, copied into `dir` under `name`. */
  private def placeFile(df: DataFrame, dir: String, name: String): Unit = {
    val stage = s"$work/stage_$name"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    new java.io.File(dir).mkdirs()
    Files.copy(part.toPath, new java.io.File(dir, name).toPath,
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("Tables.load resolves each sf0.01 table with no Spark job") {
    Tables.resetRelationCache()
    try Tables.all.foreach { t =>
      assert(jobs(Tables.load(spark, sf01, t)) === 0, t)
    } finally Tables.resetRelationCache()
  }

  test("Spark's inference runs a job where the footer read runs none") {
    val p = s"$sf01/lineitem.parquet"
    assert(jobs(spark.read.parquet(p)) >= 1)
    assert(jobs(Tables.parquet(spark, p)) === 0)
  }

  test("schema equals Spark's inference for the 10 sf0.01 tables") {
    // events may be a TIMESTAMP(NANOS) layout: its load sets the
    // session's nanosAsLong, under which both sides read it
    Tables.load(spark, sf01, "events")
    Tables.all.foreach(t => assertInferred(s"$sf01/$t.parquet"))
  }

  test("schema equals Spark's inference for a ScaleUp replica directory") {
    val dst = s"$work/replica"
    ScaleUp.run(spark, sf, dst, 2)
    Tables.all.foreach { t =>
      val p = s"$dst/$t.parquet"
      assert(new java.io.File(p).isDirectory &&
        new java.io.File(p, "_SUCCESS").isFile, p)
      assertInferred(p)
      assert(jobs(Tables.parquet(spark, p)) === 0, p)
    }
  }

  test("schema equals Spark's inference for the partitioned layouts") {
    val byLang = Tables.documentsByLang(spark, sf)
    val root = new Path(byLang.inputFiles.head).getParent.getParent.toString
    assert(byLang.schema.fieldNames.last === "lang")
    assertInferred(root, byLang)

    Similarity.resetRelationCache()
    val lsh = Similarity.ensureLshBucketLayout(
      Tables.load(spark, sf, "embeddings"), "embedding", sf)
    val rel = Similarity.layoutRelation(spark, lsh)
    assert(rel.schema.fieldNames.last === "bucket")
    assertInferred(lsh, rel)
    Similarity.resetRelationCache()
  }

  test("summary files, then the first data file in full-path order") {
    val dir = s"$work/choice"
    placeFile(Seq(1L).toDF("a"), s"$dir/x=1", "part-9.parquet")
    placeFile(Seq((1L, "s")).toDF("a", "b"), s"$dir/x=10", "part-0.parquet")
    Files.createFile(new java.io.File(dir, "_SUCCESS").toPath)
    placeFile(Seq(1.5).toDF("hidden"), dir, ".hidden.parquet")
    // `x=1/part-9` sorts before `x=10/part-0`
    assert(Tables.parquet(spark, dir).schema.fieldNames.toSeq === Seq("a", "x"))
    assertInferred(dir)

    placeFile(Seq((1L, "s", 2.0)).toDF("a", "b", "c"), dir, "_metadata")
    assert(Tables.parquet(spark, dir).schema.fieldNames.toSeq ===
      Seq("a", "b", "c", "x"))
    assertInferred(dir)

    placeFile(Seq((1L, 2.0)).toDF("a", "d"), dir, "_common_metadata")
    assert(Tables.parquet(spark, dir).schema.fieldNames.toSeq ===
      Seq("a", "d", "x"))
    assertInferred(dir)
    assert(jobs(Tables.parquet(spark, dir)) === 0)
  }

  test("schema merging defers to Spark's inference") {
    val dir = s"$work/merge"
    placeFile(Seq(1L).toDF("a"), dir, "part-0.parquet")
    placeFile(Seq((1L, "s")).toDF("a", "b"), dir, "part-1.parquet")
    assert(Tables.parquet(spark, dir).schema.fieldNames.toSeq === Seq("a"))
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(Tables.parquet(spark, dir).schema.fieldNames.toSeq === Seq("a", "b"))
      assertInferred(dir)
    }
  }

  test("an empty or missing path raises what Spark's inference raises") {
    val empty = new java.io.File(s"$work/empty")
    empty.mkdirs()
    val onlyMarker = new java.io.File(s"$work/only_marker")
    onlyMarker.mkdirs()
    Files.createFile(new java.io.File(onlyMarker, "_SUCCESS").toPath)
    Seq(empty.toString, onlyMarker.toString, s"$work/missing").foreach { p =>
      val spark0 = intercept[Exception](spark.read.parquet(p))
      val ours = intercept[Exception](Tables.parquet(spark, p))
      assert(ours.getClass === spark0.getClass, p)
      assert(ours.getMessage === spark0.getMessage, p)
    }
  }

  test("a rewritten table resolves its new schema after a cache reset") {
    val dir = s"$work/rewrite"
    Seq(1L).toDF("a").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("a"))
    Seq((1L, 2L)).toDF("a", "b").withColumn("c", lit("z"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    Tables.resetRelationCache()
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("a", "b", "c"))
    Tables.resetRelationCache()
  }
}
