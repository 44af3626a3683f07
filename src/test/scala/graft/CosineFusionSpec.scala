package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** The optimizer rule must rewrite the composed cosine into the native
  * expression, with identical results.
  */
class CosineFusionSpec extends SparkSpec {
  import spark.implicits._

  // RDD-backed fixtures: over a local relation the optimizer evaluates
  // the kernels on the driver with interpreted `eval`, and the generated
  // code would never run
  private lazy val df = spark.sparkContext.parallelize(Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)),
    (2L, Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f)),
    (3L, Array(1.5f, -2.0f, 0.5f), Array(1.5f, -2.0f, 0.5f))
  ), 2).toDF("id", "a", "b")

  test("composed cosine is fused to graft_cosine in the optimized plan") {
    // parquet-backed input so ConvertToLocalRelation can't pre-evaluate
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val q = emb.select(
      VectorOps.cosine(col("embedding"), col("embedding")).as("cos"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_cosine"), s"not fused:\n$optimized")
  }

  test("fused and unfused results are identical") {
    val fused = df.select(col("id"), VectorOps.cosine(col("a"), col("b")).as("cos"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val native = df.select(col("id"), VectorOps.cosineNative(col("a"), col("b")).as("cos"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(fused === native)
    assert(fused(2L) === null) // zero-norm → NULL
    assert(math.abs(fused(3L).asInstanceOf[Double] - 1.0) < 1e-12)
  }

  test("native kernel matches composed semantics on null elements and length mismatch") {
    val weird = spark.sparkContext.parallelize(Seq(
      (1L, Array[java.lang.Float](1.0f, null, 3.0f), Array[java.lang.Float](1.0f, 2.0f, 3.0f)),
      (2L, Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](1.0f, 2.0f, 3.0f)),
      (3L, Array[java.lang.Float](1.0f, 2.0f, 3.0f), Array[java.lang.Float](1.0f, 2.0f, 3.0f))
    ), 2).toDF("id", "a", "b")
    val native = weird.select(col("id"), VectorOps.cosineNative(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val composed = weird.select(col("id"), VectorOps.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(native(1L) === null)
    assert(native(2L) === null)
    assert(native(3L) !== null)
    assert(native === composed)
  }

  test("non-matching shapes are left untouched") {
    // sum of cubes is not a norm — must not fuse
    val notCosine = df.select(
      (VectorOps.dot(col("a"), col("b")) /
        (sqrt(aggregate(transform(col("a"), _.cast("double")), lit(0.0),
          (acc, x) => acc + x * x * x)) * lit(1.0))).as("x"))
    val p = notCosine.queryExecution.optimizedPlan.toString
    assert(!p.contains("graft_cosine"), s"false positive fusion:\n$p")
    notCosine.collect() // still evaluates
  }
}
