package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorOps
import graft.sources.Tables

/** Similarity search over an embedding column (`ArrayType(FloatType)`).
  *
  * Two paths, matching the north-star contract:
  *  - [[bruteForceTopK]] — exact cosine top-k: one scan, codegen'd vector
  *    math, `TakeOrderedAndProject` (never a global sort). The right
  *    baseline and the verifier for the ANN path.
  *  - [[lshTopK]] — random-hyperplane LSH: each vector gets a sign-bit
  *    bucket; the query probes its own bucket plus all buckets at hamming
  *    distance 1 (multi-probe), then scores exactly within the probed
  *    buckets. At 100 TB the bucket column becomes the partition key, so a
  *    query touches `nbits+1` partitions instead of the whole corpus. An
  *    IVF variant is the same shape with learned centroids instead of
  *    random planes.
  */
object Similarity {

  /** deterministic random hyperplanes (seeded), dim × nbits */
  def hyperplanes(dim: Int, nbits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nbits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** sign-bit bucket id of a vector column against fixed hyperplanes */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val pc = array(p.map(lit): _*)
      when(VectorOps.dot(vec, pc) >= 0.0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Exact cosine top-k against a single query vector (broadcast as a
    * literal array — no shuffle at all, just scan + local top-k merge).
    */
  def bruteForceTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int): DataFrame = {
    val q = array(query.map(x => lit(x)): _*) // float literals: CosineSim input type
    val cos = Cols.fresh("cos", Seq(idCol))
    df.select(col(idCol), VectorOps.cosineNative(col(vecCol), q).as(cos))
      .orderBy(desc_nulls_last(cos), asc_nulls_first(idCol))
      .limit(k)
  }

  /** ANN top-k: prefilter to the buckets within `probeHamming` bit flips
    * of the query's LSH bucket (default 1 = own bucket ∪ hamming-1
    * multiprobe), exact-score inside. Recall measured against
    * [[bruteForceTopK]] in the spec suite. `probeHamming = nbits` probes
    * every bucket — the candidate set becomes the whole corpus and the
    * result is the EXACT top-k, which makes the full bucketing machinery
    * oracle-checkable (the ss2x gate, same trick as IVF's nprobe=nlist).
    */
  def lshTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int, nbits: Int = 4, dim: Int = 64,
      seed: Long = 42L, probeHamming: Int = 1): DataFrame = {
    val q = array(query.map(x => lit(x)): _*) // float literals: CosineSim input type
    val cos = Cols.fresh("cos", Seq(idCol))
    lshCandidates(df, vecCol, idCol, query, nbits, dim, seed, probeHamming)
      .select(col(idCol), VectorOps.cosineNative(col(vecCol), q).as(cos))
      .orderBy(desc_nulls_last(cos), asc_nulls_first(idCol))
      .limit(k)
  }

  /** Bucket-PARTITIONED on-disk LSH layout: the corpus written once with
    * its seed-`seed` LSH bucket as the parquet partition column, so a
    * probe prunes to the `probeHamming`-ball buckets AT THE FILE INDEX —
    * a query touches (Σ C(nbits,0..h))/2^nbits of the data and never
    * schedules tasks for the rest. This is the standing-pipeline
    * amortization shape: the build is one shuffle-free pass paid once per
    * corpus version (like any database index), after which every query
    * rides partition pruning; at 100 TB the same layout is "cluster the
    * table by bucket". The layout is keyed by a fingerprint of the source
    * files (length ^ mtime), so a changed corpus rebuilds and an
    * unchanged one is reused across sessions. Returns the layout path.
    *
    * `emb` is BY-NAME: the hit path (layout already on disk — every
    * warm execution) never resolves the source relation at all, so the
    * per-execution cost is one directory fingerprint walk instead of a
    * full partition-discovery + footer-schema pass over the corpus
    * (measured 55 ms/exec at sf0.1, pure constant — ss1b_parts, r17).
    */
  def ensureLshBucketLayout(emb: => DataFrame, vecCol: String,
      srcDir: String, nbits: Int = 4, dim: Int = 64,
      seed: Long = 42L): String = {
    def fp(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.map(fp).foldLeft(0L)(_ ^ _)).getOrElse(0L)
      else f.length ^ java.lang.Long.rotateLeft(f.lastModified, 21)
    val src = new java.io.File(srcDir, "embeddings.parquet")
    val key = java.lang.Long.toHexString(
      fp(src) ^ src.getAbsolutePath.hashCode.toLong ^ (nbits.toLong << 32) ^ seed)
    val path = s"${sys.props("java.io.tmpdir")}/graft_lsh_layout_$key"
    if (!new java.io.File(path, "_SUCCESS").exists()) {
      val planes = hyperplanes(dim, nbits, seed)
      emb.withColumn("bucket", lshBucket(col(vecCol), planes))
        // cluster the write: without the repartition every write task
        // emits one small file PER bucket (tasks x 2^nbits files), and a
        // probe pays scheduling for dozens of tiny splits; clustered, a
        // bucket is one contiguous file and a probe reads probe-count
        // files
        .repartition(1 << nbits, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(path)
    }
    path
  }

  /** The layout at `path` as a DataFrame whose RESOLVED relation (file
    * listing, partition discovery, parquet footer schema) is built once
    * per (session, path) and reused across executions — the LookupJoin
    * cache posture applied to the scan side. Per-execution
    * `Tables.parquet(spark, path)` re-derives the partition spec and
    * re-reads a footer on the driver every run, a fixed driver-side cost
    * that at the 1000× replica is pure scheduling-floor tax on a probe
    * that reads 5 buckets (measured: PROFILE ss1b_parts, r17). Safe
    * because layout paths are CONTENT-KEYED ([[ensureLshBucketLayout]]'s
    * fingerprint): a changed corpus gets a new path, so a cached entry
    * can never serve stale files. [[resetRelationCache]] is the
    * cold-bench hook, mirroring [[graft.operators.LookupJoin.reset]].
    */
  def layoutRelation(s: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    relationCache.computeIfAbsent((s, path), _ => Tables.parquet(s, path))

  private val relationCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), DataFrame]()

  /** Drop every cached layout relation (cold-bench / relayout hook). */
  def resetRelationCache(): Unit = relationCache.clear()

  /** The pruned candidate set [[lshTopK]] scores: rows of `df` whose
    * LSH bucket is within `probeHamming` bit flips of the query's.
    * Exposed so the registry's recall bookkeeping (ss2) can count and
    * score exactly the operator's scan set — the candidate membership is
    * a deterministic function of (data, seed), which is what lets a SQL
    * oracle replay it from the committed hyperplanes.
    */
  def lshCandidates(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], nbits: Int = 4, dim: Int = 64,
      seed: Long = 42L, probeHamming: Int = 1): DataFrame = {
    // nbits sizes the bucket fan-out: candidates ≈ corpus × (nbits+1)/2^nbits.
    // 4 bits (≈31% probed) suits 10²–10⁴ rows; at 10⁹+ rows use 16–20 bits
    // so a query probes a few thousandths of the corpus.
    val planes = hyperplanes(dim, nbits, seed)
    // query bucket computed driver-side (tiny, deterministic)
    val qBits = planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).map { case (a, b) => a * b.toDouble }.sum
      if (d >= 0.0) 1L << i else 0L
    }.sum
    // probes = qBits XOR every flip-mask of popcount ≤ probeHamming —
    // C(nbits,0..probeHamming) masks, built combinatorially so the cost is
    // the probe count itself, never a 2^nbits scan (at nbits=20,
    // probeHamming=1 that is 21 iterations, not 1M).
    def flipMasks(start: Int, k: Int): Seq[Long] =
      if (k == 0) Seq(0L)
      else (start to nbits - k).flatMap(i => flipMasks(i + 1, k - 1).map(_ | (1L << i)))
    val probes = (0 to math.min(probeHamming, nbits))
      .flatMap(k => flipMasks(0, k)).map(_ ^ qBits)
    val bkt = Cols.fresh("_bucket", df.columns)
    df.withColumn(bkt, lshBucket(col(vecCol), planes))
      .filter(col(bkt).isin(probes: _*))
      .select(col(idCol), col(vecCol))
  }

  /** IVF (inverted-file) coarse quantizer: k centroids trained by a few
    * Lloyd iterations, cosine metric. Init is deterministic (the k
    * lowest-id vectors); updates are distributed posexplode→avg, so
    * centroids can vary at the ULP level with partition merge order —
    * structural results (cell sizes, recall) are stable, exact membership
    * of boundary vectors is not guaranteed across runs. Only the k×dim
    * centroid table ever reaches the driver. At 100 TB this is the
    * standard ANN layout: partition/cluster the corpus by centroid id and
    * a query probes `nprobe` partitions.
    */
  def trainIvfCentroids(df: DataFrame, vecCol: String, idCol: String,
      k: Int = 16, iters: Int = 5): Array[Array[Float]] = {
    val src = df.select(col(idCol), col(vecCol)).cache()
    try {
      var centroids: Array[Array[Float]] = src
        .orderBy(col(idCol)).limit(k)
        .select(vecCol).collect()
        .map(_.getSeq[Float](0).toArray)
      for (_ <- 0 until iters) {
        val assigned = src.withColumn("_c", assignCentroid(col(vecCol), centroids))
        val updated = assigned
          .select(col("_c"), posexplode(col(vecCol)).as(Seq("_pos", "_v")))
          .groupBy("_c", "_pos")
          .agg(avg(col("_v")).as("_m"))
          .collect()
        val byCluster = updated.groupBy(_.getInt(0))
        centroids = centroids.indices.map { c =>
          byCluster.get(c) match {
            case Some(rows) =>
              rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toArray
            case None => centroids(c) // empty cluster keeps its centroid
          }
        }.toArray
      }
      centroids
    } finally src.unpersist()
  }

  /** index of the highest-cosine centroid for a vector column. Both the
    * input vector and the similarity array are let-bound (lambda-scoped)
    * so the expression tree holds ONE copy of each — without this the
    * vector expression is duplicated per centroid and the sims array
    * twice more by argmax, which multiplies analysis/codegen cost when
    * `vec` is itself a computed slice (measured 7.5 → 1.9 s on PQ
    * codebook training).
    */
  def assignCentroid(vec: Column, centroids: Array[Array[Float]]): Column =
    graft.functions.Kernels.letBind(vec) { v =>
      graft.functions.Kernels.letBind(array(centroids.map { c =>
        coalesce(VectorOps.cosineNative(v, array(c.map(lit): _*)), lit(-2.0))
      }: _*)) { sims =>
        (array_position(sims, array_max(sims)) - 1).cast("int")
      }
    }

  /** IVF ANN top-k: probe the `nprobe` centroids nearest the query, exact
    * cosine inside the probed cells only.
    */
  def ivfTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int, centroids: Array[Array[Float]],
      nprobe: Int = 4): DataFrame = {
    val q = array(query.map(lit): _*)
    val cosC = Cols.fresh("cos", Seq(idCol))
    ivfCandidates(df, vecCol, idCol, query, centroids, nprobe)
      .select(col(idCol), VectorOps.cosineNative(col(vecCol), q).as(cosC))
      .orderBy(desc_nulls_last(cosC), asc_nulls_first(idCol))
      .limit(k)
  }

  /** The probed cells' rows [[ivfTopK]] scores: rows of `df` assigned to
    * the `nprobe` centroids nearest the query. Exposed for the same
    * recall bookkeeping as [[lshCandidates]] — with a deterministic
    * quantizer (e.g. `trainIvfCentroids(iters = 0)`, the k lowest-id
    * vectors) the membership is a pure function of the data, so a SQL
    * oracle can replay it.
    */
  def ivfCandidates(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], centroids: Array[Array[Float]],
      nprobe: Int = 4): DataFrame = {
    // a malformed query must fail here, not silently mis-probe (the
    // executor-side kernel returns NULL on length mismatch)
    require(centroids.nonEmpty && centroids.forall(_.length == query.length),
      s"query dimension ${query.length} does not match centroid dimensions")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      val nn = math.sqrt(na) * math.sqrt(nb)
      if (nn == 0) -2.0 else dot / nn
    }
    val probes = centroids.indices
      .sortBy(c => -cos(centroids(c), query)).take(nprobe)
    val cc = Cols.fresh("_c", df.columns)
    df.withColumn(cc, assignCentroid(col(vecCol), centroids))
      .filter(col(cc).isin(probes: _*))
      .select(col(idCol), col(vecCol))
  }

  // ---- Product quantization (PQ) ----

  /** Train per-block PQ codebooks: the vector splits into `nBlocks`
    * contiguous sub-vectors, each with its own k-centroid codebook.
    * ALL blocks train simultaneously — each Lloyd iteration is ONE scan
    * of the data (per-row block codes, posexplode, one
    * (block, code, pos) aggregation), not nBlocks separate loops, so
    * the pass count is independent of nBlocks at 100 TB. Init is the k
    * lowest-id vectors' slices (deterministic, same as IVF). Only
    * nBlocks×k×subDim aggregated means reach the driver per iteration.
    */
  def trainPqCodebooks(df: DataFrame, vecCol: String, idCol: String,
      nBlocks: Int = 8, k: Int = 16, iters: Int = 4): Array[Array[Array[Float]]] = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    require(dim % nBlocks == 0, s"dim $dim not divisible into $nBlocks blocks")
    val sub = dim / nBlocks
    val src = df.select(col(idCol), col(vecCol)).cache()
    try {
      var books: Array[Array[Array[Float]]] = {
        val seeds = src.orderBy(col(idCol)).limit(k)
          .select(vecCol).collect().map(_.getSeq[Float](0).toArray)
        Array.tabulate(nBlocks)(b =>
          seeds.map(v => v.slice(b * sub, (b + 1) * sub)))
      }
      for (_ <- 0 until iters) {
        val codes = array((0 until nBlocks).map { b =>
          assignCentroid(slice(col(vecCol), b * sub + 1, sub), books(b))
        }: _*)
        val blk = expr(s"_pos div $sub").cast("int")
        val updated = src
          .select(codes.as("_codes"), posexplode(col(vecCol)).as(Seq("_pos", "_v")))
          .select(blk.as("_blk"),
            element_at(col("_codes"), blk + 1).as("_code"),
            pmod(col("_pos"), lit(sub)).as("_bpos"), col("_v"))
          .groupBy("_blk", "_code", "_bpos")
          .agg(avg(col("_v")).as("_m"))
          .collect()
        val byCell = updated.groupBy(r => (r.getInt(0), r.getInt(1)))
        books = Array.tabulate(nBlocks) { b =>
          Array.tabulate(k) { c =>
            byCell.get((b, c)) match {
              case Some(rows) =>
                rows.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat).toArray
              case None => books(b)(c) // empty cell keeps its centroid
            }
          }
        }
      }
      books
    } finally src.unpersist()
  }

  /** PQ-encode: per-block nearest-codebook-entry codes as one small int
    * array per row. At 100 TB this is the point of PQ — a 64-float
    * embedding (256 B) becomes nBlocks codes (8 B at 8×16): the index
    * fits in memory 32× over, and scans of the code column never touch
    * the original vectors.
    */
  def pqEncode(df: DataFrame, vecCol: String, idCol: String,
      codebooks: Array[Array[Array[Float]]],
      codesCol: String = "codes"): DataFrame = {
    val sub = codebooks(0)(0).length
    val codes = array(codebooks.zipWithIndex.map { case (cb, b) =>
      assignCentroid(slice(col(vecCol), b * sub + 1, sub), cb)
    }: _*)
    df.withColumn(codesCol, codes)
  }

  /** PQ ANN top-k by ADC (asymmetric distance computation): the query
    * precomputes, per block, the partial dot product and squared norm of
    * every codebook entry (nBlocks×k doubles, driver-side), and each
    * row's approximate cosine is then pure table lookups over its codes
    * — nBlocks adds and one sqrt, no vector math. The top `rerank`
    * candidates by ADC are exact-scored against the true vectors.
    *
    * `rerank` ≥ corpus size makes the output the EXACT top-k (ADC only
    * ordered a pool that is then exactly re-ranked) — the ss5 oracle
    * gate, same pattern as exhaustive LSH/IVF probing. Bounded `rerank`
    * is the operating point: recall depends on quantization coarseness
    * and is spec-gated, while precision of the final scores is always
    * exact (re-rank uses true vectors).
    */
  def pqTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int, codebooks: Array[Array[Array[Float]]],
      rerank: Int = 50): DataFrame = {
    val nBlocks = codebooks.length
    val kCodes = codebooks(0).length
    val sub = codebooks(0)(0).length
    require(query.length == nBlocks * sub,
      s"query dim ${query.length} != $nBlocks blocks × $sub")
    // per-(block, code) partial dot with the query and partial ‖c‖² —
    // flattened to literal arrays indexed b*kCodes + code
    val dots = codebooks.zipWithIndex.flatMap { case (cb, b) =>
      cb.map(c => (0 until sub).map(i => c(i).toDouble * query(b * sub + i)).sum)
    }
    val norms2 = codebooks.flatMap(_.map(_.map(x => x.toDouble * x).sum))
    val qNorm = math.sqrt(query.map(x => x.toDouble * x).sum)
    val dotLit = array(dots.map(lit).toIndexedSeq: _*)
    val n2Lit = array(norms2.map(lit).toIndexedSeq: _*)
    val Seq(adcC, cosC, codesC) = Cols.fresh(Seq("_adc", "cos", "_codes"), df.columns)
    val blocks = sequence(lit(0), lit(nBlocks - 1))
    def lookup(tbl: Column, b: Column): Column =
      element_at(tbl, (b * kCodes + element_at(col(codesC), b + 1) + 1).cast("int"))
    val dotSum = aggregate(blocks, lit(0.0), (acc, b) => acc + lookup(dotLit, b))
    val n2Sum = aggregate(blocks, lit(0.0), (acc, b) => acc + lookup(n2Lit, b))
    val adc = when(lit(qNorm) === 0.0 || n2Sum === 0.0, lit(-2.0))
      .otherwise(dotSum / (lit(qNorm) * sqrt(n2Sum)))
    val q = array(query.map(lit): _*)
    pqEncode(df, vecCol, idCol, codebooks, codesC)
      .withColumn(adcC, adc)
      .orderBy(desc_nulls_last(adcC), asc_nulls_first(idCol))
      .limit(rerank) // TakeOrderedAndProject — the ADC candidate pool
      .select(col(idCol), VectorOps.cosineNative(col(vecCol), q).as(cosC))
      .orderBy(desc_nulls_last(cosC), asc_nulls_first(idCol))
      .limit(k)
  }

  /** kNN join: every query vector's k nearest corpus neighbors by cosine
    * (score rounded to 6 decimals, ties broken by neighbor id — a total
    * order, so the result is engine-deterministic). Exact form: the query
    * side broadcasts into the corpus scan (corpus never shuffles for the
    * join) and a bounded mergeable top-k aggregator
    * ([[graft.functions.Aggregators.TopKByScore]]) does map-side partial
    * top-k, so the one shuffle carries ≤ k rows per (scan partition ×
    * query) — never the scored cross product. Scale: cost is
    * |queries|·|corpus| scoring but fixed shuffle; for corpus-×-corpus
    * kNN restrict candidates first (LSH/IVF buckets, as in
    * [[cosinePairsBandedLsh]]), then rank the same way.
    */
  def knnJoinExact(queries: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, k: Int): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("qid"), col(vecCol).as("qvec")))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
    val scored = c.crossJoin(q)
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(VectorOps.cosineNative(col("qvec"), col("nvec")), 6).as("cos"))
      .filter(col("cos").isNotNull)
    val topk = udaf(new graft.functions.Aggregators.TopKByScore(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    scored.groupBy("qid")
      .agg(topk(col("cos"), col("nid")).as("nn"))
      .select(col("qid"), posexplode(col("nn")).as(Seq("rk0", "sn")))
      .select(col("qid"), (col("rk0") + 1).cast(LongType).as("rk"),
        col("sn._2").as("nid"), col("sn._1").as("cos"))
  }

  /** All pairs with cosine ≥ threshold — embedding near-dup detection.
    * Exact O(n²) form for oracle checking; the scale path buckets by LSH
    * first (same as [[lshTopK]]) so the join key is the bucket, not a
    * cross product.
    */
  def cosinePairs(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("ida"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("idb"), col(vecCol).as("vb"))
    a.crossJoin(b).filter(col("ida") < col("idb"))
      .withColumn("cos", VectorOps.cosineNative(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("ida", "idb")
  }

  /** Scale path for [[cosinePairs]]: candidates restricted to equal LSH
    * buckets (optionally with hamming-1 multiprobe), then exact-scored.
    */
  def cosinePairsLsh(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, nbits: Int = 8, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, nbits, seed)
    val bkt = Cols.fresh("_bucket", df.columns)
    val withB = df.withColumn(bkt, lshBucket(col(vecCol), planes))
    val a = withB.select(col(bkt), col(idCol).as("ida"), col(vecCol).as("va"))
    val b = withB.select(col(bkt), col(idCol).as("idb"), col(vecCol).as("vb"))
    a.join(b, Seq(bkt)).filter(col("ida") < col("idb"))
      .withColumn("cos", VectorOps.cosineNative(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("ida", "idb").distinct()
  }

  /** Banded multi-table LSH pair search — the gated scale path for
    * embedding near-dup detection. A single sign-LSH table only works for
    * tight thresholds (cosine ≳ 0.9, small angle); at moderate thresholds
    * the per-bit collision probability p = 1 − θ/π is far from 1 and a
    * b-bit bucket misses most true pairs. The fix is the same band trick
    * as MinHash-LSH (`Dedup.minHashDedup`): `nTables` independent tables
    * of `bandBits` bits each — a pair is a candidate if it collides in ANY
    * table, so miss probability is (1 − p^bandBits)^nTables, driven to ~0
    * by adding tables. Candidates are then exact-scored, so false
    * positives cost time, never correctness.
    *
    * Plan shape: one posexplode (corpus × nTables rows), one shuffle on
    * (table, bucket), bucket-local pair join, exact verify — no cartesian
    * node anywhere. At 100 TB, tighten `bandBits` (deeper buckets) and
    * keep `nTables` to hold the recall target; the table column is part of
    * the shuffle key so tables parallelize, not multiply a driver loop.
    */
  def cosinePairsBandedLsh(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, bandBits: Int = 3, nTables: Int = 40,
      dim: Int = 64, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, bandBits * nTables, seed)
    // per-table bucket ids as one array column, exploded to (tbl, bkt)
    val buckets = array((0 until nTables).map { tIdx =>
      lshBucket(col(vecCol), planes.slice(tIdx * bandBits, (tIdx + 1) * bandBits))
    }: _*)
    val Seq(tbl, bkt) = Cols.fresh(Seq("_tbl", "_bkt"), Seq(idCol, vecCol))
    val keyed = df
      .select(col(idCol), col(vecCol), posexplode(buckets).as(Seq(tbl, bkt)))
    val a = keyed.select(col(tbl), col(bkt),
      col(idCol).as("ida"), col(vecCol).as("va"))
    val b = keyed.select(col(tbl), col(bkt),
      col(idCol).as("idb"), col(vecCol).as("vb"))
    a.join(b, Seq(tbl, bkt)).filter(col("ida") < col("idb"))
      .select("ida", "idb", "va", "vb").distinct() // dedup across tables BEFORE scoring
      .withColumn("cos", VectorOps.cosineNative(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("ida", "idb")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * clustering embeddings and keeping, within each cluster, only rows
    * with no higher-priority near-duplicate. A row is DROPPED iff some
    * same-cluster row with a smaller `idCol` value has cosine ≥ `tau`
    * with it; survivors keep all original columns. (This is the
    * priority-greedy retention rule — deterministic and locally checkable
    * per row, unlike keep-one-per-connected-component which is
    * [[graft.operators.Dedup.connectedComponents]]'s job.)
    *
    * `cluster` is any deterministic assignment expression: sign-bucket
    * projections for an oracle-checkable variant, or
    * [[assignCentroid]] over [[trainIvfCentroids]] for the paper's
    * k-means form (spec-verified against the brute-force rule). The
    * candidate scope is one equi-join on the cluster key — per-cluster
    * pairwise work bounded by cluster size, never corpus × corpus. At
    * 100 TB: grow k (more, smaller clusters) to bound the per-cluster
    * quadratic term; the join shuffles on the cluster key so clusters
    * parallelize across executors.
    */
  def semDedup(df: DataFrame, vecCol: String, idCol: String,
      cluster: Column, tau: Double): DataFrame = {
    val Seq(c, cb, idb, vb) =
      Cols.fresh(Seq("_cluster", "_cluster_b", "_id_b", "_vec_b"), df.columns)
    val withC = df.withColumn(c, cluster)
    val probe = withC.select(col(c).as(cb), col(idCol).as(idb), col(vecCol).as(vb))
    withC.join(probe,
        col(c) === col(cb) && col(idb) < col(idCol) &&
          VectorOps.cosineNative(col(vecCol), col(vb)) >= lit(tau),
        "left_anti")
      .drop(c)
  }

  /** Incremental [[semDedup]]: dedup a NEW batch against an existing
    * corpus (standing-pipeline ingestion). A batch row survives iff it
    * has (1) no same-cluster corpus neighbor at cosine ≥ `tau` — corpus
    * rows always outrank the batch — and (2) no same-cluster LOWER-id
    * batch neighbor at cosine ≥ `tau`. Equals `semDedup(corpus ∪ batch)`
    * restricted to the batch whenever corpus ids order below batch ids,
    * because the retention rule checks against all rows, not survivors.
    *
    * Scale posture is dd10's: the batch probes the corpus through one
    * cluster-key equi-join (anti-join, so nothing materializes past the
    * first match) — corpus × corpus never forms, and the corpus side
    * ships only (cluster, vector) probe columns.
    */
  def semDedupIncremental(batch: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, cluster: Column, tau: Double): DataFrame = {
    val Seq(c, cb, idb, vb) =
      Cols.fresh(Seq("_cluster", "_cluster_b", "_id_b", "_vec_b"), batch.columns)
    val bc = batch.withColumn(c, cluster)
    val corpusProbe = corpus.select(cluster.as(cb), col(vecCol).as(vb))
    val afterCorpus = bc.join(corpusProbe,
        col(c) === col(cb) &&
          VectorOps.cosineNative(col(vecCol), col(vb)) >= lit(tau),
        "left_anti")
    // intra-batch probe is the FULL batch (not corpus survivors): the
    // greedy rule is defined against all rows, which is what keeps it
    // equal to semDedup on the union (and locally checkable per row)
    val batchProbe = bc.select(col(c).as(cb), col(idCol).as(idb), col(vecCol).as(vb))
    afterCorpus.join(batchProbe,
        col(c) === col(cb) && col(idb) < col(idCol) &&
          VectorOps.cosineNative(col(vecCol), col(vb)) >= lit(tau),
        "left_anti")
      .drop(c)
  }

  /** Deterministic coordinate-sign cluster id over the first `bits`
    * vector components — the SQL-expressible clustering used by the
    * oracle-checked semDedup query (`element_at` is 1-based, matching
    * DuckDB's list indexing).
    */
  def signCluster(vec: Column, bits: Int): Column =
    (0 until bits).map { i =>
      when(element_at(vec, i + 1) >= 0f, 1L << (bits - 1 - i)).otherwise(0L)
    }.reduce(_ + _)
}
