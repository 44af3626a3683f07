package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.Tables

/** Specs for the hash-specific operators that have no SQL oracle
  * (SimHash, LSH ANN, rolling hashes, frame sampling), plus edge cases.
  */
class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf, "documents")
  private lazy val emb = Tables.load(spark, sf, "embeddings")

  test("simhash: identical texts collide, perturbed texts stay close") {
    val fixture = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox leaps over the lazy dog again and again"),
      (4L, "completely different content about spark query engines at scale")
    ).toDF("doc_id", "text")
    val sigs = Dedup.simHash(fixture, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(3L)) <= 16)
    assert(hamming(sigs(1L), sigs(4L)) > hamming(sigs(1L), sigs(3L)))
    val pairs = Dedup.simHashPairs(Dedup.simHash(fixture, "doc_id", "text"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("dd2 small-corpus fast path == checkpointed fallback (pair sets)") {
    // r18: minHashDedup gates between a one-action pair-join verify
    // (small corpora) and the checkpointed semi-join verify (scale
    // fallback) — the two shapes must produce the identical pair set.
    // Forcing the corpus-size gate to 0 exercises the fallback on the
    // same input the fast path serves by default.
    def pairs() = Dedup.minHashDedup(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = pairs()
    spark.conf.set("spark.graft.dedup.smallCorpusBytes", "0")
    try {
      val fallback = pairs()
      assert(fast.nonEmpty)
      assert(fast === fallback)
    } finally spark.conf.unset("spark.graft.dedup.smallCorpusBytes")
  }

  test("simHashDedup == minHashDedup on the corpus (dd3's recall-1 gate)") {
    // both pipelines end in the same exact shingle-Jaccard verify, so
    // equality holds iff simhash chunk blocking reaches every true pair.
    // Blocking recall is GUARANTEED for hamming ≤ 15 (pigeonhole, 16
    // chunks); the margin assertion below keeps the guarantee honest if
    // the corpus drifts.
    val truePairs = Dedup.minHashDedup(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val simPairs = Dedup.simHashDedup(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(simPairs === truePairs,
      s"missed: ${truePairs -- simPairs}, spurious: ${simPairs -- truePairs}")
    // margin: every true pair within the guaranteed hamming radius
    val sigs = Dedup.simHash(docs, "doc_id", "text")
    val maxHam = Dedup.minHashDedup(docs, "doc_id", "text")
      .join(sigs.select(col("id").as("ida"), col("simhash").as("sa")), "ida")
      .join(sigs.select(col("id").as("idb"), col("simhash").as("sb")), "idb")
      .select(bit_count(col("sa").bitwiseXOR(col("sb"))).as("h"))
      .agg(max("h")).head().getInt(0)
    assert(maxHam <= 15, s"true-pair simhash hamming $maxHam exceeds the " +
      "guaranteed blocking radius 15 — dd3's oracle equality is at risk")
  }

  test("documents corpus is pure ASCII (mm2/mm4 oracle precondition)") {
    // the mm2/mm4 DuckDB oracles replay byte kernels via codepoints,
    // which is only sound when every byte IS a codepoint
    val nonAscii = docs
      .filter(octet_length(col("text")) =!= length(col("text"))).count()
    assert(nonAscii === 0L,
      "documents.text contains multi-byte characters; mm2/mm4 oracles unsound")
  }

  test("minhash-LSH finds exact and near duplicates") {
    // long enough that a single-word edit keeps word-3-shingle j ≥ 0.8
    val base = "spark shuffles partition data across executors while catalyst " +
      "optimizes logical plans into efficient physical operators for scans " +
      "and the runtime adapts partition counts joins and skew handling from " +
      "observed statistics so large tables flow through narrow stages quickly"
    val fixture = Seq(
      (1L, base), (2L, base),
      (3L, base.replace("efficient", "optimal")),
      (4L, "unrelated text with entirely different character content xyz")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minHashDedup(fixture, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash fan-out survives passenger columns named with a dot " +
      "or a backtick") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val fixture = Seq((1L, text, "a", 1L), (2L, text, "b", 2L),
      (3L, "an unrelated document about medieval castle walls", "c", 3L))
      .toDF("doc_id", "text", "src.path", "odd`name")
    assert(Dedup.minHashBands(fixture, "doc_id", "text").count() === 3L * 32)
    assert(Dedup.minHashDedup(fixture, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L)))
  }

  test("dropNearDuplicates keeps one representative per cluster") {
    val base = "spark shuffles partition data across executors while catalyst " +
      "optimizes logical plans into efficient physical operators for scans " +
      "and the runtime adapts partition counts joins and skew handling from " +
      "observed statistics so large tables flow through narrow stages quickly"
    val fixture = Seq(
      (1L, base), (2L, base), (3L, base.replace("efficient", "optimal")),
      (4L, "entirely different content about cooking recipes and gardens"),
      (5L, "another unrelated document on medieval castle architecture")
    ).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(fixture, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // cluster {1,2,3} keeps min id 1; singletons 4 and 5 survive
    assert(kept === Set(1L, 4L, 5L))
  }

  test("incremental dedup == full-pipeline pairs touching the batch") {
    // probing the corpus index with only the batch's bands must find
    // exactly the pairs the full (corpus ∪ batch) pipeline finds that
    // involve ≥1 batch doc — and none of the corpus-internal ones
    val corpus = docs.select(col("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val inc = Dedup.incrementalNearDups(corpus, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minHashDedup(corpus.unionByName(batch), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc === full.filter { case (_, b) => b >= 1000000L })
    assert(inc.nonEmpty)
    assert(inc.forall { case (_, b) => b >= 1000000L },
      "incremental output contains a corpus-internal pair")
  }

  test("connectedComponents labels chains transitively") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("ida", "idb")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("logStar CC == label propagation on the corpus near-dup pairs") {
    val pairs = Dedup.minHashDedup(docs, "doc_id", "text")
    val viaProp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStar = Dedup.connectedComponentsLogStar(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar === viaProp)
    assert(viaStar.nonEmpty)
  }

  test("logStar CC: 1000-node chain converges in O(log n) rounds") {
    // the case label propagation CANNOT handle: a re-crawl chain of
    // diameter 999 costs it 999 rounds (its maxIter=50 would throw);
    // star contraction must label it in ~log2(1000) rounds
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("ida", "idb")
    val (labels, rounds) = Dedup.ccLogStar(chain, maxIter = 30)
    assert(rounds <= 15, s"expected O(log n) rounds, used $rounds")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 1000)
    assert(got.values.forall(_ == 0L))
  }

  test("incrementalComponents: directed merge cases") {
    val labels = Seq((1L, 1L), (2L, 1L), (7L, 7L), (9L, 7L)).toDF("id", "cluster")
    // a NEW node with a smaller id joins an existing cluster: the whole
    // cluster must relabel to the new minimum
    val got1 = Dedup.incrementalComponents(
      labels, Seq((3L, 9L)).toDF("ida", "idb"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got1 === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 7L -> 3L, 9L -> 3L))
    // a new pair BRIDGING two existing clusters: both merge to the min
    val got2 = Dedup.incrementalComponents(
      labels, Seq((2L, 7L)).toDF("ida", "idb"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 === Map(1L -> 1L, 2L -> 1L, 7L -> 1L, 9L -> 1L))
  }

  test("incrementalComponents == full re-clustering on the corpus") {
    val corpus = docs.select(col("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val labels = Dedup.connectedComponentsLogStar(
      Dedup.minHashDedup(corpus, "doc_id", "text"))
    val newPairs = Dedup.incrementalNearDups(corpus, batch, "doc_id", "text")
      .unionByName(Dedup.minHashDedup(batch, "doc_id", "text"))
    val inc = Dedup.incrementalComponents(labels, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(
      Dedup.minHashDedup(corpus.unionByName(batch), "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === full)
    assert(inc.exists { case (id, c) => id >= 1000000L && c < 1000000L },
      "fixture should merge at least one batch doc into a corpus cluster")
  }

  test("logStar CC == label propagation on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 200 + trial * 100
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .toDF("ida", "idb")
      val viaProp = Dedup.connectedComponents(pairs = edges, maxIter = 200)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaStar = Dedup.connectedComponentsLogStar(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStar === viaProp, s"trial $trial diverged")
    }
  }

  test("ANN LSH top-k: structural invariants + recall vs brute force") {
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val rest = emb.filter(col("vec_id") =!= 0)
    val exact = Similarity.bruteForceTopK(rest, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSet
    val ann = Similarity.lshTopK(rest, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0))
    assert(ann.length >= 5 && ann.length <= 10)
    assert(ann.distinct.length === ann.length)
    // probing 5 of 16 buckets (~31% of the corpus) must retain a
    // reasonable share of the true top-10
    assert(ann.toSet.intersect(exact).size >= 3,
      s"recall too low: ${ann.toSet.intersect(exact)}")
    // probing ALL buckets is exact — ss2x's gate, checked here against
    // the brute-force path on the same query
    val exhaustive = Similarity.lshTopK(rest, "embedding", "vec_id", query, 10,
      probeHamming = 4).collect().map(_.getLong(0)).toSeq
    val exactOrdered = Similarity.bruteForceTopK(rest, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(exhaustive === exactOrdered)
  }

  test("IVF ANN: trained centroids, probed cells, reasonable recall") {
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val rest = emb.filter(col("vec_id") =!= 0)
    val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8, iters = 3)
    assert(centroids.length === 8)
    assert(centroids.forall(_.length === 64))
    val exact = Similarity.bruteForceTopK(rest, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(rest, "embedding", "vec_id", query, 10, centroids, nprobe = 3)
      .collect().map(_.getLong(0))
    assert(ivf.length === 10)
    assert(ivf.distinct.length === 10)
    // probing 3 of 8 cells must keep a reasonable share of the true top-10
    assert(ivf.toSet.intersect(exact).size >= 3,
      s"IVF recall too low: ${ivf.toSet.intersect(exact)}")
  }

  test("semDedup with IVF clusters == brute-force retention rule") {
    // the paper's k-means form has no SQL oracle (centroid training is
    // not SQL-expressible); verify the operator against a driver-side
    // replay of the rule — drop iff a same-cluster lower-id neighbor has
    // cosine >= tau — on the real corpus
    val tau = 0.35
    val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8, iters = 3)
    val clusterExpr = Similarity.assignCentroid(col("embedding"), centroids)
    val got = Similarity.semDedup(emb, "embedding", "vec_id", clusterExpr, tau)
      .select("vec_id").collect().map(_.getLong(0)).toSet

    val rows = emb.select(col("vec_id"), col("embedding"), clusterExpr.as("c"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = rows.filter { case (id, v, c) =>
      !rows.exists { case (id2, v2, c2) => c2 == c && id2 < id && cos(v2, v) >= tau }
    }.map(_._1).toSet
    assert(want.nonEmpty && want.size < rows.length,
      s"degenerate fixture: ${want.size} of ${rows.length} survive")
    assert(got === want)
  }

  test("length-banded edit distance finds pairs across band boundaries") {
    // maxDist=3 → band width 4; lengths 7 and 9 sit in bands 1 and 2 —
    // the adjacent-band probe must still surface the pair
    val fixture = Seq(
      (1L, "aaaaaaa"),      // len 7, band 1
      (2L, "aaaaaaabb"),    // len 9, band 2, dist 2 — MUST be found
      (3L, "aaaaaaab"),     // len 8, band 2, dist 1 to #1, 1 to #2
      (4L, "zzzzzzzzzzzzzzzz") // far away
    ).toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(fixture, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("banded-LSH cosine pairs == exact all-pairs (recall 1 on corpus)") {
    // dd5's gate: the banded LSH candidate join followed by exact scoring
    // must reproduce the crossJoin verifier pair-for-pair on the real
    // embeddings — this is the recall-1 argument that lets the O(n²) form
    // retire to spec-side duty
    val exact = Similarity.cosinePairs(emb, "embedding", "vec_id", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Similarity.cosinePairsBandedLsh(emb, "embedding", "vec_id", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded === exact,
      s"missed: ${exact -- banded}, spurious: ${banded -- exact}")
    // and the plan must be the bucketed equi-join, never a cartesian
    val plan = Similarity.cosinePairsBandedLsh(emb, "embedding", "vec_id", 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("IVF recall@10 >= 0.9 on the real corpus at the gated nprobe") {
    // the embeddings table has NO tight neighbors (max cosine ~0.5) —
    // the worst regime for ANN pruning — so the gate runs where ss3
    // runs: k=8 cells, nprobe=6. Measured curve in README.
    val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8, iters = 3)
    val recalls = Seq(0L, 7L, 42L, 99L, 123L).map { id =>
      val q = emb.filter(col("vec_id") === id)
        .select("embedding").head().getSeq[Float](0).toArray
      val rest = emb.filter(col("vec_id") =!= id)
      val exact = Similarity.bruteForceTopK(rest, "embedding", "vec_id", q, 10)
        .collect().map(_.getLong(0)).toSet
      val ivf = Similarity.ivfTopK(rest, "embedding", "vec_id", q, 10, centroids, nprobe = 6)
        .collect().map(_.getLong(0)).toSet
      ivf.intersect(exact).size / 10.0
    }
    assert(recalls.forall(_ >= 0.9), s"recalls: $recalls")
  }

  test("IVF+PQ pipeline: trained quantizers, bounded rerank, recall holds") {
    // the composed ss7 path with TRAINED (Lloyd) quantizers — the
    // operating point the oracle can't hash-gate (ULP-order-dependent
    // centroids); gate recall here like the IVF/LSH trained gates
    val centroids = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8, iters = 3)
    // the committed operating point (round 14): 16 blocks of 4 dims —
    // the recall-audit min-path — with rerank 100
    val books = Similarity.trainPqCodebooks(emb, "embedding", "vec_id",
      nBlocks = 16, iters = 2)
    val recalls = Seq(0L, 42L, 123L).map { id =>
      val q = emb.filter(col("vec_id") === id)
        .select("embedding").head().getSeq[Float](0).toArray
      val rest = emb.filter(col("vec_id") =!= id)
      val exact = Similarity.bruteForceTopK(rest, "embedding", "vec_id", q, 10)
        .collect().map(_.getLong(0)).toSet
      val cand = Similarity.ivfCandidates(rest, "embedding", "vec_id", q,
        centroids, nprobe = 6)
      // candidate set must actually prune (nprobe=6 of 8 cells)
      assert(cand.count() < rest.count())
      val got = Similarity.pqTopK(cand, "embedding", "vec_id", q, 10, books,
          rerank = 100)
        .collect().map(_.getLong(0)).toSet
      got.intersect(exact).size / 10.0
    }
    // ADC over 16x16 codebooks + rerank 100 recovers what IVF pruning
    // kept (this corpus has NO tight neighbors — the hardest ADC regime)
    assert(recalls.forall(_ >= 0.8), s"recalls: $recalls")
  }

  test("LSH recall@10 >= 0.9 across seeds in its design regime") {
    // LSH buckets pay off when neighbors are tight (cosine >= ~0.9) —
    // plant 10 neighbors at cosine ~0.98 around each of 3 query points
    // in a random corpus and require recall across 3 hyperplane seeds
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    def perturb(b: Array[Float]): Array[Float] = {
      val scale = (0.15 * math.sqrt(b.map(x => x.toDouble * x).sum) / 8.0).toFloat
      b.map(x => x + scale * rnd.nextGaussian().toFloat)
    }
    val bases = Seq.fill(3)(vec())
    val noise = (0 until 200).map(i => (1000L + i, vec()))
    val planted = bases.zipWithIndex.flatMap { case (b, qi) =>
      (0 until 10).map(j => (qi * 100L + j, perturb(b)))
    }
    val corpus = (noise ++ planted).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    for (seed <- Seq(42L, 1L, 2L)) {
      val recalls = bases.zipWithIndex.map { case (b, qi) =>
        val exact = Similarity.bruteForceTopK(corpus, "embedding", "vec_id", b, 10)
          .collect().map(_.getLong(0)).toSet
        val ann = Similarity.lshTopK(corpus, "embedding", "vec_id", b, 10, seed = seed)
          .collect().map(_.getLong(0)).toSet
        ann.intersect(exact).size / 10.0
      }
      assert(recalls.sum / recalls.size >= 0.9, s"seed=$seed recalls: $recalls")
    }
  }

  test("PQ: codes in range, exhaustive re-rank exact, planted recall") {
    // shape invariants on the real corpus
    val codebooks = Similarity.trainPqCodebooks(emb, "embedding", "vec_id")
    assert(codebooks.length === 8)
    assert(codebooks.forall(_.length === 16))
    assert(codebooks.forall(_.forall(_.length === 8)))
    val enc = Similarity.pqEncode(emb, "embedding", "vec_id", codebooks)
    val codeStats = enc.select(
      min(array_min(col("codes"))), max(array_max(col("codes"))),
      min(size(col("codes")))).head()
    assert(codeStats.getInt(0) >= 0 && codeStats.getInt(1) <= 15)
    assert(codeStats.getInt(2) === 8)
    // exhaustive re-rank == brute force (the ss5 gate, checked locally)
    val q0 = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val rest = emb.filter(col("vec_id") =!= 0)
    val exact = Similarity.bruteForceTopK(rest, "embedding", "vec_id", q0, 10)
      .collect().map(_.getLong(0)).toSeq
    val pqAll = Similarity.pqTopK(rest, "embedding", "vec_id", q0, 10,
      codebooks, rerank = rest.count().toInt)
      .collect().map(_.getLong(0)).toSeq
    assert(pqAll === exact)
    // bounded re-rank in PQ's design regime: planted cosine-0.98
    // neighbors quantize near their base, so a 50-candidate ADC pool
    // must recover most of the true top-10
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = Seq.fill(3)(vec())
    def perturb(b: Array[Float]): Array[Float] = {
      val scale = (0.15 * math.sqrt(b.map(x => x.toDouble * x).sum) / 8.0).toFloat
      b.map(x => x + scale * rnd.nextGaussian().toFloat)
    }
    import spark.implicits._
    val corpus = ((0 until 200).map(i => (1000L + i, vec())) ++
      bases.zipWithIndex.flatMap { case (b, qi) =>
        (0 until 10).map(j => (qi * 100L + j, perturb(b)))
      }).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val cb2 = Similarity.trainPqCodebooks(corpus, "embedding", "vec_id")
    val recalls = bases.map { b =>
      val ex = Similarity.bruteForceTopK(corpus, "embedding", "vec_id", b, 10)
        .collect().map(_.getLong(0)).toSet
      val pq = Similarity.pqTopK(corpus, "embedding", "vec_id", b, 10, cb2, rerank = 50)
        .collect().map(_.getLong(0)).toSet
      pq.intersect(ex).size / 10.0
    }
    assert(recalls.sum / recalls.size >= 0.8, s"PQ recalls: $recalls")
  }

  test("rolling hash is deterministic and order-sensitive") {
    val r = Seq((1L, "abc"), (2L, "abc"), (3L, "acb"), (4L, ""))
      .toDF("id", "t")
      .select(col("id"), TextAnalysis.rollingHash(col("t")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r(1L) === r(2L))
    assert(r(1L) !== r(3L))
    assert(r(4L) === 0L)
    // h("abc") = ('a'*31 + 'b')*31 + 'c'
    assert(r(1L) === (('a'.toLong * 31 + 'b'.toLong) * 31 + 'c'.toLong))
  }

  test("token counts handle whitespace edge cases") {
    val r = Seq((1L, ""), (2L, "   "), (3L, "a"), (4L, " a  b\t c \n"))
      .toDF("id", "t")
      .select(col("id"), TextAnalysis.tokenCount(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 3L))
  }

  test("fingerprint is whitespace/case normalized") {
    val r = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, " hello\tworld "))
      .toDF("id", "t")
      .select(TextAnalysis.fingerprint(col("t")).as("fp"))
      .collect().map(_.getString(0))
    assert(r.distinct.length === 1)
  }

  test("frame sampling emits every 2nd fixed-size frame") {
    val payload = ("x" * 300).getBytes("UTF-8") // 4 full 64B frames → idx 0, 2
    val df = Seq((7L, payload)).toDF("doc_id", "payload")
    val frames = Multimodal.sampleFrames(df, "doc_id", "payload").collect()
    assert(frames.map(_.getLong(1)).toSeq.sorted === Seq(0L, 2L))
    assert(frames.forall(_.getLong(0) === 7L))
  }

  test("resize planning fits the longest side and preserves aspect") {
    val meta = Seq((1L, 0L, 448L, 224L, 3L, "jpeg"), (2L, 0L, 100L, 400L, 3L, "png"))
      .toDF("doc_id", "n_bytes", "width", "height", "channels", "format")
    val r = Multimodal.resizeMeta(meta).collect()
      .map(x => x.getLong(0) -> (x.getLong(3), x.getLong(4), x.getLong(6))).toMap
    assert(r(1L) === ((224L, 112L, 224L * 112L * 3L))) // landscape: w pinned
    assert(r(2L) === ((56L, 224L, 56L * 224L * 3L)))   // portrait: h pinned
  }

  test("audio features: energy/peak/zero-crossings over centered bytes") {
    // bytes 128±v: [130, 126, 130, 128] → v = [2, -2, 2, 0]
    val payload = Array[Byte](130.toByte, 126.toByte, 130.toByte, 128.toByte)
    val df = Seq((5L, payload)).toDF("doc_id", "payload")
    val row = Multimodal.audioFeatures(df, "doc_id", "payload").head()
    assert(row.getLong(1) === 4L)  // n_samples
    assert(row.getLong(2) === 12L) // 4 + 4 + 4 + 0
    assert(row.getLong(3) === 2L)  // peak |v|
    assert(row.getLong(4) === 2L)  // sign flips: +→-, -→+ (trailing 0 ignored)
  }

  test("image header parser recovers dims from REAL ImageIO-encoded files") {
    // independent encoder: the JDK's own codecs (javax.imageio) write
    // genuine PNG/JPEG/GIF files at known dims; the parser must recover
    // width/height/format by parsing actual headers it did not write
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    def encoded(fmt: String, w: Int, h: Int, imgType: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, imgType)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff)))
      val bos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, bos), s"JDK cannot encode $fmt")
      bos.toByteArray
    }
    val cases = Seq(
      ("png", 320, 200, BufferedImage.TYPE_INT_RGB, 3L),
      ("png", 17, 513, BufferedImage.TYPE_INT_ARGB, 4L),
      ("jpg", 640, 480, BufferedImage.TYPE_INT_RGB, 3L),
      ("jpg", 99, 1, BufferedImage.TYPE_BYTE_GRAY, 1L),
      ("gif", 256, 128, BufferedImage.TYPE_INT_RGB, 3L))
    cases.zipWithIndex.foreach { case ((fmt, w, h, t, ch), i) =>
      val Some((pw, ph, pc, pf)) = Multimodal.parseImageHeader(encoded(fmt, w, h, t))
      assert((pw, ph) === ((w.toLong, h.toLong)), s"case $i ($fmt) dims")
      assert(pf === (if (fmt == "jpg") "jpeg" else fmt), s"case $i format")
      assert(pc === ch, s"case $i ($fmt $w x $h) channels")
    }
    // and through the distributed operator, same answers
    val df = cases.zipWithIndex.map { case ((fmt, w, h, t, _), i) =>
      (i.toLong, encoded(fmt, w, h, t)) }.toDF("doc_id", "payload")
    val out = Multimodal.decodeImageMeta(df, "doc_id", "payload").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    cases.zipWithIndex.foreach { case ((_, w, h, _, _), i) =>
      assert(out(i.toLong) === ((w.toLong, h.toLong)))
    }
  }

  test("image header parser: non-images and truncated headers are NULL-dim rows, not errors") {
    val junk = Seq(
      1L -> "just some text bytes".getBytes("UTF-8"),
      2L -> Array[Byte](0x89.toByte, 'P', 'N', 'G'), // truncated PNG sig
      3L -> Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xd9.toByte), // SOI+EOI, no SOF
      4L -> Array.emptyByteArray)
    val out = Multimodal.decodeImageMeta(junk.toDF("doc_id", "payload"),
      "doc_id", "payload").collect()
    assert(out.length === 4)
    out.foreach { r =>
      assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
      assert(r.getString(5) === "unknown")
      assert(r.getLong(1) >= 0L) // byte count always present
    }
  }

  test("planted payloads carry real headers the parser round-trips (mm1 shape)") {
    val docs3 = Seq((0L, "a" * 100), (1L, "b" * 101), (2L, "c" * 102),
      (3L, "d" * 103), (4L, "e" * 104), (5L, "f" * 105))
      .toDF("doc_id", "text")
    val meta = Multimodal.decodeImageMeta(
      Multimodal.plantImagePayload(docs3, "doc_id", "text"), "doc_id", "payload")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))).toMap
    (0 until 6).foreach { i =>
      val n = 100 + i
      val (w, h) = (64L + n % 192, 64L + (n * 7) % 192)
      val fmt = Seq("jpeg", "png", "gif")(i % 3)
      val ch = (i % 3) match {
        case 0 => if (n % 2 == 0) 3L else 1L
        case 1 => Seq(3L, 4L, 1L)(n % 3)
        case _ => 3L
      }
      assert(meta(i.toLong) === ((w, h, ch, fmt)), s"doc $i ($fmt)")
    }
  }

  test("bucket-partitioned LSH layout: partition-pruned probe == lshTopK") {
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val rest = emb.filter(col("vec_id") =!= 0)
    val idxPath = Similarity.ensureLshBucketLayout(emb, "embedding", sf)
    val idx = spark.read.parquet(idxPath)
    val planes = Similarity.hyperplanes(64, 4)
    val qBits = planes.zipWithIndex.map { case (p, i) =>
      if (p.zip(query).map { case (a, b) => a * b.toDouble }.sum >= 0.0) 1L << i
      else 0L
    }.sum
    val probes = qBits +: (0 until 4).map(i => qBits ^ (1L << i))
    val probed = Similarity.bruteForceTopK(
      idx.filter(col("bucket").isin(probes: _*) && col("vec_id") =!= 0),
      "embedding", "vec_id", query, 10).select("vec_id")
    // the pruning must happen at the FILE index: the scan's partition
    // filters carry the bucket predicate, so unprobed buckets are never
    // scheduled (the ss1b bench row's whole point)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.split("PartitionFilters", 2)(1).take(200).contains("bucket"), plan)
    // the write must be CLUSTERED: one-ish file per bucket, not one file
    // per (write task x bucket) — a probe's task count is the file count
    new java.io.File(idxPath).listFiles().filter(_.getName.startsWith("bucket="))
      .foreach { d =>
        val n = d.listFiles().count(_.getName.endsWith(".parquet"))
        assert(n <= 2, s"${d.getName} has $n files — layout not clustered")
      }
    // and the probed result is exactly the operator path's pruned top-k
    val expected = Similarity.lshTopK(rest, "embedding", "vec_id", query, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(probed.as[Long].collect().toSeq == expected)
  }

  test("quality classifier: hashed-gram score matches an independent " +
      "JVM recomputation (md5 buckets, fixed-point weights)") {
    val fixture = Seq(
      (1L, "The quick   brown fox"),
      (2L, "single"),
      (3L, ""),
      (4L, "  padded   both   ends  ")
    ).toDF("doc_id", "text")
    val b = 4096
    val got = fixture
      .select(col("doc_id"),
        explode(TextAnalysis.hashedGramBuckets(col("text"), b)).as("bucket"))
      .join(TextAnalysis.qualityWeightTable(spark, b), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("w_milli").as("score_milli"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // independent recomputation: java MessageDigest md5, same salt,
    // same bucket fold, same weight derivation
    def bucketOf(g: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(("q:" + g).getBytes("UTF-8"))
      val hex = d.take(4).map(x => f"$x%02x").mkString
      java.lang.Long.parseLong(hex, 16) % b
    }
    def weight(bk: Long): Long =
      ((bk * 2654435761L) % 2147483648L) % 2001L - 1000L
    def score(text: String): Option[(Long, Long)] = {
      val ws = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      val grams = ws.toSeq ++ ws.toSeq.sliding(2).filter(_.size == 2)
        .map(_.mkString(" "))
      if (grams.isEmpty) None
      else Some((grams.size.toLong, grams.map(g => weight(bucketOf(g))).sum))
    }
    val want = Seq(1L -> "The quick   brown fox", 2L -> "single",
      3L -> "", 4L -> "  padded   both   ends  ")
      .flatMap { case (id, t) => score(t).map(id -> _) }.toMap
    assert(got === want)
    assert(!got.contains(3L), "empty doc must drop, not score 0")
    assert(got(1L)._1 === 7L, "4 unigrams + 3 bigrams")
    assert(got(2L)._1 === 1L, "single word: no bigram")
  }

  test("quality classifier: the scan-side array-indexed dot product " +
      "(r17 tx14 shape) equals the explode+join+group form, and " +
      "qualityWeights stays in lockstep with qualityWeightTable") {
    val b = 4096
    // one-source-of-truth gate: array(i) == table row i
    val table = TextAnalysis.qualityWeightTable(spark, b)
      .orderBy("bucket").collect().map(r => (r.getLong(0), r.getLong(1)))
    val arr = TextAnalysis.qualityWeights(b)
    assert(table.length === b)
    table.foreach { case (bk, w) => assert(arr(bk.toInt) === w) }

    val fixture = Seq(
      (1L, "The quick   brown fox"),
      (2L, "single"),
      (3L, ""),
      (4L, "tab\tandvertical  mix"),
      (5L, "repeat repeat repeat")
    ).toDF("doc_id", "text")
    def joinForm = fixture
      .select(col("doc_id"),
        explode(TextAnalysis.hashedGramBuckets(col("text"), b)).as("bucket"))
      .join(TextAnalysis.qualityWeightTable(spark, b), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("w_milli").as("score_milli"))
    val w = typedlit(arr)
    def arrayForm = fixture
      .select(col("doc_id"),
        TextAnalysis.hashedGramBuckets(col("text"), b).as("_bks"))
      .filter(size(col("_bks")) > 0)
      .select(col("doc_id"),
        size(col("_bks")).cast("long").as("n_grams"),
        aggregate(col("_bks"), lit(0L), (acc, x) =>
          acc + element_at(w, (x + 1L).cast("int"))).as("score_milli"))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(asMap(arrayForm) === asMap(joinForm))
  }

  test("exact dedup representative selection") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "text")
    val r = Dedup.exact(df, Seq("text"), "doc_id")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(r("a") === (1L, 2L))
    assert(r("b") === (3L, 1L))
  }
}
