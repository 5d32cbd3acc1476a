package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

/** D4 embedding-near-dup specs: sign-LSH recall semantics, the equal-vector
  * collapse that bounds hot buckets, and the rep_id-keyed within-group
  * expansion (the ANN search ops n1-n4 are oracle-checked through Verify;
  * their plan shapes are pinned in PlanSpec).
  */
class SimilaritySpec extends AnyFunSuite with SparkSuite {

  test("D4: sign-LSH near-dup finds scaled copies only") {
    import spark.implicits._
    val v1 = Array(0.5f, -0.25f, 0.125f, 1.0f)
    val v2 = v1.map(_ * 2.0f)
    val v3 = Array(-0.5f, 0.25f, -0.125f, -1.0f) // opposite orthant
    val corpus = Seq((1L, v1), (2L, v2), (3L, v3)).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDups(corpus, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("N11: MIPS ranks by inner product — magnitude wins where cosine would not") {
    import spark.implicits._
    val corpus = Seq(
      1L -> Array(1f, 0f),   // cosine-nearest to the probe (cos = 1, dot = 1)
      2L -> Array(10f, 10f), // the MIPS winner (cos ≈ 0.707, dot = 10)
      3L -> Array(0f, 2f)    // dot = 0
    ).toDF("vec_id", "embedding")
    val probes = Seq(100L -> Array(1f, 0f)).toDF("vec_id", "embedding")
    val byRank = Similarity.mipsTopK(corpus, probes, k = 3).collect()
      .map(r => r.getAs[Long]("rank") -> r.getAs[Long]("neighbor_id")).toMap
    // inner-product order, NOT cosine order
    assert(byRank === Map(1L -> 2L, 2L -> 1L, 3L -> 3L))
  }

  test("N11: the norm-augmentation reduction — cosine machinery over augmented vectors reproduces the raw-IP serve") {
    // the property that lets every cosine index serve MIPS, pinned where
    // it is load-bearing (the graded n11 row serves raw dots directly —
    // an augmentation bug there would be inert; here it would misrank):
    // bruteForceTopK = unit-normalize + cosine-rank, so feeding it
    // mipsAugment's vectors exercises M, the sqrt coordinate, and the
    // per-probe rescale end-to-end against the direct raw-IP ranking
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val probes = emb.filter(col("vec_id") % 50 === 0)
    val direct = Similarity.mipsTopK(emb, probes, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (augC, augP) = Similarity.mipsAugment(emb, probes)
    val viaCosine = Similarity.bruteForceTopK(augC, augP, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(direct.nonEmpty)
    assert(viaCosine === direct)
  }

  test("N11: mipsAugment gives every corpus vector norm M and zero-extends probes") {
    // the reduction's defining invariants: augmented corpus norms all
    // equal the max corpus norm (what makes cosine order = IP order),
    // and probes gain exactly one 0.0 coordinate (what makes the
    // augmented IP equal the raw IP)
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val probes = emb.filter(col("vec_id") % 50 === 0)
    val (augC, augP) = Similarity.mipsAugment(emb, probes)
    val d = col("embedding").cast("array<double>")
    val m = math.sqrt(emb.agg(max(Similarity.dot(d, d))).collect()(0).getDouble(0))
    val norms = augC.select(sqrt(Similarity.dot(d, d)).as("n")).collect().map(_.getDouble(0))
    assert(norms.nonEmpty)
    norms.foreach(n => assert(math.abs(n - m) <= 1e-9 * m, s"norm $n != M $m"))
    val pRows = augP.select(element_at(d, -1).as("last"), size(d).as("len")).collect()
    val origLen = emb.select(size(col("embedding"))).collect()(0).getInt(0)
    pRows.foreach { r =>
      assert(r.getDouble(0) === 0.0)
      assert(r.getInt(1) === origLen + 1)
    }
  }

  test("N12: hard negatives exclude same-label rows however similar") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f), 7),     // anchor's own class, nearly identical
      (2L, Array(0.99f, 0.1f, 0f), 7),// same label — must NEVER appear
      (3L, Array(0.9f, 0.4f, 0f), 8), // the hard negative (closest other-label)
      (4L, Array(0f, 1f, 0f), 8),
      (5L, Array(0f, 0f, 1f), 9)
    ).toDF("vec_id", "embedding", "label")
    val probes = corpus.filter($"vec_id" === 1L)
    val got = Similarity.hardNegatives(corpus, probes, k = 2).collect()
      .map(r => r.getAs[Long]("rank") -> r.getAs[Long]("neighbor_id")).toMap
    assert(got === Map(1L -> 3L, 2L -> 4L)) // 2 excluded despite cos ≈ 1
  }

  test("H6: metric invariants — full recall forces MRR 1.0, zero recall forces MRR 0") {
    val m = graft.queries.AnnQueries.evalMetrics(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(m.nonEmpty)
    m.foreach { case (hits, mrr) =>
      // run is k=3 rows: 3 hits means EVERY run row is relevant → first
      // relevant rank is 1; no hits means no reciprocal rank at all
      if (hits == 3L) assert(mrr === 1000000L, s"full recall but mrr $mrr")
      if (hits == 0L) assert(mrr === 0L, s"zero recall but mrr $mrr")
      if (hits > 0L) assert(mrr >= 333333L && mrr <= 1000000L, s"mrr $mrr out of range")
    }
  }

  test("N5: PQ codes separate well-separated clusters and ADC recovers the true neighbor") {
    import spark.implicits._
    // two tight clusters in orthogonal quadrants of an 8-dim space (m=2
    // subspaces of 4 dims): PQ must code cluster members identically and
    // ADC top-1 must stay within the probe's own cluster
    def jitter(base: Array[Float], eps: Float): Array[Float] =
      base.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val a = Array(1f, 1f, 1f, 1f, 0f, 0f, 0f, 0f)
    val b = Array(0f, 0f, 0f, 0f, 1f, 1f, 1f, 1f)
    val corpus = (
      (0L to 3L).map(i => i -> jitter(a, 0.01f * (i + 1))) ++
      (10L to 13L).map(i => i -> jitter(b, 0.01f * (i - 9)))
    ).toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(corpus, m = 2, subDim = 4, k = 2, iters = 2)
    assert(cb.count() === 4) // 2 subspaces × 2 codes
    val top1 = Similarity.pqTopK(corpus, cb,
        org.apache.spark.sql.functions.col("vec_id").isin(0L, 10L),
        k = 1, m = 2, subDim = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // probe 0's nearest by ADC is inside cluster A, probe 10's inside B
    assert(Set(1L, 2L, 3L).contains(top1(0L)), s"probe 0 -> ${top1(0L)}")
    assert(Set(11L, 12L, 13L).contains(top1(10L)), s"probe 10 -> ${top1(10L)}")
  }

  test("N6: IVF-PQ searches only probed cells and finds cluster neighbors") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // two tight clusters in orthogonal quadrants of an 8-dim space; the
    // coarse quantizer must separate them and the residual-ADC search
    // must return a within-cluster neighbor for each probe
    def jitter(base: Array[Float], eps: Float): Array[Float] =
      base.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val a = Array(1f, 1f, 1f, 1f, 0f, 0f, 0f, 0f)
    val b = Array(0f, 0f, 0f, 0f, 1f, 1f, 1f, 1f)
    val corpus = (
      (0L to 3L).map(i => i -> jitter(a, 0.01f * (i + 1))) ++
      (10L to 13L).map(i => i -> jitter(b, 0.01f * (i - 9)))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(corpus, k = 2, iters = 3)
    val cb = Similarity.ivfPqTrainResiduals(corpus, cents, m = 2, subDim = 4,
      k = 2, iters = 2)
    val top1 = Similarity.ivfPqTopK(corpus, cents, cb,
        col("vec_id").isin(0L, 10L), k = 1, pool = 3, nprobe = 1,
        m = 2, subDim = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L).contains(top1(0L)), s"probe 0 -> ${top1(0L)}")
    assert(Set(11L, 12L, 13L).contains(top1(10L)), s"probe 10 -> ${top1(10L)}")
  }

  test("ivfPqBuildIndex refuses quantizers past its driver-side row bounds") {
    import org.apache.spark.sql.functions.{array, col, lit}
    // 2-dim vectors, one subspace of 2 dims
    def vecs(n: Int, idCol: String) = spark.range(n)
      .select(col("id").as(idCol), array(lit(1.0f), lit(0.0f)).as("embedding"))
    val corpus = vecs(4, "vec_id")
    val oneCell = vecs(1, "vec_id")
    val oneCode = vecs(1, "code").select(lit(0).as("subspace"), col("code"),
      col("embedding"))
    val cells = intercept[IllegalArgumentException](Similarity.ivfPqBuildIndex(
      corpus, vecs(Similarity.MaxIvfCells + 1, "vec_id"), oneCode, m = 1, subDim = 2))
    assert(cells.getMessage.contains("centroids"), cells.getMessage)
    val codes = intercept[IllegalArgumentException](Similarity.ivfPqBuildIndex(
      corpus, oneCell,
      vecs(Similarity.MaxPqCodebookRows + 1, "code")
        .select(lit(0).as("subspace"), col("code"), col("embedding")),
      m = 1, subDim = 2))
    assert(codes.getMessage.contains("codebook"), codes.getMessage)
    // within the bounds the same quantizer shapes build
    assert(Similarity.ivfPqBuildIndex(corpus, oneCell, oneCode, m = 1, subDim = 2)
      .count() === 4)
  }

  test("N10: radius search returns the whole in-threshold neighborhood of probed cells") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def jitter(base: Array[Float], eps: Float): Array[Float] =
      base.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val a = Array(1f, 1f, 1f, 1f, 0f, 0f, 0f, 0f)
    val b = Array(0f, 0f, 0f, 0f, 1f, 1f, 1f, 1f)
    val corpus = (
      (0L to 3L).map(i => i -> jitter(a, 0.01f * (i + 1))) ++
      (10L to 13L).map(i => i -> jitter(b, 0.01f * (i - 9)))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(corpus, k = 2, iters = 3)
    val got = Similarity.ivfRadius(corpus, cents,
        probeFilter = col("vec_id").isin(0L, 10L), threshold = 0.9, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the whole same-cluster neighborhood, nothing cross-cluster (cos = 0.5
    // across quadrants), no self-pair, each pair exactly once
    assert(got === Set((0L, 1L), (0L, 2L), (0L, 3L),
      (10L, 11L), (10L, 12L), (10L, 13L)))
    // with every cell probed, radius search ≡ the exhaustive scan
    val all = Similarity.ivfRadius(corpus, cents,
        probeFilter = col("vec_id").isin(0L, 10L), threshold = 0.9, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all === got, "nprobe=2 found cross-cluster mass above 0.9")
  }

  test("ST8's contract: probe-set search is batch-split-invariant") {
    // serving splits the probe set across micro-batches; per-probe
    // results must not depend on which batch a probe arrived in
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.trainCentroids(emb.filter(col("vec_id") % 4 === 0),
      k = 8, iters = 4)
    val cb = Similarity.ivfPqTrainResiduals(emb.filter(col("vec_id") % 4 === 0),
      cents, m = 4, subDim = 16, k = 16, iters = 3)
    def search(probes: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqTopKProbes(emb, cents, cb, probes, k = 3, pool = 10,
          nprobe = 2, m = 4, subDim = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val all = emb.filter(col("vec_id") % 50 === 0)
    val whole = search(all)
    val split = search(all.filter(col("vec_id") % 100 === 0)) ++
      search(all.filter(col("vec_id") % 100 === 50))
    assert(whole === split)
    assert(whole.nonEmpty)
  }

  test("N7: appending delta vectors with staged quantizers equals a full rebuild") {
    // the index-update contract: cell assignment and residual PQ codes are
    // pure functions of (centroids, codebook), so coding ONLY the arriving
    // delta and unioning must reproduce the from-scratch full-corpus index
    // row for row — including vectors the quantizers never trained on
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val base = emb.filter(col("vec_id") % 10 =!= 7)
    val delta = emb.filter(col("vec_id") % 10 === 7)
    assert(delta.count() > 0, "delta slice empty — the test would be vacuous")
    val cents = Similarity.trainCentroids(base.filter(col("vec_id") % 4 === 0),
      k = 8, iters = 2)
    val cb = Similarity.ivfPqTrainResiduals(base.filter(col("vec_id") % 4 === 0),
      cents, m = 4, subDim = 16, k = 16, iters = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell", "subspace", "code")
        .collect().map(_.toSeq.map(String.valueOf).toList).toSet
    val updated = rows(Similarity.ivfPqBuildIndex(base, cents, cb, m = 4, subDim = 16)) ++
      rows(Similarity.ivfPqBuildIndex(delta, cents, cb, m = 4, subDim = 16))
    val rebuilt = rows(Similarity.ivfPqBuildIndex(emb, cents, cb, m = 4, subDim = 16))
    assert(updated === rebuilt)
  }

  test("N13: masking tombstones out of the index equals a rebuild without them, and serves none") {
    // the delete contract (FAISS remove_ids as a tombstone mask): index
    // rows are per-vector pure functions of the staged quantizers, so
    // delete-then-compact — filter the tombstone set, keep every other
    // row — must equal the from-scratch index over the survivors row for
    // row; and no search over the masked index may ever return a
    // tombstoned id
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val tomb = col("vec_id") % 10 === 3
    assert(emb.filter(tomb).count() > 0, "tombstone slice empty — vacuous")
    val cents = Similarity.trainCentroids(emb.filter(col("vec_id") % 4 === 0),
      k = 8, iters = 2)
    val cb = Similarity.ivfPqTrainResiduals(emb.filter(col("vec_id") % 4 === 0),
      cents, m = 4, subDim = 16, k = 16, iters = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell", "subspace", "code")
        .collect().map(_.toSeq.map(String.valueOf).toList).toSet
    val full = Similarity.ivfPqBuildIndex(emb, cents, cb, m = 4, subDim = 16)
      .localCheckpoint()
    val compacted = rows(full.filter(!tomb))
    val rebuilt = rows(Similarity.ivfPqBuildIndex(emb.filter(!tomb), cents, cb,
      m = 4, subDim = 16))
    assert(compacted === rebuilt)
    val served = Similarity.ivfPqTopKIndexed(full.filter(!tomb), emb, cents, cb,
      probeSet = emb.filter(col("vec_id") % 50 === 0),
      k = 3, pool = 10, nprobe = 2, m = 4, subDim = 16)
    assert(served.filter(col("neighbor_id") % 10 === 3).count() === 0L)
    assert(served.count() > 0)
  }

  test("N5: exact rerank over the ADC pool recovers recall ADC alone loses") {
    // real embeddings: codebook quantization error makes pure ADC top-3
    // miss exact neighbors that DO sit inside its top-10 pool — the
    // rerank must recover every one of those (recall strictly >= ADC's)
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cb = Similarity.pqTrain(emb.filter(col("vec_id") % 4 === 0),
      m = 4, subDim = 16, k = 16, iters = 3)
    val pf = col("vec_id") % 50 === 0
    val exact = Similarity.bruteForceTopK(emb, emb.filter(pf), k = 3)
    def recall(df: org.apache.spark.sql.DataFrame): Long =
      df.join(exact, Seq("probe_id", "neighbor_id"), "left_semi").count()
    val adc = recall(Similarity.pqTopK(emb, cb, pf, k = 3, m = 4, subDim = 16))
    val rr = recall(Similarity.pqTopKReranked(emb, cb, pf, k = 3, pool = 10,
      m = 4, subDim = 16))
    assert(rr >= adc, s"rerank recall $rr < ADC recall $adc")
    // and at sf0.001 the gap is real, not vacuous (measured 14 vs 6 at
    // sf0.01): the pool holds exact neighbors ADC misranks
    assert(rr > 0)
  }

  test("D4: a 150-copy cluster collapses to one banding representative (O(m) not O(m²) candidates)") {
    import spark.implicits._
    val hot = Array(0.5f, -0.25f, 0.125f, 1.0f)
    val rows = (1L to 150L).map(_ -> hot) ++ Seq(
      500L -> hot.map(_ * 2.0f),               // scaled copy: distinct array, same orthant
      501L -> Array(-0.5f, 0.25f, -0.125f, -1.0f)) // opposite orthant
    val corpus = rows.toDF("vec_id", "embedding")
    val grouped = Similarity.vectorGroups(corpus)
    val reps = grouped.filter($"vec_id" === $"rep_id").select("vec_id", "embedding")
    // 150 equal vectors → ONE rep; candidate join sees 3 reps, not 152 rows
    assert(reps.count() === 3)
    assert(Similarity.signBucketCandidates(reps, bits = 16).count() === 1) // (1, 500)
    // and the expanded result is value-identical to the uncollapsed pipeline:
    // all within-cluster pairs plus each member × the scaled copy
    val got = Similarity.embeddingNearDups(corpus, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = (1L to 150L)
    val expected = (for (a <- ids; b <- ids if a < b) yield (a, b)).toSet ++
      ids.map(a => (a, 500L)).toSet
    assert(got === expected)
  }

  test("D4: within-group expansion joins on rep_id, never the embedding array") {
    import spark.implicits._
    val corpus = (1L to 10L).map(_ -> Array(1.0f, 2.0f)).toDF("vec_id", "embedding")
    // every equi-join in the physical plan must key on longs (rep_id /
    // vec_id / bucket key) — an array-valued join key would put the full
    // vector on the shuffle wire for every member of a duplicate cluster.
    // Under AQE, exchange reuse happens at runtime stage materialization,
    // so run the query first and inspect the FINAL adaptive plan (the
    // toString also appends the pre-AQE "Initial Plan", where every branch
    // still owns its exchange — cut it off before counting).
    val df = Similarity.embeddingNearDups(corpus)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), s"plan did not finalize:\n$plan")
    val finalPlan = plan.split("== Initial Plan ==")(0)
    // ZERO exchanges keyed on the array survive in the serving plan: the
    // vectorGroups window (the one legitimate embedding-keyed shuffle)
    // runs inside its eager localCheckpoint job, and every branch reads
    // the materialized RDD — so an array-keyed exchange here would mean a
    // member-expansion join put the vector on the wire
    val arrayKeyed = "\\+- Exchange hashpartitioning\\(\\w*\\(?transform\\(embedding".r
      .findAllIn(finalPlan).size
    assert(arrayKeyed === 0,
      s"embedding-keyed exchange in the serving plan (got $arrayKeyed):\n$finalPlan")
    assert(finalPlan.contains("Scan ExistingRDD"),
      s"vector grouping not materialized once:\n$finalPlan")
  }

  test("D4: the per-representative self-cosine guard gates within-group pairs") {
    import spark.implicits._
    // threshold > 1 can never be met, even by exact copies — the guard must
    // drop every within-group pair (and cross pairs fail their own verify)
    val corpus = (1L to 5L).map(_ -> Array(3.0f, -1.0f)).toDF("vec_id", "embedding")
    assert(Similarity.embeddingNearDups(corpus, threshold = 1.5).count() === 0)
  }

  test("N9: balanced assignment caps first-choice cells, spills to 2nd choice") {
    import spark.implicits._
    // 5 vectors all nearest to centroid 0 (x-axis), cap 3: the two weakest
    // affinities must evict to centroid 1 (y-axis), strongest-first seating
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(10.0f, 0.0f)), // cos 1.0 to cell 0
      (11L, Array(10.0f, 1.0f)),
      (12L, Array(10.0f, 2.0f)),
      (13L, Array(10.0f, 3.0f)),
      (14L, Array(10.0f, 4.0f))) // weakest affinity to cell 0
      .toDF("vec_id", "embedding")
    val res = Similarity.balancedAssign(corpus, cents, cap = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(res.size === 5, "every vector is assigned exactly once")
    assert(res(10L) === ((0L, 1L)))
    assert(res(11L) === ((0L, 1L)))
    assert(res(12L) === ((0L, 1L)))
    // 13/14 evicted (seats 4,5) -> second choice cell 1, which has 3 free
    assert(res(13L) === ((1L, 2L)))
    assert(res(14L) === ((1L, 2L)))
  }

  test("N9: residual overflow is flagged round 3, never silently seated") {
    import spark.implicits._
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // cap 1: one seat per cell; 3 vectors prefer cell 0 -> one seats round
    // 1, evictees go to cell 1 where only ONE seat exists -> strongest
    // evictee seats round 2, the last is flagged overflow (round 3)
    val corpus = Seq(
      (10L, Array(10.0f, 0.0f)),
      (11L, Array(10.0f, 1.0f)),
      (12L, Array(10.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val res = Similarity.balancedAssign(corpus, cents, cap = 1).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(res(10L) === ((0L, 1L)))
    // 11 has stronger cell-1 affinity (larger y) than... both evictees rank
    // by cos to cell 1: vec 12 (y=2) beats vec 11 (y=1)
    assert(res(12L) === ((1L, 2L)))
    assert(res(11L) === ((1L, 3L)))
  }

  test("N9: zero centroids fails loudly instead of returning an empty layout") {
    import spark.implicits._
    val corpus = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val none = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.balancedAssign(corpus, none, cap = 2)
    }
    assert(e.getMessage.contains("at least one centroid"))
  }

  test("N9: single-centroid corpus keeps every vector, overflow flagged round 3") {
    import spark.implicits._
    // degenerate arity: two-choice seating with ONE cell has no second
    // choice. Contract (one output row per corpus vector) must still
    // hold — evictees stay in their only cell, flagged round 3 — rather
    // than vanishing or requiring an eager arity-guard job (ADVICE r13).
    val cents = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(10.0f, 0.0f)),
      (11L, Array(10.0f, 1.0f)),
      (12L, Array(10.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val res = Similarity.balancedAssign(corpus, cents, cap = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(res.size === 3, "every vector is assigned exactly once")
    assert(res(10L) === ((0L, 1L)))
    assert(res(11L) === ((0L, 1L)))
    assert(res(12L) === ((0L, 3L)), "evictee stays in its only cell, flagged")
  }

  test("H5: every winner's chunk really contains a query term; pooling is max") {
    val sf = "/root/testdata/sf0.001"
    val rows = queries.AnnQueries.chunkRetrieval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.length === 10)
    assert(rows.map(_._4).sorted.toSeq === (1L to 10L))
    // scores are the descending order of the ranking, doc_id-tiebroken
    val byRank = rows.sortBy(_._4)
    byRank.sliding(2).foreach {
      case Array((d1, _, s1, _), (d2, _, s2, _)) =>
        assert(s1 > s2 || (s1 == s2 && d1 < d2), "rank order broken")
      case _ =>
    }
    // each winning (doc, chunk) window really contains a query term — the
    // reported chunk id must locate the matching passage
    val terms = Set("table", "scan", "join", "vector", "stream")
    val docs = graft.Tables.documents(spark, sf)
      .selectExpr("doc_id", "split(trim(lower(text)), '\\\\s+') AS toks")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    byRank.foreach { case (doc, chunk, _, _) =>
      val toks = docs(doc)
      val s = (chunk * 80).toInt
      val window = toks.slice(s, math.min(s + 100, toks.length))
      assert(window.exists(terms), s"doc $doc chunk $chunk has no query term")
    }
  }

  test("H2: fused order is exactly the RRF of the returned arm ranks") {
    // recompute sum(1/(60+r)) from the ranks h2 itself reports (0 = absent
    // from that arm's top-20, contributing nothing) and assert the output
    // rank column is the descending order of that score, doc_id-tiebroken —
    // the fusion invariant, independent of either arm's scoring details
    val rows = queries.AnnQueries.rrfFusion(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 10)
    assert(rows.map(_._4).sorted.toSeq === (1L to 10L))
    def contrib(r: Long) = if (r == 0L) 0.0 else 1.0 / (60.0 + r)
    val expected = rows
      .sortBy { case (id, lexR, vecR, _) => (-(contrib(lexR) + contrib(vecR)), id) }
      .map(_._1)
    val actual = rows.sortBy(_._4).map(_._1)
    assert(actual.toSeq === expected.toSeq, "fused order diverges from RRF")
    // every surfaced row came from at least one arm
    assert(rows.forall { case (_, l, v, _) => l > 0 || v > 0 })
  }
}
