package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Similarity

/** Similarity-search queries over `embeddings` (64-dim float vectors).
  * Results carry integer ids/ranks only — cosine values stay inside the
  * pipeline, so tiny cross-engine fp differences cannot flip a hash match
  * (rank gaps in the synthetic data are ≥ 3e-4, orders of magnitude above
  * double rounding).
  */
object AnnQueries {

  /** D4 corpus: embeddings ∪ scaled copies (×2 — exact in both float and
    * double — of every 10th vector, id+1000000). Cosine(v, 2v) = 1, so the
    * copies are the near-dup positives; no natural pair exceeds cos 0.7.
    */
  def embCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val copies = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    base.unionAll(copies)
  }

  private[queries] val embCorpusSql =
    """ecorpus AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id,
      |         CAST(list_transform(embedding, x -> x * CAST(2.0 AS FLOAT)) AS DOUBLE[]) AS e
      |  FROM embeddings WHERE vec_id % 10 = 0)""".stripMargin

  /** D4 — embedding near-dup: sign-LSH bucket join + exact cosine ≥ 0.9;
    * oracle is the exhaustive pair scan.
    */
  def embedNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    // size the sign-LSH granularity from the memoized BASE-table count
    // (the augmented corpus is 1.1× it) instead of counting through the
    // union+transform — same octave, no count job on the query path
    // (measured: the transformed count cost d4 +40% at sf0.1)
    val n = Tables.rowCount(spark, sfDir, "embeddings")
    Similarity.embeddingNearDups(embCorpus(spark, sfDir), threshold = 0.9,
      bits = graft.ops.LshSizing.sizeBits(n + n / 10))
  }

  val embedNearDupSql: String =
    s"""WITH $embCorpusSql
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |FROM ecorpus a JOIN ecorpus b ON a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(a.e, b.e) >= 0.9""".stripMargin

  /** D9 — SemDeDup over the augmented embedding corpus
    * ([[graft.ops.Similarity.semDedup]]): the id<32 vectors serve as the
    * coarse centroids (fixed, so the oracle recomputes the identical
    * clustering; 32 cells — 4x the n2 search granularity — because dedup
    * wants SMALL cells: within-cell pair volume is Σ|cell|², the quadratic
    * term the cluster count controls, exactly the paper's k-vs-recall
    * knob), every vector is assigned to its nearest cell, and within-cell
    * pairs at cosine ≥ 0.9 mark the higher id as a semantic duplicate.
    * The scaled copies are scale-invariant under both the assignment and
    * the cosine, so every planted positive lands in its base's cell and is
    * dropped; the oracle recomputes assignment + pairs exhaustively.
    */
  def semDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 32)
    Similarity.semDedup(embCorpus(spark, sfDir), cents, threshold = 0.9)
  }

  val semDedupSql: String =
    s"""WITH $embCorpusSql,
       |cent AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS ce
       |         FROM embeddings WHERE vec_id < 32),
       |assign AS (
       |  SELECT vec_id, c_id AS cell FROM (
       |    SELECT e.vec_id, cent.c_id,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY list_cosine_similarity(ce, e.e) DESC, c_id ASC) AS rn
       |    FROM ecorpus e CROSS JOIN cent)
       |  WHERE rn = 1),
       |w AS (SELECT a.vec_id, a.cell, e.e
       |      FROM assign a JOIN ecorpus e ON e.vec_id = a.vec_id)
       |SELECT DISTINCT b.vec_id, CAST(b.cell AS BIGINT) AS cell
       |FROM w a JOIN w b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(a.e, b.e) >= 0.9""".stripMargin

  /** N1 — exact brute-force cosine top-5 for every 50th vector as probe. */
  def annTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") % 50 === 0), k = 5)
  }

  val annTopKSql: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |p AS (SELECT vec_id AS p_id, e AS pe FROM c WHERE vec_id % 50 = 0),
      |scored AS (
      |  SELECT p_id, vec_id, list_cosine_similarity(pe, e) AS cos
      |  FROM p JOIN c ON vec_id != p_id)
      |SELECT p_id AS probe_id, vec_id AS neighbor_id, CAST(rnk AS BIGINT) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY p_id ORDER BY cos DESC, vec_id ASC) AS rnk
      |      FROM scored)
      |WHERE rnk <= 5""".stripMargin

  /** N2 — IVF ANN: vectors with id < 8 serve as the coarse centroids,
    * probes (every 50th id) search only their own cell, top-3 within cell.
    */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8),
      probeFilter = col("vec_id") % 50 === 0, k = 3)
  }

  val annIvfSql: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |cent AS (SELECT vec_id AS c_id, e AS ce FROM c WHERE vec_id < 8),
      |assign AS (
      |  SELECT vec_id, c_id AS cell FROM (
      |    SELECT c.vec_id, cent.c_id,
      |           row_number() OVER (PARTITION BY c.vec_id
      |                              ORDER BY list_cosine_similarity(ce, e) DESC, c_id ASC) AS rn
      |    FROM c CROSS JOIN cent)
      |  WHERE rn = 1),
      |probes AS (
      |  SELECT c.vec_id AS p_id, c.e AS pe, assign.cell AS pcell
      |  FROM c JOIN assign ON c.vec_id = assign.vec_id
      |  WHERE c.vec_id % 50 = 0),
      |cand AS (
      |  SELECT p_id, c.vec_id, list_cosine_similarity(pe, c.e) AS cos
      |  FROM probes
      |  JOIN assign a2 ON a2.cell = pcell
      |  JOIN c ON c.vec_id = a2.vec_id AND c.vec_id != p_id)
      |SELECT p_id AS probe_id, vec_id AS neighbor_id, CAST(rnk AS BIGINT) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY p_id ORDER BY cos DESC, vec_id ASC) AS rnk
      |      FROM cand)
      |WHERE rnk <= 3""".stripMargin

  /** H6 — retrieval evaluation: recall@k and MRR of the n2 IVF run
    * against the n1 exact ranking as ground truth — the measurement loop
    * every retrieval/ANN deployment runs before trading recall for
    * speed. Metrics stay INTEGER (hit counts; MRR as `1000000 div
    * first_relevant_rank`, 0 when no hit) so the grade is exact.
    * Non-vacuous by construction: 8 coarse cells probed at nprobe=1
    * lose cross-cell neighbors, so recall3_hits < 3 for some probes.
    * Shape: both rankings are the existing bounded pipelines; the
    * metric join/rollup touches ≤ k rows per probe.
    */
  def evalMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val truth = annTopK(spark, sfDir).filter(col("rank") <= 3)
      .select(col("probe_id"), col("neighbor_id"))
    val run = annIvf(spark, sfDir)
      .select(col("probe_id"), col("neighbor_id"), col("rank"))
    val hits = run.join(truth, Seq("probe_id", "neighbor_id"))
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_found"), min(col("rank")).as("first_rank"))
    truth.select("probe_id").distinct()
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_found"), lit(0L)).as("recall3_hits"),
        coalesce(expr("1000000L div first_rank"), lit(0L)).as("mrr_ppm"))
  }

  val evalMetricsSql: String =
    s"""WITH truth AS (
       |  SELECT probe_id, neighbor_id FROM ($annTopKSql) WHERE rank <= 3),
       |run AS ($annIvfSql),
       |hits AS (
       |  SELECT r.probe_id, COUNT(*) AS n_found, MIN(r.rank) AS first_rank
       |  FROM run r JOIN truth t
       |    ON r.probe_id = t.probe_id AND r.neighbor_id = t.neighbor_id
       |  GROUP BY 1)
       |SELECT p.probe_id,
       |       CAST(COALESCE(n_found, 0) AS BIGINT) AS recall3_hits,
       |       CAST(COALESCE(1000000 // first_rank, 0) AS BIGINT) AS mrr_ppm
       |FROM (SELECT DISTINCT probe_id FROM truth) p
       |LEFT JOIN hits USING (probe_id)""".stripMargin

  /** H7 — nDCG@3 of the n2 IVF run against graded relevance derived from
    * the n1 exact ranking (exact rank 1 → rel 3, rank 2 → rel 2, rank 3 →
    * rel 1) — the standard graded-relevance metric completing h6's
    * recall/MRR. The discount 1/log2(pos+1) is a FIXED-POINT LOOKUP
    * LITERAL in ppm (1000000, 630930, 500000 — the t26 integer-idf
    * trick), so dcg/idcg/ndcg are all integers and the grade is exact; no
    * `ln()` crosses the engine boundary. Because rel = 4 − exact_rank,
    * the ideal position of each truth row IS its exact rank, so idcg is
    * the same weighted sum over the truth table. Metric join touches ≤ k
    * rows per probe, like h6.
    */
  def ndcgEval(spark: SparkSession, sfDir: String): DataFrame = {
    val wCase =
      "CASE rank WHEN 1 THEN 1000000L WHEN 2 THEN 630930L ELSE 500000L END"
    val truth = annTopK(spark, sfDir).filter(col("rank") <= 3)
      .select(col("probe_id"), col("neighbor_id"),
        (lit(4L) - col("rank")).as("rel"), col("rank"))
    val run = annIvf(spark, sfDir).filter(col("rank") <= 3)
      .select(col("probe_id"), col("neighbor_id"), col("rank"))
    val dcg = run
      .join(truth.select("probe_id", "neighbor_id", "rel"),
        Seq("probe_id", "neighbor_id"), "left")
      .groupBy("probe_id")
      .agg(sum(coalesce(col("rel"), lit(0L)) * expr(wCase)).as("dcg_ppm"))
    val idcg = truth.groupBy("probe_id")
      .agg(sum(col("rel") * expr(wCase)).as("idcg_ppm"))
    idcg.join(dcg, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("dcg_ppm"), lit(0L)).as("dcg_ppm"),
        col("idcg_ppm"),
        expr("(1000000 * coalesce(dcg_ppm, 0L)) div idcg_ppm").as("ndcg_ppm"))
  }

  val ndcgEvalSql: String =
    s"""WITH truth AS (
       |  SELECT probe_id, neighbor_id, 4 - rank AS rel, rank
       |  FROM ($annTopKSql) WHERE rank <= 3),
       |run AS (SELECT probe_id, neighbor_id, rank FROM ($annIvfSql)
       |        WHERE rank <= 3),
       |dcg AS (
       |  SELECT r.probe_id,
       |         CAST(SUM(COALESCE(t.rel, 0) *
       |           CASE r.rank WHEN 1 THEN 1000000 WHEN 2 THEN 630930
       |                ELSE 500000 END) AS BIGINT) AS dcg_ppm
       |  FROM run r LEFT JOIN truth t
       |    ON r.probe_id = t.probe_id AND r.neighbor_id = t.neighbor_id
       |  GROUP BY 1),
       |idcg AS (
       |  SELECT probe_id,
       |         CAST(SUM(rel * CASE rank WHEN 1 THEN 1000000
       |              WHEN 2 THEN 630930 ELSE 500000 END) AS BIGINT) AS idcg_ppm
       |  FROM truth GROUP BY 1)
       |SELECT i.probe_id,
       |       CAST(COALESCE(d.dcg_ppm, 0) AS BIGINT) AS dcg_ppm,
       |       i.idcg_ppm,
       |       (1000000 * COALESCE(d.dcg_ppm, 0)) // i.idcg_ppm AS ndcg_ppm
       |FROM idcg i LEFT JOIN dcg d USING (probe_id)""".stripMargin

  /** N4 — scalar-quantized (int8) search with exact rerank
    * ([[graft.ops.Similarity.quantizedTopK]]): candidates ranked by the
    * integer dot product of symmetric int8 codes of the UNIT vectors
    * (`floor(u·127)` — the integer dot then tracks 127²·cosine; 4×
    * smaller than float32, so 4× less candidate-pass shuffle at 100 TB of
    * embeddings), top-9 per probe re-scored with exact float cosine,
    * top-3 kept. Both the quantization (identical expression shape) and
    * the integer ordering are engine-portable, so the final ranks
    * hash-match like n1/n2.
    */
  def annQuantized(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    Similarity.quantizedTopK(emb, emb.filter(col("vec_id") % 50 === 0),
      k = 3, rerank = 9)
  }

  val annQuantizedSql: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |qx AS (
      |  SELECT vec_id,
      |         CASE WHEN sqrt(list_dot_product(e, e)) = 0
      |              THEN list_transform(e, x -> CAST(0 AS BIGINT))
      |              ELSE list_transform(e, x ->
      |                     CAST(floor(x * 127 / sqrt(list_dot_product(e, e))) AS BIGINT))
      |         END AS q
      |  FROM c),
      |pq AS (SELECT vec_id AS p_id, q AS pqv FROM qx WHERE p_id % 50 = 0),
      |cand AS (
      |  SELECT p_id, qx.vec_id,
      |         CAST(list_dot_product(CAST(pqv AS DOUBLE[]), CAST(qx.q AS DOUBLE[])) AS BIGINT) AS qdot
      |  FROM pq JOIN qx ON qx.vec_id != p_id),
      |keep AS (
      |  SELECT p_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY p_id
      |                                 ORDER BY qdot DESC, vec_id ASC) AS qrnk
      |    FROM cand)
      |  WHERE qrnk <= 9),
      |rer AS (
      |  SELECT keep.p_id, keep.vec_id,
      |         list_cosine_similarity(p.e, n.e) AS cos
      |  FROM keep
      |  JOIN c p ON p.vec_id = keep.p_id
      |  JOIN c n ON n.vec_id = keep.vec_id)
      |SELECT p_id AS probe_id, vec_id AS neighbor_id, CAST(rnk AS BIGINT) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY p_id
      |                                   ORDER BY cos DESC, vec_id ASC) AS rnk
      |      FROM rer)
      |WHERE rnk <= 3""".stripMargin

  /** N3 — the TRAINED end of the IVF index: `trainCentroids` (deterministic
    * Lloyd's, k=8, 4 rounds) builds the coarse quantizer, the trained
    * centroids stage to parquet (exactly how a production IVF persists its
    * quantizer — train once, serve many), and `ivfTopK` searches with
    * `nprobe = 2`. Graded as recall@3: per probe, how many of the IVF
    * answers appear in the exact brute-force top-3 — an integer result
    * immune to float jitter in the trained centroid values, since BOTH
    * engines recompute assignment/search from the same staged floats.
    * Build-then-probe mirror of `/root/reference/embargo_check.go:39-60`
    * (build) / `:105-110` (probe).
    */
  def annIvfTrained(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    // Train on a deterministic 1-in-4 sample — the production IVF shape
    // (quantizers train on a corpus sample, then assign everything): each
    // Lloyd's round scores only the sample against the centroids, cutting
    // build cost 4x with no effect on the graded search (which recomputes
    // everything from the STAGED centroids either way).
    Similarity.trainCentroids(emb.filter(col("vec_id") % 4 === 0), k = 8, iters = 4)
      .write.mode("overwrite").parquet(s"${TarQueries.StageDir}/n3_centroids.parquet")
    val cents = spark.read.parquet(s"${TarQueries.StageDir}/n3_centroids.parquet")
    val probeFilter = col("vec_id") % 50 === 0
    val ivf = Similarity.ivfTopK(emb, cents, probeFilter, k = 3, nprobe = 2)
    val exact = Similarity.bruteForceTopK(emb, emb.filter(probeFilter), k = 3)
    val hits = ivf.join(exact, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("n_hits"))
    emb.filter(probeFilter).select(col("vec_id").as("probe_id"))
      .join(hits, Seq("probe_id"), "left_outer")
      .select(col("probe_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  val annIvfTrainedSql: String =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cent AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS ce
       |         FROM read_parquet('${TarQueries.StageDir}/n3_centroids.parquet/*.parquet')),
       |assign AS (
       |  SELECT vec_id, c_id AS cell FROM (
       |    SELECT c.vec_id, cent.c_id,
       |           row_number() OVER (PARTITION BY c.vec_id
       |                              ORDER BY list_cosine_similarity(ce, e) DESC, c_id ASC) AS rn
       |    FROM c CROSS JOIN cent)
       |  WHERE rn = 1),
       |pcells AS (
       |  SELECT vec_id AS p_id, c_id AS cell FROM (
       |    SELECT c.vec_id, cent.c_id,
       |           row_number() OVER (PARTITION BY c.vec_id
       |                              ORDER BY list_cosine_similarity(ce, e) DESC, c_id ASC) AS rn
       |    FROM c CROSS JOIN cent WHERE c.vec_id % 50 = 0)
       |  WHERE rn <= 2),
       |probes AS (SELECT vec_id AS p_id, e AS pe FROM c WHERE vec_id % 50 = 0),
       |cand AS (
       |  SELECT probes.p_id, c.vec_id, list_cosine_similarity(pe, c.e) AS cos
       |  FROM probes
       |  JOIN pcells ON pcells.p_id = probes.p_id
       |  JOIN assign a2 ON a2.cell = pcells.cell
       |  JOIN c ON c.vec_id = a2.vec_id AND c.vec_id != probes.p_id),
       |ivf AS (
       |  SELECT p_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY p_id ORDER BY cos DESC, vec_id ASC) AS rnk
       |    FROM cand)
       |  WHERE rnk <= 3),
       |scored AS (
       |  SELECT p.p_id, c.vec_id, list_cosine_similarity(p.pe, c.e) AS cos
       |  FROM probes p JOIN c ON c.vec_id != p.p_id),
       |exact AS (
       |  SELECT p_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY p_id ORDER BY cos DESC, vec_id ASC) AS rnk
       |    FROM scored)
       |  WHERE rnk <= 3)
       |SELECT probes.p_id AS probe_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits
       |FROM probes LEFT JOIN (
       |  SELECT ivf.p_id, COUNT(*) AS n_hits
       |  FROM ivf JOIN exact ON ivf.p_id = exact.p_id AND ivf.vec_id = exact.vec_id
       |  GROUP BY 1) h ON h.p_id = probes.p_id""".stripMargin

  /** H1 — hybrid retrieval, the two-stage search every RAG/seed-expansion
    * pipeline runs: a cheap LEXICAL stage (BM25 vs the fixed term set,
    * rounded to 6 dp, ties broken by doc_id) cuts the corpus to the top
    * 50 candidates, then a SEMANTIC stage reranks those 50 by embedding
    * cosine against a probe document's vector (doc 0, which the output
    * excludes) and keeps the top 10. Output is `(doc_id, rank)` — integer
    * ranks only, the established ANN-oracle practice.
    *
    * Scale shape: stage 1's global top-M is `orderBy.limit`, which plans
    * `TakeOrderedAndProject` — per-partition bounded heaps, never a global
    * sort materialization. Stage 2 touches only M rows joined against the
    * embedding table (broadcast of the 50-row candidate set) with the
    * single probe vector broadcast alongside — so the expensive corpus
    * pass happens exactly once, in the cheap stage, and the vector math
    * runs on a constant-size candidate set. That ordering is the entire
    * point of hybrid retrieval at 100 TB.
    */
  def hybridRetrieval(spark: SparkSession, sfDir: String): DataFrame = {
    val (scored, score) = TextQueries.bm25Pipeline(spark, sfDir)
    val lex = scored.select(col("doc_id"), round(score, 6).as("s"))
      .orderBy(col("s").desc, col("doc_id").asc).limit(50)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val probe = emb.filter(col("doc_id") === 0)
      .select(col("embedding").as("pe"))
    val top = emb.join(broadcast(lex), "doc_id")
      .crossJoin(broadcast(probe))
      .filter(col("doc_id") =!= 0)
      .withColumn("cos", Similarity.cosine(col("embedding"), col("pe")))
      .orderBy(col("cos").desc, col("doc_id").asc).limit(10)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cos").desc, col("doc_id").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("rank"))
  }

  val hybridRetrievalSql: String =
    s"""WITH ${TextQueries.bm25CtesSql},
       |lex AS (SELECT doc_id, ROUND(${TextQueries.bm25ScoreSql}, 6) AS s
       |        FROM st, g ORDER BY s DESC, doc_id ASC LIMIT 50),
       |e AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS e
       |      FROM embeddings),
       |p AS (SELECT e AS pe FROM e WHERE doc_id = 0),
       |cand AS (
       |  SELECT lex.doc_id, list_cosine_similarity(e.e, p.pe) AS cos
       |  FROM lex JOIN e USING (doc_id) CROSS JOIN p
       |  WHERE lex.doc_id <> 0)
       |SELECT doc_id,
       |       CAST(row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS BIGINT) AS rank
       |FROM cand ORDER BY cos DESC, doc_id ASC LIMIT 10""".stripMargin

  /** H5 — CHUNK-level retrieval, the granularity RAG actually indexes:
    * t23's overlapping 100/80 windows become the retrieval units, every
    * chunk scores against the fixed query terms with t11's exact BM25
    * machinery ([[TextQueries.bm25Score]] over the chunk frame — chunk
    * dl/df statistics, not document ones), each document is represented
    * by its BEST chunk (max-pooling, ties to the earliest chunk), and
    * the top-10 documents return with the winning chunk id. Scoring a
    * bounded window beats whole-document scoring exactly when the match
    * is one passage of a long document — the reason retrieval corpora
    * chunk at all. Shapes: chunking + scoring are narrow maps, the
    * corpus-constants row broadcasts back, best-chunk is a doc-keyed
    * window, and the final cut is a bounded `orderBy.limit` top-k.
    */
  def chunkRetrieval(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.wsTokens
    val win = 100L
    val stride = 80L
    val chunks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), wsTokens(lower(col("text"))).as("dtoks"))
      .withColumn("n", size(col("dtoks")).cast("long"))
      .filter(col("n") >= 1)
      .select(col("doc_id"), col("dtoks"), col("n"),
        explode(sequence(lit(0L), col("n") - 1, lit(stride))).as("s"))
      .select(col("doc_id"),
        (col("s") / stride).cast("long").as("chunk_id"),
        slice(col("dtoks"), (col("s") + 1).cast("int"),
          least(lit(win), col("n") - col("s")).cast("int")).as("toks"))
    val (scored, score) = TextQueries.bm25Score(chunks)
    val sc = scored.filter(score > 0).withColumn("sc", score)
    val perDoc = Window.partitionBy("doc_id")
      .orderBy(col("sc").desc, col("chunk_id").asc)
    val best = sc.withColumn("rn", row_number().over(perDoc))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("chunk_id"), col("sc"))
    val top = best.orderBy(col("sc").desc, col("doc_id").asc).limit(10)
    val w = Window.orderBy(col("sc").desc, col("doc_id").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("chunk_id"),
        round(col("sc"), 6).as("bm25"), col("rank"))
  }

  val chunkRetrievalSql: String = {
    val tfCols = TextQueries.Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf$i"
    }.mkString(", ")
    val dfCols = TextQueries.Bm25Terms.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1.0 ELSE 0.0 END) AS df$i").mkString(", ")
    s"""WITH d AS (SELECT doc_id,
       |             string_split_regex(trim(lower(text)), '\\s+') AS dtoks
       |           FROM documents),
       |nn AS (SELECT doc_id, dtoks, CAST(len(dtoks) AS BIGINT) AS n
       |       FROM d WHERE len(dtoks) >= 1),
       |ch AS (SELECT doc_id, s // 80 AS chunk_id,
       |              dtoks[CAST(s + 1 AS BIGINT):CAST(LEAST(s + 100, n) AS BIGINT)] AS toks
       |       FROM (SELECT doc_id, dtoks, n, unnest(range(0, n, 80)) AS s
       |             FROM nn)),
       |st AS (SELECT doc_id, chunk_id, $tfCols,
       |              CAST(len(toks) AS DOUBLE) AS dl
       |       FROM ch),
       |g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl, $dfCols
       |      FROM st),
       |sc AS (SELECT doc_id, chunk_id, ${TextQueries.bm25ScoreSql} AS sc
       |       FROM st, g WHERE ${TextQueries.bm25ScoreSql} > 0),
       |best AS (SELECT doc_id, chunk_id, sc FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |                                 ORDER BY sc DESC, chunk_id ASC) AS rn
       |    FROM sc)
       |  WHERE rn = 1)
       |SELECT doc_id, chunk_id, ROUND(sc, 6) AS bm25,
       |       CAST(row_number() OVER (ORDER BY sc DESC, doc_id ASC) AS BIGINT) AS rank
       |FROM best ORDER BY sc DESC, doc_id ASC LIMIT 10""".stripMargin
  }

  /** H2 — reciprocal-rank fusion (RRF, K=60) of the two retrieval arms h1
    * composes SERIALLY: the BM25 lexical ranking and the exact-cosine
    * vector ranking against the probe embedding (vec_id 0), fused as
    * Σ 1/(K + rank) — the standard hybrid-retrieval merge when the arms'
    * scores live on incomparable scales. Each arm contributes a bounded
    * top-20 (`orderBy.limit` → TakeOrderedAndProject, a distributed
    * partial top-k — no global sort shuffle), the fusion is a full-outer
    * join of two 20-row sets, and the final window ranks ≤ 40 rows on the
    * driver-adjacent single partition — O(k), not O(corpus).
    *
    * Output is integer ranks only; the fused score is identical IEEE
    * double arithmetic over identical integer ranks in both engines (the
    * per-arm orderings agree by the n1 rank-gap argument), so the hash
    * compare is deterministic. Symmetric rank swaps tie exactly in both
    * engines and break by doc_id.
    */
  def rrfFusion(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = lit(60.0)
    val (scored, score) = TextQueries.bm25Pipeline(spark, sfDir)
    val wl = Window.orderBy(col("s").desc, col("doc_id").asc)
    val lex = scored.select(col("doc_id"), round(score, 6).as("s"))
      .orderBy(col("s").desc, col("doc_id").asc).limit(20)
      .withColumn("lex_rank", row_number().over(wl).cast("long"))
      .select("doc_id", "lex_rank")
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val probe = emb.filter(col("doc_id") === 0).select(col("embedding").as("pe"))
    val wv = Window.orderBy(col("cos").desc, col("doc_id").asc)
    val vec = emb.crossJoin(broadcast(probe)).filter(col("doc_id") =!= 0)
      .select(col("doc_id"), Similarity.cosine(col("embedding"), col("pe")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id").asc).limit(20)
      .withColumn("vec_rank", row_number().over(wv).cast("long"))
      .select("doc_id", "vec_rank")
    val rrf = coalesce(lit(1.0) / (k + col("lex_rank")), lit(0.0)) +
      coalesce(lit(1.0) / (k + col("vec_rank")), lit(0.0))
    val wf = Window.orderBy(col("rrf").desc, col("doc_id").asc)
    lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf", rrf)
      .orderBy(col("rrf").desc, col("doc_id").asc).limit(10)
      .withColumn("rank", row_number().over(wf).cast("long"))
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"),
        col("rank"))
  }

  val rrfFusionSql: String =
    s"""WITH ${TextQueries.bm25CtesSql},
       |lex AS (
       |  SELECT doc_id,
       |         CAST(row_number() OVER (ORDER BY s DESC, doc_id ASC) AS BIGINT) AS lex_rank
       |  FROM (SELECT doc_id, ROUND(${TextQueries.bm25ScoreSql}, 6) AS s
       |        FROM st, g ORDER BY s DESC, doc_id ASC LIMIT 20)),
       |e AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS e
       |      FROM embeddings),
       |p AS (SELECT e AS pe FROM e WHERE doc_id = 0),
       |vec AS (
       |  SELECT doc_id,
       |         CAST(row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS BIGINT) AS vec_rank
       |  FROM (SELECT e.doc_id, list_cosine_similarity(e.e, p.pe) AS cos
       |        FROM e CROSS JOIN p WHERE e.doc_id <> 0
       |        ORDER BY cos DESC, doc_id ASC LIMIT 20)),
       |f AS (
       |  SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id, lex_rank, vec_rank,
       |         COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + lex_rank), CAST(0.0 AS DOUBLE))
       |         + COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + vec_rank), CAST(0.0 AS DOUBLE)) AS rrf
       |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
       |SELECT doc_id,
       |       CAST(COALESCE(lex_rank, 0) AS BIGINT) AS lex_rank,
       |       CAST(COALESCE(vec_rank, 0) AS BIGINT) AS vec_rank,
       |       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rank
       |FROM f ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin

  /** N10 — IVF radius (range) search ([[Similarity.ivfRadius]]): every
    * neighbor within cosine ≥ 0.35 of each probe among the probe's 2
    * nearest of 8 staged cells, over the d4 augmented corpus (whose
    * planted ×2 copies sit at cosine 1.0 — guaranteed in-radius mass).
    * τ = 0.35 sits ≥ 7e-4 from every pair's cosine at the graded scale,
    * so the predicate is deterministic cross-engine. Centroids train on
    * the deterministic 1-in-4 base sample and stage to parquet (the n3
    * practice): BOTH engines replay assignment → probe cells → radius
    * predicate from the same staged floats, so the pair set hash-matches
    * without any float ever crossing the boundary.
    */
  /** N11 — maximum-inner-product top-5 ([[Similarity.mipsTopK]]): the
    * recommender/retrieval scoring mode where magnitude matters (user ×
    * item factors, unnormalized two-tower embeddings — a long vector IS
    * a stronger match). Both engines rank by the raw inner product (the
    * exact MIPS baseline, identical left-to-right double sums — no
    * normalization anywhere, so no cross-engine ulp flake); the
    * MIPS→cosine reduction that lets the index family serve MIPS is
    * [[Similarity.mipsAugment]], pinned by `SimilaritySpec` against this
    * serve (review r17: in a raw-dot serve the augmentation is inert, so
    * grading it HERE would be vacuous). Probes are every 50th vector, as
    * in n1.
    */
  def annMips(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    Similarity.mipsTopK(emb, emb.filter(col("vec_id") % 50 === 0), k = 5)
  }

  val annMipsSql: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |p AS (SELECT vec_id AS p_id, e AS pe FROM c WHERE vec_id % 50 = 0),
      |scored AS (
      |  SELECT p_id, vec_id, list_inner_product(pe, e) AS ip
      |  FROM p JOIN c ON vec_id != p_id)
      |SELECT p_id AS probe_id, vec_id AS neighbor_id, CAST(rnk AS BIGINT) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY p_id ORDER BY ip DESC, vec_id ASC) AS rnk
      |      FROM scored)
      |WHERE rnk <= 5""".stripMargin

  /** N12 — contrastive hard-negative mining
    * ([[Similarity.hardNegatives]]): for every 50th vector as anchor,
    * the top-5 most-similar embeddings whose `label` differs — the
    * pair-construction pass of two-tower/DPR training. Exact oracle:
    * the same label-mismatch ranking, exhaustively.
    */
  def annHardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") % 50 === 0), k = 5)
  }

  val annHardNegativesSql: String =
    """WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |p AS (SELECT vec_id AS p_id, label AS p_label, e AS pe FROM c WHERE vec_id % 50 = 0),
      |scored AS (
      |  SELECT p_id, vec_id, list_cosine_similarity(pe, e) AS cos
      |  FROM p JOIN c ON vec_id != p_id AND label != p_label)
      |SELECT p_id AS probe_id, vec_id AS neighbor_id, CAST(rnk AS BIGINT) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY p_id ORDER BY cos DESC, vec_id ASC) AS rnk
      |      FROM scored)
      |WHERE rnk <= 5""".stripMargin

  def annRadius(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    // fixed path (the oracle SQL names it literally), retrained on every
    // call like n3 — train cost is bounded by the 1-in-4 sample
    val stage = s"${TarQueries.StageDir}/n10_centroids.parquet"
    Similarity.trainCentroids(emb.filter(col("vec_id") % 4 === 0), k = 8, iters = 4)
      .write.mode("overwrite").parquet(stage)
    val cents = spark.read.parquet(stage)
    Similarity.ivfRadius(embCorpus(spark, sfDir), cents,
      probeFilter = col("vec_id") % 50 === 0, threshold = 0.35, nprobe = 2)
  }

  val annRadiusSql: String =
    s"""WITH $embCorpusSql,
       |cent AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS ce
       |         FROM read_parquet('${TarQueries.StageDir}/n10_centroids.parquet/*.parquet')),
       |assign AS (
       |  SELECT vec_id, c_id AS cell FROM (
       |    SELECT e.vec_id, cent.c_id,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY list_cosine_similarity(ce, e.e) DESC, c_id ASC) AS rn
       |    FROM ecorpus e CROSS JOIN cent)
       |  WHERE rn = 1),
       |pcells AS (
       |  SELECT vec_id AS p_id, c_id AS cell FROM (
       |    SELECT e.vec_id, cent.c_id,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY list_cosine_similarity(ce, e.e) DESC, c_id ASC) AS rn
       |    FROM ecorpus e CROSS JOIN cent WHERE e.vec_id % 50 = 0)
       |  WHERE rn <= 2),
       |probes AS (SELECT vec_id AS p_id, e AS pe FROM ecorpus WHERE vec_id % 50 = 0)
       |SELECT probes.p_id AS probe_id, c.vec_id AS neighbor_id
       |FROM probes
       |JOIN pcells ON pcells.p_id = probes.p_id
       |JOIN assign a2 ON a2.cell = pcells.cell
       |JOIN ecorpus c ON c.vec_id = a2.vec_id AND c.vec_id != probes.p_id
       |WHERE list_cosine_similarity(pe, c.e) >= 0.35""".stripMargin

  /** H3 — conjunctive boolean retrieval (the inverted-index AND query
    * under every keyword search): documents containing ALL four query
    * terms, ranked by total term frequency (ties by doc_id), top 20. The
    * output is integers only (presence counts, tf sums, ranks), so the
    * hash grade is exact.
    *
    * Scale shape: the term filter runs INSIDE the scan projection
    * (`filter(toks, isin(terms))` — only matching tokens leave the map
    * side), the per-(doc, term) and per-doc rollups are two map-side-
    * combining hash aggregations keyed doc_id (the t7 posture), the
    * conjunction is a HAVING on the count of distinct present terms, and
    * the final cut is `orderBy.limit` → `TakeOrderedAndProject` (bounded
    * per-partition heaps). Nothing wider than (doc_id, term, count)
    * shuffles — the posting-list volume, not the corpus volume.
    */
  private val BoolTerms = Seq("scan", "join", "stream", "vector")

  def booleanRetrieval(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFunctions.wsTokens
    val terms = BoolTerms.map(lit(_))
    val hits = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(filter(wsTokens(lower(col("text"))), t => t.isin(terms: _*)))
          .as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("tf").cast("long").as("total_tf"))
      .filter(col("n_terms") === BoolTerms.length)
    val ranked = hits.orderBy(col("total_tf").desc, col("doc_id").asc).limit(20)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("total_tf").desc, col("doc_id").asc)
    // rank over the bounded 20-row cut only (the h1/h2 O(k) tail pattern)
    ranked.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("total_tf"), col("rank"))
  }

  val booleanRetrievalSql: String = {
    val set = BoolTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_filter(
       |           string_split_regex(trim(lower(text)), '\\s+'),
       |           t -> t IN ($set))) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |d AS (SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(tf) AS BIGINT) AS total_tf
       |      FROM tf GROUP BY 1
       |      HAVING COUNT(*) = ${BoolTerms.length})
       |SELECT doc_id, total_tf,
       |       CAST(row_number() OVER (ORDER BY total_tf DESC, doc_id ASC) AS BIGINT) AS rank
       |FROM d ORDER BY total_tf DESC, doc_id ASC LIMIT 20""".stripMargin
  }

  /** H4 — exact phrase search through a positional inverted index: docs
    * where "hash join" occurs as CONSECUTIVE tokens, with the occurrence
    * count — the phrase-query operator boolean retrieval (h3) can't
    * express (bag-of-words loses adjacency). The index shape: one
    * `(doc_id, term, pos)` posting per occurrence of either phrase term
    * (the filter runs inside the scan projection like h3), then the
    * adjacency test is a positional SELF-JOIN on `(doc_id, pos + 1)` —
    * the classic positional-index merge, keyed and narrow: only postings
    * of the two phrase terms ever shuffle, volume = their posting lists,
    * not the corpus.
    */
  def phraseSearch(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFunctions.wsTokens
    val Seq(t1, t2) = Seq("hash", "join")
    val posts = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(wsTokens(lower(col("text")))).as(Seq("pos", "term")))
      .filter(col("term").isin(t1, t2))
    val a = posts.filter(col("term") === t1)
      .select(col("doc_id"), col("pos"))
    val b = posts.filter(col("term") === t2)
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    a.join(b, Seq("doc_id", "pos"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_occurrences"))
  }

  val phraseSearchSql: String =
    """WITH tk AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
      |  FROM tk),
      |f AS (SELECT doc_id, pos, term FROM tok WHERE term IN ('hash', 'join'))
      |SELECT a.doc_id, COUNT(*) AS n_occurrences
      |FROM (SELECT doc_id, pos FROM f WHERE term = 'hash') a
      |JOIN (SELECT doc_id, pos - 1 AS pos FROM f WHERE term = 'join') b
      |  ON a.doc_id = b.doc_id AND a.pos = b.pos
      |GROUP BY 1""".stripMargin

  /** N5 — product quantization end-to-end (the FAISS-PQ recipe): a joint
    * Lloyd loop learns m=4 per-subspace codebooks (k=16 codes over 16-dim
    * unit-vector slices), the codebook stages to parquet (train-once/
    * serve-many like n3), every vector encodes to 4 codes, and probes
    * search by ADC — score the 64 codebook entries once, then each corpus
    * vector is 4 table lookups + 3 adds — and the ADC top-10 pool reranks
    * by EXACT cosine (n4's two-stage recipe; [[Similarity.pqTopKReranked]])
    * before the final top-3 cut. Graded as recall@3 of the reranked top-3
    * vs the exact cosine top-3 — an integer result immune to float jitter
    * in the trained codebook, since BOTH engines replay encode + ADC +
    * rerank from the same staged floats (the n3 practice).
    */
  def annPq(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    // train on a deterministic 1-in-4 sample, the production shape (n3)
    Similarity.pqTrain(emb.filter(col("vec_id") % 4 === 0), m = 4, subDim = 16,
        k = 16, iters = 3)
      .write.mode("overwrite").parquet(s"${TarQueries.StageDir}/n5_pq.parquet")
    val cb = spark.read.parquet(s"${TarQueries.StageDir}/n5_pq.parquet")
    val probeFilter = col("vec_id") % 50 === 0
    val pq = Similarity.pqTopKReranked(emb, cb, probeFilter, k = 3, pool = 10,
      m = 4, subDim = 16)
    val exact = Similarity.bruteForceTopK(emb, emb.filter(probeFilter), k = 3)
    val hits = pq.join(exact, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("n_hits"))
    emb.filter(probeFilter).select(col("vec_id").as("probe_id"))
      .join(hits, Seq("probe_id"), "left_outer")
      .select(col("probe_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  val annPqSql: String =
    s"""WITH cb AS (SELECT subspace, code, CAST(embedding AS DOUBLE[]) AS ce
       |            FROM read_parquet('${TarQueries.StageDir}/n5_pq.parquet/*.parquet')),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
       |un AS (SELECT vec_id,
       |              list_transform(ed, x -> x / sqrt(list_inner_product(ed, ed))) AS u
       |       FROM e),
       |sv AS (SELECT un.vec_id, cb.subspace, cb.code,
       |              list_inner_product(
       |                u[CAST(1 + subspace * 16 AS INT):CAST(subspace * 16 + 16 AS INT)],
       |                ce) AS s
       |       FROM un CROSS JOIN cb),
       |codes AS (SELECT vec_id, subspace, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
       |                                 ORDER BY s DESC, code ASC) AS rn FROM sv)
       |  WHERE rn = 1),
       |ptab AS (SELECT vec_id AS p_id, subspace, code, s AS pdot
       |         FROM sv WHERE vec_id % 50 = 0),
       |cand AS (
       |  SELECT c.vec_id, p.p_id,
       |         SUM(CASE WHEN c.subspace = 0 THEN pdot END) AS s0,
       |         SUM(CASE WHEN c.subspace = 1 THEN pdot END) AS s1,
       |         SUM(CASE WHEN c.subspace = 2 THEN pdot END) AS s2,
       |         SUM(CASE WHEN c.subspace = 3 THEN pdot END) AS s3
       |  FROM codes c JOIN ptab p ON p.subspace = c.subspace AND p.code = c.code
       |  WHERE c.vec_id <> p.p_id GROUP BY 1, 2),
       |pool AS (SELECT p_id, vec_id FROM (
       |    SELECT p_id, vec_id, s0 + s1 + s2 + s3 AS adc,
       |           row_number() OVER (PARTITION BY p_id
       |                              ORDER BY s0 + s1 + s2 + s3 DESC, vec_id ASC) AS rnk
       |    FROM cand)
       |  WHERE rnk <= 10),
       |probes AS (SELECT vec_id AS p_id, ed AS pe FROM e WHERE vec_id % 50 = 0),
       |rr AS (
       |  SELECT pool.p_id, pool.vec_id,
       |         list_cosine_similarity(p.pe, c.ed) AS cos
       |  FROM pool JOIN probes p ON p.p_id = pool.p_id
       |            JOIN e c ON c.vec_id = pool.vec_id),
       |pq3 AS (SELECT p_id, vec_id FROM (
       |    SELECT p_id, vec_id,
       |           row_number() OVER (PARTITION BY p_id
       |                              ORDER BY cos DESC, vec_id ASC) AS rnk
       |    FROM rr)
       |  WHERE rnk <= 3),
       |scored AS (
       |  SELECT p.p_id, c.vec_id, list_cosine_similarity(p.pe, c.ed) AS cos
       |  FROM probes p JOIN e c ON c.vec_id != p.p_id),
       |exact AS (SELECT p_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY p_id
       |                                 ORDER BY cos DESC, vec_id ASC) AS rnk
       |    FROM scored)
       |  WHERE rnk <= 3)
       |SELECT probes.p_id AS probe_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits
       |FROM probes LEFT JOIN (
       |  SELECT pq3.p_id, COUNT(*) AS n_hits
       |  FROM pq3 JOIN exact ON pq3.p_id = exact.p_id AND pq3.vec_id = exact.vec_id
       |  GROUP BY 1) h ON h.p_id = probes.p_id""".stripMargin

  /** Train-once/serve-many IVF-PQ artifacts, staged under
    * `StageDir/<key>_*.parquet` (the oracle SQL names those paths):
    * coarse centroids (k=8) and residual codebook (m=4, subDim=16, 16
    * codes) trained on the deterministic 1-in-4 sample of `corpus`, plus
    * `corpus` coded into the index (`<key>_<indexName>`) — the artifact
    * a serving system persists (FAISS writes the coded lists, not just
    * the codebooks), so per-call work is search, not a corpus re-code.
    * Returns (centroids, codebook) readers and the index path (a reader
    * costs a schema-inference job; n6 never reads the index).
    */
  private def stageIvfPq(spark: SparkSession, key: String, sfDir: String,
                         corpus: DataFrame, centroidIters: Int, pqIters: Int,
                         indexName: String = "index")
      : (DataFrame, DataFrame, String) = {
    val Seq(centPath, cbPath, idxPath) = Seq("centroids", "pq", indexName)
      .map(n => s"${TarQueries.StageDir}/${key}_$n.parquet")
    Staged(key, sfDir, Seq(centPath, cbPath, idxPath)) {
      val sample = corpus.filter(col("vec_id") % 4 === 0)
      Similarity.trainCentroids(sample, k = 8, iters = centroidIters)
        .write.mode("overwrite").parquet(centPath)
      val c = spark.read.parquet(centPath)
      Similarity.ivfPqTrainResiduals(sample, c, m = 4, subDim = 16, k = 16,
          iters = pqIters)
        .write.mode("overwrite").parquet(cbPath)
      Similarity.ivfPqBuildIndex(corpus, c, spark.read.parquet(cbPath),
          m = 4, subDim = 16)
        .write.mode("overwrite").parquet(idxPath)
    }
    (spark.read.parquet(centPath), spark.read.parquet(cbPath), idxPath)
  }

  /** The SHARED full-corpus quantizers + index of n6 (batch grading) and
    * n8 (filtered search): identical training sample and hyperparameters,
    * so one training serves both (training per graded call cost ~3-4 s
    * of bench).
    */
  private def stageSharedIvfPq(spark: SparkSession, sfDir: String,
                               emb: DataFrame): (DataFrame, DataFrame, String) =
    stageIvfPq(spark, "ivf", sfDir, emb, centroidIters = 4, pqIters = 3)

  /** N6 — IVF-PQ end-to-end (the FAISS IVFPQ composition;
    * [[graft.ops.Similarity.ivfPqTopK]]): n3's coarse quantizer bounds
    * WHERE to look (top-2 of 8 cells per probe), n5's product quantizer —
    * retrained on cell RESIDUALS — bounds per-vector memory, and the
    * inner product decomposes exactly into a per-(probe, cell) constant
    * plus m ADC lookups. The ADC top-10 pool reranks by exact cosine
    * (the n4/n5 recipe) before the top-3 cut. Both quantizers train on
    * the 1-in-4 sample and stage to parquet (train-once/serve-many);
    * graded as recall@3 vs exact — both engines replay assignment,
    * residuals, codes, ADC, and rerank from the same staged floats.
    */
  def annIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val (cents, cb, _) = stageSharedIvfPq(spark, sfDir, emb)
    val probeFilter = col("vec_id") % 50 === 0
    val ann = Similarity.ivfPqTopK(emb, cents, cb, probeFilter, k = 3,
      pool = 10, nprobe = 2, m = 4, subDim = 16)
    val exact = Similarity.bruteForceTopK(emb, emb.filter(probeFilter), k = 3)
    val hits = ann.join(exact, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("n_hits"))
    emb.filter(probeFilter).select(col("vec_id").as("probe_id"))
      .join(hits, Seq("probe_id"), "left_outer")
      .select(col("probe_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** The shared IVF-PQ replay CTE chain (through `rr`, the exact-cosine
    * rerank of each probe's ADC top-10 pool), parameterized by the staged
    * quantizer paths so n6 (batch grading), n7/st8 (serve paths), and n8
    * (filtered search) replay the same machinery against their own staged
    * floats. `extraCtes` (a full CTE definition ending in a comma)
    * splices additional relations into the chain; `candJoin` (a JOIN
    * clause against `resid`) restricts the candidate set INSIDE the ADC
    * CTE — the oracle-side mirror of n8's pre-ADC eligibility semi-join.
    */
  private def ivfPqOracleCtes(centPath: String, cbPath: String,
                              extraCtes: String = "",
                              candJoin: String = ""): String =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |un AS (SELECT vec_id,
       |              list_transform(e, x -> x / sqrt(list_inner_product(e, e))) AS u
       |       FROM c),
       |cent AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS ce
       |         FROM read_parquet('$centPath/*.parquet')),
       |centu AS (SELECT c_id,
       |                 list_transform(ce, x -> x / sqrt(list_inner_product(ce, ce))) AS cu
       |          FROM cent),
       |assign AS (
       |  SELECT vec_id, c_id AS cell FROM (
       |    SELECT c.vec_id, cent.c_id,
       |           row_number() OVER (PARTITION BY c.vec_id
       |                              ORDER BY list_cosine_similarity(ce, e) DESC, c_id ASC) AS rn
       |    FROM c CROSS JOIN cent)
       |  WHERE rn = 1),
       |resid AS (
       |  SELECT un.vec_id, a.cell,
       |         list_transform(range(1, len(u) + 1),
       |                        i -> u[CAST(i AS INT)] - cu[CAST(i AS INT)]) AS r
       |  FROM un JOIN assign a ON a.vec_id = un.vec_id
       |          JOIN centu ON centu.c_id = a.cell),
       |cb AS (SELECT subspace, code, CAST(embedding AS DOUBLE[]) AS ce
       |       FROM read_parquet('$cbPath/*.parquet')),
       |$extraCtes
       |sv AS (SELECT resid.vec_id, cb.subspace, cb.code,
       |              list_inner_product(
       |                r[CAST(1 + subspace * 16 AS INT):CAST(subspace * 16 + 16 AS INT)],
       |                ce) AS s
       |       FROM resid CROSS JOIN cb),
       |codes AS (SELECT vec_id, subspace, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
       |                                 ORDER BY s DESC, code ASC) AS rn FROM sv)
       |  WHERE rn = 1),
       |pcells AS (
       |  SELECT vec_id AS p_id, c_id AS cell FROM (
       |    SELECT c.vec_id, cent.c_id,
       |           row_number() OVER (PARTITION BY c.vec_id
       |                              ORDER BY list_cosine_similarity(ce, e) DESC, c_id ASC) AS rn
       |    FROM c CROSS JOIN cent WHERE c.vec_id % 50 = 0)
       |  WHERE rn <= 2),
       |probes AS (SELECT vec_id AS p_id, e AS pe FROM c WHERE vec_id % 50 = 0),
       |punit AS (SELECT vec_id AS p_id, u AS pu FROM un WHERE vec_id % 50 = 0),
       |cconst AS (
       |  SELECT pc.p_id, pc.cell, list_inner_product(pu, cu) AS cc
       |  FROM pcells pc JOIN centu ON centu.c_id = pc.cell
       |                 JOIN punit ON punit.p_id = pc.p_id),
       |ptab AS (SELECT punit.p_id, cb.subspace, cb.code,
       |                list_inner_product(
       |                  pu[CAST(1 + subspace * 16 AS INT):CAST(subspace * 16 + 16 AS INT)],
       |                  ce) AS pdot
       |         FROM punit CROSS JOIN cb),
       |cand AS (
       |  SELECT cc.p_id, resid.vec_id, cc.cc,
       |         SUM(CASE WHEN k.subspace = 0 THEN pdot END) AS s0,
       |         SUM(CASE WHEN k.subspace = 1 THEN pdot END) AS s1,
       |         SUM(CASE WHEN k.subspace = 2 THEN pdot END) AS s2,
       |         SUM(CASE WHEN k.subspace = 3 THEN pdot END) AS s3
       |  FROM resid
       |  JOIN cconst cc ON cc.cell = resid.cell AND resid.vec_id <> cc.p_id
       |  JOIN codes k ON k.vec_id = resid.vec_id
       |  $candJoin
       |  JOIN ptab p ON p.p_id = cc.p_id AND p.subspace = k.subspace
       |             AND p.code = k.code
       |  GROUP BY 1, 2, 3),
       |pool AS (SELECT p_id, vec_id FROM (
       |    SELECT p_id, vec_id,
       |           row_number() OVER (PARTITION BY p_id
       |                              ORDER BY cc + s0 + s1 + s2 + s3 DESC, vec_id ASC) AS rnk
       |    FROM cand)
       |  WHERE rnk <= 10),
       |rr AS (
       |  SELECT pool.p_id, pool.vec_id,
       |         list_cosine_similarity(p.pe, c.e) AS cos
       |  FROM pool JOIN probes p ON p.p_id = pool.p_id
       |            JOIN c ON c.vec_id = pool.vec_id)""".stripMargin

  val annIvfPqSql: String =
    s"""${ivfPqOracleCtes(s"${TarQueries.StageDir}/ivf_centroids.parquet",
          s"${TarQueries.StageDir}/ivf_pq.parquet")},
       |ann3 AS (SELECT p_id, vec_id FROM (
       |    SELECT p_id, vec_id,
       |           row_number() OVER (PARTITION BY p_id
       |                              ORDER BY cos DESC, vec_id ASC) AS rnk
       |    FROM rr)
       |  WHERE rnk <= 3),
       |scored AS (
       |  SELECT p.p_id, c.vec_id, list_cosine_similarity(p.pe, c.e) AS cos
       |  FROM probes p JOIN c ON c.vec_id != p.p_id),
       |exact AS (SELECT p_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY p_id
       |                                 ORDER BY cos DESC, vec_id ASC) AS rnk
       |    FROM scored)
       |  WHERE rnk <= 3)
       |SELECT probes.p_id AS probe_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits
       |FROM probes LEFT JOIN (
       |  SELECT ann3.p_id, COUNT(*) AS n_hits
       |  FROM ann3 JOIN exact ON ann3.p_id = exact.p_id AND ann3.vec_id = exact.vec_id
       |  GROUP BY 1) h ON h.p_id = probes.p_id""".stripMargin

  /** N8 — FILTERED ANN, the RAG retrieval shape: "top-k among docs WHERE
    * lang='en' AND n_chars ≥ 200". The metadata predicate (an eligibility
    * set from the documents table) SEMI-JOINS the index's (vec_id, cell)
    * slice BEFORE the per-cell candidate fan-out, so the ADC compressed-
    * domain scoring — the cost that scales with the corpus — only touches
    * eligible vectors, and the exact rerank sees an already-filtered
    * pool. The alternative, filtering AFTER an unfiltered top-k, returns
    * fewer than k (often zero) rows whenever the predicate is selective —
    * the classic filtered-ANN failure this operator exists to avoid; a
    * PlanSpec pin holds the semi-join below the ADC aggregate. Quantizers
    * come from the shared sfDir-memoized stage ([[stageSharedIvfPq]], the n7
    * train-once posture); only the index build + search run per call. The
    * oracle replays the same staged floats with the same eligibility join
    * spliced into its candidate CTE.
    */
  def annFiltered(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val (cents, cb, idxPath) = stageSharedIvfPq(spark, sfDir, emb)
    val index = spark.read.parquet(idxPath)
    val eligible = Tables.documents(spark, sfDir)
      .filter(col("lang") === "en" && col("n_chars") >= 200)
      .select(col("doc_id").as("vec_id"))
    val res = index.filter(col("subspace") === 0).select("vec_id", "cell")
      .join(eligible, Seq("vec_id"), "left_semi")
    Similarity.ivfPqTopKParts(res, index.select("vec_id", "subspace", "code"),
      emb, cents, cb, probeSet = emb.filter(col("vec_id") % 50 === 0),
      k = 3, pool = 10, nprobe = 2, m = 4, subDim = 16)
  }

  val annFilteredSql: String =
    s"""${ivfPqOracleCtes(s"${TarQueries.StageDir}/ivf_centroids.parquet",
          s"${TarQueries.StageDir}/ivf_pq.parquet",
          extraCtes = "elig AS (SELECT doc_id AS vec_id FROM documents " +
            "WHERE lang = 'en' AND n_chars >= 200),",
          candJoin = "JOIN elig ON elig.vec_id = resid.vec_id")}
       |SELECT p_id AS probe_id, vec_id AS neighbor_id, CAST(rnk AS BIGINT) AS rank
       |FROM (SELECT p_id, vec_id,
       |             row_number() OVER (PARTITION BY p_id
       |                                ORDER BY cos DESC, vec_id ASC) AS rnk
       |      FROM rr)
       |WHERE rnk <= 3""".stripMargin

  /** N9 — capacity-capped balanced shard assignment
    * ([[graft.ops.Similarity.balancedAssign]]): the embedding-serving
    * layout problem. Centroids train on the deterministic 1-in-4 sample
    * (the n3 practice) and stage to parquet; BOTH engines then replay the
    * two-choice greedy seating from the same staged floats, so the hash
    * match grades the full assignment — every vector's shard and which
    * round seated it. Cap = ceil(1.25 · n / k): 25% headroom over the
    * uniform share, the knob that trades residual imbalance against
    * second-choice displacement.
    */
  def balancedShards(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    Similarity.trainCentroids(emb.filter(col("vec_id") % 4 === 0), k = 8, iters = 4)
      .write.mode("overwrite").parquet(s"${TarQueries.StageDir}/n9_centroids.parquet")
    val cents = spark.read.parquet(s"${TarQueries.StageDir}/n9_centroids.parquet")
    val n = Tables.rowCount(spark, sfDir, "embeddings")
    Similarity.balancedAssign(emb, cents, cap = (5 * n + 31) / 32)
  }

  val balancedShardsSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cent AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS ce
       |         FROM read_parquet('${TarQueries.StageDir}/n9_centroids.parquet/*.parquet')),
       |cap AS (SELECT (5 * COUNT(*) + 31) // 32 AS cap FROM embeddings),
       |sc AS (SELECT e.vec_id, c_id, list_cosine_similarity(ce, e.e) AS cos
       |       FROM e CROSS JOIN cent),
       |prefs AS (SELECT * FROM (
       |    SELECT vec_id, c_id AS cell, cos,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY cos DESC, c_id ASC) AS crank
       |    FROM sc) WHERE crank <= 2),
       |r1 AS (SELECT vec_id, cell, cos,
       |              row_number() OVER (PARTITION BY cell
       |                                 ORDER BY cos DESC, vec_id ASC) AS seat
       |       FROM prefs WHERE crank = 1),
       |seated1 AS (SELECT vec_id, cell, CAST(1 AS BIGINT) AS seated_round
       |            FROM r1, cap WHERE seat <= cap),
       |used AS (SELECT cell, COUNT(*) AS n_used FROM seated1 GROUP BY 1),
       |ev AS (SELECT p.vec_id, p.cell, p.cos,
       |              row_number() OVER (PARTITION BY p.cell
       |                                 ORDER BY p.cos DESC, p.vec_id ASC) AS seat
       |       FROM prefs p JOIN r1 ON r1.vec_id = p.vec_id CROSS JOIN cap
       |       WHERE p.crank = 2 AND r1.seat > cap)
       |SELECT ev.vec_id, ev.cell,
       |       CAST(CASE WHEN ev.seat <= cap - COALESCE(n_used, 0)
       |                 THEN 2 ELSE 3 END AS BIGINT) AS seated_round
       |FROM ev LEFT JOIN used USING (cell) CROSS JOIN cap
       |UNION ALL
       |SELECT vec_id, cell, seated_round FROM seated1""".stripMargin

  /** n7/n13's shared serve over the staged quantizers: code the arriving
    * delta, append to the base index, apply `mask` to the SERVED index
    * (n7 serves everything; n13 masks its tombstones), search the full
    * probe set. One definition keeps the index parameters and the delta
    * rule in lockstep between the update and delete grades (review r17).
    * Checkpoint only the delta slice — the search reads the index on two
    * branches, and the base side is already parquet-backed.
    */
  private def n7Serve(spark: SparkSession, sfDir: String,
                      mask: org.apache.spark.sql.Column): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val base = emb.filter(col("vec_id") % 10 =!= 7)
    val delta = emb.filter(col("vec_id") % 10 === 7)
    // train-once, shared with n13: quantizers train on the BASE corpus
    // (delta vectors excluded — the grade covers vectors the quantizers
    // never saw) and stage with the base index
    val (cents, cb, baseIdxPath) = stageIvfPq(spark, "n7", sfDir, base,
      centroidIters = 2, pqIters = 2, indexName = "base_index")
    val baseIdx = spark.read.parquet(baseIdxPath)
    val deltaIdx = Similarity.ivfPqBuildIndex(delta, cents, cb, m = 4, subDim = 16)
      .localCheckpoint()
    Similarity.ivfPqTopKIndexed(baseIdx.unionByName(deltaIdx).filter(mask),
      emb, cents, cb,
      probeSet = emb.filter(col("vec_id") % 50 === 0),
      k = 3, pool = 10, nprobe = 2, m = 4, subDim = 16)
  }

  /** N7 — IVF-PQ index UPDATE, the daily-ingest analogue of d10: the
    * quantizers (coarse centroids + residual codebook) train ONCE on the
    * base corpus (`vec_id % 10 != 7`) and stage to parquet with the base
    * index; the "daily" delta (`vec_id % 10 == 7`) is then appended by
    * replaying assignment from the STAGED quantizers — cell argmax +
    * residual PQ codes are pure functions of (centroids, codebook), so
    * append ≡ full rebuild, bit-for-bit, with zero retraining and
    * delta-sized work. Search serves the updated (base ∪ delta) index
    * over the full probe set; the oracle replays the from-scratch rebuild
    * from the same staged floats, so the hash match IS the
    * update-equals-rebuild guarantee. At 100 TB this is the difference
    * between a delta-sized nightly job and re-coding the whole corpus.
    */
  def annIvfPqUpdate(spark: SparkSession, sfDir: String): DataFrame =
    n7Serve(spark, sfDir, mask = lit(true))

  /** N13 — IVF-PQ index DELETE, the other half of production index
    * upkeep (n7 owns appends): 10% of vectors tombstone by the
    * deterministic rule `vec_id % 10 = 3`, and search serves
    * base ∪ delta ∖ tombstones — the FAISS `remove_ids`/tombstone-mask
    * pattern, delete-sized work with zero retraining. Index rows are
    * per-vector pure functions of the STAGED quantizers (n7's argument),
    * so masking the index IS the from-scratch rebuild without those
    * vectors; the oracle replays that rebuild (same staged floats, the
    * tombstone set removed ahead of the ADC candidate stage), so the
    * hash match grades both that no deleted vector is ever returned and
    * that survivors' ranks shift exactly as a rebuild would shift them.
    * `SimilaritySpec` additionally pins delete-then-compact ≡ rebuild at
    * the index-row level.
    */
  def annDelete(spark: SparkSession, sfDir: String): DataFrame =
    // THE delete: mask the tombstone set out of the servable index — a
    // pruned scan-side filter, never a rewrite of surviving rows
    n7Serve(spark, sfDir, mask = col("vec_id") % 10 =!= 3)

  val annDeleteSql: String =
    s"""${ivfPqOracleCtes(s"${TarQueries.StageDir}/n7_centroids.parquet",
          s"${TarQueries.StageDir}/n7_pq.parquet",
          candJoin =
            "JOIN (SELECT vec_id FROM c WHERE vec_id % 10 != 3) keep ON keep.vec_id = resid.vec_id")}
       |SELECT p_id AS probe_id, vec_id AS neighbor_id, CAST(rnk AS BIGINT) AS rank
       |FROM (SELECT p_id, vec_id,
       |             row_number() OVER (PARTITION BY p_id
       |                                ORDER BY cos DESC, vec_id ASC) AS rnk
       |      FROM rr)
       |WHERE rnk <= 3""".stripMargin

  val annIvfPqUpdateSql: String =
    s"""${ivfPqOracleCtes(s"${TarQueries.StageDir}/n7_centroids.parquet",
          s"${TarQueries.StageDir}/n7_pq.parquet")}
       |SELECT p_id AS probe_id, vec_id AS neighbor_id, CAST(rnk AS BIGINT) AS rank
       |FROM (SELECT p_id, vec_id,
       |             row_number() OVER (PARTITION BY p_id
       |                                ORDER BY cos DESC, vec_id ASC) AS rnk
       |      FROM rr)
       |WHERE rnk <= 3""".stripMargin

  /** ST8 — streaming ANN serving ([[graft.streaming.StreamAnn]]): the
    * IVF-PQ quantizers build batch-side and stage to parquet, then the
    * SAME probe set arrives as a stream (two files → two micro-batches)
    * and each micro-batch runs the compressed-domain search + exact
    * rerank against the staged index — the online-retrieval counterpart
    * of st6's LM gate. Output: `(probe_id, neighbor_id, rank)`; per-probe
    * results are batch-split-invariant (each query is answered
    * independently), so the oracle replays the batch IVF-PQ definition.
    */
  def annServe(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    // Train-once/serve-many, literally: the quantizers and the servable
    // index build OFFLINE (st8's contract — "quantizers and codes build
    // batch-side and stage to parquet") and every subsequent serve call
    // in the JVM reuses the staged artifacts, exactly like the probe
    // staging below and st3's source staging. The graded surface is the
    // SERVE path: stream ≡ batch replay from the staged floats.
    // fewer Lloyd rounds than n6: st8 grades SERVE consistency, not
    // quantizer quality — n6 owns that — so the build cost stays small
    val (cents, cb, idxPath) = stageIvfPq(spark, "st8", sfDir, emb,
      centroidIters = 2, pqIters = 2)
    val index = spark.read.parquet(idxPath)
    val stream = Arrivals("st8_probes", sfDir) {
      val probes = emb.filter(col("vec_id") % 50 === 0)
      Seq(probes.filter(col("vec_id") % 100 === 0),
        probes.filter(col("vec_id") % 100 === 50))
    }
    val out = s"${TarQueries.StageDir}/st8_topk.parquet"
    graft.io.FsOps.deletePrefix(spark, out)
    Arrivals.scratch { ckpt =>
      graft.streaming.StreamAnn.serveTopK(stream, index, emb, cents, cb, out,
        ckpt, k = 3, pool = 10, nprobe = 2, m = 4, subDim = 16)
    }
    // an all-empty probe stream writes nothing (foreachBatch skips empty
    // batches) — answer with an empty result, not a missing-path error
    if (graft.io.FsOps.exists(spark, out)) spark.read.parquet(out)
    else
      spark.range(0).select(col("id").as("probe_id"), col("id").as("neighbor_id"),
        col("id").as("rank"))
  }

  val annServeSql: String =
    s"""${ivfPqOracleCtes(s"${TarQueries.StageDir}/st8_centroids.parquet",
          s"${TarQueries.StageDir}/st8_pq.parquet")}
       |SELECT p_id AS probe_id, vec_id AS neighbor_id, CAST(rnk AS BIGINT) AS rank
       |FROM (SELECT p_id, vec_id,
       |             row_number() OVER (PARTITION BY p_id
       |                                ORDER BY cos DESC, vec_id ASC) AS rnk
       |      FROM rr)
       |WHERE rnk <= 3""".stripMargin

  /** N14 — distributed fixed-point Lloyd k-means
    * ([[graft.ops.KMeans]]): k=4 clusters over the 64-dim corpus, 3 full
    * assign→update rounds on the cluster (one k-sized aggregate per
    * round, centroids broadcast as plan literals), then every point's
    * final (cluster, exact integer d²). The classic corpus-curation
    * operator (topic bucketing / cluster-balanced sampling); integer
    * arithmetic makes all three rounds bit-exact cross-engine, so the
    * DuckDB twin unrolls them as CTE triples (the g1 pattern) over the
    * dim-exploded point table and hashes identically.
    */
  def kmeansClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"),
        graft.ops.KMeans.quantize(col("embedding")).as("q"))
    graft.ops.KMeans.fit(pts, k = 4, iters = 3)
      .select(col("id").as("vec_id"), col("cluster"), col("d2"))
  }

  /** The shared Lloyd-unroll oracle: 3 CTE triples (distances, packed
    * argmin assignment, centroid update — empty cluster keeps the old
    * centroid) over the dim-exploded point table, parameterized by the
    * `c0` seeding CTE chain (n14 seeds with the k lowest ids; n16 with
    * the deterministic k-means++ argmax chain). The LAST CTE in `c0Ctes`
    * must be named `c0` with columns (c, dim, q).
    */
  private def lloydOracleSql(c0Ctes: String): String = {
    val rounds = (1 to 3).map { r =>
      s"""d$r AS (SELECT p.id, c.c, CAST(SUM((p.q - c.q) * (p.q - c.q)) AS BIGINT) AS d2
         |  FROM pts p JOIN c${r - 1} c USING (dim) GROUP BY 1, 2),
         |a$r AS (SELECT id, MIN(d2 * 64 + c) % 64 AS c FROM d$r GROUP BY id),
         |u$r AS (SELECT a.c, p.dim, CAST(SUM(p.q) AS BIGINT) // COUNT(*) AS q
         |  FROM pts p JOIN a$r a USING (id) GROUP BY 1, 2),
         |c$r AS (SELECT c${r - 1}.c, c${r - 1}.dim, COALESCE(u.q, c${r - 1}.q) AS q
         |  FROM c${r - 1} LEFT JOIN u$r u ON u.c = c${r - 1}.c AND u.dim = c${r - 1}.dim)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH pts AS (
       |  SELECT vec_id AS id, u.i - 1 AS dim,
       |         CAST(FLOOR((CAST(embedding[u.i] AS DOUBLE) + 1.0) * 1000000) AS BIGINT) AS q
       |  FROM embeddings, UNNEST(generate_series(1, 64)) AS u(i)),
       |$c0Ctes,
       |$rounds,
       |fin AS (SELECT p.id, c.c, CAST(SUM((p.q - c.q) * (p.q - c.q)) AS BIGINT) AS d2
       |  FROM pts p JOIN c3 c USING (dim) GROUP BY 1, 2)
       |SELECT id AS vec_id, MIN(d2 * 64 + c) % 64 AS cluster,
       |       MIN(d2 * 64 + c) // 64 AS d2
       |FROM fin GROUP BY id""".stripMargin
  }

  val kmeansClustersSql: String = lloydOracleSql(
    """c0 AS (
      |  SELECT DENSE_RANK() OVER (ORDER BY id) - 1 AS c, dim, q
      |  FROM pts
      |  WHERE id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4))"""
      .stripMargin)

  /** N15 — cluster-balanced sampling (the topic-balancing resample
    * cluster-curation runs AFTER k-means — cap each topic's share so no
    * cluster dominates the mix): per n14 cluster, keep up to 118 vectors
    * chosen by md5(vec_id) order (deterministic, uniform, and identical
    * text ordering in both engines — the t6 bucket trick as a ranking).
    * The per-cluster cap rides `row_number ≤ k` over a cluster-keyed
    * window — WindowGroupLimit keeps k rows per cluster below the sort,
    * so at 100 TB only cap·k rows survive the exchange. Non-vacuous at
    * sf0.01 (cluster sizes 112/120/121/147): three clusters bind at the
    * cap, one keeps everything.
    */
  def clusterSample(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster")
      .orderBy(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
    // ONE clustering definition: n15 is exactly n14 + the capped window
    // (review r19 — three re-inlined fit(k, iters) copies drifted apart
    // from the shared oracle CTEs otherwise)
    kmeansClusters(spark, sfDir)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 118)
      .select(col("vec_id"), col("cluster"), col("rk"))
  }

  val clusterSampleSql: String =
    s"""WITH n14 AS ($kmeansClustersSql)
       |SELECT vec_id, cluster, CAST(rk AS BIGINT) AS rk
       |FROM (SELECT vec_id, cluster,
       |             row_number() OVER (PARTITION BY cluster
       |               ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS rk
       |      FROM n14)
       |WHERE rk <= 118""".stripMargin

  /** ST17 — streaming k-means assignment serving
    * ([[graft.streaming.StreamKMeans]]): the n14 centroids train
    * batch-side (same k=4 / 3 Lloyd rounds — ONE clustering definition),
    * then the SAME corpus arrives as a stream (two files → two
    * micro-batches) and each batch runs the pure assignment projection —
    * the ingest-door topic routing of a curation pipeline, st6/st8's
    * train-offline/serve-online posture applied to clustering. Per-row
    * independence makes the union of micro-batches bit-identical to the
    * batch fit, so the oracle IS n14's — the stream ≡ batch pin.
    */
  def kmeansServe(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    // train-once/serve-many: the k×dim integer array is driver-held and
    // bounded, so the memo is a value, not a path
    val cents = Staged("st17_cents", sfDir, Nil) {
      val pts = emb.select(col("vec_id").as("id"),
        graft.ops.KMeans.quantize(col("embedding")).as("q"))
      graft.ops.KMeans.lloyd(pts, k = 4, iters = 3)._1
    }
    val stream = Arrivals("st17_probes", sfDir) {
      Seq(emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1))
    }
    val out = s"${TarQueries.StageDir}/st17_assign.parquet"
    graft.io.FsOps.deletePrefix(spark, out)
    Arrivals.scratch { ckpt =>
      graft.streaming.StreamKMeans.serveAssign(stream, cents, out, ckpt)
    }
    spark.read.parquet(out)
      .select(col("id").as("vec_id"), col("cluster"), col("d2"))
  }

  /** N16 — deterministic k-means++ D² seeding
    * ([[graft.ops.KMeans.fitPlusPlus]]): the SAME k=4 / 3-round Lloyd
    * engine as n14, but seeded by the farthest-point argmax chain
    * (exact integer d² to the current seed set, md5-then-id tie-break)
    * instead of the quality-blind k lowest ids. Every seeding round is
    * one top-1 aggregate over the pinned point table, so the chain is
    * k bounded driver rounds — and fully replayable in ANSI SQL, which
    * is what the oracle does (the n14 CTE unroll with the seeding chain
    * swapped in as `c0`). a9 grades the inertia contrast between the
    * two seedings.
    */
  def kmeansPlusPlus(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"),
        graft.ops.KMeans.quantize(col("embedding")).as("q"))
    graft.ops.KMeans.fitPlusPlus(pts, k = 4, iters = 3)
      .select(col("id").as("vec_id"), col("cluster"), col("d2"))
  }

  val kmeansPlusPlusSql: String = {
    // seed 0 = lowest id; seed j = argmax of MIN d² to seeds 0..j-1,
    // ties by (md5(id), id) — exactly KMeans.seedPlusPlus's chain
    val seeding = (1 to 3).map { j =>
      s"""sd$j AS (SELECT p.id, s.c, CAST(SUM((p.q - s.q) * (p.q - s.q)) AS BIGINT) AS d2
         |  FROM pts p JOIN seeds${j - 1} s USING (dim) GROUP BY 1, 2),
         |sm$j AS (SELECT id FROM (SELECT id, MIN(d2) AS d2 FROM sd$j GROUP BY id)
         |  ORDER BY d2 DESC, md5(CAST(id AS VARCHAR)) ASC, id ASC LIMIT 1),
         |seeds$j AS (SELECT * FROM seeds${j - 1} UNION ALL
         |  SELECT $j AS c, dim, q FROM pts WHERE id = (SELECT id FROM sm$j))"""
        .stripMargin
    }.mkString(",\n")
    lloydOracleSql(
      s"""seeds0 AS (SELECT 0 AS c, dim, q FROM pts WHERE id = (SELECT MIN(id) FROM pts)),
         |$seeding,
         |c0 AS (SELECT c, dim, q FROM seeds3)""".stripMargin)
  }

  /** A9 — clustering-quality report (the elbow-method statistic a
    * curation run reads before picking k): per cluster AND per seeding
    * strategy (n14's lowest-id vs n16's k-means++ chain), the member
    * count, total INERTIA (Σ d² — exact integers straight off the
    * assignment), and the integer mean distortion `inertia div n`. A
    * 2k-row rollup of the two assignments — the clustering-evaluation
    * member of the eval family (h6 recall/MRR, h7 nDCG, t25 gate eval),
    * now also the GRADED seeding contrast the ++ variant exists for.
    */
  def clusterQuality(spark: SparkSession, sfDir: String): DataFrame = {
    def roll(assigned: DataFrame, tag: String): DataFrame =
      assigned.groupBy("cluster")
        .agg(count(lit(1)).as("n"), sum(col("d2")).as("inertia"))
        .withColumn("mean_d2", expr("inertia div n"))
        .select(lit(tag).as("seeding"), col("cluster"), col("n"),
          col("inertia"), col("mean_d2"))
    // ONE pinned point table shared by both seedings (each arm used to
    // re-checkpoint the same quantized scan), and the two seedings'
    // bounded driver-round chains — independent job sequences — overlap
    // on two threads (guide §2.6): each chain is latency-bound small
    // collects, so overlapping nearly halves the wall time. Both arms
    // are the SAME fitPinned/fitPlusPlusPinned engines n14/n16 grade;
    // rows are bit-identical to the sequential form.
    val pts = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"),
        graft.ops.KMeans.quantize(col("embedding")).as("q"))
      .localCheckpoint()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val low = Future(graft.ops.KMeans.fitPinned(pts, k = 4, iters = 3)
      .select(col("id").as("vec_id"), col("cluster"), col("d2")))
    val pp = Future(graft.ops.KMeans.fitPlusPlusPinned(pts, k = 4, iters = 3)
      .select(col("id").as("vec_id"), col("cluster"), col("d2")))
    // both arms finish before either result is read, so a failing arm
    // leaves no orphaned jobs running; the first failure is rethrown
    val Seq(lowRows, ppRows) =
      Seq(low, pp).map(Await.ready(_, Duration.Inf)).map(_.value.get.get)
    roll(lowRows, "lowest_id").unionAll(roll(ppRows, "kmeanspp"))
  }

  /** One rollup arm of a9's oracle — the SQL mirror of the Scala-side
    * `roll(assigned, tag)`, so the two seedings' grading logic stays
    * single-sourced (review r20).
    */
  private def rollSql(cte: String, tag: String): String =
    s"""SELECT '$tag' AS seeding, cluster, COUNT(*) AS n,
       |       CAST(SUM(d2) AS BIGINT) AS inertia,
       |       CAST(SUM(d2) AS BIGINT) // COUNT(*) AS mean_d2
       |FROM $cte GROUP BY cluster""".stripMargin

  val clusterQualitySql: String =
    s"""WITH n14 AS ($kmeansClustersSql),
       |n16 AS ($kmeansPlusPlusSql)
       |${rollSql("n14", "lowest_id")}
       |UNION ALL
       |${rollSql("n16", "kmeanspp")}""".stripMargin

  /** C5 — the curation-pipeline capstone: the four stages a topic-balanced
    * training-mix build chains, as ONE query over the d-family's
    * augmented corpus (real docs ∪ planted near/exact dups):
    *   1. GATE — integer-only quality floor (length ≥ 100 and alpha
    *      chars ≥ half the text: the t2 ratios as exact comparisons);
    *      drops 44 of 545 corpus rows at sf0.01.
    *   2. DEDUP — exact by content fingerprint, keep the lowest doc_id
    *      and CARRY the copy count (d1/d20's soft-dedup signal): the 20
    *      planted exact copies collapse onto their originals, n_copies=2.
    *   3. CLUSTER — the n14 distributed k-means assignment, joined on
    *      the embedded ids (clustering is definitionally restricted to
    *      embedded docs).
    *   4. BALANCE — n15's per-cluster md5-ordered cap (110), with
    *      whitespace-token counts for mix accounting; pre-cap cluster
    *      sizes at sf0.01 are 106/111/113/133, so three clusters bind at
    *      the cap and one keeps everything.
    * Every stage is a stage the pipeline already grades in isolation
    * (t1/t2, d1/d20, n14, n15) — the capstone grades their COMPOSITION:
    * one narrow chain of key-partitioned exchanges, no driver loops.
    */
  def curationPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFunctions.{alphaCount, fingerprint, wsTokens}
    val gated = DedupQueries.corpus(spark, sfDir)
      .filter(length(col("text")) >= 100 &&
        alphaCount(col("text")) * 2 >= length(col("text")))
    val dd = gated
      .select(col("doc_id"), fingerprint(col("text")).as("fp"),
        size(wsTokens(col("text"))).cast("long").as("nt"))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"),
        min(col("nt")).as("n_tok"))
    // the same single clustering definition n14/n15 grade (review r19)
    val assigned = kmeansClusters(spark, sfDir)
      .select(col("vec_id").as("id"), col("cluster"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster")
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    dd.join(assigned, dd("doc_id") === assigned("id"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 110)
      .select(col("doc_id"), col("cluster"), col("n_copies"), col("n_tok"),
        col("rk"))
  }

  val curationPipelineSql: String =
    s"""WITH ${DedupQueries.corpusSql},
       |gate AS (
       |  SELECT doc_id, text FROM corpus
       |  WHERE length(text) >= 100
       |    AND 2 * length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
       |        >= length(text)),
       |dd AS (
       |  SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies,
       |         MIN(len(string_split_regex(trim(text), '\\s+'))) AS n_tok
       |  FROM gate
       |  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
       |n14 AS ($kmeansClustersSql),
       |j AS (SELECT dd.doc_id, n14.cluster, dd.n_copies, dd.n_tok
       |      FROM dd JOIN n14 ON n14.vec_id = dd.doc_id)
       |SELECT doc_id, cluster, n_copies, n_tok, CAST(rk AS BIGINT) AS rk
       |FROM (SELECT *, row_number() OVER (PARTITION BY cluster
       |        ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
       |      FROM j)
       |WHERE rk <= 110""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "n14_kmeans" -> kmeansClusters,
    "n16_kmeanspp" -> kmeansPlusPlus,
    "n15_cluster_sample" -> clusterSample,
    "c5_curation_pipeline" -> curationPipeline,
    "st17_stream_kmeans_serve" -> kmeansServe,
    "a9_cluster_quality" -> clusterQuality,
    "st8_stream_ann_serve" -> annServe,
    "h1_hybrid_retrieval" -> hybridRetrieval,
    "h2_rrf_fusion" -> rrfFusion,
    "h5_chunk_retrieval" -> chunkRetrieval,
    "h3_boolean_retrieval" -> booleanRetrieval,
    "h4_phrase_search" -> phraseSearch,
    "n10_ann_radius" -> annRadius,
    "n11_mips" -> annMips,
    "n12_hard_negatives" -> annHardNegatives,
    "h6_eval_metrics" -> evalMetrics,
    "h7_ndcg" -> ndcgEval,
    "n6_ann_ivfpq" -> annIvfPq,
    "n7_ann_ivfpq_update" -> annIvfPqUpdate,
    "n13_ann_delete" -> annDelete,
    "n8_ann_filtered" -> annFiltered,
    "n9_balanced_shards" -> balancedShards,
    "n5_ann_pq" -> annPq,
    "d4_embed_neardup" -> embedNearDup,
    "d9_semdedup" -> semDedup,
    "n1_ann_topk" -> annTopK,
    "n2_ann_ivf" -> annIvf,
    "n3_ann_ivf_trained" -> annIvfTrained,
    "n4_ann_quantized" -> annQuantized
  )

  def oracleSql: Map[String, String] = Map(
    "n14_kmeans" -> kmeansClustersSql,
    "n16_kmeanspp" -> kmeansPlusPlusSql,
    "n15_cluster_sample" -> clusterSampleSql,
    "c5_curation_pipeline" -> curationPipelineSql,
    // stream ≡ batch: the streamed assignment must hash-match the batch
    // k-means definition exactly
    "st17_stream_kmeans_serve" -> kmeansClustersSql,
    "a9_cluster_quality" -> clusterQualitySql,
    "h1_hybrid_retrieval" -> hybridRetrievalSql,
    "h2_rrf_fusion" -> rrfFusionSql,
    "h5_chunk_retrieval" -> chunkRetrievalSql,
    "h3_boolean_retrieval" -> booleanRetrievalSql,
    "h4_phrase_search" -> phraseSearchSql,
    "n10_ann_radius" -> annRadiusSql,
    "n11_mips" -> annMipsSql,
    "n12_hard_negatives" -> annHardNegativesSql,
    "h6_eval_metrics" -> evalMetricsSql,
    "h7_ndcg" -> ndcgEvalSql,
    "n5_ann_pq" -> annPqSql,
    "n6_ann_ivfpq" -> annIvfPqSql,
    "n7_ann_ivfpq_update" -> annIvfPqUpdateSql,
    "n13_ann_delete" -> annDeleteSql,
    "n8_ann_filtered" -> annFilteredSql,
    "n9_balanced_shards" -> balancedShardsSql,
    "st8_stream_ann_serve" -> annServeSql,
    "d4_embed_neardup" -> embedNearDupSql,
    "d9_semdedup" -> semDedupSql,
    "n1_ann_topk" -> annTopKSql,
    "n2_ann_ivf" -> annIvfSql,
    "n3_ann_ivf_trained" -> annIvfTrainedSql,
    "n4_ann_quantized" -> annQuantizedSql
  )
}
