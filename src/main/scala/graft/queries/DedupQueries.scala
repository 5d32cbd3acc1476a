package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Dedup

/** Dedup queries over `documents`: the synthetic corpus has no natural
  * duplicates, so a deterministic augmented corpus is built in BOTH engines:
  * every 20th doc gets a near-dup copy (last word dropped, id+1000000) and
  * every 25th an exact copy (id+2000000) — the oracle comparisons then
  * exercise real positive paths, not vacuously-empty results (ADVICE r2).
  *
  * The Spark side is the bucketed-LSH production shape; the DuckDB oracle is
  * an EXHAUSTIVE pair scan — so a passing hash-match also proves the LSH
  * candidate generation has 100% recall at the verify scale, not just that
  * both engines agree.
  */
object DedupQueries {

  /** The augmented corpus' row count, from the memoized count of the BASE
    * table ([[Tables.rowCount]]) plus the augmentation ratio (`corpus()`
    * adds a copy per 20th and per 25th doc) — the self-sizing input for
    * the LSH queries, without paying a count job through the
    * union+transform corpus (the d4 lesson: that count cost +40% at
    * sf0.1). The modulo-copy terms are approximate (exact only for dense
    * 0..n-1 ids that divide evenly) — same octave always, which is all
    * the log-scale LSH sizing consumes.
    */
  private def corpusCount(spark: SparkSession, sfDir: String): Long = {
    val n = Tables.rowCount(spark, sfDir, "documents")
    n + n / 20 + n / 25
  }

  /** Row count of `corpus().filter(doc_id % 10 === 0)` — NOT corpusCount/10:
    * every planted near-dup id (base+1000000, base % 20 == 0) passes the
    * %10 filter, and exact copies (base+2000000) pass iff base % 50 == 0,
    * so the sample concentrates the augmentation: ≈ n/10 + n/20 + n/50
    * (same-octave approximation, like [[corpusCount]]).
    */
  private def sampleCount(spark: SparkSession, sfDir: String): Long = {
    val n = Tables.rowCount(spark, sfDir, "documents")
    n / 10 + n / 20 + n / 50
  }

  /** Augmented corpus: base ∪ near-dup copies ∪ exact copies. */
  def corpus(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val toks = split(trim(col("text")), "\\s+")
    val near = base.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1), size(toks) - 1)).as("text"))
    val exact = base.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
    base.unionAll(near).unionAll(exact)
  }

  val corpusSql: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, array_to_string(toks[1:len(toks)-1], ' ') AS text
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
      |  WHERE doc_id % 20 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 25 = 0)""".stripMargin

  /** D1 — exact dedup via canonical-text fingerprint groupBy. */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.exactDuplicates(corpus(spark, sfDir))

  val exactDedupSql: String =
    s"""WITH $corpusSql
       |SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       |       COUNT(*) AS n_docs, MIN(doc_id) AS keep_id, MAX(doc_id) AS dup_id
       |FROM corpus GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin

  /** D14 — leakage-safe train/valid/test split: every document is
    * assigned 90/5/5 by a bucket of its CONTENT fingerprint
    * (`hash32(canonText) mod 100` — the engine-portable md5-prefix
    * family), never by doc_id. Content keying is the point: byte-identical
    * documents always share a bucket, so an exact duplicate can NEVER
    * straddle train and test — the contamination the split step exists to
    * prevent, and exactly what an id-keyed split does wrong (every
    * planted exact copy here has a different id from its original).
    * Graded over the planted-dup corpus so the co-location property is
    * non-vacuous; output is the full per-doc assignment, so the hash
    * match grades bucket arithmetic and split boundaries both.
    * Scale shape: a pure scan projection — zero joins, zero shuffles;
    * the split of a 100 TB corpus is exactly one pass.
    */
  def leakageSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFunctions.{canonText, fingerprint, hash32}
    val bucket = pmod(hash32(canonText(col("text"))), lit(100L))
    corpus(spark, sfDir).select(
      col("doc_id"), fingerprint(col("text")).as("fp"),
      when(bucket < 90, lit("train"))
        .when(bucket < 95, lit("valid"))
        .otherwise(lit("test")).as("split"))
  }

  val leakageSplitSql: String =
    s"""WITH $corpusSql,
       |f AS (SELECT doc_id,
       |             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
       |      FROM corpus)
       |SELECT doc_id, fp,
       |       CASE WHEN CAST(('0x' || substr(fp, 1, 8)) AS BIGINT) % 100 < 90
       |              THEN 'train'
       |            WHEN CAST(('0x' || substr(fp, 1, 8)) AS BIGINT) % 100 < 95
       |              THEN 'valid'
       |            ELSE 'test' END AS split
       |FROM f""".stripMargin

  /** D2 — banded minhash-LSH near-dup (32 bands × 3 rows), exact-verified
    * at jaccard ≥ 0.5; the oracle is the exhaustive jaccard scan.
    */
  def minhashNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    // countHint feeds both the band shape and the auto df-prune fraction
    // ([[graft.ops.LshSizing.dfPruneFrac]]) from the one memoized count —
    // the graded default runs WITH band-side pruning, so the exhaustive
    // oracle's pass proves recall with the lever on, not just off
    val n = corpusCount(spark, sfDir)
    val (b, r) = graft.ops.LshSizing.bandShape(n, threshold = 0.5)
    Dedup.minhashNearDups(corpus(spark, sfDir), threshold = 0.5,
      numBands = b, rowsPerBand = r, countHint = n)
  }

  val minhashNearDupSql: String =
    s"""WITH $corpusSql,
       |tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM corpus),
       |sh AS (SELECT doc_id, list_distinct(
       |         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |              ELSE list_transform(range(1, len(toks) - 1),
       |                                  i -> array_to_string(toks[i:i+2], ' ')) END) AS s
       |       FROM tk),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |         CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jac
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, jac FROM pairs WHERE jac >= 0.5""".stripMargin

  /** D10 — incremental near-dup ([[graft.ops.Dedup.incrementalNearDups]]):
    * the planted copies (id ≥ 1000000) play the NEW batch, the base docs
    * the EXISTING corpus — every batch doc's near/exact source must be
    * found without generating any corpus-internal pair. The oracle is the
    * exhaustive batch×corpus jaccard scan, so a hash match again proves
    * 100% cross-recall at test scale.
    */
  def incrementalNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val c = corpus(spark, sfDir)
    // size from the CORPUS side (the base docs) via the cheap base count
    val (b, r) = graft.ops.LshSizing.bandShape(
      Tables.rowCount(spark, sfDir, "documents"), threshold = 0.5)
    Dedup.incrementalNearDups(
      c.filter(col("doc_id") >= 1000000), c.filter(col("doc_id") < 1000000),
      threshold = 0.5, numBands = b, rowsPerBand = r)
  }

  val incrementalNearDupSql: String =
    s"""WITH $corpusSql,
       |tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM corpus),
       |sh AS (SELECT doc_id, list_distinct(
       |         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |              ELSE list_transform(range(1, len(toks) - 1),
       |                                  i -> array_to_string(toks[i:i+2], ' ')) END) AS s
       |       FROM tk),
       |pairs AS (
       |  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
       |         CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) /
       |         CAST(len(b.s) + len(c.s) - len(list_intersect(b.s, c.s)) AS DOUBLE) AS jac
       |  FROM sh b JOIN sh c ON b.doc_id >= 1000000 AND c.doc_id < 1000000)
       |SELECT batch_id, corpus_id, jac FROM pairs WHERE jac >= 0.5""".stripMargin

  /** ST3 — streaming exact dedup ([[graft.streaming.StreamDedup]]): the
    * documents land in a staging dir as a base file plus a later
    * file holding a COPY of every 25th doc, the dir is drained one file
    * per micro-batch, and `dropDuplicates` must collapse the copies'
    * fingerprints against state from EARLIER batches. Staged-parquet
    * oracle: the surviving fingerprint set must equal DuckDB's
    * `SELECT DISTINCT md5(canon)` over the same table — a duplicate
    * fingerprint in the sink (state lost between batches) or a missing
    * one (over-dedup) both break the hash.
    */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFunctions.fingerprint
    val out = s"${TarQueries.StageDir}/st3_fps.parquet"
    graft.io.FsOps.deletePrefix(spark, out)
    // the staged source is a deterministic function of sfDir — staged
    // once per JVM so repeat timings measure the DRAIN (the operator
    // under test), not a rewrite of the same files
    val stream = Arrivals("st3_src", sfDir) {
      val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      // one base file, not two: the graded property is the copies file
      // deduping against state from an EARLIER batch — two batches
      // suffice, and each extra file is a RocksDB micro-batch the drain
      // pays for (the st18/r20 trim; guide §1)
      Seq(docs, docs.filter(col("doc_id") % 25 === 0))
    }.select(fingerprint(col("text")).as("fp"))
    Arrivals.scratch { ckpt =>
      graft.streaming.StreamDedup.distinctFingerprints(stream, out, ckpt,
        // keyspace-sized: one state key per distinct fingerprint — the
        // memoized base-table count is the right octave
        stateKeys = Some(Tables.rowCount(spark, sfDir, "documents")))
    }
    spark.read.parquet(out)
  }

  val streamDedupSql: String =
    """SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |FROM documents""".stripMargin

  /** D3 — simhash near-dup: 48-bit simhash, 6×8-bit hamming bands (lossless
    * for distance ≤ 3 by pigeonhole), `bit_count(xor)` verify. The oracle
    * computes the identical simhash in SQL and scans all pairs.
    */
  def simhashNearDup(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.simhashNearDups(corpus(spark, sfDir), maxHamming = 3)

  val simhashNearDupSql: String =
    s"""WITH $corpusSql,
       |toks AS (SELECT doc_id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS tok
       |         FROM corpus),
       |h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) AS h FROM toks),
       |bitsums AS (
       |  SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM h CROSS JOIN generate_series(0, 47) t(j) GROUP BY 1, 2),
       |sim AS (
       |  SELECT doc_id, SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS simhash
       |  FROM bitsums GROUP BY 1)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  /** D6 — character-5-gram jaccard near-dup, on the deterministic 1-in-10
    * doc_id sample of the augmented corpus (the copy offsets are ≡0 mod 10,
    * so sampled base docs keep their near/exact copies). Char-gram sets
    * are ~one gram per character — an order denser than word shingles —
    * so the sample keeps the EXHAUSTIVE DuckDB recall proof affordable
    * while d2 covers the full corpus at word level.
    */
  def ngramNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    // d6 runs on the 1-in-10 sample — sized by the sample's TRUE count
    // (the augmentation concentrates there; see sampleCount), from the
    // cheap base scan (char-gram background stats, d6's band budget)
    val n = sampleCount(spark, sfDir)
    val (b, r) = graft.ops.LshSizing.bandShape(
      n, threshold = 0.8, jBg = 1.0 / 3.0,
      maxBands = 16)
    // countHint also auto-enables band-side df-pruning (the d2 note):
    // d6's recall-capped 16-band shape is exactly where the hot-gram
    // occupancy tail forms, so the graded default runs the lever
    Dedup.ngramJaccardNearDups(
      corpus(spark, sfDir).filter(col("doc_id") % 10 === 0), threshold = 0.8,
      numBands = b, rowsPerBand = r, countHint = n)
  }

  val ngramNearDupSql: String =
    s"""WITH $corpusSql,
       |samp AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS c
       |  FROM corpus WHERE doc_id % 10 = 0),
       |sh AS (
       |  -- grams hashed to int64 via the md5 7-byte prefix, mirroring the
       |  -- Spark side's md5_prefix(gram, 7) exactly
       |  SELECT doc_id,
       |         CASE WHEN len(c) < 5
       |              THEN [CAST(('0x' || substr(md5(c), 1, 14)) AS BIGINT)]
       |              ELSE list_distinct(list_transform(range(1, len(c) - 3),
       |                     i -> CAST(('0x' || substr(md5(substr(c, i, 5)), 1, 14)) AS BIGINT))) END AS s
       |  FROM samp),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |         CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jac
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, jac FROM pairs WHERE jac >= 0.8""".stripMargin

  /** D11 — containment scoring ([[graft.ops.Dedup.containmentPairs]]):
    * planted half-documents (the first half of every 30th doc's tokens)
    * must be found contained in their originals at containment ≥ 0.9 even
    * though the pair's JACCARD is ≈ 0.5 (below every near-dup threshold
    * here) — the quote/partial-copy case pairwise dedup misses. Runs on
    * the deterministic 1-in-5 sample so the exhaustive ordered-pair oracle
    * stays affordable; the oracle recomputes containment over raw shingle
    * strings (division by the same integers ⇒ identical doubles).
    */
  def containmentQ(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 5 === 0)
    val toks = split(trim(col("text")), "\\s+")
    val halves = base.filter(col("doc_id") % 30 === 0)
      .select((col("doc_id") + 3000000).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1),
          greatest(floor(size(toks) / 2), lit(1)).cast("int"))).as("text"))
    Dedup.containmentPairs(base.unionAll(halves), tau = 0.9)
  }

  val containmentSql: String =
    """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
      |halves AS (
      |  SELECT doc_id + 3000000 AS doc_id,
      |         array_to_string(toks[1:greatest(len(toks) // 2, 1)], ' ') AS text
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |        FROM base WHERE doc_id % 30 = 0)),
      |c AS (SELECT * FROM base UNION ALL SELECT * FROM halves),
      |tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM c),
      |sh AS (SELECT doc_id, list_distinct(
      |         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |              ELSE list_transform(range(1, len(toks) - 1),
      |                                  i -> array_to_string(toks[i:i+2], ' ')) END) AS s
      |       FROM tk),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |         CAST(len(a.s) AS DOUBLE) AS containment
      |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
      |SELECT id_a, id_b, containment FROM pairs WHERE containment >= 0.9""".stripMargin

  /** D5 — the composite training-data cleaning pipeline, end to end:
    * quality gate (≥ 20 tokens) → exact dedup (keep lowest id per
    * fingerprint) → near-dup removal (drop the higher id of every verified
    * jaccard ≥ 0.85 pair among survivors) → shard counts. Mirrored 1:1 in
    * the oracle, with the near-dup stage exhaustive on the DuckDB side.
    */
  def cleanCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFunctions.{fingerprint, wsTokens}
    val passed = corpus(spark, sfDir)
      .withColumn("n_tok", size(wsTokens(col("text"))))
      .filter(col("n_tok") >= 20)
    val keepIds = passed.withColumn("fp", fingerprint(col("text")))
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    // The survivor set feeds the LSH pass, the anti-join, and the final
    // aggregate — materialize once (rows ≈ corpus, columns: id/text/
    // n_tok). localCheckpoint rather than persist-or-repartition: the
    // branches prune DIFFERENT columns (text vs n_tok), so a shared
    // exchange would canonicalize differently per branch and silently
    // recompute; the checkpointed RDD is pruning-opaque, and its blocks
    // free with the reference instead of living in the session cache.
    val exactKept = passed.join(keepIds, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    // exact dedup already ran above, so identical shingle sets can't mass-
    // cluster here — skip the collapse machinery (collapseIdentical=false).
    // countHint: the survivor count shares the corpus count's OCTAVE
    // (gate + exact-dedup drop a bounded fraction), which is all the
    // log-scale LSH sizing reads — skips the extra count job the d2/d6/d7
    // call sites already avoid (review r15)
    val nearDrop = Dedup.minhashNearDups(exactKept.select("doc_id", "text"),
        threshold = 0.85, collapseIdentical = false,
        countHint = corpusCount(spark, sfDir))
      .select(col("id_b").as("doc_id")).distinct()
    exactKept.join(nearDrop, Seq("doc_id"), "left_anti")
      .groupBy((col("doc_id") % 10).as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"))
  }

  val cleanCorpusSql: String =
    s"""WITH $corpusSql,
       |passed AS (
       |  SELECT doc_id, text, len(string_split_regex(trim(text), '\\s+')) AS n_tok
       |  FROM corpus
       |  WHERE len(string_split_regex(trim(text), '\\s+')) >= 20),
       |keep AS (
       |  SELECT MIN(doc_id) AS doc_id
       |  FROM (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
       |        FROM passed)
       |  GROUP BY fp),
       |exact_kept AS (SELECT p.* FROM passed p WHERE doc_id IN (SELECT doc_id FROM keep)),
       |tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM exact_kept),
       |sh AS (SELECT doc_id, list_distinct(
       |         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |              ELSE list_transform(range(1, len(toks) - 1),
       |                                  i -> array_to_string(toks[i:i+2], ' ')) END) AS s
       |       FROM tk),
       |drop_ids AS (
       |  SELECT DISTINCT b.doc_id
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |        CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.85)
       |SELECT doc_id % 10 AS shard, COUNT(*) AS n_docs,
       |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
       |FROM exact_kept
       |WHERE doc_id NOT IN (SELECT doc_id FROM drop_ids)
       |GROUP BY 1""".stripMargin

  /** D7 — duplicate clustering: connected components over the D2 verified
    * near-dup pairs (min-reachable-id per node). The oracle recomputes the
    * pairs exhaustively and takes the transitive closure with a recursive
    * CTE — a pass proves the distributed label propagation reached the
    * same fixpoint as a from-scratch closure in a different engine.
    *
    * Graded on the deterministic 1-in-10 doc_id sample (the d6 precedent):
    * the copy offsets are ≡ 0 mod 10, so sampled base docs keep their
    * whole dup clusters and the bench measures the CLUSTERING, not a
    * second helping of d2's pair-generation bill.
    */
  def dupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    // same 1-in-10 sample as d6 — size from its true count, not a second
    // scan through the augmented corpus; countHint keeps d7's pair
    // generation on the same auto df-pruned defaults as d2/d6 (review r15)
    val n = sampleCount(spark, sfDir)
    val (b, r) = graft.ops.LshSizing.bandShape(n, threshold = 0.5)
    Dedup.dupClusters(
      Dedup.minhashNearDups(
        corpus(spark, sfDir).filter(col("doc_id") % 10 === 0), threshold = 0.5,
        numBands = b, rowsPerBand = r, countHint = n)
        .select("id_a", "id_b"))
  }

  val dupClustersSql: String =
    s"""WITH RECURSIVE $corpusSql,
       |tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |       FROM corpus WHERE doc_id % 10 = 0),
       |sh AS (SELECT doc_id, list_distinct(
       |         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |              ELSE list_transform(range(1, len(toks) - 1),
       |                                  i -> array_to_string(toks[i:i+2], ' ')) END) AS s
       |       FROM tk),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
       |        CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.5),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst)
       |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS rep_id
       |FROM reach GROUP BY src""".stripMargin

  /** D8 — benchmark decontamination over the augmented corpus: every 100th
    * base doc plays the evaluation set, everything else is training data.
    * The +1M/+2M copies of eval docs are planted contamination (they share
    * nearly all 8-grams with their eval base), so the flagged set is
    * non-vacuous by construction; the oracle recomputes the same inverted
    * index exhaustively.
    */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val c = corpus(spark, sfDir)
    val isEval = col("doc_id") < 1000000 && col("doc_id") % 100 === 0
    Dedup.contaminated(c.filter(!isEval), c.filter(isEval), n = 8)
  }

  val decontaminateSql: String =
    s"""WITH $corpusSql,
       |gr AS (
       |  SELECT doc_id,
       |         (doc_id < 1000000 AND doc_id % 100 = 0) AS is_eval,
       |         list_distinct(list_transform(
       |           CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
       |                ELSE list_transform(range(1, len(toks) - 6),
       |                                    i -> array_to_string(toks[i:i+7], ' ')) END,
       |           g -> CAST(('0x' || substr(md5(g), 1, 14)) AS BIGINT))) AS grams
       |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |        FROM corpus)),
       |evg AS (SELECT DISTINCT unnest(grams) AS gram FROM gr WHERE is_eval),
       |trg AS (SELECT doc_id, unnest(grams) AS gram FROM gr WHERE NOT is_eval)
       |SELECT doc_id, COUNT(*) AS n_shared
       |FROM trg WHERE gram IN (SELECT gram FROM evg)
       |GROUP BY 1""".stripMargin

  /** D13 — the same decontamination answer as d8 through the Bloom
    * prefilter shape ([[graft.ops.Dedup.contaminatedBloom]]): the eval
    * grams collapse to one broadcast Bloom, the training gram stream is
    * scan-filtered by `might_contain`, and only the hits reach the exact
    * verify join. The oracle is d8's exhaustive inverted index — a hash
    * match proves the bloom prefilter + exact verify lost NOTHING (the
    * prefilter admits a superset; the verify trims it back to equality).
    */
  def bloomDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val c = corpus(spark, sfDir)
    val isEval = col("doc_id") < 1000000 && col("doc_id") % 100 === 0
    Dedup.contaminatedBloom(c.filter(!isEval), c.filter(isEval), n = 8)
  }

  /** D12 — span-level exact-substring dedup (keep-first) over the
    * augmented corpus: the exact +2M copies make every span of a copied
    * doc a trailing duplicate (clean_text collapses to ''), and the
    * near-dup +1M copies (one word dropped) shift their span grid so only
    * their UNSHIFTED prefix spans dedup away — both engines must agree on
    * the grid, the keep-first tie-break, and the reassembled text.
    */
  def spanDedupQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.spanDedup(corpus(spark, sfDir), spanWords = 10)

  /** D18 — arbitrary-offset substring dedup
    * ([[graft.ops.Dedup.substringDedup]]): the augmented corpus gains a
    * third planted family — every 30th doc re-appears with a 3-word
    * preamble (id +3000000) — whose shared k-token runs sit at an offset
    * that is NOT a multiple of any grid, exactly the duplication d12's
    * fixed spans cannot see. Sliding windows must blanket-remove the
    * copied run (everything after the preamble) while keeping the
    * preamble itself and the original doc intact; the exact +2M copies
    * still collapse to empty. The oracle replays windows, keep-first
    * marking, coverage, and reassembly in SQL.
    */
  /** The d18/d18h planted off-grid family (every 30th doc re-appears
    * with a 3-word preamble, id +3000000): ONE definition so the two
    * twins grading against the same oracle cannot drift (review r17).
    */
  private def substringCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val shifted = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 30 === 0)
      .select((col("doc_id") + 3000000).as("doc_id"),
        concat(lit("offgrid preamble quote "), col("text")).as("text"))
    corpus(spark, sfDir).unionAll(shifted)
  }

  def substringDedupQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.substringDedup(substringCorpus(spark, sfDir), k = 8)

  val substringDedupSql: String =
    s"""WITH $corpusSql,
       |full_c AS (
       |  SELECT doc_id, text FROM corpus
       |  UNION ALL
       |  SELECT doc_id + 3000000, 'offgrid preamble quote ' || text
       |  FROM documents WHERE doc_id % 30 = 0),
       |tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |       FROM full_c
       |       WHERE len(string_split_regex(trim(text), '\\s+')) > 0),
       |w AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |             array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' ') AS win
       |      FROM tk, LATERAL unnest(range(0, GREATEST(len(toks) - 8, 0) + 1)) r(i)),
       |m AS (SELECT doc_id, pos, win,
       |             ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
       |      FROM w),
       |dup AS (SELECT doc_id, pos,
       |               CAST(len(string_split(win, ' ')) AS BIGINT) AS wl
       |        FROM m WHERE rn > 1),
       |rm AS (SELECT DISTINCT doc_id, CAST(u AS BIGINT) AS tpos
       |       FROM dup, LATERAL unnest(range(pos, pos + wl)) r(u)),
       |ra AS (SELECT doc_id, list(tpos) AS rml FROM rm GROUP BY doc_id)
       |SELECT t.doc_id,
       |       CAST(len(toks) AS BIGINT) AS n_tokens,
       |       CAST(COALESCE(len(rml), 0) AS BIGINT) AS n_removed,
       |       COALESCE(array_to_string(
       |         [toks[CAST(i AS INT)] FOR i IN range(1, len(toks) + 1)
       |          IF NOT list_contains(COALESCE(rml, []), CAST(i - 1 AS BIGINT))],
       |         ' '), '') AS clean_text
       |FROM tk t LEFT JOIN ra USING (doc_id)""".stripMargin

  val spanDedupSql: String =
    s"""WITH $corpusSql,
       |tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |       FROM corpus WHERE len(string_split_regex(trim(text), '\\s+')) > 0),
       |sp AS (SELECT doc_id,
       |              list_transform(range(((len(toks) - 1) // 10) + 1),
       |                             i -> array_to_string(toks[i*10+1 : i*10+10], ' ')) AS sl
       |       FROM tk),
       |spans AS (SELECT doc_id, unnest(range(len(sl))) AS span_idx, unnest(sl) AS span
       |          FROM sp),
       |marked AS (SELECT doc_id, span_idx, span,
       |                  row_number() OVER (PARTITION BY span
       |                                     ORDER BY doc_id, span_idx) = 1 AS kept
       |           FROM spans)
       |SELECT doc_id, COUNT(*) AS n_spans,
       |       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       COALESCE(string_agg(CASE WHEN kept THEN span END, ' ' ORDER BY span_idx),
       |                '') AS clean_text
       |FROM marked GROUP BY doc_id""".stripMargin

  /** D16 corpus: the synthetic docs are single-line, so boilerplate is
    * planted deterministically in BOTH engines — a cookie banner prepended
    * to every 4th doc, a newsletter plea on every 3rd, a rights footer on
    * every 7th, and a per-`source` footer on every 5th (the last one
    * repeats only WITHIN a source, so at small sf it sits below the
    * threshold and must be KEPT — the non-vacuous negative case).
    */
  def lineCorpus(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(col("doc_id"),
      concat(
        when(col("doc_id") % 4 === 0, lit("please accept our cookie policy\n"))
          .otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 3 === 0, lit("\nsubscribe to our newsletter today"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("\nall rights reserved"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, concat(lit("\nvisit us at "), col("source")))
          .otherwise(lit(""))).as("text"))

  private val lineCorpusSql =
    """lcorpus AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 4 = 0 THEN 'please accept our cookie policy' || chr(10) ELSE '' END ||
      |         text ||
      |         CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'subscribe to our newsletter today' ELSE '' END ||
      |         CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'all rights reserved' ELSE '' END ||
      |         CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'visit us at ' || source ELSE '' END AS text
      |  FROM documents)""".stripMargin

  /** D16 — cross-document line-level dedup ([[graft.ops.Dedup.lineDedup]]):
    * lines whose canonical fingerprint spans ≥ max(5, n_docs/100) distinct
    * documents are boilerplate and removed everywhere; per-doc counts
    * grade the removal. The threshold is corpus-relative (the production
    * posture) and computed from the memoized base-table count — no extra
    * count job on the query path.
    */
  def lineDedupQ(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Tables.rowCount(spark, sfDir, "documents")
    Dedup.lineDedup(lineCorpus(spark, sfDir), math.max(5L, (n + 99) / 100))
  }

  val lineDedupSql: String =
    s"""WITH $lineCorpusSql,
       |th AS (SELECT GREATEST(5, CAST(CEIL(COUNT(*) / 100.0) AS BIGINT)) AS t
       |       FROM documents),
       |ln AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
       |       FROM lcorpus),
       |fpl AS (SELECT doc_id, line,
       |               md5(trim(regexp_replace(lower(line), '\\s+', ' ', 'g'))) AS fp
       |        FROM ln),
       |boiler AS (SELECT fp FROM fpl, th
       |           GROUP BY fp, t HAVING COUNT(DISTINCT doc_id) >= t)
       |SELECT doc_id, COUNT(*) AS n_lines,
       |       CAST(SUM(CASE WHEN fp IN (SELECT fp FROM boiler) THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |       CAST(SUM(CASE WHEN fp IN (SELECT fp FROM boiler) THEN 0 ELSE length(line) END) AS BIGINT) AS n_chars_kept
       |FROM fpl GROUP BY doc_id""".stripMargin

  /** D17 — semantic decontamination: the embedding-space analogue of d8.
    * d8 catches verbatim 8-gram overlap; paraphrased eval leakage shares
    * no grams but lands NEAR the eval point in embedding space, so the
    * production gate also flags any training vector within cosine ≥ τ of
    * ANY eval vector. Eval set = the deterministic vec_id % 50 slice;
    * corpus = the d4 augmented corpus, whose planted ×2 copies of eval
    * members are exact semantic matches (cos = 1) that share no id — the
    * paraphrase stand-in. τ = 0.95 sits in the corpus's similarity gap
    * (planted matches at 1.0, natural pairs ≤ ~0.7), so the flag is
    * deterministic cross-engine despite the double-valued cosine.
    *
    * Scale shape: the eval set is small by construction (the benchmark
    * suite), so it BROADCASTS onto the corpus scan — corpus × tiny, the
    * t13/d13 posture — and the only exchange is the per-vector rollup
    * (vec_id, n_hits): one narrow row per corpus vector, with map-side
    * combine. An eval member flags itself (identity IS contamination).
    */
  def embedDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Similarity
    val corpus = AnnQueries.embCorpus(spark, sfDir)
    val eval = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ee"))
    corpus.crossJoin(broadcast(eval))
      .withColumn("hit",
        (Similarity.cosine(col("embedding"), col("ee")) >= 0.95).cast("long"))
      .groupBy("vec_id").agg(sum("hit").cast("long").as("n_eval_hits"))
      .withColumn("contaminated", col("n_eval_hits") >= 1)
  }

  // the corpus CTE is the SHARED d4 definition (AnnQueries.embCorpusSql) —
  // an inlined copy would silently drift if the augmented-corpus recipe
  // ever changes while the Spark side follows AnnQueries.embCorpus
  val embedDecontaminateSql: String =
    s"""WITH ${AnnQueries.embCorpusSql},
      |ev AS (SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS ee
      |       FROM embeddings WHERE vec_id % 50 = 0)
      |SELECT c.vec_id,
      |       CAST(SUM(CASE WHEN list_cosine_similarity(c.e, ev.ee) >= 0.95
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_hits,
      |       SUM(CASE WHEN list_cosine_similarity(c.e, ev.ee) >= 0.95
      |                THEN 1 ELSE 0 END) >= 1 AS contaminated
      |FROM ecorpus c CROSS JOIN ev
      |GROUP BY c.vec_id""".stripMargin

  /** D19 — canonical-URL dedup, the cheapest dedup tier of every web
    * crawl pipeline (C4/CCNet collapse re-crawled spellings of one page
    * BEFORE any content pass — it needs no text at all): each document
    * gets a deterministic URL whose spelling varies by `doc_id % 8`
    * (scheme/host case, explicit default port, fragment, `utm_*`
    * tracking, query-parameter permutations, trailing slash), and docs
    * collapse on [[graft.functions.UrlFunctions.canonicalizeUrl]]. The
    * oracle derives the expected canonical groups from doc_id ARITHMETIC
    * alone — it never canonicalizes — so every normalization rule is
    * independently graded (a missed rule splits a group and breaks the
    * hash). Shape: one codegen scan projection + ONE groupBy exchange on
    * the canonical string.
    */
  def urlDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.UrlFunctions.canonicalizeUrl
    val base = expr("doc_id div 8").cast("string")
    val url = element_at(array(
      concat(lit("https://example.com/docs/"), base),
      concat(lit("HTTPS://EXAMPLE.COM/docs/"), base),
      concat(lit("https://example.com:443/docs/"), base),
      concat(lit("https://example.com/docs/"), base, lit("#frag")),
      concat(lit("https://example.com/docs/"), base, lit("?utm_source=feed")),
      concat(lit("https://example.com/docs/"), base, lit("?b=2&a=1")),
      concat(lit("https://example.com/docs/"), base, lit("?a=1&b=2")),
      concat(lit("https://example.com/docs/"), base, lit("/"))),
      (col("doc_id") % 8 + 1).cast("int"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), canonicalizeUrl(url).as("canon_url"))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
  }

  val urlDedupSql: String =
    """SELECT canon_url, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id FROM (
      |  SELECT doc_id,
      |    'https://example.com/docs/' || CAST(doc_id // 8 AS VARCHAR) ||
      |    CASE WHEN doc_id % 8 IN (5, 6) THEN '?a=1&b=2' ELSE '' END AS canon_url
      |  FROM documents)
      |GROUP BY canon_url""".stripMargin

  /** D20 — soft dedup over the planted-dup corpus
    * ([[Dedup.softDedupWeights]]): duplication-aware integer sampling
    * weights instead of removal. Graded on the same corpus as d1 so the
    * group arithmetic is non-vacuous (planted exact copies produce
    * n_copies ≥ 2 groups with split weights; the near-dup plants stay
    * weight-1000000 — soft dedup is an EXACT-content tier).
    */
  def softDedup(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.softDedupWeights(corpus(spark, sfDir))

  val softDedupSql: String =
    s"""WITH $corpusSql,
       |f AS (SELECT doc_id,
       |             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
       |      FROM corpus)
       |SELECT doc_id, COUNT(*) OVER w AS n_copies,
       |       1000000 // COUNT(*) OVER w AS weight_ppm,
       |       doc_id = MIN(doc_id) OVER w AS canonical
       |FROM f WINDOW w AS (PARTITION BY fp)""".stripMargin

  /** D12h / D18h — the `hashedKeys = true` scale variants of d12/d18
    * ([[graft.ops.Dedup.spanDedup]] `hashedKeys` doc): the corpus-wide
    * exchanges carry 64-bit hashes instead of span/window text — the
    * network-bound 100 TB shape. The RESULT is identical by construction
    * (the hash only routes candidate selection; marking still compares
    * exact text), so both grade against the same oracle SQL as their
    * text-keyed twins — a hash-proven equality, not just the spec-pinned
    * one in `DedupSpec`.
    */
  def spanDedupHashedQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.spanDedup(corpus(spark, sfDir), spanWords = 10, hashedKeys = true)

  def substringDedupHashedQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.substringDedup(substringCorpus(spark, sfDir), k = 8,
      hashedKeys = true)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d17_embed_decontaminate" -> embedDecontaminate,
    "d16_line_dedup" -> lineDedupQ,
    "d1_exact_dedup" -> exactDedup,
    "d14_leakage_split" -> leakageSplit,
    "d2_minhash_neardup" -> minhashNearDup,
    "d3_simhash_neardup" -> simhashNearDup,
    "d5_clean_corpus" -> cleanCorpus,
    "d6_ngram_jaccard" -> ngramNearDup,
    "d7_dup_clusters" -> dupClusters,
    "d8_decontaminate" -> decontaminate,
    "d10_incremental_neardup" -> incrementalNearDup,
    "d11_containment" -> containmentQ,
    "d12_span_dedup" -> spanDedupQ,
    "d12h_span_dedup_hashed" -> spanDedupHashedQ,
    "d18_substring_dedup" -> substringDedupQ,
    "d18h_substring_dedup_hashed" -> substringDedupHashedQ,
    "d13_bloom_decontaminate" -> bloomDecontaminate,
    "d19_url_dedup" -> urlDedup,
    "d20_soft_dedup" -> softDedup,
    "st3_stream_dedup" -> streamDedup
  )

  def oracleSql: Map[String, String] = Map(
    "d17_embed_decontaminate" -> embedDecontaminateSql,
    "d16_line_dedup" -> lineDedupSql,
    "d1_exact_dedup" -> exactDedupSql,
    "d14_leakage_split" -> leakageSplitSql,
    "d2_minhash_neardup" -> minhashNearDupSql,
    "d3_simhash_neardup" -> simhashNearDupSql,
    "d5_clean_corpus" -> cleanCorpusSql,
    "d6_ngram_jaccard" -> ngramNearDupSql,
    "d7_dup_clusters" -> dupClustersSql,
    "d8_decontaminate" -> decontaminateSql,
    "d10_incremental_neardup" -> incrementalNearDupSql,
    "d11_containment" -> containmentSql,
    "d12_span_dedup" -> spanDedupSql,
    "d12h_span_dedup_hashed" -> spanDedupSql,
    "d18_substring_dedup" -> substringDedupSql,
    "d18h_substring_dedup_hashed" -> substringDedupSql,
    "d13_bloom_decontaminate" -> decontaminateSql,
    "d19_url_dedup" -> urlDedupSql,
    "d20_soft_dedup" -> softDedupSql,
    "st3_stream_dedup" -> streamDedupSql
  )
}
