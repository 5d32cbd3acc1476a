package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, language ID, document fingerprinting — the scalar layer
  * of a training-data pipeline, every query oracle-checked against DuckDB.
  *
  * Documents are augmented with a deterministic punctuation/stopword tail
  * keyed on `doc_id` so punctuation- and stopword-sensitive metrics are
  * non-vacuous on the synthetic corpus (which is bare lowercase words).
  */
object TextQueries {

  /** Augmented docs: `aug` = text + per-doc deterministic tail. */
  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).withColumn("aug",
      concat(col("text"),
        when(col("doc_id") % 3 === 0, lit("!! 42"))
          .when(col("doc_id") % 3 === 1, lit(", and more to read."))
          .otherwise(lit(""))))

  private val docsSql =
    """docs AS (
      |  SELECT *, text || CASE WHEN doc_id % 3 = 0 THEN '!! 42'
      |                         WHEN doc_id % 3 = 1 THEN ', and more to read.'
      |                         ELSE '' END AS aug
      |  FROM documents)""".stripMargin

  /** T1 — token counting: whitespace tokens and BPE-ish regex tokens
    * (letter runs / digit runs / single punctuation).
    */
  def tokenStats(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).select(
      col("doc_id"),
      size(wsTokens(col("aug"))).as("n_ws_tokens"),
      size(bpeTokens(col("aug"))).as("n_bpe_tokens"),
      length(canonText(col("aug"))).as("n_canon_chars"))

  val tokenStatsSql: String =
    s"""WITH $docsSql
       |SELECT doc_id,
       |  len(string_split_regex(trim(aug), '\\s+')) AS n_ws_tokens,
       |  len(regexp_extract_all(lower(aug), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
       |  length(trim(regexp_replace(lower(aug), '\\s+', ' ', 'g'))) AS n_canon_chars
       |FROM docs""".stripMargin

  private val Stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "on")

  /** T2 — quality scoring: alpha/punct/stopword ratios + a composite score.
    * All ratios are single divisions of exact integer counts and the score
    * composes them in a fixed order, so Spark and DuckDB produce
    * bit-identical doubles.
    */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val nTok = size(wsTokens(col("aug"))).cast("double")
    val len = length(col("aug")).cast("double")
    docs(spark, sfDir)
      .select(
        col("doc_id"), length(col("aug")).as("n_chars"),
        (alphaCount(col("aug")).cast("double") / len).as("alpha_ratio"),
        (punctCount(col("aug")).cast("double") / len).as("punct_ratio"),
        (tokenHits(col("aug"), Stopwords).cast("double") / nTok).as("stop_ratio"),
        nTok.as("n_tok"))
      .select(
        col("doc_id"), col("n_chars"), col("alpha_ratio"), col("punct_ratio"),
        col("stop_ratio"),
        (col("alpha_ratio") * 0.5 + col("stop_ratio") * 0.3
          + least(col("n_tok") / 50.0, lit(1.0)) * 0.2).as("quality"))
  }

  val qualityScoreSql: String = {
    val stop = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH $docsSql,
       |m AS (
       |  SELECT doc_id, length(aug) AS n_chars,
       |    CAST(length(regexp_replace(lower(aug), '[^a-z]', '', 'g')) AS DOUBLE)
       |      / CAST(length(aug) AS DOUBLE) AS alpha_ratio,
       |    CAST(length(regexp_replace(lower(aug), '[a-z0-9\\s]', '', 'g')) AS DOUBLE)
       |      / CAST(length(aug) AS DOUBLE) AS punct_ratio,
       |    CAST(len(list_filter(string_split_regex(trim(lower(aug)), '\\s+'),
       |                         t -> t IN ($stop))) AS DOUBLE)
       |      / CAST(len(string_split_regex(trim(aug), '\\s+')) AS DOUBLE) AS stop_ratio,
       |    CAST(len(string_split_regex(trim(aug), '\\s+')) AS DOUBLE) AS n_tok
       |  FROM docs)
       |SELECT doc_id, n_chars, alpha_ratio, punct_ratio, stop_ratio,
       |  alpha_ratio * 0.5 + stop_ratio * 0.3 + least(n_tok / 50.0, 1.0) * 0.2 AS quality
       |FROM m""".stripMargin
  }

  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "des", "et", "une"))

  /** T3 — language ID: marker-word (1-gram) scoring with a deterministic
    * argmax (declaration order wins ties), `unknown` when nothing matches.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    // tokenize once; each language scores the shared array (4x cheaper than
    // re-splitting per language)
    val toked = docs(spark, sfDir).withColumn("toks", wsTokens(lower(col("aug"))))
    val scored = Markers.foldLeft(toked) { case (df, (l, ws)) =>
      df.withColumn(s"c_$l",
        size(filter(col("toks"), t => t.isin(ws.map(lit(_)): _*))))
    }
    val all = Markers.map { case (l, _) => col(s"c_$l") }
    val guess = Markers.foldRight(lit("unknown"): Column) { case ((l, _), els) =>
      when(col(s"c_$l") === greatest(all: _*), lit(l)).otherwise(els)
    }
    scored
      .withColumn("lang_guess", when(greatest(all: _*) === 0, "unknown").otherwise(guess))
      .groupBy("lang_guess").agg(count(lit(1)).as("n_docs"))
  }

  val langIdSql: String = {
    def hits(ws: Seq[String]) = {
      val set = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split_regex(trim(lower(aug)), '\\s+'), t -> t IN ($set)))"
    }
    val cols = Markers.map { case (l, ws) => s"${hits(ws)} AS c_$l" }.mkString(",\n    ")
    val gr = s"greatest(${Markers.map { case (l, _) => s"c_$l" }.mkString(", ")})"
    val argmax = Markers.map { case (l, _) => s"WHEN c_$l = $gr THEN '$l'" }
      .mkString("CASE ", " ", " END")
    s"""WITH $docsSql,
       |scored AS (
       |  SELECT doc_id,
       |    $cols
       |  FROM docs)
       |SELECT CASE WHEN $gr = 0 THEN 'unknown' ELSE $argmax END AS lang_guess,
       |       COUNT(*) AS n_docs
       |FROM scored GROUP BY 1""".stripMargin
  }

  /** T3b — n-gram-profile language ID ([[graft.ops.LangId]]): the corpus
    * is deterministically augmented with planted foreign-language
    * documents (different sentences from the training seeds, free of
    * every t3 marker word) plus one gibberish class, and every document
    * is scored against per-language char-3-gram profiles — integer
    * profile-count sums over the doc's distinct grams, argmax by
    * cross-multiplied seed-normalized comparison, `unknown` on all-zero.
    * Output is the full per-doc assignment WITH the four class scores,
    * so the hash grade covers profile construction, gram extraction,
    * scoring and the argmax; the oracle re-derives the profiles from the
    * same seed literals (nothing precomputed crosses the engines).
    * Scale shape: scan → codegen gram pass → broadcast-profile fold —
    * zero exchanges, the t13 serve pattern.
    */
  def ngramLangId(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.LangId
    val aug = Tables.documents(spark, sfDir).select(col("doc_id"),
      when(col("doc_id") % 7 === 0, lit(LangId.PlantedEs))
        .when(col("doc_id") % 7 === 1, lit(LangId.PlantedDe))
        .when(col("doc_id") % 7 === 2, lit(LangId.PlantedFr))
        .when(col("doc_id") % 7 === 3, lit(LangId.Gibberish))
        .otherwise(col("text")).as("t"))
    aug.select(col("doc_id"),
        graft.functions.HashFunctions.char_gram_hashes(
          canonText(col("t")), 3, 7).as("gs"))
      .as[(Long, Array[Long])]
      .mapPartitions(_.map { case (id, gs) =>
        val (guess, s) = LangId.score(gs)
        (id, guess, s(0), s(1), s(2), s(3))
      })
      .toDF("doc_id", "lang_guess", "s_en", "s_es", "s_de", "s_fr")
  }

  val ngramLangIdSql: String = {
    import graft.ops.LangId
    val seedVals = LangId.Seeds
      .map { case (l, t) => s"('$l', '$t')" }.mkString(",\n    ")
    // per-class score columns from the one profile join
    val sCols = LangId.Langs.map(l =>
      s"CAST(COALESCE(SUM(CASE WHEN p.lang = '$l' THEN p.c END), 0) AS BIGINT) AS s_$l")
      .mkString(",\n         ")
    // argmax by cross-multiplication in declaration order: a language wins
    // when no later one strictly beats its seed-normalized score
    val langs = LangId.Langs
    val zero = langs.map(l => s"s_$l = 0").mkString(" AND ")
    val arms = langs.init.zipWithIndex.map { case (l, i) =>
      val beats = langs.drop(i + 1)
        .map(o => s"s_$l * t_$o >= s_$o * t_$l").mkString(" AND ")
      s"WHEN $beats THEN '$l'"
    }.mkString("\n         ")
    s"""WITH aug AS (
       |  SELECT doc_id,
       |         CASE doc_id % 7
       |           WHEN 0 THEN '${LangId.PlantedEs}'
       |           WHEN 1 THEN '${LangId.PlantedDe}'
       |           WHEN 2 THEN '${LangId.PlantedFr}'
       |           WHEN 3 THEN '${LangId.Gibberish}'
       |           ELSE text END AS t
       |  FROM documents),
       |ct AS (SELECT doc_id, trim(regexp_replace(lower(t), '\\s+', ' ', 'g')) AS c
       |       FROM aug),
       |dg AS (SELECT doc_id, unnest(list_distinct(
       |         CASE WHEN length(c) < 3 THEN [c]
       |              ELSE [substr(c, CAST(i AS INT), 3)
       |                    FOR i IN range(1, CAST(length(c) AS BIGINT) - 1)] END)) AS g
       |       FROM ct),
       |seeds(lang, txt) AS (VALUES
       |    $seedVals),
       |sg AS (SELECT lang, unnest([substr(txt, CAST(i AS INT), 3)
       |                            FOR i IN range(1, CAST(length(txt) AS BIGINT) - 1)]) AS g
       |       FROM seeds),
       |prof AS (SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS c FROM sg GROUP BY 1, 2),
       |tot AS (SELECT ${langs.map(l =>
                  s"MAX(CASE WHEN lang = '$l' THEN t END) AS t_$l").mkString(", ")}
       |        FROM (SELECT lang, SUM(c) AS t FROM prof GROUP BY 1)),
       |sc AS (SELECT d.doc_id,
       |         $sCols
       |       FROM dg d LEFT JOIN prof p USING (g)
       |       GROUP BY d.doc_id)
       |SELECT doc_id,
       |       CASE WHEN $zero THEN 'unknown'
       |         $arms
       |         ELSE '${langs.last}' END AS lang_guess,
       |       ${langs.map(l => s"s_$l").mkString(", ")}
       |FROM sc CROSS JOIN tot""".stripMargin
  }

  /** T4 — document fingerprinting: 128-bit md5 of the canonical text plus a
    * 32-bit integer fingerprint (the hash family LSH/minhash builds on).
    */
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).select(
      col("doc_id"),
      fingerprint(col("aug")).as("fp"),
      hash32(canonText(col("aug"))).as("fp32"),
      graft.functions.HashFunctions.rolling_hash(canonText(col("aug"))).as("fp_roll"))

  val fingerprintsSql: String =
    s"""WITH $docsSql,
       |canon AS (SELECT doc_id, trim(regexp_replace(lower(aug), '\\s+', ' ', 'g')) AS t FROM docs)
       |SELECT doc_id,
       |  md5(t) AS fp,
       |  CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS fp32,
       |  list_reduce(
       |    list_prepend(CAST(7 AS BIGINT),
       |      list_transform(range(1, length(t) + 1),
       |                     i -> CAST(unicode(substr(t, i, 1)) AS BIGINT))),
       |    (acc, c) -> (acc * 131 + c) % 2147483647) AS fp_roll
       |FROM canon""".stripMargin

  /** T5 — PII redaction: scrub email/phone spans before a corpus ships to
    * training. Synthetic PII is planted deterministically (every 10th doc
    * gets an email, every 10th+5 a phone) so the redaction paths are
    * non-vacuous; patterns stay in the regex subset where Java and RE2
    * semantics coincide. Emits per-doc redaction counts and the redacted
    * length — all codegen'd `regexp_*` built-ins, no UDFs.
    */
  def piiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phone = "555-[0-9]{4}"
    val planted = Tables.documents(spark, sfDir).withColumn("aug",
      when(col("doc_id") % 10 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com now")))
        .when(col("doc_id") % 10 === 5,
          concat(col("text"), lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" today")))
        .otherwise(col("text")))
    planted.select(
      col("doc_id"),
      size(regexp_extract_all(col("aug"), lit(email), lit(0))).as("n_emails"),
      size(regexp_extract_all(col("aug"), lit(phone), lit(0))).as("n_phones"),
      length(regexp_replace(regexp_replace(col("aug"), email, "<EMAIL>"),
        phone, "<PHONE>")).as("red_len"))
  }

  val piiRedactSql: String =
    """WITH planted AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 10 = 0
      |              THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
      |              WHEN doc_id % 10 = 5
      |              THEN text || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
      |              ELSE text END AS aug
      |  FROM documents)
      |SELECT doc_id,
      |  len(regexp_extract_all(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
      |  len(regexp_extract_all(aug, '555-[0-9]{4}')) AS n_phones,
      |  length(regexp_replace(regexp_replace(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      |                        '555-[0-9]{4}', '<PHONE>', 'g')) AS red_len
      |FROM planted""".stripMargin

  /** T6 — deterministic stratified sampling: per-language rates applied by
    * hashing the doc id into 100 buckets (md5-prefix, the engine-portable
    * family) — exact reproducibility with no `rand()`, no sort, no extra
    * shuffle beyond the counting agg; the 100 TB way to downsample a
    * stratum (`WHERE hash(id) % 100 < rate` pushes straight into the scan).
    */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket =
      graft.functions.HashFunctions.md5_prefix(col("doc_id").cast("string"), 4) % 100
    Tables.documents(spark, sfDir)
      .withColumn("bucket", bucket)
      .filter(when(col("lang") === "en", col("bucket") < 20)
        .otherwise(col("bucket") < 50))
      .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
  }

  val stratifiedSampleSql: String =
    """SELECT lang, COUNT(*) AS n_sampled
      |FROM (SELECT lang,
      |             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
      |      FROM documents)
      |WHERE CASE WHEN lang = 'en' THEN bucket < 20 ELSE bucket < 50 END
      |GROUP BY 1""".stripMargin

  /** T7 — corpus vocabulary statistics: per-language document frequency and
    * the top-5 tokens per language (integer counts, token-asc tie-break —
    * no floats cross the engine boundary). The df aggregation is the
    * inverted-index build every tf-idf/BM25 weighting needs; at 100 TB the
    * two-level `groupBy` combines map-side and shuffles only
    * `(lang, token, count)` rows, and the final top-k window partitions by
    * language — k rows per language survive. For extreme cardinality swap
    * the window for the bounded TopK aggregator
    * ([[graft.ops.Similarity.TopK]]); the ranked-window form is kept here
    * because it is the oracle-expressible shape.
    */
  /** T26 — TF-IDF keyword extraction per source (the corpus-exploration
    * report a curation run prints before deciding source weights): for
    * each source, the top-3 tokens by `tf × idf_ppm`, where
    * `idf_ppm = (1e6 · N_docs) div df` — INTEGER idf, so the ranking is
    * deterministic cross-engine with no `ln()` ulp hazard; ties break on
    * the token. Two pruned scans, each exchanging only vocab-sized partial
    * counts (df dedups tokens row-locally first — t7's posture); the
    * tf⋈df join is a plain token-keyed hash join and the top-3 window
    * keeps 3 rows per source via WindowGroupLimit.
    */
  def tfidfKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    val nDocs = Tables.rowCount(spark, sfDir, "documents")
    // Two pushdown-pruned scans on purpose, each with ROW-LOCAL
    // preprocessing so its exchange is vocab-sized: the df branch dedups
    // tokens inside each row (t7's array_distinct treatment — no
    // corpus-wide (doc, token) distinct exchange ever exists) and both
    // branches partial-aggregate map-side. A shared (token, doc, source)
    // aggregate was tried and rejected: Catalyst rewrites the df consumer
    // to a distinct-only aggregate, the exchanges stop being identical,
    // ReuseExchange can't fire, and the "shared" stage runs twice while
    // shuffling MORE than either branch here (r18 review follow-up).
    val docs = Tables.documents(spark, sfDir)
    val df = docs
      .select(explode(array_distinct(wsTokens(lower(col("text"))))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
    val tf = docs
      .select(col("source"), explode(wsTokens(lower(col("text")))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("tf"))
    // domain: worst-case score is tf · 1e6 · N (df = 1), so tf · N must
    // stay ≤ ~9.2e12 — comfortable here and at any graded scale; a
    // web-scale corpus would floor df (rare-token noise) which also
    // restores headroom
    val scored = tf.join(df, "token")
      .withColumn("score", col("tf") * expr(s"(1000000 * ${nDocs}L) div df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("score").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("source", "token", "tf", "df", "score", "rank")
  }

  val tfidfKeywordsSql: String =
    """WITH tok AS (
      |  SELECT doc_id, source,
      |         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |d AS (SELECT token, COUNT(*) AS df
      |      FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
      |t AS (SELECT source, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |s AS (SELECT t.source, t.token, t.tf, d.df,
      |             t.tf * ((1000000 * (SELECT COUNT(*) FROM documents)) // d.df) AS score
      |      FROM t JOIN d USING (token))
      |SELECT source, token, tf, df, score, CAST(rnk AS BIGINT) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY source
      |                                   ORDER BY score DESC, token ASC) AS rnk
      |      FROM s)
      |WHERE rnk <= 3""".stripMargin

  def docFrequency(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(array_distinct(wsTokens(lower(col("text"))))).as("token"))
    val df = toks.groupBy("lang", "token").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("df").desc, col("token").asc)
    df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
  }

  val docFrequencySql: String =
    """WITH tok AS (
      |  SELECT lang, unnest(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS token
      |  FROM documents),
      |d AS (SELECT lang, token, COUNT(*) AS df FROM tok GROUP BY 1, 2)
      |SELECT lang, token, df, CAST(rnk AS BIGINT) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY df DESC, token ASC) AS rnk
      |      FROM d)
      |WHERE rnk <= 5""".stripMargin

  /** T8 — intra-document repetition signals (the Gopher/MassiveText
    * repetition filters: highly repetitive documents are boilerplate or
    * spam and are gated out of LLM training corpora): per doc the token
    * count, distinct-token count, the most-frequent token's count and the
    * most-frequent bigram's count — the numerators/denominators of the
    * "duplicate word fraction" and "top 2-gram fraction" rules, kept as
    * integers so nothing float crosses the engine boundary (ties in the
    * argmax don't matter because only the max COUNT is emitted).
    *
    * Scale shape: two two-level map-side-combining aggregations (the t7
    * posture) — nothing wider than `(doc_id, token, count)` shuffles, and
    * the per-doc roll-up is keyed on doc_id, so a 100 TB corpus streams
    * through without any per-doc state beyond the hash-agg entries.
    */
  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFunctions.shinglesFromTokens
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), wsTokens(lower(col("text"))).as("toks"))
    val tok = toks.select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(sum("n").cast("long").as("n_tok"),
        count(lit(1)).as("n_distinct_tok"), max("n").cast("long").as("top_tok_n"))
    val big = toks.select(col("doc_id"),
        explode(shinglesFromTokens(col("toks"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(max("n").cast("long").as("top_bigram_n"))
    tok.join(big, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tok"), col("n_distinct_tok"), col("top_tok_n"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"))
  }

  val repetitionStatsSql: String =
    """WITH tk AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
      |  FROM documents),
      |tc AS (SELECT doc_id, tok, COUNT(*) AS n
      |       FROM (SELECT doc_id, unnest(toks) AS tok FROM tk) GROUP BY 1, 2),
      |per AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tok,
      |               COUNT(*) AS n_distinct_tok, CAST(MAX(n) AS BIGINT) AS top_tok_n
      |        FROM tc GROUP BY 1),
      |bgl AS (SELECT doc_id,
      |               CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
      |                    ELSE list_transform(range(1, len(toks)),
      |                                        i -> array_to_string(toks[i:i+1], ' ')) END AS gs
      |        FROM tk),
      |bc AS (SELECT doc_id, g, COUNT(*) AS n
      |       FROM (SELECT doc_id, unnest(gs) AS g FROM bgl) GROUP BY 1, 2),
      |bper AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS top_bigram_n FROM bc GROUP BY 1)
      |SELECT per.doc_id, n_tok, n_distinct_tok, top_tok_n,
      |       CAST(COALESCE(top_bigram_n, 0) AS BIGINT) AS top_bigram_n
      |FROM per LEFT JOIN bper ON per.doc_id = bper.doc_id""".stripMargin

  /** T9 — per-source quota cap (the "domain balancing" step of web-corpus
    * construction: no single site may contribute more than K documents):
    * rank each source's docs by the md5 of their id — a deterministic,
    * content-independent shuffle, the t6 trick applied to ordering instead
    * of bucketing — and keep the first K. No `rand()`, reproducible across
    * runs and engines; ties impossible (doc_id is the final sort key).
    *
    * Scale shape: one hash-partitioned window per source. A pathological
    * mega-source makes its partition the straggler — at that point swap
    * the window for the bounded [[graft.ops.Similarity.TopK]] aggregator
    * (k rows per group per partition, map-side combined), the same escape
    * hatch t7 documents.
    */
  def sourceCap(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 15)
  }

  val sourceCapSql: String =
    """SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
      |FROM (SELECT doc_id, source,
      |             row_number() OVER (PARTITION BY source
      |                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |      FROM documents)
      |WHERE rk <= 15""".stripMargin

  /** T22 — token-budget mix construction (the step after t15 decides
    * rates: actually SELECT documents until each source's token budget
    * fills): per source, docs order by `(md5(doc_id), doc_id)` — the t9
    * deterministic shuffle — and the greedy cut keeps every doc whose
    * EXCLUSIVE token prefix sum is below the budget (the boundary doc is
    * included, the standard fill-then-stop rule, so every non-empty
    * source fills to ≥ budget unless exhausted). Output carries the
    * per-doc bookkeeping (tokens, exclusive prefix, keep flag), all
    * integers — exact hash grade.
    *
    * Scale shape: ONE source-keyed window (hash-partitioned running sum
    * — the t9 posture); the mega-source straggler escape is the same
    * two-level prefix sum t12 uses, documented there.
    */
  def tokenBudgetMix(spark: SparkSession, sfDir: String): DataFrame = {
    val Budget = 800L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(wsTokens(lower(col("text")))).cast("long").as("n_tok"))
      .withColumn("cum_before", coalesce(sum("n_tok").over(w), lit(0L)))
      .withColumn("kept", col("cum_before") < Budget)
  }

  val tokenBudgetMixSql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, source, n_tok,
      |         CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |           AS cum_before
      |  FROM t)
      |SELECT doc_id, source, n_tok, cum_before, cum_before < 800 AS kept
      |FROM p""".stripMargin

  /** T21 — the Gopher quality-rule gate (Rae et al. 2021, App. A — the
    * standard web-corpus document filter): word-count bounds, mean word
    * length bounds, symbol-to-word ratio, bullet-line and ellipsis-line
    * fractions, alphabetic-word fraction, and distinct-stopword presence,
    * combined into one keep flag. Every ratio test is stated as an INTEGER
    * cross-multiplication (`10·n_sym ≤ n_words` instead of
    * `n_sym/n_words ≤ 0.1`), so no float ever crosses the engine boundary
    * and the hash grade is exact.
    *
    * The synthetic corpus is single-line lowercase prose, so each rule is
    * made non-vacuous by a deterministic doc_id-keyed multi-line tail
    * (bullet lists, ellipsis endings, symbol runs, numeric words) planted
    * identically in both engines — the t2/t20 plant pattern.
    *
    * Scale shape: pure scan → map (one projection of array folds per doc,
    * all inside whole-stage codegen); zero shuffles, zero joins — the gate
    * over 100 TB is one pass, exactly like t13's score step.
    */
  def gopherGate(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.documents(spark, sfDir).withColumn("gdoc",
      concat(col("text"),
        when(col("doc_id") % 5 === 0,
          lit("\n- list item\n- another item\n- third item\nplain closing line"))
          .when(col("doc_id") % 5 === 1,
            lit("\nread more...\nclick to continue..."))
          .when(col("doc_id") % 5 === 2,
            lit("\n# # # # # # # # # # # # # # # #"))
          .when(col("doc_id") % 5 === 3,
            lit(" 1 2 3 4 5 6 7 8 9 10 11 12"))
          .otherwise(lit(""))))
    val toks = wsTokens(lower(col("gdoc")))
    val lines = split(col("gdoc"), "\n", -1)
    val nWords = size(toks).cast("long")
    // non-overlapping occurrence counts via replace-shrink — identical
    // semantics in DuckDB's replace()
    val nHash = (length(col("gdoc")) - length(regexp_replace(col("gdoc"), "#", ""))).cast("long")
    val nEllTok = ((length(col("gdoc")) -
      length(regexp_replace(col("gdoc"), "\\.\\.\\.", ""))) / 3).cast("long")
    val m = g.select(
      col("doc_id"),
      nWords.as("n_words"),
      aggregate(transform(toks, t => length(t)), lit(0L), (a, x) => a + x)
        .as("sum_word_len"),
      size(lines).cast("long").as("n_lines"),
      size(filter(lines, l => l.startsWith("- "))).cast("long").as("n_bullet"),
      size(filter(lines, l => l.endsWith("..."))).cast("long").as("n_ellipsis"),
      (nHash + nEllTok).as("n_symbols"),
      size(filter(toks, t => t.rlike("[a-z]"))).cast("long").as("n_alpha_words"),
      size(array_intersect(array_distinct(toks),
        array(Stopwords.map(lit(_)): _*))).cast("long").as("n_stop_distinct"))
    m.select(col("*"),
        (col("n_words") >= 50 && col("n_words") <= 100000).as("r_wordcount"),
        (lit(3) * col("n_words") <= col("sum_word_len") &&
          col("sum_word_len") <= lit(10) * col("n_words")).as("r_meanlen"),
        (lit(10) * col("n_symbols") <= col("n_words")).as("r_symbol"),
        (lit(10) * col("n_bullet") <= col("n_lines")).as("r_bullet"),
        (lit(10) * col("n_ellipsis") <= lit(3) * col("n_lines")).as("r_ellipsis"),
        (lit(5) * col("n_alpha_words") >= lit(4) * col("n_words")).as("r_alpha"),
        (col("n_stop_distinct") >= 2).as("r_stop"))
      .withColumn("keep",
        col("r_wordcount") && col("r_meanlen") && col("r_symbol") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha") && col("r_stop"))
  }

  /** T24 — the trained quality gate ([[graft.ops.QualityModel]]): fit a
    * closed-form ridge LPM on the corpus' own Gopher verdicts (weak
    * labels, the CCNet bootstrap), quantize to 1e-6 fixed-point weights,
    * stage the weight table, and gate every document by ONE integer dot
    * product against the integer half-threshold. Output carries the
    * fixed-point features, the raw score z, the model flag AND the
    * Gopher label — so the hash grade covers feature derivation, the
    * staged weights, the dot, and the threshold, while the label column
    * keeps the model/rules disagreement visible. Features are integer
    * fixed-point (scale 1e4, positive integer division) so both engines
    * derive them exactly; the oracle replays the identical dot from the
    * staged weights.
    */
  private val QFeatCols = Seq("x0", "x1", "x2", "x3", "x4", "x5", "x6", "x7")

  private def qualityFeatures(g: DataFrame): DataFrame = {
    import graft.ops.QualityModel.FeatScale
    // `div` (not `/`): Spark's `/` on longs is double division; every
    // feature must stay an exact positive integer both engines agree on
    g.select(col("doc_id"),
      lit(FeatScale).as("x0"),
      expr(s"$FeatScale * n_alpha_words div n_words").as("x1"),
      expr(s"$FeatScale * n_stop_distinct div 8").as("x2"),
      expr("1000 * sum_word_len div n_words").as("x3"),
      expr(s"$FeatScale * n_symbols div n_words").as("x4"),
      expr(s"$FeatScale * n_bullet div n_lines").as("x5"),
      expr(s"$FeatScale * n_ellipsis div n_lines").as("x6"),
      (least(col("n_words"), lit(200L)) * lit(50L)).cast("long").as("x7"),
      col("keep").cast("long").as("y"))
  }

  def qualityClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.QualityModel
    val f = qualityFeatures(gopherGate(spark, sfDir)).localCheckpoint()
    // fit and stage once per corpus: t25 gates through the same weights
    val weights = s"${TarQueries.StageDir}/t24_weights.parquet"
    val w = Staged("t24_weights", sfDir, Seq(weights)) {
      val fit = QualityModel.quantize(QualityModel.fitLpm(f, QFeatCols, "y"))
      fit.zipWithIndex.map { case (wi, i) => (i.toLong, wi) }.toSeq
        .toDF("idx", "w")
        .coalesce(1).write.mode("overwrite").parquet(weights)
      fit
    }
    val z = QFeatCols.zipWithIndex
      .map { case (c, i) => col(c) * lit(w(i)) }
      .reduce(_ + _)
    f.select(col("doc_id"),
      col("x1"), col("x2"), col("x3"), col("x4"), col("x5"), col("x6"),
      col("x7"),
      z.as("z"),
      (z >= lit(QualityModel.Half)).cast("long").as("keep_model"),
      col("y").as("gopher_label"))
  }

  def qualityClassifierSql: String = {
    import graft.ops.QualityModel.{FeatScale, Half}
    val wPivot = (0 to 7).map(i =>
      s"MAX(CASE WHEN idx = $i THEN w END) AS w$i").mkString(", ")
    s"""WITH g AS ($gopherGateSql),
       |wt AS (SELECT $wPivot
       |       FROM read_parquet('${TarQueries.StageDir}/t24_weights.parquet/*.parquet')),
       |f AS (SELECT doc_id,
       |  CAST($FeatScale AS BIGINT) AS x0,
       |  $FeatScale * n_alpha_words // n_words AS x1,
       |  $FeatScale * n_stop_distinct // 8 AS x2,
       |  1000 * sum_word_len // n_words AS x3,
       |  $FeatScale * n_symbols // n_words AS x4,
       |  $FeatScale * n_bullet // n_lines AS x5,
       |  $FeatScale * n_ellipsis // n_lines AS x6,
       |  LEAST(n_words, 200) * 50 AS x7,
       |  CAST(keep AS BIGINT) AS y
       |  FROM g),
       |s AS (SELECT doc_id, x1, x2, x3, x4, x5, x6, x7, y,
       |  x0*w0 + x1*w1 + x2*w2 + x3*w3 + x4*w4 + x5*w5 + x6*w6 + x7*w7 AS z
       |  FROM f CROSS JOIN wt)
       |SELECT doc_id, x1, x2, x3, x4, x5, x6, x7, z,
       |       CAST(z >= $Half AS BIGINT) AS keep_model, y AS gopher_label
       |FROM s""".stripMargin
  }

  /** T25 — batch eval harness for the filter tiers: the confusion matrix
    * of t24's trained LPM against t21's Gopher verdicts, swept across
    * seven operating thresholds (0.2 … 0.8 of the probability scale) —
    * the precision/recall curve a real filter deployment reads before
    * picking its operating point (the h6 treatment applied to the
    * quality stack). All counts integer; precision/recall as ppm via
    * positive integer division, 0 when the denominator is empty, so the
    * grade is exact. Off-diagonals are non-vacuous across the sweep:
    * loose thresholds admit Gopher-rejected docs (fp), tight ones drop
    * Gopher-kept docs (fn) — measured 136 fp @0.2 / 82 fn @0.6 at
    * sf0.01. Shape: one classifier scan broadcast-crossed with the
    * 7-row threshold table, one hash aggregation — no new exchange
    * beyond t24's own.
    */
  def filterEval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val thr = broadcast((2 to 8).map(i => i * 100000L).toDF("thr"))
    def cell(p: Column) = sum(when(p, 1L).otherwise(0L))
    qualityClassifier(spark, sfDir).select(col("z"), col("gopher_label"))
      .crossJoin(thr)
      .groupBy("thr")
      .agg(
        cell(col("z") >= col("thr") && col("gopher_label") === 1).as("tp"),
        cell(col("z") >= col("thr") && col("gopher_label") === 0).as("fp"),
        cell(col("z") < col("thr") && col("gopher_label") === 1).as("fn"),
        cell(col("z") < col("thr") && col("gopher_label") === 0).as("tn"))
      .select(col("thr"), col("tp"), col("fp"), col("fn"), col("tn"),
        // explicit zero-denominator guards: ANSI `div` throws on 0
        when(col("tp") + col("fp") === 0, lit(0L))
          .otherwise(expr("1000000L * tp div (tp + fp)")).as("precision_ppm"),
        when(col("tp") + col("fn") === 0, lit(0L))
          .otherwise(expr("1000000L * tp div (tp + fn)")).as("recall_ppm"))
  }

  def filterEvalSql: String =
    s"""WITH s AS (SELECT z, gopher_label FROM ($qualityClassifierSql)),
       |t AS (SELECT unnest([200000, 300000, 400000, 500000, 600000,
       |                     700000, 800000]) AS thr),
       |m AS (SELECT thr,
       |        SUM(CASE WHEN z >= thr AND gopher_label = 1 THEN 1 ELSE 0 END) AS tp,
       |        SUM(CASE WHEN z >= thr AND gopher_label = 0 THEN 1 ELSE 0 END) AS fp,
       |        SUM(CASE WHEN z <  thr AND gopher_label = 1 THEN 1 ELSE 0 END) AS fn,
       |        SUM(CASE WHEN z <  thr AND gopher_label = 0 THEN 1 ELSE 0 END) AS tn
       |      FROM s CROSS JOIN t GROUP BY 1)
       |SELECT CAST(thr AS BIGINT) AS thr, CAST(tp AS BIGINT) AS tp,
       |       CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
       |       CAST(tn AS BIGINT) AS tn,
       |       CAST(COALESCE(1000000 * tp // NULLIF(tp + fp, 0), 0) AS BIGINT)
       |         AS precision_ppm,
       |       CAST(COALESCE(1000000 * tp // NULLIF(tp + fn, 0), 0) AS BIGINT)
       |         AS recall_ppm
       |FROM m""".stripMargin

  val gopherGateSql: String = {
    val stop = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH g AS (
       |  SELECT doc_id, text || CASE
       |    WHEN doc_id % 5 = 0 THEN chr(10) || '- list item' || chr(10) ||
       |      '- another item' || chr(10) || '- third item' || chr(10) ||
       |      'plain closing line'
       |    WHEN doc_id % 5 = 1 THEN chr(10) || 'read more...' || chr(10) ||
       |      'click to continue...'
       |    WHEN doc_id % 5 = 2 THEN chr(10) || '# # # # # # # # # # # # # # # #'
       |    WHEN doc_id % 5 = 3 THEN ' 1 2 3 4 5 6 7 8 9 10 11 12'
       |    ELSE '' END AS gdoc
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim(lower(gdoc)), '\\s+')) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(string_split_regex(trim(lower(gdoc)), '\\s+'),
       |                                 t -> length(t))) AS BIGINT) AS sum_word_len,
       |    CAST(len(string_split(gdoc, chr(10))) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(string_split(gdoc, chr(10)),
       |                         l -> starts_with(l, '- '))) AS BIGINT) AS n_bullet,
       |    CAST(len(list_filter(string_split(gdoc, chr(10)),
       |                         l -> ends_with(l, '...'))) AS BIGINT) AS n_ellipsis,
       |    CAST(length(gdoc) - length(replace(gdoc, '#', ''))
       |      + (length(gdoc) - length(replace(gdoc, '...', ''))) // 3 AS BIGINT) AS n_symbols,
       |    CAST(len(list_filter(string_split_regex(trim(lower(gdoc)), '\\s+'),
       |                         t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha_words,
       |    CAST(len(list_intersect(list_distinct(string_split_regex(trim(lower(gdoc)), '\\s+')),
       |                            [$stop])) AS BIGINT) AS n_stop_distinct
       |  FROM g)
       |SELECT *,
       |  (n_words >= 50 AND n_words <= 100000) AS r_wordcount,
       |  (3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words) AS r_meanlen,
       |  (10 * n_symbols <= n_words) AS r_symbol,
       |  (10 * n_bullet <= n_lines) AS r_bullet,
       |  (10 * n_ellipsis <= 3 * n_lines) AS r_ellipsis,
       |  (5 * n_alpha_words >= 4 * n_words) AS r_alpha,
       |  (n_stop_distinct >= 2) AS r_stop,
       |  (n_words >= 50 AND n_words <= 100000
       |   AND 3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words
       |   AND 10 * n_symbols <= n_words
       |   AND 10 * n_bullet <= n_lines
       |   AND 10 * n_ellipsis <= 3 * n_lines
       |   AND 5 * n_alpha_words >= 4 * n_words
       |   AND n_stop_distinct >= 2) AS keep
       |FROM m""".stripMargin
  }

  /** T10 — typed JSON metadata extraction: every training-corpus delivery
    * carries a semi-structured metadata column (crawl headers, annotation
    * payloads — here `events.props`); the Spark-first form is a SCHEMA'D
    * `from_json` (codegen'd Jackson parse straight into an internal
    * struct, null on malformed) rather than per-path string UDFs that
    * re-parse the document once per extracted field. Grouped stats over
    * the extracted field prove the parse: a mis-read digit anywhere moves
    * a row across buckets or shifts min/max/sum.
    */
  def jsonProps(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
        .getField("k").as("k"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"))

  val jsonPropsSql: String =
    """WITH x AS (
      |  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
      |SELECT k % 10 AS k_mod, COUNT(*) AS n_rows,
      |       MIN(k) AS min_k, MAX(k) AS max_k, CAST(SUM(k) AS BIGINT) AS sum_k
      |FROM x GROUP BY 1""".stripMargin

  /** T11 — BM25 relevance scoring (Okapi, k1=1.2 b=0.75) of every document
    * against a fixed query-term set: the retrieval-scoring primitive of a
    * training-data pipeline (quality-weighted sampling, seed-document
    * expansion, topic filtering all rank by BM25-ish relevance).
    *
    * Shape: ONE corpus scan computes per-doc `(tf_i..., dl)` (term
    * frequency via `size - size(array_remove(...))` — codegen collection
    * ops, no HOF lambda and no explode); the corpus-level constants
    * `(N, avgdl, df_i...)` reduce to a SINGLE row which broadcast-joins
    * back — so the whole query is scan → tiny agg → broadcast → scalar
    * arithmetic, no wide shuffle at any size. All aggregated inputs are
    * integer-valued (exact in FP under any partition order); the only
    * transcendental is `ln`, and the expression tree is written in the
    * same association order as the oracle SQL so the doubles match
    * bit-for-bit (rounded to 6 dp on output as the boundary guard).
    */
  /** The fixed query-term set t11/h1 score against. */
  private[queries] val Bm25Terms = Seq("table", "scan", "join", "vector", "stream")

  /** Per-doc BM25 pipeline: `(doc_id, all per-doc/global columns)` plus the
    * UNROUNDED score expression — shared by t11 (threshold + round) and the
    * hybrid-retrieval first stage (rank + cut).
    */
  private[queries] def bm25Pipeline(spark: SparkSession, sfDir: String)
      : (DataFrame, Column) =
    bm25Score(Tables.documents(spark, sfDir)
      .select(col("doc_id"), wsTokens(lower(col("text"))).as("toks")))

  /** The scorer over an ARBITRARY `(key..., toks)` unit frame — what lets
    * h5 score CHUNKS with the exact t11 machinery (tf/dl per unit, one
    * global constants row broadcast back, identical association order to
    * the oracle SQL).
    */
  private[queries] def bm25Score(base: DataFrame): (DataFrame, Column) = {
    val terms = Bm25Terms
    // all term frequencies in ONE fused array pass
    // ([[graft.functions.TermCounts]]) — the per-term
    // size-minus-array_remove composition allocated a filtered copy of
    // the token array per term per row, the dominant cost of the
    // chunk-level h5 pass (5 terms × every chunk)
    val tf = base
      .withColumn("__tfs", graft.functions.TermCounts.token_term_counts(
        col("toks"), terms))
      .withColumn("dl", size(col("toks")).cast("double"))
      .drop("toks")
    val tfCols = terms.indices.foldLeft(tf) { case (df, i) =>
      df.withColumn(s"tf$i",
        element_at(col("__tfs"), i + 1).cast("double"))
    }.drop("__tfs")
    val aggExprs =
      count(lit(1)).cast("double").as("n") +: avg(col("dl")).as("avgdl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1.0).otherwise(0.0)).as(s"df$i"))
    val g = tfCols.agg(aggExprs.head, aggExprs.tail: _*)
    val score = terms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("n") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      (idf * (col(s"tf$i") * lit(2.2))) /
        (col(s"tf$i") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    (tfCols.crossJoin(broadcast(g)), score)
  }

  def bm25(spark: SparkSession, sfDir: String): DataFrame = {
    val (scored, score) = bm25Pipeline(spark, sfDir)
    scored
      .filter(score > 0)
      .select(col("doc_id"), round(score, 6).as("bm25"))
  }

  /** The tk/st/g CTE chain of the BM25 oracle (shared with h1). */
  private[queries] val bm25CtesSql: String = {
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf$i"
    }.mkString(",\n      |       ")
    val dfCols = Bm25Terms.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1.0 ELSE 0.0 END) AS df$i").mkString(", ")
    s"""tk AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      |  FROM documents),
      |st AS (
      |  SELECT doc_id,
      |       $tfCols,
      |       CAST(len(toks) AS DOUBLE) AS dl
      |  FROM tk),
      |g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl, $dfCols FROM st)""".stripMargin
  }

  /** The BM25 score expression over `st, g` columns (shared with h1). */
  private[queries] val bm25ScoreSql: String =
    Bm25Terms.indices.map(i =>
      s"(ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * 2.2)) / " +
        s"(tf$i + 1.2 * (0.25 + 0.75 * dl / avgdl))").mkString("\n      |       + ")
      .stripMargin

  val bm25Sql: String =
    s"""WITH $bm25CtesSql
      |SELECT doc_id,
      |       ROUND($bm25ScoreSql, 6) AS bm25
      |FROM st, g
      |WHERE $bm25ScoreSql > 0""".stripMargin

  /** T12 — training-shard packing: walk documents in doc_id order and cut
    * shards of ~2000 tokens (the "write shards of N tokens" step before
    * training). One summary row per shard; the oracle recomputes the
    * exclusive prefix sum with a plain window, so a pass proves the
    * two-level distributed prefix sum ([[graft.ops.Scale.packByWeight]])
    * equals the sequential definition exactly — boundaries, ids, totals.
    */
  def tokenShards(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(wsTokens(col("text"))).cast("long").as("n_tokens"))
    graft.ops.Scale.packByWeight(toks, "doc_id", "n_tokens",
      target = 2000L, bucketWidth = 100L)
      .groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  val tokenShardsSql: String =
    """WITH tk AS (
      |  SELECT doc_id,
      |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
      |  FROM documents),
      |c AS (SELECT doc_id, n,
      |             CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |                  AS BIGINT) AS pre
      |      FROM tk)
      |SELECT pre // 2000 AS shard, COUNT(*) AS n_docs,
      |       CAST(SUM(n) AS BIGINT) AS n_tokens,
      |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM c GROUP BY 1""".stripMargin

  /** T18 — fixed-length sequence packing ([[graft.ops.SequencePack]]):
    * the concat-and-chunk step of LLM pretraining data prep. Documents
    * walked in doc_id order concatenate into one virtual token stream cut
    * every 256 tokens; the output is the span table — which slice
    * `[tok_start, tok_end)` of which document feeds which training
    * sequence. Unlike t12 (whole docs into ~2000-token shards), documents
    * here SPLIT across sequence boundaries, which is what makes every
    * training row exactly seqLen tokens. The oracle recomputes the
    * offsets with a plain sequential window and unrolls the same span
    * arithmetic, so a hash match proves the distributed prefix sum AND
    * the boundary math equal the sequential definition.
    */
  def sequencePack(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(wsTokens(col("text"))).cast("long").as("n_tokens"))
    graft.ops.SequencePack.sequenceSpans(toks, "doc_id", "n_tokens",
      seqLen = 256L, bucketWidth = 100L)
  }

  val sequencePackSql: String =
    """WITH tk AS (
      |  SELECT doc_id,
      |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
      |  FROM documents),
      |c AS (SELECT doc_id, n,
      |             CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |                  AS BIGINT) AS strt
      |      FROM tk),
      |s AS (SELECT doc_id, n, strt,
      |             UNNEST(range(strt // 256, (strt + n - 1) // 256 + 1)) AS seq_id
      |      FROM c WHERE n > 0)
      |SELECT doc_id, seq_id,
      |       GREATEST(0, seq_id * 256 - strt) AS tok_start,
      |       LEAST(n, (seq_id + 1) * 256 - strt) AS tok_end
      |FROM s""".stripMargin

  /** T13 — statistical-LM quality filter (the CCNet/ RefinedWeb "perplexity
    * gate"): train a char-bigram language model on the corpus itself
    * (add-one smoothing over the observed alphabet), score every document
    * by its per-character negative log-likelihood under that model, and
    * flag the keep set below a fixed nll threshold. Gibberish and
    * out-of-distribution documents score high; text that looks like the
    * corpus scores low — the cheap proxy for "would a real LM find this
    * plausible" that web-corpus pipelines run before the expensive model.
    *
    * Scale shape — two corpus passes, ZERO corpus-carrying shuffles:
    * 1. TRAIN: each partition pre-combines its bigram counts into one
    *    in-memory histogram (`mapPartitions` — emits ≤|alphabet|² rows per
    *    PARTITION, not per position), so the count shuffle moves
    *    #partitions·|alphabet|² tiny numeric rows at ANY corpus size; the
    *    finished model (≤|alphabet|² rows) collects to a broadcast
    *    variable — the stableIds-offsets pattern, not a driver-side data
    *    loop.
    * 2. SCORE: a `mapPartitions` fold over each doc against the broadcast
    *    model — scan → map, no Exchange anywhere in the scoring plan
    *    (pinned in PlanSpec). This is the canonical broadcast-dictionary
    *    shape a 100 TB perplexity gate runs.
    *
    * Float determinism: `Σ_positions logp = Σ_bigrams k·logp` exactly, and
    * the per-doc fold walks bigrams in UTF-8 byte order —
    * `(0.0+l1)+l2+…` associates identically to DuckDB's `list_reduce`
    * `((l1+l2)+l3)+…` over `list(k·ln(p) ORDER BY bg)` because adding the
    * 0.0 init is exact — with a 6-dp `HALF_UP` round as the boundary guard
    * (the t11 practice).
    */
  def lmFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"), lower(col("text")).as("t"))
    // train + score live in ops.LmScore (shared with the st6 streaming
    // serve path — same model, same fold, same rounding)
    val bcModel = spark.sparkContext.broadcast(
      graft.ops.LmScore.trainBigramModel(d))
    d.as[(Long, String)].mapPartitions { rows =>
      val m = bcModel.value
      rows.map { case (id, t) => graft.ops.LmScore.score(m, id, t) }
    }.toDF("doc_id", "nll", "keep")
  }

  val lmFilterSql: String =
    """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents
      |           WHERE length(text) >= 2),
      |bgl AS (SELECT doc_id,
      |               [substr(t, CAST(i AS INT), 2)
      |                FOR i IN range(1, CAST(length(t) AS BIGINT))] AS bgs
      |        FROM d),
      |bgr AS (SELECT doc_id, unnest(bgs) AS bg FROM bgl),
      |h AS (SELECT doc_id, bg, CAST(COUNT(*) AS DOUBLE) AS k
      |      FROM bgr GROUP BY doc_id, bg),
      |cnt AS (SELECT bg, SUM(k) AS cbg FROM h GROUP BY bg),
      |pre AS (SELECT substr(bg,1,1) AS c1, SUM(cbg) AS cpre FROM cnt GROUP BY 1),
      |v AS (SELECT CAST(COUNT(DISTINCT c) AS DOUBLE) AS vn FROM (
      |        SELECT substr(bg,1,1) AS c FROM cnt
      |        UNION SELECT substr(bg,2,1) FROM cnt)),
      |sc AS (SELECT h.doc_id, h.bg, h.k,
      |              h.k * ln((cbg + 1.0) / (cpre + vn)) AS wlogp
      |       FROM h JOIN cnt USING (bg)
      |       JOIN pre ON substr(h.bg,1,1) = pre.c1 CROSS JOIN v),
      |arr AS (SELECT doc_id, list(wlogp ORDER BY bg) AS l, SUM(k) AS n
      |        FROM sc GROUP BY doc_id)
      |SELECT doc_id,
      |       ROUND(-list_reduce(l, (acc,x) -> acc + x) / n, 6) AS nll,
      |       CAST(ROUND(-list_reduce(l, (acc,x) -> acc + x) / n, 6)
      |            < CAST(1.70 AS DOUBLE) AS BIGINT) AS keep
      |FROM arr""".stripMargin

  /** T27 — word-trigram stupid-backoff LM gate
    * ([[graft.ops.LmScore.stupidBackoffScores]]): the CCNet-fidelity tier
    * above t13's char-bigram scale shape. Counts train on the EVEN
    * doc_ids and score every document, so the three backoff arms (seen
    * trigram → α·bigram → α²·unigram → OOV 0) all fire on the held-out
    * half; everything is integer ppm, so the grade is exact. Keep
    * threshold 75000 ppm splits the corpus non-trivially at every graded SF
    * (262/238 at sf0.01, with both outcomes present in the held-out half).
    */
  def lmTrigramFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val toked = Tables.documents(spark, sfDir)
      .select(col("doc_id"), wsTokens(lower(col("text"))).as("ts"))
      .filter(size(col("ts")) >= 3)
    graft.ops.LmScore.stupidBackoffScores(toked, col("doc_id") % 2 === 0)
      .withColumn("keep", (col("score_ppm") >= 75000L).cast("long"))
  }

  val lmTrigramFilterSql: String =
    """WITH toks3 AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
      |  FROM documents
      |  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 3),
      |tr AS (SELECT doc_id, ts[t.i] AS w1, ts[t.i+1] AS w2, ts[t.i+2] AS w3
      |       FROM toks3, UNNEST(generate_series(1, len(ts) - 2)) AS t(i)),
      |c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tr
      |       WHERE doc_id % 2 = 0 GROUP BY 1, 2, 3),
      |bi AS (SELECT ts[t.i] AS a, ts[t.i+1] AS b, COUNT(*) AS c
      |       FROM toks3, UNNEST(generate_series(1, len(ts) - 1)) AS t(i)
      |       WHERE doc_id % 2 = 0 GROUP BY 1, 2),
      |un AS (SELECT u.w AS w, COUNT(*) AS c FROM toks3, UNNEST(ts) AS u(w)
      |       WHERE doc_id % 2 = 0 GROUP BY 1),
      |nt AS (SELECT CAST(SUM(len(ts)) AS BIGINT) AS n FROM toks3
      |       WHERE doc_id % 2 = 0),
      |sc AS (SELECT tr.doc_id,
      |         CASE WHEN c3.c3 IS NOT NULL THEN (1000000 * c3.c3) // b12.c
      |              WHEN b23.c IS NOT NULL
      |                THEN (400000 * ((1000000 * b23.c) // u2.c)) // 1000000
      |              WHEN u3.c IS NOT NULL
      |                THEN (160000 * ((1000000 * u3.c) // nt.n)) // 1000000
      |              ELSE 0 END AS s
      |       FROM tr
      |       LEFT JOIN c3 USING (w1, w2, w3)
      |       LEFT JOIN bi b12 ON tr.w1 = b12.a AND tr.w2 = b12.b
      |       LEFT JOIN bi b23 ON tr.w2 = b23.a AND tr.w3 = b23.b
      |       LEFT JOIN un u2 ON tr.w2 = u2.w
      |       LEFT JOIN un u3 ON tr.w3 = u3.w
      |       CROSS JOIN nt)
      |SELECT doc_id, COUNT(*) AS n_tri,
      |       CAST(SUM(s) AS BIGINT) // COUNT(*) AS score_ppm,
      |       CAST((CAST(SUM(s) AS BIGINT) // COUNT(*)) >= 75000 AS BIGINT) AS keep
      |FROM sc GROUP BY doc_id""".stripMargin

  /** T19 — CCNet-style perplexity bucketing (Wenzek et al. 2020): split
    * the corpus into head/middle/tail THIRDS by LM score — the standard
    * web-corpus curation step where "head" (lowest perplexity, most
    * LM-like) trains as-is, "middle" is kept with caveats, and "tail" is
    * dropped or heavily filtered. Reuses t13's bigram NLL (already rounded
    * to 6 decimals, the cross-engine stability contract) and cuts at the
    * exact 1/3 and 2/3 percentiles — the interpolation rule Spark
    * `percentile` and DuckDB `quantile_cont` share (the a4 pin). The
    * 1-row threshold aggregate broadcasts onto the scored corpus, so
    * bucketing is scan → map; the exact percentile is the graded-scale
    * shape, with `approx_percentile` as the documented 100 TB path (the
    * a4b treatment: a sketch with map-side combine, rank error ≤ n/acc).
    */
  def ccnetBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val s = lmFilter(spark, sfDir).select(col("doc_id"), col("nll"))
    val th = s.agg(
      expr("percentile(nll, 0.3333333333333333)").as("t1"),
      expr("percentile(nll, 0.6666666666666666)").as("t2"))
    s.crossJoin(broadcast(th))
      .select(col("doc_id"), col("nll"),
        when(col("nll") <= col("t1"), "head")
          .when(col("nll") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  val ccnetBucketsSql: String =
    s"""WITH s AS (SELECT doc_id, nll FROM ($lmFilterSql)),
       |th AS (SELECT quantile_cont(nll, 0.3333333333333333) AS t1,
       |              quantile_cont(nll, 0.6666666666666666) AS t2 FROM s)
       |SELECT doc_id, nll,
       |       CASE WHEN nll <= t1 THEN 'head'
       |            WHEN nll <= t2 THEN 'middle'
       |            ELSE 'tail' END AS bucket
       |FROM s CROSS JOIN th""".stripMargin

  /** T20 — Unicode normalization + accent folding
    * ([[graft.functions.NormalizeFunctions]]): the synthetic corpus is
    * ASCII, so canonically-equivalent spellings are planted in BOTH
    * engines — every 2nd doc rewrites each `e` to DECOMPOSED `e`+U+0301
    * and every 3rd doc prepends composed `café naïve` — then the query
    * reports raw vs NFC lengths (composition shrinks the decomposed docs)
    * and the md5 of the accent-folded text (equal for docs whose planted
    * forms fold to the same ASCII). Pure scan → codegen map, zero
    * shuffles; the oracle replays it on DuckDB's utf8proc-backed
    * `nfc_normalize`/`strip_accents` — agreement IS the Unicode-conformance
    * check for the custom expressions.
    */
  def unicodeNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NormalizeFunctions.{nfc_normalize, strip_accents}
    val base = when(col("doc_id") % 2 === 0,
      regexp_replace(col("text"), "e", "é")).otherwise(col("text"))
    val planted = when(col("doc_id") % 3 === 0,
      concat(lit("café naïve "), base)).otherwise(base)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), planted.as("text"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("len_raw"),
        length(nfc_normalize(col("text"))).cast("long").as("len_nfc"),
        md5(strip_accents(nfc_normalize(col("text")))).as("fp_folded"))
  }

  val unicodeNormalizeSql: String =
    """WITH ucorpus AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 3 = 0
      |              THEN 'caf' || chr(233) || ' na' || chr(239) || 've ' || b
      |              ELSE b END AS text
      |  FROM (SELECT doc_id,
      |               CASE WHEN doc_id % 2 = 0
      |                    THEN regexp_replace(text, 'e', 'e' || chr(769), 'g')
      |                    ELSE text END AS b
      |        FROM documents))
      |SELECT doc_id, CAST(length(text) AS BIGINT) AS len_raw,
      |       CAST(length(nfc_normalize(text)) AS BIGINT) AS len_nfc,
      |       md5(strip_accents(nfc_normalize(text))) AS fp_folded
      |FROM ucorpus""".stripMargin

  /** T14 — deterministic corpus shuffle: the "shuffle the data once,
    * globally, before cutting training shards" step. Every doc gets a
    * reproducible pseudo-random position (rank of `md5(doc_id)` — the
    * engine-portable hash family t6/t9 established, no `rand()`) and a
    * 100-doc shard id on the shuffled order, so shard contents are a
    * deterministic function of the corpus alone — re-running the pipeline
    * reproduces byte-identical shards (resumable manifests, debuggable
    * training order).
    *
    * Scale shape: `orderBy(md5)` plans a RANGE-partitioned sort — each
    * partition sorts locally after a sampled range exchange, never a
    * single-partition funnel — and positions come from
    * [[graft.ops.Scale.stableIds]] (per-partition offsets prefix-summed on
    * the driver, O(#partitions)), NOT a global `row_number()` window,
    * which would re-funnel the sorted corpus through one task. The plan
    * has no Window operator at all — pinned in PlanSpec.
    */
  def corpusShuffle(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("k"))
      .orderBy(col("k"), col("doc_id"))
    graft.ops.Scale.stableIds(keyed, "pos")
      .select(col("doc_id"), col("pos"), expr("pos DIV 100").as("shard"))
  }

  val corpusShuffleSql: String =
    """SELECT doc_id,
      |       CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
      |            - 1 AS BIGINT) AS pos,
      |       CAST((row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
      |            - 1) // 100 AS BIGINT) AS shard
      |FROM documents""".stripMargin

  /** T15 — temperature-based source mixing (the "data mixture" step: flatten
    * a skewed source distribution toward uniform before training). With
    * temperature α = 0.5, source `s` keeps each doc with probability
    * `sqrt(n_min / n_s)` — the smallest source keeps everything, a source
    * 100× larger keeps 10% — so the post-mix shares follow `n_s^α`, the
    * standard multiplicity-tempered mixture. The keep decision is the t6
    * deterministic-hash trick (`md5(doc_id)` bucket vs a per-source
    * cutoff), so the mix is reproducible with no `rand()`.
    *
    * The synthetic corpus's `source` column is uniform by construction, so
    * the mix runs over a derived skewed domain — `floor(sqrt(doc_id % 100))`
    * gives 10 domains with sizes 1:3:5:…:19 per 100 docs, a Zipf-ish
    * spread — making the tempering non-vacuous while staying an exact
    * integer/perfect-square computation in both engines.
    *
    * Float determinism: the cutoff is `floor(10000·sqrt(n_min/n_s))` —
    * one IEEE-exact division, one correctly-rounded sqrt, one floor, all
    * bit-identical across engines; every output column is an exact count.
    *
    * Scale shape: the rate table is one tiny per-source agg (map-side
    * combined) broadcast back over the corpus; the keep filter is a scan
    * predicate. One wide shuffle total (the final per-source count).
    */
  def sourceMix(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        floor(sqrt((col("doc_id") % 100).cast("double"))).as("domain"))
    val counts = docs.groupBy("domain").agg(count(lit(1)).as("n_before"))
    val minn = counts.agg(min(col("n_before")).as("n_min"))
    val rates = counts.crossJoin(broadcast(minn))
      .withColumn("cut", floor(lit(10000.0) *
        sqrt(col("n_min").cast("double") / col("n_before").cast("double"))))
    val bucket =
      graft.functions.HashFunctions.md5_prefix(col("doc_id").cast("string"), 4) % 10000
    docs.join(broadcast(rates), "domain")
      .filter(bucket < col("cut"))
      .groupBy(col("domain"), col("n_before"), col("cut").cast("long").as("cut"))
      .agg(count(lit(1)).as("n_after"))
      .select(col("domain"), col("n_before"), col("n_after"), col("cut"))
  }

  val sourceMixSql: String =
    """WITH d AS (SELECT doc_id,
      |                  CAST(floor(sqrt(CAST(doc_id % 100 AS DOUBLE))) AS BIGINT) AS domain
      |           FROM documents),
      |c AS (SELECT domain, COUNT(*) AS n_before FROM d GROUP BY domain),
      |m AS (SELECT MIN(n_before) AS n_min FROM c),
      |r AS (SELECT domain, n_before,
      |             CAST(floor(10000.0 * sqrt(CAST(n_min AS DOUBLE) / CAST(n_before AS DOUBLE)))
      |                  AS BIGINT) AS cut
      |      FROM c, m)
      |SELECT r.domain, r.n_before, COUNT(*) AS n_after, r.cut
      |FROM d JOIN r USING (domain)
      |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |      % 10000 < r.cut
      |GROUP BY r.domain, r.n_before, r.cut""".stripMargin

  /** T16 — BPE vocabulary training ([[graft.ops.Bpe]]): learn 8 merges
    * from the corpus' word-frequency table, output
    * `(rank, pair, n_occ)` per merge. The oracle replays each round as a
    * chained CTE stage — pair counts → argmax (ties by pair asc) → literal
    * `(x)(y)→(xy)` replace — over the same parenthesized-symbol
    * representation, so a pass proves the distributed trainer equals the
    * sequential BPE definition round for round.
    */
  private val BpeRounds = 8

  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Bpe.trainOnDocuments(spark,
      Tables.documents(spark, sfDir), "text", nMerges = BpeRounds)

  /** The shared training CTE chain (wf, s0, then p/b/s per round) — b1…bN
    * hold each round's winning pair; consumed by both t16's output and
    * t17's apply chain.
    */
  private val bpeTrainCtes: String = {
    val stages = (1 to BpeRounds).map { r =>
      s"""p$r AS (SELECT p, SUM(freq) AS n FROM (
         |  SELECT freq, unnest(list_transform(range(1, len(sy)),
         |         i -> sy[CAST(i AS INT)] || ' ' || sy[CAST(i + 1 AS INT)])) AS p
         |  FROM (SELECT regexp_extract_all(s, '\\(([^)]*)\\)', 1) AS sy, freq
         |        FROM s${r - 1})) GROUP BY p),
         |b$r AS (SELECT p, n FROM p$r ORDER BY n DESC, p ASC LIMIT 1),
         |s$r AS (SELECT replace(s,
         |  '(' || string_split(b.p, ' ')[1] || ')(' || string_split(b.p, ' ')[2] || ')',
         |  '(' || replace(b.p, ' ', '') || ')') AS s, freq
         |  FROM s${r - 1}, b$r b)""".stripMargin
    }.mkString(",\n")
    s"""wf AS (
       |  SELECT w, COUNT(*) AS freq FROM (
       |    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
       |    FROM documents)
       |  WHERE length(w) > 0 AND w NOT LIKE '%(%' AND w NOT LIKE '%)%'
       |  GROUP BY w),
       |s0 AS (
       |  SELECT '(' || array_to_string(list_transform(range(1, length(w) + 1),
       |           i -> substr(w, CAST(i AS INT), 1)), ')(') || ')' AS s, freq
       |  FROM wf),
       |$stages""".stripMargin
  }

  val bpeMergesSql: String = {
    val out = (1 to BpeRounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rank, p AS pair, CAST(n AS BIGINT) AS n_occ FROM b$r")
      .mkString("\nUNION ALL ")
    s"WITH $bpeTrainCtes\n$out"
  }

  /** T17 — BPE tokenization with the learned vocabulary (the apply side of
    * t16): train the 8 merges, then tokenize every document — each word
    * becomes its parenthesized symbol state and the merges apply in rank
    * order as the same literal `(x)(y)→(xy)` replaces, so token counts are
    * the exact BPE segmentation under the learned vocab. Output:
    * `(doc_id, n_bpe_tokens)`.
    *
    * Scale shape: the merge table (8 rows) collects once and inlines as
    * literals into a per-doc scalar expression chain — the tokenize pass
    * is scan → project, ZERO shuffles (the learn pass is t16's bounded
    * machinery). This is how a learned tokenizer deploys at 100 TB: the
    * vocab rides in the closure, the corpus never reshuffles.
    */
  def bpeTokenize(spark: SparkSession, sfDir: String): DataFrame =
    bpeTokenizeWith(spark, sfDir, BpeRounds)

  /** Shared apply body for t17/t17b: learn `nMerges` merges, then count
    * each document's BPE tokens with the merge table riding in ONE
    * codegen expression ([[graft.functions.BpeFunctions.bpe_word_tokens]])
    * — expression depth O(1) in the merge count, vs the earlier literal
    * replace chain whose depth grew with every merge and died around a
    * few hundred. The tokenize pass stays scan → project, zero shuffles.
    */
  private def bpeTokenizeWith(spark: SparkSession, sfDir: String,
                              nMerges: Int): DataFrame =
    bpeTokenizeDocs(Tables.documents(spark, sfDir), nMerges,
      memoKey = s"$sfDir|docs")

  /** [[bpeTokenizeWith]] over an explicit docs frame (t17c feeds the
    * derived high-entropy corpus through the same learn + apply body).
    * `maxWords > 0` bounds the training vocabulary (t16c's web-scale
    * guard) — the apply pass still tokenizes EVERY word.
    */
  /** Learned merge tables memoized per (corpus, shape): BPE training is
    * the canonical train-once artifact (the vocabulary ships with the
    * model; only APPLY runs per corpus pass — the n6/n8 staged-quantizer
    * posture applied to the tokenizer). The memo key carries the sfDir,
    * so distinct corpora never share a table; merges are a deterministic
    * function of the corpus, so a memo hit is value-identical to
    * retraining.
    */
  private val bpeMergeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, String, Long)]]()

  /** The memo-aware COUNTED merge fetch: one train serves both the graded
    * merge-table output (needs n_occ — t16d) and the apply side (needs
    * (x, y) pairs — t17d, t17*), so the deep-vocabulary loops never run
    * twice per JVM (review r15).
    */
  private def bpeMergesCountedFor(docs: DataFrame, nMerges: Int,
                                  maxWords: Int,
                                  memoKey: String): Seq[(Long, String, Long)] = {
    def train(): Seq[(Long, String, Long)] = graft.ops.Bpe.learnedMergesCounted(
      graft.ops.Bpe.wordFrequencies(docs, "text"), nMerges, maxWords).toSeq
    if (memoKey.isEmpty) train()
    else bpeMergeMemo.computeIfAbsent(s"$memoKey|$nMerges|$maxWords",
      _ => train())
  }

  private def bpeMergesFor(docs: DataFrame, nMerges: Int, maxWords: Int,
                           memoKey: String): Seq[(String, String)] =
    graft.ops.Bpe.pairsOf(bpeMergesCountedFor(docs, nMerges, maxWords, memoKey))

  private def bpeTokenizeDocs(docs: DataFrame, nMerges: Int,
                              maxWords: Int = 0,
                              memoKey: String): DataFrame = {
    val merges = bpeMergesFor(docs, nMerges, maxWords, memoKey)
    docs
      .select(col("doc_id"),
        aggregate(
          transform(
            filter(wsTokens(lower(col("text"))), graft.ops.Bpe.trainableWord(_)),
            w => graft.functions.BpeFunctions.bpe_word_tokens(w, merges)),
          lit(0L), (acc, x) => acc + x).as("n_bpe_tokens"))
  }

  val bpeTokenizeSql: String = {
    // LEFT JOIN ON TRUE + CASE: when round r learned no merge (b$r empty
    // on a degenerate corpus), the state passes through unchanged instead
    // of the whole chain collapsing to zero rows — mirroring the Spark
    // side, which applies only the merges actually learned
    val applies = (1 to BpeRounds).map { r =>
      s"""a$r AS (SELECT doc_id,
         |  CASE WHEN b.p IS NULL THEN s ELSE replace(s,
         |    '(' || string_split(b.p, ' ')[1] || ')(' || string_split(b.p, ' ')[2] || ')',
         |    '(' || replace(b.p, ' ', '') || ')') END AS s
         |  FROM a${r - 1} LEFT JOIN b$r b ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH $bpeTrainCtes,
       |tok AS (SELECT doc_id,
       |               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
       |        FROM documents),
       |a0 AS (SELECT doc_id,
       |              '(' || array_to_string(list_transform(range(1, length(w) + 1),
       |                i -> substr(w, CAST(i AS INT), 1)), ')(') || ')' AS s
       |       FROM tok
       |       WHERE length(w) > 0 AND w NOT LIKE '%(%' AND w NOT LIKE '%)%'),
       |$applies
       |SELECT d.doc_id,
       |       CAST(COALESCE(SUM(len(regexp_extract_all(s, '\\(([^)]*)\\)', 1))), 0)
       |            AS BIGINT) AS n_bpe_tokens
       |FROM documents d LEFT JOIN a$BpeRounds a ON a.doc_id = d.doc_id
       |GROUP BY d.doc_id""".stripMargin
  }

  /** T16b/T17b — BPE at model scale: the same trainer and tokenizer graded
    * at 256 requested merges (the corpus' 31-word synthetic vocabulary
    * saturates at ~89 learnable merges — every word collapses to a single
    * symbol — so the query also proves correct early stop; the ≥256-merge
    * mechanism itself is pinned against a high-entropy corpus in BpeSpec).
    *
    * Oracle: the chained-CTE replay is structurally O(2^rounds) (each
    * round's state references the previous state twice) and exceeds
    * DuckDB's expression-depth limit near 256 rounds even materialized —
    * so these replay training as a RECURSIVE CTE instead: the working
    * table carries every word's state plus the round's winning pair, one
    * linear pass per round, any merge count. The tokenizer oracle reads
    * tokenization straight off the FINAL word states (merging never
    * changes a word's characters, so the final state of the distinct-word
    * table IS the tokenization of every occurrence) and joins counts back
    * to documents.
    */
  private val BpeRoundsBig = 256

  def bpeMergesBig(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Bpe.trainOnDocuments(spark,
      Tables.documents(spark, sfDir), "text", nMerges = BpeRoundsBig)

  def bpeTokenizeBig(spark: SparkSession, sfDir: String): DataFrame =
    bpeTokenizeWith(spark, sfDir, BpeRoundsBig)

  /** Recursive training CTE shared by the t16b/t17b/t16c oracles: `st`
    * holds `(r, w, s, freq, mp, mn)` — round-r word states plus the pair
    * merged to reach them; stops at `n` rounds or pair exhaustion (empty
    * argmax → empty cross join → recursion ends). `maxWords > 0` replays
    * [[graft.ops.Bpe.train]]'s deterministic vocabulary pruning
    * (`ORDER BY freq DESC, w ASC LIMIT K`) before symbolization.
    */
  private def bpeRecursiveTrainSql(n: Int, maxWords: Int = 0,
                                   preCte: String = "",
                                   src: String = "documents"): String =
    s"""WITH RECURSIVE $preCte
       |wf0 AS MATERIALIZED (
       |  SELECT w, COUNT(*) AS freq FROM (
       |    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
       |    FROM $src)
       |  WHERE length(w) > 0 AND w NOT LIKE '%(%' AND w NOT LIKE '%)%'
       |  GROUP BY w),
       |wf AS MATERIALIZED (${
      if (maxWords > 0)
        s"SELECT w, freq FROM wf0 ORDER BY freq DESC, w ASC LIMIT $maxWords"
      else "SELECT w, freq FROM wf0"}),
       |s0 AS MATERIALIZED (
       |  SELECT w, '(' || array_to_string(list_transform(range(1, length(w) + 1),
       |           i -> substr(w, CAST(i AS INT), 1)), ')(') || ')' AS s, freq
       |  FROM wf),
       |st AS (
       |  SELECT 0 AS r, w, s, freq,
       |         CAST(NULL AS VARCHAR) AS mp, CAST(NULL AS BIGINT) AS mn
       |  FROM s0
       |  UNION ALL
       |  SELECT st.r + 1, st.w,
       |         replace(st.s,
       |           '(' || string_split(b.p, ' ')[1] || ')(' || string_split(b.p, ' ')[2] || ')',
       |           '(' || replace(b.p, ' ', '') || ')'),
       |         st.freq, b.p, b.n
       |  FROM st, (
       |    SELECT p, SUM(freq) AS n FROM (
       |      SELECT freq, unnest(list_transform(range(1, len(sy)),
       |             i -> sy[CAST(i AS INT)] || ' ' || sy[CAST(i + 1 AS INT)])) AS p
       |      FROM (SELECT regexp_extract_all(s, '\\(([^)]*)\\)', 1) AS sy, freq
       |            FROM st)) GROUP BY p ORDER BY n DESC, p ASC LIMIT 1
       |  ) b
       |  WHERE st.r < $n
       |)""".stripMargin

  val bpeMergesBigSql: String =
    s"""${bpeRecursiveTrainSql(BpeRoundsBig)}
       |SELECT CAST(r AS BIGINT) AS rank, mp AS pair, CAST(mn AS BIGINT) AS n_occ
       |FROM (SELECT DISTINCT r, mp, mn FROM st WHERE r >= 1)""".stripMargin

  /** T16c — BPE training WITH the web-scale vocabulary guard engaged:
    * `maxWords = 64` ≪ the corpus vocabulary, so the driver collect is
    * bounded by CONSTRUCTION (top-64 by `(freq desc, w asc)` — a
    * distributed TakeOrdered), and the merges learned from the pruned
    * table differ from t16b's unpruned ones (the long-tail pair mass is
    * gone), which the oracle must reproduce by replaying the SAME
    * pruning. This is the shape a 100 TB corpus trains with: the
    * vocabulary table never reaches the driver unpruned.
    */
  private val BpeMaxWords = 64
  private val BpeRoundsPruned = 32

  def bpeMergesPruned(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Bpe.trainOnDocuments(spark,
      Tables.documents(spark, sfDir), "text", nMerges = BpeRoundsPruned,
      maxWords = BpeMaxWords)

  val bpeMergesPrunedSql: String =
    s"""${bpeRecursiveTrainSql(BpeRoundsPruned, maxWords = BpeMaxWords)}
       |SELECT CAST(r AS BIGINT) AS rank, mp AS pair, CAST(mn AS BIGINT) AS n_occ
       |FROM (SELECT DISTINCT r, mp, mn FROM st WHERE r >= 1)""".stripMargin

  /** T17c — BPE tokenize where real tokenizers live: 1024 REAL merges.
    * t17b's natural-text corpus saturates at ~89 learnable merges, so
    * this one derives a HIGH-ENTROPY corpus both engines can construct
    * analytically — each doc's text is `md5(doc_id)` hex, 500 distinct
    * 32-char words over a 16-char alphabet whose pair diversity supports
    * 1024+ rounds without saturating. The tokenize pass is the SAME
    * [[graft.functions.BpeFunctions.bpe_word_tokens]] codegen projection
    * as t17/t17b: the merge table rides as ONE reference object, so
    * expression depth — and the plan, pinned in PlanSpec — is O(1) in
    * the merge count at 4× t17b's vocabulary; the hash-keyed apply walk
    * makes per-word cost track word LENGTH, not merge-table size. The
    * oracle replays training through the same recursive CTE (1024
    * linear passes) and reads tokenization off the final word states.
    */
  private val BpeRounds1k = 1024

  /** The derived corpus: one 32-hex-char word per doc. Spark's `md5`
    * takes binary, DuckDB's takes VARCHAR; both hash the same decimal
    * string rendering and emit lowercase hex.
    */
  private def hexDocs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(col("doc_id"),
      md5(col("doc_id").cast("string").cast("binary")).as("text"))

  /** Training-vocabulary cap for t17c: ≫ the merge count (plenty of pair
    * diversity) yet a CONSTANT bound on the driver merge loop — without
    * it the derived one-word-per-doc corpus scales vocabulary 1:1 with
    * corpus size and the sf1 sweep measured the driver train at 10× the
    * graded cost (24.7 s). At the oracle-graded scale (sf0.01: 500
    * distinct words) the cap is not reached, so the grade is unchanged;
    * past it (sf0.1: 5000 words, sf1: 50k) training sees the
    * deterministic top-K by `(freq DESC, w ASC)` — and the oracle
    * replays the SAME pruning. This is t16c's guard applied at the scale
    * it exists for: no corpus size may grow the driver's working set.
    */
  private val Bpe1kMaxWords = 4096

  def bpeTokenize1k(spark: SparkSession, sfDir: String): DataFrame =
    bpeTokenizeDocs(hexDocs(spark, sfDir), BpeRounds1k,
      maxWords = Bpe1kMaxWords, memoKey = s"$sfDir|hexdocs")

  private val hexDocsCte =
    "hexdocs AS MATERIALIZED (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) " +
      "AS text FROM documents),"

  val bpeTokenize1kSql: String =
    s"""${bpeRecursiveTrainSql(BpeRounds1k, maxWords = Bpe1kMaxWords,
          preCte = hexDocsCte, src = "hexdocs")},
       |fin AS (SELECT w, s FROM st WHERE r = (SELECT MAX(r) FROM st)),
       |wtok AS (SELECT w,
       |  CAST(len(regexp_extract_all(s, '\\(([^)]*)\\)', 1)) AS BIGINT) AS nt
       |  FROM fin),
       |tok AS (SELECT doc_id,
       |  unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
       |  FROM hexdocs),
       |wx AS (SELECT t.doc_id, wt.nt FROM tok t JOIN wtok wt USING (w)
       |       WHERE length(t.w) > 0 AND t.w NOT LIKE '%(%'
       |         AND t.w NOT LIKE '%)%')
       |SELECT d.doc_id, CAST(COALESCE(SUM(wx.nt), 0) AS BIGINT) AS n_bpe_tokens
       |FROM documents d LEFT JOIN wx ON wx.doc_id = d.doc_id
       |GROUP BY d.doc_id""".stripMargin

  /** T16d/T17d — the deep-vocabulary proof (VERDICT r14 #5): the same
    * trainer and tokenizer graded at 8,192 REAL merges. t17c's one-word
    * corpus saturates at ~7.7k learnable merges, so this pair derives a
    * wider corpus — every doc contributes `md5(doc_id)` and every 5th doc
    * a second word `md5(md5(doc_id))` — 600 distinct 32-hex-char words at
    * the graded scale, whose pair mass supports the full 8,192 rounds
    * (verified: round 8,192 still finds a pair). The trainer is the SAME
    * incremental sites-indexed loop (O(rounds·touched), [[graft.ops.Bpe]])
    * — its 8k-round wall time is the 32k-feasibility datum SCALING.md
    * records.
    *
    * Oracles: t16d replays training through the recursive CTE (8,192
    * sequential argmax+merge passes — the expensive but fully independent
    * derivation). t17d grades APPLY at depth without a second recursion
    * over pair counts: the Spark side stages its learned `(rank, pair)`
    * table, and the oracle re-applies those merges rank by rank to the
    * corpus words (recursion over the staged ranks, no argmax) — train
    * correctness is t16d's job, so the composition covers both at 8k for
    * one deep recursion instead of two.
    */
  private val BpeRounds8k = 8192
  private val Bpe8kMaxWords = 600

  private def hexDocs2(spark: SparkSession, sfDir: String): DataFrame = {
    val h1 = md5(col("doc_id").cast("string").cast("binary"))
    Tables.documents(spark, sfDir).select(col("doc_id"),
      concat(h1,
        when(col("doc_id") % 5 === 0,
          concat(lit(" "), md5(h1.cast("binary")))).otherwise(lit(""))).as("text"))
  }

  private val hexDocs2Cte =
    "hexdocs2 AS MATERIALIZED (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) || " +
      "CASE WHEN doc_id % 5 = 0 THEN ' ' || md5(md5(CAST(doc_id AS VARCHAR))) " +
      "ELSE '' END AS text FROM documents),"

  def bpeMerges8k(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // one memoized counted train serves t16d's graded table AND t17d's
    // apply pairs — the 8k loop runs once per (corpus, shape) per JVM
    bpeMergesCountedFor(hexDocs2(spark, sfDir), BpeRounds8k,
      maxWords = Bpe8kMaxWords, memoKey = s"$sfDir|hexdocs2")
      .toDF("rank", "pair", "n_occ")
  }

  val bpeMerges8kSql: String =
    s"""${bpeRecursiveTrainSql(BpeRounds8k, maxWords = Bpe8kMaxWords,
          preCte = hexDocs2Cte, src = "hexdocs2")}
       |SELECT CAST(r AS BIGINT) AS rank, mp AS pair, CAST(mn AS BIGINT) AS n_occ
       |FROM (SELECT DISTINCT r, mp, mn FROM st WHERE r >= 1)""".stripMargin

  def bpeTokenize8k(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = hexDocs2(spark, sfDir)
    val merges = bpeMergesFor(docs, BpeRounds8k, maxWords = Bpe8kMaxWords,
      memoKey = s"$sfDir|hexdocs2")
    merges.zipWithIndex
      .map { case ((x, y), i) => ((i + 1).toLong, s"$x $y") }
      .toDF("rank", "pair")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${TarQueries.StageDir}/t17d_merges.parquet")
    bpeTokenizeDocs(docs, BpeRounds8k, maxWords = Bpe8kMaxWords,
      memoKey = s"$sfDir|hexdocs2")
  }

  val bpeTokenize8kSql: String =
    s"""WITH RECURSIVE $hexDocs2Cte
       |mg AS MATERIALIZED (
       |  SELECT CAST(rank AS BIGINT) AS rank, pair
       |  FROM read_parquet('${TarQueries.StageDir}/t17d_merges.parquet/*.parquet')),
       |nm AS (SELECT CAST(COALESCE(MAX(rank), 0) AS BIGINT) AS mx FROM mg),
       |wd AS MATERIALIZED (
       |  SELECT DISTINCT w FROM (
       |    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
       |    FROM hexdocs2)
       |  WHERE length(w) > 0 AND w NOT LIKE '%(%' AND w NOT LIKE '%)%'),
       |a AS (
       |  SELECT CAST(0 AS BIGINT) AS r, w,
       |         '(' || array_to_string(list_transform(range(1, length(w) + 1),
       |           i -> substr(w, CAST(i AS INT), 1)), ')(') || ')' AS s
       |  FROM wd
       |  UNION ALL
       |  SELECT a.r + 1, a.w,
       |         replace(a.s,
       |           '(' || string_split(m.pair, ' ')[1] || ')(' || string_split(m.pair, ' ')[2] || ')',
       |           '(' || replace(m.pair, ' ', '') || ')')
       |  FROM a JOIN mg m ON m.rank = a.r + 1
       |  WHERE a.r < (SELECT mx FROM nm)),
       |fin AS (SELECT w, s FROM a WHERE r = (SELECT mx FROM nm)),
       |wtok AS (SELECT w,
       |  CAST(len(regexp_extract_all(s, '\\(([^)]*)\\)', 1)) AS BIGINT) AS nt
       |  FROM fin),
       |tok AS (SELECT doc_id,
       |  unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
       |  FROM hexdocs2),
       |wx AS (SELECT t.doc_id, wt.nt FROM tok t JOIN wtok wt USING (w)
       |       WHERE length(t.w) > 0 AND t.w NOT LIKE '%(%'
       |         AND t.w NOT LIKE '%)%')
       |SELECT d.doc_id, CAST(COALESCE(SUM(wx.nt), 0) AS BIGINT) AS n_bpe_tokens
       |FROM documents d LEFT JOIN wx ON wx.doc_id = d.doc_id
       |GROUP BY d.doc_id""".stripMargin

  val bpeTokenizeBigSql: String =
    s"""${bpeRecursiveTrainSql(BpeRoundsBig)},
       |fin AS (SELECT w, s FROM st WHERE r = (SELECT MAX(r) FROM st)),
       |wtok AS (SELECT w,
       |  CAST(len(regexp_extract_all(s, '\\(([^)]*)\\)', 1)) AS BIGINT) AS nt
       |  FROM fin),
       |tok AS (SELECT doc_id,
       |  unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
       |  FROM documents),
       |wx AS (SELECT t.doc_id, wt.nt FROM tok t JOIN wtok wt USING (w)
       |       WHERE length(t.w) > 0 AND t.w NOT LIKE '%(%'
       |         AND t.w NOT LIKE '%)%')
       |SELECT d.doc_id, CAST(COALESCE(SUM(wx.nt), 0) AS BIGINT) AS n_bpe_tokens
       |FROM documents d LEFT JOIN wx ON wx.doc_id = d.doc_id
       |GROUP BY d.doc_id""".stripMargin

  /** C1 — the corpus→training-shards capstone: the end-to-end pipeline a
    * user actually runs, composed from this round's operators in the
    * canonical order — LM perplexity gate (t13) → exact dedup keep-first
    * (d1's fingerprint) → deterministic global shuffle (t14's md5 rank) →
    * 2000-token shard packing (t12's two-level prefix sum). One summary
    * row per shard.
    *
    * Scale shape: every stage keeps its own pinned posture — the gate is
    * shuffle-free, dedup is one fingerprint-keyed window, the shuffle is
    * a range-partitioned sort + offset join (no global window), and the
    * packer never single-partitions the corpus. The composition adds no
    * new shuffle beyond its stages.
    */
  def corpusToShards(spark: SparkSession, sfDir: String): DataFrame = {
    val kept = lmFilter(spark, sfDir)
      .filter(col("keep") === 1).select("doc_id")
    val docs = Tables.documents(spark, sfDir).join(kept, "doc_id")
    val wFp = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.functions.TextFunctions.fingerprint(col("text")))
    val deduped = docs
      .withColumn("keep_id", min(col("doc_id")).over(wFp))
      .filter(col("doc_id") === col("keep_id"))
    // localCheckpoint: stableIds' offset collect, packByWeight's bucket
    // aggregation, and the final pass would otherwise each re-run the
    // gate → dedup → sort subtree (the round's most expensive upstream) —
    // materializing the 3-column keyed table cuts it to one execution
    val keyed = deduped.select(col("doc_id"),
        size(wsTokens(col("text"))).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("k"))
      .orderBy(col("k"), col("doc_id"))
      .localCheckpoint()
    graft.ops.Scale.packByWeight(graft.ops.Scale.stableIds(keyed, "pos"),
        "pos", "n_tokens", target = 2000L, bucketWidth = 100L)
      .groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("pos")).as("first_pos"),
        max(col("pos")).as("last_pos"))
  }

  val corpusToShardsSql: String =
    s"""WITH lm AS (SELECT doc_id FROM ($lmFilterSql) WHERE keep = 1),
       |d AS (SELECT d0.doc_id, d0.text FROM documents d0 JOIN lm USING (doc_id)),
       |dd AS (SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |           MIN(doc_id) OVER (PARTITION BY
       |             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS keep_id
       |    FROM d)
       |  WHERE doc_id = keep_id),
       |ord AS (SELECT doc_id,
       |               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n,
       |               row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
       |                 - 1 AS pos
       |        FROM dd),
       |c AS (SELECT pos, n,
       |             CAST(COALESCE(SUM(n) OVER (ORDER BY pos
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |                  AS BIGINT) AS pre
       |      FROM ord)
       |SELECT pre // 2000 AS shard, COUNT(*) AS n_docs,
       |       CAST(SUM(n) AS BIGINT) AS n_tokens,
       |       CAST(MIN(pos) AS BIGINT) AS first_pos,
       |       CAST(MAX(pos) AS BIGINT) AS last_pos
       |FROM c GROUP BY 1""".stripMargin

  /** C3 — the STREAMING corpus capstone ([[graft.streaming.StreamCorpus]]):
    * c1's ingest door run in production shape — one AvailableNow drain
    * composing the st6 LM gate (batch-trained broadcast model, stateless
    * per-batch scoring) with st3's cross-batch fingerprint dedup
    * (RocksDB state surviving micro-batch boundaries), then t12's
    * two-level-prefix-sum shard packing over the survivors on drain
    * close. The staged source re-delivers every 25th document in a LATER
    * file/batch (the st3 layout), so a green run proves re-deliveries
    * drop against state from earlier batches INSIDE the composition, not
    * just in the isolated st3 operator. The oracle replays the whole door
    * in batch: gate (t13) → distinct kept fingerprints → md5-ordered
    * packing — stream ≡ batch for the composed pipeline.
    */
  def streamCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"${TarQueries.StageDir}/c3_corpus.parquet"
    graft.io.FsOps.deletePrefix(spark, out)
    val stream = Arrivals("c3_src", sfDir) {
      val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      // one base file (the st3/r21 trim): the graded property is the
      // re-delivery file falling to cross-batch state — two batches
      // suffice, each extra file is a paid micro-batch. The re-delivery
      // file: copies of every 25th doc arrive in a later micro-batch and
      // must fall to cross-batch dedup state
      Seq(docs, docs.filter(col("doc_id") % 25 === 0))
    }
    val d = Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"), lower(col("text")).as("t"))
    val model = graft.ops.LmScore.trainBigramModel(d)
    // a fresh checkpoint per call: a reused one would replay "nothing
    // new" against the same source files and leave `out` empty
    Arrivals.scratch { ckpt =>
      graft.streaming.StreamCorpus.drainGateDedup(stream, model, out, ckpt,
        stateKeys = Some(Tables.rowCount(spark, sfDir, "documents")))
    }
    // drain close → t12 packing over the drained (fp, n_tokens) survivors
    val keyed = spark.read.parquet(out)
      .select(col("fp"), col("n_tokens"), md5(col("fp")).as("k"))
      .orderBy(col("k"), col("fp"))
      .localCheckpoint()
    graft.ops.Scale.packByWeight(graft.ops.Scale.stableIds(keyed, "pos"),
        "pos", "n_tokens", target = 2000L, bucketWidth = 100L)
      .groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("pos")).as("first_pos"),
        max(col("pos")).as("last_pos"))
  }

  val streamCorpusSql: String =
    s"""WITH lm AS (SELECT doc_id FROM ($lmFilterSql) WHERE keep = 1),
       |kept AS (SELECT d.text FROM documents d JOIN lm USING (doc_id)),
       |fps AS (SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       |               MIN(CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)) AS n
       |        FROM kept GROUP BY 1),
       |ord AS (SELECT fp, n,
       |               row_number() OVER (ORDER BY md5(fp), fp) - 1 AS pos
       |        FROM fps),
       |c AS (SELECT pos, n,
       |             CAST(COALESCE(SUM(n) OVER (ORDER BY pos
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |                  AS BIGINT) AS pre
       |      FROM ord)
       |SELECT pre // 2000 AS shard, COUNT(*) AS n_docs,
       |       CAST(SUM(n) AS BIGINT) AS n_tokens,
       |       CAST(MIN(pos) AS BIGINT) AS first_pos,
       |       CAST(MAX(pos) AS BIGINT) AS last_pos
       |FROM c GROUP BY 1""".stripMargin

  /** ST6 — streaming LM gating ([[graft.streaming.StreamScore]]): the
    * model trains batch-side on the corpus snapshot, then the SAME
    * documents arrive as a stream and are gated per micro-batch against
    * the broadcast model — stateless, shuffle-free serving. Output: kept/
    * dropped doc counts. The oracle recomputes the gate from the batch
    * t13 definition, so a pass proves stream scoring ≡ batch scoring —
    * the consistency a production train-offline/serve-online split relies
    * on.
    */
  def streamLmGate(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"), lower(col("text")).as("t"))
    val model = graft.ops.LmScore.trainBigramModel(d)
    val out = s"${TarQueries.StageDir}/st6_scored.parquet"
    graft.io.FsOps.deletePrefix(spark, out)
    // the file stream source needs a DIRECTORY basePath, and a name glob
    // on the sf dir only matches the single-file layout — so pick per
    // layout: directory-per-table (GenScale output) streams the table dir
    // itself (its part-*.parquet leaves list naturally); a bare
    // documents.parquet file streams the sf dir with a name glob. Either
    // way the stream drains real rows instead of silently matching none.
    val tablePath = s"$sfDir/documents.parquet"
    val hPath = new org.apache.hadoop.fs.Path(tablePath)
    val hFs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schema = spark.read.parquet(tablePath).schema
    val stream0 =
      if (hFs.getFileStatus(hPath).isDirectory)
        spark.readStream.schema(schema).parquet(tablePath)
      else
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
    val stream = stream0
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"), lower(col("text")).as("t"))
    Arrivals.scratch { ckpt =>
      graft.streaming.StreamScore.scoreDocs(stream, model, out, ckpt)
    }
    spark.read.parquet(out)
      .groupBy("keep").agg(count(lit(1)).as("n_docs"))
  }

  val streamLmGateSql: String =
    s"""SELECT keep, COUNT(*) AS n_docs
       |FROM ($lmFilterSql)
       |GROUP BY keep""".stripMargin

  /** T23 — overlapping document chunking, the RAG/pretraining window
    * step t12/t18 deliberately don't cover: t12 packs WHOLE docs into
    * shards and t18 cuts one global token stream; retrieval corpora
    * instead need PER-DOCUMENT windows with overlap (stride < window) so
    * no answer span is ever split across chunk boundaries without also
    * appearing whole in a neighbor. Window 100 tokens, stride 80: chunk
    * starts at every multiple of the stride below the doc's token count,
    * the last window clipped to the end. Each chunk carries its token
    * span AND the md5 of its joined token text — content-graded without
    * shipping the text. Pure scan → explode → map: per-doc arithmetic,
    * ZERO shuffles, the narrow shape a 100 TB chunking pass must have.
    */
  def docChunks(spark: SparkSession, sfDir: String): DataFrame = {
    val win = 100
    val stride = 80
    val toks = wsTokens(col("text"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") >= 1)
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("n") - 1, lit(stride.toLong))).as("s"))
      .select(col("doc_id"),
        (col("s") / stride).cast("long").as("chunk_id"),
        col("s").as("tok_start"),
        least(col("s") + win, col("n")).as("tok_end"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("s") + 1).cast("int"),
            least(lit(win.toLong), col("n") - col("s")).cast("int"))))
          .as("chunk_md5"))
  }

  val docChunksSql: String =
    """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |           FROM documents),
      |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM d
      |      WHERE len(toks) >= 1),
      |s AS (SELECT doc_id, toks, n, unnest(range(0, n, 80)) AS s FROM n)
      |SELECT doc_id, s // 80 AS chunk_id, s AS tok_start,
      |       LEAST(s + 100, n) AS tok_end,
      |       md5(array_to_string(
      |         toks[CAST(s + 1 AS BIGINT):CAST(LEAST(s + 100, n) AS BIGINT)],
      |         ' ')) AS chunk_md5
      |FROM s""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c1_corpus_to_shards" -> corpusToShards,
    "c3_stream_corpus" -> streamCorpus,
    "st6_stream_lm_gate" -> streamLmGate,
    "t10_json_props" -> jsonProps,
    "t11_bm25" -> bm25,
    "t12_token_shards" -> tokenShards,
    "t18_sequence_pack" -> sequencePack,
    "t13_lm_filter" -> lmFilter,
    "t27_lm_trigram_filter" -> lmTrigramFilter,
    "t19_ccnet_buckets" -> ccnetBuckets,
    "t20_unicode_normalize" -> unicodeNormalize,
    "t14_corpus_shuffle" -> corpusShuffle,
    "t15_source_mix" -> sourceMix,
    "t16_bpe_merges" -> bpeMerges,
    "t16b_bpe_merges256" -> bpeMergesBig,
    "t16c_bpe_merges_pruned" -> bpeMergesPruned,
    "t16d_bpe_merges8k" -> bpeMerges8k,
    "t17d_bpe_tokenize8k" -> bpeTokenize8k,
    "t17_bpe_tokenize" -> bpeTokenize,
    "t17b_bpe_tokenize256" -> bpeTokenizeBig,
    "t17c_bpe_tokenize1k" -> bpeTokenize1k,
    "t1_token_stats" -> tokenStats,
    "t2_quality_score" -> qualityScore,
    "t3_langid" -> langId,
    "t3b_ngram_langid" -> ngramLangId,
    "t4_fingerprints" -> fingerprints,
    "t5_pii_redact" -> piiRedact,
    "t6_stratified_sample" -> stratifiedSample,
    "t7_doc_frequency" -> docFrequency,
    "t26_tfidf_keywords" -> tfidfKeywords,
    "t8_repetition" -> repetitionStats,
    "t9_source_cap" -> sourceCap,
    "t21_gopher_gate" -> gopherGate,
    "t24_quality_classifier" -> qualityClassifier,
    "t25_filter_eval" -> filterEval,
    "t22_token_budget_mix" -> tokenBudgetMix,
    "t23_doc_chunks" -> docChunks
  )

  def oracleSql: Map[String, String] = Map(
    "c1_corpus_to_shards" -> corpusToShardsSql,
    "c3_stream_corpus" -> streamCorpusSql,
    "st6_stream_lm_gate" -> streamLmGateSql,
    "t10_json_props" -> jsonPropsSql,
    "t11_bm25" -> bm25Sql,
    "t12_token_shards" -> tokenShardsSql,
    "t18_sequence_pack" -> sequencePackSql,
    "t13_lm_filter" -> lmFilterSql,
    "t27_lm_trigram_filter" -> lmTrigramFilterSql,
    "t19_ccnet_buckets" -> ccnetBucketsSql,
    "t20_unicode_normalize" -> unicodeNormalizeSql,
    "t14_corpus_shuffle" -> corpusShuffleSql,
    "t15_source_mix" -> sourceMixSql,
    "t16_bpe_merges" -> bpeMergesSql,
    "t16b_bpe_merges256" -> bpeMergesBigSql,
    "t16c_bpe_merges_pruned" -> bpeMergesPrunedSql,
    "t16d_bpe_merges8k" -> bpeMerges8kSql,
    "t17d_bpe_tokenize8k" -> bpeTokenize8kSql,
    "t17_bpe_tokenize" -> bpeTokenizeSql,
    "t17b_bpe_tokenize256" -> bpeTokenizeBigSql,
    "t17c_bpe_tokenize1k" -> bpeTokenize1kSql,
    "t1_token_stats" -> tokenStatsSql,
    "t2_quality_score" -> qualityScoreSql,
    "t3_langid" -> langIdSql,
    "t3b_ngram_langid" -> ngramLangIdSql,
    "t4_fingerprints" -> fingerprintsSql,
    "t5_pii_redact" -> piiRedactSql,
    "t6_stratified_sample" -> stratifiedSampleSql,
    "t7_doc_frequency" -> docFrequencySql,
    "t26_tfidf_keywords" -> tfidfKeywordsSql,
    "t8_repetition" -> repetitionStatsSql,
    "t9_source_cap" -> sourceCapSql,
    "t21_gopher_gate" -> gopherGateSql,
    "t24_quality_classifier" -> qualityClassifierSql,
    "t25_filter_eval" -> filterEvalSql,
    "t22_token_budget_mix" -> tokenBudgetMixSql,
    "t23_doc_chunks" -> docChunksSql
  )
}
