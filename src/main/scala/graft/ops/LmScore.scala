package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The char-bigram language model shared by the batch perplexity gate
  * (t13, [[graft.queries.TextQueries.lmFilter]]) and its streaming serve
  * path (st6): train once over a batch corpus, score anywhere — the
  * model is a `Map[Long, Double]` small enough to broadcast (bounded by
  * |alphabet|², never the data), and scoring is a pure per-document fold
  * with no shuffle, so the SAME function scores a batch partition or a
  * micro-batch.
  *
  * Bigrams are packed code-point longs throughout: UTF-8 byte order
  * equals code-point order, so numeric sort order IS the fold order the
  * DuckDB oracle's `ORDER BY bg` (binary collation) walks — with zero
  * string allocation in any hot loop.
  */
object LmScore {

  /** The nll threshold below which a document is kept. */
  val KeepBelow = 1.70

  /** The trained model: `lp` holds seen-bigram log-probs, `unseen` holds
    * the add-one-smoothing log-prob `log(1/(cpre+vn))` per SEEN prefix,
    * and `floor` is `log(1/vn)` for a prefix the training corpus never
    * produced (cpre=0). Serving a document stream (st6) means scoring
    * text the training snapshot never saw — the model must be TOTAL over
    * bigrams, not just the trained support.
    */
  final case class BigramModel(lp: Map[Long, Double],
                               unseen: Map[Long, Double],
                               floor: Double) {
    /** Total log-prob lookup: seen bigram → trained lp; unseen bigram
      * with a seen prefix → that prefix's smoothing mass; unseen prefix
      * → the vocabulary floor.
      */
    def logp(bg: Long): Double =
      lp.getOrElse(bg, unseen.getOrElse(bg >> 21, floor))
  }

  private def bgKey(cp1: Int, cp2: Int): Long = (cp1.toLong << 21) | cp2.toLong

  /** Train the add-one-smoothed bigram model from `(doc_id, t)` rows
    * (already lowercased, length ≥ 2). One in-memory combine per
    * partition (≤|alphabet|² numeric rows each), then exact integer-count
    * aggs; the finished ≤|alphabet|²-row model collects to the driver —
    * the stableIds-offsets pattern, not a data loop.
    */
  def trainBigramModel(d: DataFrame): BigramModel = {
    val spark = d.sparkSession
    import spark.implicits._
    val partCounts = d.as[(Long, String)].mapPartitions { rows =>
      val m = new java.util.HashMap[java.lang.Long, Long]()
      rows.foreach { case (_, t) =>
        val cps = t.codePoints().toArray
        var i = 0
        while (i < cps.length - 1) {
          val k = java.lang.Long.valueOf(bgKey(cps(i), cps(i + 1)))
          m.put(k, m.getOrDefault(k, 0L) + 1L)
          i += 1
        }
      }
      import scala.jdk.CollectionConverters._
      m.entrySet().iterator().asScala.map(e => (e.getKey.toLong, e.getValue))
    }.toDF("bg", "k")
    // ONE job collects the ≤|alphabet|² exact integer counts; lp, the
    // per-prefix unseen mass, and the floor all derive on the driver —
    // integer sums are exact in doubles (< 2^53), so the arithmetic is
    // bit-identical to the oracle's SUM/ln over the same counts, and the
    // corpus-scale bigram pass runs once, not once per model component
    val cnt = partCounts.groupBy("bg").agg(sum(col("k")).as("cbg"))
      .as[(Long, Long)].collect()
    val cpre = scala.collection.mutable.HashMap.empty[Long, Double]
    val syms = scala.collection.mutable.HashSet.empty[Long]
    cnt.foreach { case (bg, c) =>
      val c1 = bg >> 21
      // integer-valued doubles sum exactly (< 2^53), so the fold order —
      // and therefore the collect order — cannot change the result
      cpre(c1) = cpre.getOrElse(c1, 0.0) + c.toDouble
      syms += c1
      syms += (bg & ((1L << 21) - 1))
    }
    val vn = syms.size.toDouble
    val lp = cnt.map { case (bg, c) =>
      bg -> math.log((c.toDouble + 1.0) / (cpre(bg >> 21) + vn))
    }.toMap
    val unseen = cpre.map { case (c1, cp) => c1 -> -math.log(cp + vn) }.toMap
    val floor = if (vn > 0.0) -math.log(vn) else 0.0
    BigramModel(lp, unseen, floor)
  }

  /** Score one document against the model: `(doc_id, nll, keep)`. The
    * per-doc histogram folds in packed-key (= UTF-8 binary) order, so the
    * double sum associates exactly like the oracle's ordered
    * `list_reduce`; 6-dp HALF_UP round as the boundary guard.
    */
  def score(model: BigramModel, id: Long, t: String): (Long, Double, Long) = {
    val m = new java.util.TreeMap[java.lang.Long, Long]()
    val cps = t.codePoints().toArray
    var i = 0
    var nBg = 0L
    while (i < cps.length - 1) {
      val bg = java.lang.Long.valueOf(bgKey(cps(i), cps(i + 1)))
      m.put(bg, m.getOrDefault(bg, 0L) + 1L)
      nBg += 1L
      i += 1
    }
    // a <2-code-point document has no bigrams: nothing to score, drop it
    // (nll=+inf would NaN through BigDecimal; the gate semantics are
    // "no evidence of quality → don't keep")
    if (nBg == 0L) return (id, Double.MaxValue, 0L)
    var acc = 0.0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      acc = acc + e.getValue.toDouble * model.logp(e.getKey)
    }
    val nll = BigDecimal(-acc / nBg)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    (id, nll, if (nll < KeepBelow) 1L else 0L)
  }

  // ---------------------------------------------------------------------
  // T27 — word-trigram stupid backoff (Brants et al. 2007, "Large
  // Language Models in Machine Translation"), the web-scale LM gate that
  // needs NO normalization and NO ln(): score(w3|w1w2) = c123/c12 if the
  // trigram was seen, else α·c23/c2, else α²·c3/N, with α = 0.4. In
  // integer ppm every arm is `(1e6·c) div ctx` scaled by an integer α —
  // the per-document mean is an integer sum of integers, so the score is
  // bit-exact on any partitioning and any engine (the t26 integer-idf
  // treatment applied to an LM). t13's char-bigram gate is the
  // cheap/coarse tier; this is the CCNet-fidelity tier: sensitive to WORD
  // ORDER, which no bigram-histogram score can see (TrigramLmSpec pins a
  // pair of permuted documents t13 scores identically).
  // ---------------------------------------------------------------------

  /** Brants' backoff penalty, in ppm: α = 0.4, α² = 0.16. */
  val AlphaPpm = 400000L
  val Alpha2Ppm = 160000L

  /** Per-document mean stupid-backoff trigram score, in ppm.
    *
    * `docs` must carry (`doc_id: Long`, `ts: array<string>`) with
    * `size(ts) >= 3`; rows satisfying `trainPred` form the training
    * corpus (holding out the rest is what makes the backoff arms
    * non-vacuous — a model scored on its own training stream has no
    * unseen trigrams). Fully relational on purpose: the n-gram count
    * tables are corpus-vocabulary-sized — far too large for the t13
    * broadcast-model treatment at 100 TB — so scoring is LEFT joins on
    * the n-gram keys, each a plain key-partitioned hash join, and the
    * per-doc collapse is one doc_id aggregate. Returns
    * (`doc_id`, `n_tri`, `score_ppm`).
    */
  def stupidBackoffScores(docs: DataFrame, trainPred:
      org.apache.spark.sql.Column): DataFrame = {
    // the three n-gram streams: trigrams to score, plus train-side
    // trigram/bigram/unigram counts. Array-slice expressions, zero
    // shuffle until the count aggregates.
    def grams(d: DataFrame, n: Int): DataFrame = {
      val fields = (0 until n).map(i => s"ts[i + $i] AS w${i + 1}").mkString(", ")
      // size(ts) >= 3 is ENFORCED, not assumed (review r19): Spark's
      // sequence(0, size-n) DESCENDS when size < n, which would emit
      // null-word pseudo-n-grams scored 0 into the mean — silent wrong
      // output where the charter is raise_error
      d.select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(ts) >= $n
           |THEN transform(sequence(0, size(ts) - $n), i -> struct($fields))
           |ELSE raise_error('stupidBackoffScores: document shorter than $n tokens — filter size(ts) >= 3 upstream') END"""
          .stripMargin)).as("g"))
        .select(col("doc_id") +: (1 to n).map(i => col(s"g.w$i")): _*)
    }
    val train = docs.filter(trainPred)
    val c3 = grams(train, 3).groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
    val c2 = grams(train, 2).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = grams(train, 1).groupBy("w1").agg(count(lit(1)).as("c1"))
    // total training tokens: a 1-row aggregate (the t26 nDocs posture);
    // coalesce(0) because SUM over zero rows is NULL, and the guard must
    // answer with its own message, not a NullPointerException
    val nTok = train.agg(coalesce(sum(size(col("ts"))), lit(0L)))
      .head().getLong(0)
    require(nTok >= 1L, "stupidBackoffScores: empty training corpus")
    val tri = grams(docs, 3)
    tri
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c2.select(col("w1"), col("w2"), col("c2").as("c12")),
        Seq("w1", "w2"), "left")
      .join(c2.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c2").as("c23")), Seq("w2", "w3"), "left")
      .join(c1.select(col("w1").as("w2"), col("c1").as("cw2")), Seq("w2"), "left")
      .join(c1.select(col("w1").as("w3"), col("c1").as("cw3")), Seq("w3"), "left")
      // seen-ness guards every divisor: c3 seen ⇒ c12 ≥ c3 ≥ 1, c23 seen
      // ⇒ cw2 ≥ 1 — no zero divisor can reach a taken CASE arm
      .withColumn("s", expr(
        s"""CASE WHEN c3 IS NOT NULL THEN (1000000 * c3) div c12
           |     WHEN c23 IS NOT NULL THEN ($AlphaPpm * ((1000000 * c23) div cw2)) div 1000000
           |     WHEN cw3 IS NOT NULL THEN ($Alpha2Ppm * ((1000000 * cw3) div ${nTok}L)) div 1000000
           |     ELSE 0 END""".stripMargin))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"),
        expr("sum(s) div count(1)").as("score_ppm"))
  }
}
