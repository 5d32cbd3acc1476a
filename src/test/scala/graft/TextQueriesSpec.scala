package graft

import org.scalatest.funsuite.AnyFunSuite

/** Direct pins for the text-pipeline queries whose float math is subtle
  * enough that the DuckDB oracle alone shouldn't carry them: t13's
  * distributed LM (partition-pre-combined model + broadcast-dictionary
  * fold) must equal a plain sequential reference BIT-FOR-BIT, fold order
  * and rounding included.
  */
class TextQueriesSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("t24 stages its weights once per corpus: t25 reuses them and does not rewrite them") {
    import java.nio.file.{Files, Paths}
    import graft.queries.{TarQueries, TextQueries}
    val weights = Paths.get(s"${TarQueries.StageDir}/t24_weights.parquet")
    def stamp(): (java.nio.file.attribute.FileTime, Set[String]) = {
      val parts = Files.list(weights)
      try (Files.getLastModifiedTime(weights), parts.toArray.map(_.toString).toSet)
      finally parts.close()
    }
    assert(TextQueries.qualityClassifier(spark, sf).collect().nonEmpty)
    val staged = stamp()
    assert(TextQueries.filterEval(spark, sf).collect().length === 7)
    assert(stamp() === staged)
  }

  test("t13 LM filter equals the sequential reference bit-for-bit") {
    // sequential reference: same model, same packed-key fold order
    // filter on the ORIGINAL text's code-point count — Spark's length()
    // counts code points, and lmFilter filters before lowercasing, so a
    // UTF-16-unit filter on the lowercased string would diverge on
    // astral or case-expanding code points
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter { case (_, t) => t.codePointCount(0, t.length) >= 2 }
      .map { case (id, t) => (id, t.toLowerCase) }
    def bigrams(t: String): Seq[Long] = {
      val cps = t.codePoints().toArray
      (0 until cps.length - 1).map(i => (cps(i).toLong << 21) | cps(i + 1).toLong)
    }
    val cnt = scala.collection.mutable.Map.empty[Long, Double]
    docs.foreach(d => bigrams(d._2).foreach(k => cnt(k) = cnt.getOrElse(k, 0.0) + 1))
    val pre = cnt.groupBy(_._1 >> 21).map { case (c, m) => c -> m.values.sum }
    val vn = (cnt.keys.map(_ >> 21) ++ cnt.keys.map(_ & ((1L << 21) - 1)))
      .toSet.size.toDouble
    val lp = cnt.map { case (k, c) => k -> math.log((c + 1.0) / (pre(k >> 21) + vn)) }
    val expect = docs.map { case (id, t) =>
      val hist = scala.collection.immutable.TreeMap.empty[Long, Long] ++
        bigrams(t).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      var acc = 0.0
      hist.foreach { case (k, n) => acc = acc + n.toDouble * lp(k) }
      val nll = BigDecimal(-acc / bigrams(t).size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, nll, if (nll < 1.70) 1L else 0L)
    }.toSet
    val got = graft.queries.TextQueries.lmFilter(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got === expect)
  }

  test("LM score is total: unseen bigrams smooth, empty docs drop") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"), lower(col("text")).as("t"))
    val model = graft.ops.LmScore.trainBigramModel(d)
    // a string of astral code points the corpus never contains: every
    // bigram AND every prefix is unseen → floor path; must not throw
    val alien = new String(Character.toChars(0x1F984)) * 4
    val (_, nllAlien, _) = graft.ops.LmScore.score(model, 1L, alien)
    assert(nllAlien > 0.0 && java.lang.Double.isFinite(nllAlien))
    // seen prefix + unseen successor → per-prefix smoothing mass, which
    // must be ≤ the floor's probability-mass bound (cpre+vn ≥ vn)
    val seenPrefix = "e" + new String(Character.toChars(0x1F984))
    val (_, nllMixed, _) = graft.ops.LmScore.score(model, 2L, seenPrefix)
    assert(java.lang.Double.isFinite(nllMixed))
    assert(nllMixed >= nllAlien - 1e-9)
    // no bigrams at all → keep=0, no divide-by-zero
    val (_, _, keepEmpty) = graft.ops.LmScore.score(model, 3L, "x")
    assert(keepEmpty === 0L)
  }

  test("t19 terciles are ordered, exhaustive, and near-equal thirds") {
    val rows = graft.queries.TextQueries.ccnetBuckets(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val byBucket = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet === Set("head", "middle", "tail"))
    // bucket boundaries never interleave: max(head) <= min(middle) <= ...
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
    // thirds within tie-slack of n/3 each
    val n = rows.length
    byBucket.foreach { case (b, v) =>
      assert(math.abs(v.length - n / 3.0) <= n * 0.05, s"bucket $b: ${v.length}/$n")
    }
  }

  test("t14 positions are an exact permutation with 100-doc shards") {
    val rows = graft.queries.TextQueries.corpusShuffle(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = rows.length
    assert(rows.map(_._2).sorted.toSeq === (0L until n.toLong))
    assert(rows.forall { case (_, pos, shard) => shard === pos / 100 })
    // the order is a real shuffle: positions must not equal doc_id order
    assert(rows.count { case (id, pos, _) => id === pos } < n / 10)
  }

  test("t22 budget mix: kept set is the exact greedy md5-order prefix per source") {
    // sf0.01 — the graded scale, where the 800-token budget BINDS
    // (sf0.001 sources are smaller than any useful budget)
    val rows = graft.queries.TextQueries
      .tokenBudgetMix(spark, "/root/testdata/sf0.01")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.exists(!_._5), "budget never binds — vacuous at graded scale")
    rows.groupBy(_._2).foreach { case (src, docs) =>
      val ordered = docs.sortBy { case (id, _, _, _, _) =>
        (java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString, id)
      }
      // exclusive prefix sums recompute sequentially; keep iff < budget
      var cum = 0L
      ordered.foreach { case (id, _, nTok, cumBefore, kept) =>
        assert(cumBefore === cum, s"$src doc $id prefix")
        assert(kept === (cum < 800L), s"$src doc $id keep flag")
        cum += nTok
      }
      // greedy fill: the kept set reaches the budget unless exhausted
      val keptTok = ordered.filter(_._5).map(_._3).sum
      assert(keptTok >= math.min(800L, cum), s"$src under-filled")
    }
  }

  test("h4 phrase search: reported docs really contain the adjacent phrase, none missed") {
    val got = graft.queries.AnnQueries.phraseSearch(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map { r =>
        val toks = r.getString(1).toLowerCase.trim.split("\\s+")
        r.getLong(0) -> toks.indices.dropRight(1)
          .count(i => toks(i) == "hash" && toks(i + 1) == "join").toLong
      }.filter(_._2 > 0).toMap
    assert(got === want)
    assert(want.nonEmpty, "phrase absent from the corpus — vacuous")
  }

  test("w6 cumulative uniques: final total equals the distinct user count") {
    val rows = graft.queries.CoreQueries.cumulativeUniques(spark, sf)
      .orderBy("day").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // running sum is consistent and ends at the global distinct count
    rows.foldLeft(0L) { case (acc, (_, nNew, cum)) =>
      assert(cum === acc + nNew); cum
    }
    val total = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").distinct().count()
    assert(rows.last._3 === total)
  }

  test("t23 chunks: full token coverage, stride overlap, short docs, no shuffle") {
    val sf = "/root/testdata/sf0.001"
    val df = queries.TextQueries.docChunks(spark, sf)
    val chunks = df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3))).groupBy(_._1)
    val nToks = graft.Tables.documents(spark, sf)
      .selectExpr("doc_id", "size(split(trim(text), '\\\\s+')) AS n")
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(chunks.nonEmpty)
    chunks.foreach { case (doc, cs) =>
      val n = nToks(doc)
      val sorted = cs.sortBy(_._3)
      // chunk 0 starts at 0; starts advance by exactly the stride;
      // ends clip to the doc; the windows jointly cover every token
      assert(sorted.head._3 === 0L)
      sorted.foreach { case (_, id, s, e) =>
        assert(s === id * 80, s"doc $doc chunk $id start")
        assert(e === math.min(s + 100, n), s"doc $doc chunk $id end")
      }
      assert(sorted.last._4 === n, s"doc $doc tail not covered")
      sorted.sliding(2).foreach {
        case Array((_, _, _, e1), (_, _, s2, _)) =>
          assert(s2 < e1, s"doc $doc gap between chunks")
        case _ =>
      }
      // short docs (< window) produce exactly one full-doc chunk
      if (n <= 80) assert(sorted.length === 1 && sorted.head._4 === n)
    }
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"t23 chunking plan shuffles:\n$p")
  }

  test("t21 Gopher gate: planted tails trip their rules; keep is the conjunction") {
    val df = graft.queries.TextQueries.gopherGate(spark, sf)
    val rows = df.collect()
    val idx = df.columns.zipWithIndex.toMap
    def b(r: org.apache.spark.sql.Row, c: String) = r.getBoolean(idx(c))
    rows.foreach { r =>
      val id = r.getLong(idx("doc_id"))
      // %5==0 plants 3 bullet lines of 5 total → 30 > 5 always fails
      if (id % 5 == 0) assert(!b(r, "r_bullet"), s"doc $id bullet rule")
      // %5==1 plants 2 ellipsis lines of 3 total → 20 > 9 always fails
      if (id % 5 == 1) assert(!b(r, "r_ellipsis"), s"doc $id ellipsis rule")
      // unplanted docs have no bullets/ellipses/symbols at all
      if (id % 5 == 4) {
        assert(b(r, "r_bullet") && b(r, "r_ellipsis") && b(r, "r_symbol"),
          s"doc $id clean doc tripped a plant-only rule")
        assert(r.getLong(idx("n_lines")) === 1L, s"doc $id line count")
      }
      val conj = Seq("r_wordcount", "r_meanlen", "r_symbol", "r_bullet",
        "r_ellipsis", "r_alpha", "r_stop").forall(b(r, _))
      assert(b(r, "keep") === conj, s"doc $id keep is not the conjunction")
    }
    // the gate is a pure scan → map: no shuffle, join, or aggregation
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"t21 gate plan shuffles:\n$p")
  }
}
