package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Similarity}

/** Operator-level specs for the dedup/similarity suite on tiny inline data
  * (the sf-table integration path is covered by Verify + the DuckDB oracle).
  */
class DedupSpec extends AnyFunSuite with SparkSuite with TempDirs {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("D20: soft dedup splits weight across exact-copy groups and marks the canonical member") {
    val w = Dedup.softDedupWeights(docs(
      1L -> "the same text",
      2L -> "The  same   TEXT", // canon-identical — same group as 1/3
      3L -> "the same text",
      10L -> "another doc",
      11L -> "another doc",
      20L -> "unique snowflake"
    )).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(w(1L) === ((3L, 333333L, true)))   // min id is canonical
    assert(w(2L) === ((3L, 333333L, false)))
    assert(w(3L) === ((3L, 333333L, false)))
    assert(w(10L) === ((2L, 500000L, true)))
    assert(w(11L) === ((2L, 500000L, false)))
    assert(w(20L) === ((1L, 1000000L, true))) // uniques keep full weight
  }

  test("candidatePairs: a bucket far past the chunk size expands to the exact pair set") {
    import spark.implicits._
    // 150 members in one bucket: with chunk size sqrt(4096)=64 this takes
    // the k=3 multi-chunk path (diagonal triangles + off-diagonal crosses)
    // and must still produce exactly the m(m-1)/2 ordered pairs
    val m = 150
    val bands = (0 until m).map(i => (0, 0L, i.toLong)).toDF("band", "key", "doc_id")
    val got = Dedup.candidatePairs(bands).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (for {
      a <- 0 until m; b <- a + 1 until m
    } yield (a.toLong, b.toLong)).toSet
    assert(got === expect)
    // row-size guard: no single output row of the chunk-pair explode may
    // carry more than maxExpand structs — checked via a tiny maxExpand
    val small = Dedup.candidatePairs(bands, maxExpand = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(small === expect) // exact at ANY chunking
    // the packed int64 pair-dedup exchange (the documented lever for
    // pair-exchange-bound regimes; measured a no-op at graded scale —
    // SCALING.md r17) must be output-identical, including across the
    // multi-chunk path and cross-band duplicates
    val multiBand = ((0 until m).map(i => (0, 0L, i.toLong)) ++
      (0 until m).map(i => (1, 7L, i.toLong)))
      .toDF("band", "key", "doc_id")
    val packed = Dedup.candidatePairs(multiBand, packedPairs = true).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(packed === expect)
  }

  test("packedPairs: pack/unpack is lossless across the unsigned-32-bit domain (seeded)") {
    import spark.implicits._
    val u32max = 0xFFFFFFFFL
    val rnd = new scala.util.Random(17)
    // boundary-heavy ids: 0, 1, the int sign boundary, the domain edge,
    // plus seeded draws — the sign bit of both the packed high and low
    // words must survive the unsigned unpack
    val ids = (Seq(0L, 1L, Int.MaxValue.toLong, Int.MaxValue.toLong + 1, u32max) ++
      Seq.fill(50)(rnd.nextLong() & u32max)).distinct.sorted
    val pairs = ids.sliding(2).collect { case Seq(a, b) => (a, b) }.toSeq
    // each pair in its own bucket, so the expected pair set IS the input
    val bands = pairs.zipWithIndex
      .flatMap { case ((a, b), i) => Seq((i, 0L, a), (i, 0L, b)) }
      .toDF("band", "key", "doc_id")
    val got = Dedup.candidatePairs(bands, packedPairs = true).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === pairs.toSet)
  }

  test("packedPairs: an id outside [0, 2^32) fails loudly, never a silent merge") {
    import spark.implicits._
    val bands = Seq((0, 0L, 1L), (0, 0L, 0xFFFFFFFFL + 1L))
      .toDF("band", "key", "doc_id")
    val e = intercept[Exception] {
      Dedup.candidatePairs(bands, packedPairs = true).collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.toString + msgs(t.getCause)
    assert(msgs(e).contains("requires ids in [0, 2^32)"), msgs(e))
  }

  test("D1: exact duplicates group by canonical fingerprint") {
    val d = Dedup.exactDuplicates(docs(
      1L -> "the quick brown fox",
      2L -> "THE  quick   Brown fox", // same after canon
      3L -> "something else entirely"))
      .collect()
    assert(d.length === 1)
    assert(d.head.getAs[Long]("n_docs") === 2)
    assert(d.head.getAs[Long]("keep_id") === 1L)
    assert(d.head.getAs[Long]("dup_id") === 2L)
  }

  test("D14: the leakage-safe split co-locates every exact duplicate") {
    // content-keyed bucketing: docs with equal canonical text MUST share a
    // split, whatever their ids — the property an id-keyed split violates
    val rows = queries.DedupQueries
      .leakageSplit(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val splitsPerFp = rows.groupBy(_._2).view.mapValues(_.map(_._3).distinct)
    splitsPerFp.foreach { case (fp, ss) =>
      assert(ss.size === 1, s"fingerprint $fp straddles splits: $ss")
    }
    // the planted exact copies exist (non-vacuous) and the 90/5/5 buckets
    // all materialized
    assert(rows.groupBy(_._2).exists(_._2.length > 1), "no exact dup groups")
    val bySplit = rows.groupBy(_._3).view.mapValues(_.length).toMap
    assert(bySplit.keySet === Set("train", "valid", "test"), s"$bySplit")
    val n = rows.length.toDouble
    assert(bySplit("train") / n > 0.8 && bySplit("train") / n < 0.97, s"$bySplit")
  }

  test("D7: dupClusters propagates the component minimum across chains") {
    import spark.implicits._
    // chain 5-3-8 (min spreads two hops), separate pair 10-7, and a
    // pair 1-2 that also closes into a triangle with 9
    val pairs = Seq((5L, 3L), (3L, 8L), (10L, 7L), (1L, 2L), (2L, 9L), (9L, 1L))
      .toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(3L -> 3L, 5L -> 3L, 8L -> 3L,
      7L -> 7L, 10L -> 7L, 1L -> 1L, 2L -> 1L, 9L -> 1L))
  }

  test("D7: reliable-checkpoint fixpoint (cluster durability path) matches star contraction") {
    import spark.implicits._
    import graft.ops.Graph
    // the 100 TB path: with a checkpoint dir on the context every loop pins
    // to DURABLE storage, so executor loss mid-fixpoint recomputes at most
    // one round instead of restarting. Each of the six loops must give the
    // local-checkpoint output and write its pins under the dir.
    val rnd = new scala.util.Random(11)
    val pairs = (0 until 60)
      .map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val sym = pairs.selectExpr(
      "inline(array(struct(id_a AS src, id_b AS dst), struct(id_b AS src, id_a AS dst)))")
    val directed = (0L until 30L).map(i => (i % 5, 100L + i % 7)).distinct.toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val loops: Seq[(String, () => Set[Seq[Any]])] = Seq(
      "pageRank" -> (() => rows(Graph.pageRank(sym, iters = 7))),
      "pageRankConverged" -> (() => rows(Graph.pageRankConverged(sym, tol = 0L, maxIters = 5)._1)),
      "hits" -> (() => rows(Graph.hits(directed, iters = 4))),
      "hitsConverged" -> (() => rows(Graph.hitsConverged(directed, tol = 0L, maxIters = 4)._1)),
      "dupClusters" -> (() => rows(Dedup.dupClusters(pairs))),
      "dupClustersStar" -> (() => rows(Dedup.dupClustersStar(pairs))))
    val dir = tempDir("d7-ckpt")
    val sc = spark.sparkContext
    val durable = try {
      loops.map { case (name, run) =>
        assert(sc.getCheckpointDir.isEmpty)
        val local = run()
        sc.setCheckpointDir(dir.resolve(name).toString)
        val got = try run() finally sc.setCheckpointDir(null)
        assert(got === local, s"$name: durable output differs from local")
        assert(local.nonEmpty, s"$name: empty output")
        // the pins really went through the reliable dir (RDD checkpoint files)
        val wrote = java.nio.file.Files.walk(dir.resolve(name))
          .filter(_.toFile.isFile).count()
        assert(wrote > 0, s"$name: no checkpoint files written under $dir")
        name -> got
      }.toMap
    } finally {
      sc.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
    assert(durable("dupClusters") === durable("dupClustersStar"))
  }

  test("D7: both dup-cluster fixpoints fail loud when maxIters ends unconverged") {
    import spark.implicits._
    // a 10-node chain: propagation needs 9 rounds to carry label 1 to
    // node 10 and a 10th to see no change; 3 rounds would return partial
    // components
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException](Dedup.dupClusters(chain, maxIters = 3))
    assert(ex.getMessage.contains("maxIters (3)"), ex.getMessage)
    val exStar = intercept[IllegalStateException](Dedup.dupClustersStar(chain, maxIters = 1))
    assert(exStar.getMessage.contains("maxIters (1)"), exStar.getMessage)
    // with enough rounds both return the single component
    assert(Dedup.dupClusters(chain, maxIters = 10).collect().map(_.getLong(1)).toSet === Set(1L))
  }

  test("D7: star contraction stops only at a star forest (a node left with two roots is not one)") {
    import spark.implicits._
    // on the path 1-4-3-5-2, round 1 leaves {4→1, 5→2, 3→1, 3→2}: no dst
    // is a src, yet node 3 keeps two dsts — stopping there would label
    // 3 twice and 5, 2 with rep 2
    val path = Seq((1L, 4L), (4L, 3L), (3L, 5L), (5L, 2L)).toDF("id_a", "id_b")
    val labels = Dedup.dupClustersStar(path).collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.sorted.toSeq === (1L to 5L).map(_ -> 1L))
  }

  test("D7: star contraction matches min-label propagation on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 30 + trial * 25
      val pairs = (0 until n).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(p => p._1 != p._2)
      val df = pairs.toDF("id_a", "id_b")
      val prop = Dedup.dupClusters(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val star = Dedup.dupClustersStar(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star === prop, s"trial $trial: star labels diverge from propagation")
    }
  }

  test("D7: star contraction collapses a long chain (propagation's worst case)") {
    import spark.implicits._
    // a 64-node path: min-label needs 63 rounds, star contraction O(log n)
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.dupClustersStar(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet === (1L to 64L).toSet)
    assert(labels.values.toSet === Set(1L))
  }

  test("D8: contaminated flags training docs sharing an 8-gram with eval") {
    val eval = docs(100L -> "one two three four five six seven eight nine ten")
    val training = docs(
      // embeds the eval 8-gram "one ... eight" mid-sentence
      1L -> "xx one two three four five six seven eight yy",
      2L -> "totally different words that never overlap with anything else here")
    val flagged = Dedup.contaminated(training, eval).collect()
    assert(flagged.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 1L)))
  }

  test("D13: bloom-prefiltered decontamination equals the inverted index") {
    // sf0.001-scale corpora: the bloom prefilter admits a superset, the
    // exact verify trims it — result must be IDENTICAL to d8's shape
    val c = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val isEval = org.apache.spark.sql.functions.col("doc_id") % 100 === 0
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = rows(Dedup.contaminated(c.filter(!isEval), c.filter(isEval)))
    val bloom = rows(Dedup.contaminatedBloom(c.filter(!isEval), c.filter(isEval)))
    assert(bloom === exact)
    assert(exact.nonEmpty, "vacuous corpus — no contamination to verify")
    // empty eval set → empty result, not a null-bloom crash
    assert(Dedup.contaminatedBloom(c,
      c.filter(org.apache.spark.sql.functions.lit(false))).count() === 0)
  }

  test("D11: containment finds a quote inside a long doc that jaccard misses") {
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val long = ("filler" + (1 to 80).map(i => s" word$i").mkString) +
      s" $quote " + (81 to 160).map(i => s"word$i").mkString(" ")
    val pairs = Dedup.containmentPairs(docs(
        1L -> quote, 2L -> long,
        3L -> "unrelated content sharing no shingle with anything"),
      tau = 0.9).collect()
    val byPair = pairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // quote-in-long direction only: every shingle of 1 occurs in 2
    assert(byPair.keySet === Set((1L, 2L)))
    assert(byPair((1L, 2L)) === 1.0)
    // sanity: the pair's jaccard is far below any near-dup threshold
    val d2 = Dedup.minhashNearDups(docs(1L -> quote, 2L -> long), threshold = 0.5)
    assert(d2.collect().isEmpty)
  }

  test("D11: prefix filtering loses nothing vs the exhaustive scan (seeded)") {
    val rnd = new scala.util.Random(11)
    val vocab = (1 to 30).map(i => s"w$i")
    // overlapping token sequences: many borderline containment values
    val ds = (1L to 40L).map { id =>
      val n = 5 + rnd.nextInt(25)
      val start = rnd.nextInt(vocab.size)
      id -> (0 until n).map(k => vocab((start + k) % vocab.size)).mkString(" ")
    }
    val corpus = docs(ds: _*)
    val got = Dedup.containmentPairs(corpus, tau = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // exhaustive reference over the same shingle sets
    val sets = Dedup.shingleSets(corpus).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a != b
      c = sets(a).intersect(sets(b)).size.toDouble / sets(a).size
      if c >= 0.8
    } yield (a, b, c)).toSet
    assert(got === want)
  }

  test("D11: df-ordered prefix shrinks candidates on a boilerplate-heavy corpus, same pairs") {
    import org.apache.spark.sql.functions.col
    // every doc opens with the same long boilerplate header; tails unique.
    // Hash-ordered prefixes sample boilerplate grams (df = n, each hitting
    // every doc) at random; df-ordered prefixes post the unique tail grams
    // (df = 1) and candidates collapse toward the true containment pairs.
    val boiler = "this document is provided as is without warranty of any kind " +
      "express or implied including but not limited to fitness for a purpose"
    val corpus = docs((1L to 30L).map(i =>
      i -> s"$boiler unique tail ${i}a ${i}b ${i}c ${i}d ${i}e ${i}f ${i}g ${i}h"): _*)
    val sets = Dedup.shingleSets(corpus)
    val hashCand = Dedup.containmentCandidates(sets, 0.9, dfOrdered = false).count()
    val dfCand = Dedup.containmentCandidates(sets, 0.9, dfOrdered = true).count()
    assert(dfCand < hashCand,
      s"df order should cut prefix-hit volume: df=$dfCand hash=$hashCand")
    assert(dfCand <= hashCand / 2, s"expected a big drop: df=$dfCand hash=$hashCand")
    // and the verified result is IDENTICAL — prefix order is volume-only
    val a = Dedup.containmentPairs(corpus, 0.9, dfOrderedPrefix = true)
    val b = Dedup.containmentPairs(corpus, 0.9, dfOrderedPrefix = false)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("D2: minhash LSH finds near-dups, skips unrelated, verifies jaccard") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val near = base.split(" ").dropRight(1).mkString(" ")
    val pairs = Dedup.minhashNearDups(docs(
      1L -> base, 2L -> near,
      3L -> "utterly different words with no shared window at all"),
      threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    val jac = pairs.head.getAs[Double]("jac")
    assert(jac > 0.8 && jac < 1.0) // 17/19 shared 3-shingles
  }

  test("D2: a 100-copy cluster collapses to one banding representative") {
    val copies = (1L to 100L).map(_ -> ("boilerplate header text repeated verbatim across " +
      "many documents in the corpus exactly the same every time"))
    val distinct1 = 500L -> "a completely different document about unrelated topics altogether"
    val d = docs(copies :+ distinct1: _*)

    // the banding input is one rep per identical shingle set, not 100 docs
    val groups = Dedup.setGroups(Dedup.shingleSets(d))
    assert(groups.where("doc_id = rep_id").count() === 2)

    // and the result is still the full exhaustive answer: C(100,2) pairs, jac 1.0
    val pairs = Dedup.minhashNearDups(d, threshold = 0.5).collect()
    assert(pairs.length === 100 * 99 / 2)
    assert(pairs.forall(_.getAs[Double]("jac") === 1.0))
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1)))
    assert(ids.forall { case (a, b) => a < b && b <= 100L })
    assert(ids.distinct.length === ids.length)
  }

  test("D6: char-n-gram jaccard catches word-boundary edits word shingles miss") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val hyph = base.replace("riverbank", "river bank") // identity guard
    require(hyph == base)
    // concatenate one word pair: every word 3-shingle around it changes,
    // but char 5-grams barely move
    val joined = base.replace("river bank", "riverbank")
    val pairs = Dedup.ngramJaccardNearDups(docs(
      1L -> base, 2L -> joined,
      3L -> "completely unrelated text talking about other things entirely"),
      threshold = 0.8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    val jac = pairs.head.getAs[Double]("jac")
    assert(jac > 0.8 && jac < 1.0)
  }

  test("D6: band-side df-pruning drops ubiquitous grams, keeps rare, never empties") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 10 docs all containing hot gram 99; each also carries a unique gram
    // and doc 1/2 share gram 7. Doc 10 is ALL-hot (would prune to empty).
    val sets = (1L to 10L).map { i =>
      val own = if (i == 10L) Seq(99L) else Seq(99L, 1000L + i) ++
        (if (i <= 2) Seq(7L) else Nil)
      (i, own.toArray)
    }.toDF("doc_id", "shingles")
    // minPop = 1: this spec pins the pruning SEMANTICS on a readable
    // 10-doc fixture, below the production population floor
    val pruned = Dedup.pruneFrequentShingles(sets, dfFrac = 0.5, minPop = 1L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // gram 99 (df 10/10) pruned everywhere a non-empty remainder exists
    (1L to 9L).foreach(i => assert(!pruned(i).contains(99L), s"doc $i keeps hot gram"))
    // rare grams survive (df 1-2 <= cap)
    assert(pruned(1L) === Set(1001L, 7L) && pruned(5L) === Set(1005L))
    // the all-hot doc keeps its original set instead of going empty
    assert(pruned(10L) === Set(99L))
  }

  test("D6: df-pruning refuses tiny banding populations (rep-collapse guard)") {
    import spark.implicits._
    // 50 rep sets sharing a hot gram: on a population this small a df cap
    // is small-integer noise and pruning risks recall for nothing — the
    // op counts ITS OWN input (which after identical-set collapse can sit
    // orders below the corpus count the caller sized by) and declines
    val sets = (1L to 50L).map(i => (i, Array(99L, 1000L + i)))
      .toDF("doc_id", "shingles")
    val out = Dedup.pruneFrequentShingles(sets, dfFrac = 0.1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    (1L to 50L).foreach(i => assert(out(i) === Set(99L, 1000L + i),
      s"doc $i was pruned below the population floor"))
  }

  test("D6: sampled df estimation still prunes hot grams, keeps rare ones") {
    import spark.implicits._
    // 200 docs all sharing hot gram 99; each carries one unique gram.
    // With the 1-in-10 df sample (sampleMod = 10) the hot gram's sampled
    // df (≈20) clears the scaled cap (200/10·0.3 = 6) while every unique
    // gram (sampled df ≤ 1) stays — the exact-df decision, 10× cheaper.
    val sets = (1L to 200L).map(i => (i, Array(99L, 1000L + i)))
      .toDF("doc_id", "shingles")
    val pruned = Dedup.pruneFrequentShingles(sets, dfFrac = 0.3, sampleMod = 10)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    (1L to 200L).foreach { i =>
      assert(pruned(i) === Set(1000L + i), s"doc $i: ${pruned(i)}")
    }
  }

  test("D6: sampled df cap is biased upward — borderline grams are kept, not pruned") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    // the sampled-doc set under sampleMod = 10, via the op's own
    // sampling key so the fixture tracks the implementation
    val sampledIds = spark.range(1, 201)
      .where(pmod(xxhash64(col("id")), lit(10)) === 0)
      .as[Long].collect().toSet
    assert(sampledIds.size >= 8, s"fixture needs ≥8 sampled docs, got ${sampledIds.size}")
    // dfFrac 0.3 → base cap 200/10·0.3 = 6, slacked cap 6 + max(2, 1) = 8.
    // gram 77 lands in exactly 8 SAMPLED docs — sampled df == slacked
    // cap, i.e. within noise of the base cap: pre-slack it PRUNED (8 > 6)
    // and any true pair riding it lost its band minima; now it is kept.
    // gram 99 is fully ubiquitous (sampled df ≈ 20 > 8) and still prunes.
    val borderHosts = sampledIds.toSeq.sorted.take(8).toSet
    val sets = (1L to 200L).map { i =>
      val gs = Seq(99L, 1000L + i) ++ (if (borderHosts(i)) Seq(77L) else Nil)
      (i, gs.toArray)
    }.toDF("doc_id", "shingles")
    val pruned = Dedup.pruneFrequentShingles(sets, dfFrac = 0.3, sampleMod = 10)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    (1L to 200L).foreach { i =>
      assert(!pruned(i).contains(99L), s"doc $i keeps ubiquitous gram")
      if (borderHosts(i))
        assert(pruned(i).contains(77L), s"doc $i lost borderline gram 77")
    }
  }

  test("D6: df-pruned banding still finds the planted near-dup, same verified jaccard") {
    // the hot-bucket lever must not cost the pair whose similarity is
    // carried by DISTINCTIVE grams: same corpus as the D6 base test, a
    // shared boilerplate suffix on every doc making some grams ubiquitous
    val boiler = " copyright footer all rights reserved"
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val joined = base.replace("river bank", "riverbank")
    val corpus = docs(
      1L -> (base + boiler), 2L -> (joined + boiler),
      3L -> ("completely unrelated text talking about other things entirely" + boiler))
    val plain = Dedup.ngramJaccardNearDups(corpus, threshold = 0.7).collect()
    val prunedRun = Dedup.ngramJaccardNearDups(corpus, threshold = 0.7,
      bandDfPrune = 0.9).collect()
    def pairsOf(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("jac"))).toMap
    assert(pairsOf(prunedRun) === pairsOf(plain),
      "band-side pruning changed the verified result")
    assert(pairsOf(plain).contains((1L, 2L)), "planted pair missing")
  }

  test("D18: off-grid duplication invisible to the span grid is caught by sliding windows") {
    // doc 2 = doc 1 with a 3-word preamble: the 20 copied tokens sit at
    // offsets 3..22 — no 10-word grid span of doc 2 equals any of doc 1's,
    // so d12 keeps everything; d18's sliding 8-windows cover the whole
    // copied run and gut doc 2 down to its preamble
    val body = (1 to 20).map(i => s"word$i").mkString(" ")
    val c = docs(1L -> body, 2L -> s"pre amble intro $body")
    val grid = Dedup.spanDedup(c, spanWords = 10).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("clean_text")).toMap
    assert(grid(2L) === s"pre amble intro $body",
      "grid dedup unexpectedly saw the shifted copy")
    val slid = Dedup.substringDedup(c, k = 8).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))).toMap
    assert(slid(1L) === ((0L, body)), "first occurrence must survive intact")
    assert(slid(2L) === ((20L, "pre amble intro")),
      s"shifted copy not gutted to its preamble: ${slid(2L)}")
  }

  test("D18: exact trailing copy collapses to empty; short docs pass through") {
    val c = docs(1L -> "alpha beta gamma delta epsilon zeta eta theta iota",
      2L -> "alpha beta gamma delta epsilon zeta eta theta iota", // exact copy
      3L -> "tiny doc") // < k tokens, unique → untouched
    val out = Dedup.substringDedup(c, k = 8).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("clean_text")))).toMap
    assert(out(1L)._2 === 0L && out(1L)._3.nonEmpty)
    assert(out(2L) === ((9L, 9L, "")), s"trailing copy survived: ${out(2L)}")
    assert(out(3L) === ((2L, 0L, "tiny doc")))
  }

  test("D12/D18: hashed-key candidate restriction is result-identical to the text-keyed exchange") {
    // a corpus mixing every case the restriction must preserve: exact
    // copies (all windows dup), a shifted partial copy (some windows
    // dup), unique docs (no window dup — must NOT enter the text
    // exchange yet must survive reassembly intact), and a short doc
    val body = (1 to 25).map(i => s"tok$i").mkString(" ")
    val uniq = (1 to 15).map(i => s"only$i").mkString(" ")
    val c = docs(1L -> body, 2L -> body, 3L -> s"a b c $body",
      4L -> uniq, 5L -> "short unique doc")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(sorted(Dedup.substringDedup(c, k = 8, hashedKeys = true)) ===
      sorted(Dedup.substringDedup(c, k = 8, hashedKeys = false)),
      "d18 hashed path diverged from text-keyed")
    assert(sorted(Dedup.spanDedup(c, spanWords = 10, hashedKeys = true)) ===
      sorted(Dedup.spanDedup(c, spanWords = 10, hashedKeys = false)),
      "d12 hashed path diverged from text-keyed")
    // all-unique corpus: the nDup == 0 early-exit path must still emit
    // every doc untouched
    val u = docs(1L -> uniq, 2L -> "another fully unique document body")
    assert(sorted(Dedup.spanDedup(u, spanWords = 3, hashedKeys = true)) ===
      sorted(Dedup.spanDedup(u, spanWords = 3, hashedKeys = false)))
    assert(sorted(Dedup.substringDedup(u, k = 4, hashedKeys = true)) ===
      sorted(Dedup.substringDedup(u, k = 4, hashedKeys = false)))
  }

  test("D3: simhash hamming 0 for identical token sets, bands are lossless") {
    val res = Dedup.simhashNearDups(docs(
      1L -> "one two three four five six seven eight",
      2L -> "eight seven six five four three two one", // same token SET
      3L -> "totally disjoint vocabulary everywhere here now then"),
      maxHamming = 3).collect()
    assert(res.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ===
      Set((1L, 2L, 0)))
  }

  test("D3: a 100-copy cluster yields all hamming-0 pairs without banding blowup") {
    val copies = (1L to 100L).map(_ -> "identical boilerplate document body text here")
    val other = 500L -> "separate vocabulary entirely unlike the cluster contents"
    val res = Dedup.simhashNearDups(docs(copies :+ other: _*), maxHamming = 3)
      .collect()
    val pairs = res.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.length === 100 * 99 / 2)
    assert(pairs.forall { case (a, b, h) => a < b && b <= 100L && h === 0 })
  }

  test("D3: the minimal band partition is pigeonhole-lossless at its bound") {
    // for every threshold, random 48-bit pairs at EXACTLY maxHamming flips
    // must still share at least one band — the adversarial case for the
    // width/offset arithmetic (uneven widths when h+1 does not divide 48)
    val rng = new scala.util.Random(42)
    for (h <- Seq(0, 1, 2, 3, 4, 5, 7)) {
      val bands = Dedup.simhashBandPartition(h)
      assert(bands.size === h + 1)
      assert(bands.map(_._2).sum === Dedup.SimhashBits)
      assert(bands.map(_._2).forall(_ >= 1))
      for (_ <- 0 until 300) {
        val v = rng.nextLong() & ((1L << Dedup.SimhashBits) - 1)
        val flips = rng.shuffle((0 until Dedup.SimhashBits).toList).take(h)
        val w = flips.foldLeft(v)((acc, b) => acc ^ (1L << b))
        val collide = bands.exists { case (off, wd) =>
          ((v >> off) & ((1L << wd) - 1)) === ((w >> off) & ((1L << wd) - 1))
        }
        assert(collide, s"h=$h v=$v flips=$flips escaped every band")
      }
    }
  }

  test("simhash is set-semantics and deterministic") {
    val s = Dedup.simhashes(docs(1L -> "a b c a b", 2L -> "c b a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(1L) === s(2L))
  }

  test("D12: span dedup keeps the first occurrence, reassembles in order") {
    // doc 1: two spans (grid of 3 words); doc 2 repeats doc 1's first span
    // at a DIFFERENT grid position plus fresh material; doc 3 is an exact
    // copy of doc 1 (every span a trailing duplicate -> empty clean_text)
    val res = Dedup.spanDedup(docs(
      1L -> "a b c d e f",
      2L -> "x y z a b c p q",
      3L -> "a b c d e f"),
      spanWords = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(res(1L) === ((2L, 2L, "a b c d e f")))
    // doc 2: spans "x y z", "a b c" (dup of doc 1's first), "p q"
    assert(res(2L) === ((3L, 2L, "x y z p q")))
    assert(res(3L) === ((2L, 0L, "")))
  }

  test("D12: keep-first tie-break is (doc_id, span_idx) — within-doc repeats too") {
    val res = Dedup.spanDedup(docs(
      5L -> "w w w w w w w w w"), spanWords = 3).collect()
    assert(res.length === 1)
    val r = res.head
    // three identical spans "w w w": only the span_idx=0 one survives
    assert((r.getLong(1), r.getLong(2), r.getString(3)) === ((3L, 1L, "w w w")))
  }

  test("D16: line dedup drops exactly the lines spanning >= minDocs docs") {
    // "footer" spans 3 docs (>= minDocs 3, removed everywhere, canon-
    // insensitive to case/spacing); "menu" spans 2 (kept); bodies unique.
    // Doc 4 repeats the boilerplate twice in ONE doc: distinct-doc count
    // still 3, and BOTH its occurrences are removed.
    val res = Dedup.lineDedup(docs(
      1L -> "body one\nfooter text",
      2L -> "body two\nFooter   TEXT\nmenu bar",
      3L -> "body three\nmenu bar",
      4L -> "footer text\nbody four\nfooter text"),
      minDocs = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(res(1L) === ((2L, 1L, "body one".length.toLong)))
    assert(res(2L) === ((3L, 1L, ("body two".length + "menu bar".length).toLong)))
    assert(res(3L) === ((2L, 0L, ("body three".length + "menu bar".length).toLong)))
    assert(res(4L) === ((3L, 2L, "body four".length.toLong)))
  }

  test("D16: threshold is exclusive below — a line in minDocs-1 docs survives") {
    val res = Dedup.lineDedup(docs(
      1L -> "shared line\na",
      2L -> "shared line\nb"),
      minDocs = 3).collect()
    assert(res.forall(_.getLong(2) === 0L), "nothing reaches the threshold")
  }

  test("D12: randomized corpus — kept spans are exactly the distinct spans") {
    // small vocabulary forces heavy span collisions across docs
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d")
    val corpus = (1L to 80L).map { id =>
      id -> Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val res = Dedup.spanDedup(docs(corpus: _*), spanWords = 2).collect()
    // every span survives exactly once corpus-wide: total kept == distinct
    val allSpans = corpus.flatMap { case (_, text) =>
      text.split(" ").grouped(2).map(_.mkString(" "))
    }
    assert(res.map(_.getLong(2)).sum === allSpans.distinct.size)
    // per-doc span count is the grid size ceil(tokens / 2)
    val bySpans = res.map(r => r.getLong(0) -> r.getLong(1)).toMap
    corpus.foreach { case (id, text) =>
      val n = text.split(" ").length
      assert(bySpans(id) === (n + 1) / 2, s"doc $id grid size")
    }
  }

  // D4 embedding-near-dup specs live in SimilaritySpec.

  test("D10: incremental near-dup emits batch-vs-corpus pairs, never corpus-internal") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val near = base.split(" ").dropRight(1).mkString(" ")
    // corpus holds an INTERNAL dup pair (1,2) that must not appear
    val corpus = docs(1L -> base, 2L -> base,
      3L -> "utterly different text with no shared window anywhere at all")
    val batch = docs(100L -> near,
      101L -> "another unrelated batch document about something else")
    val got = Dedup.incrementalNearDups(batch, corpus, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((100L, 1L), (100L, 2L)))
  }

  test("D9: semDedup drops same-cell scaled copies, keeps cross-cell vectors") {
    import spark.implicits._
    val cents = Seq(0L -> Array(1.0f, 0.0f), 1L -> Array(0.0f, 1.0f))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      10L -> Array(1.0f, 0.1f),   // cell 0
      11L -> Array(2.0f, 0.2f),   // scaled copy of 10 → same cell, cos 1 → dropped
      12L -> Array(0.1f, 1.0f),   // cell 1 — no same-cell near-dup
      13L -> Array(1.0f, 0.8f)    // cell 0 but cos(10,13) ≈ 0.84 < 0.9 → kept
    ).toDF("vec_id", "embedding")
    val dropped = Similarity.semDedup(corpus, cents, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dropped === Set((11L, 0L)))
  }

  test("N1: brute-force top-k ranks by cosine desc, id asc") {
    import spark.implicits._
    val probe = Array(1.0f, 0.0f)
    val corpus = Seq(
      10L -> Array(1.0f, 0.0f),   // cos 1
      11L -> Array(2.0f, 0.0f),   // cos 1 (tie -> after 10 by id)
      12L -> Array(1.0f, 1.0f),   // cos .707
      13L -> Array(0.0f, 1.0f),   // cos 0
      1L -> probe
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(corpus, corpus.filter($"vec_id" === 1L), k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank")))
    assert(top.toSeq === Seq((10L, 1L), (11L, 2L), (12L, 3L)))
  }

  test("N4: quantized search with rerank recovers the exact top-k (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(4)
    val corpus = (1L to 120L).map { id =>
      id -> Array.fill(16)((rnd.nextDouble() * 2 - 1).toFloat)
    }.toDF("vec_id", "embedding")
    val probes = corpus.filter($"vec_id" % 40 === 0)
    val got = Similarity.quantizedTopK(corpus, probes, k = 3, rerank = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = Similarity.bruteForceTopK(corpus, probes, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // with a rerank pool of 24/120 the int8 prefilter must not lose any
    // true top-3 neighbor on smooth random data
    assert(got === exact)
  }

  test("N4: codes stay in [-127, 127], are scale-invariant, zero vector -> 0") {
    import spark.implicits._
    val corpus = Seq(
      1L -> Array(3.0f, -4.0f),
      2L -> Array(30.0f, -40.0f),   // 10x scaled copy of 1
      3L -> Array(0.0f, 0.0f)).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(corpus)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(q(1L) === q(2L))               // cosine-like: scale-invariant
    assert(q(1L).forall(v => v >= -127L && v <= 127L))
    assert(q(3L) === Seq(0L, 0L))
  }

  test("N2: IVF assigns to nearest centroid and searches within cell") {
    import spark.implicits._
    val corpus = Seq(
      0L -> Array(1.0f, 0.05f), // centroid A
      1L -> Array(0.05f, 1.0f), // centroid B
      50L -> Array(1.0f, 0.1f), // near A (probe)
      51L -> Array(0.9f, 0.2f), // near A
      52L -> Array(0.1f, 0.9f) // near B — must NOT appear for probe 50
    ).toDF("vec_id", "embedding")
    val res = Similarity.ivfTopK(corpus, corpus.filter($"vec_id" < 2),
      probeFilter = $"vec_id" === 50L, k = 3).collect()
      .map(r => r.getAs[Long]("neighbor_id")).toSet
    assert(res.contains(51L) && !res.contains(52L) && !res.contains(1L))
  }

  test("N2: nprobe=2 recovers a neighbor just across the cell boundary") {
    import spark.implicits._
    val corpus = Seq(
      0L -> Array(1.0f, 0.0f),   // centroid A
      1L -> Array(0.7f, 0.7f),   // centroid B
      50L -> Array(0.94f, 0.38f), // probe: 22.0° -> cell A, true NN in cell B
      51L -> Array(0.8f, 0.62f),  // cell B, very close to probe
      52L -> Array(1.0f, 0.05f)   // cell A
    ).toDF("vec_id", "embedding")
    val cents = corpus.filter($"vec_id" < 2)
    def ids(nprobe: Int) = Similarity.ivfTopK(corpus, cents,
      probeFilter = $"vec_id" === 50L, k = 1, nprobe = nprobe)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(ids(1) === Set(52L)) // nprobe=1: only its own cell
    assert(ids(2) === Set(51L)) // nprobe=2: the true nearest neighbor
  }

  test("IVF build: trained centroids converge to the blobs and drive search") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    def jitter(base: Array[Float]) = base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.05f)
    val blobA = Array(1.0f, 0.0f)
    val blobB = Array(0.0f, 1.0f)
    val corpus = ((0L until 20L).map(i => (i, jitter(blobA))) ++
      (100L until 120L).map(i => (i, jitter(blobB)))).toDF("vec_id", "embedding")

    val cents = Similarity.trainCentroids(corpus, k = 2, iters = 4)
    val c = cents.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[scala.collection.Seq[Float]]("embedding")).toMap
    assert(c.keySet === Set(0L, 1L))
    // one centroid per blob, each near its blob's direction
    val dirs = c.values.map(v => if (v(0) > v(1)) "A" else "B").toSet
    assert(dirs === Set("A", "B"))
    c.values.foreach(v => assert(math.max(v(0), v(1)) > 0.9f))

    // trained centroids drive ivfTopK: a blob-A probe finds blob-A neighbors
    val got = Similarity.ivfTopK(corpus, cents, probeFilter = $"vec_id" === 0L, k = 3)
      .collect().map(_.getAs[Long]("neighbor_id"))
    assert(got.nonEmpty && got.forall(_ < 100L))
  }

  test("TopK: early reject, ordered insert and linear merge keep exact order") {
    import Similarity.{Scored, TopK}
    val agg = new TopK(3)
    val inputs = Seq(Scored(0.5, 5), Scored(0.9, 1), Scored(0.9, 0),
      Scored(0.1, 9), Scored(0.7, 3), Scored(0.9, 2))
    val red = inputs.foldLeft(agg.zero)(agg.reduce)
    assert(red === Seq(Scored(0.9, 0), Scored(0.9, 1), Scored(0.9, 2)))
    // a full buffer rejects a strictly-worse candidate unchanged
    assert(agg.reduce(red, Scored(0.2, 99)) eq red)
    // merge of sorted partials: interleaves and caps at k
    assert(agg.merge(Seq(Scored(0.95, 7)), red) ===
      Seq(Scored(0.95, 7), Scored(0.9, 0), Scored(0.9, 1)))
    assert(agg.merge(agg.zero, red) === red)
    assert(agg.finish(red) === red)
  }

  test("multiplicative minhash family: odd multipliers, values stay in 2^32") {
    val ks = Dedup.multipliers(144)
    assert(ks.distinct.length === 144)
    assert(ks.forall(k => k % 2 == 1 && k > 0 && k < (1L << 31)))
  }

  test("d17 semantic decontamination flags eval members and their planted copies, nothing else") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val df = graft.queries.DedupQueries.embedDecontaminate(spark, sf)
    val flagged = df.filter($"contaminated").collect()
      .map(_.getLong(0)).toSet
    val evalIds = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" % 50 === 0).collect().map(_.getLong(0)).toSet
    // identity matches + the x2 scaled copies (scale-invariant cosine = 1);
    // the corpus's natural pairs stay below the 0.95 line
    assert(flagged === evalIds ++ evalIds.map(_ + 1000000L))
    // the eval set rides a broadcast: no shuffled join anywhere
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"d17 eval join is not broadcast:\n$p")
  }
}
