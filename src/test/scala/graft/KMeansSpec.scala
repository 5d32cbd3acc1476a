package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.KMeans

/** N14 k-means properties the oracle grade cannot isolate: exact
  * fixed-point agreement with a sequential Lloyd reference, invariance
  * under repartitioning (the reason the arithmetic is integer), the
  * empty-cluster and tie-break rules, and the loud domain guards.
  */
class KMeansSpec extends AnyFunSuite with SparkSuite {

  private def ptsOf(vecs: Seq[Array[Double]]) = {
    import spark.implicits._
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "emb")
      .select(col("id"), KMeans.quantize(col("emb")).as("q"))
  }

  /** The same integer Lloyd recurrence, sequentially. */
  private def reference(vecs: Seq[Array[Double]], k: Int, iters: Int): Map[Long, (Long, Long)] = {
    val q = vecs.map(_.map(x => math.floor((x + 1.0) * KMeans.Q).toLong))
    var cents = (0 until k).map(q(_)).toArray
    def assign(p: Array[Long]): (Int, Long) =
      cents.zipWithIndex.map { case (c, i) =>
        (p.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.min match { case (d, i) => (i, d) }
    for (_ <- 1 to iters) {
      val byC = q.indices.groupBy(i => assign(q(i))._1)
      cents = cents.zipWithIndex.map { case (old, ci) =>
        byC.get(ci) match {
          case Some(members) =>
            Array.tabulate(old.length)(d => members.map(q(_)(d)).sum / members.size)
          case None => old // empty cluster keeps its centroid
        }
      }
    }
    q.indices.map { i =>
      val (c, d) = assign(q(i)); i.toLong -> (c.toLong, d)
    }.toMap
  }

  private def run(vecs: Seq[Array[Double]], k: Int, iters: Int, parts: Int = 1) = {
    val pts =
      if (parts == 1) ptsOf(vecs) else ptsOf(vecs).repartition(parts, col("q"))
    KMeans.fit(pts, k, iters).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  test("matches the sequential integer Lloyd reference over 3 rounds") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq.fill(60)(Array.fill(8)(rnd.nextDouble() * 1.8 - 0.9))
    val want = reference(vecs, k = 4, iters = 3)
    assert(run(vecs, k = 4, iters = 3) === want)
    // and is invariant under input partitioning
    assert(run(vecs, k = 4, iters = 3, parts = 16) === want)
  }

  test("duplicate seeds: ties go to the lowest cluster and the emptied cluster keeps its centroid") {
    // ids 0 and 1 are identical, so cluster 1 is empty from round 1 on
    val vecs = Seq(Array(0.5, 0.5), Array(0.5, 0.5), Array(0.6, 0.4), Array(-0.5, -0.5))
    val got = run(vecs, k = 2, iters = 2)
    assert(got === reference(vecs, k = 2, iters = 2))
    // non-vacuity: round 1 sends EVERY point to cluster 0 (equidistant
    // ties break low), so cluster 1 survives only via the keep-previous
    // rule — and in round 2 the duplicates migrate back to it. Both
    // clusters present in the final output proves the kept centroid
    // stayed live; the identical duplicates must land identically.
    assert(got.values.map(_._1).toSet === Set(0L, 1L))
    assert(got(0L) === got(1L) && got(0L)._1 === 1L)
  }

  test("assignment distance is the exact integer d2") {
    // one point per cluster: after any rounds, d2(self) = 0 exactly
    val vecs = Seq(Array(0.1, 0.2), Array(-0.7, 0.3))
    val got = run(vecs, k = 2, iters = 3)
    assert(got === Map(0L -> (0L, 0L), 1L -> (1L, 0L)))
  }

  test("k = 1 (the degenerate single-cluster case) runs — least() needs >= 2 children (r19 review)") {
    val vecs = Seq(Array(0.1, 0.2), Array(-0.7, 0.3), Array(0.4, 0.4))
    val got = run(vecs, k = 1, iters = 2)
    assert(got === reference(vecs, k = 1, iters = 2))
    assert(got.values.map(_._1).toSet === Set(0L))
  }

  test("assign() is a pure projection: any split of the input unions to the batch fit (the st17 serve contract)") {
    val rnd = new scala.util.Random(11)
    val vecs = Seq.fill(40)(Array.fill(6)(rnd.nextDouble() * 1.6 - 0.8))
    val pts = ptsOf(vecs)
    val (cents, pinned) = KMeans.lloyd(pts, k = 3, iters = 2)
    val whole = KMeans.assign(pinned, cents).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // serve the same rows as two disjoint "micro-batches"
    val parts = Seq(pts.filter(col("id") % 2 === 0), pts.filter(col("id") % 2 === 1))
    val streamed = parts.flatMap(b => KMeans.assign(b, cents).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))).toSet
    assert(streamed === whole)
    assert(whole.size === 40)
  }

  /** md5 hex exactly as Spark's `md5(cast(id as string))` computes it. */
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The sequential D² argmax chain seedPlusPlus must replay: seed 0 is
    * the lowest id; each next seed maximizes MIN d² to the seed set,
    * ties by (md5(id), id) ascending.
    */
  private def seedRef(vecs: Seq[Array[Double]], k: Int): Seq[Seq[Long]] = {
    val q = vecs.map(_.map(x => math.floor((x + 1.0) * KMeans.Q).toLong))
    var seeds = Seq(q.head) // ptsOf ids are 0..n-1, so id 0 is lowest
    for (_ <- 2 to k) {
      val byMin = q.indices.map { i =>
        (i, seeds.map(s => q(i).zip(s).map { case (a, b) => (a - b) * (a - b) }.sum).min)
      }
      val pick = byMin.sortBy { case (i, d) => (-d, md5hex(i.toString), i.toLong) }
        .head._1
      seeds = seeds :+ q(pick)
    }
    seeds.map(_.toSeq)
  }

  test("n16: seedPlusPlus replays the sequential D² argmax chain (md5-then-id tie-break)") {
    val rnd = new scala.util.Random(23)
    val vecs = Seq.fill(50)(Array.fill(6)(rnd.nextDouble() * 1.8 - 0.9))
    val got = KMeans.seedPlusPlus(ptsOf(vecs), k = 5).map(_.toSeq)
    assert(got === seedRef(vecs, k = 5))
    // tie exercise: duplicate farthest candidates — the md5/id order must
    // decide identically in both implementations
    val dup = Seq(Array(0.0, 0.0), Array(0.8, 0.8), Array(0.8, 0.8), Array(-0.8, 0.8))
    assert(KMeans.seedPlusPlus(ptsOf(dup), k = 3).map(_.toSeq) === seedRef(dup, k = 3))
  }

  test("n16: D² seeding strictly beats lowest-id seeding when the low ids share one blob") {
    // ids 0..3 all in ONE tight corner blob — lowest-id seeding starts
    // all four centroids there; D² seeding spreads across the diameter
    val rnd = new scala.util.Random(5)
    def blob(cx: Double, cy: Double, n: Int) =
      Seq.fill(n)(Array(cx + rnd.nextDouble() * 0.05, cy + rnd.nextDouble() * 0.05))
    val vecs = blob(0.8, 0.8, 4) ++ blob(-0.8, -0.8, 12) ++
      blob(-0.8, 0.8, 12) ++ blob(0.8, -0.8, 12) ++ blob(0.8, 0.8, 8)
    val pts = ptsOf(vecs)
    def inertia(assigned: org.apache.spark.sql.DataFrame): Long =
      assigned.agg(sum(col("d2"))).collect().head.getLong(0)
    val lowestId = inertia(KMeans.fit(pts, k = 4, iters = 3))
    val plusPlus = inertia(KMeans.fitPlusPlus(pts, k = 4, iters = 3))
    assert(plusPlus < lowestId,
      s"k-means++ inertia $plusPlus should beat lowest-id $lowestId here")
  }

  test("a9: the graded cluster-quality rollup equals a sequential recompute over both assignments; every cluster non-vacuous") {
    val sfDir = "/root/testdata/sf0.001"
    val rollup = graft.queries.AnnQueries.clusterQuality(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // sequential recompute straight off the two assignments a9 rolls up
    val assignments = Seq(
      "lowest_id" -> graft.queries.AnnQueries.kmeansClusters(spark, sfDir),
      "kmeanspp" -> graft.queries.AnnQueries.kmeansPlusPlus(spark, sfDir))
    for ((tag, df) <- assignments) {
      val rows = df.collect().map(r => (r.getLong(1), r.getLong(2)))
      val byCluster = rows.groupBy(_._1)
      // per-cluster non-vacuity: all 4 clusters carry members
      assert(byCluster.keySet === Set(0L, 1L, 2L, 3L), s"$tag clusters vacuous")
      for ((c, members) <- byCluster) {
        val n = members.length.toLong
        val inertia = members.map(_._2).sum
        assert(rollup((tag, c)) === ((n, inertia, inertia / n)),
          s"$tag cluster $c rollup mismatch")
      }
    }
  }

  test("pinned fits read the seed vectors by name: a (q, id) table fits like (id, q)") {
    val rnd = new scala.util.Random(11)
    val vecs = Seq.fill(40)(Array.fill(6)(rnd.nextDouble() * 1.8 - 0.9))
    def fitted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val idFirst = ptsOf(vecs).localCheckpoint()
    val qFirst = ptsOf(vecs).select(col("q"), col("id")).localCheckpoint()
    assert(fitted(KMeans.fitPinned(qFirst, k = 3, iters = 2)) ===
      fitted(KMeans.fitPinned(idFirst, k = 3, iters = 2)))
    assert(fitted(KMeans.fitPlusPlusPinned(qFirst, k = 3, iters = 2)) ===
      fitted(KMeans.fitPlusPlusPinned(idFirst, k = 3, iters = 2)))
  }

  test("loud guards: domain, k bounds, iters, not enough points") {
    import spark.implicits._
    val bad = Seq((0L, Array(1.5, 0.0)), (1L, Array(0.0, 0.0)))
      .toDF("id", "emb")
      .select(col("id"), KMeans.quantize(col("emb")).as("q"))
    val ex = intercept[Exception](KMeans.fit(bad, k = 2, iters = 1).collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("documented domain")))
    val ok = ptsOf(Seq(Array(0.1), Array(0.2)))
    intercept[IllegalArgumentException](KMeans.fit(ok, k = 0, iters = 1))
    intercept[IllegalArgumentException](KMeans.fit(ok, k = 65, iters = 1))
    intercept[IllegalArgumentException](KMeans.fit(ok, k = 2, iters = 0))
    intercept[IllegalArgumentException](KMeans.fit(ok, k = 3, iters = 1))
    // fitPlusPlus enforces the SAME loud guards (review r20: without the
    // n >= k check the argmax chain silently returns duplicate centroids)
    intercept[IllegalArgumentException](KMeans.fitPlusPlus(ok, k = 3, iters = 1))
    intercept[IllegalArgumentException](KMeans.fitPlusPlus(ok, k = 2, iters = 0))
  }
}
