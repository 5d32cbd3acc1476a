package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Graph

/** G1 PageRank properties the oracle grade cannot isolate: exact
  * fixed-point values on hand-computed graphs, invariance under
  * repartitioning (the reason the arithmetic is integer), and the
  * hub-outranks-leaf ordering the centrality exists to produce.
  */
class GraphSpec extends AnyFunSuite with SparkSuite {
  private val FP = Graph.FixedPoint
  private def tele = FP / 100L * 15L

  private def edgesOf(pairs: (Long, Long)*) = {
    import spark.implicits._
    // symmetrize, matching the documented contract
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
  }

  private def ranksOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two-node symmetric graph is a fixed point at FP exactly") {
    val r = ranksOf(Graph.pageRank(edgesOf((1L, 2L)), iters = 3))
    assert(r === Map(1L -> FP, 2L -> FP))
  }

  test("star graph matches the hand-unrolled integer recurrence") {
    // center 0 <-> leaves 1..4: deg(0)=4, deg(leaf)=1
    val star = edgesOf((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    // r1(center) = tele + 85*(4*(FP div 1)) div 100
    // r1(leaf)   = tele + 85*(FP div 4) div 100
    val c1 = tele + 85L * (4L * FP) / 100L
    val l1 = tele + 85L * (FP / 4L) / 100L
    val got1 = ranksOf(Graph.pageRank(star, iters = 1))
    assert(got1 === Map(0L -> c1, 1L -> l1, 2L -> l1, 3L -> l1, 4L -> l1))
    // second round from (c1, l1), still exact integer arithmetic
    val c2 = tele + 85L * (4L * (l1 / 1L)) / 100L
    val l2 = tele + 85L * (c1 / 4L) / 100L
    val got2 = ranksOf(Graph.pageRank(star, iters = 2))
    assert(got2 === Map(0L -> c2, 1L -> l2, 2L -> l2, 3L -> l2, 4L -> l2))
    // the hub outranks every leaf in both rounds
    assert(c1 > l1 && c2 > l2)
  }

  test("long horizon (7 iters, crossing the every-3rd checkpoint) matches a sequential reference") {
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L))
    val edges = pairs ++ pairs.map(p => (p._2, p._1))
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var ref = deg.keys.map(_ -> FP).toMap
    for (_ <- 1 to 7) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => ref(src) / deg(src) }.sum
      }
      ref = contrib.map { case (n, s) => n -> (tele + 85L * s / 100L) }
    }
    val got = ranksOf(Graph.pageRank(edgesOf(pairs: _*), iters = 7))
    assert(got === ref)
  }

  test("HITS matches a sequential reference over 4 rounds and is partition-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pairs = (0L until 30L).map(i => (i % 5, 100L + i % 7)) // hubs 0-4, auths 100-106
    val edges = pairs.distinct
    // sequential reference of the exact integer recurrence
    var h = edges.map(_._1).distinct.map(_ -> FP).toMap
    var a = Map.empty[Long, Long]
    def norm(raw: Map[Long, Long]): Map[Long, Long] = {
      val d = raw.values.sum / FP
      raw.map { case (k, v) => k -> (if (d == 0) 0L else v / d) }
    }
    for (_ <- 1 to 4) {
      a = norm(edges.groupBy(_._2).map { case (v, es) => v -> es.map(e => h(e._1)).sum })
      h = norm(edges.groupBy(_._1).map { case (u, es) => u -> es.map(e => a(e._2)).sum })
    }
    val ref = h.map { case (k, v) => ("hub", k) -> v } ++
      a.map { case (k, v) => ("authority", k) -> v }
    def run(df: org.apache.spark.sql.DataFrame) =
      Graph.hits(df, iters = 4).collect()
        .map(r => (r.getString(1), r.getLong(0)) -> r.getLong(2)).toMap
    val base = edges.toDF("src", "dst")
    assert(run(base.repartition(1)) === ref)
    assert(run(base.repartition(16, col("dst"))) === ref)
  }

  test("HITS rejects iters < 1 loudly") {
    import spark.implicits._
    intercept[IllegalArgumentException](
      Graph.hits(Seq((1L, 2L)).toDF("src", "dst"), iters = 0))
  }

  test("pageRank rejects dangling nodes loudly (r19 hardening)") {
    import spark.implicits._
    // a directed, non-symmetrized edge: 1 is only-src, 2 is only-dst —
    // silently leaking rank mass is the failure mode the guard exists for
    val ex = intercept[IllegalArgumentException](
      Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), iters = 1))
    assert(ex.getMessage.contains("dangling"))
    intercept[IllegalArgumentException](
      Graph.pageRankConverged(Seq((1L, 2L)).toDF("src", "dst"), tol = 0L, maxIters = 1))
  }

  test("pageRank fails loud on a null src instead of dropping its edge") {
    import spark.implicits._
    // a symmetric graph plus one edge whose src is null: the src-keyed
    // iteration join would silently drop it
    val edges = Seq((Option(1L), 2L), (Option(2L), 1L), (Option.empty[Long], 1L))
      .toDF("src", "dst")
    val ex = intercept[Exception](Graph.pageRank(edges, iters = 1).collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("null src")), messages(ex))
  }

  test("HITS raises loudly on a zero-mass normalize instead of NULL-ing scores (r19 hardening)") {
    import spark.implicits._
    // one hub fanning to 3 authorities: round-1 authority scores truncate
    // to FP/3 each, so the hub-side total is 3*(FP div 3) = FP-1 < FP and
    // `tot div FP` is 0 — the degenerate case that used to NULL out
    val oneSidedStar = Seq((1L, 101L), (1L, 102L), (1L, 103L)).toDF("src", "dst")
    val ex = intercept[Exception](Graph.hits(oneSidedStar, iters = 1).collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("zero total")))
  }

  test("pageRankConverged stops at the exact fixed point and matches fixed-iters (r19)") {
    // two-node symmetric graph: round 1 lands exactly on FP (tele +
    // 0.85*FP), so the L1 delta is 0 and tol=0 stops after one round
    val two = edgesOf((1L, 2L))
    val (r1, n1) = Graph.pageRankConverged(two, tol = 0L, maxIters = 10)
    assert(n1 === 1)
    assert(ranksOf(r1) === Map(1L -> FP, 2L -> FP))
    // on a non-trivial graph, whatever round it stops at must be
    // bit-identical to the fixed-iters run of that length
    val star = edgesOf((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val (rs, k) = Graph.pageRankConverged(star, tol = 0L, maxIters = 4)
    assert(k >= 1 && k <= 4)
    assert(ranksOf(rs) === ranksOf(Graph.pageRank(star, iters = k)))
    // a generous tolerance genuinely stops early (crossing the
    // checkpointed-seed path and the per-round delta action)
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L))
    val (rg, kg) = Graph.pageRankConverged(edgesOf(pairs: _*),
      tol = FP / 10L, maxIters = 20)
    assert(kg < 20)
    assert(ranksOf(rg) === ranksOf(Graph.pageRank(edgesOf(pairs: _*), iters = kg)))
  }

  test("hitsConverged matches fixed-iters at its stop horizon and stops early on a converged graph (r19)") {
    import spark.implicits._
    val pairs = (0L until 30L).map(i => (i % 5, 100L + i % 7)).distinct
    val base = pairs.toDF("src", "dst")
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(1), r.getLong(0)) -> r.getLong(2)).toMap
    val (res, k) = Graph.hitsConverged(base, tol = 0L, maxIters = 4)
    assert(k >= 1 && k <= 4)
    assert(scores(res) === scores(Graph.hits(base, iters = k)))
    // a generous tolerance stops before the horizon
    val (_, kg) = Graph.hitsConverged(base, tol = FP / 10L, maxIters = 20)
    assert(kg < 20)
    intercept[IllegalArgumentException](Graph.hitsConverged(base, -1L, 4))
    intercept[IllegalArgumentException](Graph.hitsConverged(base, 0L, 0))
  }

  test("fixed-point ranks are invariant under input partitioning") {
    val pairs = (0L until 40L).map(i => (i % 7, 100L + i % 13))
    val base = edgesOf(pairs: _*)
    val a = ranksOf(Graph.pageRank(base.repartition(1), iters = 3))
    val b = ranksOf(Graph.pageRank(base.repartition(16, col("dst")), iters = 3))
    assert(a === b)
    assert(a.nonEmpty)
  }
}
