package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph centrality on DataFrames — PageRank (Page et al. 1999,
  * "The PageRank Citation Ranking") in FIXED-POINT INTEGER arithmetic, the
  * curation-side quality signal web-scale corpora rank documents/hosts by
  * (the CommonCrawl-style host-graph centrality treatment).
  *
  * Fixed-point longs, not doubles, on purpose: float PageRank sums in
  * shuffle order, so two runs (or two engines) disagree in the last ulps;
  * integer contributions (`r div deg`) make every iteration's sum
  * associative, commutative, and bit-exact on ANY partitioning and ANY
  * engine — the property the DuckDB oracle grade rests on.
  *
  * Spark-first shape: the loop body is one key-equi join (ranks ⋈ edges
  * on `src`) + one aggregation (sum by `dst`) — the standard Pregel
  * message round expressed relationally, run by [[Fixpoint]]. The edge
  * list with its out-degrees is loop-invariant: computed once and pinned
  * ([[Fixpoint.pin]]). A pin keeps no output partitioning (the pinned
  * scan reports UnknownPartitioning), so each round still exchanges the
  * edge side on `src`; AQE then broadcasts the node-sized rank side. At
  * cluster scale the further lever is block partitioning (GraphX-style
  * 2-D edge cuts); the relational loop here is the shape AQE can already
  * re-plan per iteration.
  */
object Graph {

  /** One unit of rank mass. The aggregate's worst case is one node
    * receiving the whole graph's mass: `85 · n · FP` must stay inside
    * Long, so at FP = 1e9 the hard bound is n ≲ 1.08e8 nodes (~10×
    * headroom at 10M nodes — raise node count and FP together only with
    * this bound in hand). 1e9 leaves ~9 significant digits; truncation
    * noise is identical on both engines by construction, so it never
    * costs grading exactness.
    */
  val FixedPoint: Long = 1000000000L

  /** Builds the loop-invariant edge table (src, dst, d) — partitioned
    * by the iteration join key for the degree window and pinned so every
    * round pays for it once. The dangling-node precondition is enforced by
    * [[assertNoDangling]] on the final ranks — a node-sized check, not an
    * edge-sized one.
    */
  private def edgeTable(edges: DataFrame, parts: Int = 0): DataFrame = {
    // parts = 0 → the session's shuffle width; a caller sizing for a
    // cluster passes the edge-list width explicitly (SCALING.md "Round-19
    // g1/g2 edge-partitioning A/B at sf1")
    val part = if (parts > 0) edges.repartition(parts, col("src"))
      else edges.repartition(col("src"))
    // out-degree as a window over the SAME src exchange the loop join
    // needs anyway (guide §2.4: two operations keyed the same way share
    // one exchange) — the former groupBy+join shape paid a second keyed
    // exchange for `deg` plus the join itself
    // a null src would drop out of the src-keyed iteration join and take
    // its mass with it: fail loud per row, inside the projection the
    // pin job already runs (no separate validation job)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
    Fixpoint.pin(part.withColumn("d",
      when(col("src").isNull, raise_error(lit("edgeTable: null src in edge list")))
        .otherwise(count(lit(1)).over(w))))
  }

  /** ENFORCES the dangling-node precondition loudly (review r19): a node
    * appearing as only-src silently drops out of the dst-keyed aggregate
    * after round 1; an only-dst node receives mass it never redistributes.
    * Both directions reduce to ONE observable fact — every round's keyset
    * is exactly `distinct dst` (round 1 trivially; later rounds too,
    * because set(src) ⊆ set(dst) would make every src a receiving dst),
    * so set(src) == set(dst) ⟺ ANY round's keyset equals the seed keyset.
    * The check therefore runs ONCE against the (pinned) final
    * ranks: a single NODE-sized union-count job, zero mid-loop barriers.
    * (Two r19 cuts were A/B-invalidated first: an edge-sized union
    * aggregate cost ~2.3 s on the 11.7M-edge sf1 graph, and a
    * guard-after-round-1 variant forced seed + round-1 checkpoints that
    * cost ~1.5-2 s of barrier jobs — see SCALING.md round-19.)
    */
  private def assertNoDangling(seed: DataFrame, fin: DataFrame,
                               op: String): Unit = {
    val bad = seed.select(col("node"), lit("only-src").as("side"))
      .unionAll(fin.select(col("node"), lit("only-dst").as("side")))
      .groupBy("node").agg(count(lit(1)).as("c"), min(col("side")).as("side"))
      .filter(col("c") === 1)
      .limit(5).collect()
      .map(r => s"${r.getLong(0)} (${r.getString(2)})")
    require(bad.isEmpty,
      s"$op: dangling nodes — every node must appear as BOTH src and dst " +
        s"(feed symmetric edges for an undirected graph); offenders e.g. " +
        bad.mkString("[", ", ", "]"))
  }

  /** One damped PageRank round: key-equi join + dst-keyed sum. */
  private def prStep(ed: DataFrame, ranks: DataFrame): DataFrame = {
    val tele = FixedPoint / 100L * 15L // exact: FixedPoint is a multiple of 100
    ed.join(ranks, ed("src") === ranks("node"))
      .select(col("dst"), expr("r div d").as("c"))
      .groupBy(col("dst"))
      .agg((lit(tele) + expr("(85 * sum(c)) div 100")).as("r"))
      .select(col("dst").as("node"), col("r"))
  }

  /** Uniform [[FixedPoint]] seed ranks FROM the pinned table (review
    * r18): seeding from `deg` would re-execute the whole edge-build
    * lineage a second time in the rank job — the exact cost the ed
    * pin exists to pay once. Left LAZY on purpose: round 1 and
    * the end-of-run dangling guard each fold it into their own job —
    * one extra pass over the materialized ed beats an eager checkpoint
    * barrier (the r19 A/B, SCALING.md "Round-19 g1/g2
    * edge-partitioning A/B at sf1").
    */
  private def seedRanks(ed: DataFrame): DataFrame =
    ed.select("src").distinct()
      .select(col("src").as("node"), lit(FixedPoint).as("r"))

  /** `iters` damped PageRank rounds over a directed edge list
    * (`src: Long`, `dst: Long`). Every node must appear as BOTH a src and
    * a dst (feed symmetric edges for an undirected graph) — ENFORCED
    * loudly by [[assertNoDangling]]; dangling nodes would leak mass and drop
    * out of the aggregate. Returns (`node`, `r`) with r in [[FixedPoint]]
    * units: r' = 0.15·FP + 0.85·Σ_{u→node} (r(u) div deg(u)), all integer.
    */
  def pageRank(edges: DataFrame, iters: Int, parts: Int = 0): DataFrame = {
    require(iters >= 1,
      s"pageRank: iters ($iters) must be >= 1 — 0 rounds would return " +
        "uniform seeds labeled as ranks")
    val ed = edgeTable(edges, parts)
    val seed = seedRanks(ed)
    // pin the final ranks (node-sized): the dangling guard and the
    // caller's action both read them
    val fin = Fixpoint.pin(Fixpoint(seed, iters, None)(prStep(ed, _))._1)
    assertNoDangling(seed, fin, "pageRank")
    fin
  }

  /** Convergence-stopped PageRank: iterate until the L1 rank delta
    * Σ|r_i − r_{i−1}| (in [[FixedPoint]] units) is ≤ `tol`, or `maxIters`
    * rounds, whichever first. Because ranks are integers, the delta is
    * itself exact — the stopping decision is bit-deterministic on any
    * partitioning, unlike a float-residual stop. Returns (ranks, rounds
    * run); the ranks after k rounds are bit-identical to
    * `pageRank(edges, k)` (spec-pinned in GraphSpec).
    *
    * Each round joins the previous ranks in as `rp` and the delta is
    * observed in the job that pins the round ([[Fixpoint]]). The join is
    * left outer, so the round's keyset stays exactly prStep's (the one
    * [[assertNoDangling]] reads); on a valid graph the keyset is
    * loop-invariant and every `rp` is present. The join adds one
    * node-sized exchange per round — the price of convergence mode over
    * fixed-iters.
    */
  def pageRankConverged(edges: DataFrame, tol: Long, maxIters: Int): (DataFrame, Int) = {
    require(maxIters >= 1, s"pageRankConverged: maxIters ($maxIters) must be >= 1")
    require(tol >= 0L, s"pageRankConverged: tol ($tol) must be >= 0")
    val ed = edgeTable(edges)
    val seed = seedRanks(ed)
    val (ranks, rounds, _) =
      Fixpoint(seed, maxIters, Some(sum(abs(col("r") - col("rp"))) <= tol)) { prev =>
        prStep(ed, prev)
          .join(prev.select(col("node"), col("r").as("rp")), Seq("node"), "left_outer")
      }
    assertNoDangling(seed, ranks, "pageRankConverged")
    (ranks, rounds)
  }

  /** L1-normalize one HITS side to [[FixedPoint]] in integer arithmetic
    * (`raw div (total div FP)` — one exact global-window sum over the
    * node-sized aggregate, never a second pass over edges). Zero-mass
    * normalize is a LOUD error, not a silent NULL-out (review r19): a
    * side's total truncating below FixedPoint means a degenerate graph
    * whose scores would all be NULL — the contract elsewhere
    * (packedPairs, iters guards) is raise_error, so match it. ONE
    * definition shared by [[hits]] and [[hitsConverged]] (review r19's
    * duplicate-scaffolding item).
    */
  private def hitsNormalize(raw: DataFrame, key: String, out: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    raw.withColumn("tot", sum(col("raw")).over(w))
      .select(col(key).as("node"),
        expr(s"""CASE WHEN tot div ${FixedPoint}L = 0L
                |THEN CAST(raise_error('hits: zero total $out-mass — degenerate graph side, cannot L1-normalize') AS LONG)
                |ELSE raw div (tot div ${FixedPoint}L) END""".stripMargin).as(out))
  }

  /** One full HITS round over the (`node`, `role`, `score`) state:
    * authority mass from the state's in-linking hub scores, then hub mass
    * from out-linked authority scores, each L1-normalized. Returns the
    * next state — both sides, so a pin cuts them in one job.
    */
  private def hitsRound(ed: DataFrame, state: DataFrame): DataFrame = {
    val hubs = state.filter(col("role") === "hub")
      .select(col("node"), col("score").as("h"))
    val auths = hitsNormalize(
      ed.join(hubs, ed("src") === hubs("node"))
        .groupBy(col("dst")).agg(sum(col("h")).as("raw")), "dst", "a")
    val next = hitsNormalize(
      ed.join(auths, ed("dst") === auths("node"))
        .groupBy(col("src")).agg(sum(col("a")).as("raw")), "src", "h")
    next.select(col("node"), lit("hub").as("role"), col("h").as("score"))
      .unionAll(auths.select(col("node"), lit("authority").as("role"),
        col("a").as("score")))
  }

  /** Uniform hub seeds over the pinned edge table's src keyset. */
  private def hitsSeed(ed: DataFrame): DataFrame =
    ed.select("src").distinct()
      .select(col("src").as("node"), lit("hub").as("role"), lit(FixedPoint).as("score"))

  /** HITS (Kleinberg 1999, "Authoritative Sources in a Hyperlinked
    * Environment") over a DIRECTED hub→authority edge list — the natural
    * companion to [[pageRank]] on bipartite interaction graphs (here
    * customers are hubs, suppliers authorities): each round computes
    * authority mass as the sum of in-linking hub scores, then hub mass as
    * the sum of out-linked authority scores, L1-normalizing each side to
    * [[FixedPoint]] in integer arithmetic (`raw div (total div FP)` —
    * one exact global-window sum over the node-sized aggregate, never a
    * second pass over edges; the div-by-div form never overflows Long:
    * raw ≤ deg·FP and total ≤ E·FP stay far inside 2^63 for any graph
    * whose edge count fits a cluster). Same loop shape as PageRank: two
    * key-equi joins + two aggregations per round over the pinned edge
    * list, bit-exact on any partitioning.
    *
    * Returns (`node`, `role` 'hub'|'authority', `score`) for the state
    * after `iters` full rounds.
    */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1,
      s"hits: iters ($iters) must be >= 1 — 0 rounds would return uniform seeds")
    val ed = Fixpoint.pin(edges.repartition(col("src")))
    Fixpoint(hitsSeed(ed), iters, None)(hitsRound(ed, _))._1
  }

  /** Convergence-stopped HITS — [[pageRankConverged]]'s stopping rule
    * applied to the hub side: iterate full (authority, hub) rounds until
    * the hub-score L1 delta Σ|h_i − h_{i−1}| ≤ `tol` (both sides are
    * L1-normalized each round, so the hub delta bounds the authority
    * drift too), or `maxIters`. Integer scores make the stop decision
    * bit-deterministic; the state after k rounds is bit-identical to
    * `hits(edges, k)` (spec-pinned). Each round carries the previous hub
    * score as `hp` on its hub rows (the hub keyset is distinct src every
    * round) and the delta is observed in the job that pins the round
    * ([[Fixpoint]]).
    */
  def hitsConverged(edges: DataFrame, tol: Long, maxIters: Int): (DataFrame, Int) = {
    require(maxIters >= 1, s"hitsConverged: maxIters ($maxIters) must be >= 1")
    require(tol >= 0L, s"hitsConverged: tol ($tol) must be >= 0")
    val ed = Fixpoint.pin(edges.repartition(col("src")))
    val (scores, rounds, _) =
      Fixpoint(hitsSeed(ed), maxIters, Some(sum(abs(col("score") - col("hp"))) <= tol)) { prev =>
        hitsRound(ed, prev).join(
          prev.filter(col("role") === "hub")
            .select(col("node"), col("role"), col("score").as("hp")),
          Seq("node", "role"), "left_outer")
      }
    (scores, rounds)
  }
}
