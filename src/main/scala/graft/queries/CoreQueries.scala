package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Driver-contract queries for the reference's join/aggregation/window/set-op
  * surface (SURVEY.md §2.4-§2.6: J1-J4, A1-A3, W1, O1, U1) plus two
  * TPC-H-style headline aggregations used as bench anchors. All results are
  * deterministic; monetary aggregates go through exact decimal arithmetic and
  * are presented as doubles so Spark and DuckDB hash identically.
  */
object CoreQueries {

  /** Exact-decimal sum presented as double (both engines sum the same
    * decimals, so the final double conversion is bit-identical).
    */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** A1 — labeled counters: `groupBy(labels).count()`
    * (`/root/reference/metrics/metrics.go:19-77` re-skinned to events by
    * (event_type, day) — the (dataset, status) label pair analogue).
    */
  def counters(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyyMMdd").as("day"))
      .agg(count(lit(1)).as("cnt"))

  val countersSql: String =
    """SELECT event_type, strftime(ts, '%Y%m%d') AS day, COUNT(*) AS cnt
      |FROM events GROUP BY 1, 2""".stripMargin

  /** A2 — distinct set build (`/root/reference/embargo_check.go:41-56`). */
  def distinctPairs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select("lang", "source").distinct()

  val distinctPairsSql = "SELECT DISTINCT lang, source FROM documents"

  /** A3 — existence/count checks across every source table
    * (`/root/reference/gcs_operations.go:142`).
    */
  def tableCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val names = Seq("lineitem", "orders", "customer", "supplier", "part",
      "nation", "region", "documents", "embeddings")
    // global agg (no groupBy) so an empty table still yields one row with 0,
    // matching the oracle's SELECT 'n', COUNT(*) semantics
    val counted = names.map { n =>
      Tables.table(spark, sfDir, n)
        .agg(count(lit(1)).as("cnt")).select(lit(n).as("tbl"), col("cnt"))
    } :+ Tables.events(spark, sfDir)
      .agg(count(lit(1)).as("cnt")).select(lit("events").as("tbl"), col("cnt"))
    counted.reduce(_ unionAll _)
  }

  val tableCountsSql: String =
    Seq("lineitem", "orders", "customer", "supplier", "part",
      "nation", "region", "documents", "embeddings", "events")
      .map(n => s"SELECT '$n' AS tbl, COUNT(*) AS cnt FROM $n")
      .mkString("\n", "\nUNION ALL\n", "")

  /** J1 — broadcast semi-join probe (`/root/reference/embargo_check.go:105-110`):
    * orders whose customer is in the small filtered dimension.
    */
  def semiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val bld = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    Tables.orders(spark, sfDir)
      .join(broadcast(bld), col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
  }

  val semiJoinSql: String =
    """SELECT o_orderpriority, COUNT(*) AS cnt FROM orders
      |WHERE EXISTS (SELECT 1 FROM customer
      |              WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
      |GROUP BY 1""".stripMargin

  /** J2 — anti-join sync (`/root/reference/gcs_operations.go:200-266`):
    * customers with no URGENT orders, per nation. The probe side is filtered
    * to a narrow priority subset so the anti-join is non-vacuous at every
    * scale factor (every customer has *some* order in the synthetic data).
    */
  def antiJoin(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir)
          .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("n_no_orders"))

  val antiJoinSql: String =
    """SELECT CAST(c_nationkey AS BIGINT) AS nationkey, COUNT(*) AS n_no_orders
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c.c_custkey AND o_orderpriority = '1-URGENT')
      |GROUP BY 1""".stripMargin

  /** J3 — upsert / overwrite-join (`/root/reference/unembargo.go:97-133`,
    * rationale `:4-28`): source rows (10% of part keys, repriced) overwrite
    * destination rows; relationally `source ∪ (dest ⟕̸ source)` = left-anti
    * keeps + union, last-writer-wins. Output subsampled for a bounded result.
    */
  def upsert(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_retailprice").as("price"), lit("dest").as("origin"))
    val src = Tables.part(spark, sfDir)
      .filter(col("p_partkey") % 10 === 0)
      .select(col("p_partkey"), (col("p_retailprice") * 1.1).as("price"), lit("src").as("origin"))
    val merged = src.unionAll(
      dest.join(src.select("p_partkey"), Seq("p_partkey"), "left_anti"))
    merged.filter(col("p_partkey") % 7 === 0)
  }

  val upsertSql: String =
    """WITH src AS (
      |  SELECT p_partkey, p_retailprice * 1.1 AS price, 'src' AS origin
      |  FROM part WHERE p_partkey % 10 = 0),
      |dest AS (
      |  SELECT p_partkey, p_retailprice AS price, 'dest' AS origin FROM part
      |  WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.p_partkey = part.p_partkey))
      |SELECT * FROM (SELECT * FROM src UNION ALL SELECT * FROM dest)
      |WHERE p_partkey % 7 = 0""".stripMargin

  /** J4 — set-compare via symmetric difference
    * (`/root/reference/gcs_operations.go:269-337`): full-outer join with
    * null-side flags, counting leftovers on each side.
    */
  def symDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val a = Tables.orders(spark, sfDir)
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey").as("k")).distinct()
    val b = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R").select(col("l_orderkey").as("k")).distinct()
    a.withColumn("in_a", lit(1))
      .join(b.withColumn("in_b", lit(1)), Seq("k"), "full_outer")
      .filter(col("in_a").isNull || col("in_b").isNull)
      .groupBy(when(col("in_b").isNull, "only_src").otherwise("only_dst").as("side"))
      .agg(count(lit(1)).as("cnt"))
  }

  val symDiffSql: String =
    """WITH a AS (SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F'),
      |b AS (SELECT DISTINCT l_orderkey AS k FROM lineitem WHERE l_returnflag = 'R')
      |SELECT CASE WHEN b.k IS NULL THEN 'only_src' ELSE 'only_dst' END AS side,
      |       COUNT(*) AS cnt
      |FROM a FULL OUTER JOIN b ON a.k = b.k
      |WHERE a.k IS NULL OR b.k IS NULL
      |GROUP BY 1""".stripMargin

  /** W1 — "latest snapshot per key" (SURVEY §2.6 parity): last event per
    * user. Ordering is on the µs-truncated timestamp with an id tie-break —
    * DuckDB 1.0 truncates parquet TIMESTAMP_NS to µs on scan, so ns-exact
    * ordering would be one-sided.
    */
  def latestPerUser(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    Tables.events(spark, sfDir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("ts_us").as("last_ts_us"))
  }

  val latestPerUserSql: String =
    """SELECT user_id, event_id AS last_event_id, epoch_us(ts) AS last_ts_us
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) = 1""".stripMargin

  /** O1 — sort/limit top-k (SURVEY §2.6): 10 largest orders, ties broken by
    * key so the result set is unique.
    */
  def topK(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_orderkey"), col("o_totalprice"))
      .limit(10)

  val topKSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  /** U1 — set ops (SURVEY §2.6): buyers who also clicked, minus users who
    * ever hit an error (INTERSECT + EXCEPT over distinct key sets).
    */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    def users(t: String, valuePred: Column => Column = _ => lit(true)) =
      ev.filter(col("event_type") === t && valuePred(col("value")))
        .select("user_id").distinct()
    // value slices keep the result non-empty at every SF (every user hits
    // every event type in the synthetic data, so unsliced sets are equal)
    users("purchase", _ > 50).intersect(users("click")).except(users("error", _ > 90))
  }

  val setOpsSql: String =
    """SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 50
      |INTERSECT
      |SELECT user_id FROM events WHERE event_type = 'click'
      |EXCEPT
      |SELECT user_id FROM events WHERE event_type = 'error' AND value > 90""".stripMargin

  /** U2 — MULTISET set ops (`INTERSECT ALL` / `EXCEPT ALL`, u1's bag
    * siblings): per user, the click and view event BAGS intersected
    * (min multiplicity survives) and subtracted (excess clicks survive),
    * then counted — multiplicities distinct ops would collapse to 0/1.
    * Spark plans both as a single aggregate computing per-key
    * multiplicities + a generate replaying min/difference copies — no
    * join of the two bags.
    */
  def setOpsAll(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    def bag(t: String) =
      ev.filter(col("event_type") === t).select("user_id")
    val inter = bag("click").intersectAll(bag("view"))
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .select(lit("intersect_all").as("op"), col("user_id"), col("n"))
    val exc = bag("click").exceptAll(bag("view"))
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .select(lit("except_all").as("op"), col("user_id"), col("n"))
    inter.unionAll(exc)
  }

  val setOpsAllSql: String =
    """SELECT 'intersect_all' AS op, user_id, COUNT(*) AS n FROM (
      |  SELECT user_id FROM events WHERE event_type = 'click'
      |  INTERSECT ALL
      |  SELECT user_id FROM events WHERE event_type = 'view') GROUP BY 2
      |UNION ALL
      |SELECT 'except_all', user_id, COUNT(*) FROM (
      |  SELECT user_id FROM events WHERE event_type = 'click'
      |  EXCEPT ALL
      |  SELECT user_id FROM events WHERE event_type = 'view') GROUP BY 2""".stripMargin

  /** Headline aggregation (TPC-H Q1 shape) — partial/final hash agg over the
    * fact table; the monetary sums use exact decimal arithmetic.
    */
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base"),
        sum(col("l_extendedprice").cast("decimal(18,2)")
          * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  /** Headline join pipeline (TPC-H Q5 shape): revenue per nation through
    * customer ⋈ orders ⋈ lineitem ⋈ nation, with the dimension broadcast.
    */
  def q3JoinAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val l = Tables.lineitem(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)")
          * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q3JoinAggSql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1""".stripMargin

  /** S1 — partition-pruned scan: one day of events, the range predicate
    * stated on BOTH timestamp encodings (`/root/reference/embargo.go:265-271`).
    * `Tables.events` supports two physical layouts — µs `TIMESTAMP` (where
    * `ts` is physical and `ts_ns` derived) and legacy `TIMESTAMP(NANOS)`
    * (where `ts_ns` is the physical Long and `ts` derived) — and a
    * predicate on a derived column strands above a projection and reads
    * every row group. The two range conjuncts are exactly equivalent
    * (ts = timestamp_micros(ts_ns div 1000), both bounds whole-second),
    * so whichever column is physical for the file at hand carries the
    * min/max row-group pruning and the other folds into a cheap residual
    * (ADVICE r12). The PlanSpec pushdown pin guards the µs branch.
    */
  def prefixScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dayStart = java.time.Instant.parse("2024-01-02T00:00:00Z")
    val dayEnd = java.time.Instant.parse("2024-01-03T00:00:00Z")
    val startNs = dayStart.getEpochSecond * 1000000000L
    val endNs = dayEnd.getEpochSecond * 1000000000L
    Tables.events(spark, sfDir)
      .filter(col("ts") >= lit(dayStart) && col("ts") < lit(dayEnd) &&
        col("ts_ns") >= lit(startNs) && col("ts_ns") < lit(endNs))
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
  }

  val prefixScanSql: String =
    """SELECT event_type, COUNT(*) AS cnt FROM events
      |WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' AND ts < TIMESTAMP '2024-01-03 00:00:00'
      |GROUP BY 1""".stripMargin

  /** O2 — grouping-sets/rollup (§2.5 parity beyond the reference): revenue
    * rollup over (returnflag, linestatus) with subtotal and grand-total
    * rows; exact decimal sums presented as doubles.
    */
  def rollupAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))

  val rollupAggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** W2 — analytic window frame: per-user running total (exact decimal,
    * frame-ordered) and previous-event gap via lag.
    */
  def runningTotals(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select(col("user_id"), col("event_id"),
        sum(col("value").cast("decimal(18,2)")).over(w)
          .cast("double").as("running_value"),
        lag(col("event_id"), 1).over(w).as("prev_event_id"))
  }

  val runningTotalsSql: String =
    """SELECT user_id, event_id,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2)))
      |       OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) AS DOUBLE)
      |    AS running_value,
      |  lag(event_id, 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)
      |    AS prev_event_id
      |FROM events""".stripMargin

  /** A4 — exact percentiles (§2.5 breadth): per-type median and p90 of the
    * event value via the exact `percentile` aggregate (sort-based), which
    * both engines define as linear interpolation over the ordered values.
    */
  def percentiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        count(lit(1)).as("n"))

  val percentilesSql: String =
    """SELECT event_type, quantile_cont(value, 0.5) AS p50,
      |       quantile_cont(value, 0.9) AS p90, COUNT(*) AS n
      |FROM events GROUP BY 1""".stripMargin

  /** A4b — the SCALE path for percentiles: `approx_percentile` (a
    * fixed-size quantile sketch with map-side combine) instead of the exact
    * sort-based aggregate, which buffers every group's values and is the
    * wrong shape at 100 TB. The sketch guarantees rank error ≤ n/accuracy;
    * the query emits the exact percentiles (hash-checked cross-engine, as
    * in A4) plus booleans asserting the sketch landed inside the exact
    * quantile envelope `[q − eps, q + eps]` — DuckDB's sketch differs, so
    * the SKETCH VALUES can't hash-match, but the bound check can and does:
    * the oracle states `TRUE` and a hash match proves Spark's sketch met
    * the bound.
    *
    * The envelope is ±1% of quantile space: the sketch's own guarantee is
    * 1/accuracy = 0.01% of rank, but it returns an ACTUAL group element, a
    * ±1-rank discretization that dominates at test-scale group sizes
    * (interpolated exact percentiles sit BETWEEN elements, so an envelope
    * tighter than one rank step can exclude the very element the sketch
    * correctly picked). 1% stays far above one rank at every test SF while
    * still failing loudly on a broken sketch.
    */
  def percentilesApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val acc = 10000 // sketch rank error <= n/acc
    val eps = 0.01 // quantile envelope half-width for the bound check
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        count(lit(1)).as("n"),
        expr(s"approx_percentile(value, 0.5, $acc)").as("ap50"),
        expr(s"approx_percentile(value, 0.9, $acc)").as("ap90"),
        expr(s"percentile(value, ${0.5 - eps})").as("p50_lo"),
        expr(s"percentile(value, ${0.5 + eps})").as("p50_hi"),
        expr(s"percentile(value, ${0.9 - eps})").as("p90_lo"),
        expr(s"percentile(value, ${0.9 + eps})").as("p90_hi"))
      .select(col("event_type"), col("p50"), col("p90"), col("n"),
        (col("ap50") >= col("p50_lo") && col("ap50") <= col("p50_hi")).as("p50_ok"),
        (col("ap90") >= col("p90_lo") && col("ap90") <= col("p90_hi")).as("p90_ok"))
  }

  val percentilesApproxSql: String =
    """SELECT event_type, quantile_cont(value, 0.5) AS p50,
      |       quantile_cont(value, 0.9) AS p90, COUNT(*) AS n,
      |       TRUE AS p50_ok, TRUE AS p90_ok
      |FROM events GROUP BY 1""".stripMargin

  /** Q6 — skew-safe salted aggregation ([[graft.ops.Scale.saltedAgg]]):
    * the five event types are the textbook hot keys (20k+ rows each at
    * sf0.1 onto 5 reducers); the salted two-phase shape spreads each over
    * `factor` reducers and must produce EXACTLY the direct groupBy answer,
    * which is what DuckDB computes — the hash match proves the salting is
    * value-neutral, upgrading the technique from spec-only to
    * oracle-checked. Whether a key is hot enough to salt is what the
    * [[heavyHittersQ q7_heavy_hitters]] diagnosis query answers.
    */
  def saltedAgg(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Scale.saltedAgg(
      Tables.events(spark, sfDir).select(col("event_type"), col("value")),
      "event_type", "value", factor = 8)

  val saltedAggSql: String =
    """SELECT event_type, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  /** A5 — the SCALE path for distinct counting: HyperLogLog++
    * `approx_count_distinct` (fixed-size sketch, map-side combine) instead
    * of exact `COUNT(DISTINCT ...)`, whose de-dup shuffle is the bottleneck
    * at 100 TB cardinalities (the reference's distinct set build A2,
    * `/root/reference/embargo_check.go:41-56`, held the whole set in a map).
    * Graded like A4b: the exact count is hash-checked cross-engine and a
    * boolean asserts Spark's sketch landed inside its error envelope —
    * DuckDB's own HLL differs bit-wise so the ESTIMATE can't hash-match,
    * but the envelope check can and does (the oracle states TRUE).
    *
    * Envelope: ±5·rsd relative. The sketch's standard error is `rsd`; five
    * standard deviations is far beyond any plausible HLL++ excursion yet
    * still fails loudly on a broken sketch, and Spark's HLL++ is
    * deterministic for fixed input so the boolean is stable across runs.
    */
  def distinctApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val rsd = 0.02
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), rsd).as("n_hll"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("n_hll") - col("n_exact")) <= col("n_exact") * lit(5 * rsd)).as("hll_ok"))
  }

  val distinctApproxSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, TRUE AS hll_ok
      |FROM events GROUP BY 1""".stripMargin

  /** A6 — sketch-based exact heavy hitters ([[graft.ops.Sketch]]): tokens
    * whose frequency is ≥ 1/50 of the corpus, found by a Misra-Gries
    * k=63 summary pass (merge-order-proof candidate guarantee for every
    * θ ≥ 1/64) and confirmed by an exact count of the ≤ k candidates
    * only. q7 ranks the top-N by a full groupBy; a6 is the 100 TB form —
    * the full-keyspace shuffle never happens, and the answer is exact and
    * deterministic anyway because the sketch only proposes, never scores.
    * The oracle recomputes heavy tokens exhaustively: a candidate the
    * sketch missed (guarantee broken) or a surplus key the exact pass
    * failed to trim both break the row set.
    */
  def heavyTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.wsTokens
    val toks = Tables.documents(spark, sfDir)
      .select(explode(wsTokens(lower(col("text")))).as("key"))
      .as[String]
    graft.ops.Sketch.heavyHitters(toks, k = 63, thetaInv = 50)
  }

  val heavyTokensSql: String =
    """WITH tok AS (
      |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS key
      |  FROM documents),
      |t AS (SELECT COUNT(*) AS total FROM tok)
      |SELECT key, COUNT(*) AS n
      |FROM tok, t
      |GROUP BY key, t.total
      |HAVING COUNT(*) >= (t.total + 49) // 50""".stripMargin

  /** Q7 — heavy-hitter diagnosis ([[graft.ops.Scale.heavyHitters]]): the
    * top-N keys by row count — the scan that decides whether a key is
    * skewed enough for Q6's salting. Integer-only; ties broken by key
    * ascending so the LIMIT cut is deterministic in both engines.
    */
  def heavyHittersQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Scale.heavyHitters(
      Tables.events(spark, sfDir).select(col("user_id")), "user_id", topN = 10)

  val heavyHittersSql: String =
    """SELECT user_id, COUNT(*) AS cnt FROM events
      |GROUP BY 1 ORDER BY cnt DESC, user_id ASC LIMIT 10""".stripMargin

  /** Q8 — bucketed co-located join: fact and dim are PERSISTED hash-bucketed
    * on the join key ([[graft.ops.Scale.writeBucketed]], S7-style external
    * parquet tables under the staging dir), then joined — the join needs no
    * shuffle because both scans already expose the bucket partitioning
    * (`ScaleSpec` pins the no-Exchange plan). The driver hash-check proves
    * the bucketed write→read round-trip preserved the data exactly: the
    * oracle recomputes the same join-aggregate from the ORIGINAL parquet.
    */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Scale
    val stage = TarQueries.StageDir
    Scale.writeBucketed(
      Tables.orders(spark, sfDir).select(col("o_custkey"), col("o_totalprice")),
      "q8_orders_b", "o_custkey", buckets = 8, path = Some(s"$stage/q8_orders_b"))
    Scale.writeBucketed(
      Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_nationkey")),
      "q8_customer_b", "c_custkey", buckets = 8, path = Some(s"$stage/q8_customer_b"))
    bucketedJoinRead(spark)
  }

  /** The read half of Q8 (also the `ScaleSpec` plan-pin target): join the
    * two staged bucketed tables and aggregate.
    */
  def bucketedJoinRead(spark: SparkSession): DataFrame =
    spark.table("q8_orders_b")
      .join(spark.table("q8_customer_b"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))

  val bucketedJoinSql: String =
    """SELECT c_nationkey, COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  /** S14 — JSON-lines source round-trip: events staged as jsonl (the
    * interchange format crawl/annotation deliveries actually arrive in),
    * read back with an EXPLICIT schema — schema inference over 100 TB of
    * text is a full extra pass — and aggregated per type with min/max/sum
    * probes that a mis-parsed field breaks. Timestamps travel as epoch µs
    * longs so the check is independent of JSON timestamp rendering; the
    * oracle aggregates the original parquet directly (never the staged
    * text), so the round-trip through the text format is what's graded.
    * CSV arrives through the identical `DataFrameReader` surface
    * (`spark.read.schema(...).csv`).
    */
  def jsonlScan(spark: SparkSession, sfDir: String): DataFrame = {
    val stage = s"${TarQueries.StageDir}/s14_events_jsonl"
    Tables.events(spark, sfDir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").json(stage)
    spark.read
      .schema("event_id BIGINT, us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      .json(stage)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_id"), max(col("us")).as("max_us"),
        dsum(col("value")).as("sum_value"))
  }

  val jsonlScanSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |       MIN(event_id) AS min_id, MAX(epoch_us(ts)) AS max_us,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  /** S17 — ORC source round-trip (the s14 treatment for the other
    * columnar lake format): events stage to ORC and the query reads the
    * ORC back with predicate pushdown and column pruning intact — Spark's
    * ORC reader is the same DSv2 file-scan machinery as parquet, so a
    * `PushedFilters`-bearing scan proves format parity. The oracle
    * aggregates the ORIGINAL parquet: the ORC write→read round-trip is
    * what's graded (DuckDB cannot read ORC, exactly the s14 situation
    * with jsonl — value-identical aggregates prove fidelity).
    */
  def orcScan(spark: SparkSession, sfDir: String): DataFrame = {
    val stage = s"${TarQueries.StageDir}/s17_events_orc"
    Tables.events(spark, sfDir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").orc(stage)
    spark.read.orc(stage)
      .filter(col("event_type") =!= "error") // pushdown-able scan predicate
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_id"), max(col("us")).as("max_us"),
        dsum(col("value")).as("sum_value"))
  }

  val orcScanSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |       MIN(event_id) AS min_id, MAX(epoch_us(ts)) AS max_us,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_type != 'error' GROUP BY 1""".stripMargin

  /** J8 — fuzzy (edit-distance) reference matching: corpus vocabulary
    * matched against a small reference list at levenshtein ≤ 2 — the
    * data-cleaning join every entity-resolution/typo-normalization
    * pipeline runs (exact joins miss `tabel` → `table`). The planted
    * reference carries deliberate misspellings of real corpus tokens so
    * the fuzzy arm is non-vacuous (an exact join finds none of them).
    *
    * Scale shape: the corpus side first collapses to its DISTINCT
    * vocabulary with doc frequencies (one map-side-combining agg — the
    * edit-distance never runs per occurrence), then vocab × broadcast
    * reference scores levenshtein map-side; nothing wider than the
    * vocabulary shuffles. Both engines run the same full-DP levenshtein
    * (integer), so the hash grade is exact.
    */
  private val FuzzyRefs = Seq("tabel", "scann", "joiin", "vektor", "streem")

  def fuzzyMatch(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFunctions.wsTokens
    val vocab = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(array_distinct(wsTokens(lower(col("text"))))).as("token"))
      .groupBy("token").agg(countDistinct(col("doc_id")).as("n_docs"))
    val refs = FuzzyRefs.map(lit(_))
    vocab.crossJoin(broadcast(
        spark.range(FuzzyRefs.length).select(
          element_at(array(refs: _*), col("id").cast("int") + 1).as("ref"))))
      .withColumn("dist", levenshtein(col("ref"), col("token")))
      .filter(col("dist") <= 2)
      .select(col("ref"), col("token"), col("dist").cast("long").as("dist"),
        col("n_docs"))
  }

  val fuzzyMatchSql: String = {
    val refs = FuzzyRefs.map(r => s"('$r')").mkString(", ")
    s"""WITH vocab AS (
       |  SELECT token, COUNT(DISTINCT doc_id) AS n_docs
       |  FROM (SELECT doc_id,
       |               unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS token
       |        FROM documents)
       |  GROUP BY 1),
       |refs(ref) AS (VALUES $refs)
       |SELECT ref, token, CAST(levenshtein(ref, token) AS BIGINT) AS dist, n_docs
       |FROM vocab CROSS JOIN refs
       |WHERE levenshtein(ref, token) <= 2""".stripMargin
  }

  /** J9 — SCD type-2 dimension history ([[graft.ops.Scd]]): the upsert
    * J3 covers is type-1 (overwrite); this is the warehouse form that
    * KEEPS history — a changed dimension value closes the current
    * version (`valid_to` = batch day) and opens a new one, so facts can
    * join the dimension as of their own date (j5's as-of join is the
    * read side). Three batches over the customer dimension: day 1 loads
    * every key, day 2 updates keys ≡0 (mod 7) to `bal+100`, day 3
    * updates keys ≡0 (mod 3) to `bal+500` — the mod-21 overlap produces
    * 3-version keys, proving CHAINED merges (close-then-close). The
    * oracle derives the closed-form version table per key directly from
    * the arithmetic, so the hash grades the merge's interval bookkeeping
    * exactly. Scale shape: each batch is one open-slice×batch key
    * equi-join + one anti-join; closed history unions through untouched
    * (append-only at 100 TB).
    */
  def scd2(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("key"),
        col("c_acctbal").cast("decimal(18,2)").as("value"))
    val day1 = c.select(col("key"), col("value"),
      lit(1).as("valid_from"), lit(graft.ops.Scd.OpenSentinel).as("valid_to"))
    val day2 = c.filter(col("key") % 7 === 0)
      .select(col("key"), (col("value") + 100).cast("decimal(18,2)").as("value"))
    val day3 = c.filter(col("key") % 3 === 0)
      .select(col("key"), (col("value") + 500).cast("decimal(18,2)").as("value"))
    // materialize between chained merges: the day-3 merge consumes the
    // day-2 state on several branches (open/closed filters, join, anti),
    // and without a checkpoint Catalyst re-evaluates the whole day-2
    // union-of-joins per branch — cost compounds with chain depth
    val afterDay2 = graft.ops.Scd.applyBatch(day1, day2, day = 2)
      .localCheckpoint()
    val merged = graft.ops.Scd.applyBatch(afterDay2, day3, day = 3)
    merged.select(col("key"), col("value").cast("double").as("value"),
      col("valid_from").cast("long").as("valid_from"),
      col("valid_to").cast("long").as("valid_to"))
  }

  val scd2Sql: String =
    """WITH c AS (SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,2)) AS b
      |           FROM customer),
      |v AS (
      |  SELECT k, b AS value, 1 AS vf,
      |         CASE WHEN k % 7 = 0 THEN 2 WHEN k % 3 = 0 THEN 3
      |              ELSE 99999999 END AS vt
      |  FROM c
      |  UNION ALL
      |  SELECT k, b + 100, 2,
      |         CASE WHEN k % 3 = 0 THEN 3 ELSE 99999999 END
      |  FROM c WHERE k % 7 = 0
      |  UNION ALL
      |  SELECT k, b + 500, 3, 99999999
      |  FROM c WHERE k % 3 = 0)
      |SELECT k AS key, CAST(value AS DOUBLE) AS value,
      |       CAST(vf AS BIGINT) AS valid_from, CAST(vt AS BIGINT) AS valid_to
      |FROM v""".stripMargin

  /** S18 — schema-evolution read (the lake reality that old files lack
    * new columns): half the events stage as a v1 layout WITHOUT
    * `event_type`, the other half as v2 WITH it, and one
    * `mergeSchema=true` parquet read unifies them — v1 rows surface the
    * missing column as NULL, bucketed here as `__legacy`. The oracle
    * derives the same buckets from the original table by the staging
    * split, so a mis-merged schema (column dropped, values misaligned,
    * NULLs in the wrong half) breaks the hash. Footer-merge cost is the
    * documented trade: production pins a table schema instead and pays
    * the merge only on evolution boundaries.
    */
  def schemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val stage = s"${TarQueries.StageDir}/s18_evo"
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    ev.filter(col("event_id") % 2 === 0)
      .drop("event_type") // the v1 era: the column does not exist yet
      .write.mode("overwrite").parquet(s"$stage/v1")
    ev.filter(col("event_id") % 2 =!= 0)
      .write.mode("overwrite").parquet(s"$stage/v2")
    spark.read.option("mergeSchema", "true").parquet(s"$stage/v1", s"$stage/v2")
      .groupBy(coalesce(col("event_type"), lit("__legacy")).as("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_id"), dsum(col("value")).as("sum_value"))
  }

  val schemaEvolutionSql: String =
    """SELECT CASE WHEN event_id % 2 = 0 THEN '__legacy' ELSE event_type END AS event_type,
      |       COUNT(*) AS n_events, MIN(event_id) AS min_id,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  /** S19 — small-file compaction ([[graft.ops.Compaction]]): events
    * staged as 64 deliberately-tiny shards (the accretion state every
    * streaming sink / incremental batch leaves behind), rewritten into
    * size-targeted `event_id`-range-clustered files, and graded by
    * aggregate equality against the ORIGINAL table — compaction must be
    * byte-lossless and duplicate-free, which a dropped or double-read
    * shard breaks immediately. The range-clustered layout doubles as
    * key-layout optimization (disjoint per-file `event_id` ranges ⇒
    * parquet min/max prunes at file level; pinned in `ScaleSpec`).
    */
  def compaction(spark: SparkSession, sfDir: String): DataFrame = {
    val stage = s"${TarQueries.StageDir}/s19"
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$stage/small")
    graft.ops.Compaction.compact(spark, s"$stage/small", s"$stage/compact",
      targetBytes = 4L << 20, sortCol = "event_id")
    spark.read.parquet(s"$stage/compact")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("sum_value"))
  }

  val compactionSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |       MIN(event_id) AS min_id, MAX(event_id) AS max_id,
      |       COUNT(DISTINCT user_id) AS n_users,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  /** S23 — Z-order compaction ([[graft.ops.Compaction.compactZOrder]]):
    * s19's rewrite with the Morton (user_id, event_id) interleave as the
    * range key, so every output file's parquet min/max stats bound BOTH
    * columns — the two-key pruning layout (OPTIMIZE ... ZORDER) that
    * single-key clustering cannot give. Graded like s19 by aggregate
    * equality against the ORIGINAL table (row loss/duplication in the
    * rewrite breaks the hash; min/max of both keys ride the output);
    * the layout property itself — per-file bounding boxes tight in both
    * dimensions, v. single-key's full-range second column — is pinned in
    * `ScaleSpec`.
    */
  def zorderCompaction(spark: SparkSession, sfDir: String): DataFrame = {
    val stage = s"${TarQueries.StageDir}/s23"
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$stage/small")
    graft.ops.Compaction.compactZOrder(spark, s"$stage/small", s"$stage/z",
      targetBytes = 4L << 20, colA = "user_id", colB = "event_id")
    spark.read.parquet(s"$stage/z")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
        dsum(col("value")).as("sum_value"))
  }

  val zorderCompactionSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |       MIN(user_id) AS min_user, MAX(user_id) AS max_user,
      |       MIN(event_id) AS min_id, MAX(event_id) AS max_id,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  /** S24 — dynamic partition overwrite, the lake write semantic every
    * partitioned backfill depends on: `INSERT OVERWRITE` in dynamic mode
    * replaces ONLY the partitions present in the incoming frame and
    * leaves every other partition untouched (static mode truncates the
    * whole table first — the classic lost-data backfill accident). The
    * events table stages partitioned by day, then the MINIMUM day is
    * overwritten with value+100 rows through a dynamic-mode write; the
    * graded per-day rollup proves both halves — the patched day carries
    * the new values AND the untouched days survived (a static-mode
    * truncation empties them, breaking the hash on row counts).
    * Shape: two partitioned writes + one partition-pruned read; the
    * patch write's cost is the patch's size, not the table's.
    */
  def dynamicPartitionOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    val stage = s"${TarQueries.StageDir}/s24/tbl"
    val DayUs = 86400000000L
    // one source scan: the projection materializes once and feeds the
    // stage write, the min-day probe and the patch (review r16: uncached
    // it re-scanned events three times)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"),
        expr(s"unix_micros(ts) div $DayUs").as("day"))
      .localCheckpoint()
    ev.write.mode("overwrite").partitionBy("day").parquet(stage)
    val d0 = ev.agg(min(col("day"))).collect()(0).getLong(0)
    val patch = ev.filter(col("day") === d0)
      .withColumn("value", col("value") + 100.0)
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      patch.write.mode("overwrite").partitionBy("day").parquet(stage)
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    spark.read.parquet(stage)
      .groupBy(col("day").cast("long").as("day"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
        dsum(col("value")).as("sum_value"))
  }

  val dynamicPartitionOverwriteSql: String =
    """WITH e AS (
      |  SELECT event_id, value, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |d0 AS (SELECT MIN(day) AS d0 FROM e)
      |SELECT day, COUNT(*) AS n_events,
      |       MIN(event_id) AS min_id, MAX(event_id) AS max_id,
      |       CAST(SUM(CAST(CASE WHEN day = (SELECT d0 FROM d0)
      |                          THEN value + 100.0 ELSE value END
      |                     AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM e GROUP BY 1""".stripMargin

  /** J10 — snapshot diff (CDC derivation): given two versions of a keyed
    * table, emit the insert/update/delete change set — the feed every
    * incremental downstream (q11's refresh, a replication stream, an
    * audit log) consumes when the source system offers only full
    * snapshots. Two deterministic snapshots derive from events
    * (v1 drops `event_id % 7 = 0`; v2 drops `% 3 = 0` and bumps value by
    * 1 where `% 5 = 0`), so all three change kinds are non-vacuously
    * present and BOTH engines can derive the versions without staging.
    * Unchanged rows are EXCLUDED (the point of a diff: output scales
    * with the change volume, not the table). Shape: one full-outer hash
    * equi-join on the key — the classify step is a projection; at lake
    * scale both sides bucket on the key and the join is co-located.
    */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("value"))
    // presence flags, NOT value nullness, decide I/D (review r16: a
    // NULL-valued row present in both snapshots must not classify as an
    // insert — the oracle keys presence on the join side's key column)
    val v1 = ev.filter(col("event_id") % 7 =!= 0)
      .select(col("event_id"), col("value").as("old_value"),
        lit(true).as("in_v1"))
    val v2 = ev.filter(col("event_id") % 3 =!= 0)
      .select(col("event_id"),
        when(col("event_id") % 5 === 0, col("value") + 1.0)
          .otherwise(col("value")).as("new_value"),
        lit(true).as("in_v2"))
    v1.join(v2, Seq("event_id"), "full_outer")
      .withColumn("change",
        when(col("in_v1").isNull, lit("I"))
          .when(col("in_v2").isNull, lit("D"))
          .when(col("old_value") =!= col("new_value"), lit("U")))
      .filter(col("change").isNotNull)
      .select("event_id", "change", "old_value", "new_value")
  }

  val snapshotDiffSql: String =
    """WITH v1 AS (SELECT event_id, value AS old_value FROM events
      |            WHERE event_id % 7 != 0),
      |v2 AS (SELECT event_id,
      |              CASE WHEN event_id % 5 = 0 THEN value + 1.0 ELSE value END AS new_value
      |       FROM events WHERE event_id % 3 != 0)
      |SELECT COALESCE(v1.event_id, v2.event_id) AS event_id,
      |       CASE WHEN v1.event_id IS NULL THEN 'I'
      |            WHEN v2.event_id IS NULL THEN 'D'
      |            WHEN old_value != new_value THEN 'U' END AS change,
      |       old_value, new_value
      |FROM v1 FULL OUTER JOIN v2 ON v1.event_id = v2.event_id
      |WHERE (v1.event_id IS NULL OR v2.event_id IS NULL
      |       OR old_value != new_value)""".stripMargin

  /** W6 — cumulative unique users per day (the DAU/cumulative-uniques
    * dashboard query): naive running COUNT(DISTINCT) over an expanding
    * window re-deduplicates the whole prefix at every step — quadratic
    * state, the known scale trap. The scalable form: each user's
    * FIRST-SEEN day (one hash aggregation), daily first-seen counts, and
    * one tiny running sum over the ≤ #days rows. Integer-only output.
    */
  def cumulativeUniques(spark: SparkSession, sfDir: String): DataFrame = {
    val DayUs = 86400000000L
    val firstSeen = Tables.events(spark, sfDir)
      .select(col("user_id"), (unix_micros(col("ts")).cast("long")).as("us"))
      .withColumn("day", expr(s"us div $DayUs"))
      .groupBy("user_id").agg(min("day").as("day"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the running sum's single partition holds <= #days rows — O(1) at
    // any corpus scale (the h1/h2 bounded-tail argument)
    firstSeen.groupBy("day").agg(count(lit(1)).as("n_new"))
      .withColumn("cum_users", sum("n_new").over(w).cast("long"))
  }

  val cumulativeUniquesSql: String =
    """WITH fs AS (
      |  SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS day
      |  FROM events GROUP BY 1),
      |d AS (SELECT day, COUNT(*) AS n_new FROM fs GROUP BY 1)
      |SELECT day, n_new,
      |       CAST(SUM(n_new) OVER (ORDER BY day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      |FROM d""".stripMargin

  /** W3 — sliding-window counts (1-hour windows every 30 minutes): the
    * overlapping-window shape trend dashboards smooth with. Each event
    * lands in exactly windowDuration/slideDuration = 2 epoch-aligned
    * windows; the oracle materializes both membership rows per event and
    * re-aggregates, so alignment or membership drift breaks the hash.
    * Same `window()` operator streaming uses — this is the batch/backfill
    * path of st4's machinery with a slide.
    */
  def slidingCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("window.start")).as("win_us"), col("event_type"),
        col("n_events"))

  val slidingCountsSql: String =
    """WITH w AS (
      |  SELECT (epoch_us(ts) // 1800000000) * 1800000000 AS s1, event_type
      |  FROM events),
      |b AS (
      |  SELECT s1 AS win_us, event_type FROM w
      |  UNION ALL
      |  SELECT s1 - 1800000000 AS win_us, event_type FROM w)
      |SELECT win_us, event_type, COUNT(*) AS n_events FROM b GROUP BY 1, 2""".stripMargin

  /** S15 — malformed-record accounting: a text delivery with planted
    * corrupt lines (every 50th event's JSON truncated) parsed in
    * PERMISSIVE mode with a corrupt-record column — the posture for dirty
    * 100 TB deliveries, where FAILFAST kills a day's job on one bad line
    * and DROPMALFORMED silently loses data. Good rows aggregate per type;
    * corrupt rows surface as one counted `__corrupt` bucket. The oracle
    * derives both from the ORIGINAL parquet (corruption is planted by
    * event_id), so rows mis-routed between buckets in either direction
    * break the hash.
    */
  def malformedJson(spark: SparkSession, sfDir: String): DataFrame = {
    val stage = s"${TarQueries.StageDir}/s15_dirty_jsonl"
    val ev = Tables.events(spark, sfDir)
    ev.select(when(col("event_id") % 50 === 0,
        concat(lit("{\"broken\": "), col("event_id")))       // unterminated JSON
      .otherwise(to_json(struct(col("event_id"), col("user_id"),
        col("event_type"), col("value")))).as("value"))
      .write.mode("overwrite").text(stage)
    spark.read
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, _bad STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(stage)
      .groupBy(coalesce(col("event_type"), lit("__corrupt")).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), count(col("_bad")).as("n_bad"))
  }

  val malformedJsonSql: String =
    """SELECT CASE WHEN event_id % 50 = 0 THEN '__corrupt' ELSE event_type END AS bucket,
      |       COUNT(*) AS n_rows,
      |       COUNT(*) FILTER (event_id % 50 = 0) AS n_bad
      |FROM events GROUP BY 1""".stripMargin

  /** Stages the partitioned events layout at [[PartitionPruneDir]], shared
    * by q9 and q10 (staging the identical layout twice doubled the
    * full-corpus partitioned write per bench run).
    */
  private def ensurePartitionedEvents(spark: SparkSession, sfDir: String): Unit =
    Staged("q9_events_p", sfDir, Seq(PartitionPruneDir)) {
      graft.ops.Scale.writePartitioned(
        Tables.events(spark, sfDir)
          .select(col("event_type"), col("user_id"), col("value")),
        PartitionPruneDir, "event_type")
    }

  /** Q9 — partitioned write → pruned scan ([[graft.ops.Scale.writePartitioned]]):
    * events staged into one directory per event_type, read back with a
    * partition-column filter that must prune at planning time (directory
    * skip, `PartitionFilters` — pinned in `PlanSpec`), then aggregated.
    * The oracle computes the same aggregate over the original parquet, so
    * a partition dropped on write, mis-assigned rows, or a filter that
    * silently became a row filter over the full scan all break the hash.
    */
  def partitionPrune(spark: SparkSession, sfDir: String): DataFrame = {
    ensurePartitionedEvents(spark, sfDir)
    partitionPruneRead(spark)
  }

  /** Staging path + read half of Q9 (the `PlanSpec` pin target). */
  val PartitionPruneDir: String = s"${TarQueries.StageDir}/q9_events_p"

  def partitionPruneRead(spark: SparkSession): DataFrame =
    spark.read.parquet(PartitionPruneDir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))

  val partitionPruneSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1""".stripMargin

  /** Q10 — dynamic partition pruning (DPP): the partition predicate is
    * only known at RUNTIME — the fact's `event_type` partitions are
    * selected by a dim-side filter on a DIFFERENT column (`category =
    * 'conv'`), so static pruning can't fire and the optimizer must inject
    * a `dynamicpruning` subquery into the partitioned scan (reusing the
    * dim's broadcast). At 100 TB this is the difference between scanning
    * 2 of N partitions and scanning the whole fact before the join drops
    * the rows; `PlanSpec` pins the pruning expression in the scan.
    */
  def dppJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    ensurePartitionedEvents(spark, sfDir)
    // the dim must be a REAL datasource: a LocalRelation dim gets its
    // filter constant-folded away (ConvertToLocalRelation) before the
    // PartitionPruning rule looks for a selective filter, and DPP never
    // fires — exactly what happens with literal test dims but never with
    // production dim tables
    Seq(("click", "browse"), ("view", "browse"),
      ("purchase", "conv"), ("signup", "conv"), ("error", "ops"))
      .toDF("event_type", "category")
      .write.mode("overwrite").parquet(DppDimDir)
    dppJoinRead(spark)
  }

  /** Staging path for Q10's category dim. */
  val DppDimDir: String = s"${TarQueries.StageDir}/q10_dim"

  /** Read half of Q10 over [[PartitionPruneDir]] (the `PlanSpec` target). */
  def dppJoinRead(spark: SparkSession): DataFrame =
    spark.read.parquet(PartitionPruneDir)
      .join(spark.read.parquet(DppDimDir).filter(col("category") === "conv"),
        Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))

  val dppJoinSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_type IN ('purchase', 'signup') GROUP BY 1""".stripMargin

  /** Q11 — incremental aggregate maintenance (the materialized-view /
    * lakehouse delta-refresh shape, and n7's daily-ingest idea applied to
    * aggregates): the BASE aggregate (events with `event_id % 10 != 7`,
    * grouped by type × day) stages to parquet once; the "daily" DELTA
    * (`% 10 == 7`) aggregates separately — delta-sized work — and merges
    * by key-summing the two states. COUNT and SUM are self-mergeable
    * aggregates, so merge ≡ recompute EXACTLY; the oracle is the full
    * recompute over ALL events, making the hash match the
    * refresh-equals-rebuild guarantee. At 100 TB the base never rescans:
    * the nightly job costs |delta| + |aggregate state|.
    */
  def incrAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val stage = s"${TarQueries.StageDir}/q11_base_agg"
    def aggOf(df: DataFrame): DataFrame = df
      .groupBy(col("event_type"), date_format(col("ts"), "yyyyMMdd").as("day"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).as("val_sum"))
    val ev = Tables.events(spark, sfDir)
    aggOf(ev.filter(col("event_id") % 10 =!= 7))
      .write.mode("overwrite").parquet(stage)
    // THE refresh: aggregate only the delta, merge states by key
    spark.read.parquet(stage)
      .unionByName(aggOf(ev.filter(col("event_id") % 10 === 7)))
      .groupBy("event_type", "day")
      .agg(sum("cnt").cast("long").as("cnt"),
        sum("val_sum").cast("double").as("val_sum"))
  }

  val incrAggSql: String =
    """SELECT event_type, strftime(ts, '%Y%m%d') AS day, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
      |FROM events GROUP BY 1, 2""".stripMargin

  /** O3 — pivot: per-day event counts widened to one column per event
    * type (explicit value list so both engines emit identical column
    * names; count coalesced to 0 so sparse days match the SUM-CASE oracle).
    */
  def pivotCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables.events(spark, sfDir)
      .withColumn("day", date_format(col("ts"), "yyyyMMdd"))
      .groupBy("day").pivot("event_type", types).count()
    types.foldLeft(p)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
  }

  val pivotCountsSql: String =
    """SELECT strftime(ts, '%Y%m%d') AS day,
      |  COUNT(*) FILTER (event_type = 'click') AS click,
      |  COUNT(*) FILTER (event_type = 'error') AS error,
      |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (event_type = 'view') AS view
      |FROM events GROUP BY 1""".stripMargin

  /** O4 — cube: all grouping-set combinations over two dimensions with
    * exact decimal sums.
    */
  def cubeAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(dsum(col("o_totalprice")).as("sum_price"), count(lit(1)).as("n"))

  val cubeAggSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  /** Q5 — correlated scalar subquery (Catalyst decorrelation): customers
    * whose balance exceeds their nation's average (exact decimal avg so the
    * comparison is engine-deterministic).
    */
  def decorrelated(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer_v")
    spark.sql(
      """SELECT c_custkey FROM customer_v c
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) >
        |      (SELECT AVG(CAST(c2.c_acctbal AS DECIMAL(18,2)))
        |       FROM customer_v c2 WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin)
  }

  val decorrelatedSql: String =
    """SELECT c_custkey FROM customer c
      |WHERE CAST(c_acctbal AS DECIMAL(18,2)) >
      |      (SELECT AVG(CAST(c2.c_acctbal AS DECIMAL(18,2)))
      |       FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin

  /** ST2 — gap-based sessionization (6-hour gap) through the SAME
    * `session_window` code the streaming path uses (batch = backfill);
    * the oracle rebuilds sessions with lag + cumulative-sum islands.
    * Session start is exported as epoch µs so timezone rendering cannot
    * skew the hash.
    */
  def sessions(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventSessions.sessionize(
      Tables.events(spark, sfDir).select(col("user_id"), col("ts"), col("value")),
      gap = "6 hours")
      .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
        col("n_events"), col("total_value"))

  val sessionsSql: String =
    """WITH d AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                   OR ts - lag(ts) OVER w >= INTERVAL 6 HOUR
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |                             ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM d)
      |SELECT user_id, epoch_us(MIN(ts)) AS start_us, COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM s GROUP BY user_id, sid""".stripMargin

  /** ST7 — WATERMARKED streaming dedup
    * ([[graft.streaming.EventSessions.dedupStream]] →
    * `dropDuplicatesWithinWatermark`): the state-bounded production form
    * of st3 — st3's plain `dropDuplicates` holds every key forever, the
    * right semantics for a bounded drain; a continuously running ingest
    * caps state at the watermark horizon instead. Full-row copies of
    * every 20th event land in a LATER file than their originals, so the
    * drain must carry keyed state across micro-batches; the delay spans
    * the whole event range, so nothing evicts mid-drain and the result
    * is deterministically the distinct event set (copies are identical
    * rows, so whichever arrival survives, the output bytes match). The
    * horizon EVICTION behavior — a late duplicate surviving after its
    * original aged out — is pinned in `SessionsSpec`, where the oracle
    * can't reach.
    */
  def streamWmDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"${TarQueries.StageDir}/st7_dedup.parquet"
    graft.io.FsOps.deletePrefix(spark, out)
    val stream = Arrivals("st7_src", sfDir) {
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("ts"))
      // one base file (all originals), one copies file: the graded
      // property is planted duplicates arriving in a LATER micro-batch
      // than their originals, which two batches already exercise — the
      // previous 2+1+1 layout paid two extra RocksDB micro-batches for
      // the same proof (the st18/r20 trim; guide §1)
      Seq(ev, ev.filter(col("event_id") % 20 === 0))
    }
    Arrivals.scratch { ckpt =>
      graft.streaming.EventSessions.drainDedup(stream, Seq("event_id"),
        delay = "3650 days", outDir = out, checkpointDir = ckpt,
        // keyspace-sized: every event_id is a live dedup key until its
        // watermark horizon passes; the memoized base count is the octave
        stateKeys = Some(Tables.rowCount(spark, sfDir, "events")))
    }
    spark.read.parquet(out)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
  }

  val streamWmDedupSql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS us FROM events""".stripMargin

  /** A8 — distribution-drift report (the train/serve-skew check an ML
    * deployment runs between a reference window and a serving window):
    * fixed-width value histogram (`floor(value/10)` — floor of the same
    * IEEE division is bit-identical cross-engine; never cast/round, whose
    * tie rules differ) with per-bucket counts and integer-ppm shares for
    * the first-half vs second-half event windows. The downstream PSI/KS
    * statistic is a trivial fold over these integer cells — the report
    * keeps everything exact so the grade can hash it. ONE scan, one
    * bucket-keyed aggregate; the ppm denominators ride a global window
    * over the bucket-sized aggregate, never a second pass over events.
    */
  def histogramDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy()
    Tables.events(spark, sfDir)
      // NaN and ±Infinity are excluded EXPLICITLY: Spark's long cast folds
      // floor(NaN) to 0 (silently polluting bucket 0) and saturates
      // Infinity to Long.MaxValue, while DuckDB errors both casts —
      // neither is a drift report (reviews r18/r19)
      .filter(!isnan(col("value")) &&
        abs(col("value")) =!= lit(Double.PositiveInfinity))
      .select(floor(col("value") / 10).cast("long").as("bucket"),
        (to_date(col("ts")) < lit("2024-01-16").cast("date")).as("ref"))
      .groupBy("bucket")
      .agg(sum(when(col("ref"), 1L).otherwise(0L)).as("cnt_ref"),
        sum(when(!col("ref"), 1L).otherwise(0L)).as("cnt_cur"))
      .withColumn("tot_ref", sum(col("cnt_ref")).over(w))
      .withColumn("tot_cur", sum(col("cnt_cur")).over(w))
      // nullif: an empty window must yield NULL ppm in BOTH engines, not
      // a DuckDB division-by-zero abort vs a Spark NULL (review r18)
      .withColumn("ppm_ref", expr("(1000000 * cnt_ref) div nullif(tot_ref, 0L)"))
      .withColumn("ppm_cur", expr("(1000000 * cnt_cur) div nullif(tot_cur, 0L)"))
      .drop("tot_ref", "tot_cur")
  }

  val histogramDriftSql: String =
    """WITH h AS (
      |  SELECT CAST(FLOOR(value / 10) AS BIGINT) AS bucket,
      |    COUNT(*) FILTER (WHERE CAST(ts AS DATE) < DATE '2024-01-16') AS cnt_ref,
      |    COUNT(*) FILTER (WHERE CAST(ts AS DATE) >= DATE '2024-01-16') AS cnt_cur
      |  FROM events WHERE isfinite(value) GROUP BY 1)
      |SELECT bucket, cnt_ref, cnt_cur,
      |  CAST((1000000 * cnt_ref) // NULLIF((SELECT SUM(cnt_ref) FROM h), 0) AS BIGINT) AS ppm_ref,
      |  CAST((1000000 * cnt_cur) // NULLIF((SELECT SUM(cnt_cur) FROM h), 0) AS BIGINT) AS ppm_cur
      |FROM h""".stripMargin

  /** W10 — retention cohorts (the product-analytics matrix): users
    * cohorted by their FIRST purchase day, then for each (cohort,
    * day-offset) cell the count of cohort members active on that day.
    * Two aggregations + one join, all on `user_id`/`day` keys — the
    * distinct-activity aggregate and the cohort table partition the same
    * way, and the final cell count needs no count-distinct (activity is
    * already (user, day)-unique and cohort is functional on user). All
    * integer day arithmetic, both engines anchored to 2024-01-01.
    */
  def retentionCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    // NULL user_id is excluded EXPLICITLY on both sides: the Spark window
    // would pool all null users into one pseudo-user while a SQL join
    // oracle drops them (NULL never equals NULL) — the same null-key
    // divergence class the j11 review caught (review r18)
    val activity = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
      .select(col("user_id"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("day"))
      .distinct()
    // cohort as a per-user window MIN over the distinct activity, not a
    // separate aggregate + join: ONE scan of events instead of two and no
    // join (the window does add its own user_id exchange after the
    // distinct's (user_id, day) one — two exchanges total, still cheaper
    // than the two-scan + aggregate + join shape)
    activity
      .withColumn("cohort",
        min(col("day")).over(Window.partitionBy("user_id")))
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("day_offset"))
      .agg(count(lit(1)).as("users"))
  }

  val retentionCohortsSql: String =
    """WITH p AS (SELECT user_id,
      |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
      |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
      |f AS (SELECT user_id, MIN(day) AS cohort FROM p GROUP BY 1),
      |act AS (SELECT DISTINCT user_id, day FROM p)
      |SELECT f.cohort, act.day - f.cohort AS day_offset, COUNT(*) AS users
      |FROM act JOIN f USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  /** Q13 — GROUPING SETS (the general form o2's rollup and o4's cube are
    * shorthands of): exactly the three requested granularities — (flag,
    * status), (flag), () — computed in ONE pass via Expand, with
    * `grouping_id` disambiguating a grouped-out NULL from a data NULL.
    * Same engine treatment as rollup/cube: no per-set re-scan, one
    * shuffle.
    */
  def groupingSetsQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
        dsum(col("l_quantity")).as("sum_qty"))

  val groupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       GROUPING(l_returnflag, l_linestatus) AS gid, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |                        (l_returnflag), ())""".stripMargin

  /** W9 — strict-order funnel (view → click within 24h → purchase within
    * 24h of the click), the product-analytics sequence query. ONE
    * exchange on `user_id` then three stacked window aggregates compute
    * the per-user step timestamps (each step's conditional MIN references
    * the previous step's — constant per user, so the windows compose
    * without re-shuffling); a user-level collapse + stack emits the
    * step counts. The oracle states the same funnel as three dependent
    * rollups. At 100 TB this is the shape you want: no self-joins of the
    * event table against itself, one shuffle total, drop-off computed in
    * the window operator chain.
    */
  def funnelSteps(spark: SparkSession, sfDir: String): DataFrame = {
    val winUs = 86400000000L // 24h in µs
    val w = Window.partitionBy("user_id")
    // NULL user_ids are excluded on BOTH sides: the window would pool them
    // into one pseudo-user while the oracle's equi-join drops them.
    val perUser = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("fv",
        min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("fc",
        min(when(col("event_type") === "click" &&
          col("us") > col("fv") && col("us") <= col("fv") + winUs, col("us"))).over(w))
      .withColumn("fp",
        min(when(col("event_type") === "purchase" &&
          col("us") > col("fc") && col("us") <= col("fc") + winUs, col("us"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("fv")).as("fv"), max(col("fc")).as("fc"), max(col("fp")).as("fp"))
    perUser.agg(
      count(col("fv")).as("n_view"),
      count(col("fc")).as("n_click"),
      count(col("fp")).as("n_purchase"))
      .selectExpr(
        """stack(3,
          |'1_view', n_view,
          |'2_click', n_click,
          |'3_purchase', n_purchase) AS (step, users)""".stripMargin)
  }

  val funnelStepsSql: String =
    """WITH f AS (SELECT user_id,
      |    MIN(CASE WHEN event_type='view' THEN epoch_us(ts) END) AS fv
      |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS fc
      |  FROM events e JOIN f ON e.user_id = f.user_id
      |  WHERE e.event_type='click' AND epoch_us(e.ts) > f.fv
      |    AND epoch_us(e.ts) <= f.fv + 86400000000 GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS fp
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type='purchase' AND epoch_us(e.ts) > c.fc
      |    AND epoch_us(e.ts) <= c.fc + 86400000000 GROUP BY 1)
      |SELECT '1_view' AS step, COUNT(*) AS users FROM f WHERE fv IS NOT NULL
      |UNION ALL SELECT '2_click', COUNT(*) FROM c
      |UNION ALL SELECT '3_purchase', COUNT(*) FROM p""".stripMargin

  /** G1 — PageRank centrality ([[graft.ops.Graph]]) over the
    * customer–supplier interaction graph (distinct trade pairs via
    * lineitem⋈orders, symmetrized), 3 damped rounds in fixed-point
    * integer arithmetic — bit-exact on any partitioning, so the DuckDB
    * twin (the same three rounds unrolled as CTEs) hashes identically.
    * Node ids are namespaced (customer 2k, supplier 2k+1) and decoded
    * back to (node_type, key) on output.
    */
  def pageRankQ(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    // symmetrize with inline(), not unionAll: a union duplicates the pairs
    // subtree in the physical plan, so the lineitem⋈orders→distinct pass ran
    // TWICE per edge build (JobProf r22: two concurrent ~0.5 s jobs)
    val edges = pairs.selectExpr(
      "inline(array(struct(a AS src, b AS dst), struct(b AS src, a AS dst)))")
    graft.ops.Graph.pageRank(edges, iters = 3)
      .select(
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("node_type"),
        expr("node div 2").as("key"), col("r").as("pr"))
  }

  val pageRankSql: String =
    """WITH pairs AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
      |               FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (SELECT a AS src, b AS dst FROM pairs
      |          UNION ALL SELECT b, a FROM pairs),
      |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
      |r0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS r FROM deg),
      |r1 AS (SELECT e.dst AS node,
      |              CAST(150000000 + (85 * SUM(r0.r // g.d)) // 100 AS BIGINT) AS r
      |       FROM edges e JOIN deg g ON e.src = g.src
      |       JOIN r0 ON r0.node = e.src GROUP BY 1),
      |r2 AS (SELECT e.dst AS node,
      |              CAST(150000000 + (85 * SUM(r1.r // g.d)) // 100 AS BIGINT) AS r
      |       FROM edges e JOIN deg g ON e.src = g.src
      |       JOIN r1 ON r1.node = e.src GROUP BY 1),
      |r3 AS (SELECT e.dst AS node,
      |              CAST(150000000 + (85 * SUM(r2.r // g.d)) // 100 AS BIGINT) AS r
      |       FROM edges e JOIN deg g ON e.src = g.src
      |       JOIN r2 ON r2.node = e.src GROUP BY 1)
      |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
      |       node // 2 AS key, r AS pr FROM r3""".stripMargin

  /** G2 — HITS hubs/authorities ([[graft.ops.Graph.hits]]): 2 full
    * rounds over the DIRECTED customer→supplier trade graph (the
    * bipartite shape HITS was built for — who are the biggest buyers,
    * who the most-bought-from suppliers). All integer fixed-point with
    * per-round L1 normalization, so the oracle (the same two rounds
    * unrolled as CTEs) hashes identically.
    */
  def hitsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    graft.ops.Graph.hits(edges, iters = 2)
      .select(col("role"), expr("node div 2").as("key"), col("score"))
  }

  val hitsSql: String =
    """WITH edges AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
      |               FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |h0 AS (SELECT DISTINCT src AS node, CAST(1000000000 AS BIGINT) AS h FROM edges),
      |a1r AS (SELECT e.dst AS node, SUM(h0.h) AS raw
      |        FROM edges e JOIN h0 ON h0.node = e.src GROUP BY 1),
      |a1 AS (SELECT node, CAST(raw // NULLIF((SELECT SUM(raw) FROM a1r) // 1000000000, 0) AS BIGINT) AS a FROM a1r),
      |h1r AS (SELECT e.src AS node, SUM(a1.a) AS raw
      |        FROM edges e JOIN a1 ON a1.node = e.dst GROUP BY 1),
      |h1 AS (SELECT node, CAST(raw // NULLIF((SELECT SUM(raw) FROM h1r) // 1000000000, 0) AS BIGINT) AS h FROM h1r),
      |a2r AS (SELECT e.dst AS node, SUM(h1.h) AS raw
      |        FROM edges e JOIN h1 ON h1.node = e.src GROUP BY 1),
      |a2 AS (SELECT node, CAST(raw // NULLIF((SELECT SUM(raw) FROM a2r) // 1000000000, 0) AS BIGINT) AS a FROM a2r),
      |h2r AS (SELECT e.src AS node, SUM(a2.a) AS raw
      |        FROM edges e JOIN a2 ON a2.node = e.dst GROUP BY 1),
      |h2 AS (SELECT node, CAST(raw // NULLIF((SELECT SUM(raw) FROM h2r) // 1000000000, 0) AS BIGINT) AS h FROM h2r)
      |SELECT 'hub' AS role, node // 2 AS key, h AS score FROM h2
      |UNION ALL
      |SELECT 'authority', node // 2, a FROM a2""".stripMargin

  /** J11 — MERGE INTO ([[graft.ops.Merge]]): the 1995 order rollup merged
    * into the customer balance table. Matched customers with ≥4 orders in
    * the year churn out (DELETE); other matched customers get their
    * balance incremented by the year's spend (UPDATE); rollup keys absent
    * from the target (the +10M offset synthesizes a late-registered
    * cohort) INSERT as segment 'NEW'; untouched customers pass through.
    * All arithmetic is exact decimal presented as double (the dsum
    * treatment), all four MERGE branches are non-vacuous at sf0.01
    * (105 deleted / 1069 updated / 31 inserted / 326 kept).
    */
  def mergeIntoQ(spark: SparkSession, sfDir: String): DataFrame = {
    val target = Tables.customer(spark, sfDir).select(
      col("c_custkey").as("custkey"),
      col("c_acctbal").cast("decimal(18,2)").as("acctbal"),
      col("c_mktsegment").as("segment"))
    val roll = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("tot"))
    val source = roll.unionAll(
      roll.filter(col("custkey") % 37 === 0)
        .withColumn("custkey", col("custkey") + lit(10000000L)))
    graft.ops.Merge.mergeInto(target, source, Seq("custkey"),
      deleteWhen = col("cnt") >= 4,
      updateSet = Map("acctbal" -> (col("acctbal") + col("tot")).cast("decimal(18,2)")),
      insertSet = Map("acctbal" -> col("tot").cast("decimal(18,2)"),
        "segment" -> lit("NEW")))
      .select(col("custkey"), col("acctbal").cast("double").as("acctbal"),
        col("segment"))
  }

  val mergeIntoSql: String =
    """WITH roll AS (
      |  SELECT o_custkey AS k, COUNT(*) AS cnt,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tot
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      |    AND o_orderdate < TIMESTAMP '1996-01-01'
      |  GROUP BY 1),
      |src AS (SELECT k, cnt, tot FROM roll
      |        UNION ALL
      |        SELECT k + 10000000, cnt, tot FROM roll WHERE k % 37 = 0),
      |t AS (SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
      |             c_mktsegment AS seg, 1 AS tf FROM customer),
      |s AS (SELECT k, cnt, tot, 1 AS sf FROM src)
      |SELECT COALESCE(t.k, s.k) AS custkey,
      |  CAST(CASE WHEN t.tf IS NULL THEN CAST(s.tot AS DECIMAL(18,2))
      |            WHEN s.sf IS NOT NULL THEN CAST(t.bal + s.tot AS DECIMAL(18,2))
      |            ELSE t.bal END AS DOUBLE) AS acctbal,
      |  CASE WHEN t.tf IS NULL THEN 'NEW' ELSE t.seg END AS segment
      |FROM t FULL OUTER JOIN s ON t.k = s.k
      |WHERE NOT (t.tf IS NOT NULL AND s.sf IS NOT NULL AND s.cnt >= 4)""".stripMargin

  /** A7 — one-pass exact column profiling (the ANALYZE-TABLE role a
    * curation pipeline runs before planning a training mix): per column of
    * `documents`, row count, non-null count, exact distinct count, and a
    * numeric min/max (the value itself for numeric columns, the byte
    * length for strings — byte length because character semantics differ
    * across engines for non-ASCII text, bytes do not).
    *
    * ONE aggregate over ONE scan: Spark plans the multi-`count_distinct`
    * agg as a single Expand + partial/final aggregate pair — one shuffle,
    * no per-column re-scan (the naive ANALYZE loop would read the table
    * once per column). Everything is integer-exact; at 100 TB the same
    * shape holds (Expand multiplies rows ×5 map-side but each branch
    * carries one column, and the partial aggregate collapses before the
    * exchange). The approximate twin for interactive use is `a5`.
    */
  def dataProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val blen = (c: Column) => octet_length(c).cast("long")
    val a = d.agg(
      count(lit(1)).as("n"),
      count(col("doc_id")).as("id_nn"), countDistinct(col("doc_id")).as("id_nd"),
      min(col("doc_id")).as("id_min"), max(col("doc_id")).as("id_max"),
      count(col("lang")).as("lang_nn"), countDistinct(col("lang")).as("lang_nd"),
      min(blen(col("lang"))).as("lang_min"), max(blen(col("lang"))).as("lang_max"),
      count(col("source")).as("src_nn"), countDistinct(col("source")).as("src_nd"),
      min(blen(col("source"))).as("src_min"), max(blen(col("source"))).as("src_max"),
      count(col("n_chars")).as("nc_nn"), countDistinct(col("n_chars")).as("nc_nd"),
      min(col("n_chars")).as("nc_min"), max(col("n_chars")).as("nc_max"),
      count(col("text")).as("txt_nn"), countDistinct(col("text")).as("txt_nd"),
      min(blen(col("text"))).as("txt_min"), max(blen(col("text"))).as("txt_max"))
    a.selectExpr(
      """stack(5,
        |'doc_id',  n, id_nn,   id_nd,   id_min,   id_max,
        |'lang',    n, lang_nn, lang_nd, lang_min, lang_max,
        |'source',  n, src_nn,  src_nd,  src_min,  src_max,
        |'n_chars', n, nc_nn,   nc_nd,   nc_min,   nc_max,
        |'text',    n, txt_nn,  txt_nd,  txt_min,  txt_max)
        |AS (col_name, n_rows, non_null, n_distinct, min_val, max_val)
        |""".stripMargin)
  }

  val dataProfileSql: String =
    """WITH s AS (SELECT COUNT(*) AS n,
      |  COUNT(doc_id) AS id_nn, COUNT(DISTINCT doc_id) AS id_nd,
      |  MIN(doc_id) AS id_min, MAX(doc_id) AS id_max,
      |  COUNT(lang) AS lang_nn, COUNT(DISTINCT lang) AS lang_nd,
      |  MIN(strlen(lang)) AS lang_min, MAX(strlen(lang)) AS lang_max,
      |  COUNT(source) AS src_nn, COUNT(DISTINCT source) AS src_nd,
      |  MIN(strlen(source)) AS src_min, MAX(strlen(source)) AS src_max,
      |  COUNT(n_chars) AS nc_nn, COUNT(DISTINCT n_chars) AS nc_nd,
      |  MIN(n_chars) AS nc_min, MAX(n_chars) AS nc_max,
      |  COUNT(text) AS txt_nn, COUNT(DISTINCT text) AS txt_nd,
      |  MIN(strlen(text)) AS txt_min, MAX(strlen(text)) AS txt_max
      |FROM documents)
      |SELECT 'doc_id' AS col_name, n AS n_rows, id_nn AS non_null, id_nd AS n_distinct, id_min AS min_val, id_max AS max_val FROM s
      |UNION ALL SELECT 'lang', n, lang_nn, lang_nd, lang_min, lang_max FROM s
      |UNION ALL SELECT 'source', n, src_nn, src_nd, src_min, src_max FROM s
      |UNION ALL SELECT 'n_chars', n, nc_nn, nc_nd, nc_min, nc_max FROM s
      |UNION ALL SELECT 'text', n, txt_nn, txt_nd, txt_min, txt_max FROM s""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a1_counters" -> counters,
    "a7_data_profile" -> dataProfile,
    "j11_merge_into" -> mergeIntoQ,
    "g1_pagerank" -> pageRankQ,
    "g2_hits" -> hitsQ,
    "w9_funnel_steps" -> funnelSteps,
    "q13_grouping_sets" -> groupingSetsQ,
    "w10_retention_cohorts" -> retentionCohorts,
    "a8_histogram_drift" -> histogramDrift,
    "st7_stream_wm_dedup" -> streamWmDedup,
    "a2_distinct" -> distinctPairs,
    "a3_table_counts" -> tableCounts,
    "j1_semi_join" -> semiJoin,
    "j2_anti_join" -> antiJoin,
    "j3_upsert" -> upsert,
    "j4_symdiff" -> symDiff,
    "w1_latest_per_user" -> latestPerUser,
    "o1_topk" -> topK,
    "u1_setops" -> setOps,
    "u2_setops_all" -> setOpsAll,
    "q1_agg" -> q1Agg,
    "q3_join_agg" -> q3JoinAgg,
    "s1_prefix_scan" -> prefixScan,
    "o2_rollup" -> rollupAgg,
    "w2_running" -> runningTotals,
    "st2_sessionize" -> sessions,
    "a4_percentiles" -> percentiles,
    "a4b_percentiles_approx" -> percentilesApprox,
    "o3_pivot" -> pivotCounts,
    "o4_cube" -> cubeAgg,
    "q5_decorrelated" -> decorrelated,
    "q6_salted_agg" -> saltedAgg,
    "a5_distinct_approx" -> distinctApprox,
    "a6_heavy_tokens" -> heavyTokens,
    "q7_heavy_hitters" -> heavyHittersQ,
    "q8_bucketed_join" -> bucketedJoin,
    "q9_partition_prune" -> partitionPrune,
    "q10_dpp_join" -> dppJoin,
    "q11_incr_agg" -> incrAgg,
    "s14_jsonl_scan" -> jsonlScan,
    "s17_orc_scan" -> orcScan,
    "s18_schema_evolution" -> schemaEvolution,
    "s19_compaction" -> compaction,
    "s23_zorder_compaction" -> zorderCompaction,
    "s24_dynamic_partition_overwrite" -> dynamicPartitionOverwrite,
    "j8_fuzzy_match" -> fuzzyMatch,
    "j9_scd2" -> scd2,
    "j10_snapshot_diff" -> snapshotDiff,
    "w6_cumulative_uniques" -> cumulativeUniques,
    "s15_malformed_json" -> malformedJson,
    "w3_sliding_window" -> slidingCounts
  )

  def oracleSql: Map[String, String] = Map(
    "a1_counters" -> countersSql,
    "a7_data_profile" -> dataProfileSql,
    "j11_merge_into" -> mergeIntoSql,
    "g1_pagerank" -> pageRankSql,
    "g2_hits" -> hitsSql,
    "w9_funnel_steps" -> funnelStepsSql,
    "q13_grouping_sets" -> groupingSetsSql,
    "w10_retention_cohorts" -> retentionCohortsSql,
    "a8_histogram_drift" -> histogramDriftSql,
    "a2_distinct" -> distinctPairsSql,
    "a3_table_counts" -> tableCountsSql,
    "j1_semi_join" -> semiJoinSql,
    "j2_anti_join" -> antiJoinSql,
    "j3_upsert" -> upsertSql,
    "j4_symdiff" -> symDiffSql,
    "w1_latest_per_user" -> latestPerUserSql,
    "o1_topk" -> topKSql,
    "u1_setops" -> setOpsSql,
    "u2_setops_all" -> setOpsAllSql,
    "q1_agg" -> q1AggSql,
    "q3_join_agg" -> q3JoinAggSql,
    "s1_prefix_scan" -> prefixScanSql,
    "o2_rollup" -> rollupAggSql,
    "w2_running" -> runningTotalsSql,
    "st2_sessionize" -> sessionsSql,
    "st7_stream_wm_dedup" -> streamWmDedupSql,
    "a4_percentiles" -> percentilesSql,
    "a4b_percentiles_approx" -> percentilesApproxSql,
    "o3_pivot" -> pivotCountsSql,
    "o4_cube" -> cubeAggSql,
    "q5_decorrelated" -> decorrelatedSql,
    "q6_salted_agg" -> saltedAggSql,
    "a5_distinct_approx" -> distinctApproxSql,
    "a6_heavy_tokens" -> heavyTokensSql,
    "q7_heavy_hitters" -> heavyHittersSql,
    "q8_bucketed_join" -> bucketedJoinSql,
    "q9_partition_prune" -> partitionPruneSql,
    "q10_dpp_join" -> dppJoinSql,
    "q11_incr_agg" -> incrAggSql,
    "s14_jsonl_scan" -> jsonlScanSql,
    "s17_orc_scan" -> orcScanSql,
    "s18_schema_evolution" -> schemaEvolutionSql,
    "s19_compaction" -> compactionSql,
    "s23_zorder_compaction" -> zorderCompactionSql,
    "s24_dynamic_partition_overwrite" -> dynamicPartitionOverwriteSql,
    "j8_fuzzy_match" -> fuzzyMatchSql,
    "j9_scd2" -> scd2Sql,
    "j10_snapshot_diff" -> snapshotDiffSql,
    "w6_cumulative_uniques" -> cumulativeUniquesSql,
    "s15_malformed_json" -> malformedJsonSql,
    "w3_sliding_window" -> slidingCountsSql
  )
}
