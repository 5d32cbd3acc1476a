package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.TimeJoins

/** Driver-contract queries for the temporal operators: as-of join and
  * interval-point range join ([[graft.ops.TimeJoins]]) and the
  * watermarked tumbling-window streaming aggregation
  * ([[graft.streaming.WindowedAgg]]) over the events table.
  * Timestamps flow as epoch µs on both sides (the engine-portable basis
  * every other time query here uses), so the DuckDB oracles mirror the
  * semantics exactly — the as-of oracle is the same tagged-union running
  * `last_value IGNORE NULLS` construction, making tie order (quote before
  * probe at equal ts, greatest event_id among equal-ts quotes) explicit
  * in both engines rather than leaning on ASOF JOIN's unspecified
  * duplicate handling.
  */
object TimeJoinQueries {

  /** J5 — as-of join: each click event matched to the user's most recent
    * purchase at-or-before it (nulls when none precedes).
    */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).withColumn("us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "us")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "us", "value")
    TimeJoins.asOfJoin(clicks, purchases, Seq("user_id"),
        probeTs = "us", quoteTs = "us", payload = Seq("value"),
        probeTie = "event_id", quoteTie = "event_id")
      .select(col("event_id"), col("user_id"), col("us").as("click_us"),
        col("asof_ts").as("purchase_us"), col("asof_value").as("purchase_value"))
  }

  val asofJoinSql: String =
    """WITH u AS (
      |  SELECT user_id, epoch_us(ts) AS us, 1 AS side, event_id,
      |         CAST(NULL AS BIGINT) AS q_us, CAST(NULL AS DOUBLE) AS q_val
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, epoch_us(ts), 0, event_id, epoch_us(ts), value
      |  FROM events WHERE event_type = 'purchase'),
      |f AS (
      |  SELECT user_id, us, side, event_id,
      |         last_value(q_us IGNORE NULLS) OVER w AS purchase_us,
      |         last_value(q_val IGNORE NULLS) OVER w AS purchase_value
      |  FROM u
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, side, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, user_id, us AS click_us, purchase_us, purchase_value
      |FROM f WHERE side = 1""".stripMargin

  /** J12 — FORWARD as-of join ([[TimeJoins.asOfJoinForward]]): each click
    * matched to the user's NEXT purchase at-or-after it — the outcome/
    * label join (j5 is the mirrored state join). Same single-shuffle
    * union-scan plan via time reflection; the oracle is j5's tagged-union
    * running `last_value IGNORE NULLS`, ordered DESCENDING.
    */
  def asofForwardJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).withColumn("us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "us")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "us", "value")
    TimeJoins.asOfJoinForward(clicks, purchases, Seq("user_id"),
        probeTs = "us", quoteTs = "us", payload = Seq("value"),
        probeTie = "event_id", quoteTie = "event_id")
      .select(col("event_id"), col("user_id"), col("us").as("click_us"),
        col("asof_ts").as("purchase_us"), col("asof_value").as("purchase_value"))
  }

  val asofForwardJoinSql: String =
    """WITH u AS (
      |  SELECT user_id, epoch_us(ts) AS us, 1 AS side, event_id,
      |         CAST(NULL AS BIGINT) AS q_us, CAST(NULL AS DOUBLE) AS q_val
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, epoch_us(ts), 0, event_id, epoch_us(ts), value
      |  FROM events WHERE event_type = 'purchase'),
      |f AS (
      |  SELECT user_id, us, side, event_id,
      |         last_value(q_us IGNORE NULLS) OVER w AS purchase_us,
      |         last_value(q_val IGNORE NULLS) OVER w AS purchase_value
      |  FROM u
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us DESC, side, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, user_id, us AS click_us, purchase_us, purchase_value
      |FROM f WHERE side = 1""".stripMargin

  /** W11 — last-touch attribution ([[TimeJoins.asOfJoin]] with BOTH the
    * strict and tolerance arms load-bearing in a graded query): every
    * purchase attributed to the user's most recent click-or-view STRICTLY
    * before it and at most 7 days old; stale or absent touches attribute
    * to 'none'. The marketing-attribution shape — and the one-shuffle
    * as-of plan means the touch table is never self-joined against
    * purchases.
    */
  def attribution(spark: SparkSession, sfDir: String): DataFrame = {
    val sevenDaysUs = 604800000000L
    val ev = Tables.events(spark, sfDir).withColumn("us", unix_micros(col("ts")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "us")
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("user_id"), col("us"),
        col("event_type").as("touch"))
    TimeJoins.asOfJoin(purchases, touches, Seq("user_id"),
        probeTs = "us", quoteTs = "us", payload = Seq("touch"),
        probeTie = "event_id", quoteTie = "event_id",
        strict = true, tolerance = Some(sevenDaysUs))
      .groupBy(coalesce(col("asof_touch"), lit("none")).as("touch_type"))
      .agg(count(lit(1)).as("purchases"))
  }

  val attributionSql: String =
    """WITH u AS (
      |  SELECT user_id, epoch_us(ts) AS us, 0 AS side, event_id,
      |         CAST(NULL AS VARCHAR) AS q_type, CAST(NULL AS BIGINT) AS q_us
      |  FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, epoch_us(ts), 1, event_id, event_type, epoch_us(ts)
      |  FROM events WHERE event_type IN ('click', 'view')),
      |f AS (
      |  SELECT user_id, us, side, event_id,
      |         last_value(q_type IGNORE NULLS) OVER w AS t_type,
      |         last_value(q_us IGNORE NULLS) OVER w AS t_us
      |  FROM u
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, side, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT CASE WHEN t_us IS NULL OR us - t_us > 604800000000
      |            THEN 'none' ELSE t_type END AS touch_type,
      |       COUNT(*) AS purchases
      |FROM f WHERE side = 0 GROUP BY 1""".stripMargin

  /** Window length for [[rangeJoin]]: 10 minutes in µs. */
  private val IncidentWindowUs = 600000000L

  /** J6 — range join: clicks falling inside each error event's 10-minute
    * incident window `[ts, ts + 10min)`, counted per incident (0 for
    * quiet incidents). The bucketed equi-join keeps the plan a hash join;
    * the oracle states the same semantics as a plain inequality join.
    */
  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).withColumn("us", unix_micros(col("ts")))
    val incidents = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("us").as("start_us"),
        (col("us") + IncidentWindowUs).as("end_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("us").as("click_us"))
    val matched = TimeJoins.rangeJoin(incidents, "start_us", "end_us",
      clicks, "click_us", width = IncidentWindowUs)
    val counts = matched.groupBy("event_id", "start_us")
      .agg(count(lit(1)).as("n_clicks"))
    incidents.select("event_id", "start_us")
      .join(counts, Seq("event_id", "start_us"), "left")
      .withColumn("n_clicks", coalesce(col("n_clicks"), lit(0L)))
  }

  val rangeJoinSql: String =
    s"""WITH err AS (
       |  SELECT event_id, epoch_us(ts) AS start_us
       |  FROM events WHERE event_type = 'error'),
       |clk AS (SELECT epoch_us(ts) AS us FROM events WHERE event_type = 'click')
       |SELECT e.event_id, e.start_us, COUNT(c.us) AS n_clicks
       |FROM err e LEFT JOIN clk c
       |  ON c.us >= e.start_us AND c.us < e.start_us + $IncidentWindowUs
       |GROUP BY 1, 2""".stripMargin

  /** ST12 — streaming per-window approximate distinct users
    * ([[graft.streaming.WindowedAgg.drainTumblingDistinct]]): exact
    * windowed COUNT(DISTINCT) is unsupported in streaming (full per-key
    * state), so the HLL++ sketch is the windowed-distinct shape a stream
    * can run — fixed state per open window, finalized once by the
    * watermark. Graded the a5 way: the drained sketch value joins a
    * BATCH exact recount per window and the output carries the exact
    * count plus the envelope boolean (|hll − exact| ≤
    * max(5·rsd·exact, 3) — the absolute floor covers dense-register
    * collision error at tiny window cardinalities); the
    * oracle recomputes the exact counts and states TRUE. Uses the st4
    * chronological drain, so the sketch provably merged across
    * micro-batches (each window spans both halves' arrival order).
    */
  def streamWindowDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val rsd = 0.02
    val out = s"${TarQueries.StageDir}/st12_hll.parquet"
    graft.io.FsOps.deletePrefix(spark, out)
    // the sentinel STAYS in-stream: it is what pushes the watermark past
    // the last real window (filtering it pre-watermark left that window
    // open forever — one missing row); its own far-future window never
    // finalizes, and the exact-side inner join excludes it regardless
    Arrivals.scratch { ckpt =>
      graft.streaming.WindowedAgg.drainTumblingDistinct(st4Arrivals(spark, sfDir),
        "user_id", "1 hour", "1 minute", rsd, out, ckpt,
        stateKeys = Some(Tables.rowCount(spark, sfDir, "events")))
    }
    val HourUs = 3600000000L
    val exact = Tables.events(spark, sfDir)
      .select((expr(s"unix_micros(ts) div $HourUs") * HourUs).as("win_us"),
        col("user_id"))
      .groupBy("win_us")
      .agg(countDistinct(col("user_id")).as("n_users"))
    // envelope: 5·rsd relative OR an absolute floor of 3 — Spark's HLL++
    // is dense-register only (no sparse mode), so tiny windows see ±1-2
    // register-collision error that no relative bound captures (measured:
    // 9 for 11 exact at rsd 0.02); the floor is the small-n guard every
    // production sketch check carries
    // hll_diag: 'ok' inside the envelope (what the oracle states), the
    // raw sketch-vs-exact numbers on a breach — the envelope is
    // empirically tuned to Spark's current dense-register HLL++, and a
    // Spark upgrade shifting sketch internals would otherwise flip
    // hll_ok with nothing in the graded dump to diagnose from
    // (ADVICE r13): on a mismatch the Verify parquet row itself now
    // carries |hll − exact| and the bound it broke.
    spark.read.parquet(out).join(exact, Seq("win_us"))
      .withColumn("__bound", greatest(col("n_users") * lit(5 * rsd), lit(3.0)))
      .withColumn("__delta", abs(col("n_hll") - col("n_users")))
      .select(col("win_us"), col("n_users"),
        (col("__delta") <= col("__bound")).as("hll_ok"),
        when(col("__delta") <= col("__bound"), lit("ok"))
          .otherwise(concat(lit("delta="), col("__delta").cast("string"),
            lit(">bound="), format_number(col("__bound"), 2))).as("hll_diag"))
  }

  val streamWindowDistinctSql: String =
    """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS win_us,
      |       COUNT(DISTINCT user_id) AS n_users, TRUE AS hll_ok,
      |       'ok' AS hll_diag
      |FROM events GROUP BY 1""".stripMargin

  /** ST13 — stream-static enrichment join: arriving events join a STATIC
    * dimension (the user → nation mapping derived from customer) inside
    * the stream — the most common production streaming join (every
    * ingest enriches against reference data). Stream-static joins are
    * STATELESS on the stream side (no watermark, no join state — the
    * static side broadcasts into each micro-batch), which is why this
    * shape scales where stream-stream (st5) needs bounded state. Graded
    * over the st4 chronological drain: per-micro-batch enrichment +
    * append sink, rolled up at read time; the oracle is the plain batch
    * join + rollup, so a pass proves stream enrichment ≡ batch
    * enrichment across batch boundaries.
    */
  def streamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"${TarQueries.StageDir}/st13_enriched.parquet"
    graft.io.FsOps.deletePrefix(spark, out)
    // static dim: user → nation (user ids map onto customer keys mod |c|)
    val dim = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("user_id"),
        col("c_nationkey").cast("long").as("nation"))
    val stream = st4Arrivals(spark, sfDir)
      .filter(col("event_type") =!= "__sentinel")
      .join(dim, Seq("user_id")) // stream-static equi-join, stateless
      .select(col("user_id"), col("event_type"), col("nation"), col("value"))
    Arrivals.scratch { ckpt =>
      graft.streaming.Drain(stream, ckpt)(graft.streaming.Drain.parquet(out))
    }
    spark.read.parquet(out)
      .groupBy("nation", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
  }

  val streamStaticJoinSql: String =
    """SELECT CAST(c_nationkey AS BIGINT) AS nation, event_type,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2""".stripMargin

  /** ST11 — streaming cumulative uniques: w6's metric computed at the
    * ingest door instead of by corpus re-scan. Arriving events drain
    * through cross-batch `dropDuplicates(user_id, day)` (RocksDB state,
    * keyspace-sized partitions — the st3 machinery generalized to a
    * compound key), so the sink holds each user-day pair EXACTLY once
    * however many batches replay it; the staged source appends a
    * later file that REPLAYS 10% of users, so a pass proves the state
    * survived micro-batches (a state loss double-counts those pairs and
    * shifts every cumulative count after them). The read-time rollup —
    * first-seen day per user, daily counts, one ≤ #days running sum —
    * is w6's exact shape, and the oracle IS w6's oracle.
    */
  def streamUniques(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"${TarQueries.StageDir}/st11_days.parquet"
    graft.io.FsOps.deletePrefix(spark, out)
    val stream = Arrivals("st11_src", sfDir) {
      val ev = Tables.events(spark, sfDir)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
      // one base file, not two: the graded property is the REPLAY file
      // deduping against state from an EARLIER batch, which two batches
      // already exercise — each extra file is a RocksDB micro-batch the
      // drain pays for (the st18/r20 trim; guide §1). The replay file's
      // user-days already sit in state when it arrives.
      Seq(ev, ev.filter(col("user_id") % 10 === 0))
    }
    Arrivals.scratch { ckpt =>
      graft.streaming.StreamDedup.distinctRows(stream, Seq("user_id", "day"),
        out, ckpt,
        stateKeys = Some(Tables.rowCount(spark, sfDir, "events")))
    }
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spark.read.parquet(out)
      .groupBy("user_id").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new"))
      .withColumn("cum_users", sum("n_new").over(w).cast("long"))
  }

  val streamUniquesSql: String = CoreQueries.cumulativeUniquesSql

  /** W7 — period-over-period comparison (the day-over-day dashboard
    * delta): daily counts per event type, each row carrying the PREVIOUS
    * day's count (lag over the per-type daily series) and the integer
    * delta — first-day rows surface prev = 0, delta = count (the "new
    * series" convention). Two tiny keyed aggregations + a per-type lag
    * window over ≤ #days rows; integers end-to-end.
    */
  def periodCompare(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val DayUs = 86400000000L
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr(s"unix_micros(ts) div $DayUs").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("prev_n", coalesce(lag(col("n"), 1).over(w), lit(0L)))
      .withColumn("delta", col("n") - col("prev_n"))
  }

  val periodCompareSql: String =
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, day, n,
      |       CAST(COALESCE(lag(n) OVER (PARTITION BY event_type ORDER BY day), 0)
      |            AS BIGINT) AS prev_n,
      |       CAST(n - COALESCE(lag(n) OVER (PARTITION BY event_type ORDER BY day), 0)
      |            AS BIGINT) AS delta
      |FROM d""".stripMargin

  /** J7 — interval-interval overlap join ([[TimeJoins.intervalJoin]]):
    * error incidents (10-minute windows) overlapping purchase activity
    * windows (5 minutes) — the temporal-correlation query (which
    * incidents coincided with purchasing). The bucketed equi-join keeps
    * the plan a hash join with ONE canonical bucket per overlapping pair
    * (the overlap's start bucket), so no post-join dedup; the oracle
    * states the same semantics as a plain inequality join. Integer ids
    * and epoch-µs bounds only — exact hash grade.
    */
  def intervalOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).withColumn("us", unix_micros(col("ts")))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("us").as("e_start"),
        (col("us") + IncidentWindowUs).as("e_end"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pur_id"), col("us").as("p_start"),
        (col("us") + IncidentWindowUs / 2).as("p_end"))
    TimeJoins.intervalJoin(errors, "e_start", "e_end",
        purchases, "p_start", "p_end", width = IncidentWindowUs)
      .select(col("err_id"), col("pur_id"), col("e_start"), col("p_start"))
  }

  val intervalOverlapSql: String =
    s"""WITH err AS (
       |  SELECT event_id AS err_id, epoch_us(ts) AS e_start,
       |         epoch_us(ts) + $IncidentWindowUs AS e_end
       |  FROM events WHERE event_type = 'error'),
       |pur AS (
       |  SELECT event_id AS pur_id, epoch_us(ts) AS p_start,
       |         epoch_us(ts) + ${IncidentWindowUs / 2} AS p_end
       |  FROM events WHERE event_type = 'purchase')
       |SELECT err_id, pur_id, e_start, p_start
       |FROM err JOIN pur ON e_start < p_end AND p_start < e_end""".stripMargin

  /** W4 — time-series gap-fill (resample + forward fill): each user's
    * irregular event stream resampled onto a contiguous DAILY grid from
    * their first to last active day, carrying the last observed `value`
    * forward across silent days (`filled` marks the carried rows) — the
    * standard telemetry/feature-store densification step. Shapes: one
    * shuffle keys (user, day) for the last-observation-per-day cut, one
    * keys user for the bounds; the grid explode is narrow (post-agg), and
    * the forward fill is the as-of machinery's per-key running
    * `last(ignoreNulls)` window — partitioned by user, never global.
    * `value` passes through untouched (no arithmetic), so the hash
    * compare is exact.
    */
  def gapFill(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val DayUs = 86400000000L
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("us"))
      .withColumn("day", expr(s"us div $DayUs")) // integer floor div — `/` would round through double
    val byDay = Window.partitionBy("user_id", "day")
      .orderBy(col("us").desc, col("event_id").desc)
    val lastPerDay = ev.withColumn("rn", row_number().over(byDay))
      .filter(col("rn") === 1).select("user_id", "day", "value")
    val grid = ev.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val fill = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(lastPerDay, Seq("user_id", "day"), "left_outer")
      .select(col("user_id"), col("day"),
        last(col("value"), ignoreNulls = true).over(fill).as("value"),
        col("value").isNull.as("filled"))
  }

  val gapFillSql: String =
    """WITH e AS (SELECT user_id, event_id, value,
      |                  epoch_us(ts) AS us, epoch_us(ts) // 86400000000 AS day
      |           FROM events),
      |lastd AS (SELECT user_id, day, value FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, day
      |                                 ORDER BY us DESC, event_id DESC) AS rn
      |    FROM e) WHERE rn = 1),
      |bounds AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
      |           FROM e GROUP BY 1),
      |grid AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM bounds),
      |j AS (SELECT g.user_id, g.day, l.value AS v
      |      FROM grid g LEFT JOIN lastd l USING (user_id, day))
      |SELECT user_id, day,
      |       last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
      |       v IS NULL AS filled
      |FROM j""".stripMargin

  /** W5 — rolling z-score anomaly detection: each event tested against
    * its user's 5 PRECEDING events (current excluded — a member of its own
    * 5-sample window is bounded at |z| ≤ (n−1)/√n ≈ 1.79 < 2, so an
    * inclusive frame can never flag anything) — the standard telemetry
    * outlier gate. Stated ENTIRELY in integer arithmetic so the hash grade
    * is exact: values scale to thousandths (`floor(value·1000)`, identical
    * IEEE multiply+floor both engines), the window keeps exact integer Σv
    * and Σv², and the test `|x − mean| > 2·std` cross-multiplies to
    * `(n·x − S)² > 4·(n·Q − S²)` — no division, no sqrt, no doubles.
    * Warm-up rows (fewer than 5 preceding events) never flag.
    *
    * Scale shape: ONE shuffle keyed user_id (the window partition); the
    * frame is bounded (5 rows), so window state is O(1) per user and the
    * pass streams — the w2 running-frame posture with an anomaly
    * predicate on top. Long bounds: |v| ≤ ~1e6 ⇒ n·Q ≤ 5e13, S² ≤ 2.5e13,
    * (n·x − S)² ≤ 3.6e14 — far inside Long.
    */
  def rollingAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(-5, -1)
    val n = count(lit(1)).over(w).cast("long")
    val s = sum(col("v")).over(w).cast("long")
    val q = sum(col("v") * col("v")).over(w).cast("long")
    val dev = col("n5") * col("v") - col("s5")
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * 1000).cast("long").as("v"))
      .select(col("user_id"), col("event_id"), col("v"),
        n.as("n5"), s.as("s5"), q.as("q5"))
      .withColumn("anomaly",
        col("n5") === 5 &&
          dev * dev > lit(4L) * (col("n5") * col("q5") - col("s5") * col("s5")))
  }

  val rollingAnomalySql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |         CAST(floor(value * 1000) AS BIGINT) AS v
      |  FROM events),
      |r AS (
      |  SELECT user_id, event_id, v,
      |         CAST(COUNT(*) OVER w AS BIGINT) AS n5,
      |         CAST(SUM(v) OVER w AS BIGINT) AS s5,
      |         CAST(SUM(v * v) OVER w AS BIGINT) AS q5
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
      |               ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
      |SELECT user_id, event_id, v, n5, s5, q5,
      |       (n5 = 5 AND (n5 * v - s5) * (n5 * v - s5)
      |                   > 4 * (n5 * q5 - s5 * s5)) AS anomaly
      |FROM r""".stripMargin

  /** Shared chronological arrivals (st4/st10/st12/st13/st14 share one
    * source; st16 its own): split `ev` (which must carry a `us` epoch-µs
    * column, dropped on write) at its temporal midpoint into two one-file
    * micro-batches. The far-future sentinel (30 days past max —
    * `mkSentinel` receives the max and must return one schema-matching
    * row) rides IN the second file rather than as a third (the r20 st18
    * trim, guide §1/§2 — every file is a RocksDB micro-batch each drain
    * pays for): the watermark still advances past every real window at
    * that batch's end, and AvailableNow's no-data batch flushes the
    * remaining open windows. Cross-batch state is exercised by the
    * half1/half2 boundary; emitted rows are oracle-proven for all six
    * drains sharing this source. Staged once per sfDir ([[Arrivals]]).
    */
  private def chronHalves(sfDir: String, tag: String, evDef: => DataFrame,
                          mkSentinel: Long => DataFrame): DataFrame =
    Arrivals(tag, sfDir) {
      val ev = evDef
      val Array(lo, hi) = ev.agg(min(col("us")), max(col("us")))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      val mid = lo + (hi - lo) / 2
      Seq(ev.filter(col("us") <= mid).drop("us"),
        ev.filter(col("us") > mid).drop("us").unionAll(mkSentinel(hi)))
    }

  /** The sentinel timestamp: 30 days past the stream's max event time. */
  private def sentinelTs(hi: Long) =
    new java.sql.Timestamp((hi + 30L * 86400000000L) / 1000)

  private def st4Arrivals(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    chronHalves(sfDir, "st4_src",
      Tables.events(spark, sfDir)
        .select(col("ts"), col("event_type"), col("value"), col("user_id"),
          unix_micros(col("ts")).as("us")),
      hi => Seq((sentinelTs(hi), "__sentinel", 0.0, 0L))
        .toDF("ts", "event_type", "value", "user_id"))
  }

  private def st16Arrivals(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    chronHalves(sfDir, "st16_src",
      Tables.events(spark, sfDir)
        .select(col("ts"), col("user_id"), col("value"),
          unix_micros(col("ts")).as("us")),
      hi => Seq((sentinelTs(hi), -1L, 0.0)).toDF("ts", "user_id", "value"))
  }

  /** ST16 — STREAMING gap sessions
    * ([[graft.streaming.EventSessions.drainSessions]]): st2's exact
    * 6-hour `session_window` aggregation maintained incrementally.
    * Session-window state must MERGE across micro-batches — a user's
    * session spanning the chronological file boundary arrives as two
    * fragments the state store has to fuse into one row — and append
    * mode must emit each closed session exactly once when the watermark
    * passes its close. The oracle is st2's BATCH gaps-and-islands SQL
    * over the same events, so a hash match proves stream ≡ batch for the
    * whole session set (bounds, event counts, exact-decimal totals). The
    * far-future sentinel (user −1) advances the watermark past every
    * real session's close; its own session stays open and is never
    * emitted by append mode.
    */
  def streamSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"${TarQueries.StageDir}/st16_sessions.parquet"
    graft.io.FsOps.deletePrefix(spark, out)
    Arrivals.scratch { ckpt =>
      graft.streaming.EventSessions.drainSessions(
        st16Arrivals(spark, sfDir), gap = "6 hours", delay = "1 minute",
        outDir = out, checkpointDir = ckpt,
        stateKeys = Some(Tables.rowCount(spark, sfDir, "events")))
    }
    spark.read.parquet(out).filter(col("user_id") >= 0)
      .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
        col("n_events"), col("total_value"))
  }

  /** st4's chronological staging with `event_id` carried (the OHLC
    * tie-break key st4's source doesn't need).
    */
  private def st14Arrivals(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    chronHalves(sfDir, "st14_src",
      Tables.events(spark, sfDir)
        .select(col("ts"), col("event_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("us")),
      hi => Seq((sentinelTs(hi), 0L, "__sentinel", 0.0))
        .toDF("ts", "event_id", "event_type", "value"))
  }

  /** ST14 — streaming OHLC resample
    * ([[graft.streaming.WindowedAgg.drainTumblingOhlc]]): w8's 15-minute
    * bars maintained incrementally at the ingest door — open/close as
    * constant-state `min_by`/`max_by` extremes per open (window, type)
    * group, finalized exactly once by the append-mode watermark. The
    * oracle is the BATCH w8 definition over the same events, so a hash
    * match proves stream ≡ batch for the whole bar — including that
    * open/close extremes maintained across the chronological batch
    * boundary agree with the global (us, event_id) order.
    */
  def streamOhlc(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"${TarQueries.StageDir}/st14_ohlc.parquet"
    graft.io.FsOps.deletePrefix(spark, out)
    Arrivals.scratch { ckpt =>
      graft.streaming.WindowedAgg.drainTumblingOhlc(st14Arrivals(spark, sfDir),
        "15 minutes", "1 minute", out, ckpt,
        stateKeys = Some(Tables.rowCount(spark, sfDir, "events")))
    }
    spark.read.parquet(out).filter(col("event_type") =!= "__sentinel")
  }

  /** ST15 — streaming CDC apply, the consumer half of j10's change-feed
    * derivation: the diff (I/U/D rows keyed by event_id) arrives in two
    * micro-batches over the v1 snapshot, and each batch merges into a
    * VERSIONED state table (read v_n → anti-join the batch's keys →
    * union the upserts → write v_{n+1}, the table-format snapshot
    * pattern — never an in-place overwrite of the directory being
    * read). The graded output is the FINAL state, which must equal the
    * v2 snapshot exactly: a dropped delete, a lost unchanged row, or a
    * double-applied update each breaks the hash. Merge order across
    * batches is immaterial by construction (each key appears once in
    * the whole feed), so the drain is deterministic without mtime
    * discipline. Shape: per batch, one key-exchange anti-join sized by
    * state × batch — the incremental-materialization cost model (q11)
    * applied to row-level changes.
    */
  def streamCdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    val (stateDir, v) = st15Chain(spark, sfDir, force = true)
    spark.read.parquet(s"$stateDir/v$v")
  }

  /** Stages the st15 CDC feed and drains it into the versioned state
    * chain `stateDir/v0 … v_n`; returns (stateDir, final version).
    * [[streamCdcApply]] always rebuilds (`force`) — it IS the graded
    * streaming op — while q12/s25 reuse the chain built in this JVM
    * (never one staged by an older code version in a previous run), so
    * whichever of st15/q12 runs first pays the one drain.
    */
  private def st15Chain(spark: SparkSession, sfDir: String,
                        force: Boolean): (String, Int) = {
    val stateDir = TarQueries.stagePath("st15_state", sfDir)
    Staged("st15", sfDir, Seq(stateDir), force)(drainSt15(spark, sfDir, stateDir))
  }

  private def drainSt15(spark: SparkSession, sfDir: String,
                        stateDir: String): (String, Int) = {
    val feed = Arrivals("st15_src", sfDir) {
      // one compute of the full-outer diff feeds both staged halves
      // (review r16: uncached, the join ran once per staged file)
      val diff = CoreQueries.snapshotDiff(spark, sfDir).localCheckpoint()
      Seq(diff.filter(col("event_id") % 2 === 0),
        diff.filter(col("event_id") % 2 =!= 0))
    }
    // v0 = the v1 snapshot (same derivation as j10's base version)
    Tables.events(spark, sfDir).select(col("event_id"), col("value"))
      .filter(col("event_id") % 7 =!= 0)
      .write.parquet(s"$stateDir/v0")
    var v = 0
    Arrivals.scratch { ckpt =>
      graft.streaming.Drain(feed, ckpt)(
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val cur = spark.read.parquet(s"$stateDir/v$v")
            val ups = batch.filter(col("change").isin("I", "U"))
              .select(col("event_id"), col("new_value").as("value"))
            val next = cur
              .join(batch.select("event_id"), Seq("event_id"), "left_anti")
              .unionByName(ups)
            // overwrite, not ErrorIfExists: foreachBatch is at-least-once,
            // and a retried batch re-produces the SAME v_{n+1} — the write
            // must be idempotent or the retry kills the query (review r16)
            next.write.mode("overwrite").parquet(s"$stateDir/v${v + 1}")
            v += 1
          }
        })
    }
    (stateDir, v)
  }

  /** Q12 — time travel over the st15 version chain: the table-format
    * `AS OF v_n` read completing the j10 → st15 lake story. One rollup
    * (row count, id bounds, decimal-exact value sum) per staged version
    * v0/v1/v2, graded against the oracle's independent DERIVATION of
    * each version from `events` — v0 is the j10 base snapshot, v1 is v0
    * with the even-keyed half of the change feed merged, v2 the full
    * target snapshot. A chain write that dropped a delete, double-applied
    * an update, or mixed rows across versions breaks the corresponding
    * version's rollup hash. Shape: each version read is one pruned scan +
    * 1-row aggregate — time travel costs one snapshot scan per version
    * read, never a replay of the feed.
    */
  def timeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val (stateDir, finalV) = st15Chain(spark, sfDir, force = false)
    // fail with the cause, not a path-not-found (review r17): a corpus
    // whose change feed leaves one staged half empty drains to a shorter
    // chain, and the graded derivation below is specifically three
    // versions deep
    require(finalV == 2,
      s"st15 chain for $sfDir ended at v$finalV — q12 grades v0/v1/v2 and " +
        "needs both halves of the change feed non-empty")
    (0 to 2).map { n =>
      spark.read.parquet(s"$stateDir/v$n")
        .agg(count(lit(1)).as("n_rows"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(lit(n.toLong).as("version"), col("n_rows"),
          col("min_id"), col("max_id"), col("sum_value"))
    }.reduce(_ unionByName _)
  }

  /** S25 — snapshot retention ([[graft.ops.Compaction.expireSnapshots]]):
    * the st15 version chain is copied to a PRIVATE dir (q12/st15 keep
    * grading the original), a failed-write orphan file is planted at the
    * chain root, and `expireSnapshots(keep = 2)` runs — v0 and the orphan
    * must vanish, v1/v2 must survive byte-intact. Graded on CONTENT, not
    * listings: per surviving phase/version the row count and exact-
    * decimal value sum, plus a version −1 marker row for the orphan
    * (present before, gone after); the oracle derives every expected row
    * from the same events-table version derivations q12 grades against.
    */
  def snapshotExpire(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (stateDir, finalV) = st15Chain(spark, sfDir, force = false)
    require(finalV == 2,
      s"st15 chain for $sfDir ended at v$finalV — s25 expires a 3-version chain")
    val chain = TarQueries.stagePath("s25_chain", sfDir)
    graft.io.FsOps.deletePrefix(spark, chain)
    (0 to 2).foreach { n =>
      spark.read.parquet(s"$stateDir/v$n").write.parquet(s"$chain/v$n")
    }
    val orphan = java.nio.file.Paths.get(s"$chain/orphan-incomplete.parquet.inprogress")
    java.nio.file.Files.write(orphan, "partial write leftover".getBytes("UTF-8"))

    // bounded materialization: one 1-row aggregate per live version per
    // phase (≤ 6 single-row collects), never data-sized
    def phaseRows(phase: String): Seq[(String, Long, Long, Double)] = {
      val vDirs = (0 to 2).filter(n =>
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$chain/v$n")))
      val versionRows = vDirs.map { n =>
        val r = spark.read.parquet(s"$chain/v$n")
          .agg(count(lit(1)),
            sum(col("value").cast("decimal(18,2)")).cast("double"))
          .collect()(0)
        (phase, n.toLong, r.getLong(0), r.getDouble(1))
      }
      val orphanRow =
        if (java.nio.file.Files.exists(orphan)) Seq((phase, -1L, 0L, 0.0))
        else Seq.empty
      versionRows ++ orphanRow
    }
    val before = phaseRows("before")
    graft.ops.Compaction.expireSnapshots(spark, chain, keep = 2)
    val after = phaseRows("after")
    (before ++ after).toDF("phase", "version", "n_rows", "sum_value")
  }

  /** The st15 version-chain derivation (v0/v1/v2 from the events table),
    * shared VERBATIM by the q12 and s25 oracles — one definition so the
    * two grades can never drift onto divergent expected chains
    * (review r18). Mirrors `drainSt15`'s %7/%3/%5/%2 constants.
    */
  private val st15ChainCtes: String =
    """v1s AS (SELECT event_id, value AS old_value FROM events
      |             WHERE event_id % 7 != 0),
      |v2s AS (SELECT event_id,
      |               CASE WHEN event_id % 5 = 0 THEN value + 1.0 ELSE value END AS new_value
      |        FROM events WHERE event_id % 3 != 0),
      |diff AS (
      |  SELECT COALESCE(v1s.event_id, v2s.event_id) AS event_id,
      |         CASE WHEN v1s.event_id IS NULL THEN 'I'
      |              WHEN v2s.event_id IS NULL THEN 'D'
      |              WHEN old_value != new_value THEN 'U' END AS change,
      |         new_value
      |  FROM v1s FULL OUTER JOIN v2s ON v1s.event_id = v2s.event_id
      |  WHERE (v1s.event_id IS NULL OR v2s.event_id IS NULL
      |         OR old_value != new_value)),
      |b1 AS (SELECT * FROM diff WHERE event_id % 2 = 0),
      |ver0 AS (SELECT event_id, old_value AS value FROM v1s),
      |ver1 AS (SELECT event_id, value FROM ver0
      |         WHERE event_id NOT IN (SELECT event_id FROM b1)
      |         UNION ALL
      |         SELECT event_id, new_value FROM b1 WHERE change IN ('I', 'U')),
      |ver2 AS (SELECT event_id, new_value AS value FROM v2s),
      |allv AS (
      |  SELECT 0 AS version, event_id, value FROM ver0
      |  UNION ALL SELECT 1, event_id, value FROM ver1
      |  UNION ALL SELECT 2, event_id, value FROM ver2)""".stripMargin

  val snapshotExpireSql: String =
    s"""WITH $st15ChainCtes,
      |roll AS (SELECT CAST(version AS BIGINT) AS version,
      |                COUNT(*) AS n_rows,
      |                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |         FROM allv GROUP BY 1)
      |SELECT 'before' AS phase, version, n_rows, sum_value FROM roll
      |UNION ALL SELECT 'before', CAST(-1 AS BIGINT), CAST(0 AS BIGINT), 0.0
      |UNION ALL SELECT 'after', version, n_rows, sum_value FROM roll
      |WHERE version >= 1""".stripMargin

  val timeTravelSql: String =
    s"""WITH $st15ChainCtes
      |SELECT CAST(version AS BIGINT) AS version, COUNT(*) AS n_rows,
      |       MIN(event_id) AS min_id, MAX(event_id) AS max_id,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM allv GROUP BY 1""".stripMargin

  // the final state must equal the v2 snapshot (j10's target version)
  val streamCdcApplySql: String =
    """SELECT event_id,
      |       CASE WHEN event_id % 5 = 0 THEN value + 1.0 ELSE value END AS value
      |FROM events WHERE event_id % 3 != 0""".stripMargin

  /** ST4 — watermarked tumbling-window streaming aggregation
    * ([[graft.streaming.WindowedAgg]]): events split into two
    * chronological files drained one per micro-batch (so the watermark
    * genuinely advances across batches and drops nothing — each file's
    * rows are newer than the previous watermark), then a far-future
    * sentinel file whose arrival pushes the watermark past every real
    * window; the engine's no-data batch then emits the remaining open
    * windows before the AvailableNow drain terminates. Append mode means
    * the sink holds each finalized window EXACTLY once — a duplicate
    * (window re-emitted), a missing window (state lost between batches),
    * or a late-drop (mis-ordered staging) all break the hash against
    * DuckDB's plain GROUP BY over the same events.
    */
  def windowedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"${TarQueries.StageDir}/st4_win.parquet"
    graft.io.FsOps.deletePrefix(spark, out)
    Arrivals.scratch { ckpt =>
      graft.streaming.WindowedAgg.drainTumbling(st4Arrivals(spark, sfDir),
        "1 hour", "1 minute", out, ckpt,
        // keyspace-sized; the event count upper-bounds the live
        // (window, type) key count by construction
        stateKeys = Some(Tables.rowCount(spark, sfDir, "events")))
    }
    spark.read.parquet(out).filter(col("event_type") =!= "__sentinel")
  }

  /** ST10 — streaming trending top-k
    * ([[graft.streaming.WindowedAgg.drainTrendingTopK]]): the 3 most
    * frequent event types of every closed hourly window, materialized
    * incrementally as windows finalize — the trending-dashboard view.
    * Same staged chronological drain as st4 (shared source, so the
    * watermark genuinely advances across micro-batches); the oracle is
    * the batch rank over the same events, so a hash match proves the
    * per-batch rank saw every window COMPLETE (a window finalizing
    * split across batches would rank a partial count and diverge). The
    * far-future sentinel closes the last real windows and is dropped
    * post-read (it trends alone in its own empty window).
    */
  def streamTrending(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"${TarQueries.StageDir}/st10_trend.parquet"
    graft.io.FsOps.deletePrefix(spark, out)
    Arrivals.scratch { ckpt =>
      graft.streaming.WindowedAgg.drainTrendingTopK(st4Arrivals(spark, sfDir),
        "1 hour", "1 minute", k = 3, out, ckpt,
        stateKeys = Some(Tables.rowCount(spark, sfDir, "events")))
    }
    spark.read.parquet(out).filter(col("event_type") =!= "__sentinel")
  }

  val streamTrendingSql: String =
    """WITH w AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS win_us,
      |         event_type, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2)
      |SELECT win_us, event_type, n_events, CAST(rnk AS BIGINT) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY win_us
      |                                   ORDER BY n_events DESC, event_type ASC) AS rnk
      |      FROM w)
      |WHERE rnk <= 3""".stripMargin

  val windowedAggSql: String =
    """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS win_us, event_type,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Clicks and purchases as chronological two-file arrivals, one
    * source per side — the shared st5/st18 source (review r20: one
    * definition, not two drifting copies). File 1 holds everything at or
    * before the straddle boundary: the earliest click with a
    * strictly-later in-window purchase, so at least one attribution
    * window CROSSES the micro-batch edge (a median split was measured to
    * put zero windows across it at sf0.01 — the hash would then pass
    * without exercising cross-batch state); file 2 holds the rest. The
    * boundary is memoized per staging, so the two sides share one
    * compute. `sentinelGapUs` (st18's outer form) unions one far-future
    * sentinel row per side into file 2 — negative never-joinable ids; the
    * min-of-inputs watermark must pass every click's close time or
    * unmatched rows would never flush. Returns (clicks, purchases).
    */
  private def attributionArrivals(spark: SparkSession, sfDir: String,
                                  tag: String, sentinelGapUs: Option[Long])
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    // lazy: the events read is only for staging, which a memo hit skips
    lazy val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    // (split point, max event µs for the sentinel)
    def bounds = Staged(s"${tag}_bounds", sfDir, Nil) {
      val boundary = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("us").as("cus"))
        .join(ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("us").as("pus")), "user_id")
        .filter(col("pus") > col("cus") &&
          col("pus") < col("cus") + 1800000000L)
        .agg(min(col("cus"))).collect().head
      lazy val range = ev.agg(min(col("us")), max(col("us"))).collect().head
      val mid =
        if (boundary.isNullAt(0)) { // no ordered pair anywhere — median fallback
          val (lo, hi) = (range.getLong(0), range.getLong(1))
          lo + (hi - lo) / 2
        } else boundary.getLong(0)
      (mid, if (sentinelGapUs.isDefined) range.getLong(1) else 0L)
    }
    def side(kind: String, sentId: Long) = Arrivals(s"${tag}_$kind", sfDir) {
      val (mid, maxUs) = bounds
      val side = ev.filter(col("event_type") === kind)
        .select("event_id", "user_id", "ts")
      val second = side.filter(unix_micros(col("ts")) > mid)
      // the sentinel rides IN the second file, not a third: the watermark
      // advances at that batch's end and AvailableNow's no-data batch
      // flushes the outer rows — one fewer RocksDB micro-batch per side
      Seq(side.filter(unix_micros(col("ts")) <= mid),
        sentinelGapUs.fold(second) { gap =>
          second.unionAll(
            Seq((sentId, sentId, maxUs + gap)).toDF("event_id", "user_id", "sus")
              .select(col("event_id"), col("user_id"),
                timestamp_micros(col("sus")).as("ts")))
        })
    }
    (side("click", -1L), side("purchase", -2L))
  }

  /** ST5 — stream-stream attribution join
    * ([[graft.streaming.StreamJoin]]): clicks and purchases arrive as two
    * file streams (each split into chronological halves, one file per
    * micro-batch), joined per user on `purchase_ts ∈ [click_ts, +30min)`
    * with watermarked state on both sides. The split point is chosen so
    * cross-batch pairs EXIST: it sits at the earliest click that has a
    * strictly-later in-window purchase (a median split was measured to
    * put zero windows across the boundary at sf0.01 — the hash would
    * then pass without exercising cross-batch state at all), so a hash
    * match against DuckDB's plain inequality join proves buffered state
    * survived the batch boundary and eviction never dropped a live row.
    */
  def streamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"${TarQueries.StageDir}/st5_attrib.parquet"
    graft.io.FsOps.deletePrefix(spark, out)
    val (clicks, purchases) =
      attributionArrivals(spark, sfDir, "st5", sentinelGapUs = None)
    Arrivals.scratch { ckpt =>
      graft.streaming.StreamJoin.drainAttribution(clicks, purchases,
        window = "30 minutes",
        delay = "1 minute", outDir = out, checkpointDir = ckpt,
        // keyspace-sized; the event count upper-bounds the buffered-row
        // keyspace on either join side
        stateKeys = Some(Tables.rowCount(spark, sfDir, "events")))
    }
    spark.read.parquet(out)
  }

  val streamJoinSql: String =
    """WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS cus
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
      |      FROM events WHERE event_type = 'purchase')
      |SELECT c.click_id, p.purchase_id, c.user_id
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND p.pus >= c.cus AND p.pus < c.cus + 1800000000""".stripMargin

  /** ST18 — stream-stream LEFT-OUTER attribution join
    * ([[graft.streaming.StreamJoin.attributionJoinOuter]]): st5's clicks
    * ⋈ purchases, but every click must emit — matched pairs as they
    * meet, unmatched clicks as null-extended rows only once the
    * watermark closes their window. The staging is st5's chronological
    * two-file split per side (the boundary guarantees cross-batch
    * windows exist) PLUS one far-future sentinel file per side: the
    * global watermark is the MIN across inputs, so BOTH streams must
    * advance past every click's `click_ts + window + delay` or the tail
    * clicks' outer rows would never flush and the batch oracle could
    * not match. Sentinels carry negative user_ids (never joinable) and
    * are dropped from the graded output; the oracle is DuckDB's plain
    * LEFT JOIN over `events` — a hash match proves both the match set
    * AND that every unmatched click emitted exactly once, exactly
    * null-extended.
    */
  def streamOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"${TarQueries.StageDir}/st18_attrib.parquet"
    graft.io.FsOps.deletePrefix(spark, out)
    // sentinel 2 h past the corpus max — beyond every click's close
    // time (30 min window + 1 min delay)
    val (clicks, purchases) =
      attributionArrivals(spark, sfDir, "st18", sentinelGapUs = Some(7200000000L))
    Arrivals.scratch { ckpt =>
      graft.streaming.StreamJoin.drainAttribution(clicks, purchases,
        window = "30 minutes",
        delay = "1 minute", outDir = out, checkpointDir = ckpt,
        stateKeys = Some(Tables.rowCount(spark, sfDir, "events")),
        outer = true)
    }
    spark.read.parquet(out).filter(col("user_id") >= 0L)
  }

  val streamOuterJoinSql: String =
    """WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS cus
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
      |      FROM events WHERE event_type = 'purchase')
      |SELECT c.click_id, p.purchase_id, c.user_id
      |FROM c LEFT JOIN p ON c.user_id = p.user_id
      |  AND p.pus >= c.cus AND p.pus < c.cus + 1800000000""".stripMargin

  /** W8 — OHLC time-bucket resample, the canonical downsampling shape of
    * every metrics/market pipeline (and of telemetry compaction at lake
    * scale): events collapse to 15-minute bars per event_type carrying
    * open/high/low/close/volume. Open/close are `min_by`/`max_by` over
    * the TOTAL order `(us, event_id)` — event_id is unique, so "first"
    * and "last" are deterministic under any execution order and the
    * oracle's `arg_min`/`arg_max` over the same key list agrees exactly
    * (both engines pass `value` through untouched — no arithmetic, so
    * the hash compare is exact; the volume sum rides the usual
    * DECIMAL(18,2) basis).
    *
    * Scale shape: ONE map-side-combining groupBy exchange on
    * (win_us, event_type) — min_by/max_by/min/max/sum all carry
    * constant-size partial state, so 100 TB of events reduces to one
    * narrow row per bar before the shuffle. No window functions, no
    * sort: the per-bar extremes need no global order.
    */
  def ohlcResample(spark: SparkSession, sfDir: String): DataFrame = {
    val BarUs = 900000000L // 15 min
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("us"))
      .withColumn("win_us", expr(s"(us div $BarUs) * $BarUs"))
    ev.groupBy("win_us", "event_type")
      .agg(
        min_by(col("value"), struct(col("us"), col("event_id"))).as("open_value"),
        max(col("value")).as("high_value"),
        min(col("value")).as("low_value"),
        max_by(col("value"), struct(col("us"), col("event_id"))).as("close_value"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  // DuckDB's arg_min/arg_max reject composite ordering keys, so the
  // oracle states the same (us, event_id) total order through two
  // row_number passes instead
  val ohlcResampleSql: String =
    """WITH e AS (
      |  SELECT (epoch_us(ts) // 900000000) * 900000000 AS win_us, event_type,
      |         value, epoch_us(ts) AS us, event_id
      |  FROM events),
      |r AS (SELECT *,
      |        row_number() OVER (PARTITION BY win_us, event_type
      |                           ORDER BY us ASC, event_id ASC) AS rn_a,
      |        row_number() OVER (PARTITION BY win_us, event_type
      |                           ORDER BY us DESC, event_id DESC) AS rn_d
      |      FROM e)
      |SELECT win_us, event_type,
      |       MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
      |       MAX(value) AS high_value,
      |       MIN(value) AS low_value,
      |       MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM r GROUP BY 1, 2""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j5_asof_join" -> asofJoin,
    "j12_asof_forward" -> asofForwardJoin,
    "w11_attribution" -> attribution,
    "j6_range_join" -> rangeJoin,
    "st4_windowed_agg" -> windowedAgg,
    "st10_stream_trending" -> streamTrending,
    "j7_interval_join" -> intervalOverlap,
    "st11_stream_uniques" -> streamUniques,
    "st12_stream_window_distinct" -> streamWindowDistinct,
    "st13_stream_static_join" -> streamStaticJoin,
    "w4_gap_fill" -> gapFill,
    "w5_rolling_anomaly" -> rollingAnomaly,
    "w7_period_compare" -> periodCompare,
    "w8_ohlc_resample" -> ohlcResample,
    "st14_stream_ohlc" -> streamOhlc,
    "st16_stream_sessions" -> streamSessions,
    "st15_stream_cdc_apply" -> streamCdcApply,
    "q12_time_travel" -> timeTravel,
    "s25_snapshot_expire" -> snapshotExpire,
    "st5_stream_join" -> streamJoin,
    "st18_stream_outer_join" -> streamOuterJoin
  )

  def oracleSql: Map[String, String] = Map(
    "j5_asof_join" -> asofJoinSql,
    "j12_asof_forward" -> asofForwardJoinSql,
    "w11_attribution" -> attributionSql,
    "j6_range_join" -> rangeJoinSql,
    "st4_windowed_agg" -> windowedAggSql,
    "st10_stream_trending" -> streamTrendingSql,
    "j7_interval_join" -> intervalOverlapSql,
    "st11_stream_uniques" -> streamUniquesSql,
    "st12_stream_window_distinct" -> streamWindowDistinctSql,
    "st13_stream_static_join" -> streamStaticJoinSql,
    "w4_gap_fill" -> gapFillSql,
    "w5_rolling_anomaly" -> rollingAnomalySql,
    "w7_period_compare" -> periodCompareSql,
    "w8_ohlc_resample" -> ohlcResampleSql,
    "st14_stream_ohlc" -> ohlcResampleSql,
    "st16_stream_sessions" -> graft.queries.CoreQueries.sessionsSql,
    "st15_stream_cdc_apply" -> streamCdcApplySql,
    "q12_time_travel" -> timeTravelSql,
    "s25_snapshot_expire" -> snapshotExpireSql,
    "st5_stream_join" -> streamJoinSql,
    "st18_stream_outer_join" -> streamOuterJoinSql
  )
}
