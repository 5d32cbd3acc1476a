package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.TimeJoins

/** Temporal-join specs: as-of tie/strict/no-match semantics and range-join
  * boundary behavior, plus the plan property the bucketing exists for (no
  * nested-loop/cartesian join even when nothing broadcasts).
  */
class TimeJoinsSpec extends AnyFunSuite with SparkSuite with TempDirs {

  test("W8: OHLC open/close follow the (us, event_id) total order under same-us ties") {
    import spark.implicits._
    val dir = tempDir("w8spec").toString
    val t0 = 1888889L * 900000000L // µs, bar-ALIGNED; all four events land in one 15-min bar
    Seq(
      (2L, t0, 7L, "click", 5.0, "{}"), // same us as event 1 — id breaks the tie
      (1L, t0, 7L, "click", 3.0, "{}"),
      (3L, t0 + 60000000L, 7L, "click", 9.0, "{}"),
      (4L, t0 + 120000000L, 7L, "click", 1.0, "{}")
    ).toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val bars = graft.queries.TimeJoinQueries.ohlcResample(spark, dir).collect()
    assert(bars.length === 1)
    val b = bars.head
    assert(b.getAs[Double]("open_value") === 3.0) // event_id 1 wins the us tie
    assert(b.getAs[Double]("close_value") === 1.0)
    assert(b.getAs[Double]("high_value") === 9.0)
    assert(b.getAs[Double]("low_value") === 1.0)
    assert(b.getAs[Long]("n_events") === 4L)
  }

  test("ST15: CDC apply versions the state and lands exactly on the v2 snapshot") {
    val out = graft.queries.TimeJoinQueries
      .streamCdcApply(spark, "/root/testdata/sf0.001")
    val got = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val expect = ev.filter(_._1 % 3 != 0)
      .map { case (id, v) => id -> (if (id % 5 == 0) v + 1.0 else v) }.toMap
    assert(got === expect)
    // versioned snapshots, never an in-place overwrite of the dir being
    // read — at the per-sfDir state path (review r17: the assertion had
    // kept the pre-change fixed path and was checking a stale artifact)
    val vs = new java.io.File(
      graft.queries.TarQueries.stagePath("st15_state", "/root/testdata/sf0.001"))
      .listFiles().map(_.getName).toSet
    assert(vs === Set("v0", "v1", "v2"))
    // and q12's ensure must reuse THIS build, not restage
    val rollup = graft.queries.TimeJoinQueries
      .timeTravel(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rollup(2L) === expect.size.toLong) // v2 rollup counts the v2 snapshot
    assert(rollup.keySet === Set(0L, 1L, 2L))
  }

  private def probes = {
    import spark.implicits._
    Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 10L, 250L), (4L, 99L, 500L))
      .toDF("event_id", "user_id", "us")
  }

  // quotes: user 10 at us=100 (two, tie on event_id), us=240; user 50 only
  private def quotes = {
    import spark.implicits._
    Seq((21L, 10L, 100L, 1.0), (22L, 10L, 100L, 2.0), (23L, 10L, 240L, 3.0),
      (24L, 50L, 1L, 9.0)).toDF("event_id", "user_id", "us", "value")
  }

  private def asof(strict: Boolean) =
    TimeJoins.asOfJoin(probes, quotes, Seq("user_id"), "us", "us",
      Seq("value"), "event_id", "event_id", strict = strict)
      .select("event_id", "asof_ts", "asof_value")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet

  test("asOfJoin: inclusive match, greatest-tie quote wins, nulls when none") {
    assert(asof(strict = false) === Set(
      (1L, 100L, 2.0), // equal-ts quote visible; event_id 22 beats 21
      (2L, 100L, 2.0), // carried forward past us=200
      (3L, 240L, 3.0), // newest preceding quote
      (4L, null, null) // user 99 has no quotes at all
    ))
  }

  test("asOfJoin: strict excludes the equal-timestamp quote") {
    assert(asof(strict = true).contains((1L, null, null)))
    assert(asof(strict = true).contains((3L, 240L, 3.0)))
  }

  test("asOfJoin: tolerance nulls stale matches without falling back further") {
    val out = TimeJoins.asOfJoin(probes, quotes, Seq("user_id"), "us", "us",
      Seq("value"), "event_id", "event_id", tolerance = Some(20L))
      .select("event_id", "asof_ts", "asof_value").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(out.contains((1L, 100L, 2.0)))  // age 0 — within tolerance
    assert(out.contains((3L, 240L, 3.0)))  // age 10 — within tolerance
    // probe 2 at us=200: newest quote is us=100 (age 100 > 20) — nulled,
    // NOT matched to anything older
    assert(out.contains((2L, null, null)))
  }

  test("asOfJoinForward: earliest at-or-after match, strict, tolerance, nulls when none ahead") {
    def fwd(strict: Boolean, tol: Option[Long] = None) =
      TimeJoins.asOfJoinForward(probes, quotes, Seq("user_id"), "us", "us",
        Seq("value"), "event_id", "event_id", strict = strict, tolerance = tol)
        .select("event_id", "asof_ts", "asof_value").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getLong(1),
          if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(fwd(strict = false) === Set(
      (1L, 100L, 2.0), // equal-ts quote visible; greatest event_id still wins
      (2L, 240L, 3.0), // the NEXT quote after us=200
      (3L, null, null), // nothing at-or-after us=250
      (4L, null, null) // user 99 has no quotes at all
    ))
    assert(fwd(strict = true).contains((1L, 240L, 3.0))) // equal-ts excluded
    // tolerance now bounds how far AHEAD the quote may be: probe 2 at 200
    // has its next quote at 240 (40 ahead > 20) — nulled, no fallback
    assert(fwd(strict = false, tol = Some(20L)).contains((2L, null, null)))
    assert(fwd(strict = false, tol = Some(50L)).contains((2L, 240L, 3.0)))
  }

  test("asOfJoin: probes keep all their columns and row count") {
    val out = TimeJoins.asOfJoin(probes, quotes, Seq("user_id"), "us", "us",
      Seq("value"), "event_id", "event_id")
    assert(out.count() === probes.count())
    assert(probes.columns.forall(out.columns.contains))
  }

  test("rangeJoin: half-open bounds, multi-bucket intervals, empty intervals") {
    import spark.implicits._
    val intervals = Seq(
      (1L, 100L, 300L),  // spans buckets 1,2 at width 100
      (2L, 250L, 250L),  // empty — matches nothing
      (3L, 0L, 1000L))   // spans everything
      .toDF("iid", "s", "e")
    val points = Seq(99L, 100L, 250L, 299L, 300L).toDF("p")
    val got = TimeJoins.rangeJoin(intervals, "s", "e", points, "p", width = 100L)
      .select("iid", "p").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set(
      (1L, 100L), (1L, 250L), (1L, 299L), // 100 in (start inclusive), 300 out
      (3L, 99L), (3L, 100L), (3L, 250L), (3L, 299L), (3L, 300L)))
  }

  test("rangeJoin: pairs appear exactly once even for wide intervals") {
    import spark.implicits._
    val intervals = Seq((1L, 0L, 10000L)).toDF("iid", "s", "e")
    val points = Seq(5L, 4321L, 9999L).toDF("p")
    val out = TimeJoins.rangeJoin(intervals, "s", "e", points, "p", width = 10L)
    assert(out.count() === 3) // 1000 buckets exploded, no duplicate pairs
  }

  test("rangeJoin plans a hash join on the bucket key, never a nested loop") {
    import spark.implicits._
    // disable broadcast so the plan must stand on the equi-key alone —
    // an inequality-only join here would be BroadcastNestedLoop/cartesian
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val intervals = (0L until 200L).map(i => (i, i * 10, i * 10 + 25))
        .toDF("iid", "s", "e")
      val points = (0L until 1000L).map(i => Tuple1(i * 3)).toDF("p")
      val joined = TimeJoins.rangeJoin(intervals, "s", "e", points, "p", 25L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan)
      // exhaustive check of the same semantics
      val expect = intervals.as("i").join(points.as("pt"),
          col("p") >= col("s") && col("p") < col("e")).count()
      assert(joined.count() === expect)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("w7: first-day prev is 0 and per-type deltas telescope to the last count") {
    val rows = graft.queries.TimeJoinQueries
      .periodCompare(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (t, days) =>
      val sorted = days.sortBy(_._2)
      assert(sorted.head._4 === 0L, s"$t first-day prev")
      // prev chains: row i's prev equals row i-1's count
      sorted.sliding(2).foreach {
        case Array((_, _, n1, _, _), (_, _, _, p2, _)) =>
          assert(p2 === n1, s"$t prev chain broken")
        case _ => ()
      }
      // deltas telescope: sum of deltas = last day's count
      assert(sorted.map(_._5).sum === sorted.last._3, s"$t deltas")
    }
  }

  test("st11: replayed user-days survive cross-batch state exactly once") {
    val sf = "/root/testdata/sf0.001"
    graft.queries.TimeJoinQueries.streamUniques(spark, sf).count()
    // the sink must hold each (user_id, day) pair exactly once even
    // though the third staged file replays 10% of users — a state loss
    // between micro-batches would emit those pairs twice
    val sunk = spark.read
      .parquet(s"${graft.queries.TarQueries.StageDir}/st11_days.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sunk.length === sunk.distinct.length,
      "duplicate user-day pairs — dedup state lost between batches")
    // and it matches the batch definition of the distinct pair set
    val want = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sunk.sorted.toSeq === want.sorted.toSeq)
  }

  test("intervalJoin: overlap pairs appear exactly once, boundaries half-open") {
    import spark.implicits._
    // a: one long interval spanning many buckets + one short; b overlaps
    // both, one touching only at the boundary (half-open: no match)
    val a = Seq((1L, 0L, 10000L), (2L, 500L, 600L)).toDF("aid", "as", "ae")
    val b = Seq((10L, 9500L, 9600L),   // inside a1's far end
      (11L, 550L, 560L),               // inside both a1 and a2
      (12L, 10000L, 10100L),           // touches a1 at ae — half-open, no match
      (13L, 0L, 1L)                    // minimal overlap at a1's start
    ).toDF("bid", "bs", "be")
    val got = TimeJoins.intervalJoin(a, "as", "ae", b, "bs", "be", width = 10L)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 10L), (1L, 11L), (2L, 11L), (1L, 13L)))
    // exhaustive-check with wide random intervals: each pair exactly once
    val rnd = new scala.util.Random(5)
    val ra = (0L until 50L).map { i =>
      val s = rnd.nextInt(1000).toLong; (i, s, s + 1 + rnd.nextInt(300))
    }.toDF("aid", "as", "ae")
    val rb = (0L until 50L).map { i =>
      val s = rnd.nextInt(1000).toLong; (i, s, s + 1 + rnd.nextInt(300))
    }.toDF("bid", "bs", "be")
    val bucketed = TimeJoins.intervalJoin(ra, "as", "ae", rb, "bs", "be", 25L)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val naive = ra.join(rb, col("as") < col("be") && col("bs") < col("ae"))
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(bucketed.sorted.toSeq === naive.sorted.toSeq,
      "bucketed overlap join diverged from the inequality join (dups or loss)")
  }

  test("bucket ids are exact past double's 2^53 range and floor on negatives") {
    import spark.implicits._
    // nanosecond-magnitude bounds (> 2^53, where a double round-trip is
    // lossy) and negative timestamps (where truncating division would
    // disagree with floor) — both joins must still match a brute-force
    // inequality join exactly (ADVICE r13: bucket ids via integer floor
    // division, not floor(col/width) through double).
    val big = 1L << 55
    val a = Seq((1L, big + 3L, big + 9L), (2L, -7L, -1L))
      .toDF("aid", "as", "ae")
    val b = Seq((10L, big + 8L, big + 20L), // overlaps a1's tail
      (11L, big + 9L, big + 10L),           // touches a1 at ae — no match
      (12L, -3L, 0L)                        // overlaps a2
    ).toDF("bid", "bs", "be")
    val got = TimeJoins.intervalJoin(a, "as", "ae", b, "bs", "be", width = 2L)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 10L), (2L, 12L)))
    val pts = Seq((20L, big + 3L), (21L, big + 8L), (22L, -4L), (23L, -1L))
      .toDF("pid", "ts")
    val rj = TimeJoins.rangeJoin(a, "as", "ae", pts, "ts", width = 2L)
      .select("aid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // pt 23 sits ON a2's half-open end — excluded
    assert(rj === Set((1L, 20L), (1L, 21L), (2L, 22L)))
  }

  // --- w4 gap-fill: grid completeness + LOCF semantics on real testdata ---

  test("gapFill: contiguous daily grid per user, LOCF carries, no leading fill") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.queries.TimeJoinQueries.gapFill(spark, sf)
      .select("user_id", "day", "value", "filled").collect()
    val byUser = out.groupBy(_.getLong(0))
    // grid is contiguous first..last active day — no holes, no extras
    byUser.foreach { case (u, rows) =>
      val days = rows.map(_.getLong(1)).sorted
      assert(days.head + days.length - 1 === days.last,
        s"user $u grid not contiguous")
      assert(days.distinct.length === days.length, s"user $u duplicate days")
    }
    // filled rows carry EXACTLY the previous day's value (LOCF), and the
    // first day of every user is an observation, never a fill
    byUser.foreach { case (u, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(!sorted.head.getBoolean(3), s"user $u first day marked filled")
      sorted.sliding(2).foreach {
        case Array(prev, cur) if cur.getBoolean(3) =>
          assert(cur.getDouble(2) === prev.getDouble(2),
            s"user $u day ${cur.getLong(1)} fill broke LOCF")
        case _ => ()
      }
    }
    // observed rows match the user's LAST event of that day (ts, then
    // event_id tiebreak) — the resample cut w4 defines
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("value"),
        (unix_micros(col("ts")).cast("long")).as("us"))
      .withColumn("day", expr("us div 86400000000"))
      .collect().groupBy(r => (r.getLong(0), r.getLong(4)))
    out.filter(!_.getBoolean(3)).foreach { r =>
      val want = ev((r.getLong(0), r.getLong(1)))
        .maxBy(e => (e.getLong(3), e.getLong(1))).getDouble(2)
      assert(r.getDouble(2) === want,
        s"user ${r.getLong(0)} day ${r.getLong(1)} not last observation")
    }
  }

  test("w5 rolling anomaly equals a sequential reference; warm-up never flags") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.queries.TimeJoinQueries.rollingAnomaly(spark, sf)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(6))).toMap
    // sequential reference: per user in (us, event_id) order, test each
    // event against its 5 preceding scaled values with the same
    // cross-multiplied variance inequality
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * 1000).cast("long").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    var flagged = 0
    ev.groupBy(_._1).foreach { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._3, r._2))
      ordered.indices.foreach { i =>
        val (_, eid, _, x) = ordered(i)
        val prev = ordered.slice(math.max(0, i - 5), i).map(_._4)
        val n = prev.length.toLong
        val want = n == 5 && {
          val s = prev.sum; val q = prev.map(p => p * p).sum
          val d = n * x - s
          d * d > 4L * (n * q - s * s)
        }
        val (_, _, n5, got) = out(eid)
        assert(n5 === n, s"event $eid preceding count")
        assert(got === want, s"event $eid anomaly flag")
        if (got) flagged += 1
      }
    }
    assert(flagged > 0, "anomaly flag is vacuous on sf0.001")
  }
}
