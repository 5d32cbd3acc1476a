package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** W9 funnel semantics the aggregate grade cannot isolate: strict event
  * ordering (a click BEFORE the first view does not convert), the 24h
  * step expiry, and step independence from later-step noise.
  */
class FunnelSpec extends AnyFunSuite with SparkSuite with TempDirs {

  private val H = 3600000000L // 1h in µs

  /** Events staged through parquet so the funnel query reads its
    * contractual shape (user_id, event_type, ts from µs).
    */
  private def run(rows: Seq[(Long, String, Long)]): Map[String, Long] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-funnel").toString
    rows.toDF("user_id", "event_type", "us")
      .select(col("user_id"), lit(1L).as("event_id"),
        timestamp_micros(col("us")).as("ts"), col("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    graft.queries.CoreQueries.funnelSteps(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("click before the first view never converts; in-order click does") {
    val out = run(Seq(
      (1L, "click", 0L), (1L, "view", 10L),            // click precedes view -> step 1 only
      (2L, "view", 0L), (2L, "click", 10L)))           // converts to step 2
    assert(out === Map("1_view" -> 2L, "2_click" -> 1L, "3_purchase" -> 0L))
  }

  test("steps expire after 24h, measured from the PREVIOUS step") {
    val out = run(Seq(
      (1L, "view", 0L), (1L, "click", 25L * H),                        // click too late
      (2L, "view", 0L), (2L, "click", 23L * H), (2L, "purchase", 48L * H), // purchase 25h after click -> too late
      (3L, "view", 0L), (3L, "click", 23L * H), (3L, "purchase", 46L * H))) // 23h after click -> converts
    assert(out === Map("1_view" -> 3L, "2_click" -> 2L, "3_purchase" -> 1L))
  }

  test("the FIRST qualifying click anchors step 3, not a later one") {
    // first in-window click at 1h; purchase lands 26h after it (expired)
    // even though a second click at 20h would have put it in range —
    // strict first-touch funnel semantics
    val out = run(Seq(
      (1L, "view", 0L), (1L, "click", 1L * H), (1L, "click", 20L * H),
      (1L, "purchase", 27L * H)))
    assert(out === Map("1_view" -> 1L, "2_click" -> 1L, "3_purchase" -> 0L))
  }
}
