package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ST5 — stream-stream inner join with a time-range constraint: the
  * attribution shape (purchases within a window after a click, impressions
  * joined to conversions, requests to responses). Both sides are
  * watermarked and the join condition carries an event-time bound, which
  * is what lets the engine EVICT state: a buffered click can only match
  * purchases in `[click_ts, click_ts + window)`, so once the watermark
  * passes that range the row leaves the state store — without the bound,
  * both sides buffer forever. Inner-join matches emit as soon as both
  * rows have arrived (no sentinel needed to flush); the watermark governs
  * state size and late-row admission, not emission.
  */
object StreamJoin {

  /** Clicks ⋈ purchases per user with `purchase_ts ∈ [click_ts,
    * click_ts + window)`. Column names are disambiguated before the join
    * (both sides carry ts/event_id). Works identically on batch frames —
    * the backfill path of the same code.
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      window: String, delay: String): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", delay)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", delay)
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") + expr(s"INTERVAL $window"))
      .select(col("click_id"), col("purchase_id"), col("user_id"))
  }

  /** ST18 — the LEFT-OUTER form of [[attributionJoin]]: every click
    * emits, matched rows as they pair up, UNMATCHED clicks as
    * null-extended rows only AFTER the watermark closes their window
    * (`click_ts + window + delay`) — the null-emission timing that
    * breaks naive ports (emit-on-sight double-counts a click whose
    * purchase is still in flight; never-emit loses it). The same
    * time-range bound that evicts inner-join state is what DEFINES the
    * outer emission point: state closure IS the "no match can still
    * arrive" proof. Works identically on batch frames as a plain left
    * join — the backfill path of the same code.
    */
  def attributionJoinOuter(clicks: DataFrame, purchases: DataFrame,
                           window: String, delay: String): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", delay)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", delay)
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") + expr(s"INTERVAL $window"),
      "left_outer")
      .select(col("click_id"), col("purchase_id"), col("user_id"))
  }

  /** Drain a streaming attribution join into `outDir` as parquet; blocks
    * until the AvailableNow drain completes. `outer` selects
    * [[attributionJoinOuter]]; `stateKeys` sizes the join state as in
    * [[StreamDedup.distinctFingerprints]].
    */
  def drainAttribution(clicks: DataFrame, purchases: DataFrame,
                       window: String, delay: String,
                       outDir: String, checkpointDir: String,
                       outer: Boolean = false,
                       stateKeys: Option[Long] = None): Unit = {
    val joined =
      if (outer) attributionJoinOuter(clicks, purchases, window, delay)
      else attributionJoin(clicks, purchases, window, delay)
    Drain.stateful(joined, checkpointDir, stateKeys)(Drain.parquet(outDir))
  }
}
