package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Stateful stream processing over the events table shape (SURVEY §2.7
  * extensions): gap-based sessionization with watermarked session windows,
  * and a custom keyed state operator via `mapGroupsWithState` — the two
  * Structured Streaming primitives a training-data ingest pipeline uses for
  * user/session rollups. Both run identically under `Trigger.AvailableNow`
  * incremental drains (no wall-clock dependence).
  */
object EventSessions {

  /** Gap-based sessions: one row per (user, session) with bounds and
    * aggregates. `session_window` works for batch DataFrames too — the same
    * code serves backfill and streaming; in streaming mode pair with
    * [[withLateDataBound]] so state is reclaimed.
    */
  def sessionize(events: DataFrame, gap: String = "10 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("session"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("user_id"), col("session.start").as("session_start"),
        col("session.end").as("session_end"), col("n_events"), col("total_value"))

  /** Watermark wrapper for streaming use: bounds state by `delay` of event
    * time (late rows beyond it are dropped deterministically).
    */
  def withLateDataBound(events: DataFrame, delay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", delay)

  /** Input/record shapes for the custom-state operator. */
  final case class Event(user_id: Long, ts_ms: Long, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double,
                               last_ts_ms: Long)

  /** Streaming exact dedup: drop events whose id was already seen, with
    * state bounded by the watermark (the streaming counterpart of the
    * batch dedup suite — late duplicates beyond `delay` age out of the
    * state store instead of growing it forever).
    */
  def dedupStream(events: DataFrame, idCols: Seq[String],
                  delay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Drain [[dedupStream]] into `outDir` as parquet; blocks until the
    * AvailableNow drain finishes. `stateKeys` sizes the state store as in
    * [[StreamDedup.distinctFingerprints]].
    */
  def drainDedup(events: DataFrame, idCols: Seq[String], delay: String,
                 outDir: String, checkpointDir: String,
                 stateKeys: Option[Long] = None): Unit =
    Drain.stateful(dedupStream(events, idCols, delay), checkpointDir,
      stateKeys)(Drain.parquet(outDir))

  /** ST16 — drain [[sessionize]] as a STREAM: the same gap-session
    * aggregation maintained incrementally with session-window state
    * (merging an arriving event into its user's open session, fusing
    * sessions the event bridges), finalized exactly once by the
    * append-mode watermark when it passes a session's close (last event
    * + gap). Blocks until the AvailableNow drain finishes. State is
    * sized from `stateKeys` as in [[drainDedup]]; state here is
    * USER-sized (one open session per quiet user), so a static-table
    * proxy passed as `stateKeys` is an upper octave.
    */
  def drainSessions(events: DataFrame, gap: String, delay: String,
                    outDir: String, checkpointDir: String,
                    stateKeys: Option[Long] = None): Unit =
    Drain.stateful(sessionize(withLateDataBound(events, delay), gap),
      checkpointDir, stateKeys)(Drain.parquet(outDir))

  /** Custom keyed state: per-user running totals maintained across
    * micro-batches with `mapGroupsWithState` — the `KeyValueGroupedDataset`
    * state-store path (what the reference's in-memory singleton state would
    * become on Spark, but fault-tolerant and partitioned).
    */
  def runningTotals(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0, Long.MinValue))
          val next = batch.foldLeft(prev) { (acc, e) =>
            UserRunning(userId, acc.n_events + 1,
              acc.total_value + e.value, math.max(acc.last_ts_ms, e.ts_ms))
          }
          state.update(next)
          next
      }
  }
}
