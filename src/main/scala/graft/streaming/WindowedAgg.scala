package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ST4 — watermarked tumbling-window aggregation: the canonical streaming
  * rollup (events/min by type, bytes/hour by host, …). Windows are
  * epoch-aligned buckets of `window` length; the watermark bounds both
  * state (closed windows are evicted) and lateness (rows older than
  * `delay` behind the stream's max event time are dropped
  * deterministically). In append mode a window row is emitted exactly
  * once — when the watermark passes the window end — which is what makes
  * a file sink possible: finalized rows only, no in-place updates.
  */
object WindowedAgg {

  /** Per-(tumbling-window, event_type) count + exact-decimal value sum.
    * Works for batch frames too (same code, backfill = stream replay);
    * `win_us` is the window start as epoch µs — the engine-portable basis
    * the other time queries use.
    */
  def tumblingCounts(events: DataFrame, window: String, delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(unix_micros(col("window.start")).as("win_us"), col("event_type"),
        col("n_events"), col("total_value"))

  /** ST10 — streaming trending top-k: maintain, incrementally, the k most
    * frequent event types of every closed window (the trending-dashboard
    * materialization). Rides the append-mode watermark contract: ALL of a
    * window's groups finalize in the same micro-batch (eviction happens
    * when the global watermark passes the window end), so a per-window
    * rank INSIDE `foreachBatch` sees the complete window — no cross-batch
    * rank state needed, and each window's top-k is appended to the sink
    * exactly once. The rank window partitions by `win_us` over the
    * finalized slice only (batch-sized, not corpus-sized).
    */
  def drainTrendingTopK(stream: DataFrame, window: String, delay: String,
                        k: Int, outDir: String, checkpointDir: String,
                        stateKeys: Option[Long] = None): Unit =
    Drain.stateful(tumblingCounts(stream, window, delay), checkpointDir,
      stateKeys)(
      _.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val byWin = org.apache.spark.sql.expressions.Window
            .partitionBy("win_us")
            .orderBy(col("n_events").desc, col("event_type").asc)
          batch.withColumn("rank", row_number().over(byWin).cast("long"))
            .filter(col("rank") <= k)
            .select("win_us", "event_type", "n_events", "rank")
            .write.mode("append").parquet(outDir)
        }
        ()
      })

  /** Drain the windowed aggregation of `stream` into `outDir` as parquet
    * (append mode — finalized windows only); blocks until the
    * AvailableNow drain completes. `stateKeys` sizes the state store as
    * in [[StreamDedup.distinctFingerprints]]: window-agg state is one row
    * per open (window, type) group, so the per-micro-batch state-store
    * commit cost wants few partitions, not cluster-width.
    */
  def drainTumbling(stream: DataFrame, window: String, delay: String,
                    outDir: String, checkpointDir: String,
                    stateKeys: Option[Long] = None): Unit =
    Drain.stateful(tumblingCounts(stream, window, delay), checkpointDir,
      stateKeys)(Drain.parquet(outDir))

  /** ST14 — streaming OHLC resample (w8's bars maintained at the ingest
    * door): `min_by`/`max_by` over the `(us, event_id)` total order are
    * DECLARATIVE aggregates with constant per-group state, so the
    * open/close extremes maintain incrementally per open (window, type)
    * group — no per-event buffering, the property that makes OHLC a
    * streaming-safe rollup — and finalize exactly once on window close
    * under the append-mode watermark contract. Output schema matches the
    * batch `w8_ohlc_resample` exactly, so stream ≡ batch is gradable
    * against the same oracle.
    */
  /** The ST14 aggregation — public so the spec drives it through a
    * MemoryStream like [[tumblingCounts]]; works for batch frames too.
    */
  def tumblingOhlc(events: DataFrame, window: String, delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .withColumn("us", unix_micros(col("ts")))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(
        min_by(col("value"), struct(col("us"), col("event_id"))).as("open_value"),
        max(col("value")).as("high_value"),
        min(col("value")).as("low_value"),
        max_by(col("value"), struct(col("us"), col("event_id"))).as("close_value"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_us"), col("event_type"),
        col("open_value"), col("high_value"), col("low_value"),
        col("close_value"), col("n_events"), col("sum_value"))

  def drainTumblingOhlc(stream: DataFrame, window: String, delay: String,
                        outDir: String, checkpointDir: String,
                        stateKeys: Option[Long] = None): Unit =
    Drain.stateful(tumblingOhlc(stream, window, delay), checkpointDir,
      stateKeys)(Drain.parquet(outDir))

  /** ST12 — streaming per-window approximate distinct: HLL++
    * (`approx_count_distinct`) inside the watermarked windowed
    * aggregation. Exact `COUNT(DISTINCT)` is UNSUPPORTED in streaming
    * (it would need the full per-window key set in state); the sketch is
    * the only windowed-distinct shape a stream can run — fixed-size
    * state per open window, mergeable across micro-batches, finalized
    * exactly once by the append-mode watermark contract (the a5
    * trade-off made mandatory by streaming semantics rather than chosen
    * for shuffle volume).
    */
  def drainTumblingDistinct(stream: DataFrame, keyCol: String, window: String,
                            delay: String, rsd: Double, outDir: String,
                            checkpointDir: String,
                            stateKeys: Option[Long] = None): Unit =
    Drain.stateful(stream
        .withWatermark("ts", delay)
        .groupBy(org.apache.spark.sql.functions.window(col("ts"), window))
        .agg(approx_count_distinct(col(keyCol), rsd).as("n_hll"))
        .select(unix_micros(col("window.start")).as("win_us"), col("n_hll")),
      checkpointDir, stateKeys)(Drain.parquet(outDir))
}
