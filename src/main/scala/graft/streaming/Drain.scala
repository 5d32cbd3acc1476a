package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The one AvailableNow drain every stream in the suite runs: start `df`
  * under `Trigger.AvailableNow` on `checkpointDir`, let `sink` pick the
  * output (a parquet path, a `foreachBatch`, an output mode), and block
  * until every file the source had at start is processed. Output mode is
  * the writer's default, append — the only mode a file sink or a
  * finalize-once watermarked aggregation emits in.
  *
  * [[apply]] is the stateless form and touches no session conf.
  * [[stateful]] adds the state sizing policy, driven by one keyspace
  * estimate (`stateKeys`, a cheap upper proxy such as
  * [[graft.Tables.rowCount]] — only the octave matters):
  *
  *   - `Some(n)`: `spark.sql.shuffle.partitions` is
  *     [[StateSizing.forKeyspace]]`(n, defaultParallelism)` and the state
  *     store provider is [[StateStores.withSizedStore]]'s pick for `n`
  *     (on-heap up to [[StateSizing.OnHeapMaxKeys]], RocksDB above).
  *   - `None`: the session width is left alone and state runs on RocksDB,
  *     the large-state posture for an unknown keyspace.
  *
  * Both are pinned into the checkpoint at its first run, so a restart on
  * an existing checkpoint keeps the width and provider it started with,
  * whatever estimate the restart passes. The session conf is restored
  * after the drain either way.
  */
object Drain {

  type Sink = DataStreamWriter[Row] => DataStreamWriter[Row]

  /** Sink that appends the stream to `outDir` as parquet. */
  def parquet(outDir: String): Sink = _.format("parquet").option("path", outDir)

  def apply(df: DataFrame, checkpointDir: String)(sink: Sink): Unit =
    sink(df.writeStream
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow()))
      .start()
      .awaitTermination()

  def stateful(df: DataFrame, checkpointDir: String, stateKeys: Option[Long])
              (sink: Sink): Unit = {
    val spark = df.sparkSession
    val width = stateKeys.map(n => "spark.sql.shuffle.partitions" ->
      StateSizing.forKeyspace(n, spark.sparkContext.defaultParallelism).toString)
    StateStores.withConfs(spark, width.toSeq) {
      StateStores.withSizedStore(spark, stateKeys)(apply(df, checkpointDir)(sink))
    }
  }
}
