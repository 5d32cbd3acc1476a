package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Streaming k-means assignment serving — the cluster-routing door of an
  * ingest pipeline (route each arriving document's embedding to its
  * topic bucket): centroids train OFFLINE ([[graft.ops.KMeans.lloyd]],
  * a bounded k×dim integer array on the driver) and every micro-batch
  * runs the pure [[graft.ops.KMeans.assign]] projection — no state, no
  * shuffle, no join; the serve cost per batch is exactly one map stage.
  * The st6 (LM gate) / st8 (ANN) posture applied to clustering.
  */
object StreamKMeans {

  /** Drain `embStream` (`vec_id`, `embedding`) through the assignment
    * projection into `outDir` as parquet (`id`, `cluster`, `d2`); blocks
    * until the AvailableNow drain finishes. Per-row independence makes
    * the result batch-split-invariant, so the batch k-means oracle
    * grades the streamed output unchanged.
    */
  def serveAssign(embStream: DataFrame, cents: Seq[Array[Long]],
                  outDir: String, checkpointDir: String): Unit =
    Drain(embStream, checkpointDir)(_.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty)
        graft.ops.KMeans.assign(
            batch.select(col("vec_id").as("id"),
              graft.ops.KMeans.quantize(col("embedding")).as("q")),
            cents)
          .write.mode("append").parquet(outDir)
    })
}
