package graft.streaming

import org.apache.spark.sql.DataFrame

/** ST6 — streaming model serving: score a document stream against a
  * batch-trained broadcast LM ([[graft.ops.LmScore]]) — the
  * train-once/serve-stream deployment of the t13 perplexity gate, which
  * is how a quality filter actually runs at ingest (the model retrains
  * offline on a corpus snapshot; arriving documents are gated online).
  *
  * Scale shape: the stream side is STATELESS — a pure per-micro-batch
  * map against the broadcast model, no state store, no shuffle, no
  * watermark. That is the entire point: of the streaming suite, st3-st5
  * exercise cross-batch state; st6 pins the serve-a-model pattern where
  * ingest throughput is bounded only by the scoring map.
  */
object StreamScore {

  /** Drain `stream` (a streaming DataFrame with `doc_id` and lowercased
    * `t` columns) through the LM scorer into `outDir` as parquet
    * `(doc_id, nll, keep)`; blocks until the AvailableNow drain finishes.
    */
  def scoreDocs(stream: DataFrame, model: graft.ops.LmScore.BigramModel,
                outDir: String, checkpointDir: String): Unit = {
    val spark = stream.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    val scored = stream.as[(Long, String)].mapPartitions { rows =>
        val m = bc.value
        rows.map { case (id, t) => graft.ops.LmScore.score(m, id, t) }
      }.toDF("doc_id", "nll", "keep")
    Drain(scored, checkpointDir)(Drain.parquet(outDir))
  }
}
