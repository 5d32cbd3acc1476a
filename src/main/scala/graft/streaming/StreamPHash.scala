package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** ST9 — streaming image-ingest dedup: arriving image payloads are
  * perceptually hashed per micro-batch ([[graft.ops.Multimodal.pHashes]],
  * the REAL ImageIO decode) and banded-hamming matched against a STAGED
  * corpus hash table ([[graft.ops.Dedup.hammingMatchesAgainstBands]]) —
  * the multimodal counterpart of st3's text-fingerprint dedup, and the
  * gate a production ingest runs BEFORE admitting an image into a
  * training corpus ("have we already got this picture, or a near-copy?").
  *
  * Scale shape: the corpus side band-explodes ONCE outside `foreachBatch`
  * and pins as materialized blocks (st8's lesson — per-batch re-derivation
  * turns serve cost into fixed planning overhead); each micro-batch pays
  * decode + hash (narrow map) plus one band-keyed equi-join of BATCH
  * bands against corpus bands — never corpus ⋈ corpus — so recurring
  * cost tracks the batch. Stateless: each arrival is answered once,
  * independently, which also makes results batch-split-invariant (the
  * property the oracle's batch replay grades).
  */
object StreamPHash {

  /** Drain `imageStream` (`media_id`, `kind`, `content`) against
    * `corpusHashes` (`doc_id`, `simhash`) into `outDir` as parquet
    * `(batch_id, corpus_id, hamming)`; blocks until the AvailableNow
    * drain finishes.
    */
  def matchArrivals(imageStream: DataFrame, corpusHashes: DataFrame,
                    bits: Int, maxHamming: Int,
                    outDir: String, checkpointDir: String): Unit = {
    val corpusH = corpusHashes.localCheckpoint()
    val corpusValueBands = graft.ops.Dedup
      .hammingValueBands(corpusH, bits, maxHamming)
      .localCheckpoint()
    Drain(imageStream, checkpointDir)(_.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) {
        val hashes = graft.ops.Multimodal
          .pHashes(graft.ops.Multimodal.asMedia(batch)).toDF()
          .select(col("media_id").as("doc_id"), col("phash").as("simhash"))
        graft.ops.Dedup
          .hammingMatchesAgainstBands(hashes, corpusH, corpusValueBands,
            bits, maxHamming)
          .write.mode("append").parquet(outDir)
      }
    })
  }
}
