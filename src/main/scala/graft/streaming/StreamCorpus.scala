package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{fingerprint, wsTokens}

/** C3 — the streaming ingest door, composed: LM perplexity gate (st6's
  * broadcast-model serve) → cross-batch exact dedup on the text
  * fingerprint (st3's state-store dropDuplicates) inside ONE AvailableNow
  * drain. What c1 proves in batch — gate, dedup, shard-pack — this runs
  * in the shape production ingest actually has: documents arrive in
  * micro-batches, quality-gate statelessly against the offline-trained
  * model, and new-vs-seen is decided against fingerprint state that
  * SURVIVES batch boundaries, so a duplicate arriving days after its
  * original still drops at the door. Shard packing happens on drain
  * close, batch-side, over the drained survivors (packing needs the
  * global prefix sum — a bounded post-drain step, not stream state).
  *
  * Output rows are `(fp, n_tokens)` — fingerprint-keyed on purpose: which
  * doc_id among exact duplicates survives depends on arrival order, but
  * the fingerprint and its whitespace-token count are invariant across
  * members of a duplicate class (canonicalization collapses exactly the
  * whitespace/case differences tokenization ignores), so the drained set
  * is deterministic and batch-replayable however files land in batches.
  *
  * Scale shape: the gate is a per-batch map against a broadcast model (no
  * state); dedup state is keys-only, sized by [[StateSizing]]; nothing in
  * the stream holds more than the fingerprint keyspace.
  */
object StreamCorpus {

  /** Drain `stream` (a streaming DataFrame with `doc_id`, `text`) through
    * gate → fingerprint-dedup into `outDir` as parquet `(fp, n_tokens)`;
    * blocks until the AvailableNow drain finishes.
    */
  def drainGateDedup(stream: DataFrame, model: graft.ops.LmScore.BigramModel,
                     outDir: String, checkpointDir: String,
                     stateKeys: Option[Long] = None): Unit = {
    val spark = stream.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    // the gate mirrors batch t13 exactly (same lowercasing, same scoring
    // fold, same 1.70 threshold) — stream keep ≡ batch keep is what makes
    // the drained set oracle-replayable
    val gated = stream
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"), col("text"), lower(col("text")).as("t"))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        val m = bc.value
        rows.flatMap { case (id, text, t) =>
          val (_, _, keep) = graft.ops.LmScore.score(m, id, t)
          if (keep == 1L) Some(Tuple1(text)) else None
        }
      }.toDF("text")
      .select(fingerprint(col("text")).as("fp"),
        size(wsTokens(col("text"))).cast("long").as("n_tokens"))
      .dropDuplicates(Seq("fp"))
    Drain.stateful(gated, checkpointDir, stateKeys)(Drain.parquet(outDir))
  }
}
