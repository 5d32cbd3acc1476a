package graft.streaming

/** Keyspace-driven sizing for streaming state partitions — the width
  * [[Drain.stateful]] gives every stateful drain ([[StreamDedup]],
  * [[EventSessions]], [[StreamJoin]], [[WindowedAgg]], [[StreamCorpus]])
  * from its `stateKeys` estimate, derived instead of hard-coded, the way
  * [[graft.ops.LshSizing]] self-sizes LSH bands.
  *
  * The tradeoff the rule encodes: state partition count is FROZEN into a
  * streaming checkpoint (Spark pins `spark.sql.shuffle.partitions` for
  * stateful operators at first run), so it must be chosen for the
  * KEYSPACE the deployment will carry, not for the first micro-batch.
  * Too few partitions and every micro-batch funnels its state lookups
  * through a handful of RocksDB instances (SCALING.md measured st7 at
  * sf1 pushing ~1M keys through the graded-scale 2 partitions); too many
  * and a small drain pays per-instance open/commit/changelog overhead on
  * near-empty stores every trigger.
  *
  * Rule: one partition per [[KeysPerPartition]] keys — at the default
  * 2¹⁸ ≈ 262k keys and ~100-200 bytes of RocksDB footprint per dedup
  * key, a partition's state stays in the tens of MB, comfortably
  * memory-resident per store — clamped to ≥ 2 (so cross-partition state
  * exchange is exercised even at toy scale) and ≤ 4× the parallelism
  * (more stores than cores just multiplies commit overhead). The key
  * count only needs the right OCTAVE: callers pass a cheap upper proxy
  * (a memoized static-table count — [[graft.Tables.rowCount]]) as
  * `stateKeys`, and the same estimate picks the state store provider
  * ([[StateStores.withSizedStore]]).
  */
object StateSizing {

  /** Target keys per state partition (2¹⁸). */
  val KeysPerPartition: Long = 1L << 18

  /** Keyspace bound for the ON-HEAP state store provider
    * ([[StateStores.withSizedStore]]): 2²⁰ ≈ 1M keys at the same
    * ~100-200 B/key footprint the partition rule above assumes is
    * ≲ 200 MB of total state — comfortably heap-resident on any
    * reasonable executor, two orders below where on-heap state pressure
    * starts to matter on multi-GB heaps. Above it, state belongs in
    * RocksDB (bounded block cache, SSD-backed). One octave-accurate
    * `stateKeys` estimate drives both rules ([[Drain.stateful]]).
    */
  val OnHeapMaxKeys: Long = 1L << 20

  /** Partition count for a keyspace of `nKeys` under `parallelism`
    * cores: `clamp(ceil(nKeys / 2^18), 2, 4·parallelism)`.
    */
  def forKeyspace(nKeys: Long, parallelism: Int): Int = {
    // clamp in Long space BEFORE narrowing — a web-scale key count would
    // otherwise wrap .toInt and silently size to the floor
    val want = (nKeys + KeysPerPartition - 1) / KeysPerPartition
    val cap = math.max(2L, parallelism.toLong * 4)
    math.max(2L, math.min(want, cap)).toInt
  }
}
