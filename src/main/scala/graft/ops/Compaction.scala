package graft.ops

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** S19 — small-file compaction, the lake-maintenance op every long-lived
  * table needs: streaming sinks and incremental batches accrete files far
  * below the row-group size scans want (the SCALING.md sweep measured the
  * inverse lesson — ONE giant file serializes the scan; thousands of tiny
  * ones drown it in per-file open/footer overhead and, on object stores,
  * per-object request cost). Compaction rewrites a directory into
  * `ceil(totalBytes / targetBytes)` range-clustered files.
  *
  * `repartitionByRange(sortCol)` + `sortWithinPartitions` does double
  * duty: files come out size-targeted AND key-clustered, so every output
  * file covers a disjoint `sortCol` range and parquet min/max stats prune
  * file- and row-group-level on that key — compaction and layout
  * optimization in one pass (the poor man's OPTIMIZE ... ZORDER for the
  * single-key case). One range shuffle of the table, no driver
  * materialization beyond the size listing.
  */
object Compaction {

  /** Refuse overlapping in/out dirs (an overwrite-mode write into — or
    * OVER, an ancestor outDir recursively deletes the input before the
    * lazy scan reads it — the directory being read truncates the input
    * mid-scan). Compares FULLY QUALIFIED forms (review r16):
    * makeQualified resolves scheme/authority and relative paths against
    * the FS default, and URI.normalize collapses '.'/'..' segments, so the
    * same directory spelled two ways cannot slip past a raw string-prefix
    * test.
    * (Symlinked aliases on a local FS remain the caller's
    * responsibility — no portable resolution exists across Hadoop
    * filesystems.)
    */
  private def requireDisjoint(spark: SparkSession, inDir: String,
                              outDir: String): Unit = {
    def qualified(p: String): String = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(hp).toUri.normalize().toString
    }
    val inN = qualified(inDir).stripSuffix("/") + "/"
    val outN = qualified(outDir).stripSuffix("/") + "/"
    require(!inN.startsWith(outN) && !outN.startsWith(inN),
      s"inDir ($inDir) and outDir ($outDir) overlap")
  }

  /** ceil(totalBytes / targetBytes), the shared output-file-count rule. */
  private def targetFileCount(spark: SparkSession, inDir: String,
                              targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes $targetBytes must be positive")
    val totalBytes = graft.io.FsOps.parquetBytes(spark, inDir)
    math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
  }

  /** Rewrite parquet `inDir` into `outDir` as size-targeted, range-
    * clustered files; returns the file count actually written — at most
    * `ceil(totalBytes/targetBytes)`, fewer when range sampling leaves
    * empty partitions (heavy skew / few distinct keys emit no file).
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetBytes: Long, sortCol: String): Int = {
    requireDisjoint(spark, inDir, outDir)
    val n = targetFileCount(spark, inDir, targetBytes)
    spark.read.parquet(inDir)
      .repartitionByRange(n, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(outDir)
    graft.io.FsOps.objects(spark, outDir, ".parquet").size
  }

  /** Spread the low 16 bits of `x` to even bit positions (Morton
    * expansion) — the standard shift-and-mask cascade, pure codegen
    * bitwise ops on longs.
    */
  private def spread16(x: Column): Column = {
    val s1 = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x00FF00FFL))
    val s2 = (s1.bitwiseOR(shiftleft(s1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = (s2.bitwiseOR(shiftleft(s2, 2))).bitwiseAND(lit(0x33333333L))
    (s3.bitwiseOR(shiftleft(s3, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** Morton/Z-order interleave of two 16-bit values (`a` in even bits,
    * `b` in odd): nearby (a, b) points share long z-key prefixes, so
    * RANGE-partitioning the z-key yards rows into files whose min/max
    * stats bound BOTH columns — the property multi-column file pruning
    * needs and single-key clustering cannot provide (the second column's
    * per-file range stays the full domain). Inputs must already be
    * scaled to 0..65535.
    */
  def zOrderKey(a16: Column, b16: Column): Column =
    spread16(a16).bitwiseOR(shiftleft(spread16(b16), 1))

  /** [[compact]]'s multi-column form — OPTIMIZE ... ZORDER BY (a, b) for
    * bare-directory parquet: rewrite `inDir` into size-targeted files
    * range-clustered on the Morton interleave of the two INTEGER key
    * columns (each scaled to 16 bits by integer arithmetic from its
    * min/max — one bounds aggregate, exact on longs). Same one-shuffle
    * cost as single-key compaction; what changes is only WHICH key the
    * range partitioner sees. Point/range queries on EITHER column (or
    * both) then prune files by parquet min/max stats instead of reading
    * everything — at lake scale the difference between scanning ~√F of F
    * files and scanning all of them on the second key.
    */
  def compactZOrder(spark: SparkSession, inDir: String, outDir: String,
                    targetBytes: Long, colA: String, colB: String): Int = {
    requireDisjoint(spark, inDir, outDir)
    val df = spark.read.parquet(inDir)
    val b = df.agg(min(col(colA)).cast("long"), max(col(colA)).cast("long"),
      min(col(colB)).cast("long"), max(col(colB)).cast("long")).collect()(0)
    // overflow-free 16-bit scaling (review r16: `(x - lo) * 65535` wraps
    // for ranges past ~1.4e14 — hash ids, epoch nanos): divide by the
    // BUCKET WIDTH instead, w = range div 65536 + 1, so rank =
    // (x - lo) div w ∈ [0, 65535] with no multiplication anywhere
    // typed Column arithmetic throughout (ADVICE r16): an expr() string
    // rendering of lo == Long.MinValue produces `- -9223372036854775808L`,
    // whose bare positive literal overflows the parser; lit(lo) cannot,
    // and col(cname) sidesteps identifier quoting
    def rank(cname: String, lo: Long, hi: Long): Column =
      if (hi == lo) lit(0L)
      else if (hi - lo < 0L)
        // range itself overflows Long (near-full-domain keys — 64-bit
        // hashes): rank by the top 16 bits, i.e. (x − Long.MinValue) >>> 48,
        // monotone and in [0, 65535]
        shiftright(col(cname).cast("long"), 48) + lit(32768L)
      else {
        val w = ((hi - lo) >>> 16) + 1L // positive-only; range div 65536 + 1
        // IntegralDivide (`div`): true 64-bit division — Column./ would go
        // through Double and can round across a bucket boundary past 2^53
        import org.apache.spark.sql.graft.bridge.{column, expression}
        column(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
          expression(col(cname).cast("long") - lit(lo)), expression(lit(w))))
      }
    val n = targetFileCount(spark, inDir, targetBytes)
    df.withColumn("__z",
        zOrderKey(rank(colA, b.getLong(0), b.getLong(1)),
          rank(colB, b.getLong(2), b.getLong(3))))
      .repartitionByRange(n, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)
    graft.io.FsOps.objects(spark, outDir, ".parquet").size
  }

  /** S25 — snapshot retention (the Delta `VACUUM` / Iceberg
    * `expire_snapshots` role over the st15-style version chain
    * `chainDir/v0 … vN`): keep the newest `keep` version directories,
    * delete every older one AND any root-level entry that belongs to no
    * version (the leftover of a failed write — exactly what a lake
    * vacuum exists to reclaim). Time travel (q12) works up to the
    * retention horizon and not past it, by construction.
    *
    * Orphan deletion is restricted to the transient write-artifact
    * suffixes a chain write can actually leave behind (`.inprogress`,
    * `.tmp`, `_temporary`, `.crc`) — a vacuum pointed one directory too
    * high must NOT wipe unrelated assets that merely share the root
    * (review r19). Hidden engine markers (`_SUCCESS` and any other
    * `_`/`.`-prefixed name) are skipped untouched — benign metadata must
    * not wedge retention (review r20). Unknown VISIBLE non-version
    * entries still fail loudly before the first delete.
    *
    * Pure driver-side filesystem metadata work — version count entries,
    * never data rows, so it costs the same at 100 TB as at test scale
    * (the data deletion is the store's bulk delete). Returns the
    * surviving version numbers, ascending.
    */
  def expireSnapshots(spark: SparkSession, chainDir: String, keep: Int): Seq[Int] = {
    require(keep >= 1, s"expireSnapshots: keep ($keep) must be >= 1")
    val root = new org.apache.hadoop.fs.Path(chainDir)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vPat = "^v(\\d+)$".r
    val entries = f.listStatus(root)
    val versions = entries.flatMap(e => e.getPath.getName match {
      case vPat(n) if e.isDirectory => Some(n.toInt)
      case _ => None
    }).sorted.toSeq
    require(versions.nonEmpty, s"expireSnapshots: no v* dirs under $chainDir")
    val live = versions.takeRight(keep).toSet
    val transient = Seq(".inprogress", ".tmp", ".crc")
    val classified = entries.map { e =>
      val name = e.getPath.getName
      val (keepIt, deletable) = name match {
        case vPat(n) => (e.isDirectory && live(n.toInt), true)
        case _ if name == "_temporary" || transient.exists(name.endsWith) =>
          // orphan transient write artifacts: ours to reclaim
          (false, true)
        case _ =>
          // engine markers (`_SUCCESS`, any other `_`/`.`-prefixed name —
          // the convention Spark itself treats as hidden metadata) are
          // BENIGN: skip them rather than letting a stray _SUCCESS at the
          // chain root permanently wedge retention (review r20). Anything
          // visible and unknown still refuses. The skip is LOGGED with
          // the entry's size (ADVICE r20): a hidden directory holding a
          // crashed writer's leftovers is deliberately left behind, and
          // operators should be able to see what retention is not
          // reclaiming instead of it vanishing from every report.
          val hidden = graft.io.FsOps.hidden(name)
          if (hidden && !(name == "_SUCCESS" && e.getLen == 0))
            org.apache.logging.log4j.LogManager.getLogger(getClass)
              .warn(s"expireSnapshots: leaving hidden entry ${e.getPath} " +
                s"(${if (e.isDirectory) "dir" else s"${e.getLen} bytes"}) " +
                "in place — not a version dir, not reclaimed")
          (hidden, false)
      }
      (e.getPath, keepIt, deletable)
    }
    // A non-version, non-transient entry means the caller pointed the
    // vacuum at a directory that is not (only) a version chain —
    // refusing BEFORE the first delete is recoverable, an irreversible
    // wipe is not (review r19). Validate everything, then delete.
    classified.foreach { case (p, keepIt, deletable) =>
      require(keepIt || deletable,
        s"expireSnapshots: refusing to delete non-chain entry $p" +
          " — chainDir must contain only v<N> dirs and transient artifacts")
    }
    classified.foreach { case (p, keepIt, _) =>
      // FileSystem.delete reports failure by RETURNING false on some
      // filesystems (permissions, concurrent access) — an unenforced
      // retention horizon must fail loudly, not report the version gone
      if (!keepIt) require(f.delete(p, true),
        s"expireSnapshots: could not delete $p")
    }
    versions.filter(live)
  }
}
