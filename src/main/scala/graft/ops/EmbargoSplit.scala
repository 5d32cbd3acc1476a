package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.IpFunctions.local_ip
import graft.functions.NameFunctions.{basename, fileDateInt}
import graft.io.{TgzSink, TgzSource}
import graft.model.{Schemas, TarEntry}

/** E1 — THE embargo pipeline (`/root/reference/embargo.go:125-220`):
  * explode archives → P2 regular-file filter → P3 routing predicate with the
  * J1 whitelist membership → repack per-archive public/private pairs.
  *
  * The whole job is one narrow stage: the route column is a projection
  * (membership is an [[InWhitelist]] test of the driver-held [[Whitelist]]), so each
  * archive's entries stay in the task that read them (order intact),
  * [[TgzSink.writeSplit]] needs no shuffle and the day-batch parallelizes
  * purely by archive — the unit the reference looped over serially
  * (`/root/reference/embargo.go:278-291`).
  */
object EmbargoSplit {

  /** P3+J1 — classify each regular entry `public`/`private`
    * (`/root/reference/embargo.go:174`): public iff the ARCHIVE is older
    * than `cutoffDateInt` (P4/P5), OR the entry basename is not a web100
    * file, OR its extracted local IP (F1) is whitelisted. `local_ip` is
    * coalesced through `""` so the OR never sees a null under
    * three-valued logic.
    *
    * The plan is one filter and one projection: the entry columns in
    * order, then `local_ip` and `route`. The basename and local IP each
    * appear twice in it and are computed once per row by the projection's
    * common-subexpression elimination.
    *
    * The age arm reads the ARCHIVE's date, never the entry's own: the
    * reference computes `moreThanOneYear` once per archive — from the day
    * being processed (`embargo.go:272-277`) or the archive basename's
    * first 8 chars (`embargo.go:306-308`) — and threads it into
    * `SplitFile` as a constant for every entry (`embargo_test.go:69`
    * passes it explicitly). An entry dated earlier than its archive (late
    * rotation) must NOT publish early by its own timestamp — fixture 2
    * plants exactly that entry to pin this. Deriving the per-archive
    * boolean from each row's `archive` column is the same decision,
    * generalized so one Dataset can carry archives from many days (the
    * day loop's unit of parallelism).
    *
    * Membership compares CANONICAL IP forms on both sides
    * ([[graft.functions.IpFunctions.canonicalIp]]; see [[Whitelist]]). This
    * is an INTENTIONAL DIVERGENCE from the reference: `CheckInWhiteList`
    * (`/root/reference/embargo_check.go:103-108`) does a literal map lookup
    * of the Go-canonical filename IP against the RAW whitelist strings, so
    * a whitelist entry spelled non-canonically (`2001:DB8:0:0:0:0:0:1`)
    * silently never matches there — the file stays embargoed even though
    * the operator whitelisted its IP. Canonicalizing both sides makes every
    * spelling of a whitelisted address match. The divergence only ever
    * routes MORE files public than the reference, and only for addresses
    * the operator explicitly listed — the intended semantics of the
    * whitelist, so acceptable under the embargo safety contract (an IP is
    * either listed or not; its textual spelling is not a security
    * boundary). Invalid whitelist lines canonicalize to "" and are not in
    * the set, so they can never meet a malformed filename's empty
    * local_ip.
    */
  def route(entries: Dataset[TarEntry], whitelist: Whitelist,
            cutoffDateInt: Int): DataFrame = {
    val base = basename(col("name"))
    val localIp = coalesce(local_ip(base), lit(""))
    entries.where(col("typeflag") === "0").select(col("*"),
      localIp.as("local_ip"),
      when(fileDateInt(basename(col("archive"))) < lit(cutoffDateInt)
        || !base.contains("web100")
        || whitelist.contains(entries.sparkSession, localIp), Schemas.RoutePublic)
        .otherwise(Schemas.RoutePrivate).as("route"))
  }

  /** [[route]] with the whitelist as a DataFrame with one `wip` column
    * (such as [[graft.io.Sites.whitelist]] gives), loaded by
    * [[Whitelist.fromFrame]]'s bounded collect.
    */
  def route(entries: Dataset[TarEntry], whitelist: DataFrame,
            cutoffDateInt: Int): DataFrame =
    route(entries, Whitelist.fromFrame(whitelist), cutoffDateInt)

  /** Per-route file/byte counts over all routed entries — matches the golden
    * split cardinalities (145 public / 59 private for the fixture,
    * `/root/reference/embargo_test.go:54-90`). The reference's
    * `embargo_file_total{dataset,status}` metric
    * (`/root/reference/metrics/metrics.go:45-51`) is the web100-only subset.
    */
  def fileCounts(routed: DataFrame): DataFrame =
    routed.groupBy("route")
      .agg(count(lit(1)).as("n_files"), sum(col("size")).as("n_bytes"))

  /** End-to-end day/file run: split every archive under `inPath` into
    * `-p`/`-e` pairs under `outDir` (`/root/reference/embargo.go:228-241`).
    */
  def run(spark: SparkSession, inPath: String, whitelistPath: String,
          cutoffDateInt: Int, outDir: String): Unit =
    runWith(spark, inPath, Whitelist.fromText(spark, whitelistPath),
      cutoffDateInt, outDir, outDir)

  /** [[run]] with the whitelist supplied as a DataFrame (one `wip` column)
    * instead of a text path, loaded by [[Whitelist.fromFrame]].
    */
  def runWith(spark: SparkSession, inPath: String, whitelist: DataFrame,
              cutoffDateInt: Int, outDir: String): Map[String, Long] =
    runWith(spark, inPath, Whitelist.fromFrame(whitelist), cutoffDateInt,
      outDir, outDir)

  /** Split every archive under `inPath` — a single archive, a directory,
    * or a glob: a whole day splits as ONE job whose task parallelism is
    * the per-archive explode — committing each public half under
    * `publicDir` and each `-e.tgz` half under `privateDir` (see
    * [[TgzSink]]); concurrent calls into the same roots are safe. The
    * whitelist is the caller's driver-held value ([[Service]] keeps it as
    * service state, the reference's in-memory list,
    * `/root/reference/embargo.go:94-101`), so the split runs the write
    * job and nothing else: the driver publishes the halves.
    *
    * Returns this call's [[Metrics.RoutedTally]] sums, counted by the write
    * job's tasks; [[Service]] folds them into the counters `/metrics` serves.
    */
  def runWith(spark: SparkSession, inPath: String, whitelist: Whitelist, cutoffDateInt: Int,
              publicDir: String, privateDir: String): Map[String, Long] =
    TgzSink.writeSplit(route(TgzSource.entries(spark, inPath), whitelist, cutoffDateInt),
      publicDir, privateDir, Metrics.RoutedTally)
}
