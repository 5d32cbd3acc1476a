package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * One quirk: the physical encoding of `events.ts` has drifted across
  * testdata generations, so [[events]] adapts to the schema it actually
  * reads rather than assuming one encoding:
  *
  *   - parquet `TIMESTAMP(NANOS)` (early generations): Spark refuses it
  *     unless `spark.sql.legacy.parquet.nanosAsLong=true` (set by
  *     [[configure]]), after which the column reads as `LongType`
  *     epoch-nanos;
  *   - parquet `TIMESTAMP(MICROS)`, `isAdjustedToUTC=false` (2026-08-13
  *     regen): Spark reads it as `TimestampNTZType` (µs precision).
  *
  * Either way the loader exposes the same logical contract: `ts_ns: Long`
  * epoch-nanos (exact — use for ordering/tie-breaks so results match
  * engines that keep full nanos) and `ts: TimestampType` (µs, UTC) for
  * date/window arithmetic. The NTZ→LTZ cast is exact under the session's
  * UTC timezone ([[configure]]), and `ts_ns = unix_micros(ts) * 1000` is
  * exact because the source has µs precision.
  */
object Tables {

  /** Session configs every graft session needs; call once at session build
    * rather than mutating conf inside loaders (ADVICE r2).
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // µs-encoded events.ts (isAdjustedToUTC=false) then reads as plain
      // TimestampType rather than TIMESTAMP_NTZ: exact under the UTC
      // session timezone, and — the part that matters at 100 TB — range
      // filters on ts stay pushable to the parquet scan, with no NTZ→LTZ
      // cast sitting between the predicate and the physical column.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // ContextCleaner is GC-driven; under a large un-pressured heap the
      // default 30min periodic GC lets shuffle files/broadcasts from a
      // long query sequence (Verify/Bench run ~50 queries in one JVM)
      // accumulate until later queries degrade. Keep the cleaner live.
      .config("spark.cleaner.periodicGC.interval", "30s")

  /** The session every graft main runs on: [[configure]]d, `local[cpus]`
    * with one shuffle partition per core, no UI.
    */
  def localSession(cpus: String, logLevel: String): SparkSession = {
    val spark = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  private val rowCounts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  /** Memoized row count of a STATIC source table — the catalog-statistics
    * role: self-sizing ops (LSH band shaping, sign-LSH granularity) need
    * only the table's cardinality, and re-running a count job per query
    * execution taxes every small query ~0.25 s of pure job overhead
    * (measured at sf0.1 — the d4 profile). A real deployment reads this
    * from catalog stats / parquet footers; the test dirs are immutable by
    * contract (TESTDATA.md), so first-use memoization is exact.
    */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    rowCounts.computeIfAbsent((sfDir, name),
      _ => table(spark, sfDir, name).count()).longValue()

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** events with `ts_ns: Long` (exact) and `ts: Timestamp` (µs, UTC),
    * whatever the physical `ts` encoding (see class doc). The nanosAsLong
    * conf is set as runtime conf too for sessions built without
    * [[configure]] (it is a per-read option in practice, safe to set
    * late) — a no-op on µs-encoded files.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val raw = table(spark, sfDir, "events")
    val adapted = raw.schema("ts").dataType match {
      case LongType => // legacy TIMESTAMP(NANOS) read as epoch-nanos Long
        raw.withColumnRenamed("ts", "ts_ns")
          // integer division — a double intermediate loses precision at 1e18
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case TimestampNTZType | TimestampType => // µs-encoded timestamp
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts read as unsupported type $other in $sfDir")
    }
    // both branches expose identical column order (raw order with ts_ns in
    // ts's slot, ts appended) so positional consumers see one schema
    val legacyOrder = raw.columns.toSeq
      .map(c => if (c == "ts") col("ts_ns") else col(c)) :+ col("ts")
    adapted.select(legacyOrder: _*)
  }
}
