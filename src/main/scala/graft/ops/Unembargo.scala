package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.io.FsOps

/** E2 — the unembargo promotion (`/root/reference/unembargo.go:86-175`):
  * one year after embargo, copy a day's private archives from the embargo
  * store to the public archive store, overwriting any existing object of
  * the same name (copy-with-overwrite = the J3 last-writer-wins upsert at
  * the object level; 3-case rationale `/root/reference/unembargo.go:4-28`).
  *
  * Spark-first shape: the relational half (which objects to move — the
  * anti/overwrite split) is a DataFrame computation over two listings; the
  * data motion is per-object filesystem copy (server-side where the store
  * supports it), parallelized with `foreachPartition` instead of the
  * reference's serial page loop.
  */
object Unembargo {

  /** P6 date-range validation (`/root/reference/unembargo.go:145-147,158`). */
  def validDate(dateInt: Int, cutoffDateInt: Int): Boolean =
    dateInt > 20160000 && dateInt <= 21000000 && dateInt <= cutoffDateInt

  /** A day's object prefix in either store: `sidestream/yyyy/mm/dd`. */
  def dayPrefix(dateInt: Int): String =
    f"sidestream/${dateInt / 10000}%04d/${dateInt / 100 % 100}%02d/${dateInt % 100}%02d"

  /** Promote one day: every `-e.tgz` under the day prefix in `srcDir` is
    * copied into `dstDir` (overwrite). Returns (copied, overwritten). An
    * absent source day is the reference's empty listing: it returns
    * (0, 0) and creates no public day dir.
    *
    * The copy plan (J3 overwrite-join of the two listings) never leaves the
    * cluster: counts come from an aggregate, the object copies run
    * distributed via [[FsOps.copyAll]] — one slow day with thousands of
    * tarballs parallelizes across executors instead of serializing through
    * the driver as the reference's page loop does.
    */
  def promoteDay(spark: SparkSession, srcDir: String, dstDir: String,
                 dateInt: Int, cutoffDateInt: Int): (Long, Long) = {
    require(validDate(dateInt, cutoffDateInt),
      s"date $dateInt outside (20160000, 21000000] or newer than cutoff $cutoffDateInt")
    val prefix = dayPrefix(dateInt)
    val srcDay = s"$srcDir/$prefix"
    val dstDay = s"$dstDir/$prefix"
    if (!FsOps.exists(spark, srcDay)) return (0L, 0L)
    FsOps.mkdirs(spark, dstDay)

    val src = FsOps.list(spark, srcDay, "-e.tgz").select(col("name"))
    val dst = FsOps.list(spark, dstDay).select(col("name").as("dname"))
    // J3: full picture of moves — everything in src copies; rows also in
    // dst are overwrites (delete-then-copy in the reference)
    val plan = src.join(dst, src("name") === dst("dname"), "left_outer")
      .select(col("name"), col("dname").isNotNull.as("overwrite"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = plan.agg(
        count(lit(1)).as("copied"),
        count(when(col("overwrite"), 1)).as("overwritten")).head()
      FsOps.copyAll(spark, plan.select("name"), srcDay, dstDay)
      (counts.getAs[Long]("copied"), counts.getAs[Long]("overwritten"))
    } finally plan.unpersist()
  }
}
