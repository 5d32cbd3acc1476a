package graft.ops

import org.apache.spark.sql.SparkSession

import graft.io.FsOps

/** E2 — the unembargo promotion (`/root/reference/unembargo.go:86-175`):
  * one year after embargo, copy a day's private archives from the embargo
  * store to the public archive store, overwriting any existing object of
  * the same name (copy-with-overwrite = the J3 last-writer-wins upsert at
  * the object level; 3-case rationale `/root/reference/unembargo.go:4-28`).
  *
  * Shape: which objects to move, and which of them overwrite, is planned on
  * the driver from two name listings, the reference's one name lookup per
  * object; the data motion is per-object filesystem copy (server-side where
  * the store supports it), parallelized with `foreachPartition` instead of
  * the reference's serial page loop.
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
    * The copy plan (J3 overwrite split) comes from two driver listings
    * ([[FsOps.objects]]): every source `-e.tgz` copies, and those already
    * named at the destination are overwrites. The copies run as one
    * distributed job via [[FsOps.copyAll]], none when nothing is due — one
    * slow day with thousands of tarballs parallelizes across executors
    * instead of serializing through the driver as the reference's page
    * loop does.
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

    val names = FsOps.objects(spark, srcDay, "-e.tgz").keySet
    val present = FsOps.objects(spark, dstDay).keySet
    FsOps.copyNames(spark, names, srcDay, dstDay)
    (names.size.toLong, names.count(present).toLong)
  }
}
