package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.graft.bridge.{column, expression}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.IpFunctions.{canonicalIp, canonical_ip}

/** The embargo whitelist as a driver-held value: the set of CANONICAL,
  * non-empty IP forms ([[graft.functions.IpFunctions.canonicalIp]]) of its
  * source entries. The reference keeps the list in memory and swaps it on
  * the refresh cron (`/root/reference/embargo.go:94-101`); this is that
  * in-memory list, and [[EmbargoSplit.route]] tests membership against it
  * inside the split's own job, so routing costs no join and no Spark job.
  *
  * A source may hold at most [[Whitelist.MaxSize]] entries (lines of the
  * seed text, rows of a `wip` DataFrame); a larger one fails with a
  * `require` instead of growing the driver's heap and every task closure
  * without bound.
  */
final class Whitelist private (ips: Set[String]) {

  private val hset: Set[Any] = ips.map(UTF8String.fromString)

  /** Routing membership: `canonical_ip(ip)` tested against a Catalyst
    * [[InSet]] built directly from the set (not an N-literal `isin`, so
    * planning does not grow with the list), coalesced to false so the
    * routing OR never sees a null.
    */
  def contains(ip: Column): Column =
    coalesce(column(InSet(expression(canonical_ip(ip)), hset)), lit(false))
}

object Whitelist {

  /** Source-size bound, about 19x the reference list
    * (`testdata/whitelist_full`, 3,473 lines).
    */
  val MaxSize: Int = 1 << 16

  /** Canonicalize `entries`, dropping the ones that are not valid IPs
    * (they canonicalize to "" and could otherwise meet a malformed
    * filename's empty local IP). Fails past [[MaxSize]] entries, reading
    * at most one entry beyond it.
    */
  def apply(entries: Iterator[String]): Whitelist = {
    val kept = entries.take(MaxSize + 1).toVector
    require(kept.size <= MaxSize,
      s"whitelist holds more than $MaxSize entries (the reference list has 3,473)")
    new Whitelist(kept.iterator.map(canonicalIp).filter(_.nonEmpty).toSet)
  }

  /** S5 on the driver: one IP per line, trimmed (F10), blank lines
    * skipped, read through the Hadoop `FileSystem`, so loading the seed
    * starts no Spark job. `path` names one file.
    */
  def fromText(spark: SparkSession, path: String): Whitelist = {
    val p = new Path(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try apply(scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty))
    finally in.close()
  }

  /** The non-null values of a DataFrame's `wip` column, by a bounded
    * collect (`limit(MaxSize + 1)`): the form every DataFrame whitelist
    * ([[graft.io.TgzSource.whitelist]], [[graft.io.Sites.whitelist]], the
    * service's committed refresh store) goes through.
    */
  def fromFrame(wip: DataFrame): Whitelist =
    apply(wip.select(col("wip")).filter(col("wip").isNotNull)
      .limit(MaxSize + 1).collect().iterator.map(_.getString(0)))
}
