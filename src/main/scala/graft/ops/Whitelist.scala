package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.bridge.{column, expression}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.IpFunctions.{canonicalIp, canonical_ip}

/** The embargo whitelist as a driver-held value: the set of CANONICAL,
  * non-empty IP forms ([[graft.functions.IpFunctions.canonicalIp]]) of its
  * source entries. The reference keeps the list in memory and swaps it on
  * the refresh cron (`/root/reference/embargo.go:94-101`); this is that
  * in-memory list, and [[EmbargoSplit.route]] tests membership against it
  * inside the split's own job, so routing costs no join and no Spark job.
  * The set is broadcast once per whitelist (per snapshot, in [[Service]]),
  * so a split's plan and tasks stay the same size whatever the list's.
  *
  * A source may hold at most [[Whitelist.MaxSize]] entries (lines of the
  * seed text, rows of a `wip` DataFrame); a larger one fails with a
  * `require` instead of growing the driver's heap and every executor's
  * copy without bound.
  */
final class Whitelist private (ips: Set[String]) {

  private val members: Set[Any] = ips.map(UTF8String.fromString)

  /** The context and broadcast [[members]] was last shipped with. */
  private var shipped: (SparkContext, Broadcast[Set[Any]]) = _

  /** [[members]] as a broadcast of `sc`, made on first use: a whitelist
    * travels to each executor once, not inside every task of every split.
    */
  private def broadcast(sc: SparkContext): Broadcast[Set[Any]] = synchronized {
    if (shipped == null || (shipped._1 ne sc)) shipped = (sc, sc.broadcast(members))
    shipped._2
  }

  /** Routing membership: `canonical_ip(ip)` tested against this whitelist
    * by an [[InWhitelist]] predicate, false for a null IP. The predicate
    * holds the set's broadcast, not the set, so neither a plan's
    * description nor a task grows with the list.
    */
  def contains(spark: SparkSession, ip: Column): Column =
    column(InWhitelist(expression(canonical_ip(ip)),
      new InWhitelist.Members(broadcast(spark.sparkContext), members.size)))
}

/** `child IN whitelist` over a broadcast set of UTF-8 strings: false, not
  * null, for a null child. It renders as `in_whitelist(child, <n> ips)`,
  * whatever `n`, where an `InSet` renders every member.
  */
case class InWhitelist(child: Expression, members: InWhitelist.Members)
    extends UnaryExpression with Predicate {

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = members.contains(child.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("whitelist", members)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.value} = !${c.isNull} && $set.contains(${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): InWhitelist =
    copy(child = newChild)

  override def toString: String = s"in_whitelist($child, ${members.size} ips)"
}

object InWhitelist {

  /** A whitelist's broadcast set and its size, read from the broadcast
    * once per deserialized copy, i.e. once per task.
    */
  final class Members(set: Broadcast[Set[Any]], val size: Int) extends Serializable {
    @transient private lazy val value = set.value
    def contains(v: Any): Boolean = v != null && value.contains(v)
  }
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
    * ([[graft.io.Sites.whitelist]], the service's committed refresh store)
    * goes through.
    */
  def fromFrame(wip: DataFrame): Whitelist =
    apply(wip.select(col("wip")).filter(col("wip").isNotNull)
      .limit(MaxSize + 1).collect().iterator.map(_.getString(0)))
}
