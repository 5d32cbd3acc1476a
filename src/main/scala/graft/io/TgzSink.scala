package graft.io

import java.io.OutputStream

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoders, Row}
import org.apache.spark.sql.graft.bridge

import graft.model.Schemas

/** S7/S8 — the tar.gz repack sink (`/root/reference/embargo.go:104-122,
  * 143-218`): for every input archive, write one public and one private
  * `.tgz`, the private copy renamed `.tgz` → `-e.tgz`
  * (`/root/reference/embargo.go:105`), each committed straight into its
  * own store as `WriteResults` does (`/root/reference/embargo.go:103-121`).
  *
  * Spark-first shape: a `mapPartitions` writer over routed entry rows.
  * [[TgzSource]] produces each archive's entries contiguously and in order
  * inside one task (its `tgz` scan plans one input partition per archive),
  * so the whole split pipeline
  * (scan → explode → route → repack) runs shuffle-free: this sink just
  * consumes consecutive runs of rows per archive and keeps two tar writers
  * (public/private) open at a time, exactly the reference's write loop but
  * parallel across archives.
  *
  * Entries stream through the writers one at a time — output is written via
  * Hadoop [[org.apache.hadoop.fs.FileSystem]] streams (posix/HDFS/cloud),
  * never buffered whole in memory (the reference's `bytes.Buffer` pair held
  * both output archives in RAM, `/root/reference/embargo.go:126-146`).
  *
  * Output is published with a write-tmp-then-commit protocol: every task
  * writes `<root>/_tmp-<call>/<final>.p<partition>.a<attempt>` — staging
  * private to the call, so concurrent calls into one root never see or
  * delete each other's files, made by the task's first `create` and never
  * by the driver — and, once ALL its writers have closed
  * cleanly, returns a [[StagedFile]] per file and its [[Tally]] sums. Spark
  * delivers exactly one result per partition, from the attempt that
  * succeeded, so the reports name the winners and the counts are theirs:
  * a task that died mid-write, or a speculative duplicate, reports nothing
  * and its staged file is swept with the staging dir. A final name
  * reported by two DIFFERENT partitions means the caller broke the
  * per-archive contiguity contract (e.g. a repartition split an archive
  * across tasks) — the commit fails fast instead of letting the second
  * writer silently clobber the first.
  *
  * The write is the split's ONE Spark job: the driver publishes (see
  * [[commit]]), rename-based only where rename is atomic (posix/HDFS); on
  * object-store schemes with the rename-free [[CopyCommit]] protocol
  * (copy-then-verify) — see [[CommitProtocol]], resolved per root.
  */
object TgzSink {

  /** A root one split call publishes into, and the call's staging beside it. */
  private[io] final case class Target(dir: String, callId: String,
                                      protocol: CommitProtocol) {
    def staging: Path = new Path(dir, s"_tmp-$callId")
  }

  /** One file a task staged and closed: `tmpName` under
    * `targets(target).staging`, to be published as `fin`. `tmpName` ends
    * in `.p<partition>.a<attempt>`, so two partitions' files for one `fin`
    * are two distinct reports.
    */
  private[io] final case class StagedFile(target: Int, fin: String, tmpName: String)

  /** Counters a write task sums over the rows it writes, slot `i` named
    * `keys(i)`: `add` adds one row. What a slot counts is the caller's. */
  final case class Tally(keys: IndexedSeq[String], add: (Row, Array[Long]) => Unit)

  val NoTally: Tally = Tally(IndexedSeq.empty, (_, _) => ())

  /** One write task's result: the files it staged and its tally sums. */
  private[io] final case class TaskReport(staged: Seq[StagedFile], counts: Seq[Long])

  /** Derived once: deriving a product encoder runs Scala reflection under
    * process-wide locks, so per-call derivation queues concurrent splits.
    */
  private val reportEncoder = Encoders.product[TaskReport]

  /** Lock stripes, by qualified final path, for [[RenameCommit]]'s
    * delete-then-rename: two calls publishing one name (two concurrent
    * splits of one archive) must not interleave the steps, because a
    * rename onto a file the other call just published fails.
    */
  private val publishLocks = Array.fill(64)(new Object)

  /** Write `(archive × route)` tgz pairs.
    *
    * `routed` must have columns `archive, ordinal, name, size, mode, modTime,
    * typeflag, content, route` with each archive's rows contiguous and
    * ordinal-ascending within a partition — true by construction for
    * `TgzSource.entries → route` pipelines (narrow ops only). Interleaved
    * archives fail inside the task; an archive split across partitions
    * fails at commit (see class doc) — never silent corruption.
    *
    * Output names: `<archiveBasename>` for the public half,
    * `<archiveBasename>` with `.tgz` → `-e.tgz` for the private half.
    *
    * Public halves go under `publicDir` and `-e.tgz` halves under
    * `privateDir`, each root on its [[CommitProtocol.forPath]]. Returns
    * `tally`'s sums by key over the attempts whose files were published,
    * so each row counts exactly once.
    */
  def writeSplit(routed: Dataset[Row], publicDir: String, privateDir: String,
                 tally: Tally = NoTally): Map[String, Long] = {
    val conf = bridge.sessionHadoopConf(routed.sparkSession)
    write(routed, publicDir, privateDir, CommitProtocol.forPath(publicDir, conf),
      CommitProtocol.forPath(privateDir, conf), tally, conf)
  }

  /** [[writeSplit]] into two stores with an explicit protocol per root. */
  def writeSplit(routed: Dataset[Row], publicDir: String, privateDir: String,
                 pubProtocol: CommitProtocol, privProtocol: CommitProtocol,
                 tally: Tally): Map[String, Long] =
    write(routed, publicDir, privateDir, pubProtocol, privProtocol, tally,
      bridge.sessionHadoopConf(routed.sparkSession))

  /** The split's write job and commit, with the session conf `conf`
    * captured ONCE on the driver and shipped: a fresh `new Configuration()`
    * in the task would drop spark.hadoop.* settings (object-store
    * credentials, fs impls) and silently write elsewhere.
    *
    * The driver makes no staging dir: a task's first `create` makes its
    * parents, so a split that writes no file leaves no `_tmp-*` dir.
    */
  private def write(routed: Dataset[Row], publicDir: String, privateDir: String,
                    pubProtocol: CommitProtocol, privProtocol: CommitProtocol,
                    tally: Tally, conf: Configuration): Map[String, Long] = {
    val sconf = new SerializableHadoopConf(conf)
    val callId = java.util.UUID.randomUUID.toString
    // one target when both halves share a root; the public half always
    // goes to target 0, the private half to the last
    val targets = Seq(publicDir -> pubProtocol, privateDir -> privProtocol)
      .distinctBy(t => new Path(t._1))
      .map { case (dir, protocol) => Target(dir, callId, protocol) }
    val privIdx = targets.length - 1

    val written = routed.mapPartitions { rows: Iterator[Row] =>
      val conf = sconf.value
      val fss = targets.map(_.staging.getFileSystem(conf))
      val tc = TaskContext.get()
      val taskSuffix = s".p${tc.partitionId()}.a${tc.taskAttemptId()}"
      val closed = scala.collection.mutable.HashSet.empty[String]
      val staged = scala.collection.mutable.ArrayBuffer.empty[StagedFile]
      val counts = new Array[Long](tally.keys.length)
      var current: String = null
      var lastOrdinal = Long.MinValue
      var pub: TarWriter = null
      var priv: TarWriter = null

      def open(i: Int, name: String): TarWriter = {
        staged += StagedFile(i, name, name + taskSuffix)
        new TarWriter(fss(i).create(
          new Path(targets(i).staging, name + taskSuffix), true))
      }

      def closeCurrent(): Unit = if (current != null) {
        pub.close(); priv.close()
        closed += current
        current = null
      }

      rows.foreach { r =>
        val archive = r.getAs[String]("archive")
        val ordinal = r.getAs[Long]("ordinal")
        if (archive != current) {
          closeCurrent()
          require(!closed.contains(archive),
            s"entries for $archive are not contiguous — pipeline introduced a shuffle")
          current = archive
          lastOrdinal = Long.MinValue
          val base = archive.substring(archive.lastIndexOf('/') + 1)
          pub = open(0, base)
          // S8 rename (/root/reference/embargo.go:105)
          priv = open(privIdx, base.replace(".tgz", "-e.tgz"))
        }
        require(ordinal > lastOrdinal,
          s"entries for $archive are out of order at ordinal $ordinal — caller reordered rows")
        lastOrdinal = ordinal
        val w = if (r.getAs[String]("route") == Schemas.RoutePublic) pub else priv
        w.write(r)
        tally.add(r, counts)
      }
      closeCurrent()
      // reported only now, with every writer closed
      Iterator.single(TaskReport(staged.toSeq, counts.toSeq))
    }(reportEncoder)
    val reports = try written.collect().toSeq
    catch { case e: Throwable => sweep(targets, conf); throw e }

    commit(targets, reports.flatMap(_.staged), conf)
    tally.keys.indices.map(i => tally.keys(i) -> reports.map(_.counts(i)).sum).toMap
  }

  /** Remove this call's staging dirs — never another call's. */
  private def sweep(targets: Seq[Target], conf: Configuration): Unit =
    targets.foreach(t => t.staging.getFileSystem(conf).delete(t.staging, true))

  /** Publish the files the write job's tasks reported from the driver, as
    * Hadoop's `FileOutputCommitter.commitJob` does, with no Spark job: fail
    * on any final name reported by two distinct partitions, move each
    * reported file into its target root (overwriting prior runs' outputs;
    * of concurrent calls publishing one name, the last one wins),
    * and always remove the staging dirs — unreported files (attempts that
    * died or lost) go with them. [[CopyCommit]] streams through the driver.
    *
    * Driver state: two reports per input archive. The scan's listing
    * already holds one input partition per archive on the driver, so
    * the reports add no new class of driver state.
    */
  private[io] def commit(targets: Seq[Target], reports: Seq[StagedFile],
                         conf: Configuration): Unit =
    try {
      // two archives with one basename in one task share a staged name
      val files = reports.distinct
      val claims = files.map(f => (f.target, f.fin))
      val conflicts = claims.diff(claims.distinct).map(_._2).distinct.sorted.take(5)
      if (conflicts.nonEmpty)
        throw new IllegalStateException(
          "archive rows were split across partitions — outputs claimed by " +
            s"multiple tasks: ${conflicts.mkString(", ")}")
      files.foreach { f =>
        val t = targets(f.target)
        val pfs = t.staging.getFileSystem(conf)
        val src = new Path(t.staging, f.tmpName)
        val target = new Path(t.dir, f.fin)
        t.protocol match {
          case RenameCommit =>
            val stripe = Math.floorMod(pfs.makeQualified(target).hashCode, publishLocks.length)
            publishLocks(stripe).synchronized {
              pfs.delete(target, false)
              if (!pfs.rename(src, target))
                throw new java.io.IOException(s"commit rename failed for ${f.fin}")
            }
          case CopyCommit =>
            // Copy-then-verify: object copy/PUT is complete-or-absent,
            // and the length check turns "copy claimed success" into
            // "published object verifiably holds the staged bytes"
            // before the file is declared committed. The staged source
            // is left for the staging-dir sweep.
            val srcLen = pfs.getFileStatus(src).getLen
            org.apache.hadoop.fs.FileUtil.copy(pfs, src, pfs, target,
              false, true, conf)
            val dstLen = pfs.getFileStatus(target).getLen
            if (dstLen != srcLen)
              throw new java.io.IOException(
                s"commit verify failed for ${f.fin}: " +
                  s"published $dstLen bytes, staged $srcLen")
        }
      }
    } finally sweep(targets, conf)

  /** One gzipped tar stream; copies the 5 header fields the reference
    * preserves (`/root/reference/embargo.go:163-168`).
    */
  private final class TarWriter(os: OutputStream) {
    private val tar = new TarArchiveOutputStream(new GzipCompressorOutputStream(os))
    tar.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)

    def write(r: Row): Unit = {
      val e = new TarArchiveEntry(r.getAs[String]("name"))
      e.setSize(r.getAs[Long]("size"))
      e.setMode(r.getAs[Long]("mode").toInt)
      e.setModTime(r.getAs[java.sql.Timestamp]("modTime"))
      tar.putArchiveEntry(e)
      tar.write(r.getAs[Array[Byte]]("content"))
      tar.closeArchiveEntry()
    }

    def close(): Unit = tar.close()
  }
}
