package graft.io

import java.io.OutputStream

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
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
  * inside one task, so the whole split pipeline
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
  * delete each other's files — and, once ALL its writers have closed
  * cleanly, returns one [[StagedFile]] report per file as its task result.
  * Spark delivers exactly one result per partition, from the attempt that
  * succeeded, so the reports name the winners: a task that died mid-write,
  * or a speculative duplicate, reports nothing and its staged file is
  * swept with the staging dir. A final name reported by two DIFFERENT
  * partitions means the caller broke the per-archive contiguity contract
  * (e.g. a repartition split an archive across tasks) — the commit fails
  * fast instead of letting the second writer silently clobber the first.
  *
  * Publishing is rename-based only where rename is atomic (posix/HDFS); on
  * object-store schemes the sink switches to the rename-free
  * [[CopyCommit]] protocol (copy-then-verify) — see [[CommitProtocol]],
  * resolved per root.
  */
object TgzSink {

  /** A root one split call publishes into, and the call's staging beside it. */
  private[io] final case class Target(dir: String, callId: String,
                                      protocol: CommitProtocol) {
    def staging: Path = new Path(dir, s"_tmp-$callId")
  }

  /** One file a task staged and closed: `tmpName` under
    * `targets(target).staging`, to be published as `fin`.
    */
  private[io] final case class StagedFile(target: Int, fin: String,
                                          tmpName: String, partition: Int)

  /** Write `(archive × route)` tgz pairs under `outDir`.
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
    * Returns the write job's observed metrics by observation name: any
    * `observe` the caller put on `routed` is filled by the same job.
    */
  def writeSplit(routed: Dataset[Row], outDir: String): Map[String, Row] =
    writeSplit(routed, outDir, outDir)

  /** [[writeSplit]] with public halves under `publicDir` and `-e.tgz`
    * halves under `privateDir`, each root on its [[CommitProtocol.forPath]].
    */
  def writeSplit(routed: Dataset[Row], publicDir: String,
                 privateDir: String): Map[String, Row] = {
    val conf = bridge.sessionHadoopConf(routed.sparkSession)
    writeSplit(routed, publicDir, privateDir,
      CommitProtocol.forPath(publicDir, conf),
      CommitProtocol.forPath(privateDir, conf))
  }

  /** [[writeSplit]] into two stores with an explicit protocol per root. */
  def writeSplit(routed: Dataset[Row], publicDir: String, privateDir: String,
                 pubProtocol: CommitProtocol,
                 privProtocol: CommitProtocol): Map[String, Row] = {
    val spark = routed.sparkSession
    // session conf captured ONCE on the driver and shipped — a fresh
    // `new Configuration()` in the task would drop spark.hadoop.* settings
    // (object-store credentials, fs impls) and silently write elsewhere
    val sconf = new SerializableHadoopConf(bridge.sessionHadoopConf(spark))
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
      var current: String = null
      var lastOrdinal = Long.MinValue
      var pub: TarWriter = null
      var priv: TarWriter = null

      def open(i: Int, name: String): TarWriter = {
        staged += StagedFile(i, name, name + taskSuffix, tc.partitionId())
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
      }
      closeCurrent()
      // reported only now, with every writer closed
      staged.iterator
    }(Encoders.product[StagedFile])
    targets.foreach(t => t.staging.getFileSystem(sconf.value).mkdirs(t.staging))
    val reports = try written.collect().toSeq
    catch { case e: Throwable => sweep(targets, sconf); throw e }

    commit(spark, targets, reports, sconf)
    written.queryExecution.observedMetrics
  }

  /** Remove this call's staging dirs — never another call's. */
  private def sweep(targets: Seq[Target], sconf: SerializableHadoopConf): Unit =
    targets.foreach(t => t.staging.getFileSystem(sconf.value).delete(t.staging, true))

  /** Publish the files the write job's tasks reported: fail on any final
    * name reported by two distinct partitions, move each reported file into
    * its target root (overwriting prior runs' outputs) in ONE distributed
    * job, and always remove the staging dirs —
    * unreported files (attempts that died or lost) go with them.
    *
    * Driver state: two reports per input archive. The scan's file index
    * already holds one `FileStatus` per input archive on the driver, so
    * the reports add no new class of driver state.
    */
  private[io] def commit(spark: org.apache.spark.sql.SparkSession,
                         targets: Seq[Target], reports: Seq[StagedFile],
                         sconf: SerializableHadoopConf): Unit =
    try {
      // two archives with one basename in one task share a staged name
      val files = reports.distinct
      val claims = files.map(f => (f.target, f.fin))
      val conflicts = claims.diff(claims.distinct).map(_._2).distinct.sorted.take(5)
      if (conflicts.nonEmpty)
        throw new IllegalStateException(
          "archive rows were split across partitions — outputs claimed by " +
            s"multiple tasks: ${conflicts.mkString(", ")}")
      val sc = spark.sparkContext
      sc.parallelize(files, files.size.min(sc.defaultParallelism).max(1)).foreach { f =>
        val conf = sconf.value
        val t = targets(f.target)
        val pfs = t.staging.getFileSystem(conf)
        val src = new Path(t.staging, f.tmpName)
        val target = new Path(t.dir, f.fin)
        t.protocol match {
          case RenameCommit =>
            pfs.delete(target, false)
            if (!pfs.rename(src, target))
              throw new java.io.IOException(s"commit rename failed for ${f.fin}")
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
    } finally sweep(targets, sconf)

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
