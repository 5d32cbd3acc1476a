package graft.io

import java.io.OutputStream

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.graft.bridge

import graft.model.Schemas

/** S7/S8 — the tar.gz repack sink (`/root/reference/embargo.go:104-122,
  * 143-218`): for every input archive, write one public and one private
  * `.tgz`, the private copy renamed `.tgz` → `-e.tgz`
  * (`/root/reference/embargo.go:105`), each committed straight into its
  * own store as `WriteResults` does (`/root/reference/embargo.go:103-121`).
  *
  * Spark-first shape: a `foreachPartition` writer over routed entry rows.
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
  * delete each other's files — and when ALL its writers have closed
  * cleanly it marks each staged file complete by renaming it to
  * `....done` — the success record a bare attempt id cannot provide.
  * Commit considers ONLY marked files: a task that died mid-write (or a
  * speculative attempt killed after a slower-but-complete sibling
  * finished) leaves unmarked debris that can never beat a complete file,
  * regardless of attempt-id order. A final name marked by two DIFFERENT
  * partitions means the caller broke the per-archive contiguity contract
  * (e.g. a repartition split an archive across tasks) — the commit fails
  * fast instead of letting the second writer silently clobber the first.
  * Two marked attempts of the SAME partition are duplicate successes
  * (retry after a lost heartbeat, speculation) writing identical content;
  * the latest is picked for determinism.
  *
  * Marking and publishing are rename-based only where rename is atomic
  * (posix/HDFS); on object-store schemes the sink switches to the
  * rename-free [[CopyCommit]] protocol (marker PUT + copy-then-verify) —
  * see [[CommitProtocol]], resolved per root.
  */
object TgzSink {

  private val DoneSuffix = ".done"

  /** A root one split call publishes into, and the call's staging beside it. */
  private[io] final case class Target(dir: String, callId: String,
                                      protocol: CommitProtocol) {
    def staging: Path = new Path(dir, s"_tmp-$callId")
  }

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
    */
  def writeSplit(routed: Dataset[Row], outDir: String): Unit =
    writeSplit(routed, outDir, outDir)

  /** [[writeSplit]] with public halves under `publicDir` and `-e.tgz`
    * halves under `privateDir`, each root on its [[CommitProtocol.forPath]].
    */
  def writeSplit(routed: Dataset[Row], publicDir: String,
                 privateDir: String): Unit = {
    val conf = bridge.sessionHadoopConf(routed.sparkSession)
    writeSplit(routed, publicDir, privateDir,
      CommitProtocol.forPath(publicDir, conf),
      CommitProtocol.forPath(privateDir, conf))
  }

  /** [[writeSplit]] into two stores with an explicit protocol per root. */
  def writeSplit(routed: Dataset[Row], publicDir: String, privateDir: String,
                 pubProtocol: CommitProtocol,
                 privProtocol: CommitProtocol): Unit = {
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
    targets.foreach(t => t.staging.getFileSystem(sconf.value).mkdirs(t.staging))

    try routed.foreachPartition { rows: Iterator[Row] =>
      val conf = sconf.value
      val fss = targets.map(_.staging.getFileSystem(conf))
      val tc = TaskContext.get()
      val taskSuffix = s".p${tc.partitionId()}.a${tc.taskAttemptId()}"
      val closed = scala.collection.mutable.HashSet.empty[String]
      // (target index, staged name) of every file this attempt wrote
      val staged = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      var current: String = null
      var lastOrdinal = Long.MinValue
      var pub: TarWriter = null
      var priv: TarWriter = null

      def open(i: Int, name: String): TarWriter = {
        staged += (i -> (name + taskSuffix))
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
      // every writer closed cleanly — mark this attempt's files complete so
      // commit can tell them from the debris of attempts that died mid-write.
      // RenameCommit marks by renaming the data file itself (atomic on
      // posix/HDFS); CopyCommit never renames — it PUTs a one-byte
      // `.done` marker beside the data file (atomic single-object PUT).
      staged.foreach { case (i, n) =>
        val dir = targets(i).staging
        targets(i).protocol match {
          case RenameCommit =>
            if (!fss(i).rename(new Path(dir, n), new Path(dir, n + DoneSuffix)))
              throw new java.io.IOException(s"failed to mark staged file $n complete")
          case CopyCommit =>
            val m = fss(i).create(new Path(dir, n + DoneSuffix), true)
            // non-empty on purpose: the commit election lists the staging
            // dir through Spark's file index, which prunes zero-length
            // files — an empty marker would be invisible to it
            m.write('k'); m.close()
        }
      }
    } catch { case e: Throwable => sweep(targets, sconf); throw e }

    commit(spark, targets, sconf)
  }

  /** Remove this call's staging dirs — never another call's. */
  private def sweep(targets: Seq[Target], sconf: SerializableHadoopConf): Unit =
    targets.foreach(t => t.staging.getFileSystem(sconf.value).delete(t.staging, true))

  /** Publish every target's staged outputs: consider only `.done`-marked
    * files (attempts whose task closed every writer — unmarked files are
    * mid-write debris and are dropped with the staging dirs), fail on any
    * final name marked by two distinct partitions, keep the latest marked
    * attempt per (target, final name), move winners into their target
    * root (overwriting prior runs' outputs), and always remove the
    * staging dirs.
    *
    * The staging catalog is DATA: the listing is ONE distributed
    * `binaryFile` METADATA scan over all targets' staging dirs (content
    * pruned, file discovery parallelized by Spark's file index — the same
    * shape as [[FsOps.list]]) and the winner election is a `groupBy`
    * aggregation, so commit holds no per-archive state on the driver and
    * survives ~10⁷ staged archives where a driver-side `listStatus` array
    * would be the scaling wall. The publishes are likewise distributed,
    * metadata-only ops; the driver sees only the conflict verdict (a
    * handful of example names).
    */
  private[io] def commit(spark: org.apache.spark.sql.SparkSession,
                         targets: Seq[Target],
                         sconf: SerializableHadoopConf): Unit = {
    import org.apache.spark.sql.functions._
    val stagedRe = "^(.*)\\.p(\\d+)\\.a(\\d+)\\" + DoneSuffix + "$"
    val perFin = targets.indices.map { i =>
      spark.read.format("binaryFile").load(targets(i).staging.toString)
        .select(lit(i).as("target"),
          regexp_extract(col("path"), "([^/]+)$", 1).as("tmpName"))
    }.reduce(_ unionAll _)
      .select(col("target"), col("tmpName"),
        regexp_extract(col("tmpName"), stagedRe, 1).as("fin"),
        regexp_extract(col("tmpName"), stagedRe, 2).cast("long").as("part"),
        regexp_extract(col("tmpName"), stagedRe, 3).cast("long").as("attempt"))
      .filter(col("fin") =!= "") // unmarked debris doesn't parse — dropped
      .groupBy("target", "fin").agg(
        countDistinct(col("part")).as("n_parts"),
        // latest attempt per final name wins (earlier = retry debris of the
        // same partition writing identical content)
        max_by(col("tmpName"), col("attempt")).as("winner"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    try {
      val conflicts = perFin.filter(col("n_parts") > 1)
        .select("fin").orderBy("fin").limit(5)
        .collect().map(_.getString(0))
      if (conflicts.nonEmpty)
        throw new IllegalStateException(
          "archive rows were split across partitions — outputs claimed by " +
            s"multiple tasks: ${conflicts.mkString(", ")}")
      perFin.select("target", "winner", "fin").foreachPartition { it: Iterator[Row] =>
        val conf = sconf.value
        it.foreach { r =>
          val t = targets(r.getInt(0))
          val pfs = t.staging.getFileSystem(conf)
          val target = new Path(t.dir, r.getString(2))
          t.protocol match {
            case RenameCommit =>
              // the `.done` file IS the data under rename marking
              pfs.delete(target, false)
              if (!pfs.rename(new Path(t.staging, r.getString(1)), target))
                throw new java.io.IOException(
                  s"commit rename failed for ${r.getString(2)}")
            case CopyCommit =>
              // the `.done` file is a marker; the data sits beside it.
              // Copy-then-verify: object copy/PUT is complete-or-absent,
              // and the length check turns "copy claimed success" into
              // "published object verifiably holds the staged bytes"
              // before the winner is declared committed. The staged
              // source is left for the staging-dir sweep.
              val src = new Path(t.staging, r.getString(1).stripSuffix(DoneSuffix))
              val srcLen = pfs.getFileStatus(src).getLen
              org.apache.hadoop.fs.FileUtil.copy(pfs, src, pfs, target,
                false, true, conf)
              val dstLen = pfs.getFileStatus(target).getLen
              if (dstLen != srcLen)
                throw new java.io.IOException(
                  s"commit verify failed for ${r.getString(2)}: " +
                    s"published $dstLen bytes, staged $srcLen")
          }
        }
      }
    } finally {
      perFin.unpersist()
      sweep(targets, sconf)
    }
  }

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
