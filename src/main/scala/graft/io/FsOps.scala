package graft.io

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.bridge

/** S1-S3, S9-S11 — object-catalog operations
  * (`/root/reference/gcs_operations.go`), expressed over Hadoop
  * [[FileSystem]] so the same code drives posix, HDFS, or cloud object
  * stores. Every listing is one driver walk, [[objects]]; [[list]]
  * hands it to queries as a DataFrame (the catalog is data). The
  * copy/delete/mkdir calls are filesystem utilities with no query
  * semantics, exactly as in the reference.
  */
object FsOps {

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Hidden objects: a `_` or `.` name prefix, Spark's rule for
    * metadata (`_SUCCESS`, `.crc`, a crashed write's `_temporary`).
    */
  def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** S1/S2 — list objects under a prefix (S2 = empty suffix filter), as a
    * DataFrame of (name, size). Mirrors the paginated
    * `GetFileNamesFromBucket` (`/root/reference/gcs_operations.go:58-85`).
    *
    * The [[objects]] walk as a local relation, so the catalog is a
    * DataFrame a query can filter, join or aggregate; with `recursive`,
    * `name` is the path relative to `dir`.
    *
    * The listing is deliberately UNORDERED: a consumer that joins or
    * aggregates it hash-partitions anyway, so a global sort here would be
    * a full exchange paid on every catalog access. Display consumers that
    * want the reference's lexicographic page order sort at the edge
    * (`s2_bucket_list`).
    */
  def list(spark: SparkSession, dir: String, suffix: String = "",
           recursive: Boolean = false): DataFrame = {
    import spark.implicits._
    objects(spark, dir, suffix, recursive).toSeq.toDF("name", "size")
  }

  /** The regular, non-[[hidden]] files under `dir` whose names end in
    * `suffix`, as path relative to `dir` -> size, listed on the driver
    * through the Hadoop [[FileSystem]]: no Spark job. A flat listing's
    * keys are the names; `recursive` descends into subdirectories and
    * skips hidden ones at every level, as Spark's file index does.
    * Zero-length files are listed, as the reference lists every object.
    * This is the one object listing: [[list]], [[parquetBytes]],
    * [[syncCopy]], [[compare]] and `Unembargo.promoteDay` all read it.
    */
  def objects(spark: SparkSession, dir: String, suffix: String = "",
              recursive: Boolean = false): Map[String, Long] = {
    val f = fs(spark, dir)
    def walk(p: Path, prefix: String): Iterator[(String, Long)] =
      f.listStatus(p).iterator.filterNot(st => hidden(st.getPath.getName)).flatMap { st =>
        val rel = prefix + st.getPath.getName
        if (st.isFile) Iterator(rel -> st.getLen)
        else if (recursive && st.isDirectory) walk(st.getPath, rel + "/")
        else Iterator.empty
      }
    walk(new Path(dir), "").filter(_._1.endsWith(suffix)).toMap
  }

  /** S3 — download one object's bytes (`/root/reference/embargo.go:283`). */
  def readBytes(spark: SparkSession, path: String): Array[Byte] = {
    val p = new Path(path)
    val in = fs(spark, path).open(p)
    try in.readAllBytes() finally in.close()
  }

  /** S9 — copy an object (server-side where the FS supports it;
    * `/root/reference/unembargo.go:124-130`).
    */
  def copy(spark: SparkSession, src: String, dst: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    FileUtil.copy(fs(spark, src), new Path(src), fs(spark, dst), new Path(dst),
      false, true, conf)
  }

  /** S9 at fleet scale — copy every `name` in `names` from `srcDir` to
    * `dstDir` (overwrite), distributed: the copy plan stays a DataFrame and
    * each task copies its slice with the session's Hadoop conf. This is the
    * data-motion half of promote/sync — the reference's serial page loop
    * (`/root/reference/unembargo.go:104-137`) parallelized.
    */
  def copyAll(spark: SparkSession, names: DataFrame, srcDir: String,
              dstDir: String): Unit = {
    val sconf = new SerializableHadoopConf(bridge.sessionHadoopConf(spark))
    names.select("name").foreachPartition { rows: Iterator[Row] =>
      val conf = sconf.value
      val src = new Path(srcDir)
      val dst = new Path(dstDir)
      val sfs = src.getFileSystem(conf)
      val dfs = dst.getFileSystem(conf)
      rows.foreach { r =>
        val n = r.getString(0)
        FileUtil.copy(sfs, new Path(src, n), dfs, new Path(dst, n), false, true, conf)
      }
    }
  }

  /** [[copyAll]] over names planned on the driver, handed over as a local
    * relation. Nothing to copy starts no job.
    */
  def copyNames(spark: SparkSession, names: Iterable[String], srcDir: String,
                dstDir: String): Unit =
    if (names.nonEmpty) {
      import spark.implicits._
      copyAll(spark, names.toSeq.toDF("name"), srcDir, dstDir)
    }

  /** J2 at the object level — `SyncTwoBuckets`
    * (`/root/reference/gcs_operations.go:200-266`): copy the objects present
    * under `srcDir` but missing under `dstDir` (existing objects are left
    * untouched, as in the reference). Returns the number copied. The
    * missing set is a driver set difference of the two [[objects]]
    * listings; the copies are one distributed job, none when nothing is
    * missing.
    */
  def syncCopy(spark: SparkSession, srcDir: String, dstDir: String): Long = {
    mkdirs(spark, dstDir)
    val missing = objects(spark, srcDir).keySet -- objects(spark, dstDir).keySet
    copyNames(spark, missing, srcDir, dstDir)
    missing.size.toLong
  }

  /** J4 at the object level — `CompareBuckets`
    * (`/root/reference/gcs_operations.go:269-337`): true iff the two
    * prefixes hold identical (name, size) sets. Both [[objects]] listings
    * are compared on the driver: no Spark job.
    */
  def compare(spark: SparkSession, dirA: String, dirB: String): Boolean =
    objects(spark, dirA) == objects(spark, dirB)

  /** S10 — delete every object under a prefix
    * (`/root/reference/gcs_operations.go:87-128`).
    */
  def deletePrefix(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).delete(new Path(dir), true)

  /** Whether an object or prefix exists at `path`. */
  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** S11 — idempotent bucket/dir create
    * (`/root/reference/gcs_operations.go:36-55`).
    */
  def mkdirs(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).mkdirs(new Path(dir))

  /** Total bytes of the parquet data files under `dir` — the size
    * listing behind [[graft.ops.Compaction.compact]]'s `ceil(bytes/target)`
    * file-count arithmetic (data files only; _SUCCESS/metadata excluded).
    */
  def parquetBytes(spark: SparkSession, dir: String): Long =
    // List what the READER reads: every non-hidden file, recursively
    // (partitioned layouts nest data files under key=value dirs), with
    // NO name filter — `spark.read.parquet` does not filter on '.parquet'
    // either, so a dir mixing '*.parquet' and renamed data files must
    // size ALL of them or the ceil(bytes/target) arithmetic downstream
    // drifts from the bytes actually rewritten (review r16: the earlier
    // '*.parquet' glob sized only the matching sliver and compacted the
    // rest into it).
    objects(spark, dir, recursive = true).values.sum
}
