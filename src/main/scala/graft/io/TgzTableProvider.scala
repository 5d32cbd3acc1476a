package graft.io

import java.io.FileNotFoundException
import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, GlobFilter, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.Schemas

/** DataSource V2 `tgz` format: `spark.read.format("tgz").load(path)` scans
  * `.tgz` archives directly — no `binaryFile` read, no
  * `LATERAL VIEW explode_tar` — as [[Schemas.tarEntrySchema]] rows
  * (SURVEY §4's optional DSv2 surface; the reference's scan loop is
  * `/root/reference/embargo.go:125-173`). Each partition reader hands its
  * archive's stream and the pruned schema to [[TgzSource.rows]], the one
  * tar-entry decoder.
  *
  * Scale shape, mirrored from [[TgzSource]]:
  *   - **one InputPartition per archive** — the task unit the reference
  *     processes serially; 1000 executors split 1000 tarballs at once. A
  *     gzip stream has no split points, so sub-file splitting buys nothing.
  *   - **column pruning reaches the tar reader**: a projection without
  *     `content` reads no payload into memory; the tar reader skips each
  *     one by its header's size (gzip has no index, so the skipped bytes
  *     are still inflated, never copied out).
  *   - entries decode lazily, one at a time, inside the partition reader —
  *     memory is O(largest entry), never O(archive).
  *
  * Options: `pathGlobFilter` (default `*.tgz`) filters the listed files,
  * matching the `binaryFile` option of the same name. Paths resolve as
  * `binaryFile` resolves them (see [[TgzTableProvider.listArchives]]), so
  * [[TgzSource.entries]] reads through this source.
  */
class TgzTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "tgz"

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Schemas.tarEntrySchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TgzTable(new CaseInsensitiveStringMap(properties))
}

object TgzTableProvider {

  /** Resolve the `.load(...)` paths to archive files the way the
    * `binaryFile` reader resolves the paths of an unpartitioned layout:
    * globs expand, a matched directory contributes the files directly in
    * it, and every file — a literal one too — must have a non-hidden name
    * ([[FsOps.hidden]]), match `pathGlobFilter` and hold bytes. A path
    * that matches nothing fails, as the file sources' `PATH_NOT_FOUND`
    * does, rather than scanning as empty.
    */
  private[io] def listArchives(paths: Seq[String], glob: String,
                               conf: Configuration): Seq[FileStatus] = {
    val filter = new GlobFilter(glob)
    def archive(s: FileStatus) = s.isFile && s.getLen > 0 &&
      !FsOps.hidden(s.getPath.getName) && filter.accept(s.getPath)
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val matched = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Nil)
      if (matched.isEmpty) throw new FileNotFoundException(s"Path does not exist: $p")
      matched.flatMap { s =>
        if (s.isDirectory) fs.listStatus(s.getPath).toSeq.sortBy(_.getPath.toString)
        else Seq(s)
      }.filter(archive)
    }
  }
}

private[io] class TgzTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {

  override def name(): String = s"tgz(${TgzScan.paths(options).mkString(",")})"

  override def schema(): StructType = Schemas.tarEntrySchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new TgzScanBuilder(options)
}

private[io] class TgzScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = Schemas.tarEntrySchema

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve source field order regardless of projection order
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(Schemas.tarEntrySchema.fields.filter(f => keep(f.name)))
  }

  override def build(): Scan = new TgzScan(options, required)
}

private[io] object TgzScan {
  def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    // `.load(p)` arrives as "path"; `.load(p1, p2, ...)` as a JSON array
    // under "paths" — the same contract FileTable consumes
    val multi = Option(options.get("paths")).toSeq.flatMap { json =>
      org.json4s.jackson.JsonMethods.parse(json)
        .asInstanceOf[org.json4s.JArray].arr
        .map(_.asInstanceOf[org.json4s.JString].s)
    }
    multi ++ Option(options.get("path")).toSeq
  }
}

private[io] class TgzScan(options: CaseInsensitiveStringMap,
                          requiredSchema: StructType) extends Scan with Batch {

  override def readSchema(): StructType = requiredSchema

  override def toBatch: Batch = this

  override def description(): String = {
    val content = if (requiredSchema.fieldNames.contains("content")) "" else ", payloads skipped"
    s"tgz ReadSchema: ${requiredSchema.simpleString}$content"
  }

  /** The session Hadoop conf, built once: the listing and the reader
    * factory this scan plans both use it.
    */
  private lazy val hadoopConf = SparkSession.active.sessionState.newHadoopConf()

  override def planInputPartitions(): Array[InputPartition] = {
    val glob = Option(options.get("pathGlobFilter")).getOrElse("*.tgz")
    TgzTableProvider.listArchives(TgzScan.paths(options), glob, hadoopConf)
      .map(s => TgzInputPartition(s.getPath.toString): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    TgzReaderFactory(new SerializableHadoopConf(hadoopConf), requiredSchema)
}

/** One archive = one partition: the reference's serial unit of work,
  * parallelized across the cluster.
  */
private[io] case class TgzInputPartition(path: String) extends InputPartition

private[io] case class TgzReaderFactory(conf: SerializableHadoopConf,
                                        requiredSchema: StructType)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TgzInputPartition]
    new TgzPartitionReader(p.path, conf, requiredSchema)
  }
}

private[io] class TgzPartitionReader(pathStr: String,
                                     conf: SerializableHadoopConf,
                                     requiredSchema: StructType)
    extends PartitionReader[InternalRow] {

  private lazy val stream = {
    val path = new Path(pathStr)
    path.getFileSystem(conf.value).open(path)
  }
  private lazy val rows = TgzSource.rows(pathStr, stream, requiredSchema)
  private var current: InternalRow = _

  override def next(): Boolean =
    rows.hasNext && { current = rows.next(); true }

  override def get(): InternalRow = current

  override def close(): Unit = stream.close()
}
