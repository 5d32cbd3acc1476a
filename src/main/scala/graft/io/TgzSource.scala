package graft.io

import java.io.{BufferedInputStream, ByteArrayInputStream, InputStream}

import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
import org.apache.commons.compress.compressors.gzip.GzipCompressorInputStream
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

import graft.model.TarEntry

/** S4 — the `.tgz` record scan (`/root/reference/embargo.go:125-173`):
  * one archive row explodes into many [[TarEntry]] rows.
  *
  * Spark-first shape: a batch scan reads through the DSv2 `tgz` source
  * ([[TgzTableProvider]]): one input partition per archive, listed on the
  * driver as the `binaryFile` reader lists (globs, a directory's own
  * files, hidden names skipped, `pathGlobFilter`), and each archive's tar entries
  * streamed out of its Hadoop stream with commons-compress. The explode is
  * narrow (no shuffle): every entry of an archive is produced inside the
  * task that read it, ordered by `ordinal`, which is what lets [[TgzSink]]
  * repack without a shuffle. Streaming micro-batches, which arrive as
  * `binaryFile` rows, explode through [[explodeEntries]], the same entry
  * reader.
  *
  * Scale notes (100 TB): parallelism is per-archive — exactly the unit the
  * reference processes serially (`/root/reference/embargo.go:278-291`); a
  * 1000-executor cluster splits 1000 tarballs at once. Within a task the
  * gzip/tar stream is decoded incrementally (entry at a time), never
  * materializing the archive's entry list — only one inflated payload is
  * live at a time, so memory is O(largest entry), not O(archive) as in the
  * reference's 8 GB buffering (`/root/reference/deploy/app.yaml:9`).
  */
object TgzSource {

  /** Derived once: deriving an encoder runs Scala reflection under
    * process-wide locks, so per-call derivation queues concurrent splits.
    */
  private val entryEncoder = Encoders.product[TarEntry]
  private val binaryRowEncoder = Encoders.tuple(Encoders.STRING, Encoders.BINARY)

  /** Explode every `.tgz` under `path` (file, dir, or glob) into entries:
    * one `tgz` scan, typed with [[entryEncoder]]. A path that matches no
    * file fails when the scan is planned.
    */
  def entries(spark: SparkSession, path: String,
              globFilter: String = "*.tgz"): Dataset[TarEntry] =
    spark.read.format("tgz").option("pathGlobFilter", globFilter).load(path)
      .as(entryEncoder)

  /** Explode a DataFrame of `(path, content)` binary-file rows — the core
    * for streaming micro-batches (ST1).
    */
  def explodeEntries(bin: DataFrame): Dataset[TarEntry] =
    bin.select(col("path"), col("content")).as(binaryRowEncoder)
      .flatMap { case (p, bytes) => readTgz(p, bytes) }(entryEncoder)

  /** P2 — regular-file filter (`/root/reference/embargo.go:158-160`). */
  def regularFiles(es: Dataset[TarEntry]): Dataset[TarEntry] =
    es.filter(_.typeflag == "0")

  /** Iterate a gzipped tar held in `bytes`, lazily: the returned iterator
    * inflates one entry per `next()`. Non-tar/corrupt input fails fast with
    * the underlying commons-compress error (the reference propagates reader
    * errors the same way, `/root/reference/embargo.go:131-141`).
    */
  def readTgz(archive: String, bytes: Array[Byte]): Iterator[TarEntry] =
    readTgzStream(archive, new ByteArrayInputStream(bytes))

  /** Stream variant for callers that hold an [[InputStream]] (tests, sinks). */
  def readTgzStream(archive: String, in: InputStream): Iterator[TarEntry] =
    readTgzStream(archive, in, readContent = true)

  /** `readContent = false` skips payload inflation entirely (the tar stream
    * seeks past each entry's data) — the column-pruned path of the DSv2
    * `tgz` source: a name/size-only projection over 100 TB of archives
    * never touches the payload bytes.
    */
  def readTgzStream(archive: String, in: InputStream,
                    readContent: Boolean): Iterator[TarEntry] = {
    val tin = new TarArchiveInputStream(
      new GzipCompressorInputStream(new BufferedInputStream(in)))
    new Iterator[TarEntry] {
      private var ord = 0L
      private var nextEntry = advance()

      private def advance(): Option[TarEntry] = {
        val e = tin.getNextEntry
        if (e == null) { tin.close(); None }
        else {
          require(e.getSize <= Int.MaxValue,
            s"tar entry ${e.getName} is ${e.getSize} bytes; single-entry " +
              "payloads above 2 GiB need a chunked reader")
          // real tar typeflag, so symlinks/devices are not misclassified as
          // regular files (the reference skips anything != tar.TypeReg,
          // /root/reference/embargo.go:158-160 — downstream `typeflag == "0"`
          // filters now reproduce that exactly)
          val flag =
            if (e.isDirectory) "5"
            else if (e.isSymbolicLink) "2"
            else if (e.isLink) "1"
            else if (e.isCharacterDevice) "3"
            else if (e.isBlockDevice) "4"
            else if (e.isFIFO) "6"
            else "0"
          val content =
            if (flag == "0" && readContent) tin.readNBytes(e.getSize.toInt)
            else Array.emptyByteArray
          val te = TarEntry(archive, ord, e.getName, e.getSize, e.getMode.toLong,
            new java.sql.Timestamp(e.getModTime.getTime), flag, content)
          ord += 1
          Some(te)
        }
      }

      override def hasNext: Boolean = nextEntry.isDefined
      override def next(): TarEntry = {
        val cur = nextEntry.getOrElse(throw new NoSuchElementException)
        nextEntry = advance()
        cur
      }
    }
  }

  /** S5 — whitelist line scan (`/root/reference/embargo_check.go:84-99`):
    * one trimmed (F10), deduped (A2) IP per row, column `wip`.
    */
  def whitelist(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.textFile(path)
      .map(_.trim)
      .filter(_.nonEmpty)
      .distinct()
      .toDF("wip")
  }
}
