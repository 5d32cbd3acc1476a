package graft.io

import java.io.{BufferedInputStream, InputStream}
import java.sql.Timestamp

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream}
import org.apache.commons.compress.compressors.gzip.GzipCompressorInputStream
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.bridge.{column, expression}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.model.TarEntry
import graft.plans.ExplodeTar

/** S4 — the `.tgz` record scan (`/root/reference/embargo.go:125-173`):
  * one archive explodes into many [[graft.model.Schemas.tarEntrySchema]]
  * rows, typed as [[TarEntry]].
  *
  * This object owns the tar-entry format: [[rows]] is the one decoder.
  * Its three callers only hand it a stream and the fields they want:
  *   - the DSv2 `tgz` source ([[TgzTableProvider]]), which [[entries]]
  *     reads through: one input partition per archive, listed on the
  *     driver as the `binaryFile` reader lists (globs, a directory's own
  *     files, hidden names skipped, `pathGlobFilter`);
  *   - the `explode_tar` generator ([[ExplodeTar]]), over payload bytes;
  *   - [[explodeEntries]], `explode_tar` over streaming `binaryFile`
  *     micro-batches.
  *
  * The explode is narrow (no shuffle): every entry of an archive is
  * produced inside the task that read it, ordered by `ordinal`, which is
  * what lets [[TgzSink]] repack without a shuffle.
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

  /** Explode every `.tgz` under `path` (file, dir, or glob) into entries:
    * one `tgz` scan, typed with [[entryEncoder]]. A path that matches no
    * file fails when the scan is planned.
    */
  def entries(spark: SparkSession, path: String,
              globFilter: String = "*.tgz"): Dataset[TarEntry] =
    spark.read.format("tgz").option("pathGlobFilter", globFilter).load(path)
      .as(entryEncoder)

  /** Explode a DataFrame of `(path, content)` binary-file rows — the core
    * for streaming micro-batches (ST1): `explode_tar(path, content)`
    * beside `path AS archive`.
    */
  def explodeEntries(bin: DataFrame): Dataset[TarEntry] =
    bin.select(col("path").as("archive"),
      column(ExplodeTar(expression(col("path")), expression(col("content")))))
      .as(entryEncoder)

  /** Typeflags "0" to "6" as row values; "0" is a regular file. */
  private val Flags = (0 to 6).map(i => UTF8String.fromString(i.toString))

  /** The real tar typeflag, so symlinks and devices are not taken for
    * regular files: the reference skips anything but `tar.TypeReg`
    * (`/root/reference/embargo.go:158-160`), and a downstream
    * `typeflag == "0"` filter reproduces that exactly.
    */
  private def typeflag(e: TarArchiveEntry): UTF8String = Flags(
    if (e.isDirectory) 5
    else if (e.isSymbolicLink) 2
    else if (e.isLink) 1
    else if (e.isCharacterDevice) 3
    else if (e.isBlockDevice) 4
    else if (e.isFIFO) 6
    else 0)

  /** Decode the gzipped tar `in`, from archive `archive`, into one row
    * per entry holding `fields` — any subset of
    * [[graft.model.Schemas.tarEntrySchema]], in `fields`' order — built
    * straight from the tar headers.
    *
    * Lazy: each `next()` decodes one entry. The payload is read only when
    * `fields` holds `content`, and only for regular files (others get an
    * empty payload); otherwise the tar reader skips past it, so a name/size
    * projection never holds a payload in memory (the gzip stream still
    * inflates the bytes it skips). Non-tar or corrupt input fails with the
    * underlying commons-compress `IOException`, as the reference's reader
    * errors propagate (`/root/reference/embargo.go:131-141`). The stream
    * is closed once the last entry has been read.
    */
  def rows(archive: String, in: InputStream, fields: StructType): Iterator[InternalRow] = {
    val tin = new TarArchiveInputStream(
      new GzipCompressorInputStream(new BufferedInputStream(in)))
    val path = UTF8String.fromString(archive)
    new Iterator[InternalRow] {
      private var ordinal = 0L
      private var entry = advance()

      private def advance(): TarArchiveEntry = {
        val e = tin.getNextEntry
        if (e == null) tin.close()
        else require(e.getSize <= Int.MaxValue,
          s"tar entry ${e.getName} is ${e.getSize} bytes; single-entry " +
            "payloads above 2 GiB need a chunked reader")
        e
      }

      // one extractor per output slot, bound once per archive
      private val slots: Array[TarArchiveEntry => Any] = fields.fieldNames.map {
        case "archive" => (_: TarArchiveEntry) => path
        case "ordinal" => (_: TarArchiveEntry) => ordinal
        case "name" => (e: TarArchiveEntry) => UTF8String.fromString(e.getName)
        case "size" => (e: TarArchiveEntry) => e.getSize
        case "mode" => (e: TarArchiveEntry) => e.getMode.toLong
        case "modTime" => (e: TarArchiveEntry) =>
          DateTimeUtils.fromJavaTimestamp(new Timestamp(e.getModTime.getTime))
        case "typeflag" => (e: TarArchiveEntry) => typeflag(e)
        case "content" => (e: TarArchiveEntry) =>
          if (typeflag(e) eq Flags(0)) tin.readNBytes(e.getSize.toInt)
          else Array.emptyByteArray
        case f => throw new IllegalArgumentException(s"$f is not a tar-entry field")
      }

      override def hasNext: Boolean = entry != null

      override def next(): InternalRow = {
        if (entry == null) throw new NoSuchElementException
        val row = new GenericInternalRow(slots.length)
        var i = 0
        while (i < slots.length) { row.update(i, slots(i)(entry)); i += 1 }
        ordinal += 1
        entry = advance()
        row
      }
    }
  }
}
