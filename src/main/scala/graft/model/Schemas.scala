package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** A single entry inside a `.tgz` archive: the typed form of one
  * [[Schemas.tarEntrySchema]] row.
  *
  * Mirrors the tar-header fields the reference preserves when re-packing
  * archives (`/root/reference/embargo.go:163-168`: Name, Size, Mode, ModTime,
  * Typeflag) plus the payload bytes and the enclosing archive's path so one
  * exploded Dataset can hold entries from many archives. `ordinal` is the
  * 0-based position within the archive — repacking in `ordinal` order
  * reproduces the reference's input-order tar writes
  * (`/root/reference/embargo.go:149-201`).
  *
  * `typeflag` is a one-char string: "0" = regular file, "5" = directory —
  * the reference routes on `tar.TypeReg` (`/root/reference/embargo.go:158-160`).
  */
final case class TarEntry(
    archive: String,
    ordinal: Long,
    name: String,
    size: Long,
    mode: Long,
    modTime: Timestamp,
    typeflag: String,
    content: Array[Byte]
)

object Schemas {

  /** Schema of the site-IP JSON feed, an array of `{hostname, ipv4, ipv6}`
    * objects (`/root/reference/embargo_check.go:28-33`).
    */
  val siteSchema: StructType = StructType(Seq(
    StructField("hostname", StringType),
    StructField("ipv4", StringType),
    StructField("ipv6", StringType)
  ))

  /** The tar-entry format, declared once: the `tgz` source's table schema,
    * `explode_tar`'s element schema (less `archive`) and the fields of
    * [[TarEntry]], in order. [[graft.io.TgzSource.rows]] decodes any
    * subset of it.
    */
  val tarEntrySchema: StructType = StructType(Seq(
    StructField("archive", StringType, nullable = false),
    StructField("ordinal", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("mode", LongType, nullable = false),
    StructField("modTime", TimestampType),
    StructField("typeflag", StringType, nullable = false),
    StructField("content", BinaryType)
  ))

  /** Routing labels for the embargo split (`/root/reference/embargo.go:174-200`). */
  val RoutePublic = "public"
  val RoutePrivate = "private"
}
