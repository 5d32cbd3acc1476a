package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** How [[TgzSink]] publishes the staged files its write tasks reported.
  * Publishing stays inside one root (a call stages in `<root>/_tmp-<call>/`),
  * and each root of a two-store split resolves its own [[forPath]], so an
  * object-store root never sees `rename` beside a posix one.
  *
  * [[RenameCommit]] — posix/HDFS: `FileSystem.rename` is atomic there, so
  * publish renames each reported staged file into place.
  *
  * [[CopyCommit]] — object stores (GCS/S3/ABFS — the reference's actual
  * production target promotes via GCS server-side copy,
  * `/root/reference/unembargo.go:124-130`): Hadoop `rename` there is a
  * non-atomic copy+delete whose failure state is unknowable, so this
  * protocol never renames. Publish copies the staged object to its final
  * name (object copy is complete-or-absent), verifies the published length
  * against the staged length before declaring success, and leaves the
  * source for the staging-dir sweep.
  */
sealed trait CommitProtocol extends Serializable
case object RenameCommit extends CommitProtocol
case object CopyCommit extends CommitProtocol

object CommitProtocol {

  /** Schemes whose Hadoop connectors implement `rename` as client-driven
    * copy+delete (non-atomic): every object-store connector in common use.
    */
  private val ObjectStoreSchemes =
    Set("gs", "s3", "s3a", "s3n", "abfs", "abfss", "wasb", "wasbs", "oss",
      "cos", "swift")

  /** Store-appropriate default for `path`: object-store schemes get
    * [[CopyCommit]], filesystems with atomic rename keep [[RenameCommit]].
    */
  def forPath(path: String, conf: Configuration): CommitProtocol = {
    val scheme = Option(new Path(path).toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    // URI schemes are case-insensitive (RFC 3986 §3.1): GS:// must not
    // silently fall back to the rename path on an object store
    if (scheme != null &&
        ObjectStoreSchemes.contains(scheme.toLowerCase(java.util.Locale.ROOT)))
      CopyCommit
    else RenameCommit
  }
}
