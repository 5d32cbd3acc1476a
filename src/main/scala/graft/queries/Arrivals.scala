package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.io.FsOps

/** The staged file source every graded streaming query drains.
  *
  * `Arrivals(key, sfDir)(files)` stages each DataFrame of `files` as ONE
  * parquet file under `stagePath(key, sfDir) + ".parquet"`, named
  * `0001.parquet`, `0002.parquet`, … with mtimes 2 s apart.
  * FileStreamSource orders files by modification time, so file *i* is
  * micro-batch *i*: the arrival order is explicit, never a race between
  * two writes (a same-millisecond tie would make watermark lateness
  * nondeterministic). Staging runs once per sfDir through [[Staged]],
  * whose memo value is the schema the build wrote; every file must
  * carry the same columns and types. The returned stream reads with
  * that schema, so opening it starts no inference job, and takes one
  * file per trigger.
  *
  * The recorded schema is always the one this JVM wrote: [[Staged]]
  * rebuilds on first use per JVM, so it cannot disagree with the
  * footers. Nullability may differ between files (a filter proves a
  * column non-null); the file source reads every column as nullable.
  */
object Arrivals {

  private val SpacingMs = 2000L

  def apply(key: String, sfDir: String)(files: => Seq[DataFrame]): DataFrame = {
    val dir = TarQueries.stagePath(key, sfDir) + ".parquet"
    val schema = Staged(key, sfDir, Seq(dir))(stage(files, dir))
    SparkSession.active.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
  }

  private def stage(files: Seq[DataFrame], dir: String): StructType = {
    require(files.nonEmpty, s"no files to stage under $dir")
    val schema = files.head.schema
    files.zipWithIndex.foreach { case (df, i) =>
      require(df.schema.catalogString == schema.catalogString,
        s"file ${i + 1} of $dir has schema ${df.schema.catalogString}, " +
          s"file 1 has ${schema.catalogString}")
    }
    // per-source scratch: two sources staging at once must not move each
    // other's part files
    val tmp = s"$dir.tmp"
    val t0 = System.currentTimeMillis()
    try files.zipWithIndex.foreach { case (df, i) =>
      df.repartition(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .head
      val dest = Paths.get(dir, f"${i + 1}%04d.parquet")
      Files.createDirectories(dest.getParent)
      Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      dest.toFile.setLastModified(t0 + i * SpacingMs)
    } finally FsOps.deletePrefix(SparkSession.active, tmp)
    schema
  }

  /** Runs `body` on a fresh temp dir (a drain's checkpoint, a landing
    * dir) and deletes the dir when `body` returns or throws.
    */
  def scratch[T](body: String => T): T = {
    val dir = Files.createTempDirectory("graft-arrivals").toString
    try body(dir)
    finally FsOps.deletePrefix(SparkSession.active, dir)
  }
}
