package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.io.FsOps
import graft.queries.{CoreQueries, Staged, TarQueries}

/** Train-once staging ([[Staged]]): the memo rebuilds when its files are
  * gone, when the corpus changes, and after a failed build — never serves
  * readers over missing paths.
  */
class StagedSpec extends AnyFunSuite with SparkSuite with TempDirs {

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("Staged: a build that throws records no memo, so the next call rebuilds") {
    spark // the helper resolves its filesystem through the active session
    var builds = 0
    intercept[IllegalStateException] {
      Staged("staged-spec-throw", sf, Nil) {
        builds += 1
        throw new IllegalStateException("build failed")
      }
    }
    assert(Staged("staged-spec-throw", sf, Nil) { builds += 1; builds } === 2)
    assert(Staged("staged-spec-throw", sf, Nil) { builds += 1; builds } === 2)
  }

  test("Staged: rebuilds over deleted paths when files go missing, the sfDir changes or force is set") {
    spark
    val art = tempDir("staged-spec").resolve("artifact")
    var builds = 0
    def stage(sfDir: String, force: Boolean = false): Int =
      Staged("staged-spec-paths", sfDir, Seq(art.toString), force) {
        assert(!Files.exists(art), "paths are deleted before a rebuild")
        builds += 1
        Files.createDirectories(art).resolve("part").toFile.createNewFile()
        builds
      }
    assert(stage("sfA") === 1)
    assert(stage("sfA") === 1)
    FsOps.deletePrefix(spark, art.toString)
    assert(stage("sfA") === 2)
    assert(stage("sfB") === 3)
    assert(stage("sfB", force = true) === 4)
    assert(stage("sfB") === 4)
  }

  test("ST7: a deleted per-sfDir source is restaged, not read as a missing path") {
    val first = rows(CoreQueries.streamWmDedup(spark, sf))
    assert(first.nonEmpty)
    FsOps.deletePrefix(spark, TarQueries.stagePath("st7_src", sf) + ".parquet")
    assert(rows(CoreQueries.streamWmDedup(spark, sf)) === first)
  }

  test("ST7: a drain leaves no new entry in java.io.tmpdir") {
    def tmpEntries = new java.io.File(System.getProperty("java.io.tmpdir")).list().toSet
    CoreQueries.streamWmDedup(spark, sf).collect() // stages the source
    val before = tmpEntries
    assert(CoreQueries.streamWmDedup(spark, sf).collect().nonEmpty)
    assert(tmpEntries -- before === Set.empty[String])
  }

  test("Q9: the deleted fixed-path partitioned layout is restaged") {
    val first = rows(CoreQueries.partitionPrune(spark, sf))
    assert(first.nonEmpty)
    FsOps.deletePrefix(spark, CoreQueries.PartitionPruneDir)
    assert(rows(CoreQueries.partitionPrune(spark, sf)) === first)
  }
}
