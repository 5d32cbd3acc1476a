package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.TgzSource
import graft.queries.TarQueries

/** DSv2 `tgz` format spec: `spark.read.format("tgz")` must agree with the
  * binaryFile+flatMap path ([[TgzSource.entries]]) row for row on the
  * reference fixture, prune the payload read when `content` is not
  * projected, and plan one partition per archive.
  */
class TgzTableProviderSpec extends AnyFunSuite with SparkSuite with TempDirs {

  test("format(\"tgz\") row-set matches TgzSource.entries, content included") {
    val v2 = spark.read.format("tgz").load(TarQueries.FixtureTgz)
    assert(v2.columns.toSeq === Seq("archive", "ordinal", "name", "size",
      "mode", "modTime", "typeflag", "content"))
    val v2Rows = v2.selectExpr("ordinal", "name", "size", "mode",
      "cast(modTime as long) mt", "typeflag", "xxhash64(content) ch")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val v1Rows = TgzSource.entries(spark, TarQueries.FixtureTgz)
      .selectExpr("ordinal", "name", "size", "mode",
        "cast(modTime as long) mt", "typeflag", "xxhash64(content) ch")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(v1Rows.length === 205) // the fixture's golden entry count
    assert(v2Rows.toSeq === v1Rows.toSeq)
  }

  test("column pruning reaches the scan: no content -> payloads skipped") {
    val pruned = spark.read.format("tgz").load(TarQueries.FixtureTgz)
      .select("name", "size")
    val scan = pruned.queryExecution.executedPlan.toString
    // the v2 scan reports its pruned schema; content must not be in it
    assert(scan.contains("tgz ReadSchema"), s"v2 scan not planned:\n$scan")
    assert(scan.contains("payloads skipped"), s"payload read not pruned:\n$scan")
    assert(pruned.count() === 205)
    // pruning must not change semantics
    assert(pruned.selectExpr("sum(size)").head.getLong(0) ===
      spark.read.format("tgz").load(TarQueries.FixtureTgz)
        .selectExpr("sum(size)").head.getLong(0))
  }

  test("one input partition per archive; glob + dir listing resolve") {
    val dir = tempDir("tgz-dsv2").toFile
    val src = new java.io.File(TarQueries.FixtureTgz)
    val names = Seq("a.tgz", "b.tgz", "ignore.txt")
    names.foreach { n =>
      val dst = new java.io.File(dir, n)
      if (n.endsWith(".tgz"))
        java.nio.file.Files.copy(src.toPath, dst.toPath)
      else java.nio.file.Files.writeString(dst.toPath, "not a tarball")
    }
    val df = spark.read.format("tgz").load(dir.getAbsolutePath)
    // default pathGlobFilter *.tgz keeps the stray file out of the scan
    assert(df.select("archive").distinct().count() === 2)
    assert(df.count() === 410) // 205 entries x 2 archives
    assert(df.rdd.getNumPartitions === 2) // one task per tarball
  }
}
