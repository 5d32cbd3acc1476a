package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TgzSource
import graft.plans.GraftExtensions
import graft.queries.TarQueries

/** DSv2 `tgz` format spec: `spark.read.format("tgz")` must agree row for
  * row with an independent oracle — the archives a `binaryFile` read
  * returns, decoded by the test's own commons-compress reader
  * ([[TarFiles]]) — on both reference fixtures, list paths as the
  * `binaryFile` reader lists them, prune the payload read when `content`
  * is not projected, and plan one partition per archive. The other users
  * of the one decoder (`TgzSource.entries`, `TgzSource.explodeEntries`,
  * SQL `explode_tar`) are held to the same oracle.
  */
class TgzTableProviderSpec extends AnyFunSuite with SparkSuite with TempDirs {

  private val rowCols = Seq("archive", "ordinal", "name", "size", "mode",
    "unix_micros(modTime) mt", "typeflag", "xxhash64(content) ch")

  private def rows(df: DataFrame, cols: Seq[String] = rowCols): Seq[Seq[Any]] =
    df.selectExpr(cols: _*).collect().map(_.toSeq).toSeq
      .sortBy(r => (r.head.asInstanceOf[String], r(1).asInstanceOf[Long]))

  /** The archives `binaryFile` reads from `path`, decoded by [[TarFiles]]. */
  private def binaryFileOracle(path: String, glob: String = "*.tgz"): DataFrame = {
    import spark.implicits._
    val bin = spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
      .select("path", "content").collect()
    bin.toSeq.flatMap(r => TarFiles.read(r.getString(0), r.getAs[Array[Byte]](1))).toDS().toDF()
  }

  /** Both golden fixtures with their entry counts: the second has a
    * mid-stream directory, malformed names and `:::` IPs.
    */
  private val fixtures = Seq(TarQueries.FixtureTgz -> 205, TarQueries.Fixture2Tgz -> 12)

  test("format(\"tgz\") row-set matches TgzSource.entries, content included") {
    for ((tgz, n) <- fixtures) {
      val v2 = spark.read.format("tgz").load(tgz)
      assert(v2.columns.toSeq === Seq("archive", "ordinal", "name", "size",
        "mode", "modTime", "typeflag", "content"))
      val oracle = rows(binaryFileOracle(tgz))
      assert(oracle.length === n, tgz) // the fixture's golden entry count
      assert(rows(v2) === oracle, tgz)
      assert(rows(TgzSource.entries(spark, tgz).toDF()) === oracle, tgz)
      assert(rows(TgzSource.explodeEntries(spark.read.format("binaryFile").load(tgz)).toDF()) ===
        oracle, tgz)
    }
  }

  test("a pruned (name, size) scan and SQL explode_tar match the binaryFile oracle") {
    GraftExtensions.register(spark)
    for ((tgz, n) <- fixtures) {
      val oracle = binaryFileOracle(tgz)
      val nameSize = Seq("archive", "ordinal", "name", "size")
      val pruned = spark.read.format("tgz").load(tgz).selectExpr(nameSize: _*)
      assert(rows(pruned, nameSize) === rows(oracle, nameSize), tgz)
      spark.read.format("binaryFile").load(tgz).createOrReplaceTempView("bin")
      val sql = spark.sql(
        "SELECT path AS archive, t.* FROM bin LATERAL VIEW explode_tar(path, content) t")
      assert(sql.columns.toSeq === Seq("archive", "ordinal", "name", "size",
        "mode", "modTime", "typeflag", "content"))
      val expected = rows(oracle)
      assert(expected.length === n)
      assert(rows(sql) === expected, tgz)
    }
  }

  test("tgz lists paths as binaryFile does: a dir's own files, hidden names, literal files") {
    val dir = tempDir("tgz-list").toFile
    val src = new java.io.File(TarQueries.FixtureTgz).toPath
    Seq("a.tgz", "sub/b.tgz", "sub/deeper/c.tgz", "_hidden/d.tgz", ".dot/e.tgz",
        "_f.tgz", ".g.tgz", "h.tar.gz").foreach { n =>
      val dst = new java.io.File(dir, n).toPath
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.copy(src, dst)
    }
    java.nio.file.Files.writeString(new java.io.File(dir, "ignore.txt").toPath, "not a tarball")
    java.nio.file.Files.createFile(new java.io.File(dir, "empty.tgz").toPath)
    def archives(df: DataFrame): Seq[String] =
      df.select("archive").distinct().collect().map(_.getString(0)).sorted.toSeq
    val d = dir.getAbsolutePath
    for ((path, glob) <- Seq(d -> "*.tgz", s"$d/*" -> "*.tgz", s"$d/sub" -> "*.tgz",
        s"$d/_hidden" -> "*.tgz", s"$d/_f.tgz" -> "*.tgz", s"$d/.g.tgz" -> "*.tgz",
        s"$d/h.tar.gz" -> "*.tgz", s"$d/h.tar.gz" -> "*.gz", s"$d/empty.tgz" -> "*.tgz",
        s"$d/{a,_f}.tgz" -> "*.tgz")) {
      val expected = archives(binaryFileOracle(path, glob))
      assert(archives(spark.read.format("tgz").option("pathGlobFilter", glob).load(path)) ===
        expected, s"$path $glob")
      assert(archives(TgzSource.entries(spark, path, glob).toDF()) === expected, s"$path $glob")
    }
    // non-vacuity: each rule showed — a dir's own files only, hidden and
    // empty files dropped, a glob-matched hidden dir listed, the filter
    // applied to a literal file
    def rel(path: String, glob: String = "*.tgz") =
      archives(TgzSource.entries(spark, path, glob).toDF()).map(a => a.substring(a.indexOf(d) + d.length))
    assert(rel(d) === Seq("/a.tgz"))
    assert(rel(s"$d/*") === Seq("/.dot/e.tgz", "/_hidden/d.tgz", "/a.tgz", "/sub/b.tgz"))
    assert(rel(s"$d/h.tar.gz", "*.gz") === Seq("/h.tar.gz"))
    assert(rel(s"$d/h.tar.gz").isEmpty && rel(s"$d/_f.tgz").isEmpty && rel(s"$d/empty.tgz").isEmpty)
  }

  test("a path that matches nothing fails the scan, as it fails binaryFile") {
    val d = tempDir("tgz-missing").toString
    for (path <- Seq(s"$d/nope.tgz", s"$d/none-*.tgz")) {
      intercept[org.apache.spark.sql.AnalysisException](binaryFileOracle(path).count())
      for (df <- Seq(spark.read.format("tgz").load(path), TgzSource.entries(spark, path).toDF())) {
        val e = intercept[java.io.FileNotFoundException](df.count())
        assert(e.getMessage.contains(path))
      }
    }
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
