package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.io.FsOps

/** S1-S3/S9-S11 catalog-operation specs over a temp dir (posix stands in
  * for the object store; the code path is Hadoop FileSystem either way).
  */
class FsOpsSpec extends AnyFunSuite with SparkSuite with TempDirs with JobCounting {

  test("list / read / copy / delete / mkdirs round-trip") {
    val root = tempDir("graft-fs").toString
    assert(FsOps.mkdirs(spark, s"$root/src"))
    Files.write(java.nio.file.Paths.get(s"$root/src/a.tgz"), "alpha".getBytes)
    Files.write(java.nio.file.Paths.get(s"$root/src/b.tgz"), "beta!!".getBytes)
    Files.write(java.nio.file.Paths.get(s"$root/src/c.txt"), "gamma".getBytes)

    // S1 suffix-filtered vs S2 full listing (list() is unordered by design
    // — sort at the consumer, like s2_bucket_list does)
    val tgz = FsOps.list(spark, s"$root/src", ".tgz").collect().sortBy(_.getString(0))
    assert(tgz.map(_.getString(0)).toSeq === Seq("a.tgz", "b.tgz"))
    assert(tgz.map(_.getLong(1)).toSeq === Seq(5L, 6L))
    assert(FsOps.list(spark, s"$root/src").count() === 3)

    // S3 download
    assert(new String(FsOps.readBytes(spark, s"$root/src/a.tgz")) === "alpha")

    // S9 copy, S11 mkdirs implied by copy dir creation
    assert(FsOps.mkdirs(spark, s"$root/dst"))
    assert(FsOps.copy(spark, s"$root/src/a.tgz", s"$root/dst/a.tgz"))
    assert(new String(FsOps.readBytes(spark, s"$root/dst/a.tgz")) === "alpha")

    // S10 delete by prefix
    assert(FsOps.deletePrefix(spark, s"$root/src"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/src")))
  }

  test("S2: driver listing: empty prefix lists 0; 500 files list 500 flat, 501 recursive") {
    val root = tempDir("graft-fs2").toString
    FsOps.mkdirs(spark, s"$root/empty")
    assert(FsOps.list(spark, s"$root/empty").count() === 0)

    FsOps.mkdirs(spark, s"$root/many/sub")
    (0 until 500).foreach { i =>
      Files.write(java.nio.file.Paths.get(f"$root/many/f$i%03d.tgz"), Array[Byte](1, 2, 3))
    }
    Files.write(java.nio.file.Paths.get(s"$root/many/sub/nested.tgz"), "abcd".getBytes)
    val flat = FsOps.list(spark, s"$root/many", ".tgz")
    assert(flat.count() === 500) // one level, as the reference's prefix list
    assert(flat.orderBy("name").head().getString(0) === "f000.tgz")
    // recursive variant picks up the nested object too
    assert(FsOps.list(spark, s"$root/many", ".tgz", recursive = true).count() === 501)
  }

  test("J2/J4 object level: syncCopy copies only missing, compare detects drift") {
    val root = tempDir("graft-sync").toString
    FsOps.mkdirs(spark, s"$root/a")
    FsOps.mkdirs(spark, s"$root/b")
    Files.write(java.nio.file.Paths.get(s"$root/a/x.tgz"), "xx".getBytes)
    Files.write(java.nio.file.Paths.get(s"$root/a/y.tgz"), "yy".getBytes)
    Files.write(java.nio.file.Paths.get(s"$root/b/x.tgz"), "KEEP".getBytes) // present: untouched

    assert(!FsOps.compare(spark, s"$root/a", s"$root/b"))
    assert(FsOps.syncCopy(spark, s"$root/a", s"$root/b") === 1) // only y.tgz
    assert(new String(FsOps.readBytes(spark, s"$root/b/x.tgz")) === "KEEP")
    assert(new String(FsOps.readBytes(spark, s"$root/b/y.tgz")) === "yy")
    // same names but x sizes differ -> still not equal; after mirroring -> equal
    assert(!FsOps.compare(spark, s"$root/a", s"$root/b"))
    Files.write(java.nio.file.Paths.get(s"$root/b/x.tgz"), "xx".getBytes)
    assert(FsOps.compare(spark, s"$root/a", s"$root/b"))
    assert(FsOps.syncCopy(spark, s"$root/a", s"$root/b") === 0) // idempotent
  }

  test("J2/J4 plan on the driver: syncCopy with nothing missing and compare start no Spark job") {
    val root = tempDir("graft-sync-jobs").toString
    FsOps.mkdirs(spark, s"$root/a")
    FsOps.mkdirs(spark, s"$root/b")
    Seq("a", "b").foreach { d =>
      Files.write(java.nio.file.Paths.get(s"$root/$d/x.tgz"), "xx".getBytes)
    }
    assert(jobsStartedBy {
      assert(FsOps.syncCopy(spark, s"$root/a", s"$root/b") === 0)
    } === 0)
    assert(jobsStartedBy(assert(FsOps.compare(spark, s"$root/a", s"$root/b"))) === 0)
    Files.write(java.nio.file.Paths.get(s"$root/a/y.tgz"), "yy".getBytes)
    assert(jobsStartedBy(assert(!FsOps.compare(spark, s"$root/a", s"$root/b"))) === 0)
  }

  test("J4: compare sees a zero-length object that exists on one side only") {
    val root = tempDir("graft-cmp-empty").toString
    FsOps.mkdirs(spark, s"$root/a")
    FsOps.mkdirs(spark, s"$root/b")
    Seq("a", "b").foreach { d =>
      Files.write(java.nio.file.Paths.get(s"$root/$d/x.tgz"), "xx".getBytes)
    }
    Files.write(java.nio.file.Paths.get(s"$root/a/empty.tgz"), Array.emptyByteArray)
    assert(!FsOps.compare(spark, s"$root/a", s"$root/b"))
    assert(!FsOps.compare(spark, s"$root/b", s"$root/a"))
    Files.write(java.nio.file.Paths.get(s"$root/b/empty.tgz"), Array.emptyByteArray)
    assert(FsOps.compare(spark, s"$root/a", s"$root/b"))
  }

  /** A dir holding a zero-length file, hidden files, a hidden
    * subdirectory with a file inside and a visible subdirectory.
    */
  private def catalogTree(tag: String): String = {
    val root = tempDir(tag).toString
    def put(rel: String, bytes: String): Unit = {
      val p = java.nio.file.Paths.get(s"$root/$rel")
      Files.createDirectories(p.getParent)
      Files.write(p, bytes.getBytes)
    }
    put("a.tgz", "alpha")
    put("empty.tgz", "")
    put("_hidden.tgz", "hh")
    put(".hidden/inner.tgz", "inner")
    put("sub/nested.tgz", "nest")
    put("sub/_marker", "m")
    root
  }

  private def listed(dir: String, recursive: Boolean): Map[String, Long] =
    FsOps.list(spark, dir, recursive = recursive).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("list and objects agree: zero-length files listed, hidden files and dirs skipped, flat and recursive") {
    val root = catalogTree("graft-catalog")
    val flat = Map("a.tgz" -> 5L, "empty.tgz" -> 0L)
    assert(listed(root, recursive = false) === flat)
    assert(FsOps.objects(spark, root) === flat)
    val deep = flat + ("sub/nested.tgz" -> 4L)
    assert(listed(root, recursive = true) === deep)
    assert(FsOps.objects(spark, root, recursive = true) === deep)
    assert(FsOps.objects(spark, root, ".tgz", recursive = true) === deep)
    assert(FsOps.parquetBytes(spark, root) === 9L)
  }

  test("parquetBytes and list(...).collect() start no Spark job") {
    val root = catalogTree("graft-catalog-jobs")
    assert(jobsStartedBy(assert(FsOps.parquetBytes(spark, root) === 9L)) === 0)
    assert(jobsStartedBy(assert(FsOps.list(spark, root, ".tgz").collect().length === 2)) === 0)
  }

  test("list() plans no sort: join consumers pay no listing exchange") {
    val root = tempDir("graft-plan").toString
    FsOps.mkdirs(spark, s"$root/a")
    FsOps.mkdirs(spark, s"$root/b")
    Files.write(java.nio.file.Paths.get(s"$root/a/x.tgz"), "xx".getBytes)
    Files.write(java.nio.file.Paths.get(s"$root/b/y.tgz"), "yy".getBytes)

    // the raw listing itself: no Sort, no Exchange of any kind
    val listPlan = FsOps.list(spark, s"$root/a").queryExecution.executedPlan.toString
    assert(!listPlan.contains("Sort"), s"listing plans a sort:\n$listPlan")
    assert(!listPlan.contains("Exchange"), s"listing plans an exchange:\n$listPlan")

    // the syncCopy missing-set (listing anti-join): the only exchanges are
    // the join's own hash partitioning — no global-order exchange (which
    // would show as rangepartitioning) from either listing side
    val missing = FsOps.list(spark, s"$root/a").select("name")
      .join(FsOps.list(spark, s"$root/b").select("name"), Seq("name"), "left_anti")
    val joinPlan = missing.queryExecution.executedPlan.toString
    assert(!joinPlan.contains("Sort ") && !joinPlan.contains("rangepartitioning"),
      s"listing join pays an ordering exchange:\n$joinPlan")
  }
}
