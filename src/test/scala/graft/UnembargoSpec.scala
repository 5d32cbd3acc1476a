package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{EmbargoSplit, Metrics, Unembargo, Whitelist}
import graft.io.TgzSource
import graft.queries.TarQueries

/** E2 promotion + A1 counter specs. */
class UnembargoSpec extends AnyFunSuite with SparkSuite with TempDirs with JobCounting {

  test("E2: promoteDay copies -e archives, overwrites existing, validates dates") {
    val root = tempDir("graft-unemb").toString
    val day = "sidestream/2017/03/15"
    Files.createDirectories(Paths.get(s"$root/embargo/$day"))
    Files.createDirectories(Paths.get(s"$root/archive/$day"))
    Files.write(Paths.get(s"$root/embargo/$day/a-e.tgz"), "new-a".getBytes)
    Files.write(Paths.get(s"$root/embargo/$day/b-e.tgz"), "new-b".getBytes)
    Files.write(Paths.get(s"$root/embargo/$day/skip.tgz"), "not-e".getBytes)
    Files.write(Paths.get(s"$root/archive/$day/a-e.tgz"), "old-a".getBytes)

    val (copied, overwritten) = Unembargo.promoteDay(spark,
      s"$root/embargo", s"$root/archive", dateInt = 20170315, cutoffDateInt = 20250101)
    assert(copied === 2 && overwritten === 1)
    assert(Files.readString(Paths.get(s"$root/archive/$day/a-e.tgz")) === "new-a")
    assert(Files.readString(Paths.get(s"$root/archive/$day/b-e.tgz")) === "new-b")
    assert(!Files.exists(Paths.get(s"$root/archive/$day/skip.tgz")))

    // P6 guards
    assertThrows[IllegalArgumentException] {
      Unembargo.promoteDay(spark, s"$root/embargo", s"$root/archive", 20150101, 20250101)
    }
    assertThrows[IllegalArgumentException] {
      Unembargo.promoteDay(spark, s"$root/embargo", s"$root/archive", 20260101, 20250101)
    }
  }

  test("E2: promoteDay on a day with no embargoed archives copies nothing and creates no public day dir") {
    val root = tempDir("graft-unemb-absent").toString
    try {
      Files.createDirectories(Paths.get(s"$root/embargo"))
      val (copied, overwritten) = Unembargo.promoteDay(spark,
        s"$root/embargo", s"$root/archive", dateInt = 20170101, cutoffDateInt = 20250101)
      assert((copied, overwritten) === ((0L, 0L)))
      assert(!Files.exists(Paths.get(s"$root/archive/${Unembargo.dayPrefix(20170101)}")))
    } finally graft.io.FsOps.deletePrefix(spark, root)
  }

  test("E2: an empty -e.tgz is promoted and counted like any other") {
    val root = tempDir("graft-unemb-empty").toString
    val day = Unembargo.dayPrefix(20170315)
    Files.createDirectories(Paths.get(s"$root/embargo/$day"))
    Files.write(Paths.get(s"$root/embargo/$day/a-e.tgz"), Array[Byte](1))
    Files.write(Paths.get(s"$root/embargo/$day/z-e.tgz"), Array.emptyByteArray)
    val (copied, overwritten) = Unembargo.promoteDay(spark,
      s"$root/embargo", s"$root/archive", dateInt = 20170315, cutoffDateInt = 20250101)
    assert((copied, overwritten) === ((2L, 0L)))
    assert(Files.size(Paths.get(s"$root/archive/$day/a-e.tgz")) === 1L)
    assert(Files.size(Paths.get(s"$root/archive/$day/z-e.tgz")) === 0L)
  }

  test("E2: promoteDay plans on the driver: two -e.tgz start one Spark job, none start none") {
    val root = tempDir("graft-unemb-jobs").toString
    val day = Unembargo.dayPrefix(20170315)
    Files.createDirectories(Paths.get(s"$root/embargo/$day"))
    Files.createDirectories(Paths.get(s"$root/archive/$day"))
    Files.write(Paths.get(s"$root/embargo/$day/skip.tgz"), "not-e".getBytes)
    def promote(): (Long, Long) = Unembargo.promoteDay(spark,
      s"$root/embargo", s"$root/archive", dateInt = 20170315, cutoffDateInt = 20250101)

    var counts = (-1L, -1L)
    assert(jobsStartedBy { counts = promote() } === 0)
    assert(counts === ((0L, 0L)))

    Files.write(Paths.get(s"$root/embargo/$day/a-e.tgz"), "new-a".getBytes)
    Files.write(Paths.get(s"$root/embargo/$day/b-e.tgz"), "new-b".getBytes)
    Files.write(Paths.get(s"$root/archive/$day/a-e.tgz"), "old-a".getBytes)
    assert(jobsStartedBy { counts = promote() } === 1)
    assert(counts === ((2L, 1L)))
  }

  /** Split `tgz` at `cutoff` by the fixture whitelist into a fresh root
    * and return the split's counts.
    */
  private def splitCounts(tgz: String, cutoff: Int): Map[String, Long] = {
    val out = tempDir("graft-a1").toString
    EmbargoSplit.runWith(spark, tgz,
      Whitelist.fromText(spark, TarQueries.FixtureWhitelist), cutoff, out, out)
  }

  test("A1: the split returns its routed counters from the write job") {
    var m = Map.empty[String, Long]
    assert(jobsStartedBy { m = splitCounts(TarQueries.FixtureTgz, TarQueries.FixtureCutoff) } === 1)
    assert(m("entries_total") === 204)
    // golden split: 145 public entries of which 121 are web100; 59 private
    // (all web100) — the web100-only counts mirror embargo_file_total
    assert(m("files_public") === 121)
    assert(m("files_private") === 59)
    assert(m("bytes_public") > 0 && m("bytes_private") > 0)
  }

  test("A1: ipv6_errors counts names with an _IP_ span that fails normalization") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val routed = Seq(
      // valid IPv6 (triple-colon web100 form) — parses, no error
      ("d/20170315T17:00:00Z_2001:668:1f:1d:::43_0.web100", 10L, "public"),
      // span present but not an IP — the reference increments
      // embargo_ipv6_errors_total here (filename_parser.go:25)
      ("d/20170315T17:00:00Z_notanip_0.web100", 10L, "private"),
      // old-format name, no _IP_ span — NOT an error (parser returns ""
      // before attempting normalization, filename_parser.go:19-23)
      ("d/oldformat.web100", 10L, "public"),
      // valid IPv4 — no error
      ("d/20170315T17:00:00Z_173.205.3.39_0.web100", 10L, "public")
    ).toDF("name", "size", "route")
      .withColumn("local_ip",
        graft.functions.IpFunctions.local_ip(graft.functions.NameFunctions.basename(col("name"))))
    // the tally over the four rows, as one write task sums it
    val counts = new Array[Long](Metrics.RoutedTally.keys.length)
    routed.collect().foreach(Metrics.RoutedTally.add(_, counts))
    val m = Metrics.RoutedTally.keys.zip(counts).toMap
    assert(m("ipv6_errors") === 1)
    assert(m("entries_total") === 4)
  }

  test("A1: split counts are pinned for syd02 and for an empty split") {
    assert(splitCounts(TarQueries.Fixture2Tgz, 20170315) === Map(
      "entries_total" -> 10L, "files_public" -> 3L, "files_private" -> 6L,
      "bytes_public" -> 621L, "bytes_private" -> 1159L, "ipv6_errors" -> 1L))
    // an archive with no entries: every counter is present, at 0
    val empty = tempDir("graft-a1-empty").resolve("20170315T000000Z-empty-sidestream-0000.tgz")
    val tar = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(
      new org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream(
        Files.newOutputStream(empty)))
    tar.close()
    assert(splitCounts(empty.toString, 20170315) ===
      Metrics.RoutedTally.keys.map(_ -> 0L).toMap)
  }

  test("A1: the write task's counts equal the column definitions on every testdata archive") {
    import org.apache.spark.sql.functions._
    import graft.functions.NameFunctions.basename
    import graft.model.Schemas.{RoutePrivate, RoutePublic}
    val wl = Whitelist.fromText(spark, TarQueries.FixtureWhitelist)
    val archives = Seq(TarQueries.FixtureTgz, TarQueries.Fixture2Tgz,
      new java.io.File(TarQueries.FixtureTgz).getParent +
        "/20160102T000000Z-mlab3-sin01-sidestream-0000.tgz")
    for (tgz <- archives; cutoff <- Seq(20160101, 20170315, 20170317)) {
      // the counter definitions as column aggregates over the routed rows
      val web100 = basename(col("name")).contains("web100")
      val expected = EmbargoSplit.route(TgzSource.entries(spark, tgz), wl, cutoff).agg(
        count(lit(1)).as("entries_total"),
        count(when(web100 && col("route") === RoutePublic, 1)).as("files_public"),
        count(when(web100 && col("route") === RoutePrivate, 1)).as("files_private"),
        sum(when(col("route") === RoutePublic, col("size")).otherwise(0L)).as("bytes_public"),
        sum(when(col("route") === RoutePrivate, col("size")).otherwise(0L)).as("bytes_private"),
        count(when(size(split(basename(col("name")), "_")) >= 3
          && length(col("local_ip")) === 0, 1)).as("ipv6_errors")).head()
      val want = expected.schema.fieldNames.map(f => f -> expected.getAs[Long](f)).toMap
      assert(splitCounts(tgz, cutoff) === want, s"$tgz at $cutoff")
    }
  }

  test("A1 export: prometheusText of an observed row is the exact exposition text") {
    val m = splitCounts(TarQueries.FixtureTgz, TarQueries.FixtureCutoff)
    // scrape-format exposition of the counts (metrics.go:79-102's /metrics
    // handler): exact text, so names/labels/format are pinned
    val text = Metrics.prometheusText(m)
    val expectFile =
      "# HELP embargo_file_total Number of web100 sidestream files that were processed by embargo app engine.\n" +
      "# TYPE embargo_file_total counter\n" +
      "embargo_file_total{dataset=\"sidestream\",status=\"public\"} 121\n" +
      "embargo_file_total{dataset=\"sidestream\",status=\"private\"} 59\n"
    assert(text.startsWith(expectFile), s"exposition drifted:\n$text")
    assert(text.contains("# TYPE embargo_ipv6_errors_total counter"))
    assert(text.contains("""graft_entries_total{dataset="sidestream"} 204"""))
    // no promotion in a split's counts: that family is absent, not 0
    assert(!text.contains("unembargo_tar_total"))
    assert(text.linesIterator.forall(l =>
      l.startsWith("#") || l.matches("""[a-z0-9_]+\{[^}]*\} \d+""")),
      s"non-exposition line in:\n$text")
  }
}
