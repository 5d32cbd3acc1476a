package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Metrics, Unembargo}
import graft.io.TgzSource
import graft.queries.TarQueries

/** E2 promotion + A1 observe specs. */
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

  test("A1: observe() collects routed counters in the same pass") {
    import graft.ops.EmbargoSplit
    val entries = TgzSource.entries(spark, TarQueries.FixtureTgz)
    val wl = TgzSource.whitelist(spark, TarQueries.FixtureWhitelist)
    val routed = EmbargoSplit.route(entries, wl, TarQueries.FixtureCutoff)
    val observed = Metrics.observeRouted(routed)
    observed.collect() // one pass does work + counters

    val m = observed.queryExecution.observedMetrics("embargo_metrics")
    assert(m.getAs[Long]("entries_total") === 204)
    // golden split: 145 public entries of which 121 are web100; 59 private
    // (all web100) — the web100-only counts mirror embargo_file_total
    assert(m.getAs[Long]("files_public") === 121)
    assert(m.getAs[Long]("files_private") === 59)
    assert(m.getAs[Long]("bytes_public") > 0 && m.getAs[Long]("bytes_private") > 0)
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
    val observed = Metrics.observeRouted(routed)
    observed.collect()
    val m = observed.queryExecution.observedMetrics("embargo_metrics")
    assert(m.getAs[Long]("ipv6_errors") === 1)
    assert(m.getAs[Long]("entries_total") === 4)
  }

  test("A1 export: the QueryExecutionListener sees the counters out-of-band") {
    import graft.ops.EmbargoSplit
    val listener = Metrics.registerListener(spark)
    try {
      val entries = TgzSource.entries(spark, TarQueries.FixtureTgz)
      val wl = TgzSource.whitelist(spark, TarQueries.FixtureWhitelist)
      Metrics.observeRouted(EmbargoSplit.route(entries, wl, TarQueries.FixtureCutoff))
        .collect()
      val m = listener.get("embargo_metrics")
        .getOrElse(fail("listener never delivered embargo_metrics"))
      assert(m.getAs[Long]("entries_total") === 204)
      assert(m.getAs[Long]("files_public") === 121)
      assert(m.getAs[Long]("files_private") === 59)
      // scrape-format exposition of the same row (metrics.go:79-102's
      // /metrics handler): exact text, so names/labels/format are pinned
      val text = Metrics.prometheusText(m)
      val expectFile =
        "# HELP embargo_file_total Number of web100 sidestream files that were processed by embargo app engine.\n" +
        "# TYPE embargo_file_total counter\n" +
        "embargo_file_total{dataset=\"sidestream\",status=\"public\"} 121\n" +
        "embargo_file_total{dataset=\"sidestream\",status=\"private\"} 59\n"
      assert(text.startsWith(expectFile), s"exposition drifted:\n$text")
      assert(text.contains("# TYPE embargo_ipv6_errors_total counter"))
      assert(text.contains("""graft_entries_total{dataset="sidestream"} 204"""))
      assert(text.linesIterator.forall(l =>
        l.startsWith("#") || l.matches("""[a-z0-9_]+\{[^}]*\} \d+""")),
        s"non-exposition line in:\n$text")
    } finally spark.listenerManager.unregister(listener)
  }

  test("A1 scrape: the /metrics HTTP endpoint serves the exposition document end-to-end") {
    import graft.ops.EmbargoSplit
    val listener = Metrics.registerListener(spark)
    val ep = Metrics.serveMetrics(listener)
    try {
      def scrape(): (Int, String, String) = {
        val conn = new java.net.URL(s"http://127.0.0.1:${ep.port}/metrics")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val ct = conn.getContentType
        val body = if (conn.getInputStream == null) "" else
          new String(conn.getInputStream.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
        conn.disconnect()
        (code, ct, body)
      }
      // before any observation: up, empty registry (promhttp behavior)
      val (c0, ct0, b0) = scrape()
      assert(c0 === 200 && b0.isEmpty)
      assert(ct0 === Metrics.ExpositionContentType)
      // run the routed pass, wait for the async listener, scrape again
      val entries = TgzSource.entries(spark, TarQueries.FixtureTgz)
      val wl = TgzSource.whitelist(spark, TarQueries.FixtureWhitelist)
      Metrics.observeRouted(EmbargoSplit.route(entries, wl, TarQueries.FixtureCutoff))
        .collect()
      assert(listener.get("embargo_metrics").isDefined)
      val (c1, ct1, b1) = scrape()
      assert(c1 === 200)
      assert(ct1 === Metrics.ExpositionContentType)
      assert(b1.contains("embargo_file_total{dataset=\"sidestream\",status=\"public\"} 121"))
      assert(b1.contains("embargo_file_total{dataset=\"sidestream\",status=\"private\"} 59"))
      assert(b1.contains("# TYPE embargo_ipv6_errors_total counter"))
      // the scraped document IS prometheusText of the observed row
      assert(b1 === Metrics.prometheusText(
        listener.get("embargo_metrics").get))
    } finally {
      ep.close()
      spark.listenerManager.unregister(listener)
    }
  }
}
