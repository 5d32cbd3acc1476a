package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.IpFunctions
import graft.io.{TgzSink, TgzSource}
import graft.model.Schemas
import graft.ops.{EmbargoSplit, Whitelist}
import graft.queries.TarQueries.{Fixture2Cutoff, Fixture2Tgz, FixtureCutoff, FixtureTgz, FixtureWhitelist}

/** Golden-split tests (`/root/reference/embargo_test.go:54-90`), at the
  * entry level per SURVEY §5b: gzip bytes are not stable across
  * implementations (the reference itself flags the byte-compare as fragile,
  * `/root/reference/embargo_test.go:51-53`), so equivalence is the ordered
  * (name, size) list per route — strictly stronger than set equality.
  */
class TgzSplitSpec extends AnyFunSuite with SparkSuite with TempDirs {

  private def goldenEntries(path: String): Seq[(String, Long)] =
    TarFiles.read(path).map(e => (e.name, e.size))

  /** The fixture whitelist as a `wip` frame, one trimmed line per row. */
  private def fixtureWip = {
    import spark.implicits._
    scala.io.Source.fromFile(FixtureWhitelist).getLines().map(_.trim).filter(_.nonEmpty)
      .toSeq.toDF("wip")
  }

  /** Both golden fixtures: the reference's own site-day tarball (whole-
    * bucket routing, 145/59) and the hand-built second day
    * (`tools/gen_fixture2.py`: `:::` quirk both directions, non-canonical
    * whitelisted spelling, mid-stream directory, malformed names, an
    * entry dated before its archive; 4/6 — routes hand-computed, see the
    * generator).
    */
  private val goldenFixtures = Seq(
    ("fixture1", FixtureTgz, FixtureCutoff, 145, 59),
    ("fixture2", Fixture2Tgz, Fixture2Cutoff, 4, 6))

  test("S4: fixture explodes to 205 ordered entries, one directory") {
    val es = TgzSource.entries(spark, FixtureTgz).collect().sortBy(_.ordinal)
    assert(es.length === 205)
    assert(es.count(_.typeflag == "5") === 1)
    assert(es.head.typeflag === "5") // the directory entry leads
    assert(es.map(_.ordinal).toSeq === (0L until 205L))
    // payload sizes are consistent with headers
    es.filter(_.typeflag == "0").foreach(e => assert(e.content.length === e.size))
  }

  for ((label, tgz, cutoff, nPub, nPriv) <- goldenFixtures) {
    lazy val goldenPub = goldenEntries(tgz.replace(".tgz", "-p.tgz"))
    lazy val goldenPriv = goldenEntries(tgz.replace(".tgz", "-e.tgz"))

    test(s"E1 golden split [$label]: routing matches -p/-e goldens in order") {
      val entries = TgzSource.entries(spark, tgz)
      val wl = Whitelist.fromText(spark, FixtureWhitelist)
      val routed = EmbargoSplit.route(entries, wl, cutoff)
        .select("route", "ordinal", "name", "size")
        .collect()
        .sortBy(_.getAs[Long]("ordinal"))

      def side(route: String) = routed.filter(_.getAs[String]("route") == route)
        .map(r => (r.getAs[String]("name"), r.getAs[Long]("size"))).toSeq

      assert(side(Schemas.RoutePublic) === goldenPub)
      assert(side(Schemas.RoutePrivate) === goldenPriv)
      assert(goldenPub.length === nPub && goldenPriv.length === nPriv)
    }

    test(s"S7/S8 sink [$label]: end-to-end run writes -p/-e pair equivalent to goldens") {
      val outDir = tempDir("graft-split").toString
      EmbargoSplit.run(spark, tgz, FixtureWhitelist, cutoff, outDir)
      val base = tgz.substring(tgz.lastIndexOf('/') + 1)
      val pubOut = s"$outDir/$base"
      val privOut = s"$outDir/${base.replace(".tgz", "-e.tgz")}"
      assert(goldenEntries(pubOut) === goldenPub)
      assert(goldenEntries(privOut) === goldenPriv)
      // payload bytes survive the repack round-trip
      val rt = TgzSource.entries(spark, pubOut).collect().sortBy(_.ordinal)
      val orig = TgzSource.entries(spark, tgz).collect()
        .filter(_.typeflag == "0").map(e => e.name -> e.content.toSeq).toMap
      rt.foreach(e => assert(orig(e.name) === e.content.toSeq, s"bytes differ: ${e.name}"))
    }

    test(s"S7 payload fidelity [$label]: per-entry decompressed md5 equals the goldens") {
      // the reference byte-compares its split outputs
      // (/root/reference/embargo_test.go:54-90); compressed bytes are not
      // stable across gzip implementations (the reference itself calls that
      // compare fragile, embargo_test.go:51-53), so the strongest portable
      // equivalence is per-entry DECOMPRESSED payload digests: same entry
      // set, same inner bytes, for both the -p and -e halves.
      val outDir = tempDir("graft-split-md5").toString
      EmbargoSplit.run(spark, tgz, FixtureWhitelist, cutoff, outDir)
      def entryMd5s(path: String): Map[String, String] =
        TarFiles.read(path)
          .filter(_.typeflag == "0")
          .map { e =>
            val d = java.security.MessageDigest.getInstance("MD5")
            e.name -> d.digest(e.content).map("%02x".format(_)).mkString
          }.toMap
      val base = tgz.substring(tgz.lastIndexOf('/') + 1)
      val pubGolden = entryMd5s(tgz.replace(".tgz", "-p.tgz"))
      val privGolden = entryMd5s(tgz.replace(".tgz", "-e.tgz"))
      val pubOurs = entryMd5s(s"$outDir/$base")
      val privOurs = entryMd5s(s"$outDir/${base.replace(".tgz", "-e.tgz")}")
      assert(pubOurs === pubGolden, "public half payload digests diverge")
      assert(privOurs === privGolden, "private half payload digests diverge")
      // non-vacuity: the two halves are disjoint, non-empty, real digests
      assert(pubGolden.nonEmpty && privGolden.nonEmpty)
      assert(pubGolden.keySet.intersect(privGolden.keySet).isEmpty)
    }
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    })

  for ((label, tgz, cutoff, _, _) <- goldenFixtures)
    test(s"route [$label]: the DataFrame and Whitelist forms give identical rows in order") {
      val entries = TgzSource.entries(spark, tgz)
      val viaFrame = EmbargoSplit.route(entries, fixtureWip, cutoff)
      val viaSet = EmbargoSplit.route(entries,
        Whitelist.fromText(spark, FixtureWhitelist), cutoff)
      assert(viaSet.columns.toSeq === viaFrame.columns.toSeq)
      val rows = rowsOf(viaFrame)
      assert(rows.nonEmpty)
      assert(rowsOf(viaSet) === rows)
    }

  test("route plans no join and no broadcast: membership is a projection") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object helper extends AdaptiveSparkPlanHelper
    val routed = EmbargoSplit.route(TgzSource.entries(spark, FixtureTgz),
      Whitelist.fromText(spark, FixtureWhitelist), FixtureCutoff)
    routed.collect()
    val plan = routed.queryExecution.executedPlan
    val offending = helper.collect(plan) {
      case j: BaseJoinExec => j.nodeName
      case b: BroadcastExchangeLike => b.nodeName
    }
    assert(offending.isEmpty, s"route executed ${offending.mkString(", ")}:\n$plan")
  }

  test("route's plan description stays the same size from a 2-entry to a 65,000-entry whitelist") {
    import org.apache.spark.sql.execution.ExtendedMode
    val listed = scala.io.Source.fromFile(FixtureWhitelist).getLines().toVector
    // the fixture's list plus addresses no file names, up to 65,000 entries
    val big = listed ++ Iterator.from(0).map(i => s"10.${i >> 16}.${(i >> 8) & 255}.${i & 255}")
      .take(65000 - listed.size)
    val entries = TgzSource.entries(spark, FixtureTgz)
    val small = EmbargoSplit.route(entries, Whitelist(Iterator("10.0.0.1", "10.0.0.2")), FixtureCutoff)
    val large = EmbargoSplit.route(entries, Whitelist(big.iterator), FixtureCutoff)
    val sizes = Seq(small, large).map(_.queryExecution.explainString(ExtendedMode).length)
    assert(math.abs(sizes(1) - sizes(0)) < 1024, s"explain sizes $sizes")
    // the 65,000-entry list routes as the fixture's own, compiled or interpreted
    def routes(df: org.apache.spark.sql.DataFrame) =
      df.select("ordinal", "route").collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val expected = routes(EmbargoSplit.route(entries, Whitelist.fromText(spark, FixtureWhitelist),
      FixtureCutoff))
    assert(expected.map(_._2).distinct.sorted === Seq(Schemas.RoutePrivate, Schemas.RoutePublic))
    assert(routes(large) === expected)
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    keys.zip(Seq("false", "NO_CODEGEN")).foreach { case (k, v) => spark.conf.set(k, v) }
    try assert(routes(EmbargoSplit.route(entries, Whitelist(big.iterator), FixtureCutoff)) === expected)
    finally keys.foreach(spark.conf.unset)
  }

  test("an empty whitelist routes every web100 entry newer than the cutoff private") {
    import spark.implicits._
    val entries = TgzSource.entries(spark, FixtureTgz)
    for (routed <- Seq(
        EmbargoSplit.route(entries, Whitelist(Iterator.empty), FixtureCutoff),
        EmbargoSplit.route(entries, Seq.empty[String].toDF("wip"), FixtureCutoff))) {
      val routes = routed.select("name", "route").collect()
        .map(r => (r.getString(0), r.getString(1)))
      val (web100, other) =
        routes.partition(r => r._1.substring(r._1.lastIndexOf('/') + 1).contains("web100"))
      assert(web100.nonEmpty && web100.forall(_._2 == Schemas.RoutePrivate))
      assert(other.forall(_._2 == Schemas.RoutePublic))
    }
  }

  test("fixture2 structure: mid-stream dir excluded, quirk arms route as hand-computed") {
    val es = TgzSource.entries(spark, Fixture2Tgz).collect().sortBy(_.ordinal)
    assert(es.length === 12)
    assert(es.count(_.typeflag == "5") === 2, "leading AND mid-stream directory")
    assert(es(6).typeflag === "5", "directory entry sits mid-stream")
    val wl = Whitelist.fromText(spark, FixtureWhitelist)
    val routes = EmbargoSplit.route(
        TgzSource.entries(spark, Fixture2Tgz), wl, Fixture2Cutoff)
      .select("name", "route").collect()
      .map(r => (r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1),
        r.getString(1))).toMap
    assert(routes.size === 10, "both directory entries dropped by P2")
    // ::: quirk → whitelisted address: public; → unlisted address: private
    assert(routes("20170316T03:00:00Z_2001:4c08:2003:2:::148_0.web100") === Schemas.RoutePublic)
    assert(routes("20170316T04:00:00Z_2001:db8:dead:beef:::77_0.web100") === Schemas.RoutePrivate)
    // malformed + old-format names: empty local IP, never whitelisted
    assert(routes("20170316T05:00:00Z_not:an:ip_0.web100") === Schemas.RoutePrivate)
    assert(routes("20170316T06:00:00Z.web100") === Schemas.RoutePrivate)
    // the age arm is the ARCHIVE's (embargo.go:272-277, 306-308): an
    // entry dated a day before its 20170316 archive must NOT publish
    // early by its own timestamp — it stays private (web100, unlisted IP)
    assert(routes("20170315T23:00:00Z_9.9.9.9_0.web100") === Schemas.RoutePrivate)
  }

  test("P4/P5: archives older than the cutoff route public wholesale") {
    val oldTgz = "/root/repo/testdata/20160102T000000Z-mlab3-sin01-sidestream-0000.tgz"
    val entries = TgzSource.entries(spark, oldTgz)
    val wl = Whitelist.fromText(spark, FixtureWhitelist)
    // cutoff after the archive day: moreThanOneYear arm short-circuits
    val routes = EmbargoSplit.route(entries, wl, cutoffDateInt = 20170101)
      .groupBy("route").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(routes.keySet === Set(Schemas.RoutePublic))
    // cutoff at/before the day: the web100/whitelist arms decide again
    val split = EmbargoSplit.route(entries, wl, cutoffDateInt = 20160102)
      .groupBy("route").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(split.getOrElse(Schemas.RoutePrivate, 0L) > 0)
  }

  test("S4: corrupt input fails fast, as the reference's reader error path") {
    def decode(bytes: Array[Byte]) = TgzSource.rows("bad.tgz",
      new java.io.ByteArrayInputStream(bytes), Schemas.tarEntrySchema).toList
    val junk = Array.fill[Byte](64)(0x41)
    assertThrows[java.io.IOException](decode(junk))
    // truncated gzip: valid header, cut-off stream
    val real = Files.readAllBytes(Paths.get(FixtureTgz))
    assertThrows[java.io.IOException](decode(real.take(1000)))
    // a name/size projection reads the same stream, and fails the same way
    assertThrows[java.io.IOException] {
      TgzSource.rows("trunc.tgz", new java.io.ByteArrayInputStream(real.take(1000)),
        Schemas.tarEntrySchema(Set("name", "size"))).toList
    }
    assert(decode(real).length === 205)
  }

  test("S7: an archive split across partitions fails at commit, not silently") {
    val outDir = tempDir("graft-split-conflict").toString
    val entries = TgzSource.entries(spark, FixtureTgz)
    val wl = Whitelist.fromText(spark, FixtureWhitelist)
    // range-partition by ordinal: each half is contiguous WITHIN its task
    // (so the in-task interleave guard cannot fire) but the archive spans
    // two tasks — exactly the silent-clobber case the commit must reject
    val split = EmbargoSplit.route(entries, wl, FixtureCutoff)
      .repartitionByRange(2, org.apache.spark.sql.functions.col("ordinal"))
    val e = intercept[IllegalStateException] {
      TgzSink.writeSplit(split, outDir, outDir)
    }
    assert(e.getMessage.contains("split across partitions"))
    // nothing was published and the call's staging dir was cleaned up
    val left = Files.list(Paths.get(outDir))
    try assert(left.noneMatch(_.getFileName.toString.startsWith("_tmp")))
    finally left.close()
    val base = FixtureTgz.substring(FixtureTgz.lastIndexOf('/') + 1)
    assert(!Files.exists(Paths.get(s"$outDir/$base")))
  }

  test("J1 divergence: non-canonical whitelist spelling matches here, not in a literal compare") {
    // The reference's CheckInWhiteList (/root/reference/embargo_check.go:103-108)
    // does a literal map lookup of the Go-canonical filename IP against the
    // RAW whitelist strings: an operator whitelisting `2001:DB8:0:0:0:0:0:1`
    // silently never unembargoes `..._2001:db8::1_...` files there. Our route
    // canonicalizes BOTH sides (EmbargoSplit.route doc), so every spelling of
    // a listed address matches — the intended whitelist semantics. This test
    // pins the divergence from both directions.
    import spark.implicits._
    import graft.functions.IpFunctions
    val rawWl = "2001:DB8:0:0:0:0:0:1" // operator-spelled, NOT canonical
    val fileIp = "2001:db8::1"         // canonical spelling in the filename
    val entry = graft.model.TarEntry("a.tgz", 0L,
      s"d/20170316T00:00:00Z_${fileIp}_0.web100", 2L, 420L,
      new java.sql.Timestamp(0L), "0", Array[Byte](1, 2))
    val routed = EmbargoSplit.route(Seq(entry).toDS(),
      Seq(rawWl).toDF("wip"), cutoffDateInt = 20170316).collect()
    assert(routed.length === 1)
    assert(routed.head.getAs[String]("route") === Schemas.RoutePublic,
      "canonical-membership routing must honor the operator's listing")
    // the literal-compare reference emulation: Go-canonical filename IP
    // looked up against the raw whitelist string — never equal, so the
    // reference keeps this file embargoed (the bug we deliberately fixed)
    val goCanonical = IpFunctions.canonicalIp(IpFunctions.extractLocalIp(
      s"20170316T00:00:00Z_${fileIp}_0.web100"))
    assert(goCanonical === "2001:db8::1")
    assert(goCanonical !== rawWl,
      "literal compare would miss: reference routes this PRIVATE")
  }

  test("S5/F10: whitelist loads trimmed distinct IPs") {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.graft.bridge.expression
    val lines = scala.io.Source.fromFile(FixtureWhitelist).getLines().toVector
    // the fixture again, every line padded and doubled, blank lines between
    val padded = tempDir("graft-wl").resolve("whitelist").toString
    Files.write(Paths.get(padded), lines.flatMap(l => Seq(s"  $l\t", "", l)).mkString("\n").getBytes)
    val canonical = lines.map(IpFunctions.canonicalIp).filter(_.nonEmpty).distinct
    for (path <- Seq(FixtureWhitelist, padded)) {
      val wl = Whitelist.fromText(spark, path)
      val member = wl.contains(spark, lit("2001:4c08:2003:2::148"))
      // the predicate renders its set's size: one per distinct canonical IP
      assert(expression(member).toString.endsWith(s", ${canonical.size} ips)"), path)
      assert(spark.range(1).select(member).head.getBoolean(0), path)
      assert(!spark.range(1).select(wl.contains(spark, lit("192.0.2.1"))).head.getBoolean(0))
    }
    assert(lines.map(_.trim).filter(_.nonEmpty).distinct.length === 3473)
  }
}
