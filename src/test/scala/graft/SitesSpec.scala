package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.io.Sites
import graft.ops.EmbargoSplit
import graft.io.TgzSource
import graft.queries.TarQueries

/** S6 — the site-JSON URL source (`/root/reference/embargo_check.go:64-81`),
  * exercised over a `file:` URL exactly as the reference's tests use local
  * fixtures; the parse/filter semantics mirror `FilterSiteIPs`.
  */
class SitesSpec extends AnyFunSuite with SparkSuite with TempDirs {

  private val fixtureJson =
    """[
      |  {"hostname": "mlab1.sea03.measurement-lab.org", "ipv4": "173.205.3.39", "ipv6": "2001:4c08:2003:3f::39"},
      |  {"hostname": "mlab2.sea03.measurement-lab.org", "ipv4": "173.205.3.52", "ipv6": ""},
      |  {"hostname": "mlab1.abc01.samknows.measurement-lab.org", "ipv4": "9.9.9.9", "ipv6": "2001:db8::9"},
      |  {"hostname": "mlab3.sea03.measurement-lab.org", "ipv4": "173.205.3.39", "ipv6": null}
      |]""".stripMargin

  private def fixtureUrl(): String = {
    val f = tempDir("graft-sites").resolve("sites.json")
    Files.writeString(f, fixtureJson)
    f.toUri.toString // file:///...
  }

  test("S6: fromUrl fetches and parses site rows against the declared schema") {
    val sites = Sites.fromUrl(spark, fixtureUrl()).collect()
    assert(sites.length === 4)
    assert(sites.map(_.getAs[String]("hostname")).count(_.contains("samknows")) === 1)
  }

  test("S6+P7+P8+A2: whitelistFromUrl drops samknows, unpivots, dedupes") {
    val wl = Sites.whitelistFromUrl(spark, fixtureUrl())
      .collect().map(_.getString(0)).toSet
    // samknows IPs excluded, empty/null ipv6 excluded, duplicate ipv4 deduped
    assert(wl === Set("173.205.3.39", "2001:4c08:2003:3f::39", "173.205.3.52"))
  }

  test("S6 whitelist feeds the routing join directly") {
    val entries = TgzSource.entries(spark, TarQueries.FixtureTgz)
    val wl = Sites.whitelistFromUrl(spark, fixtureUrl())
    // route runs with the URL-sourced whitelist column contract (wip)
    val routed = EmbargoSplit.route(entries, wl, TarQueries.FixtureCutoff)
    assert(routed.count() === 204)
  }

  test("S6: a missing fixture fails with an IO error, as the reference propagates") {
    assertThrows[java.io.IOException] {
      Sites.fetchJson("file:///nonexistent/graft-sites.json")
    }
  }
}
