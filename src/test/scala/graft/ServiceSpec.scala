package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TgzSource
import graft.ops.{EmbargoSplit, Metrics, Service}
import graft.queries.TarQueries

/** The HTTP service surface (`/root/reference/deploy/deploy.go:118-126`)
  * driven over REAL loopback HTTP: every route's success arm must produce
  * the same staged-store outcomes the graded pipelines (e1/e3/e4) grade,
  * and the reject arms must answer with the reference's statuses —
  * missing-params 404, invalid-filename 500, failed-processing 500,
  * non-integer unembargo date 400.
  */
class ServiceSpec extends AnyFunSuite with SparkSuite with TempDirs with JobCounting {

  private def base(p: String) = p.substring(p.lastIndexOf('/') + 1)
  private def b64(s: String) =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private lazy val root = tempDir("graft-svc").toString
  private lazy val (srcDir, pubDir, privDir) =
    (s"$root/src", s"$root/public", s"$root/embargoed")

  private val sitesJson =
    """[
      |  {"hostname": "mlab1.sea03.measurement-lab.org", "ipv4": "173.205.3.39", "ipv6": "2001:4c08:2003:3f::39"},
      |  {"hostname": "mlab1.abc01.samknows.measurement-lab.org", "ipv4": "9.9.9.9", "ipv6": ""}
      |]""".stripMargin

  private lazy val service = {
    // the scraper store: both fixtures under their day prefixes
    Seq((TarQueries.FixtureTgz, "sidestream/2017/03/15"),
        (TarQueries.Fixture2Tgz, "sidestream/2017/03/16")).foreach {
      case (tgz, prefix) =>
        graft.io.FsOps.mkdirs(spark, s"$srcDir/$prefix")
        graft.io.FsOps.copy(spark, tgz, s"$srcDir/$prefix/${base(tgz)}")
    }
    val sites = tempDir("graft-svc-sites").resolve("sites.json")
    Files.writeString(sites, sitesJson)
    // today pinned to 2018-03-15 → the one-year default cutoff is
    // 20170315: neither fixture day is aged out, so the split is a real
    // whitelist split (both stores non-empty) rather than all-public
    Service.serve(spark, Service.ServiceConfig(
      srcDir = srcDir, publicDir = pubDir, privateDir = privDir,
      whitelistPath = TarQueries.FixtureWhitelist,
      sitesUrl = sites.toUri.toString,
      whitelistOut = s"$root/whitelist.parquet",
      today = () => java.time.LocalDate.of(2018, 3, 15)))
  }

  private def get(path: String): (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"http://127.0.0.1:${service.port}$path"))
      .GET().build()
    val resp =
      client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def entryNames(tgz: String): Set[String] =
    TgzSource.entries(spark, tgz).filter(col("typeflag") === "0")
      .select("name").collect().map(_.getString(0)).toSet

  test("/_ah/health answers 200 ok") {
    assert(get("/_ah/health") === ((200, "ok")))
  }

  test("non-exact paths 404 without side effects (Go ServeMux exact-match parity, r19 review)") {
    // the JDK server's longest-prefix dispatch would otherwise RUN the
    // /submit pipeline for /submitfoo
    assert(get("/submitfoo?date=20170316")._1 === 404)
    assert(get("/_ah/healthz")._1 === 404)
    assert(get("/cron/unembargoX?date=20170315")._1 === 404)
    assert(get("/cron/update_embargo_whitelistX")._1 === 404)
  }

  test("/submit with neither date nor file is the deploy.go:26-30 404 arm") {
    val (code, body) = get("/submit")
    assert(code === 404)
    assert(body.contains("Missing date or filename there"))
  }

  test("/submit rejects undecodable / non-gs filenames with 500 (deploy.go:32-37)") {
    for (raw <- Seq("@@not-base64@@",
        b64("https://example.com/sidestream/x.tgz"))) {
      val (code, body) = get(s"/submit?file=$raw")
      assert(code === 500, s"raw=$raw body=$body")
      assert(body.startsWith("Invalid filename:"), body)
    }
  }

  test("/submit with a decodable but non-sidestream object is the PROCESSING failure arm (embargo.go:296-298)") {
    // GetFilename only vets the gs:// shape; the sidestream/tgz guard is
    // EmbargoSingleFile's, so its rejection surfaces as deploy.go:50-56's
    // "Fail with embargo single file.", not "Invalid filename" (review r19)
    val (code, body) =
      get(s"/submit?file=${b64("gs://scraper-mlab/switch/2017/03/16/speedtest-0001.dat")}")
    assert(code === 500)
    assert(body === "Fail with embargo single file.")
  }

  test("/submit?file= splits the archive into the two stores exactly like a direct EmbargoSplit.run") {
    val fixBase = base(TarQueries.FixtureTgz)
    val url = s"gs://scraper-mlab/sidestream/2017/03/15/$fixBase"
    val (code, _) = get(s"/submit?file=${b64(url)}")
    assert(code === 200)
    val pubTgz = s"$pubDir/sidestream/2017/03/15/$fixBase"
    val privTgz =
      s"$privDir/sidestream/2017/03/15/${fixBase.replace(".tgz", "-e.tgz")}"
    // parity: the same split run directly (cutoff = the service's
    // one-year default, 20170315)
    val direct = s"$root/direct_split"
    EmbargoSplit.run(spark, TarQueries.FixtureTgz,
      TarQueries.FixtureWhitelist, 20170315, direct)
    assert(entryNames(pubTgz) === entryNames(s"$direct/$fixBase"))
    assert(entryNames(privTgz) ===
      entryNames(s"$direct/${fixBase.replace(".tgz", "-e.tgz")}"))
    assert(entryNames(pubTgz).nonEmpty && entryNames(privTgz).nonEmpty)
  }

  test("/submit?file= with a missing source object is the 500 processing-failure arm") {
    val (code, body) =
      get(s"/submit?file=${b64("gs://scraper-mlab/sidestream/2099/01/01/nope-sidestream-0000.tgz")}")
    assert(code === 500)
    assert(body === "Fail with embargo single file.")
  }

  test("/submit?date= embargoes the whole day; an empty day is a success no-op") {
    // a source archive whose own basename already ends in -e.tgz: its
    // public half keeps that name in the public store, its private half
    // becomes -e-e.tgz in the embargoed store (ADVICE r20)
    val fix2 = base(TarQueries.Fixture2Tgz)
    val eSrc = fix2.replace("-0000.tgz", "-0001-e.tgz")
    graft.io.FsOps.copy(spark, TarQueries.Fixture2Tgz,
      s"$srcDir/sidestream/2017/03/16/$eSrc")
    val (code, _) = get("/submit?date=20170316")
    assert(code === 200)
    val pubDay = s"$pubDir/sidestream/2017/03/16"
    val privDay = s"$privDir/sidestream/2017/03/16"
    assert(entryNames(s"$pubDay/$fix2").nonEmpty)
    assert(entryNames(s"$privDay/${fix2.replace(".tgz", "-e.tgz")}").nonEmpty)
    val eSrcPriv = eSrc.replace(".tgz", "-e.tgz")
    assert(eSrcPriv.endsWith("-0001-e-e.tgz"))
    assert(entryNames(s"$pubDay/$eSrc") === entryNames(s"$pubDay/$fix2"))
    assert(entryNames(s"$privDay/$eSrcPriv") ===
      entryNames(s"$privDay/${fix2.replace(".tgz", "-e.tgz")}"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$privDay/$eSrc")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$pubDay/$eSrcPriv")))
    assert(get("/submit?date=20250101")._1 === 200) // no data staged there
    assert(get("/submit?date=2017031")._1 === 500)  // malformed date
    // after the file submit (earlier test) and the day submit, no staging
    // is left anywhere in either store
    for (store <- Seq(pubDir, privDir)) {
      val walk = Files.walk(java.nio.file.Paths.get(store))
      val staging =
        try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
          .filter(n => n.startsWith(".split_tmp") || n.startsWith("_tmp"))
        finally walk.close()
      assert(staging.isEmpty, s"$store holds staging entries $staging")
    }
  }

  test("/cron/update_embargo_whitelist reloads the site feed into the whitelist store") {
    val (code, body) = get("/cron/update_embargo_whitelist")
    assert((code, body) === ((200, "OK")))
    val got = spark.read.parquet(s"$root/whitelist.parquet")
      .collect().map(_.getString(0)).toSet
    // samknows dropped, empty ipv6 dropped — the graded S6/P7/P8 semantics
    assert(got === Set("173.205.3.39", "2001:4c08:2003:3f::39"))
  }

  test("/cron/unembargo promotes a day's -e archives; bad date is the 400 strconv arm") {
    val (synCode, synBody) = get("/cron/unembargo?date=2017-03-15")
    assert(synCode === 400)
    assert(synBody.endsWith("invalid syntax"), synBody)
    // int-OVERFLOW is also the strconv.Atoi 400 arm (r19 review) but with
    // Go's "value out of range" message; an in-syntax int64-fitting
    // out-of-range date is the validDate 500 arm
    val (ovCode, ovBody) = get("/cron/unembargo?date=99999999999999999999")
    assert(ovCode === 400)
    assert(ovBody.endsWith("value out of range"), ovBody)
    // Unicode digits (Arabic-Indic ١٢٣): Long.parseLong would accept
    // them, Go's Atoi does not — the ASCII gate keeps the 400 syntax arm
    // (review r20)
    val (uniCode, uniBody) = get("/cron/unembargo?date=%D9%A1%D9%A2%D9%A3")
    assert(uniCode === 400)
    assert(uniBody.endsWith("invalid syntax"), uniBody)
    assert(get("/cron/unembargo?date=3000000000")._1 === 500)
    // a date NEWER than the one-year cutoff (20170315) fails validDate →
    // the reference's 500 error arm (unembargo.go:145-147)
    assert(get("/cron/unembargo?date=20170316")._1 === 500)
    val fixBase = base(TarQueries.FixtureTgz).replace(".tgz", "-e.tgz")
    val (code, body) = get("/cron/unembargo?date=20170315")
    assert(code === 200, body)
    assert(body === "OK") // exact deploy.go body (r19 review)
    // the promoted object now exists in the PUBLIC store, content intact
    assert(entryNames(s"$pubDir/sidestream/2017/03/15/$fixBase") ===
      entryNames(s"$privDir/sidestream/2017/03/15/$fixBase"))
    // default date (no param) = one year before the pinned today →
    // 20170315 again: the copy is an OVERWRITE (unembargo.go's
    // delete-then-copy case) and must succeed idempotently
    assert(get("/cron/unembargo") === ((200, "OK")))
    assert(entryNames(s"$pubDir/sidestream/2017/03/15/$fixBase").nonEmpty)
  }

  test("/cron/unembargo on a valid day with no embargoed archives is a 200 no-op") {
    // 20170101 is at or before the one-year cutoff (20170315) and no
    // private day dir exists for it: the reference's listing is empty
    assert(get("/cron/unembargo?date=20170101") === ((200, "OK")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$pubDir/sidestream/2017/01/01")))
  }

  test("whitelist refresh REROUTES subsequent splits (SURVEY §3 E3: the refreshed store is the split's source)") {
    // fresh service + stores so the shared service's state can't leak in
    val root2 = tempDir("graft-svc-wl").toString
    val (src2, pub2, priv2) = (s"$root2/src", s"$root2/public", s"$root2/embargoed")
    graft.io.FsOps.mkdirs(spark, s"$src2/sidestream/2017/03/15")
    graft.io.FsOps.copy(spark, TarQueries.FixtureTgz,
      s"$src2/sidestream/2017/03/15/${base(TarQueries.FixtureTgz)}")
    // the feed whitelists 173.205.3.43 — absent from the seed text, so its
    // entries land PRIVATE until the refresh lands
    val sites2 = tempDir("graft-svc-sites2").resolve("sites.json")
    Files.writeString(sites2,
      """[{"hostname": "mlab3.sea03.measurement-lab.org", "ipv4": "173.205.3.43", "ipv6": "2001:668:1f:1d::43"}]""")
    val svc = Service.serve(spark, Service.ServiceConfig(
      srcDir = src2, publicDir = pub2, privateDir = priv2,
      whitelistPath = TarQueries.FixtureWhitelist,
      sitesUrl = sites2.toUri.toString,
      whitelistOut = s"$root2/whitelist.parquet",
      today = () => java.time.LocalDate.of(2018, 3, 15)))
    try {
      def get2(path: String): Int = {
        val client = java.net.http.HttpClient.newHttpClient()
        val req = java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(s"http://127.0.0.1:${svc.port}$path")).GET().build()
        client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
      }
      val fixBase = base(TarQueries.FixtureTgz)
      val fileParam = b64(s"gs://scraper-mlab/sidestream/2017/03/15/$fixBase")
      val pubTgz = s"$pub2/sidestream/2017/03/15/$fixBase"
      val privTgz =
        s"$priv2/sidestream/2017/03/15/${fixBase.replace(".tgz", "-e.tgz")}"
      def has43(tgz: String): Boolean =
        entryNames(tgz).exists(_.contains("_173.205.3.43_"))
      // a PARTIAL refresh store (crashed overwrite: dir exists, no
      // _SUCCESS) must NOT wedge the split — the seed text still governs
      // until a refresh COMMITS (review r20)
      Files.createDirectories(java.nio.file.Paths.get(s"$root2/whitelist.parquet"))
      Files.writeString(java.nio.file.Paths.get(
        s"$root2/whitelist.parquet/part-00000.parquet"), "truncated")
      // BEFORE the refresh: the seed text governs — .43 entries private
      assert(get2(s"/submit?file=$fileParam") === 200)
      assert(!has43(pubTgz) && has43(privTgz),
        "seed whitelist should leave 173.205.3.43 embargoed")
      // refresh, then the SAME submit: the split must consume the
      // refreshed store, so the previously-private entries go public
      assert(get2("/cron/update_embargo_whitelist") === 200)
      assert(get2(s"/submit?file=$fileParam") === 200)
      assert(has43(pubTgz) && !has43(privTgz),
        "refreshed whitelist did not reach the split path")
    } finally svc.close()
  }

  test("/submit?date= runs ONE distributed split job per day (not per archive) with identical store contents") {
    val root3 = tempDir("graft-svc-day").toString
    val (src3, pub3, priv3) = (s"$root3/src", s"$root3/public", s"$root3/embargoed")
    // day 1: BOTH fixtures as one day; day 2: a single archive
    Seq((TarQueries.FixtureTgz, "sidestream/2017/03/17"),
        (TarQueries.Fixture2Tgz, "sidestream/2017/03/17"),
        (TarQueries.FixtureTgz, "sidestream/2017/03/18")).foreach {
      case (tgz, prefix) =>
        graft.io.FsOps.mkdirs(spark, s"$src3/$prefix")
        graft.io.FsOps.copy(spark, tgz, s"$src3/$prefix/${base(tgz)}")
    }
    val svc = Service.serve(spark, Service.ServiceConfig(
      srcDir = src3, publicDir = pub3, privateDir = priv3,
      whitelistPath = TarQueries.FixtureWhitelist,
      sitesUrl = "file:///nonexistent.json",
      whitelistOut = s"$root3/whitelist.parquet",
      today = () => java.time.LocalDate.of(2018, 3, 15)))
    try {
      def get3(path: String): Int = {
        val client = java.net.http.HttpClient.newHttpClient()
        val req = java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(s"http://127.0.0.1:${svc.port}$path")).GET().build()
        client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
      }
      def dayJobs(date: String): Int = jobsStartedDuring {
        assert(get3(s"/submit?date=$date") === 200)
      }
      val jobsTwoArchives = dayJobs("20170317")
      val jobsOneArchive = dayJobs("20170318")
      // the split is ONE job per day: its job count must not scale with
      // the archive count (the per-archive driver loop would double it)
      assert(jobsTwoArchives === jobsOneArchive,
        s"2-archive day ran $jobsTwoArchives jobs vs $jobsOneArchive for 1 archive")
      assert(jobsTwoArchives > 0)
      // contents parity vs the per-archive direct path, all four outputs
      val direct = s"$root3/direct"
      for ((tgz, tag) <- Seq((TarQueries.FixtureTgz, "f1"), (TarQueries.Fixture2Tgz, "f2"))) {
        ops.EmbargoSplit.run(spark, tgz, TarQueries.FixtureWhitelist, 20170315,
          s"$direct/$tag")
        val b = base(tgz)
        assert(entryNames(s"$pub3/sidestream/2017/03/17/$b") ===
          entryNames(s"$direct/$tag/$b"), s"$tag public half diverged")
        assert(entryNames(s"$priv3/sidestream/2017/03/17/${b.replace(".tgz", "-e.tgz")}") ===
          entryNames(s"$direct/$tag/${b.replace(".tgz", "-e.tgz")}"), s"$tag private half diverged")
      }
    } finally svc.close()
  }

  /** A fresh service over its own stores with fixture 1 in the scraper
    * store, plus a GET against it that answers (status, body).
    */
  private def freshService(tag: String, sitesUrl: String,
                           whitelistOut: Option[String] = None,
                           storeScheme: String = "")
      : (String, Service.EmbargoService, String => (Int, String)) = {
    val r = tempDir(s"graft-svc-$tag").toString
    graft.io.FsOps.mkdirs(spark, s"$r/src/sidestream/2017/03/15")
    graft.io.FsOps.copy(spark, TarQueries.FixtureTgz,
      s"$r/src/sidestream/2017/03/15/${base(TarQueries.FixtureTgz)}")
    val svc = Service.serve(spark, Service.ServiceConfig(
      srcDir = s"$r/src", publicDir = s"$storeScheme$r/public",
      privateDir = s"$storeScheme$r/embargoed",
      whitelistPath = TarQueries.FixtureWhitelist, sitesUrl = sitesUrl,
      whitelistOut = whitelistOut.getOrElse(s"$r/whitelist.parquet"),
      today = () => java.time.LocalDate.of(2018, 3, 15)))
    def call(path: String): (Int, String) = {
      val client = java.net.http.HttpClient.newHttpClient()
      val req = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"http://127.0.0.1:${svc.port}$path")).GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    (r, svc, call)
  }

  private def feed(tag: String, json: String): String = {
    val f = tempDir(s"graft-svc-$tag").resolve("sites.json")
    Files.writeString(f, json)
    f.toUri.toString
  }

  private val fixtureFile =
    b64(s"gs://scraper-mlab/sidestream/2017/03/15/${base(TarQueries.FixtureTgz)}")

  test("/submit?date= on a day holding only a hidden _stale.tgz answers 200 and starts no Spark job") {
    val (r, svc, call) = freshService("stale", feed("stale-feed", sitesJson))
    try {
      val day = s"$r/src/sidestream/2017/03/20"
      graft.io.FsOps.mkdirs(spark, day)
      graft.io.FsOps.copy(spark, TarQueries.FixtureTgz, s"$day/_stale.tgz")
      var reply = (0, "")
      val jobs = jobsStartedDuring { reply = call("/submit?date=20170320") }
      assert(reply === ((200, "success")))
      assert(jobs === 0)
    } finally svc.close()
  }

  test("/submit?file= starts exactly one Spark job, the split's write: the whitelist is service state and the driver publishes") {
    val (_, svc, call) = freshService("jobs", feed("jobs-feed", sitesJson))
    try {
      // the committed refresh store governs, as in a running deployment
      assert(call("/cron/update_embargo_whitelist") === ((200, "OK")))
      assert(jobsStartedDuring {
        assert(call(s"/submit?file=$fixtureFile") === ((200, "success")))
      } === 1)
    } finally svc.close()
  }

  test("a refresh committed by another service over the same store reaches this service's next submit") {
    val shared = tempDir("graft-svc-shared").resolve("whitelist.parquet").toString
    // A's feed lists sea03's .39 only; B's lists .43, absent from A's
    val (rootA, svcA, callA) =
      freshService("peer-a", feed("peer-a-feed", sitesJson), Some(shared))
    val (_, svcB, callB) = freshService("peer-b", feed("peer-b-feed",
      """[{"hostname": "mlab3.sea03.measurement-lab.org", "ipv4": "173.205.3.43", "ipv6": ""}]"""),
      Some(shared))
    try {
      val fixBase = base(TarQueries.FixtureTgz)
      val pubTgz = s"$rootA/public/sidestream/2017/03/15/$fixBase"
      val privTgz =
        s"$rootA/embargoed/sidestream/2017/03/15/${fixBase.replace(".tgz", "-e.tgz")}"
      def has43(tgz: String): Boolean =
        entryNames(tgz).exists(_.contains("_173.205.3.43_"))
      val marker = java.nio.file.Paths.get(shared, Service.CommittedMarker)
      assert(callA("/cron/update_embargo_whitelist") === ((200, "OK")))
      assert(callA(s"/submit?file=$fixtureFile") === ((200, "success")))
      assert(!has43(pubTgz) && has43(privTgz), "A's own store leaves .43 embargoed")
      val before = Files.getLastModifiedTime(marker)
      assert(callB("/cron/update_embargo_whitelist") === ((200, "OK")))
      assert(Files.getLastModifiedTime(marker) !== before,
        "B's commit must leave a new marker mtime")
      assert(callA(s"/submit?file=$fixtureFile") === ((200, "success")))
      assert(has43(pubTgz) && !has43(privTgz),
        "A kept routing by its old snapshot after B's refresh committed")
    } finally { svcA.close(); svcB.close() }
  }

  test("a committed store past the whitelist size bound answers 500 and publishes nothing") {
    import spark.implicits._
    val (root, svc, call) = freshService("bound", "file:///nonexistent.json")
    try {
      val n = graft.ops.Whitelist.MaxSize + 1L
      // n distinct valid IPv4 addresses, committed as a refresh would be
      spark.range(n).select(concat_ws(".", lit(10), ($"id" / 65536).cast("long"),
          ($"id" / 256 % 256).cast("long"), ($"id" % 256).cast("long")).as("wip"))
        .write.parquet(s"$root/whitelist.parquet")
      assert(spark.read.parquet(s"$root/whitelist.parquet").distinct().count() === n)
      Files.createFile(java.nio.file.Paths.get(s"$root/whitelist.parquet", Service.CommittedMarker))
      assert(call(s"/submit?file=$fixtureFile") === ((500, "Fail with embargo single file.")))
      for (store <- Seq(s"$root/public", s"$root/embargoed")) {
        val p = java.nio.file.Paths.get(store)
        val files =
          if (!Files.exists(p)) Nil
          else {
            val walk = Files.walk(p)
            try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
              .filter(Files.isRegularFile(_))
            finally walk.close()
          }
        assert(files.isEmpty, s"$store holds $files")
      }
    } finally svc.close()
  }

  /** GET `/metrics` from `svc`: (status, content type, body). */
  private def scrape(svc: Service.EmbargoService): (Int, String, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"http://127.0.0.1:${svc.port}/metrics")).GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.headers().firstValue("Content-Type").orElse(""), resp.body())
  }

  /** Every line of an exposition document is a comment or a sample. */
  private def assertExposition(body: String): Unit =
    assert(body.linesIterator.forall(l =>
      l.startsWith("#") || l.matches("""[a-z0-9_]+\{[^}]*\} \d+""")),
      s"non-exposition line in:\n$body")

  private def fileTotal(status: String, n: Long) =
    s"""embargo_file_total{dataset="sidestream",status="$status"} $n"""

  private def entriesTotal(n: Long) = s"""graft_entries_total{dataset="sidestream"} $n"""

  /** Fixture 1's split counts at cutoff 20170315 by the fixture list. */
  private val fixtureCounts = Map("entries_total" -> 204L,
    "files_public" -> 121L, "files_private" -> 59L,
    "bytes_public" -> 1218228L, "bytes_private" -> 3063519L, "ipv6_errors" -> 0L)

  test("/metrics: empty before any split, then 121/59 files and 204 entries") {
    val (_, svc, call) = freshService("metrics", feed("metrics-feed", sitesJson))
    try {
      // before any split: up, empty registry (promhttp behavior)
      val (c0, ct0, b0) = scrape(svc)
      assert(c0 === 200 && b0.isEmpty)
      assert(ct0 === Metrics.ExpositionContentType)
      // the scrape is an exact-path route like the others
      assert(call("/metricsX")._1 === 404)
      assert(call(s"/submit?file=$fixtureFile") === ((200, "success")))
      val (c1, ct1, b1) = scrape(svc)
      assert(c1 === 200)
      assert(ct1 === Metrics.ExpositionContentType)
      assert(b1.contains(fileTotal("public", 121)))
      assert(b1.contains(fileTotal("private", 59)))
      assert(b1.contains(entriesTotal(204)))
      assert(b1.contains("# TYPE embargo_ipv6_errors_total counter"))
      assertExposition(b1)
      // the scraped document IS prometheusText of fixture 1's counts at
      // the service's cutoff 20170315 by its seed, the fixture list
      assert(b1 === Metrics.prometheusText(fixtureCounts))
    } finally svc.close()
  }

  test("/metrics: two concurrent fixture submits add up to 242/118 files, 408 entries") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val (_, svc, call) = freshService("metrics-conc", feed("metrics-conc-feed", sitesJson))
    try {
      val replies = Await.result(Future.sequence(
        Seq.fill(2)(Future(call(s"/submit?file=$fixtureFile")))), 5.minutes)
      assert(replies === Seq.fill(2)((200, "success")))
      val (code, _, body) = scrape(svc)
      assert(code === 200)
      assert(body.contains(fileTotal("public", 242)), body)
      assert(body.contains(fileTotal("private", 118)), body)
      assert(body.contains(entriesTotal(408)), body)
      assertExposition(body)
    } finally svc.close()
  }

  test("/metrics: a /cron/unembargo promoting one -e.tgz adds 1 to unembargo_tar_total") {
    val (_, svc, call) = freshService("metrics-unemb", feed("metrics-unemb-feed", sitesJson))
    try {
      assert(call(s"/submit?file=$fixtureFile") === ((200, "success")))
      assert(!scrape(svc)._3.contains("unembargo_tar_total"))
      assert(call("/cron/unembargo?date=20170315") === ((200, "OK")))
      val (code, _, body) = scrape(svc)
      assert(code === 200)
      assert(body.contains("""unembargo_tar_total{dataset="sidestream"} 1"""), body)
      // the promotion adds to its own family only
      assert(body.contains(fileTotal("public", 121)) && body.contains(entriesTotal(204)))
      assertExposition(body)
    } finally svc.close()
  }

  test("/submit?file= whose publication fails partway answers 500, leaves no staging and adds no counts") {
    graft.io.FreezingFileSystem.register(spark)
    val (r, svc, call) = freshService("publish-fail", feed("publish-fail-feed", sitesJson),
      storeScheme = "frz://")
    val privDay = s"$r/embargoed/sidestream/2017/03/15"
    try {
      assert(call(s"/submit?file=$fixtureFile") === ((200, "success")))
      val before = scrape(svc)._3
      assert(before === Metrics.prometheusText(fixtureCounts))
      // the public half lands again; the private half's rename fails
      graft.io.FreezingFileSystem.frozen.add(privDay)
      assert(call(s"/submit?file=$fixtureFile") === ((500, "Fail with embargo single file.")))
      assert(scrape(svc)._3 === before)
      for (store <- Seq(s"$r/public", s"$r/embargoed")) {
        val walk = Files.walk(java.nio.file.Paths.get(store))
        val staging =
          try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
            .filter(_.startsWith("_tmp"))
          finally walk.close()
        assert(staging.isEmpty, s"$store holds staging entries $staging")
      }
    } finally {
      graft.io.FreezingFileSystem.frozen.remove(privDay)
      svc.close()
    }
  }

  test("service shuts down cleanly") {
    service.close()
    intercept[Exception](get("/_ah/health"))
  }
}
