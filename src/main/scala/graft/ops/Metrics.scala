package graft.ops

import org.apache.spark.sql.Row

import graft.io.TgzSink
import graft.model.Schemas

/** A1 — online counters (`/root/reference/metrics/metrics.go:19-77`):
  * the reference exposes Prometheus `CounterVec`s incremented inline with
  * the write loop; here the split's write task does the same, summing
  * [[RoutedTally]] over every entry it writes and returning the sums in
  * its task result — no second scan and no extra job. The split returns
  * the summed counts ([[EmbargoSplit.runWith]]), [[Service]] folds each
  * call's counts into running totals, and its `/metrics` route renders
  * them with [[prometheusText]].
  */
object Metrics {

  /** The counter [[prometheusText]] renders as `unembargo_tar_total`:
    * `-e.tgz` archives promoted to the public store.
    */
  val UnembargoTars = "unembargo_tars"

  /** The reference's counter set, summed over routed entry rows:
    * total entries, public/private file counts (web100 only, as
    * `embargo_file_total` counts, `/root/reference/embargo.go:177,190`),
    * bytes per route, and IPv6-normalization failures
    * (`embargo_ipv6_errors_total`, `/root/reference/metrics/metrics.go:71-76`,
    * incremented at `/root/reference/filename_parser.go:25` when a name has
    * an `_IP_` span whose normalization fails).
    *
    * `ipv6_errors` counts every routed entry with a failed span, while the
    * reference's short-circuit (`/root/reference/embargo.go:174`) only
    * parses fresh web100 names — a columnar engine evaluates the parse for
    * the whole column anyway, so the counter reports the superset (every
    * malformed name seen, not just the ones whose route decision needed the
    * parse).
    */
  val RoutedTally: TgzSink.Tally = TgzSink.Tally(IndexedSeq("entries_total",
    "files_public", "files_private", "bytes_public", "bytes_private", "ipv6_errors"),
    (r: Row, counts: Array[Long]) => {
      val name = r.getAs[String]("name")
      val base = name.substring(name.lastIndexOf('/') + 1)
      counts(0) += 1
      // 0 for the public files/bytes slots, 1 for the private ones
      val half = Seq(Schemas.RoutePublic, Schemas.RoutePrivate).indexOf(r.getAs[String]("route"))
      if (half >= 0) {
        if (base.contains("web100")) counts(1 + half) += 1
        counts(3 + half) += r.getAs[Long]("size")
      }
      // span exists iff the basename has >= 2 underscores
      // (filename_parser.go:19-23); a span that fails NormalizeIPv6
      // yields local_ip = ""
      val ip = r.getAs[String]("local_ip")
      if (base.split("_", -1).length >= 3 && ip != null && ip.isEmpty) counts(5) += 1
    })

  /** Prometheus text exposition of counter values keyed as
    * [[RoutedTally]] keys them, plus [[UnembargoTars]] — the scrape-format
    * half of the reference's counter surface (`metrics/metrics.go:79-102`
    * serves `promhttp.Handler()` at `/metrics`). Families with a reference
    * name keep it — `embargo_file_total{dataset,status}`
    * (`metrics.go:45-51`), `unembargo_tar_total{dataset}`
    * (`metrics.go:58-64`) and `embargo_ipv6_errors_total{error}`
    * (`metrics.go:71-76`); the per-entry/byte aggregates the columnar pass
    * gets for free are exported under graft-prefixed names so they cannot
    * be mistaken for reference families. A family renders only once one
    * of its counters is present, as a promhttp `CounterVec` appears only
    * once a label set is touched: no counters, empty document. Counter
    * values render as integers (promhttp renders untyped float64; every
    * counter here is integral).
    */
  def prometheusText(counters: Map[String, Long], dataset: String = "sidestream"): String = {
    // exposition-format label escaping (review r16): an unescaped
    // backslash/quote/newline in a label value makes the whole scrape
    // unparseable — promhttp escapes exactly these three
    val ds = dataset.replace("\\", "\\\\")
      .replace("\"", "\\\"").replace("\n", "\\n")
    val sb = new StringBuilder
    // series are (labels, counter key); absent counters render nothing
    def fam(name: String, help: String, series: Seq[(String, String)]): Unit = {
      val present = series.flatMap { case (labels, c) => counters.get(c).map(labels -> _) }
      if (present.nonEmpty) {
        sb.append(s"# HELP $name $help\n")
        sb.append(s"# TYPE $name counter\n")
        present.foreach { case (labels, value) =>
          sb.append(s"$name{$labels} $value\n")
        }
      }
    }
    fam("embargo_file_total",
      "Number of web100 sidestream files that were processed by embargo app engine.",
      Seq(
        s"""dataset="$ds",status="public"""" -> "files_public",
        s"""dataset="$ds",status="private"""" -> "files_private"))
    fam("unembargo_tar_total",
      "Number of embargoed tar files promoted to the public store by unembargo.",
      Seq(s"""dataset="$ds"""" -> UnembargoTars))
    fam("embargo_ipv6_errors_total",
      "Number of failures normalizing IPv6 addresses.",
      Seq("""error="normalize failed"""" -> "ipv6_errors"))
    fam("graft_entries_total",
      "Number of archive entries routed by the split pass.",
      Seq(s"""dataset="$ds"""" -> "entries_total"))
    fam("graft_bytes_total",
      "Entry bytes routed by the split pass.",
      Seq(
        s"""dataset="$ds",status="public"""" -> "bytes_public",
        s"""dataset="$ds",status="private"""" -> "bytes_private"))
    sb.toString
  }

  /** The Prometheus exposition-format content type promhttp serves
    * (text format 0.0.4).
    */
  val ExpositionContentType = "text/plain; version=0.0.4; charset=utf-8"
}
