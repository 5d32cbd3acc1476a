package graft.io

import java.io.InputStream
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** S6 — the site-IP JSON source (`/root/reference/embargo_check.go:64-81`):
  * the whitelist feed is a small JSON array of `{hostname, ipv4, ipv6}`
  * published at a public URL, fetched whole and reduced to the distinct IP
  * set.
  *
  * Spark-first shape: the fetch is a driver-side GET (the document is a few
  * hundred KB — a dimension, not data), parsed by the Spark JSON reader
  * against the declared [[Schemas.siteSchema]], then the P7 samknows filter,
  * P8 ipv4/ipv6 unpivot, and A2 distinct run as a regular
  * DataFrame pipeline — the exact semantics of `FilterSiteIPs`
  * (`/root/reference/embargo_check.go:39-60`).
  */
object Sites {

  /** GET the site JSON body. `file:`/`http(s):` URLs both work (tests use
    * `file:` fixtures, as the reference's local-file variant does).
    */
  def fetchJson(url: String, connectTimeoutMs: Int = 10000,
                readTimeoutMs: Int = 30000): String = {
    val conn = URI.create(url).toURL.openConnection()
    conn.setConnectTimeout(connectTimeoutMs)
    conn.setReadTimeout(readTimeoutMs)
    conn match {
      case h: HttpURLConnection if h.getResponseCode >= 400 =>
        throw new java.io.IOException(s"GET $url -> HTTP ${h.getResponseCode}")
      case _ => ()
    }
    val in: InputStream = conn.getInputStream
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** Parse a site-JSON body (array of `{hostname, ipv4, ipv6}`) into site
    * rows via the declared schema — F8 with validation the reference's
    * `json.Unmarshal` does implicitly.
    */
  def parseSites(spark: SparkSession, body: String): DataFrame = {
    import spark.implicits._
    spark.read.schema(Schemas.siteSchema).json(Seq(body).toDS())
  }

  /** Fetch + parse: one site row per array element. */
  def fromUrl(spark: SparkSession, url: String): DataFrame =
    parseSites(spark, fetchJson(url))

  /** P7+P8+A2 — reduce site rows to the distinct whitelist IP set
    * (`/root/reference/embargo_check.go:46-58`): drop samknows hosts, keep
    * every non-empty ipv4/ipv6, dedupe. Output column `wip`, the form
    * [[graft.ops.Whitelist.fromFrame]] loads for J1 routing.
    */
  def whitelist(sites: DataFrame): DataFrame =
    sites
      .filter(!col("hostname").contains("samknows"))
      .select(explode(array(col("ipv4"), col("ipv6"))).as("wip"))
      .filter(col("wip").isNotNull && length(col("wip")) > 0)
      .distinct()

  /** The full S6 path: URL → whitelist DataFrame. */
  def whitelistFromUrl(spark: SparkSession, url: String): DataFrame =
    whitelist(fromUrl(spark, url))
}
