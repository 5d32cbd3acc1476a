package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.functions.IpFunctions.canonical_ip
import graft.io.{FsOps, TgzSource}
import graft.ops.{EmbargoSplit, Service, Unembargo}
import graft.streaming.StreamingEmbargo

/** Minimal JSON writer for the result file and the span log. */
object Json {
  def str(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + str(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(str).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = str(kv.toMap)
}

/** One timed request: what was asked, how long it took, what came back. */
final case class Op(kind: String, key: String, startMs: Long, ms: Double,
                    status: Int, body: String) {
  def toMap: Map[String, Any] = Map("kind" -> kind, "key" -> key,
    "start_ms" -> startMs, "ms" -> ms, "status" -> status, "body" -> body)
}

/** The benchmark's JVM side. It drives the embargo service through its
  * public entry points only, over loopback HTTP, and writes raw timings
  * (plus, when traced, per-layer numbers) as one JSON file. `run.py`
  * generates the inputs beforehand and checks the outputs afterwards.
  *
  * Usage: Harness <workload> <root> <seconds> <trace 0|1> <cores> <out.json> <spans.jsonl>
  */
object Harness {
  private val Setups = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, root, secondsArg, traceArg, coresArg, outPath, spansPath) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    val warmPlan = new ObjectMapper().readTree(Paths.get(root, "warm.json").toFile)
    val today = java.time.LocalDate.parse(warmPlan.get("today").asText)
    val cfg = Service.ServiceConfig(
      srcDir = s"$root/src", publicDir = s"$root/public", privateDir = s"$root/private",
      whitelistPath = s"$root/whitelist_seed.txt",
      sitesUrl = Paths.get(root, "sites.json").toUri.toString,
      whitelistOut = s"$root/whitelist_store", today = () => today)
    val bench = new Bench(workload, root, warmPlan, cfg, cores)

    // set-up, several times; the last session and service stay up
    val setupErrors = ArrayBuffer.empty[String]
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var svc: Service.EmbargoService = null
    for (i <- 0 until Setups) {
      val t0 = System.nanoTime()
      spark = session(root, cores)
      svc = Service.serve(spark, cfg)
      bench.bind(svc.port)
      setupErrors ++= bench.expect(bench.get("/cron/update_embargo_whitelist"), "OK")
      setupErrors ++= bench.warmUp()
      setups += (System.nanoTime() - t0) / 1e9
      if (i < Setups - 1) { svc.close(); spark.stop() }
    }

    val spans = new Spans
    val phase = bench.phase(seconds, None)
    var result = Map[String, Any](
      "setup_s" -> setups.toList, "setup_errors" -> setupErrors.toList,
      "phase" -> phase)
    if (traced) {
      // untraced, traced, untraced: the traced phase is compared with the
      // mean of its neighbours, so the warm-up trend cancels
      val tracer = new Tracer(spark)
      val t0 = System.currentTimeMillis()
      val tphase = bench.phase(seconds, Some(spans))
      tracer.flush()
      val ops = tphase("ops").asInstanceOf[List[Map[String, Any]]]
      val layers = tracer.window(t0, System.currentTimeMillis(),
        ops.count(_("kind") != "unembargo"))
      val decomp = bench.decompose(spark, spans)
      tracer.flush()
      val opSpans = spans.all.filter(_.parent == "phase")
      tracer.jobSpans(opSpans).foreach(spans.add)
      tracer.close()
      spans.write(spansPath)
      result ++= Map("traced_phase" -> tphase,
        "layers" -> (layers ++ decomp ++ tracer.streaming()),
        "stream_counts" -> bench.streamCounts(spark),
        "after_phase" -> bench.phase(seconds, None))
    }
    result += "rss_peak_mb" -> rssPeakMb()
    svc.close()
    spark.stop()
    Files.write(Paths.get(outPath), Json.str(result).getBytes("UTF-8"))
  }

  def session(root: String, cores: Int): SparkSession = {
    val s = graft.Tables.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}

object Bench {
  val StaggerMs = 300L
}

/** The two workloads, their warm-up and the traced decomposition calls. */
final class Bench(workload: String, root: String, warmPlan: JsonNode,
                  cfg: Service.ServiceConfig, cores: Int) {
  private val client = HttpClient.newHttpClient()
  private var base = ""
  private val cutoff = Service.oneYearAgoInt(cfg.today())

  private def texts(n: JsonNode): List[String] = n.elements().asScala.map(_.asText).toList
  private val warm = warmPlan.get("warm")
  // the timed pool is generated while the set-ups run
  private lazy val plan = {
    while (!Files.exists(Paths.get(root, "pool.ready"))) Thread.sleep(50)
    new ObjectMapper().readTree(Paths.get(root, "plan.json").toFile)
  }
  private lazy val days = plan.get("days").elements().asScala.toList
  private lazy val archives = texts(plan.get("archives"))

  private def dayDir(date: String) =
    s"sidestream/${date.take(4)}/${date.slice(4, 6)}/${date.slice(6, 8)}"

  def bind(port: Int): Unit = base = s"http://127.0.0.1:$port"

  def get(path: String): Op = {
    val req = HttpRequest.newBuilder(URI.create(base + path)).GET()
      .timeout(java.time.Duration.ofSeconds(120)).build()
    val wall = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (status, body) =
      try {
        val r = client.send(req, HttpResponse.BodyHandlers.ofString())
        (r.statusCode, r.body)
      } catch { case e: Exception => (-1, e.toString) }
    Op("", path, wall, (System.nanoTime() - t0) / 1e6, status, body)
  }

  def expect(op: Op, body: String): Option[String] =
    if (op.status == 200 && op.body == body) None
    else Some(s"${op.key} -> ${op.status} ${op.body.take(200)}")

  private def submitFile(rel: String): Op =
    get(s"/submit?file=gs://bucket/$rel").copy(kind = "submit_file", key = rel)

  private def submitDay(date: String): Op =
    get(s"/submit?date=$date").copy(kind = "submit_day", key = date)

  private def unembargo(date: String): Op =
    get(s"/cron/unembargo?date=$date").copy(kind = "unembargo", key = date)

  /** The workload's operations once, on inputs kept out of the timed pool. */
  def warmUp(): Seq[String] = workload match {
    case "embargo_day" =>
      Seq(expect(submitDay(warm.get("date").asText), "success"),
        expect(unembargo(warm.get("old_date").asText), "OK")).flatten
    case "submit_file" =>
      val day = dayDir(warm.get("date").asText)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
      try texts(warm.get("archives"))
        .map(a => pool.submit(() => expect(submitFile(s"$day/$a"), "success")))
        .flatMap(_.get())
      finally pool.shutdown()
  }

  /** The timed loop: operations back to back until `seconds` have passed. */
  def phase(seconds: Double, spans: Option[Spans]): Map[String, Any] = {
    val ops = ArrayBuffer.empty[Op]
    def record(op: Op): Unit = {
      ops.synchronized(ops += op)
      spans.foreach(_.add(Span(s"http.${op.kind}", op.startMs,
        op.startMs + math.round(op.ms), "phase", ops.synchronized(ops.size).toLong)))
    }
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    workload match {
      case "embargo_day" =>
        var i = 0
        while (i < 2 || elapsed < seconds) {
          val d = days(i % days.size)
          record(submitDay(d.get("date").asText))
          record(unembargo(d.get("old_date").asText))
          i += 1
        }
      case "submit_file" =>
        val next = new AtomicInteger(0)
        val clients = (0 until cores).map { k =>
          val t = new Thread(() => {
            // staggered starts, so the clients do not stay in lock step
            Thread.sleep(k * Bench.StaggerMs)
            while (elapsed < seconds) {
              record(submitFile(archives(next.getAndIncrement() % archives.size)))
            }
          })
          t.start(); t
        }
        clients.foreach(_.join())
    }
    Map("wall_s" -> elapsed, "ops" -> ops.toList.map(_.toMap))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def gzBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.getPath.getName.endsWith(".tgz")).map(_.getLen).sum
  }

  /** Per-layer decomposition, called directly (traced run only): the unit is
    * one day of archives for `embargo_day` and one archive for `submit_file`.
    */
  def decompose(spark: SparkSession, spans: Spans): Map[String, Double] = {
    val reps = if (workload == "embargo_day") 3 else 5
    val (unit, unitRel, oldDate) = workload match {
      case "embargo_day" =>
        val d = days.head
        val rel = dayDir(d.get("date").asText)
        (s"${cfg.srcDir}/$rel", rel, d.get("old_date").asText.toInt)
      case _ =>
        (s"${cfg.srcDir}/${archives.head}", archives.head, warm.get("old_date").asText.toInt)
    }
    val rawMb = plan.get("raw_bytes").properties().asScala.toList
      .filter(e => e.getKey == unitRel || e.getKey.startsWith(unitRel + "/"))
      .map(_.getValue.asDouble).sum / 1e6
    val inGz = workload match {
      case "embargo_day" => gzBytes(spark, unit).toDouble
      case _ => Files.size(Paths.get(unit)).toDouble
    }
    var op = 1000000L
    def call[T](name: String)(f: => T): (Double, T) = {
      op += 1
      val t0 = System.nanoTime()
      val r = spans.timed(name, "decompose", op)(f)
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def wl = spark.read.parquet(cfg.whitelistOut)

    val scan = median((1 to reps).map(_ => call("io.tgz_scan")(
      TgzSource.entries(spark, unit).count())._1))
    val route = median((1 to reps).map(_ => call("ops.route")(
      EmbargoSplit.route(TgzSource.entries(spark, unit), wl, cutoff).count())._1))
    val pubDir = s"$root/decompose/public"
    val privDir = s"$root/decompose/private"
    val splits = ArrayBuffer.empty[Double]
    val publishes = ArrayBuffer.empty[Double]
    var outGz = 0.0
    (1 to reps).foreach { r =>
      val out = s"$root/decompose/split-$r"
      splits += call("ops.split")(EmbargoSplit.runWith(spark, unit, wl, cutoff, out))._1
      outGz = gzBytes(spark, out).toDouble
      publishes += call("io.fs_publish") {
        FsOps.mkdirs(spark, pubDir)
        FsOps.mkdirs(spark, privDir)
        if (workload == "embargo_day") {
          val produced = FsOps.list(spark, out, suffix = ".tgz")
          FsOps.copyAll(spark, produced.filter(!col("name").endsWith("-e.tgz")), out, pubDir)
          FsOps.copyAll(spark, produced.filter(col("name").endsWith("-e.tgz")), out, privDir)
        } else {
          val b = unit.substring(unit.lastIndexOf('/') + 1)
          val e = b.replace(".tgz", "-e.tgz")
          FsOps.copy(spark, s"$out/$b", s"$pubDir/$b")
          FsOps.copy(spark, s"$out/$e", s"$privDir/$e")
        }
        FsOps.deletePrefix(spark, out)
      }._1
    }
    val wlRead = median((1 to reps).map(_ => call("io.whitelist_read")(
      wl.select(canonical_ip(col("wip"))).distinct().count())._1))
    val promote = median((1 to reps).map(_ => call("ops.promote_day")(
      Unembargo.promoteDay(spark, cfg.privateDir, cfg.publicDir, oldDate, cutoff))._1))
    call("streaming.drain")(StreamingEmbargo.drain(spark,
      s"${cfg.srcDir}/${dayDir(warm.get("date").asText)}",
      s"$root/whitelist_effective.txt", cutoff, s"$root/stream_out", s"$root/stream_ckpt"))
    FsOps.deletePrefix(spark, s"$root/decompose")

    val split = median(splits.toList)
    val publish = median(publishes.toList)
    Map(
      "io.tgz_scan_s" -> scan,
      "io.tgz_scan_mb_per_s" -> rawMb / scan,
      "ops.route_s" -> (route - scan),
      "io.tgz_sink_s" -> (split - route),
      "io.sink_out_per_in" -> outGz / inGz,
      "io.fs_publish_s" -> publish,
      "io.whitelist_read_s" -> wlRead,
      "ops.split_s" -> split,
      "ops.promote_day_s" -> promote)
  }

  /** Per-route entry counts the streaming drain wrote, for the output check. */
  def streamCounts(spark: SparkSession): Map[String, Long] =
    spark.read.parquet(s"$root/stream_out").groupBy("route").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
}
