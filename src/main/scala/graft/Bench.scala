package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every driver-contract query at
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line. Failed queries report an
  * `err` entry (and are excluded from `total`) instead of silently
  * inflating the elapsed total (VERDICT r1).
  *
  * Each query is timed as the MIN of two back-to-back executions — three
  * when the query is sub-second or the first two samples spread >3x — and
  * all samples are reported (`samples` map in `bench_samples.json`; the
  * printed contract line carries only the per-query min so it fits the
  * driver's bounded stdout tail). A single sample is vulnerable to
  * sandbox contention — BENCH_r04 recorded individual queries inflated up
  * to 12x by machine noise, which cost a round of adjudication (VERDICT
  * r4). The min of two runs of a deterministic batch query estimates the
  * machine-quiet cost; the per-query sample pair makes contamination
  * visible (a large spread = noisy run, not a code regression).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.localSession(cpus, "WARN")
    // The four global-window queries (w1/w2/o1 + percentile ranks) emit a
    // "No Partition Defined for Window operation" WARN per task — ~200
    // lines per bench run, which flooded the driver's bounded stdout tail
    // every round (VERDICT r13 §next-round 1). The global windows are
    // by-design bounded (top-k / small aggregate inputs), so the warning
    // carries no information here: silence that one logger, keep WARN
    // elsewhere.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    // The warm-up and the side-file writes fail soft — they must not abort
    // the timed run — but never silently: each failure goes to stderr and
    // is counted in the full result line's `n_soft_fail`.
    var softFails = 0
    def failSoft(what: String)(f: => Unit): Unit =
      try f catch { case e: Throwable =>
        softFails += 1; System.err.println(s"[bench] $what failed: $e") }
    // untimed warmup: JIT/codegen + parquet footer caches, so the first
    // timed query isn't charged several seconds of JVM start-up
    failSoft("warm-up") {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/nation.parquet").count()
    }
    // Calibration probe (VERDICT r20 §next-round 1): a fixed, deterministic
    // CPU+shuffle microbench timed FIRST and LAST, so every BENCH json
    // carries a box-speed reference measured the same minute as the
    // queries. The committed r20 pass sat at 1.98x of the floor sum purely
    // on box weather; with the probe, a degraded window is visible in the
    // record itself (probe >> CalRef) and a probe-normalized total rides
    // next to the raw one. Shape mirrors the query mix: codegen'd hash
    // CPU (xxhash64) + one keyed exchange + partial aggregation.
    def calibrationProbe(): Double = {
      val t0 = System.nanoTime()
      // sum operands bounded (< 2^20 each, 1.28e9 rows => < 2^51): the sum
      // can never overflow Long, under ANSI or not — a probe that silently
      // failed fast would calibrate against planning latency, not the box
      try spark.range(0, 1280L * 1000 * 1000, 1, 64)
        .selectExpr("pmod(xxhash64(id), 4096) AS k",
          "pmod(xxhash64(id + 7), 1000003) AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.sum("v").as("s"))
        .selectExpr("sum(k * n) + sum(s)").collect()
      catch { case e: Throwable =>
        System.err.println(s"[bench] calibration probe failed: $e") }
      (System.nanoTime() - t0) / 1e9
    }
    // probe runs twice back-to-back at each end; min picks the quiet slice
    val calBefore = math.min(calibrationProbe(), calibrationProbe())
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None }
      catch { case e: Throwable => Some(e.getClass.getSimpleName) }
      val dt = (System.nanoTime() - t0) / 1e9
      // queries that persist intermediates must not subsidize later ones
      // (and the second sample must not be a cache replay of the first)
      spark.catalog.clearCache()
      // nudge the GC-driven ContextCleaner so this query's shuffle files /
      // broadcasts are reclaimed before the next timing starts
      System.gc()
      (dt, err)
    }
    // dev loop: SPARK_GRAFT_ONLY=q1_agg,d6_ngram_jaccard times a subset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    val results = selected.toSeq.map { case (name, fn) =>
      val (dt1, err1) = runOnce(fn)
      if (err1.isDefined) (name, dt1, Seq(dt1), err1)
      else {
        val (dt2, err2) = runOnce(fn)
        if (err2.isDefined) (name, dt1, Seq(dt1), None)
        else {
          // a >3x spread between samples is machine contention, not a code
          // property — one more sample so the min isn't a coin flip between
          // a quiet and a stolen timeslice (VERDICT r5 §next-round 7).
          // Sub-second queries ALWAYS get a third sample: at that scale a
          // single stolen timeslice is a ±35% swing, which polluted the
          // r7→r8 round-over-round comparison (VERDICT r8 §next-round 7).
          // Streaming queries ALWAYS get a third sample too: micro-batch
          // checkpoint I/O jitters them 1.2-1.7x — under the 3x trigger,
          // but enough to fake round-over-round regressions on untouched
          // code (st3 +37%, st5 +28% in r9; VERDICT r9 §next-round 5).
          val spread = math.max(dt1, dt2) / math.max(1e-9, math.min(dt1, dt2))
          if (spread <= 3.0 && math.min(dt1, dt2) >= 1.0 &&
              !name.startsWith("st"))
            (name, math.min(dt1, dt2), Seq(dt1, dt2), None)
          else {
            val (dt3, err3) = runOnce(fn)
            val ss = if (err3.isDefined) Seq(dt1, dt2) else Seq(dt1, dt2, dt3)
            (name, ss.min, ss, None)
          }
        }
      }
    }
    def jq(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def f3(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map {
      case (k, v, _, None) => s"${jq(k)}:${f3(v)}"
      case (k, _, _, Some(e)) => s"${jq(k)}:{${jq("err")}:${jq(e)}}"
    }.mkString("{", ",", "}")
    // Per-query regression guard, AGED (VERDICT r18 §next-round 7): the
    // old all-time-min floor was immortal — it recorded historically idle
    // box windows, so every later round burned hours adjudicating 3-15
    // rotating warns that two rounds of code A/Bs pinned on box weather.
    // `bench_baseline.json` now keeps per-query HISTORY: a `legacy` entry
    // (the pre-r19 all-time min, kept as history) plus one entry per
    // DATE of full canonical-sf passes, each the min of that day's
    // passes. The guard floor is the min over the LAST 3 date entries —
    // floors age out as the box drifts — falling back to `legacy` only
    // until the first dated entry exists. Warn threshold 1.8x unchanged;
    // the guard still fails soft (warn lines, never a non-zero exit).
    // Only FULL passes at sf0.1 write the file: a subset probe or an
    // off-scale run must neither ratchet nor date-stamp the floors.
    val basePath = java.nio.file.Paths.get("bench_baseline.json")
    val history: Map[String, Map[String, Double]] =
      if (java.nio.file.Files.exists(basePath)) {
        val txt = new String(java.nio.file.Files.readAllBytes(basePath), "UTF-8")
        val nested = "\"([a-z0-9_]+)\"\\s*:\\s*\\{([^}]*)\\}".r
          .findAllMatchIn(txt).map { m =>
            m.group(1) -> "\"([0-9-]+|legacy)\"\\s*:\\s*([0-9.]+)".r
              .findAllMatchIn(m.group(2))
              .map(e => e.group(1) -> e.group(2).toDouble).toMap
          }.filter(kv => SparkEntry.queries.contains(kv._1)).toMap
        if (nested.nonEmpty) nested
        else // migrate the pre-r19 flat all-time-min format on first read
          "\"([a-z0-9_]+)\"\\s*:\\s*([0-9.]+)".r.findAllMatchIn(txt)
            .map(m => m.group(1) -> Map("legacy" -> m.group(2).toDouble))
            .filter(kv => SparkEntry.queries.contains(kv._1)).toMap
      } else Map.empty
    def floorOf(hist: Map[String, Double]): Option[Double] = {
      val dated = hist.removed("legacy")
      if (dated.nonEmpty)
        Some(dated.toSeq.sortBy(_._1).takeRight(3).map(_._2).min)
      else hist.get("legacy")
    }
    val baseline: Map[String, Double] =
      history.flatMap { case (k, h) => floorOf(h).map(k -> _) }
    // Baselines are an sf0.1 contract — at any other sf both the guard
    // comparison and a dating write would be cross-scale nonsense
    // (a dev run at sf0.001 would ratchet entries ~100x down and every
    // later real run would warn spuriously).
    val canonicalSf = sfDir.stripSuffix("/").endsWith("sf0.1")
    val vsFirst = results.collect { case (k, v, _, None) =>
      k -> (if (canonicalSf) baseline.get(k).map(b => v / b) else None)
    }.toMap
    val guardWarns = vsFirst.toSeq.sortBy(_._1).collect {
      case (k, Some(r)) if r > 1.8 =>
        f"$k is $r%.2fx its aged floor " +
          f"(${f3(results.find(_._1 == k).get._2)} vs ${f3(baseline(k))} s)"
    }
    guardWarns.foreach(w => println(s"[bench-guard] WARN $w"))
    if (canonicalSf && only.isEmpty) {
      val today = java.time.LocalDate.now().toString
      val updated = results.collect { case (k, v, _, None) =>
        val h = history.getOrElse(k, Map.empty)
        k -> (h + (today -> math.min(v, h.getOrElse(today, Double.MaxValue))))
      }.toMap
      val merged = (history ++ updated).toSeq.sortBy(_._1).map { case (k, h) =>
        val inner = h.toSeq.sortBy(_._1)
          .map { case (d, v) => s"${jq(d)}: ${f3(v)}" }.mkString("{", ", ", "}")
        s" ${jq(k)}: $inner"
      }.mkString("{\n", ",\n", "\n}")
      failSoft("baseline write") {
        java.nio.file.Files.write(basePath, (merged + "\n").getBytes("UTF-8"))
      }
    }
    // failed queries carry an explicit err marker (mirroring the contract
    // line) instead of a bare time-to-fail sample a downstream diff could
    // mistake for a fast success (ADVICE r11)
    val samples = results.map {
      case (k, _, _, Some(e)) => s"${jq(k)}:{${jq("err")}:${jq(e)}}"
      case (k, _, ss, None) =>
        val ratio = vsFirst.get(k).flatten
          .map(r => s",${jq("vs_first")}:${f3(r)}").getOrElse("")
        s"${jq(k)}:{${jq("samples")}:${ss.map(f3).mkString("[", ",", "]")}$ratio}"
    }.mkString("{", ",", "}")
    val calAfter = math.min(calibrationProbe(), calibrationProbe())
    // CalRef: the probe's quiet-window reference on the graded box —
    // measured 2026-08-18 (solo runs, min observed 2.42 s). Normalization
    // is a REPORTING aid for adjudication (value_normalized = raw scaled
    // by CalRef/measured-probe); the raw total stays the contract
    // headline, and CalRef re-dates like the floors if the box changes.
    val CalRef = 2.42
    val calMin = math.min(calBefore, calAfter)
    val ok = results.collect { case (_, v, _, None) => v }
    val total = ok.sum
    val totalNorm = if (calMin > 0) total * (CalRef / calMin) else total
    val nerr = results.count(_._4.isDefined)
    // The driver captures only the last ~2000 chars of stdout, so the
    // contract line must stay compact: 3-decimal values, no samples map
    // (BENCH_r06 recorded `parsed: null` because the full-precision line
    // with per-query samples overflowed the tail buffer and lost its
    // head). The full sample detail goes to a side file for humans.
    // guard warns ride the side file too, so a >1.8x drift is visible in
    // the committed record, not just a scrolled-away stdout line
    val warnsJson = guardWarns.map(jq).mkString("[", ",", "]")
    // value_normalized only at the probe's own core count: CalRef was
    // measured at 32 cores, and the driver ALSO benches at a lower core
    // count — scaling a 8-core total by a 32-core reference would
    // "normalize" the parallelism difference away and misread as a speedup
    val normJson =
      if (cpus == "32") s""","value_normalized":${f3(totalNorm)}""" else ""
    val calJson = s""""calibration_sec":[${f3(calBefore)},${f3(calAfter)}],"calibration_ref":$CalRef$normJson"""
    val detail = s"""{"metric":"total","value":${f3(total)},"unit":"sec",$calJson,"samples":$samples,"guard_warns":$warnsJson,"n_err":$nerr,"sf":"$sfDir"}"""
    failSoft("samples write") {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_samples.json"),
        (detail + "\n").getBytes("UTF-8"))
    }
    // guard WARNs also append to the round log (VERDICT r12 ask #8): a
    // >1.8x drift lands in the committed PROGRESS record automatically,
    // not just in a scrolled-away stdout line. Fail-soft like the guard.
    if (guardWarns.nonEmpty) {
      val line = s"""{"ts":${System.currentTimeMillis / 1000}.0,"kind":"bench_guard","sf":"$sfDir","warns":$warnsJson}"""
      failSoft("PROGRESS append") {
        java.nio.file.Files.write(
          java.nio.file.Paths.get("PROGRESS.jsonl"),
          (line + "\n").getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.APPEND,
          java.nio.file.StandardOpenOption.CREATE)
      }
    }
    // The driver keeps only the last ~2000 chars of stdout, and at 100+
    // queries the full per-query map (~2.6 KB) overflows it. Both lines
    // print unconditionally, full map FIRST: a tail-parser scanning for
    // parseable JSON lines skips the head-truncated full line and lands
    // on the compact one, which is guaranteed to fit and (with
    // build.sbt's raw StdoutOutput + showSuccess=false) is the process's
    // final output line.
    val fullLine = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"n_err":$nerr,"n_soft_fail":$softFails,"sf":"$sfDir"}"""
    val compactLine = s"""{"metric":"total","value":${f3(total)},"unit":"sec",$calJson,"n_err":$nerr,"n_queries":${results.size},"samples_file":"bench_samples.json","sf":"$sfDir"}"""
    // Emit the full per-query map first (humans + any tail space left),
    // then stop Spark UNDER an ERROR log level so shutdown cannot log
    // over the contract line, and print the compact headline as the very
    // last stdout of the process. Combined with build.sbt's raw
    // StdoutOutput strategy this guarantees the final JSON line reaches
    // the driver's bounded tail unprefixed and unpolluted.
    println(fullLine)
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(compactLine)
  }
}
