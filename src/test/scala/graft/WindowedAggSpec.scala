package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.WindowedAgg

/** ST4 spec: watermarked tumbling windows — finalized windows emit exactly
  * once when the watermark passes them (append mode), rows later than the
  * watermark are dropped deterministically, and still-open windows never
  * reach the sink.
  */
class WindowedAggSpec extends AnyFunSuite with SparkSuite with TempDirs {

  private def t(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("windows finalize once across batches; late rows drop; open windows wait") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val windowed = WindowedAgg.tumblingCounts(
      in.toDF().toDF("ts", "event_type", "value"), "1 hour", "10 minutes")
    val q = windowed.writeStream
      .format("memory").queryName("st4_spec")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      val h10 = Timestamp.valueOf("2024-01-01 10:00:00").getTime * 1000L
      val h11 = Timestamp.valueOf("2024-01-01 11:00:00").getTime * 1000L
      // batch 1: two rows in the 10:00 window, one in 11:00. The watermark
      // becomes 11:10 - 10m = 11:00, which finalizes EXACTLY the
      // [10:00, 11:00) window (inclusive at window end) — the 11:00 window
      // stays open.
      in.addData((t("10:00"), "a", 1.0), (t("10:30"), "a", 2.0), (t("11:10"), "a", 4.0))
      q.processAllAvailable()
      val afterB1 = spark.table("st4_spec")
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
      assert(afterB1 === Set((h10, 2L, 3.0)))

      // batch 2: a row far in the future moves the watermark past 10:00 and
      // 11:00; a row at 10:05 is behind the batch-1 watermark (11:10 - 10m
      // = 11:00) and must be DROPPED, not merged into the emitted window
      in.addData((t("23:00"), "a", 8.0), (t("10:05"), "a", 100.0))
      q.processAllAvailable()
      val rows = spark.table("st4_spec")
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
      assert(rows === Set((h10, 2L, 3.0), (h11, 1L, 4.0)))

      // the 23:00 window is still open — emitted zero times, not once-early
      assert(!rows.exists(_._1 > h11))
    } finally q.stop()
  }

  test("ST14: OHLC extremes maintain across batches; open/close follow (us, event_id)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String, Double)]
    val windowed = WindowedAgg.tumblingOhlc(
      in.toDF().toDF("ts", "event_id", "event_type", "value"),
      "15 minutes", "1 minute")
    val q = windowed.writeStream
      .format("memory").queryName("st14_spec")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      // batch 1: two same-us rows (ids 2 then 1 — id must break the tie)
      // and a high; bar [10:00, 10:15) stays OPEN (wm = 10:05 - 1m)
      in.addData((t("10:00"), 2L, "a", 5.0), (t("10:00"), 1L, "a", 3.0),
        (t("10:05"), 3L, "a", 9.0))
      q.processAllAvailable()
      assert(spark.table("st14_spec").count() === 0) // nothing finalized yet
      // batch 2: the eventual close arrives AFTER the batch boundary, then
      // a far-future row finalizes the bar — extremes must have merged
      // across batches and close must be the latest (us, event_id) row
      in.addData((t("10:10"), 4L, "a", 1.0), (t("23:00"), 9L, "a", 0.0))
      q.processAllAvailable()
      val bars = spark.table("st14_spec").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5), r.getLong(6))).toList
      val barUs = Timestamp.valueOf("2024-01-01 10:00:00").getTime * 1000L
      assert(bars === List((barUs, "a", 3.0, 9.0, 1.0, 1.0, 4L)))
    } finally q.stop()
  }

  test("ST10: trending rank sees complete windows even when rows span batches") {
    import spark.implicits._
    val dir = tempDir("st10spec")
    val src = dir.resolve("src")
    val out = dir.resolve("out").toString
    val ckpt = dir.resolve("ckpt").toString
    def stage(rows: Seq[(Timestamp, String, Double)], name: String, mtime: Long): Unit = {
      val tmp = dir.resolve(s"tmp_$name").toString
      rows.toDF("ts", "event_type", "value")
        .repartition(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      java.nio.file.Files.createDirectories(src)
      java.nio.file.Files.move(part.toPath, src.resolve(name))
      src.resolve(name).toFile.setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis()
    // the 10:00 window's counts SPAN the two files: a=3, b=2, c=1, d=1
    stage(Seq((t("10:00"), "a", 0.0), (t("10:01"), "b", 0.0), (t("10:02"), "b", 0.0)),
      "0001.parquet", t0)
    stage(Seq((t("10:10"), "a", 0.0), (t("10:11"), "a", 0.0), (t("10:12"), "c", 0.0),
      (t("10:13"), "d", 0.0), (t("11:10"), "x", 0.0)), "0002.parquet", t0 + 2000)
    stage(Seq((t("23:00"), "__sentinel", 0.0)), "0003.parquet", t0 + 4000)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src.toString)
    WindowedAgg.drainTrendingTopK(stream, "1 hour", "1 minute", k = 3, out, ckpt)
    val h10 = Timestamp.valueOf("2024-01-01 10:00:00").getTime * 1000L
    val h11 = Timestamp.valueOf("2024-01-01 11:00:00").getTime * 1000L
    val got = spark.read.parquet(out)
      .filter($"event_type" =!= "__sentinel")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    // a(3) > b(2) > c(1) [ties break by name: c before d — d is cut at k=3]
    assert(got === Set(
      (h10, "a", 3L, 1L), (h10, "b", 2L, 2L), (h10, "c", 1L, 3L),
      (h11, "x", 1L, 1L)))
  }

  test("ST12: windowed HLL merges across batches, one finalized row per window") {
    import spark.implicits._
    val dir = tempDir("st12spec")
    val src = dir.resolve("src")
    val out = dir.resolve("out").toString
    val ckpt = dir.resolve("ckpt").toString
    def stage(rows: Seq[(Timestamp, Long)], name: String, mtime: Long): Unit = {
      val tmp = dir.resolve(s"tmp_$name").toString
      rows.toDF("ts", "user_id")
        .repartition(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      java.nio.file.Files.createDirectories(src)
      java.nio.file.Files.move(part.toPath, src.resolve(name))
      src.resolve(name).toFile.setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis()
    // the 10:00 window's users SPAN the two files: {1,2} then {2,3,4} —
    // a cross-batch merge must see 4 distinct; a per-batch reset sees 3
    stage(Seq((t("10:00"), 1L), (t("10:01"), 2L)), "0001.parquet", t0)
    stage(Seq((t("10:10"), 2L), (t("10:11"), 3L), (t("10:12"), 4L),
      (t("11:10"), 9L)), "0002.parquet", t0 + 2000)
    stage(Seq((t("23:00"), 0L)), "0003.parquet", t0 + 4000)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src.toString)
    WindowedAgg.drainTumblingDistinct(stream, "user_id", "1 hour", "1 minute",
      rsd = 0.02, out, ckpt)
    val h10 = Timestamp.valueOf("2024-01-01 10:00:00").getTime * 1000L
    val h11 = Timestamp.valueOf("2024-01-01 11:00:00").getTime * 1000L
    val got = spark.read.parquet(out)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // one row per finalized window (the sentinel's own window stays open)
    assert(got.map(_._1).sorted.toSeq === Seq(h10, h11))
    val byWin = got.toMap
    // tiny cardinalities sit in the exact regime of the dense HLL here
    assert(byWin(h10) === 4L, s"cross-batch sketch merge lost users: $byWin")
    assert(byWin(h11) === 1L)
  }
}
