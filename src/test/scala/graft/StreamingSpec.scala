package graft

import java.io.FileOutputStream
import java.nio.file.{Files, Path}

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingEmbargo

/** ST1 spec: AvailableNow drains exactly the unprocessed archives; routing
  * inside the stream matches batch semantics; re-runs are incremental
  * (checkpointed file index), not reprocessing.
  */
class StreamingSpec extends AnyFunSuite with SparkSuite with TempDirs {

  private def writeTgz(path: Path, entries: (String, String)*): Unit = {
    val tar = new TarArchiveOutputStream(
      new GzipCompressorOutputStream(new FileOutputStream(path.toFile)))
    entries.foreach { case (name, text) =>
      val bytes = text.getBytes("UTF-8")
      val e = new TarArchiveEntry(name)
      e.setSize(bytes.length.toLong)
      tar.putArchiveEntry(e)
      tar.write(bytes)
      tar.closeArchiveEntry()
    }
    tar.close()
  }

  test("AvailableNow drain routes new archives only, per-batch whitelist") {
    val root = tempDir("graft-stream")
    val inDir = Files.createDirectory(root.resolve("in"))
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val wlPath = root.resolve("whitelist")
    Files.writeString(wlPath, "1.2.3.4\n")

    writeTgz(inDir.resolve("day1-sidestream-0000.tgz"),
      "d/20170315T00:00:00Z_1.2.3.4_0.web100" -> "whitelisted",
      "d/20170315T00:00:00Z_9.9.9.9_0.web100" -> "embargoed",
      "d/notes.tra" -> "not web100")

    StreamingEmbargo.drain(spark, inDir.toString, wlPath.toString,
      cutoffDateInt = 20170315, outDir = outDir, checkpointDir = ckpt)

    def routes(): Map[(String, String), Long] =
      spark.read.parquet(outDir).collect()
        .map(r => (r.getAs[String]("name"), r.getAs[String]("route")))
        .groupBy(identity).view.mapValues(_.length.toLong).toMap

    val r1 = routes()
    assert(r1 === Map(
      ("d/20170315T00:00:00Z_1.2.3.4_0.web100", "public") -> 1L,
      ("d/notes.tra", "public") -> 1L,
      ("d/20170315T00:00:00Z_9.9.9.9_0.web100", "private") -> 1L))

    // whitelist change + new file: only the NEW archive is processed, with
    // the FRESH whitelist (the reference's stale-singleton bug, fixed)
    Files.writeString(wlPath, "9.9.9.9\n")
    writeTgz(inDir.resolve("day2-sidestream-0000.tgz"),
      "d/20170316T00:00:00Z_9.9.9.9_0.web100" -> "now whitelisted")

    StreamingEmbargo.drain(spark, inDir.toString, wlPath.toString,
      cutoffDateInt = 20170315, outDir = outDir, checkpointDir = ckpt)

    val r2 = routes()
    // day1 rows unchanged (not reprocessed under the old-vs-new whitelist)
    assert(r2(("d/20170315T00:00:00Z_1.2.3.4_0.web100", "public")) === 1L)
    assert(r2(("d/20170315T00:00:00Z_9.9.9.9_0.web100", "private")) === 1L)
    // day2 routed public under the refreshed whitelist
    assert(r2(("d/20170316T00:00:00Z_9.9.9.9_0.web100", "public")) === 1L)
    assert(r2.values.sum === 4L)
  }

  test("C3: re-deliveries drop against cross-batch state inside gate+dedup") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lower}
    import graft.ops.LmScore
    val root = tempDir("graft-c3-spec")
    val src = root.resolve("src").toString
    val likely = "the cat sat on the mat and the cat sat again"
    val gibberish = "zq xv jk wq pz bn mf gh qq ww"
    // file 1 (batch 1): two distinct docs + a gibberish doc for the gate;
    // file 2 (batch 2): an EXACT re-delivery of doc 1's text under a new
    // id, plus a fresh doc — the re-delivery must drop against batch-1
    // fingerprint state, the fresh doc must survive
    val batch1 = Seq((1L, likely), (2L, likely + " and again"), (3L, gibberish))
    val batch2 = Seq((4L, likely), (5L, "the mat sat on the cat"))
    batch1.toDF("doc_id", "text").repartition(1)
      .write.mode("overwrite").parquet(src)
    batch2.toDF("doc_id", "text").repartition(1)
      .write.mode("append").parquet(src)

    val all = (batch1 ++ batch2).toDF("doc_id", "text")
    val model = LmScore.trainBigramModel(
      all.select(col("doc_id"), lower(col("text")).as("t")))
    // gate non-vacuity: the synthetic set must fire the gate both ways
    val keeps = (batch1 ++ batch2).map { case (id, t) =>
      id -> LmScore.score(model, id, t.toLowerCase)._3
    }.toMap
    assert(keeps.values.toSet === Set(0L, 1L), s"gate is vacuous: $keeps")

    val out = root.resolve("out").toString
    val stream = spark.readStream
      .schema(all.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    graft.streaming.StreamCorpus.drainGateDedup(stream, model, out,
      root.resolve("ckpt").toString)

    val sunk = spark.read.parquet(out).collect()
      .map(r => r.getAs[String]("fp") -> r.getAs[Long]("n_tokens"))
    assert(sunk.map(_._1).distinct.length === sunk.length,
      "a fingerprint survived twice — cross-batch state was lost")
    // exactly the kept docs' distinct fingerprints, re-delivery collapsed
    def fp(t: String): String = {
      val canon = t.toLowerCase.trim.replaceAll("\\s+", " ")
      java.security.MessageDigest.getInstance("MD5")
        .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val expected = (batch1 ++ batch2).filter(d => keeps(d._1) == 1L)
      .map(d => fp(d._2)).distinct.sorted
    assert(sunk.map(_._1).sorted.toSeq === expected,
      "drained set != distinct fingerprints of gate-kept docs")
    assert(expected.contains(fp(likely)) &&
      (batch1 ++ batch2).count(_._2 == likely) == 2,
      "the re-delivered fingerprint must be in play exactly once")
  }

  test("ST1 drain matches both golden fixtures' hand-computed splits") {
    import graft.queries.TarQueries.{Fixture2Cutoff, Fixture2Tgz, FixtureCutoff, FixtureTgz, FixtureWhitelist}
    // the graded st1 query drains fixture 1; this pins the SAME drain over
    // the second golden (`tools/gen_fixture2.py` — ::: quirk, mid-stream
    // dir, malformed names, early-dated entry) so streaming ≡ batch holds
    // on every routing arm, not just whole-bucket routing
    for ((tgz, cutoff, nPub, nPriv) <- Seq(
        (FixtureTgz, FixtureCutoff, 145L, 59L),
        (Fixture2Tgz, Fixture2Cutoff, 4L, 6L))) {
      val root = tempDir("graft-st1-golden")
      val inDir = Files.createDirectory(root.resolve("in"))
      Files.copy(java.nio.file.Paths.get(tgz),
        inDir.resolve(tgz.substring(tgz.lastIndexOf('/') + 1)))
      val outDir = root.resolve("out").toString
      StreamingEmbargo.drain(spark, inDir.toString, FixtureWhitelist,
        cutoff, outDir, root.resolve("ckpt").toString)
      val counts = spark.read.parquet(outDir).collect()
        .groupBy(_.getAs[String]("route")).view.mapValues(_.length.toLong).toMap
      assert(counts === Map("public" -> nPub, "private" -> nPriv),
        s"drain of $tgz diverged from the golden split")
    }
  }
}
