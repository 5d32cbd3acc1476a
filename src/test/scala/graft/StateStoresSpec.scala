package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StateStores, StreamDedup}

/** Pins that the stateful streaming drains actually run on the RocksDB
  * state store provider (not just that the conf briefly held the value):
  * the provider's on-disk checkpoint artifacts are unmistakable —
  * RocksDB commits `*.changelog`/`*.zip` under `state/`, the default
  * HDFS-backed provider commits `*.delta`.
  */
class StateStoresSpec extends AnyFunSuite with SparkSuite with TempDirs {

  private def stateFiles(ckpt: Path): Seq[String] = {
    val state = ckpt.resolve("state")
    if (!Files.exists(state)) Seq.empty
    else {
      val walk = Files.walk(state)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(Files.isRegularFile(_))
          .map(_.getFileName.toString).toList
      } finally walk.close()
    }
  }

  test("stream dedup drains through a RocksDB state store") {
    import spark.implicits._
    val base = tempDir("graft-rocks")
    val src = base.resolve("src").toString
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt")
    (1 to 40).map(i => s"fp${i % 10}").toDF("fp")
      .repartition(2).write.parquet(src)
    val stream = spark.readStream.schema(spark.read.parquet(src).schema)
      .parquet(src)
    StreamDedup.distinctFingerprints(stream, out, ckpt.toString)
    assert(spark.read.parquet(out).count() === 10)
    val files = stateFiles(ckpt)
    assert(files.nonEmpty, "drain left no state artifacts")
    assert(files.exists(f => f.endsWith(".changelog") || f.endsWith(".zip")),
      s"no RocksDB commit artifacts in state dir: $files")
    assert(!files.exists(_.endsWith(".delta")),
      s"HDFS-provider .delta files present — RocksDB did not engage: $files")
  }

  test("withSizedStore picks on-heap for small keyspaces, RocksDB for large/unknown") {
    import spark.implicits._
    import graft.streaming.StateSizing
    def drain(stateKeys: Option[Long]): Seq[String] = {
      val base = tempDir("graft-sized")
      val src = base.resolve("src").toString
      val out = base.resolve("out").toString
      val ckpt = base.resolve("ckpt")
      (1 to 40).map(i => s"fp${i % 10}").toDF("fp")
        .repartition(2).write.parquet(src)
      val stream = spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
      StreamDedup.distinctFingerprints(stream, out, ckpt.toString,
        stateKeys = stateKeys)
      assert(spark.read.parquet(out).count() === 10) // result identical either way
      stateFiles(ckpt)
    }
    // small keyspace estimate: the on-heap (HDFS-backed) provider — .delta
    // commits, no RocksDB artifacts
    val small = drain(Some(1000L))
    assert(small.exists(_.endsWith(".delta")),
      s"small keyspace did not engage the on-heap provider: $small")
    assert(!small.exists(f => f.endsWith(".changelog") || f.endsWith(".zip")),
      s"small keyspace unexpectedly ran RocksDB: $small")
    // above the on-heap bound: the RocksDB large-state posture
    val large = drain(Some(StateSizing.OnHeapMaxKeys + 1))
    assert(large.exists(f => f.endsWith(".changelog") || f.endsWith(".zip")),
      s"large keyspace did not engage RocksDB: $large")
    // no estimate (None): conservative — RocksDB (the prior default, and
    // what the artifact test above already pins via distinctFingerprints)
  }

  /** The session conf a checkpoint pinned at its first batch, read back
    * from the offset log's metadata line.
    */
  private def pinnedConf(ckpt: Path, key: String): Option[String] = {
    val meta = Files.readAllLines(ckpt.resolve("offsets").resolve("0")).get(1)
    ("\"" + java.util.regex.Pattern.quote(key) + "\":\"([^\"]*)\"").r
      .findFirstMatchIn(meta).map(_.group(1))
  }

  private def stateDirs(ckpt: Path): Set[String] = {
    val op = ckpt.resolve("state").resolve("0")
    val ls = Files.list(op)
    try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).filter(_.forall(_.isDigit)).toSet
    } finally ls.close()
  }

  test("a keyspace estimate sizes the checkpoint's state partitions") {
    import spark.implicits._
    import graft.streaming.StateSizing
    val base = tempDir("graft-width")
    val src = base.resolve("src").toString
    val ckpt = base.resolve("ckpt")
    (1 to 40).map(i => s"fp${i % 10}").toDF("fp").repartition(2)
      .write.parquet(src)
    val stream = spark.readStream.schema(spark.read.parquet(src).schema)
      .parquet(src)
    val width = StateSizing.forKeyspace(1000L, spark.sparkContext.defaultParallelism)
    assert(width === 2)
    assert(spark.conf.get("spark.sql.shuffle.partitions") !== width.toString,
      "the session width must differ from the sized width for this spec to bite")
    StreamDedup.distinctFingerprints(stream, base.resolve("out").toString,
      ckpt.toString, stateKeys = Some(1000L))
    assert(pinnedConf(ckpt, "spark.sql.shuffle.partitions") === Some(width.toString))
    assert(stateDirs(ckpt) === (0 until width).map(_.toString).toSet)
  }

  test("a restarted dedup drain keeps its checkpoint's sizing and state") {
    import spark.implicits._
    import graft.streaming.StateSizing
    val base = tempDir("graft-restart")
    val src = base.resolve("src").toString
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt")
    def drain(stateKeys: Long): Unit = StreamDedup.distinctFingerprints(
      spark.readStream.schema("fp STRING").parquet(src), out, ckpt.toString,
      stateKeys = Some(stateKeys))
    val fileA = (1 to 40).map(i => s"fp${i % 10}")
    fileA.toDF("fp").repartition(1).write.parquet(src)
    drain(1000L)
    val first = stateFiles(ckpt)
    assert(first.exists(_.endsWith(".delta")), s"first run not on-heap: $first")
    // file B repeats half of A's fingerprints and adds new ones; the
    // restart passes an estimate that would pick RocksDB and a wider
    // width for a fresh checkpoint
    val fileB = (5 to 14).map(i => s"fp$i")
    fileB.toDF("fp").repartition(1).write.mode("append").parquet(src)
    drain(StateSizing.OnHeapMaxKeys + 1)
    val sunk = spark.read.parquet(out).as[String].collect().toSeq
    assert(sunk.sorted === (fileA ++ fileB).distinct.sorted,
      "restart lost or duplicated fingerprints")
    val files = stateFiles(ckpt)
    assert(files.exists(_.endsWith(".delta")), s"restart state: $files")
    assert(!files.exists(f => f.endsWith(".changelog") || f.endsWith(".zip")),
      s"restart switched the checkpoint to RocksDB: $files")
    assert(stateDirs(ckpt) === Set("0", "1"),
      "restart re-sized the checkpoint's state partitions")
  }

  test("withRocksDb restores prior session confs") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    StateStores.withRocksDb(spark) {
      assert(spark.conf.get(key) === StateStores.RocksDbProvider)
    }
    assert(spark.conf.getOption(key) === before)
  }
}
