package graft.io

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCounting, SparkSuite, TempDirs}

/** A local FileSystem masquerading as an object store whose `rename` is
  * unusable — models GCS/S3 semantics where rename is client-driven
  * copy+delete and must never be on the commit path.
  */
class NoRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "nar"
  override def getUri: java.net.URI = java.net.URI.create("nar:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    throw new UnsupportedOperationException(
      s"rename is not atomic on this store: $src -> $dst")
}

/** [[NoRenameFileSystem]] under an object-store scheme, so
  * [[CommitProtocol.forPath]] picks [[CopyCommit]] for its paths.
  */
class NoRenameObjectStore extends NoRenameFileSystem {
  override def getScheme: String = "gs"
  override def getUri: java.net.URI = java.net.URI.create("gs://graft-test/")
}

/** Commit-protocol spec for [[TgzSink]]: only the staged files the write
  * job's tasks reported are publishable — an attempt that died mid-write
  * (no report) must never beat a complete attempt, whatever its attempt id.
  * In the test names, a "marked" file is a reported one and the "election"
  * is the commit over the reports.
  */
class TgzSinkCommitSpec extends AnyFunSuite with SparkSuite with TempDirs with JobCounting {

  private def sconf() =
    new SerializableHadoopConf(
      org.apache.spark.sql.graft.bridge.sessionHadoopConf(spark))

  /** One call's staging under `outDir`, created empty — the layout
    * `writeSplit` makes before its write job.
    */
  private def stagedTarget(outDir: String,
                           protocol: CommitProtocol = RenameCommit): TgzSink.Target = {
    val t = TgzSink.Target(outDir, "call-1", protocol)
    Files.createDirectories(Paths.get(t.staging.toString))
    t
  }

  /** Stage `content` as partition `part`'s file for `fin` and return the
    * report its task would deliver.
    */
  private def stage(t: TgzSink.Target, target: Int, fin: String, part: Int,
                    attempt: Int, content: String): TgzSink.StagedFile = {
    val tmp = s"$fin.p$part.a$attempt"
    Files.write(Paths.get(s"${t.staging}/$tmp"), content.getBytes)
    TgzSink.StagedFile(target, fin, tmp, part)
  }

  private def names(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).sorted
    finally s.close()
  }

  /** Names directly under `dir` that look like split staging. */
  private def stagingEntries(dir: String): Seq[String] = names(dir).filter(_.startsWith("_tmp"))

  /** What a Spark listing of `dir` sees: no `_` staging, no `.` checksums. */
  private def visibleNames(dir: String): Seq[String] =
    names(dir).filterNot(n => n.startsWith("_") || n.startsWith("."))

  private def fixtureRouted() = {
    import graft.queries.TarQueries.{FixtureCutoff, FixtureTgz, FixtureWhitelist}
    graft.ops.EmbargoSplit.route(TgzSource.entries(spark, FixtureTgz),
      TgzSource.whitelist(spark, FixtureWhitelist), FixtureCutoff)
  }

  private val fixtureBase = {
    val t = graft.queries.TarQueries.FixtureTgz
    t.substring(t.lastIndexOf('/') + 1)
  }

  private def entryCount(localTgz: String): Int =
    TgzSource.readTgzStream(fixtureBase,
      Files.newInputStream(Paths.get(localTgz))).size

  test("commit publishes marked attempts and drops unmarked mid-write debris") {
    val outDir = tempDir("graft-commit").toString
    val t = stagedTarget(outDir)
    // complete attempt 3 (reported) vs a KILLED attempt 9 that wrote more
    // bytes but never reported — the higher attempt id must not win
    val x = stage(t, 0, "x.tgz", 0, 3, "COMPLETE")
    Files.write(Paths.get(s"${t.staging}/x.tgz.p0.a9"), "TRUNCATED-BUT-LONGER".getBytes)
    // a second final name whose only attempt never reported: nothing published
    Files.write(Paths.get(s"${t.staging}/y.tgz.p1.a1"), "DEAD".getBytes)

    TgzSink.commit(spark, Seq(t), Seq(x), sconf())

    assert(Files.readString(Paths.get(s"$outDir/x.tgz")) === "COMPLETE")
    assert(!Files.exists(Paths.get(s"$outDir/y.tgz")))
    assert(!Files.exists(Paths.get(t.staging.toString))) // staging cleaned up
  }

  test("CopyCommit publishes reported files with copy-then-verify") {
    val outDir = tempDir("graft-commit-cp").toString
    val t = stagedTarget(outDir, CopyCommit)
    // no marker file: the report alone makes the staged file publishable
    val x = stage(t, 0, "x.tgz", 0, 3, "COMPLETE")
    // unreported mid-write debris must still lose
    Files.write(Paths.get(s"${t.staging}/x.tgz.p0.a9"), "TRUNCATED-LONGER".getBytes)

    TgzSink.commit(spark, Seq(t), Seq(x), sconf())

    assert(Files.readString(Paths.get(s"$outDir/x.tgz")) === "COMPLETE")
    assert(!Files.exists(Paths.get(t.staging.toString)))
  }

  test("one election covers two targets: each winner lands in its own root") {
    val pubDir = tempDir("graft-commit-pub").toString
    val privDir = tempDir("graft-commit-priv").toString
    val pub = stagedTarget(pubDir)
    val priv = stagedTarget(privDir, CopyCommit)
    // the same final name staged in both roots is two outputs, not a
    // cross-partition conflict: a source named `a-e.tgz` has its public
    // half `a-e.tgz`, and source `a.tgz` its private half `a-e.tgz`
    val reports = Seq(
      stage(pub, 0, "a-e.tgz", 0, 1, "PUBLIC"),
      stage(priv, 1, "a-e.tgz", 1, 2, "PRIVATE"))

    TgzSink.commit(spark, Seq(pub, priv), reports, sconf())

    assert(Files.readString(Paths.get(s"$pubDir/a-e.tgz")) === "PUBLIC")
    assert(Files.readString(Paths.get(s"$privDir/a-e.tgz")) === "PRIVATE")
    assert(stagingEntries(pubDir).isEmpty && stagingEntries(privDir).isEmpty)
  }

  test("commit is one Spark job") {
    val pubDir = tempDir("graft-commit-job-pub").toString
    val privDir = tempDir("graft-commit-job-priv").toString
    val pub = stagedTarget(pubDir)
    val priv = stagedTarget(privDir, CopyCommit)
    val reports = (0 until 3).flatMap { p =>
      Seq(stage(pub, 0, s"a$p.tgz", p, p, "PUBLIC"),
        stage(priv, 1, s"a$p-e.tgz", p, p, "PRIVATE"))
    }
    assert(jobsStartedBy {
      TgzSink.commit(spark, Seq(pub, priv), reports, sconf())
    } === 1)
    assert(visibleNames(pubDir) === Seq("a0.tgz", "a1.tgz", "a2.tgz"))
    assert(visibleNames(privDir) === Seq("a0-e.tgz", "a1-e.tgz", "a2-e.tgz"))
  }

  test("writeSplit leaves a concurrent writer's staged files in the same root alone") {
    val outDir = tempDir("graft-commit-conc").toString
    // another writer's complete staged file, mid-way through its own
    // commit: in another call's staging dir, and in the `_tmp` dir an
    // earlier build's writers share
    val planted = Seq(
      Paths.get(s"$outDir/_tmp-other-call/w.tgz.p0.a1"),
      Paths.get(s"$outDir/_tmp/w.tgz.p0.a1"))
    planted.foreach { p =>
      Files.createDirectories(p.getParent)
      Files.write(p, "OTHER-WRITER".getBytes)
    }

    TgzSink.writeSplit(fixtureRouted(), outDir)

    // neither deleted nor published by this call
    planted.foreach(p => assert(Files.readString(p) === "OTHER-WRITER", p))
    assert(!Files.exists(Paths.get(s"$outDir/w.tgz")))
    // this call published its own halves and removed only its own staging
    assert(entryCount(s"$outDir/$fixtureBase") === 145)
    assert(stagingEntries(outDir) === Seq("_tmp", "_tmp-other-call"))
  }

  test("CopyCommit end-to-end split on a store with NO working rename") {
    // register a FileSystem whose rename always throws — the object-store
    // failure mode the protocol exists for (the reference's production
    // promote path is a GCS server-side copy,
    // /root/reference/unembargo.go:124-130, because rename there is
    // copy+delete and non-atomic)
    spark.sparkContext.hadoopConfiguration
      .set("fs.nar.impl", classOf[NoRenameFileSystem].getName)
    // the public and private halves on two different nar:// roots
    val localPub = tempDir("graft-nar-pub").toString
    val localPriv = tempDir("graft-nar-priv").toString

    val routed = fixtureRouted()
    TgzSink.writeSplit(routed, s"nar://$localPub", s"nar://$localPriv",
      CopyCommit, CopyCommit)

    assert(entryCount(s"$localPub/$fixtureBase") === 145)
    assert(entryCount(s"$localPriv/${fixtureBase.replace(".tgz", "-e.tgz")}") === 59)
    assert(stagingEntries(localPub).isEmpty && stagingEntries(localPriv).isEmpty)

    // non-vacuity: the rename-marking protocol on the same store fails —
    // the wrapper really has no rename, so a green CopyCommit run proves
    // the path is rename-free end to end
    val out2 = s"nar://${tempDir("graft-nar2")}"
    val e = intercept[Exception] {
      TgzSink.writeSplit(routed, out2, out2, RenameCommit, RenameCommit)
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.getMessage != null)
      && chain(e).exists(c => Option(c.getMessage).exists(_.contains("rename"))))
  }

  test("each root resolves its own protocol: an object-store root never sees rename") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.gs.impl", classOf[NoRenameObjectStore].getName)
    // public half on a posix dir (RenameCommit), private half on a
    // rename-less store under an object-store scheme (CopyCommit)
    val pubDir = tempDir("graft-mixed-pub").toString
    val localPriv = tempDir("graft-mixed-priv").toString

    TgzSink.writeSplit(fixtureRouted(), pubDir, s"gs://graft-test$localPriv")

    val privName = fixtureBase.replace(".tgz", "-e.tgz")
    assert(visibleNames(pubDir) === Seq(fixtureBase))
    assert(visibleNames(localPriv) === Seq(privName))
    assert(entryCount(s"$pubDir/$fixtureBase") === 145)
    assert(entryCount(s"$localPriv/$privName") === 59)
    assert(stagingEntries(pubDir).isEmpty && stagingEntries(localPriv).isEmpty)
  }

  test("commit protocol auto-detect: object-store schemes get CopyCommit") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(CommitProtocol.forPath("gs://bucket/dir", conf) === CopyCommit)
    assert(CommitProtocol.forPath("s3a://bucket/dir", conf) === CopyCommit)
    assert(CommitProtocol.forPath("/plain/posix/dir", conf) === RenameCommit)
    assert(CommitProtocol.forPath("hdfs://nn/dir", conf) === RenameCommit)
  }

  test("commit still rejects a final name marked by two partitions") {
    val outDir = tempDir("graft-commit3").toString
    val t = stagedTarget(outDir)
    val reports = Seq(stage(t, 0, "w.tgz", 0, 1, "P0"), stage(t, 0, "w.tgz", 1, 2, "P1"))

    val e = intercept[IllegalStateException] {
      TgzSink.commit(spark, Seq(t), reports, sconf())
    }
    assert(e.getMessage.contains("split across partitions"))
    assert(!Files.exists(Paths.get(s"$outDir/w.tgz")))
    assert(!Files.exists(Paths.get(t.staging.toString)))
  }
}
