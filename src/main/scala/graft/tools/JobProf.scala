package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cost decomposition for declared queries (guide §1: measure first):
  * runs the named queries with a SparkListener and a
  * StreamingQueryListener attached and prints
  *   - every Spark job's wall time + first-stage name, so a multi-job
  *     query (iterative graph rounds, staged index builds, driver-looped
  *     lifecycles) shows where its seconds actually go;
  *   - for a query that runs a stream, per micro-batch the engine's own
  *     duration breakdown (`durationMs`: addBatch / queryPlanning /
  *     walCommit / commitOffsets / latestOffset / triggerExecution) plus
  *     state-operator commit times — where the per-micro-batch floor of
  *     the streaming drains goes. Batch-only queries print no such lines.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.JobProf g1_pagerank[,st5_stream_join,...]"
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val names = args.headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("g1_pagerank"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.localSession(cpus, "ERROR")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.headOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), desc.take(90)))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, desc) =>
          val ms = (System.nanoTime() - t0) / 1e6
          if (ms >= 20) println(f"  [job ${je.jobId}%3d] ${ms}%8.0f ms  $desc")
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[stream] started ${e.id}")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dur = p.durationMs
        val keys = Seq("triggerExecution", "latestOffset", "queryPlanning",
          "walCommit", "commitOffsets", "getBatch", "addBatch")
        val parts = keys.flatMap(k => Option(dur.get(k)).map(v => s"$k=${v}ms"))
        println(s"[batch ${p.batchId}] rows=${p.numInputRows} ${parts.mkString(" ")}")
        p.stateOperators.foreach { so =>
          println(s"  [state ${so.operatorName}] commit=${so.commitTimeMs}ms " +
            s"rowsUpdated=${so.numRowsUpdated} rowsTotal=${so.numRowsTotal} " +
            s"memUsed=${so.memoryUsedBytes} custom=${so.customMetrics}")
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"[stream] terminated ${e.id}")
    })
    // one untimed warmup so JIT/codegen is charged once, like Bench
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/nation.parquet").count()
    } catch { case e: Throwable => System.err.println(s"[jobprof] warm-up failed: $e") }
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      for (pass <- 1 to 2) {
        println(s"=== $name pass $pass ===")
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"=== $name pass $pass: $dt%.3f s, $n rows ===")
        spark.catalog.clearCache()
        System.gc()
      }
    }
    spark.stop()
  }
}
