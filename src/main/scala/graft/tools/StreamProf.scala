package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Micro-batch cost decomposition for the streaming drains (guide §1:
  * measure first). Runs the named declared queries with a
  * StreamingQueryListener attached and prints, per micro-batch, the
  * engine's own duration breakdown (`durationMs`: addBatch /
  * queryPlanning / walCommit / commitOffsets / latestOffset /
  * triggerExecution) plus state-operator commit times — the direct answer
  * to "where does the per-micro-batch floor actually go", which SCALING.md
  * has so far only attributed wholesale to "RocksDB checkpoint commits".
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.StreamProf st5_stream_join[,st4_windowed_agg,...]"
  */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val names = args.headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("st5_stream_join"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.localSession(cpus, "ERROR")
    val listener = new StreamingQueryListener {
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
    }
    spark.streams.addListener(listener)
    // one untimed warmup so JIT/codegen is charged once, like Bench
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/nation.parquet").count()
    } catch { case _: Throwable => () }
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
