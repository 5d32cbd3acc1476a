package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: `parent` names the enclosing span, `op` ties the
  * spans of one operation (request, day or decomposition call) together.
  */
final case class Span(name: String, startMs: Long, endMs: Long, parent: String, op: Long)

/** Spans kept in memory and written out once, at the end of the run. */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]

  def add(s: Span): Unit = synchronized { buf += s }

  def all: Seq[Span] = synchronized(buf.toList)

  def timed[T](name: String, parent: String, op: Long)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    try f finally add(Span(name, t0, System.currentTimeMillis(), parent, op))
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startMs).foreach { s =>
      w.println(Json.obj("name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "parent" -> s.parent, "op" -> s.op))
    } finally w.close()
  }
}

/** Scheduler, Catalyst and streaming counters, gathered by listeners
  * registered from the benchmark. Everything is kept with its timestamp so
  * any window of the run can be summarised afterwards.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.{Job, Task}

  private val jobs = ArrayBuffer.empty[Job]
  private val tasks = ArrayBuffer.empty[Task]
  private val stageDone = ArrayBuffer.empty[(Int, Long)] // (job, completion ms)
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val plans = ArrayBuffer.empty[(Long, Double)] // (end ms, planning ms)
  private val batches = ArrayBuffer.empty[Map[String, Double]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += Job(e.jobId, e.time, -1L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        stageDone += ((stageJob.getOrElse(info.stageId, -1),
          info.completionTime.getOrElse(System.currentTimeMillis())))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val (sw, sp) =
        if (m == null) (0L, 0L)
        else (m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
      tasks += Task(stageJob.getOrElse(e.stageId, -1), e.taskInfo.launchTime,
        e.taskInfo.finishTime, sw, sp)
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      Tracer.this.synchronized { plans += ((System.currentTimeMillis(), ms)) }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = if (d.containsKey(k)) d.get(k).doubleValue else 0.0
      val named = Seq("addBatch", "walCommit", "commitOffsets")
      val row = named.map(k => k -> ms(k)).toMap ++ Map(
        "other" -> (ms("triggerExecution") - named.map(ms).sum),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      Tracer.this.synchronized { batches += row }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)

  def flush(): Unit = org.apache.spark.PerfbenchAccess.waitForListeners(spark.sparkContext)

  def close(): Unit = {
    flush()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Scheduler and planner totals for the jobs started in `[t0, t1]`,
    * divided by `ops`, plus the share of the window the tasks kept busy.
    */
  def window(t0: Long, t1: Long, ops: Int): Map[String, Double] = synchronized {
    val js = jobs.filter(j => j.start >= t0 && j.start <= t1)
    val ids = js.map(_.id).toSet
    val ts = tasks.filter(t => ids.contains(t.job))
    val taskMs = ts.map(t => (t.finish - t.launch).toDouble).sum
    val idleMs = js.map { j =>
      val end = if (j.end < 0) t1 else j.end
      val ivs = ts.filter(_.job == j.id).map(t => (math.max(t.launch, j.start), math.min(t.finish, end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (-1L, -1L)
      ivs.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (ce > cs) covered += ce - cs
      (end - j.start - covered).toDouble
    }.sum
    val n = math.max(ops, 1).toDouble
    Map(
      "spark.jobs_per_op" -> js.size / n,
      "spark.stages_per_op" -> stageDone.count(s => ids.contains(s._1)) / n,
      "spark.tasks_per_op" -> ts.size / n,
      "spark.task_s_per_op" -> taskMs / 1000.0 / n,
      "spark.busy_cores" -> taskMs / math.max(t1 - t0, 1L).toDouble,
      "spark.job_idle_s" -> idleMs / 1000.0 / n,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1e6 / n,
      "spark.spill_mb" -> ts.map(_.spill).sum / 1e6 / n,
      "catalyst.plan_ms" -> plans.filter(p => p._1 >= t0 && p._1 <= t1).map(_._2).sum / n)
  }

  /** Totals over every streaming micro-batch seen so far. */
  def streaming(): Map[String, Double] = synchronized {
    def total(k: String) = batches.map(_(k)).sum
    Map(
      "streaming.batches" -> batches.size.toDouble,
      "streaming.addBatch_ms" -> total("addBatch"),
      "streaming.walCommit_ms" -> total("walCommit"),
      "streaming.commitOffsets_ms" -> total("commitOffsets"),
      "streaming.other_ms" -> total("other"),
      "streaming.state_rows" -> total("state_rows"))
  }

  /** Spark jobs as spans, each parented to the one operation span whose
    * interval holds its start (unparented when operations overlap).
    */
  def jobSpans(opSpans: Seq[Span]): Seq[Span] = synchronized {
    jobs.toList.map { j =>
      val holders = opSpans.filter(s => s.startMs <= j.start && j.start <= s.endMs)
      val (parent, op) = holders match {
        case Seq(s) => (s.name, s.op)
        case _ => ("", -1L)
      }
      Span(s"spark.job.${j.id}", j.start, if (j.end < 0) j.start else j.end, parent, op)
    }
  }
}

object Tracer {
  private final case class Job(id: Int, start: Long, var end: Long)
  private final case class Task(job: Int, launch: Long, finish: Long,
                                shuffleWrite: Long, spill: Long)
}
