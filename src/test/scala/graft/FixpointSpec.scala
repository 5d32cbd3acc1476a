package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Fixpoint}

/** [[Fixpoint]]'s fixed rules: the convergence test is read from the job
  * that pins the round (no second action per round), an empty round counts
  * as converged, and fixed mode pins every 3rd intermediate round only.
  */
class FixpointSpec extends AnyFunSuite with SparkSuite {

  private def pinned(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  /** SQL executions `body` starts, counted under its own job group. */
  private def sqlExecutions(body: => Unit): Int = {
    val group = s"fixpoint-spec-${System.nanoTime()}"
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          n.incrementAndGet()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "fixpoint")
      try body finally sc.clearJobGroup()
      // the listener bus is asynchronous: wait until the count settles
      var prev = -1
      while (n.get() != prev) { prev = n.get(); Thread.sleep(300) }
      n.get()
    } finally sc.removeSparkListener(listener)
  }

  test("d7: dupClusters starts one SQL execution per round after the edge pin") {
    import spark.implicits._
    // the DedupSpec D7 fixture: every component is one hop from its
    // minimum, so round 1 changes labels and round 2 confirms no change
    val pairs = Seq((5L, 3L), (3L, 8L), (10L, 7L), (1L, 2L), (2L, 9L), (9L, 1L))
      .toDF("id_a", "id_b")
    var labels: Map[Long, Long] = Map.empty
    val executions = sqlExecutions {
      labels = Dedup.dupClusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(labels === Map(3L -> 3L, 5L -> 3L, 8L -> 3L,
      7L -> 7L, 10L -> 7L, 1L -> 1L, 2L -> 1L, 9L -> 1L))
    // edge pin + 2 round pins + the caller's collect
    assert(executions === 1 + 2 + 1)
  }

  test("convergence mode stops at the first round whose test holds, and drops scratch columns") {
    import spark.implicits._
    val seed = (0L until 10L).toDF("x")
    def step(s: DataFrame) = s.select(least(col("x") + 1, lit(5L)).as("x"))
      .withColumn("scratch", col("x") * 2)
    val (state, rounds, converged) = Fixpoint(seed, 20, Some(min(col("x")) >= 5L))(step)
    assert((rounds, converged) === ((5, true)))
    assert(state.columns.toSeq === Seq("x"))
    assert(state.collect().map(_.getLong(0)).toSeq === Seq.fill(10)(5L))
    // maxIters first: the flag says the test never held
    val (_, r3, c3) = Fixpoint(seed, 3, Some(min(col("x")) >= 5L))(step)
    assert((r3, c3) === ((3, false)))
  }

  test("an empty round counts as converged") {
    import spark.implicits._
    val seed = Seq.empty[(Long, Boolean)].toDF("id", "changed")
    val (state, rounds, converged) =
      Fixpoint(seed, 5, Some(!bool_or(col("changed"))))(identity)
    assert((rounds, converged) === ((1, true)))
    assert(state.isEmpty)
  }

  test("fixed mode pins rounds 3 and 6 of 7, never the seed or the final state") {
    import spark.implicits._
    val seed = (0L until 4L).toDF("x")
    // inputs(i) is round i's output (round 0 = the seed)
    val inputs = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val (state, rounds, converged) = Fixpoint(seed, 7, None) { s =>
      inputs += pinned(s)
      s.select((col("x") + 1).as("x"))
    }
    assert(inputs.zipWithIndex.collect { case (true, i) => i }.toSeq === Seq(3, 6))
    assert(!pinned(state))
    assert((rounds, converged) === ((7, false)))
    assert(state.collect().map(_.getLong(0)).sorted.toSeq === (7L until 11L))
  }
}
