package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of spec code starts. */
trait JobCounting { this: SparkSuite =>

  /** Spark jobs started by `body` on the calling thread (and threads it
    * starts, which inherit its local properties).
    */
  def jobsStartedBy(body: => Unit): Int = count(body, anyThread = false)

  /** Spark jobs started on any thread while `body` runs: for work that
    * `body` hands to threads which do not inherit its local properties,
    * such as the JDK HTTP server's handlers. The suite must start no
    * other job meanwhile.
    */
  def jobsStartedDuring(body: => Unit): Int = count(body, anyThread = true)

  /** A fence job runs before and after `body`; the listener bus delivers
    * in order, so the jobs that arrive between the two fences are the
    * jobs started while `body` ran.
    */
  private def count(body: => Unit, anyThread: Boolean): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobs"
    val tag = UUID.randomUUID().toString
    val (start, end) = (s"$tag-start", s"$tag-end")
    val jobs = new AtomicInteger(0)
    val open = new AtomicBoolean(false)
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(key)).orNull match {
          case `start` => open.set(true)
          case `end` => fenced.countDown()
          case t if open.get && (anyThread || t == tag) => jobs.incrementAndGet()
          case _ =>
        }
    }
    def fence(name: String): Unit = {
      sc.setLocalProperty(key, name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      fence(start)
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, null)
      fence(end)
      if (!fenced.await(60, TimeUnit.SECONDS))
        throw new AssertionError("the fence job never arrived")
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}
