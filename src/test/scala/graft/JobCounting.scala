package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of spec code starts. */
trait JobCounting { this: SparkSuite =>

  /** Spark jobs started by `body` on the calling thread (and threads it
    * starts, which inherit its local properties). A fence job runs after
    * `body`; the listener bus delivers in order, so once the fence arrives
    * every job of `body` has been counted.
    */
  def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobs"
    val tag = UUID.randomUUID().toString
    val fence = s"$tag-fence"
    val jobs = new AtomicInteger(0)
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(key)).orNull match {
          case `tag` => jobs.incrementAndGet()
          case `fence` => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      if (!fenced.await(60, TimeUnit.SECONDS))
        throw new AssertionError("the fence job never arrived")
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}
