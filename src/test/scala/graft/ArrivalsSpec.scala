package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Arrivals, TarQueries}
import graft.streaming.Drain

/** The staged stream source ([[Arrivals]]): file *i* is micro-batch *i*,
  * a memo hit opens the stream without a Spark job, and files that
  * disagree on schema fail at staging. The scratch dir's removal is
  * pinned by StagedSpec's st7 case.
  */
class ArrivalsSpec extends AnyFunSuite with SparkSuite with JobCounting {

  // the corpus only keys the memo and names the staged dir
  private val sf = "arrivals-spec"

  private def ids(xs: Long*): DataFrame = {
    import spark.implicits._
    xs.toDF("id")
  }

  test("Arrivals: a three-file source drains file i as micro-batch i") {
    spark // the helper stages through the active session
    val stream = Arrivals("arrivals-spec-order", sf) {
      Seq(ids(1L, 2L), ids(3L), ids(4L, 5L, 6L))
    }
    val batches = scala.collection.mutable.Map.empty[Long, Seq[Long]]
    Arrivals.scratch { ckpt =>
      Drain(stream, ckpt)(_.foreachBatch { (b: DataFrame, id: Long) =>
        batches.synchronized {
          batches(id) = b.collect().map(_.getLong(0)).toSeq.sorted
        }
        ()
      })
    }
    assert(batches.toMap === Map(0L -> Seq(1L, 2L), 1L -> Seq(3L), 2L -> Seq(4L, 5L, 6L)))
  }

  test("Arrivals: opening the stream on a memo hit starts no Spark job; the inferred read starts one") {
    spark // the helper stages through the active session
    Arrivals("arrivals-spec-jobs", sf)(Seq(ids(1L), ids(2L)))
    assert(jobsStartedBy {
      Arrivals("arrivals-spec-jobs", sf)(fail("a memo hit must not restage"))
    } === 0)
    val dir = TarQueries.stagePath("arrivals-spec-jobs", sf) + ".parquet"
    assert(jobsStartedBy {
      spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    } === 1)
  }

  test("Arrivals: files with different schemas fail at staging and record no memo") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      Arrivals("arrivals-spec-schema", sf)(Seq(ids(1L), Seq("x").toDF("id")))
    }
    assert(e.getMessage.contains("schema"), e.getMessage)
    // the failed build left no memo: agreeing files stage on the next call
    assert(Arrivals("arrivals-spec-schema", sf)(Seq(ids(1L), ids(2L)))
      .schema.fieldNames.toSeq === Seq("id"))
  }
}
