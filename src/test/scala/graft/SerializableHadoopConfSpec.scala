package graft.io

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.graft.bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** [[SerializableHadoopConf]] ships the session conf's raw pairs: what a
  * task reads back is the driver's conf, pair for pair, session settings
  * and test-only filesystems included.
  */
class SerializableHadoopConfSpec extends AnyFunSuite with SparkSuite {

  private def pairs(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  private def roundTrip(c: Configuration): Configuration = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableHadoopConf(c))
    out.close()
    new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[SerializableHadoopConf].value
  }

  test("a Java-serialization round trip keeps every raw pair of the session conf") {
    spark.sparkContext.hadoopConfiguration.set("fs.rtrip.impl", classOf[NoRenameFileSystem].getName)
    spark.conf.set("spark.hadoop.graft.rtrip.key", "session-value")
    try {
      val conf = bridge.sessionHadoopConf(spark)
      assert(conf.get("spark.hadoop.graft.rtrip.key") === "session-value")
      val back = roundTrip(conf)
      assert(pairs(back) === pairs(conf))
      assert(pairs(conf).size > 100) // the defaults came along, not just the overrides
      // a task resolves the session-only scheme through the shipped conf
      assert(FileSystem.getFileSystemClass("rtrip", back) === classOf[NoRenameFileSystem])
      assert(back.get("spark.hadoop.graft.rtrip.key") === "session-value")
    } finally {
      spark.conf.unset("spark.hadoop.graft.rtrip.key")
      spark.sparkContext.hadoopConfiguration.unset("fs.rtrip.impl")
    }
  }
}
