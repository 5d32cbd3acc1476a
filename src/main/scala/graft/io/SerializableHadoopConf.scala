package graft.io

import java.io.{ObjectInputStream, ObjectOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.Text

/** Ships a Hadoop [[Configuration]] from the driver to executors.
  *
  * `Configuration` is not java-serializable, so its raw key/value pairs are
  * written on serialization and set into a defaults-free instance on
  * deserialization — the executor sees exactly the driver's session conf
  * (fs impls, object-store credentials, `spark.hadoop.*` overrides), not
  * whatever `new Configuration()` would pick up from the task classpath.
  *
  * Only the pairs travel. `Configuration.write` also ships every
  * property's provenance, each source name gzip-compressed on its own,
  * which for a session conf of about 1,100 properties nearly doubles the
  * bytes and costs milliseconds per task on either side.
  */
final class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    val pairs = value.iterator().asScala.toVector
    out.writeInt(pairs.size)
    pairs.foreach { e => Text.writeString(out, e.getKey); Text.writeString(out, e.getValue) }
  }

  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    for (_ <- 0 until in.readInt()) value.set(Text.readString(in), Text.readString(in))
  }
}
