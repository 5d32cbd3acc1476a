package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ListBuffer

import org.scalatest.{Args, Status, Suite, SuiteMixin}

/** Temp dirs for specs: every dir made by [[tempDir]] is deleted, with
  * everything under it, once the suite's run completes (pass or fail), so
  * a test run leaves nothing behind in the temp root. Suite-scoped rather
  * than test-scoped because some specs share one dir across tests (a
  * service's stores, a lazily started fixture).
  */
trait TempDirs extends SuiteMixin { this: Suite =>

  private val made = ListBuffer.empty[Path]

  /** A fresh `<tmp>/<prefix>*` dir. A spec that needs a file makes it
    * inside one of these.
    */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.synchronized(made += d)
    d
  }

  abstract override def run(testName: Option[String], args: Args): Status = {
    val status = super.run(testName, args)
    status.whenCompleted { _ =>
      made.synchronized {
        made.foreach(TempDirs.deleteTree)
        made.clear()
      }
    }
    status
  }
}

object TempDirs {
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
}
