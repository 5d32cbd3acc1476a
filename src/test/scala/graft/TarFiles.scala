package graft

import java.io.{BufferedInputStream, ByteArrayInputStream, InputStream}
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
import org.apache.commons.compress.compressors.gzip.GzipCompressorInputStream

import graft.model.TarEntry

/** A test-side reader of gzipped tars, straight on commons-compress: the
  * oracle that specs hold `graft.io.TgzSource`'s decoder and its golden
  * outputs against, so it shares no code with that decoder. `typeflag` is
  * the raw header flag ("0" for a NUL flag); only regular files keep a
  * payload.
  */
object TarFiles {

  def read(archive: String, in: InputStream): Vector[TarEntry] = {
    val tin = new TarArchiveInputStream(
      new GzipCompressorInputStream(new BufferedInputStream(in)))
    try Iterator.continually(tin.getNextEntry).takeWhile(_ != null).zipWithIndex.map {
      case (e, i) =>
        val flag = if (e.getLinkFlag == 0) "0" else e.getLinkFlag.toChar.toString
        val content = if (flag == "0") tin.readAllBytes() else Array.emptyByteArray
        TarEntry(archive, i.toLong, e.getName, e.getSize, e.getMode.toLong,
          new Timestamp(e.getModTime.getTime), flag, content)
    }.toVector
    finally tin.close()
  }

  def read(path: String): Vector[TarEntry] = read(path, Files.newInputStream(Paths.get(path)))

  def read(archive: String, bytes: Array[Byte]): Vector[TarEntry] =
    read(archive, new ByteArrayInputStream(bytes))
}
