package graft

import java.io.{IOException, UncheckedIOException}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** Scratch directories that live exactly as long as the JVM: created
  * under `java.io.tmpdir`, deleted recursively at JVM exit by one
  * shutdown hook. The index-backed query fixtures return lazy frames
  * over the stores they build, so a directory cannot be deleted when
  * the call returns — only when nothing can read it any more. */
object TempDirs {

  private val dirs = new ConcurrentLinkedQueue[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    dirs.asScala.foreach(deleteRecursively), "graft-tempdirs-cleanup"))

  /** A fresh directory whose name starts with `prefix`, deleted at exit. */
  def create(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d
  }

  /** Best effort: whatever another shutdown hook still writes or holds
    * open is left behind rather than failing the exit. */
  private def deleteRecursively(root: Path): Unit =
    try {
      val walk = Files.walk(root)
      val paths = try walk.iterator().asScala.toList finally walk.close()
      paths.reverse.foreach { p =>
        try Files.deleteIfExists(p) catch { case _: IOException => () }
      }
    } catch { case _: IOException | _: UncheckedIOException => () }
}
