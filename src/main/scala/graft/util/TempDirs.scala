package graft.util

import java.nio.file.{Files, Path, Paths}

/** Temp directories for materializing work (crawl fixtures, sinks,
  * indexes, replay logs, test outputs), each deleted with everything in
  * it when the JVM exits, so repeated runs don't accumulate disk.
  * Deletion can't be eager where a caller returns a LAZY DataFrame whose
  * plan still reads the directory when it is collected; a directory
  * nothing reads any more goes at once through [[delete]].
  */
object TempDirs {
  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    dirs.forEach(d => delete(d)), "graft-tmp-cleanup"))

  /** A fresh temp directory, deleted at JVM exit. */
  def create(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toString
    dirs.add(d)
    d
  }

  /** Deletes `dir` and everything in it, now; best effort. */
  def delete(dir: String): Unit = {
    dirs.remove(dir)
    try {
      val walk = Files.walk(Paths.get(dir))
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
  }
}
