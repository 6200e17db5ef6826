package graft

import java.nio.file.{Files, Path}

/** Scratch directories that clean up after themselves: each one, with
  * whatever is written into it later, is deleted when the JVM exits.
  */
object TempDirs {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]
  sys.addShutdownHook(dirs.forEach(deleteTree(_)))

  /** A fresh directory under java.io.tmpdir, deleted at JVM exit. */
  def create(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    dirs.add(dir)
    dir
  }

  private def deleteTree(root: Path): Unit =
    try {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
}
