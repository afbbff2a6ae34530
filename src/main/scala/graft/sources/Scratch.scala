package graft.sources

import java.nio.file.{Files, Path, Paths}

/** JVM-lifetime scratch directories (streaming checkpoints, tmp
  * lakes, demo sinks) with guaranteed cleanup.
  *
  * Round-17 root-cause: every battery entry that needed a checkpoint
  * or tmp lake called `Files.createTempDirectory` directly — the
  * random-suffix dirs are only ever read within the JVM that created
  * them, but nothing deleted them, so /tmp accumulated ~2,500 dead
  * graft entries (~600 MB) across rounds and every later run
  * (including the driver's bench) aged against that disk state.
  * [[dir]] is a drop-in replacement that registers each dir for
  * recursive deletion in ONE shutdown hook; [[sweepStale]] lets a
  * fresh run clear litter that crashed JVMs left behind.
  */
object Scratch {
  private val registered =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  @volatile private var hooked = false

  /** Create a temp directory that is recursively deleted when this
    * JVM exits cleanly. Same contract as
    * `Files.createTempDirectory(prefix)` otherwise. */
  def dir(prefix: String): Path = {
    if (!hooked) synchronized {
      if (!hooked) {
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          var p = registered.poll()
          while (p != null) { deleteRecursively(p.toFile); p = registered.poll() }
        }, "graft-scratch-cleanup"))
        hooked = true
      }
    }
    val p = Files.createTempDirectory(prefix)
    registered.add(p)
    p
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Delete `java.io.tmpdir` entries matching `prefix*` older than
    * `olderThanHours` (mtime of the top-level entry). Safe for graft
    * scratch state: the dirs carry random suffixes and are never
    * referenced across JVMs, so anything old enough belongs to a
    * finished (or crashed) run. Returns the number of entries
    * removed. Never throws — a cleanup must not kill the run. */
  def sweepStale(prefix: String = "graft_",
                 olderThanHours: Double = 2.0): Int = {
    try {
      val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
      val cutoff =
        System.currentTimeMillis - (olderThanHours * 3600 * 1000).toLong
      val stream = Files.list(tmp)
      try {
        var n = 0
        stream.forEach { p =>
          try {
            if (p.getFileName.toString.startsWith(prefix) &&
                Files.getLastModifiedTime(p).toMillis < cutoff) {
              deleteRecursively(p.toFile)
              n += 1
            }
          } catch { case _: Throwable => () }
        }
        n
      } finally stream.close()
    } catch { case _: Throwable => 0 }
  }
}
