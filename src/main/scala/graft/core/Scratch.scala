package graft.core

import java.nio.file.{Files, Path}

/** The ONE registry for JVM-exit-cleaned scratch directories — query
  * fixtures (versioned-table snapshots, CDF feeds, sharing endpoints,
  * export/roundtrip dirs) and stream plumbing (checkpoints, symlink
  * shims, batch outputs). Every build creates one or two; loops —
  * Bench's warm + min-of-3 over the versioned-commit queries (mv2!),
  * full spec suites, repeated Verify runs — would otherwise accumulate
  * full table copies in /tmp for the OS to clean, on a shared box whose
  * capacity the driver also uses.
  *
  * Exit-time (not eager) deletion: the returned DataFrames read these
  * dirs lazily within the JVM's lifetime.
  */
object Scratch {

  private val dirs =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      dirs.asScala.foreach { d =>
        try Fs.deleteTree(d) catch { case _: Throwable => () }
      }
    }, "graft-scratch-cleanup"))
  }

  /** A fresh temp directory, registered for exit-time deletion. */
  def dir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d
  }
}
