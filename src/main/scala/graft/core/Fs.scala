package graft.core

import java.io.IOException
import java.nio.file.{DirectoryNotEmptyException, FileAlreadyExistsException,
  FileVisitResult, Files, NoSuchFileException, Path, SimpleFileVisitor,
  StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The ONE file-system seam of the storage layers: the versioned table,
  * the persisted IVF index, the streaming snapshot pointer and the
  * sharing endpoint all delete, replace, copy, publish, list and sweep
  * through these calls and nothing else (StorageSeamSpec fails the build
  * on a re-forked walk or atomic rename). A swap to an object store
  * changes this file, not its callers.
  */
object Fs {

  /** Recursive delete, tolerant of entries vanishing mid-walk (a
    * concurrent delete of the same tree, e.g. two processes pruning the
    * same debris): a NoSuchFileException anywhere means the work is
    * already done, not a failure. A [[DirectoryNotEmptyException]]
    * (files APPEARING mid-walk — someone is writing into the tree)
    * propagates: the caller decides. A missing `p` is a no-op. */
  def deleteTree(p: Path): Unit = {
    def vanished(e: IOException): Boolean = e.isInstanceOf[NoSuchFileException]
    Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        Files.deleteIfExists(f)
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
        if (vanished(e)) FileVisitResult.CONTINUE else throw e
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult = {
        if (e != null && !vanished(e)) throw e
        Files.deleteIfExists(d)
        FileVisitResult.CONTINUE
      }
    })
  }

  /** Whole-file replace: write a uniquely named sibling temp, then rename
    * it over `p` atomically, so a concurrent reader sees the old content
    * or the new, never an empty or partial file, and two writers of one
    * target never share a temp name. Creates `p`'s parent if needed; the
    * temp never outlives the call. */
  def writeAtomic(p: Path, content: String): Unit = {
    val dir = p.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, s".${p.getFileName}", ".tmp")
    try {
      Files.writeString(tmp, content)
      Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** Bare atomic rename (rename(2)): an existing file or empty directory
    * at `dest` is silently REPLACED; only a non-empty directory target
    * fails. Never a put-if-absent — that is [[putIfAbsent]]. */
  def moveAtomic(src: Path, dest: Path): Unit =
    Files.move(src, dest, StandardCopyOption.ATOMIC_MOVE)

  /** Create `p` holding `content` only if `p` does not exist yet; false
    * if it did. The content is written to a uniquely named `.`-prefixed
    * sibling temp, which link(2) then publishes as `p`: the link fails
    * atomically when `p` exists, so `p` is never partial and never
    * replaced (a rename would silently replace it). The temp never
    * outlives the call unless the process dies; `.`-prefixed names are
    * skipped by every listing, and [[sweepStale]] reclaims them. */
  def putIfAbsent(p: Path, content: String): Boolean = {
    val dir = p.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, s".${p.getFileName}", ".tmp")
    try {
      Files.writeString(tmp, content)
      Files.createLink(p, tmp)
      true
    } catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** Recursive copy into a fresh destination. Not atomic — a copy that
    * readers may observe goes through [[publishDir]]. */
  def copyTree(src: Path, dest: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.toSeq.foreach { p =>
      val tgt = dest.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(tgt)
      else Files.copy(p, tgt)
    } finally s.close()
  }

  /** Land a directory ATOMICALLY (stage + rename): `fill` populates a
    * uniquely named sibling stage, which then replaces `dest`. Readers
    * observe either no dir, the previous one, or the complete new one —
    * never a torn tree. A failed `fill` leaves no stage behind. */
  def publishDir(dest: Path)(fill: Path => Unit): Unit = {
    val stage = dest.resolveSibling(s".stage-${java.util.UUID.randomUUID()}")
    try fill(stage)
    catch { case NonFatal(e) => deleteTree(stage); throw e }
    deleteTree(dest)
    moveAtomic(stage, dest)
  }

  /** Data files under `dir` as keys RELATIVE to it (`part-0.parquet`,
    * `p=1/part-3.parquet`), sorted. Spark's file-index rule decides what
    * is hidden: any file or directory named `.*`, or `_*` without a `=`
    * (commit markers, checksums, in-flight temps, and a version's
    * `_bloomsets`/`_changes` dirs), is skipped with everything beneath it.
    * Empty if `dir` is absent. */
  def dataFiles(dir: Path): Vector[String] = {
    val base = dir.toAbsolutePath
    if (!Files.isDirectory(base)) return Vector.empty
    def hidden(name: String) =
      name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
    val s = Files.walk(base)
    try s.iterator().asScala
      .map(base.relativize)
      .filter(r => !r.iterator().asScala.exists(c => hidden(c.toString)) &&
        Files.isRegularFile(base.resolve(r)))
      .map(_.toString).toVector.sorted
    finally s.close()
  }

  /** Delete every child of `dir` whose ENTIRE subtree is untouched for
    * longer than `age`, except those `keep` names. A top-level mtime
    * alone is not enough: a long-running writer lands files deep in the
    * tree without refreshing the top dir, and reclaiming it mid-flight
    * would fail the writer's final rename. Best-effort hygiene: a child
    * that vanishes, or gains files while being swept, is left for the
    * next sweep. */
  def sweepStale(dir: Path, age: java.time.Duration, keep: Path => Boolean): Unit = {
    if (!Files.isDirectory(dir)) return
    val cutoff = System.currentTimeMillis() - age.toMillis
    def fresh(p: Path): Boolean = {
      val s = Files.walk(p)
      try s.iterator().asScala.exists(f => Files.getLastModifiedTime(f).toMillis >= cutoff)
      finally s.close()
    }
    val s = Files.list(dir)
    val children = try s.iterator().asScala.toVector finally s.close()
    children.filterNot(keep).foreach { c =>
      try if (!fresh(c)) deleteTree(c)
      catch { case _: IOException | _: java.io.UncheckedIOException => () }
    }
  }
}
