package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard against re-forking the storage seam: each file-system mechanism
  * (recursive delete, atomic replace, put-if-absent, tree copy, data-file
  * listing, stale sweep) has one implementation in `core/Fs.scala`, the
  * commit log and change-feed layout live only in
  * `maint/VersionedTable.scala`, and that table has one commit point (a
  * put-if-absent log entry, no lock, no rename) and one retry loop. The same scan keeps
  * the broadcast rule in one place: `ops/Guards.scala`. Every failure
  * names the file and line. */
class StorageSeamSpec extends AnyFunSuite {

  private val src = Paths.get("src/main/scala")
  private val fsFile = "graft/core/Fs.scala"
  private val tableFile = "graft/maint/VersionedTable.scala"
  private val guardsFile = "graft/ops/Guards.scala"

  private lazy val sources: Seq[(String, IndexedSeq[String])] = {
    require(Files.isDirectory(src), s"run from the repo root: no $src")
    val s = Files.walk(src)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      .map(p => src.relativize(p).toString -> Files.readAllLines(p).asScala.toIndexedSeq)
    finally s.close()
  }

  /** `file:line: text` for every line matching `pattern`, in `files`. */
  private def hits(pattern: String, files: String => Boolean): Seq[String] =
    for {
      (f, lines) <- sources if files(f)
      (l, i) <- lines.zipWithIndex if pattern.r.findFirstIn(l).isDefined
    } yield s"$f:${i + 1}: ${l.trim}"

  test("Files.walk and ATOMIC_MOVE appear only in core/Fs.scala") {
    val found = hits("""Files\.walk|ATOMIC_MOVE""", _ != fsFile)
    assert(found.isEmpty,
      s"file-system walk/atomic rename outside $fsFile — use graft.core.Fs:\n" +
        found.mkString("\n"))
  }

  test("log and change-feed paths are named only in maint/VersionedTable.scala") {
    val found = hits(""""[^"]*\b_(log|changes)\b[^"]*"""", _ != tableFile)
    assert(found.isEmpty,
      s"log or change-feed path outside $tableFile — go through VersionedTable:\n" +
        found.mkString("\n"))
    val manifests = hits(""""[^"]*_manifest[^"]*"""", _ => true)
    assert(manifests.isEmpty,
      s"the `_manifest` layout is gone — commit through the log:\n" +
        manifests.mkString("\n"))
  }

  test("VersionedTable has one commit point and one retry loop") {
    val isTable = (f: String) => f == tableFile
    val puts = hits("""Fs\.putIfAbsent\(""", isTable)
    assert(puts.size == 1, "expected ONE put-if-absent log entry " +
      s"(in publishVersion):\n${puts.mkString("\n")}")
    val locksAndMoves = hits("""\bsynchronized\b|Files\.move\(""", isTable)
    assert(locksAndMoves.isEmpty, "the log entry is the only commit point — " +
      s"no lock, no rename:\n${locksAndMoves.mkString("\n")}")
    val loops = hits("""contended|while \(true\)""", isTable)
    assert(loops.size == 1, s"expected ONE retry loop (retrying):\n${loops.mkString("\n")}")
  }

  test("pruning metadata lives in the log entry and the version dir; pruning reads no data") {
    // the per-file `_stats` tables and the root-level `_bloom/<col>/v=N`
    // tree are gone: stats ride in the entry, position sets in
    // `<version dir>/_bloomsets`
    val layouts = hits("""(?<=["/])(?:_stats|_bloom/)""", _ => true)
    assert(layouts.isEmpty,
      s"`_stats` or `_bloom/` path in a string literal:\n${layouts.mkString("\n")}")
    val lines = sources.collectFirst { case (f, l) if f == tableFile => l }.get
    val start = lines.indexWhere(_.contains("private def survivors("))
    assert(start >= 0, s"no pruning helper `survivors` in $tableFile")
    val end = lines.indexWhere(_.startsWith("  /**"), start)
    val reads = (start until (if (end < 0) lines.size else end))
      .filter(i => lines(i).contains("spark.read"))
      .map(i => s"$tableFile:${i + 1}: ${lines(i).trim}")
    assert(reads.isEmpty,
      s"the pruning helper must not read data:\n${reads.mkString("\n")}")
  }

  test("broadcast guards go through ops/Guards.scala; no op keeps its own cap") {
    val counts = hits("""count\(\)\s*<""", _ != guardsFile)
    assert(counts.isEmpty,
      s"count() compared outside $guardsFile — use Guards.fits:\n" +
        counts.mkString("\n"))
    val caps = hits("""\b(va[lr]\s+\w*[Bb]roadcast\w*Cap\b|\w*[Bb]roadcast\w*Cap\s*:\s*Long)""",
      _ => true)
    assert(caps.isEmpty,
      s"broadcast cap constant or parameter — use Guards.Rows / Guards.keyed:\n" +
        caps.mkString("\n"))
  }
}
