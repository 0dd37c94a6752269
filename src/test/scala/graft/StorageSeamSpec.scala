package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard against re-forking the storage seam: each file-system mechanism
  * (recursive delete, atomic replace, tree copy, data-file listing,
  * stale sweep) has one implementation in `core/Fs.scala`, the manifest
  * format lives only in `maint/VersionedTable.scala`, and that table has
  * one commit critical section and one retry loop. The same scan keeps
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

  test("the manifest is named only in maint/VersionedTable.scala") {
    val found = hits(""""[^"]*_manifest[^"]*"""", _ != tableFile)
    assert(found.isEmpty,
      s"manifest path outside $tableFile — go through VersionedTable:\n" +
        found.mkString("\n"))
  }

  test("VersionedTable has one commit critical section and one retry loop") {
    val isTable = (f: String) => f == tableFile
    val appends = hits("""appendManifest\(""", isTable)
    assert(appends.size == 2, "expected appendManifest's definition and ONE " +
      s"call (in publishVersion):\n${appends.mkString("\n")}")
    val moves = hits("""Files\.move\(""", isTable)
    assert(moves.size == 2, "expected the data + stats renames of " +
      s"publishVersion only:\n${moves.mkString("\n")}")
    val loops = hits("""contended|while \(true\)""", isTable)
    assert(loops.size == 1, s"expected ONE retry loop (retrying):\n${loops.mkString("\n")}")
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
