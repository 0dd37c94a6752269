package graft

import java.nio.file.{DirectoryNotEmptyException, Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Fs

/** Contracts of the file-system seam that no storage-layer spec pins. */
class FsSpec extends AnyFunSuite {

  private def tmp(): Path = Files.createTempDirectory("graft_fs_")

  private def tree(root: Path, dirs: Int, files: Int): Unit =
    (0 until dirs).foreach { d =>
      val dir = Files.createDirectories(root.resolve(s"d$d/sub"))
      (0 until files).foreach(f => Files.writeString(dir.resolve(s"f$f"), "x"))
    }

  test("deleteTree: a missing path is a no-op; racing deletes of one tree both succeed") {
    val base = tmp()
    Fs.deleteTree(base.resolve("absent"))
    (1 to 5).foreach { round =>
      val root = base.resolve(s"r$round")
      tree(root, dirs = 40, files = 5)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val go = new java.util.concurrent.CountDownLatch(1)
      val threads = (1 to 3).map(_ => new Thread(() =>
        try { go.await(); Fs.deleteTree(root) }
        catch { case e: Throwable => errors.add(e) }))
      threads.foreach(_.start())
      go.countDown()
      threads.foreach(_.join())
      assert(errors.isEmpty, s"a concurrently vanishing entry failed deleteTree: $errors")
      assert(!Files.exists(root))
    }
    Fs.deleteTree(base)
  }

  test("deleteTree: files appearing mid-delete propagate DirectoryNotEmptyException") {
    val root = tmp()
    val dir = root.resolve("busy")
    val stop = new AtomicBoolean(false)
    val writer = new Thread(() => {
      var i = 0
      while (!stop.get()) {
        try { Files.createDirectories(dir); Files.writeString(dir.resolve(s"f$i"), "x") }
        catch { case _: java.io.IOException => () }
        i += 1
      }
    })
    writer.start()
    val deadline = System.currentTimeMillis() + 20000
    var seen = false
    try {
      while (!seen && System.currentTimeMillis() < deadline) {
        try Fs.deleteTree(root)
        catch { case _: DirectoryNotEmptyException => seen = true }
      }
    } finally { stop.set(true); writer.join() }
    assert(seen, "a writer racing deleteTree never surfaced DirectoryNotEmptyException")
    Fs.deleteTree(root)
  }

  test("writeAtomic: a reader sees the old content or the new, and no temp survives") {
    val dir = tmp()
    val p = dir.resolve("_pointer")
    val (a, b) = ("a" * 200000, "b" * 200000)
    Fs.writeAtomic(p, a)
    val stop = new AtomicBoolean(false)
    val torn = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val reader = new Thread(() =>
      while (!stop.get()) {
        val s = Files.readString(p)
        if (s != a && s != b) torn.add(s.length)
      })
    reader.start()
    try (1 to 200).foreach(i => Fs.writeAtomic(p, if (i % 2 == 0) a else b))
    finally { stop.set(true); reader.join() }
    assert(torn.isEmpty, s"reader saw partial contents of lengths ${torn.asScala.take(5)}")
    val left = Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(left == Seq("_pointer"), s"temp files left behind: $left")
    Fs.deleteTree(dir)
  }

  test("dataFiles: `_*` and `.*` files are skipped; keys are relative to the dir") {
    val dir = tmp()
    Seq("part-0.parquet", "_SUCCESS", ".part-0.parquet.crc",
      "p=1/part-1.parquet", "p=1/.hidden", "p=1/_committed")
      .foreach { f =>
        Files.createDirectories(dir.resolve(f).getParent)
        Files.writeString(dir.resolve(f), "x")
      }
    assert(Fs.dataFiles(dir) == Vector("p=1/part-1.parquet", "part-0.parquet"))
    assert(Fs.dataFiles(dir.resolve("absent")).isEmpty)
    Fs.deleteTree(dir)
  }

  test("sweepStale: a fresh file deep in a stale tree keeps it; `keep` is never swept") {
    val dir = tmp()
    val old = FileTime.fromMillis(System.currentTimeMillis() - 2L * 3600 * 1000)
    def stale(p: Path): Path = { Files.setLastModifiedTime(p, old); p }
    // live: every dir stale, one file three levels down fresh
    val deep = Files.createDirectories(dir.resolve("live/a/b"))
    Files.writeString(deep.resolve("part-0"), "fresh")
    Seq("live/a/b", "live/a", "live").foreach(d => stale(dir.resolve(d)))
    // dead: the whole subtree stale
    val dead = Files.createDirectories(dir.resolve("dead/a"))
    stale(Files.writeString(dead.resolve("junk"), "x"))
    stale(dead); stale(dir.resolve("dead"))
    // pinned: stale, but named by `keep`
    val pinned = stale(Files.createDirectories(dir.resolve("pinned")))
    Fs.sweepStale(dir, java.time.Duration.ofHours(1), keep = _ == pinned)
    assert(Files.exists(deep.resolve("part-0")), "swept a tree with a fresh file")
    assert(!Files.exists(dir.resolve("dead")), "kept a fully stale tree")
    assert(Files.exists(pinned), "swept a kept dir")
    Fs.deleteTree(dir)
  }
}
