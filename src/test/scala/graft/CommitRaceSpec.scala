package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.maint.VersionedTable

/** Two writer PROCESSES committing to one table — where no in-process
  * lock can help, so only the commit point itself can keep versions
  * distinct. Each child JVM (`local[1]`) builds its session, signals
  * ready, waits for a shared start file, then runs single-row
  * [[VersionedTable.append]]s; both start on an empty table, so the v0
  * bootstrap races too. Every version must be committed exactly once and
  * every acknowledged (writer, seq) row must be in the head. */
class CommitRaceSpec extends SparkSpec {
  private val Appends = 30
  private val Writers = Seq("a", "b")

  /** The test JVM's own `--add-opens` flags (Spark needs them on JDK 17),
    * in either the `--add-opens X` or the `--add-opens=X` spelling. */
  private def addOpens: Seq[String] = {
    val args = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toVector
    args.indices.flatMap { i =>
      if (args(i) == "--add-opens" && i + 1 < args.length) Seq(args(i), args(i + 1))
      else if (args(i).startsWith("--add-opens=")) Seq(args(i))
      else Nil
    }
  }

  private def awaitFile(p: Path, deadlineMs: Long): Boolean = {
    while (!Files.exists(p) && System.currentTimeMillis() < deadlineMs) Thread.sleep(20)
    Files.exists(p)
  }

  test("two writer JVMs: distinct versions, no acknowledged append lost") {
    val dir = Files.createTempDirectory("graft_race_")
    val root = dir.resolve("t").toString
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val children = Writers.map { w =>
      val cmd = Seq(java) ++ addOpens ++ Seq("-Xmx768m",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", System.getProperty("java.class.path"),
        "graft.CommitRaceWriter", root, w, dir.toString, Appends.toString)
      w -> new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
        .redirectOutput(dir.resolve(s"$w.log").toFile).start()
    }
    def log(w: String) =
      Files.readAllLines(dir.resolve(s"$w.log")).asScala.takeRight(30).mkString("\n")
    try {
      val deadline = System.currentTimeMillis() + 80000
      Writers.foreach { w =>
        assert(awaitFile(dir.resolve(s"ready-$w"), deadline),
          s"writer $w never became ready:\n${log(w)}")
      }
      Files.createFile(dir.resolve("start"))
      children.foreach { case (w, p) =>
        assert(p.waitFor(math.max(1L, deadline - System.currentTimeMillis()),
          TimeUnit.MILLISECONDS), s"writer $w timed out:\n${log(w)}")
        assert(p.exitValue == 0, s"writer $w failed:\n${log(w)}")
      }
    } finally children.foreach(_._2.destroyForcibly())

    val t = new VersionedTable(spark, root)
    assert(t.versions == (0L until Writers.size.toLong * Appends),
      s"versions must be 0..${Writers.size * Appends - 1}, each once: ${t.versions}")
    val rows = t.read().collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    val want = for (w <- Writers; i <- 0 until Appends) yield (w, i)
    assert(rows == want,
      s"lost: ${want.diff(rows).mkString(",")}; extra: ${rows.diff(want).mkString(",")}")
  }
}

/** One writer process of [[CommitRaceSpec]]:
  * `CommitRaceWriter <table root> <writer id> <signal dir> <appends>`. */
object CommitRaceWriter {
  def main(args: Array[String]): Unit = {
    val Array(root, writer, signals, n) = args
    try {
      val spark = SparkSession.builder().master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "1")
        .appName(s"commit-race-$writer")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      import spark.implicits._
      val t = new VersionedTable(spark, root)
      Files.createFile(Paths.get(signals, s"ready-$writer"))
      while (!Files.exists(Paths.get(signals, "start"))) Thread.sleep(5)
      (0 until n.toInt).foreach(i => t.append(Seq((writer, i)).toDF("writer", "seq")))
      spark.stop()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    // Spark leaves non-daemon threads behind; exit explicitly
    sys.exit(0)
  }
}
