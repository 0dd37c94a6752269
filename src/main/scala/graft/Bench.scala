package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entrypoint. Two-process shape: when launched under sbt (the
  * driver's invocation), the OUTER process jars the already-compiled
  * classes and re-executes itself via `spark-submit` so the timed runs
  * happen in a clean JVM — sbt's own JVM (classloaders, GC, supervisor
  * threads) was measured to inflate totals ~1.7× (SCALE.md: 17.3 s under
  * sbt vs the 10.4 s spark-submit floor). The INNER process (marked by
  * GRAFT_BENCH_INNER=1) does the actual timing and writes bench_out.json;
  * the outer relays the JSON line to stdout. Any failure in the outer
  * path falls back to timing in-process, so the bench can never go dark.
  * A query that throws gets no time: it is listed under `failed`, left
  * out of both totals, and the process exits non-zero after the line is
  * written.
  */
object Bench {
  private val InnerFlag = "GRAFT_BENCH_INNER"
  private val NoFailures = "\"failed\":[]"

  def main(args: Array[String]): Unit = {
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_out.json")
    if (sys.env.contains(InnerFlag)) { exitOnFailures(runBench(outPath)); return }
    // clear any previous run's metrics file up front — a crash mid-run
    // must leave NO file, not a stale one the driver would misattribute
    try java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(outPath))
    catch { case _: Throwable => () }
    exitOnFailures(reexecViaSparkSubmit(outPath).getOrElse(runBench(outPath)))
  }

  private def exitOnFailures(line: String): Unit =
    if (!line.contains(NoFailures)) sys.exit(1)

  /** Jar the compiled classes and run the inner bench under spark-submit.
    * Returns the JSON line iff the inner run produced bench_out.json (the
    * line is relayed to stdout for any stdout-parsing consumer).
    */
  private def reexecViaSparkSubmit(outPath: String): Option[String] = {
    import java.nio.file.{Files, Paths}
    try {
      val submitCmd = "/opt/spark/bin/spark-submit"
      if (!new java.io.File(submitCmd).canExecute) return None
      val classesDir = Seq("target/scala-2.13/classes", "/root/repo/target/scala-2.13/classes")
        .map(new java.io.File(_)).find(_.isDirectory).getOrElse(return None)
      val jarPath = Files.createTempFile("graft-bench-", ".jar")
      jarFromDir(classesDir, jarPath.toFile)
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val pb = new ProcessBuilder(
        submitCmd,
        "--master", s"local[$cpus]",
        "--driver-memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "48g"),
        "--class", "graft.Bench",
        jarPath.toString)
      pb.environment().put(InnerFlag, "1")
      pb.redirectErrorStream(true)
      pb.redirectOutput(ProcessBuilder.Redirect.to(new java.io.File("/tmp/graft_bench_inner.log")))
      val proc = pb.start()
      proc.waitFor()
      Files.deleteIfExists(jarPath)
      // Trust the FILE, not the exit code: the inner clears any previous
      // bench_out.json up front, so a present, well-formed file means the
      // timed runs completed — even if the JVM then died nonzero during
      // shutdown (or exited 1 over failed queries, which the line lists).
      // Falling back in that case would silently overwrite clean
      // spark-submit numbers with sbt-contaminated ones.
      Some(Paths.get(outPath)).filter(Files.isRegularFile(_))
        .map(f => new String(Files.readAllBytes(f), "UTF-8").trim)
        .filter(line => line.startsWith("{") && line.endsWith("}"))
        .map { line => println(line); line }
    } catch { case _: Throwable => None }
  }

  private def jarFromDir(dir: java.io.File, out: java.io.File): Unit = {
    import java.util.jar.{JarEntry, JarOutputStream}
    val jos = new JarOutputStream(new java.io.FileOutputStream(out))
    def walk(f: java.io.File, prefix: String): Unit =
      if (f.isDirectory) f.listFiles().foreach(c => walk(c, prefix + c.getName + (if (c.isDirectory) "/" else "")))
      else {
        jos.putNextEntry(new JarEntry(prefix))
        java.nio.file.Files.copy(f.toPath, jos)
        jos.closeEntry()
      }
    try walk(dir, "") finally jos.close()
  }

  /** The actual timed run — executes in whichever JVM hosts it. Returns
    * the JSON line it wrote. */
  private def runBench(outPath: String): String = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    try java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(outPath))
    catch { case _: Throwable => () }
    val spark = graft.core.GraftSession.local(cpus)
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 narrows the set for local iteration on
    // one query's floor; the driver never sets it, so its artifact always
    // covers the full bench set.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.benchQueries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown bench queries: " +
          s"${unknown.toSeq.sorted.mkString(", ")} (a typo here would " +
          s"otherwise write a silently empty bench artifact)")
    }
    val benchSet = only.fold(SparkEntry.benchQueries)(names =>
      SparkEntry.benchQueries.view.filterKeys(names).toMap)
    // Untimed warmup at the smallest SF: pays JIT/codegen/parquet-footer
    // costs once so the timed runs measure the engine, not JVM warmup.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      benchSet.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
    // Min over three timed runs (floor protocol): the box is shared with
    // the driver, so any single run can absorb a multi-second contention
    // spike (r2 recorded w8 at 28 s vs its 1.3 s steady state; r6's
    // three spark-submit runs spanned 32.9→23.7 s on identical plans).
    // The min measures the plan, and the recorded artifact IS the floor
    // — no separate floor run needed.
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // The FROZEN headline basket runs FIRST, in its frozen order — the
    // only readings compared across rounds (SCALE.md round-14 protocol:
    // full-suite totals track coverage growth, not engine speed). The
    // remaining queries follow in name order, as before.
    val headlineOrder = SparkEntry.headlineQueries.filter(benchSet.contains)
    val restOrder = benchSet.keySet.diff(headlineOrder.toSet).toSeq.sorted
    // ordered Seq, not a Map: the emitted per-query JSON keys stay in
    // run order (headline basket first, then name order), so bench
    // artifacts diff cleanly across runs
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val ordered = (headlineOrder ++ restOrder).flatMap { name =>
      val fn = benchSet(name)
      // drain accumulated state BETWEEN queries, outside the timed
      // section: prior queries' checkpoint/broadcast blocks are freed by
      // the ContextCleaner only after their DataFrames are GC'd, and
      // letting that debt collect until a full GC lands inside a later
      // query's timing was measured to inflate the LAST query (w8) up to
      // 7× on a loaded box
      System.gc()
      // a failure is recorded, never timed: time-to-exception would read
      // as a fast query
      try Some(name -> Seq.fill(3)(timeOnce(fn)).min)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
        failed += name
        None
      }
    }
    val results = ordered.toMap
    val qs = ordered.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (ordered.nonEmpty) ordered.map(_._2).sum else 0.0
    val headlineTimed = headlineOrder.flatMap(results.get)
    val headlineTotal = headlineTimed.sum
    // sentinel classes (SCALE.md quiet-box protocol iii): one reading per
    // drift class — scan-dominated (t5/j10/a1), shuffle-heavy (d5), and
    // tiny-window (w3, added round 15 after the r14 driver session read
    // w3/t5 at 2.6-2.9× with shuffle sentinels on floor) — surfaced in
    // the artifact header so a box phase is classified IN-SESSION
    // instead of post-hoc across rounds
    val sentinelNames =
      Seq("t5_token_topk", "j10_asof_join", "a1_customer_order_profile",
        "d5_simhash_pairs", "w3_sessionize")
        .filter(results.contains)
    val sentinels = sentinelNames
      .map(n => s"\"" + n + "\":" + results(n)).mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""headline_total":$headlineTotal,"headline_n":${headlineTimed.length},""" +
      s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""sentinels":$sentinels,""" +
      s""""queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // Also persist to a fixed path: sbt/Spark log noise buries the stdout
    // line, so the driver parses this file instead (VERDICT r1 item 2).
    try {
      val w = new java.io.PrintWriter(new java.io.File(outPath))
      try w.println(line) finally w.close()
    } catch { case _: Throwable => () }
    spark.stop()
    line
  }
}
