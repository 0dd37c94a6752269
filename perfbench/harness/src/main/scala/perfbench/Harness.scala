package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{GraftSession, Tables}
import graft.ops.IvfIndex

/** The benchmark's engine process. It runs one workload against the
  * engine's public API and records every op, span and engine counter in
  * a JSON-lines file; `run.py` turns that record into metrics and checks
  * the outputs.
  *
  * Arguments are `key=value` pairs: workload, trace (0|1), seed,
  * cores, data (input dir), work (scratch dir owned by the run), out (the
  * record), plus the workload's own settings (see `run.py`). */
object Harness {
  def main(args: Array[String]): Unit = {
    val a = args.map { s =>
      val i = s.indexOf('=')
      require(i > 0, s"argument '$s' is not key=value")
      s.take(i) -> s.drop(i + 1)
    }.toMap
    val log = new Log
    val t = log.now
    val spark = GraftSession.local(a("cores").toInt)
    log.add("session", "seconds" -> (log.now - t))
    val trace = a("trace") == "1"
    if (trace) {
      spark.sparkContext.addSparkListener(new EngineListener(log))
      spark.streams.addListener(new StreamListener(log))
    }
    val tracer = new Tracer(log, spark.sparkContext)
    val ok =
      try {
        a("workload") match {
          case "refresh_mixed" => new Refresh(spark, log, tracer, a).run()
          case _ => new Closed(spark, log, tracer, a).run()
        }
        true
      } catch {
        case e: Throwable =>
          log.add("fatal", "error" -> e.toString)
          e.printStackTrace()
          false
      }
    log.add("rss", "vm_hwm_kb" -> Fs.vmHwmKb)
    log.add("end", "ok" -> ok)
    log.write(a("out"))
    spark.stop()
    if (!ok) sys.exit(1)
  }
}

/** File-system helpers for the benchmark's own directories. */
object Fs {
  def files(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def bytes(root: String): Long = files(root).values.sum

  def delete(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_: Path))
      finally s.close()
    }
  }

  /** Peak resident set of this JVM (VmHWM), in kB. */
  def vmHwmKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
}

/** Closed loop, one client: each of a fixed number of passes runs every
  * named query once, in a seed-shuffled order, and fully materializes it
  * with the noop sink. The queries probe the persisted IVF index, whose
  * cold build is set-up. */
final class Closed(spark: SparkSession, log: Log, tracer: Tracer,
    a: Map[String, String]) {
  private val data = a("data")
  private val work = a("work")
  private val names = a("queries").split(",").toSeq
  private val seed = a("seed").toLong
  private val trace = a("trace") == "1"
  private val defs = SparkEntry.allDefs

  require(names.forall(defs.contains),
    s"unknown queries: ${names.filterNot(defs.contains).mkString(",")}")

  private def build(name: String): DataFrame =
    tracer.span("queries.build")(defs(name).build(spark, data))

  /** Cold build of the IVF index the workload probes, after wiping the
    * previous build; repeated, and the median is the index part of set-up. */
  private def buildIndex(rep: Int, previous: Option[String]): String =
    tracer.withOp(s"setup$rep", trace) {
      previous.foreach(Fs.delete)
      tracer.span("ops.ivf_build")(IvfIndex.ensure(spark, data))
    }

  /** One query as an op: build it, then fully materialize it into the
    * noop sink, or, for the warm-up, into the parquet output that the
    * correctness check reads. */
  private def runQuery(op: String, name: String, unit: Int, traced: Boolean,
      phase: String, checkDir: Option[String] = None): Unit =
    tracer.withOp(op, traced) {
      val start = log.now
      val err =
        try {
          val df = build(name)
          tracer.span("queries.exec")(checkDir match {
            case Some(dir) => df.write.mode("overwrite").parquet(dir)
            case None => df.write.format("noop").mode("overwrite").save()
          })
          None
        } catch { case e: Throwable => Some(e.toString) }
      log.add("op", "id" -> op, "kind" -> "query", "name" -> name, "unit" -> unit,
        "phase" -> phase, "traced" -> traced, "due" -> start, "start" -> start,
        "end" -> log.now, "ok" -> err.isEmpty, "error" -> err)
      checkDir.foreach(dir => log.add("check", "name" -> name, "dir" -> dir,
        "ok" -> err.isEmpty, "error" -> err, "oracle" -> SparkEntry.oracleSql.get(name)))
    }

  def run(): Unit = {
    var root: Option[String] = None
    for (rep <- 0 until a("setup_reps").toInt) {
      val t = log.now
      root = Some(buildIndex(rep, root))
      log.add("setup", "rep" -> rep, "seconds" -> (log.now - t))
    }
    // warm-up at the workload's own size; its outputs are the ones checked
    val tw = log.now
    names.foreach(n => runQuery(s"warm:$n", n, -1, false, "warm", Some(s"$work/check/$n")))
    log.add("warmup", "seconds" -> (log.now - tw))

    // odd passes are traced; the untraced ones around them are the base of
    // trace.overhead_frac
    val t0 = log.now
    for (pass <- 0 until a("passes").toInt) {
      val traced = trace && pass % 2 == 1
      val ps = log.now
      new Random(seed * 1000003L + pass).shuffle(names)
        .foreach(n => runQuery(s"p$pass:$n", n, pass, traced, "measure"))
      log.add("unit", "id" -> pass, "kind" -> "pass", "traced" -> traced,
        "due" -> ps, "start" -> ps, "end" -> log.now)
    }
    log.add("window", "start" -> t0, "end" -> log.now)

    if (trace) Micro.measure(spark, log, data, seed, root.get)
    root.foreach(Fs.delete)
  }
}

/** The microbenchmarks of a traced run, on either workload: native kernel
  * throughput, and IvfIndex probe time on the e14 (IVF) and e16 (IVF-PQ)
  * query sets, every tenth indexed vector, as those queries choose them. */
object Micro {
  def measure(spark: SparkSession, log: Log, data: String, seed: Long, root: String): Unit = {
    Kernels.measure(spark, log, data, seed)
    val q = IvfIndex.cells(spark, root)
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("ne").as("q_ne"))
      .localCheckpoint(true)
    val times = (0 until 3).map { _ =>
      val t = System.nanoTime()
      IvfIndex.probeCandidates(spark, root, q).write.format("noop").mode("overwrite").save()
      IvfIndex.probeCandidatesPq(spark, root, q).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }.sorted
    log.add("micro", "name" -> "ops.ivf_probe_s", "value" -> times(1))
  }
}

/** Row throughput of the engine's native kernels (`functions/`), each run
  * alone through `selectExpr` into the noop sink over the corpus inputs,
  * replicated so a run is dominated by rows, not job start-up. */
object Kernels {
  private val Rows = 40000

  def measure(spark: SparkSession, log: Log, data: String, seed: Long): Unit = {
    val rnd = new Random(seed)
    def lit3(d1: Int, d2: Int, d3: Int): String =
      Seq.fill(d1)(Seq.fill(d2)(Seq.fill(d3)(f"${rnd.nextGaussian() * 0.25}%.6fD")
        .mkString("array(", ",", ")")).mkString("array(", ",", ")")).mkString("array(", ",", ")")
    val cbs = lit3(16, 16, 4)
    val lut = Seq.fill(16)(Seq.fill(16)(f"${rnd.nextGaussian()}%.6fD")
      .mkString("array(", ",", ")")).mkString("array(", ",", ")")
    val docs = Tables.documents(spark, data)
      .selectExpr("text", "tokenize_ws(text) AS toks")
      .selectExpr("text", "toks", "word_shingles(toks, 3) AS sh")
      .selectExpr("text", "toks", "sh",
        "sort_array(xx_minhash64(sh, 32)) AS a", "sort_array(xx_minhash64(sh, 24)) AS b")
    val vecs = Tables.embeddings(spark, data)
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS ne")
      .selectExpr("ne", s"pq_encode(ne, $cbs) AS codes")
    def replicate(df: DataFrame): DataFrame = {
      val n = df.count()
      val reps = math.max(1L, Rows / math.max(1L, n))
      df.crossJoin(spark.range(reps).toDF("_r")).drop("_r")
        .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
    }
    val d = replicate(docs)
    val v = replicate(vecs)
    val (dn, vn) = (d.count(), v.count())
    val kernels = Seq(
      ("tokenize_ws", d, dn, "tokenize_ws(text)"),
      ("word_shingles", d, dn, "word_shingles(toks, 3)"),
      ("xx_minhash64", d, dn, "xx_minhash64(sh, 64)"),
      ("winnow_fps", d, dn, "winnow_fps(sh, 4)"),
      ("sorted_intersect", d, dn, "sorted_intersect(a, b)"),
      ("vec_dot", v, vn, "vec_dot(ne, ne)"),
      ("pq_encode", v, vn, s"pq_encode(ne, $cbs)"),
      ("adc_score", v, vn, s"adc_score($lut, codes)"))
    kernels.foreach { case (k, df, n, e) =>
      val times = (0 until 3).map { _ =>
        val t = System.nanoTime()
        df.selectExpr(s"$e AS out").write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }.sorted
      log.add("micro", "name" -> s"functions.$k.rows_per_s", "value" -> n / times(1))
    }
  }
}
