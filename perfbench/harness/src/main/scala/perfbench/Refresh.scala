package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDateTime

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.maint.VersionedTable
import graft.ops.{IncrementalAgg, IvfIndex}
import graft.pipeline.Pipeline
import graft.quality.Quality
import graft.streaming.{MergeOps, Streams}

/** Open loop: one writer applies change batches due on a fixed schedule
  * (bronze -> silver -> gold, plus an events micro-batch through the
  * streaming merge sink), one reader issues reads due at a fixed rate.
  * Both are timed from their due time. */
final class Refresh(spark: SparkSession, log: Log, tracer: Tracer,
    a: Map[String, String]) {
  private val data = a("data")
  private val work = a("work")
  private val seed = a("seed").toLong
  private val trace = a("trace") == "1"
  private val interval = a("interval").toDouble
  private val rate = a("rate").toDouble
  private val warmBatches = a("warm_batches").toInt
  private val batches = a("batches").toInt
  private val keepLast = a("keep_last").toInt
  private val nCust = a("customers").toLong

  // every other batch is traced, counting back from the last one, which
  // compacts; the untraced ones are the base of trace.overhead_frac
  private def tracedBatch(j: Int) = trace && (batches - 1 - j) % 2 == 0

  private val tables = s"$work/tables"
  private def table(name: String) = new VersionedTable(spark, s"$tables/$name")
  private val Key = Seq("o_orderkey")
  private val Group = Seq("o_custkey")
  private val Value = "o_totalprice"
  private val rules = Seq(
    Quality.Rule("status_known", "o_orderstatus IN ('F', 'O', 'P')", Quality.Drop),
    Quality.Rule("price_positive", "o_totalprice > 0", Quality.Drop),
    Quality.Rule("key_present", "o_orderkey IS NOT NULL", Quality.Drop))

  private def batchFile(b: Int) = f"$data/orders_batch_$b%04d.parquet"
  private def eventsFile(b: Int) = f"$data/events_batch_$b%04d.parquet"
  private lazy val eventsSchema = spark.read.parquet(eventsFile(1)).schema
  // every order key the initial load or a batch carries: what lookups pick from
  private val keys = spark.read.parquet(s"$data/keys.parquet").collect().map(_.getLong(0))

  /** A listing of every file under the table roots with its size; the
    * bytes written between two listings are computed from these. */
  private def walk(batch: Int, phase: String): Unit =
    log.add("walk", "batch" -> batch, "phase" -> phase, "files" -> Fs.files(tables))

  // the merge sink's latest result: the live events table
  private var eventsLatest: DataFrame = _

  private def version(t: VersionedTable): Long =
    tracer.span("maint.versions")(t.latestVersion.get)

  private def setupOnce(rep: Int): Unit = tracer.withOp(s"setup$rep", trace) {
    Fs.delete(work + "/tables")
    val initial = spark.read.parquet(s"$data/orders_initial.parquet")
    table("bronze").append(initial, "initial")
    val silver = table("silver")
    silver.writeWithChangeFeed(initial.drop("_op"), Key, "initial")
    silver.buildBloomIndex("o_orderkey")
    table("gold_sum").write(IncrementalAgg.init(silver.read(), Group, Value), "initial")
    table("gold_minmax").write(IncrementalAgg.initMinMax(silver.read(), Group, Value), "initial")
    Files.createDirectories(Paths.get(s"$work/stream_src"))
  }

  /** One change batch through every layer; returns the time its gold
    * versions became readable. */
  private def applyBatch(b: Int): Double = {
    val bronze = table("bronze")
    val silver = table("silver")
    val goldSum = table("gold_sum")
    val goldMm = table("gold_minmax")
    val pipeline = new Pipeline(spark).table("orders_batch") { _ =>
      val res = tracer.span("quality.apply")(
        Quality.apply(spark.read.parquet(batchFile(b)), rules))
      require(res.failures.isEmpty, s"expectations failed: ${res.failures}")
      if (tracer.isTraced)
        tracer.count("quality.rows_dropped",
          res.metrics.agg(sum("failed_rows")).collect()(0).getLong(0).toDouble)
      res.clean
    }
    val clean = tracer.span("pipeline.run")(pipeline.run())("orders_batch")
      .localCheckpoint(true)
    tracer.span("maint.commit")(bronze.append(clean))
    val current = tracer.span("maint.read")(silver.read(Some(version(silver))))
    val merged = tracer.span("ops.upsert")(
      MergeOps.upsertLatestWins(current.withColumn("_op", lit("I")), clean, Key, "_seq")
        .filter(col("_op") =!= "D").drop("_op").localCheckpoint(true))
    val v = tracer.span("maint.commit")(silver.writeWithChangeFeed(merged, Key, s"batch-$b"))
    log.add("version", "table" -> "silver", "version" -> v, "batch" -> b)
    val feed = tracer.span("maint.read")(silver.changeFeed(v))
    val base = tracer.span("maint.read")(silver.read(Some(v)))
    val sumState = tracer.span("ops.incremental_agg")(
      IncrementalAgg.applyDelta(goldSum.read(), feed, Group, Value).localCheckpoint(true))
    val gs = tracer.span("maint.commit")(goldSum.write(sumState, s"batch-$b"))
    val mmState = tracer.span("ops.incremental_agg")(
      IncrementalAgg.applyDeltaMinMax(goldMm.read(), feed, Group, Value, base)
        .localCheckpoint(true))
    val gm = tracer.span("maint.commit")(goldMm.write(mmState, s"batch-$b"))
    val fresh = log.now
    log.add("version", "table" -> "gold_sum", "version" -> gs, "batch" -> b)
    log.add("version", "table" -> "gold_minmax", "version" -> gm, "batch" -> b)
    walk(b, "commit")

    Files.copy(Paths.get(eventsFile(b)), Paths.get(f"$work/stream_src/part-$b%04d.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    eventsLatest = tracer.span("streaming.merge_sink")(Streams.runMergeSink(
      spark.readStream.schema(eventsSchema).parquet(s"$work/stream_src"),
      s"$tables/events_latest", Seq("user_id"), "event_id", s"$work/stream_ckpt"))
    // after the last batch's gold commit, while the reader still runs: a
    // compaction inside the schedule made a 3-batch freshness median
    // bimodal, since whether it delayed the next batch depended on the host
    if (b == warmBatches + batches) {
      val c = tracer.span("maint.compact")(silver.compact())
      log.add("version", "table" -> "silver", "version" -> c, "batch" -> b)
      walk(b, "compact")
      val removed = tracer.span("maint.vacuum")(silver.vacuum(keepLast))
      log.add("vacuum", "batch" -> b, "removed" -> removed)
    }
    fresh
  }

  private def runBatch(b: Int, due: Double, traced: Boolean, phase: String,
      backlog: Int): Unit = {
    val op = s"b$b"
    tracer.withOp(op, traced) {
      val start = log.now
      val (fresh, err) =
        try (applyBatch(b), None)
        catch { case e: Throwable => (Double.NaN, Some(e.toString)) }
      log.add("op", "id" -> op, "kind" -> "batch", "name" -> "batch", "unit" -> b,
        "phase" -> phase, "traced" -> traced, "due" -> due, "start" -> start,
        "fresh" -> fresh, "end" -> log.now, "ok" -> err.isEmpty, "error" -> err,
        "backlog" -> backlog)
    }
    walk(b, "end")
  }

  private val orderCols = Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
    col("o_totalprice"), date_format(col("o_orderdate"), "yyyy-MM-dd"),
    col("o_orderpriority"))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map((r: Row) => r.toSeq.map {
      case d: java.math.BigDecimal => d.toPlainString
      case x => x
    })

  /** One read; returns (table, version, args, result rows). */
  private def read(kind: String, rnd: Random)
      : (String, Long, Seq[Any], Seq[Seq[Any]]) = {
    val silver = table("silver")
    kind match {
      case "point" =>
        val k = keys(rnd.nextInt(keys.length))
        val v = version(silver)
        val df = tracer.span("maint.read")(silver.readFiltered(s"o_orderkey = $k", Some(v)))
        ("silver", v, Seq(k), rows(df.select(orderCols: _*)))
      case "range" =>
        val lo = LocalDateTime.of(1995, 1, 1, 0, 0).plusDays(rnd.nextInt(2300).toLong)
        val hi = lo.plusDays(30)
        val v = version(silver)
        val df = tracer.span("maint.read")(silver.readWhere("o_orderdate", lo, hi, Some(v)))
        val out = rows(df.agg(count(lit(1)),
          sum(round(col("o_totalprice") * 100).cast("long"))))
        ("silver", v, Seq(lo.toLocalDate.toString, hi.toLocalDate.toString), out)
      case "timetravel" =>
        val k = keys(rnd.nextInt(keys.length))
        val v = math.max(0L, version(silver) - 1 - rnd.nextInt(2))
        val df = tracer.span("maint.read")(silver.read(Some(v)))
        ("silver", v, Seq(k),
          rows(df.filter(col("o_orderkey") === k).select(orderCols: _*)))
      case "gold" =>
        val gold = table("gold_sum")
        val c = rnd.nextLong(nCust)
        val v = version(gold)
        val df = tracer.span("maint.read")(gold.read(Some(v)))
        ("gold_sum", v, Seq(c),
          rows(df.filter(col("o_custkey") === c).select("o_custkey", "cnt", "agg_sum")))
    }
  }

  // the read mix is the benchmark's choice, not taken from a trace: point
  // lookups are two in every five
  private val Kinds = Seq("point", "range", "point", "timetravel", "gold")

  private def runRead(i: Int, due: Double, traced: Boolean, phase: String,
      backlog: Int): Unit = {
    val op = s"r$i"
    val rnd = new Random(seed * 7919L + i)
    val kind = Kinds(Math.floorMod(i, Kinds.length))
    tracer.withOp(op, traced) {
      val start = log.now
      val res =
        try Right(read(kind, rnd))
        catch { case e: Throwable => Left(e.toString) }
      val end = log.now
      val (tbl, v, args, out) = res.toOption.getOrElse(("", -1L, Nil, Nil))
      log.add("op", "id" -> op, "kind" -> "read", "name" -> kind, "unit" -> -1,
        "phase" -> phase, "traced" -> traced, "due" -> due, "start" -> start, "end" -> end,
        "ok" -> res.isRight, "error" -> res.left.toOption, "backlog" -> backlog,
        "table" -> tbl, "version" -> v, "args" -> args, "rows" -> out)
    }
  }

  private def sleepUntil(t: Double): Unit = {
    val ms = ((t - log.now) * 1000).toLong
    if (ms > 0) Thread.sleep(ms)
  }

  def run(): Unit = {
    for (rep <- 0 until a("setup_reps").toInt) {
      val t = log.now
      setupOnce(rep)
      log.add("setup", "rep" -> rep, "seconds" -> (log.now - t))
    }
    walk(0, "setup")
    // warm-up at the workload's own size: batches, with reads beside them
    val tw = log.now
    val warmReads = new Thread(() =>
      for (i <- 0 until Kinds.length) runRead(-1 - i, log.now, false, "warm", 0))
    warmReads.start()
    for (b <- 1 to warmBatches) runBatch(b, log.now, false, "warm", 0)
    warmReads.join()
    log.add("warmup", "seconds" -> (log.now - tw))

    val t0 = log.now
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
    def thread(name: String)(body: => Unit): Thread = {
      val th = new Thread(() => try body catch { case e: Throwable => errors.add(e) }, name)
      th.start()
      th
    }
    val writer = thread("perfbench-writer") {
      try for (j <- 0 until batches) {
        val due = t0 + j * interval
        sleepUntil(due)
        val backlog = ((log.now - t0) / interval).toInt - j
        runBatch(warmBatches + 1 + j, due, tracedBatch(j), "measure",
          math.max(0, backlog))
      } finally writing.set(false)
    }
    // reads go on until the last batch, its compaction included, is done
    val reader = thread("perfbench-reader") {
      var i = 0
      while (writing.get) {
        val due = t0 + i / rate
        sleepUntil(due)
        if (writing.get) {
          val backlog = ((log.now - t0) * rate).toInt - i
          val traced = tracedBatch(((due - t0) / interval).toInt)
          runRead(i, due, traced, "measure", math.max(0, backlog))
        }
        i += 1
      }
    }
    writer.join()
    reader.join()
    if (!errors.isEmpty) throw errors.peek()
    log.add("window", "start" -> t0, "end" -> log.now)
    for (j <- 0 until batches)
      log.add("unit", "id" -> (warmBatches + 1 + j), "kind" -> "batch",
        "traced" -> tracedBatch(j))

    // end state: bytes stored, and one compact write of each live table
    log.add("stored", "bytes" -> Fs.bytes(tables))
    val live = Seq(
      "bronze" -> table("bronze").read(),
      "silver" -> table("silver").read(),
      "gold_sum" -> table("gold_sum").read(),
      "gold_minmax" -> table("gold_minmax").read(),
      "events_latest" -> eventsLatest)
    live.foreach { case (name, df) =>
      val dir = s"$work/check/$name"
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      log.add("compact", "table" -> name, "dir" -> dir, "bytes" -> Fs.bytes(dir))
    }

    // the traced run's microbenchmarks, over the same corpus sample as the
    // other workload's, so that every per-layer figure is measured here too
    if (trace) {
      val root = tracer.withOp("micro", true)(
        tracer.span("ops.ivf_build")(IvfIndex.ensure(spark, data)))
      Micro.measure(spark, log, data, seed, root)
      Fs.delete(root)
    }
  }
}
