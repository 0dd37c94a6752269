package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON encoding for the record: numbers, strings, booleans,
  * nulls, and sequences and maps of those. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** The run's record: one JSON object per line, kept in memory and written
  * once at the end. Times are seconds since the harness started. */
final class Log {
  private val t0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  private val lines = new ConcurrentLinkedQueue[String]()

  def now: Double = (System.nanoTime() - t0) / 1e9

  /** A Spark listener timestamp (epoch millis) on the same clock as `now`. */
  def fromWall(ms: Long): Double = (ms - wall0) / 1e3

  def add(kind: String, fields: (String, Any)*): Unit =
    lines.add(Json.obj(("t" -> kind) +: fields))

  def write(path: String): Unit =
    Files.write(Paths.get(path), lines.asScala.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
}

/** Spans around calls into the engine's modules, and the op context that
  * ties spans and Spark jobs to one benchmark operation.
  *
  * An op runs on one thread; its id and traced flag live in thread-locals
  * and in the SparkContext's thread-local properties, so every job the op
  * submits (including those of a streaming query it starts) carries them. */
final class Tracer(log: Log, sc: SparkContext) {
  private val spanIds = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val op = ThreadLocal.withInitial[String](() => "")
  private val traced = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  def withOp[T](id: String, tracedOp: Boolean)(body: => T): T = {
    val (prevOp, prevTraced) = (op.get, traced.get)
    op.set(id); traced.set(tracedOp)
    sc.setLocalProperty(Tracer.OpProp, id)
    sc.setLocalProperty(Tracer.TracedProp, if (tracedOp) "1" else "0")
    try body
    finally {
      op.set(prevOp); traced.set(prevTraced)
      sc.setLocalProperty(Tracer.OpProp, if (prevOp.isEmpty) null else prevOp)
      sc.setLocalProperty(Tracer.TracedProp, if (prevTraced) "1" else "0")
    }
  }

  /** Time `body` as span `name` (`layer.call`) when the current op is
    * traced; otherwise just run it. */
  def span[T](name: String)(body: => T): T =
    if (!traced.get) body
    else {
      val id = spanIds.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val start = log.now
      try body
      finally {
        val end = log.now
        stack.set(stack.get.tail)
        log.add("span", "id" -> id, "parent" -> parent, "name" -> name,
          "op" -> op.get, "start" -> start, "end" -> end)
      }
    }

  /** A count observed at a layer boundary of the current (traced) op. */
  def count(name: String, value: Double): Unit =
    if (traced.get) log.add("count", "name" -> name, "op" -> op.get,
      "value" -> value, "at" -> log.now)

  def isTraced: Boolean = traced.get
}

object Tracer {
  val OpProp = "perfbench.op"
  val TracedProp = "perfbench.traced"
}

/** Engine counters from Spark's listener bus, kept for traced ops only:
  * job spans, per-stage task-metric sums with the task-time spread, and
  * broadcast block sizes. */
final class EngineListener(log: Log) extends SparkListener {
  private final class StageAcc(val op: String) {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var output = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[String, StageAcc]()

  private def tracedOp(props: java.util.Properties): Option[String] =
    Option(props).filter(p => p.getProperty(Tracer.TracedProp) == "1")
      .flatMap(p => Option(p.getProperty(Tracer.OpProp)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    tracedOp(e.properties).foreach { op =>
      e.stageIds.foreach(s => stageOp.put(s, op))
      log.add("job", "id" -> e.jobId, "op" -> op, "start" -> log.fromWall(e.time))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    log.add("jobend", "id" -> e.jobId, "end" -> log.fromWall(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    if (op != null && e.taskMetrics != null) {
      val acc = stages.computeIfAbsent(s"${e.stageId}.${e.stageAttemptId}",
        _ => new StageAcc(op))
      val m = e.taskMetrics
      acc.synchronized {
        acc.tasks += 1
        acc.runMs += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.inputBytes += m.inputMetrics.bytesRead
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        acc.output += m.outputMetrics.bytesWritten
        acc.durations += e.taskInfo.duration
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val acc = stages.remove(s"${e.stageInfo.stageId}.${e.stageInfo.attemptNumber()}")
    if (acc != null) acc.synchronized {
      val d = acc.durations.sorted
      log.add("stage", "op" -> acc.op, "tasks" -> acc.tasks,
        "run_s" -> acc.runMs / 1e3, "cpu_s" -> acc.cpuNs / 1e9, "gc_s" -> acc.gcMs / 1e3,
        "input_bytes" -> acc.inputBytes, "shuffle_read_bytes" -> acc.shuffleRead,
        "shuffle_write_bytes" -> acc.shuffleWrite, "spill_bytes" -> acc.spill,
        "output_bytes" -> acc.output,
        "task_max_s" -> (if (d.isEmpty) 0.0 else d.last / 1e3),
        "task_median_s" -> (if (d.isEmpty) 0.0 else d(d.length / 2) / 1e3),
        "end" -> log.now)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isBroadcast && info.storageLevel.isValid)
      log.add("broadcast", "bytes" -> (info.memSize + info.diskSize), "at" -> log.now)
  }
}

/** Streaming progress (input vs processed rate) for micro-batches that run
  * inside traced ops; attributed to ops by time. */
final class StreamListener(log: Log) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    log.add("stream", "batch" -> p.batchId, "rows" -> p.numInputRows,
      "processed_rows_per_s" -> p.processedRowsPerSecond, "at" -> log.now)
  }
}
