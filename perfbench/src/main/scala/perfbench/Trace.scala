package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer: recorded by the benchmark around the
 * call, never inside the engine. `op` ties every span of one
 * benchmark operation together; `parent` is the enclosing span (0 for
 * an operation's root). */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` is a plain call, so the
 * untraced run pays nothing for it. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var currentOp = 0L
  private var tracingOp = false

  /** Trace this operation? Traced runs alternate traced and untraced
   * operations so the same run measures the tracing overhead. */
  def beginOp(op: Long): Boolean = {
    currentOp = op
    tracingOp = enabled && op % 2 == 0
    tracingOp
  }
  def active: Boolean = tracingOp

  def span[T](layer: String, name: String)(body: => T): T =
    if (!tracingOp) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, currentOp, layer, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time per layer: each span's duration minus the part of it
   * its direct children cover (children never overlap: one thread). */
  def selfMsByLayer: Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    spans.groupBy(_.layer).view
      .mapValues(ss => ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum).toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      w.newLine()
    } finally w.close()
  }
}

/** Spark's own job/stage/task metrics, attributed to the benchmark
 * operation that ran them through the `perfbench.op` local property. */
final class JobListener extends SparkListener {
  final case class Job(op: Long, startMs: Long, var endMs: Long)
  final class TaskSums {
    var tasks = 0L
    var runMs = 0L
    var bytesRead = 0L
    var recordsRead = 0L
    var bytesWritten = 0L
    var recordsWritten = 0L
    var shuffleWriteBytes = 0L
    def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
      tasks += 1
      runMs += m.executorRunTime
      bytesRead += m.inputMetrics.bytesRead
      recordsRead += m.inputMetrics.recordsRead
      bytesWritten += m.outputMetrics.bytesWritten
      recordsWritten += m.outputMetrics.recordsWritten
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()
  val byOp = new ConcurrentHashMap[Long, TaskSums]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.OpKey)))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, Job(op, e.time, -1L))
    e.stageIds.foreach(s => stageOp.put(s, op))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op: Long = Option(stageOp.get(e.stageId)).map(_.longValue).getOrElse(-1L)
    if (op >= 0 && e.taskMetrics != null)
      byOp.computeIfAbsent(op, _ => new TaskSums).synchronized {
        byOp.get(op).add(e.taskMetrics)
      }
  }

  def jobsOf(op: Long): Seq[Job] = jobs.values.asScala.filter(_.op == op).toSeq
  def sumsOf(op: Long): Option[TaskSums] = Option(byOp.get(op))
}

object JobListener {
  val OpKey = "perfbench.op"

  /** Milliseconds covered by the union of the jobs' [start, end]. */
  def coveredMs(jobs: Seq[JobListener#Job]): Double = {
    val iv = jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => total += ce - cs }
    total.toDouble
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(kv.toMap)
}

/** Peak used heap over an interval, sampled every 10 ms. */
final class HeapSampler extends Thread("perfbench-heap") {
  setDaemon(true)
  @volatile private var running = true
  @volatile private var peak = 0L
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  override def run(): Unit = while (running) {
    peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
    Thread.sleep(10)
  }
  def stopAndPeak(): Long = {
    running = false
    join()
    peak
  }
}

/** A fixed amount of pure CPU work on four threads, timed: how fast the
 * machine runs at that moment, independent of the engine. */
object CpuProbe {
  private val Threads = 4
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(Threads, (r: Runnable) => {
    val t = new Thread(r, "perfbench-probe")
    t.setDaemon(true)
    t
  })
  @volatile private var sink = 0L

  private def spin(n: Int): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < n) {
      x ^= x << 13
      x ^= x >>> 7
      x ^= x << 17
      i += 1
    }
    x
  }

  def run(): Double = {
    val t0 = System.nanoTime()
    val fs = (0 until Threads).map(_ => pool.submit(() => spin(4000000)))
    sink += fs.map(_.get()).sum
    (System.nanoTime() - t0) / 1e6
  }
}
