package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** One benchmark operation as the client saw it. */
final case class OpRecord(id: Long, name: String, kind: String, ms: Double, ok: Boolean,
    userBytes: Long, traced: Boolean, pass: Int, timed: Boolean)

/** What an operation produced: compared against an expected value
 * computed by an independent path once the timed window is over. */
final case class Result(got: String, expected: () => String)

/** Per-operation layer observations, filled only for traced operations. */
final class OpTrace {
  var planMs: Double = Double.NaN
  var partitions: Int = -1
  var filesListed: Long = -1
  var newFiles: Long = 0
  var newFileBytes: Long = 0
}

/** The run's shared state: session, tracer, listener and the record of
 * every operation. Workloads call [[op]] for each client request. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val listener: Option[JobListener], val work: Path, corrupt: Boolean) {
  val ops = ArrayBuffer.empty[OpRecord]
  val traces = scala.collection.mutable.Map.empty[Long, OpTrace]
  val checks = ArrayBuffer.empty[(String, Boolean)]
  private val pending = ArrayBuffer.empty[(Int, Result)]
  private var nextOp = 0L
  var pass = 0
  /** Operations run while this is unset (the warm-up) are checked like
   * any other but left out of the timings. */
  var timing = true

  def traced: Boolean = tracer.active
  /** Where the run's generated input tables are. */
  def data: String = work.resolve("data").toString
  def current: OpTrace = traces.getOrElseUpdate(nextOp, new OpTrace)

  /** Run one timed operation. `dirs` are the table directories it may
   * write; a traced operation lists them before and after (outside the
   * timed interval) to count the files it produced. */
  def op(name: String, kind: String, userBytes: Long, dirs: Seq[String] = Nil)(
      body: => Option[Result]): OpRecord = {
    nextOp += 1
    val id = nextOp
    val tracing = tracer.beginOp(id)
    val before = if (tracing) Listing.sizes(dirs) else Map.empty[String, Long]
    spark.sparkContext.setLocalProperty(JobListener.OpKey, id.toString)
    val t0 = System.nanoTime()
    val outcome =
      try Right(tracer.span("bench", name)(body))
      catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    spark.sparkContext.setLocalProperty(JobListener.OpKey, null)
    if (tracing && dirs.nonEmpty) {
      val after = Listing.sizes(dirs)
      val added = after.keySet -- before.keySet
      current.newFiles = added.count(Listing.isData)
      current.newFileBytes = added.toSeq.map(after).sum
    }
    val ok = outcome match {
      case Left(e) =>
        System.err.println(s"[perfbench] op $id $name failed: $e")
        false
      case Right(Some(r)) =>
        pending += ((ops.length, r))
        true
      case Right(None) => true
    }
    val rec = OpRecord(id, name, kind, ms, ok, userBytes, tracing, pass, timing)
    ops += rec
    rec
  }

  /** A check made outside any timed operation (e.g. the final state). */
  def check(name: String)(ok: => Boolean): Unit = {
    val v = try ok catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] check $name failed: $e"); false }
    if (!v) System.err.println(s"[perfbench] check $name: MISMATCH")
    checks += ((name, v))
  }

  /** Compare every operation's result with its expected value. With
   * `corrupt`, the first result is altered first: the checker must
   * then count that operation as failed. */
  def resolve(): Unit = {
    pending.zipWithIndex.foreach { case ((i, r), n) =>
      val got = if (corrupt && n == 0) r.got + "#corrupted" else r.got
      val same = try got == r.expected() catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] expected value of ${ops(i).name} failed: $e"); false }
      if (!same) {
        System.err.println(s"[perfbench] op ${ops(i).id} ${ops(i).name}: MISMATCH got=${got.take(300)}")
        ops(i) = ops(i).copy(ok = false)
      }
    }
    pending.clear()
  }

  /** Run a SQL read through the DataFrame API. Traced, planning (the
   * executed plan plus its input partitions) and execution are separate
   * spans, and the planned partition count is recorded. */
  def collect(sqlText: String): Array[Row] = {
    val df = tracer.span("sources", "analyze")(spark.sql(sqlText))
    if (traced) {
      val t0 = System.nanoTime()
      val n = tracer.span("sources", "plan")(Ctx.inputPartitions(df.queryExecution.executedPlan))
      current.planMs = (System.nanoTime() - t0) / 1e6
      current.partitions = n
    }
    tracer.span("sources", "execute")(df.collect())
  }

  /** Run a statement (DML, DDL, maintenance) for its effect. */
  def exec(sqlText: String): Unit = tracer.span("sources", "statement") {
    spark.sql(sqlText).collect()
  }
}

object Ctx {
  /** Input partitions of every DSv2 scan in the plan. */
  def inputPartitions(plan: SparkPlan): Int = {
    val p = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case o => o
    }
    p.collect { case b: BatchScanExec => b.inputPartitions.size }.sum
  }

  /** Canonical text of a result: rows in sorted order. */
  def canon(rows: Array[Row]): String =
    rows.map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|"))
      .sorted.mkString("\n")
}

/** Filesystem counts, taken from directory listings only. */
object Listing {
  def walk(dirs: Seq[String]): Seq[Path] = dirs.map(Paths.get(_)).filter(Files.exists(_))
    .flatMap { d =>
      val s = Files.walk(d)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
    }
  def sizes(dirs: Seq[String]): Map[String, Long] =
    walk(dirs).map(p => p.toString -> Files.size(p)).toMap
  def isData(path: String): Boolean = {
    val n = Paths.get(path).getFileName.toString
    n.endsWith(".scbf") && !n.startsWith(".") && !path.contains(".scbf.discovery")
  }
  def isLog(path: String): Boolean = path.contains("/.scbf.discovery/")
  def bytes(dirs: Seq[String]): Long = sizes(dirs).values.sum
  def dataFiles(dirs: Seq[String]): Int = sizes(dirs).keys.count(isData)
}

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String, nproc: Int, corrupt: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"), m("out"), m("nproc").toInt, m.getOrElse("corrupt", "0") == "1")
  }

  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  private val t00 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%7.2f s  $msg")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val load1 = loadAvg()
    val work = Paths.get(o.work).toAbsolutePath
    Files.createDirectories(work.resolve("tmp"))
    val master = s"local[${o.nproc}]"
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", work.resolve("warehouse").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("graft.scratch.dir", work.resolve("scratch").toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (o.trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, new Tracer(o.trace), listener, work, o.corrupt)
    val rng = new scala.util.Random(o.seed)
    val wl: Workload = o.workload match {
      case "scan" => new ScanWorkload(ctx, o.seed, rng)
      case "ingest" => new IngestWorkload(ctx, o.seed, rng)
      case "mutate" => new MutateWorkload(ctx, rng)
      case "pipeline" => new PipelineWorkload(ctx, o.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    log("session up")
    val genS = {
      val t0 = System.nanoTime()
      val (sf, tables) = wl.inputs
      DataGen.write(spark, ctx.data, sf, o.seed, tables)
      (System.nanoTime() - t0) / 1e9
    }
    log("inputs generated")
    // set-up runs several times; its median is the reported set-up time
    val setups = (1 to Main.SetupReps).map { rep =>
      val t0 = System.nanoTime()
      wl.setup(rep)
      log(s"set-up $rep done")
      (System.nanoTime() - t0) / 1e9
    }
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (o.trace) layer ++= CodecProbe.run(ctx, CodecProbe.Fixture.standard(spark))
    ctx.timing = false
    val warmEnd = System.nanoTime() + (WarmupSeconds * 1e9).toLong
    var warmRounds = 0
    do {
      wl.step()
      if (wl.roundComplete) warmRounds += 1
    } while (System.nanoTime() < warmEnd || warmRounds < wl.warmRounds)
    wl.newRound()
    ctx.timing = true
    log("measuring")

    // how fast the machine runs right now, for comparing runs
    val probeMs = Inputs.median((1 to 20).map(_ => CpuProbe.run()))
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heap = new HeapSampler
    System.gc()
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    heap.start()
    val start = System.nanoTime()
    val deadline = start + (o.seconds * 1e9).toLong
    // the window ends with the last complete round of the workload's
    // operation mix, so every run times the same mix
    val first = ctx.ops.length
    var counted = first
    var end = start
    while (System.nanoTime() < deadline || counted == first) {
      wl.step()
      if (wl.roundComplete) {
        counted = ctx.ops.length
        end = System.nanoTime()
      }
    }
    for (i <- counted until ctx.ops.length) ctx.ops(i) = ctx.ops(i).copy(timed = false)
    val windowS = (end - start) / 1e9
    val gcMs = gcBeans.map(_.getCollectionTime).sum - gc0
    val heapPeakMb = heap.stopAndPeak() / 1048576.0

    log(s"measured ${ctx.ops.length} operations; checking")
    wl.finish()
    ctx.resolve()
    log("checked")
    val spaceAmp = wl.spaceAmp()
    val outputs = wl.outputs()
    spark.stop() // drains the listener bus, so every job and task is counted
    if (o.trace) {
      layer ++= wl.layerMetrics()
      layer("jvm.gc_ms") = gcMs.toDouble
      ctx.tracer.selfMsByLayer.foreach { case (l, ms) =>
        layer(s"self_ms.$l") = ms
      }
      layer ++= Main.overhead(ctx.ops.filter(_.timed).toSeq)
      ctx.tracer.writeJsonl(work.resolve("spans.jsonl"))
    }
    val json = Json.value(Map(
      "workload" -> o.workload, "seed" -> o.seed, "nproc" -> o.nproc, "master" -> master,
      "shuffle_partitions" -> o.nproc, "clients" -> 1, "loop" -> "closed", "load1_start" -> load1,
      "trace" -> o.trace, "setup_s" -> setups, "gen_s" -> genS, "window_s" -> windowS, "heap_peak_mb" -> heapPeakMb,
      "gc_ms" -> gcMs, "space_amp" -> spaceAmp, "outputs" -> outputs, "probe_ms" -> probeMs,
      "checks" -> ctx.checks.map { case (n, ok) => Map("name" -> n, "ok" -> ok) },
      "ops" -> ctx.ops.map(r => Map("id" -> r.id, "name" -> r.name, "kind" -> r.kind, "ms" -> r.ms,
        "ok" -> r.ok, "bytes" -> r.userBytes, "traced" -> r.traced, "pass" -> r.pass, "timed" -> r.timed)),
      "layer" -> layer.toMap))
    Files.writeString(Paths.get(o.out), json)
    log("done")
    // engine worker pools may hold non-daemon threads; do not wait on them
    sys.exit(0)
  }

  val SetupReps = 3
  /** Untimed operations before the window, warming the JIT and caches. */
  val WarmupSeconds = 1.5

  /** Tracing overhead from one traced run: traced operations alternate
   * with untraced ones, so per operation name the median of the traced
   * minus the median of the untraced is what tracing added. */
  def overhead(ops: Seq[OpRecord]): Map[String, Double] = {
    val pairs = ops.filter(_.ok).groupBy(_.name).values.flatMap { g =>
      val (t, u) = g.partition(_.traced)
      if (t.length >= 2 && u.length >= 2)
        Some((Inputs.median(t.map(_.ms)), Inputs.median(u.map(_.ms)), g.length))
      else None
    }.toSeq
    val n = pairs.map(_._3).sum.toDouble
    if (n == 0) Map("trace.overhead_ms" -> 0.0, "trace.overhead_pct" -> 0.0)
    else {
      val diff = pairs.map(p => (p._1 - p._2) * p._3).sum / n
      val base = pairs.map(p => p._2 * p._3).sum / n
      Map("trace.overhead_ms" -> diff, "trace.overhead_pct" -> 100.0 * diff / base)
    }
  }
}

/** A workload: set-up, one client step at a time, and a final check. */
trait Workload {
  /** Did the last step finish a round of the operation mix? */
  def roundComplete: Boolean = true
  /** Start the next step on a fresh round of the mix. */
  def newRound(): Unit = ()
  /** Complete rounds the warm-up runs at the least. */
  def warmRounds: Int = 0
  /** Scale factor and tables of the inputs generated once per run. */
  def inputs: (Double, Seq[String]) = (0.0, Nil)
  def setup(rep: Int): Unit
  def step(): Unit
  def finish(): Unit
  /** On-disk bytes per live user byte of the tables it owns, if any. */
  def spaceAmp(): Option[Double]
  /** Per-layer metrics only the traced run reports. */
  def layerMetrics(): Map[String, Double]
  /** Where outputs an outside checker compares were written, if any. */
  def outputs(): Map[String, String] = Map.empty
}
