package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.graftperf.BusDrain
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{GraftExtensions, SparkEntry}
import graft.etl.{Checkpoints, Scratch}
import graft.streaming.WarmRuns

/** Closed-loop gate benchmark with one client: runs the named
  * `SparkEntry` gates one after another in one Spark session set up as
  * `graft.Bench` sets it up, and writes one JSON record per run.
  *
  * Each execution is timed from outside in four spans: `build` (the
  * gate's builder), `plan` (`QueryExecution.executedPlan`), `action`
  * (`queryExecution.toRdd.count()`, which computes every output column
  * and the final ordering) and `sweep` (`Checkpoints.sweep` and
  * `Scratch.sweep`). Row counts are recorded, not checked: the caller
  * compares them with counts it got from the DuckDB oracle.
  *
  * After one untimed warm-up pass, `--passes` timed passes each run
  * every gate once, in an order drawn from `--seed`. With `--trace 1`
  * about half the passes are traced: task, stage, streaming and planning
  * counters are attached to each execution. The other passes stay
  * untraced, so the two kinds of pass in one run give the tracing
  * overhead. Traced and untraced passes sit equally early on average,
  * because later passes run on a warmer JIT. Options: `--data DIR
  * --gates a,b,c --seed N --passes P --trace 0|1 --out FILE
  * --spawn-ms EPOCH_MS --work DIR [--cpus N]`. */
object GateBench {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val gates = opt("gates").split(',').toSeq
    val seed = opt("seed").toLong
    val passCount = opt("passes").toInt
    val trace = opt("trace") == "1"
    val cpus = opt.getOrElse("cpus", Runtime.getRuntime.availableProcessors().toString)
    val unknown = gates.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown gates: ${unknown.mkString(",")}")

    val t0 = Clock.ms
    val spark = session(cpus, opt("work"))
    val t1 = Clock.ms
    GraftExtensions.register(spark)
    val t2 = Clock.ms
    val sc = spark.sparkContext
    val jobs = new JobClock
    sc.addSparkListener(jobs)
    WarmRuns.enabled = false // cold comparable passes, as in graft.Bench

    val bench = new Runner(spark, data)
    val warmup = new Random(seed).shuffle(gates.sorted).map(g => bench.run(g, -1, traced = false))
    val first = Clock.ms
    val setupCodegen = Counters.sample()
    val passes = (0 until passCount).map { p =>
      val traced = trace && isTraced(p, passCount)
      val tasks = new TaskTotals
      val streams = new StreamTriggers
      if (traced) { sc.addSparkListener(tasks); sc.addSparkListener(streams) }
      val h0 = Host.sample()
      val start = Clock.ms
      val execs = new Random(seed * 7919 + p).shuffle(gates.sorted).map(g => bench.run(g, p, traced))
      val end = Clock.ms
      if (traced) {
        BusDrain(sc)
        sc.removeSparkListener(tasks)
        sc.removeSparkListener(streams)
      }
      Pass(p, traced, start, end, h0, Host.sample(), execs, tasks, streams)
    }
    val peakRssMb = Host.vmHwmKb() / 1024.0
    val restart =
      if (trace) bench.restartTimes(passes.flatMap(_.execs).filter(_.warmCapable).map(_.gate).distinct)
      else Map.empty[String, Double]
    BusDrain(sc)

    val passJson = passes.map { p =>
      val execs = p.execs.map { e =>
        e.fields ++= jobs.attribute(e)
        if (p.traced) e.fields ++= p.tasks.attribute(e, jobs) ++ p.streams.attribute(e)
        e.json
      }
      Json.obj("pass" -> p.index, "traced" -> p.traced, "start_ms" -> p.start,
        "end_ms" -> p.end, "host_before" -> p.h0.json, "host_after" -> p.h1.json,
        "execs" -> execs)
    }
    val spans = if (trace) passes.filter(_.traced).flatMap(p => p.execs.flatMap(e =>
      e.spans ++ jobs.spans(e) ++ p.streams.spans(e))) else Nil
    val record = Json.obj(
      "gates" -> gates, "seed" -> seed, "trace" -> trace,
      "cpus" -> cpus.toInt, "config" -> config(spark),
      "setup" -> Json.obj("spawn_ms" -> opt("spawn-ms").toLong, "main_start_ms" -> t0,
        "session_s" -> (t1 - t0) / 1e3, "register_s" -> (t2 - t1) / 1e3,
        "warmup_s" -> (first - t2) / 1e3, "first_timed_ms" -> first,
        "compile_s" -> setupCodegen("compile_s"), "compiles" -> setupCodegen("compiles")),
      "warmup" -> warmup.map(e => Json.obj("gate" -> e.gate, "s" -> e.latency,
        "rows" -> e.rows, "error" -> e.error)),
      "passes" -> passJson, "restart_s" -> restart, "peak_rss_mb" -> peakRssMb,
      "spans" -> spans)
    Files.write(Paths.get(opt("out")), Json.render(record).getBytes("UTF-8"))
    spark.stop()
  }

  /** Odd counts trace passes 0, 2, 4, ...; even counts trace 1, 2, 5, 6, ... */
  def isTraced(p: Int, n: Int): Boolean =
    if (n % 2 == 1) p % 2 == 0 else p % 4 == 1 || p % 4 == 2

  /** `graft.Bench`'s session, plus the scratch locations a benchmark
    * checkout needs; `spark.ui.enabled` and the time zone are also the
    * JVM properties `build.sbt` passes to `graft.Bench`. */
  def session(cpus: String, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The settings a run used: every set SQL conf, the static Spark
    * conf without per-run identifiers, and the JVM heap. */
  def config(spark: SparkSession): Map[String, String] = {
    val perRun = Set("spark.app.id", "spark.app.name", "spark.app.startTime", "spark.driver.port",
      "spark.driver.host", "spark.executor.id", "spark.app.submitTime")
    (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll)
      .filterNot { case (k, _) => perRun(k) } +
      ("jvm.max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString) +
      ("graft.warm_runs" -> WarmRuns.enabled.toString)
  }

  final case class Pass(index: Int, traced: Boolean, start: Double, end: Double,
      h0: Host, h1: Host, execs: Seq[Exec], tasks: TaskTotals, streams: StreamTriggers)
}

/** Wall clock in epoch milliseconds with nanosecond steps, so spans
  * line up with listener event times (epoch ms) and still resolve
  * sub-millisecond durations. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One gate execution: its four span boundaries (epoch ms), result,
  * host samples, and counters attached after the pass. */
final class Exec(val gate: String, val pass: Int) {
  var start, buildEnd, planEnd, actionEnd, end = 0.0
  var rows = -1L
  var error = ""
  var warmCapable = false
  var h0, h1: Host = _
  val fields = mutable.LinkedHashMap.empty[String, Any]

  def latency: Double = (actionEnd - start) / 1e3
  def children: Seq[(String, Double, Double)] = Seq(("build", start, buildEnd),
    ("plan", buildEnd, planEnd), ("action", planEnd, actionEnd), ("sweep", actionEnd, end))
  def id: String = s"$pass/$gate"

  def spans: Seq[Map[String, Any]] =
    Json.obj("id" -> id, "parent" -> null, "name" -> gate, "start_ms" -> start, "end_ms" -> end) +:
      children.map { case (n, s, e) =>
        Json.obj("id" -> s"$id/$n", "parent" -> id, "name" -> n, "start_ms" -> s, "end_ms" -> e)
      }

  /** The child span open at `t`, or None outside this execution. */
  def childAt(t: Double): Option[String] =
    children.collectFirst { case (n, s, e) if s <= t && t < e => n }

  def json: Map[String, Any] = Json.obj(
    "gate" -> gate, "start_ms" -> start, "build_s" -> (buildEnd - start) / 1e3,
    "plan_s" -> (planEnd - buildEnd) / 1e3, "action_s" -> (actionEnd - planEnd) / 1e3,
    "sweep_s" -> (end - actionEnd) / 1e3, "rows" -> rows, "error" -> error,
    "host_before" -> h0.json, "host_after" -> h1.json,
    "steal_share" -> Host.stealShare(h0, h1)) ++ fields
}

final class Runner(spark: SparkSession, data: String) {

  def run(gate: String, pass: Int, traced: Boolean): Exec = {
    val e = new Exec(gate, pass)
    val before = if (traced) Counters.sample() else Map.empty[String, Double]
    val puts = WarmRuns.putAttempts
    e.h0 = Host.sample()
    e.start = Clock.ms
    try {
      val df = SparkEntry.queries(gate)(spark, data)
      e.buildEnd = Clock.ms
      val qe = df.queryExecution
      qe.executedPlan
      e.planEnd = Clock.ms
      e.rows = qe.toRdd.count()
      e.actionEnd = Clock.ms
      if (traced) e.fields ++= Counters.planning(qe.tracker)
    } catch {
      case t: Throwable =>
        val now = Clock.ms
        if (e.buildEnd == 0) e.buildEnd = now
        if (e.planEnd == 0) e.planEnd = now
        e.actionEnd = now
        e.rows = -1
        e.error = t.toString.take(300)
    }
    e.warmCapable = WarmRuns.putAttempts > puts
    if (traced) e.fields("scratch_bytes") = Counters.scratchBytes()
    sweep()
    e.end = Clock.ms
    e.h1 = Host.sample()
    if (traced) {
      val after = Counters.sample()
      after.foreach { case (k, v) => e.fields(k) = v - before(k) }
    }
    e
  }

  def sweep(): Unit = {
    Checkpoints.sweep(spark)
    Scratch.sweep()
  }

  /** `graft.Bench`'s restart measurement: with warm reuse on, one cold
    * run registers the stream's checkpoint, then the second run is timed
    * as a restart from it. Runs after the timed passes. */
  def restartTimes(gates: Seq[String]): Map[String, Double] = {
    WarmRuns.enabled = true
    try gates.map { g =>
      val sec =
        try {
          SparkEntry.queries(g)(spark, data).queryExecution.toRdd.count()
          val t0 = Clock.ms
          SparkEntry.queries(g)(spark, data).queryExecution.toRdd.count()
          (Clock.ms - t0) / 1e3
        } catch { case _: Throwable => -1.0 }
      sweep()
      g -> sec
    }.toMap
    finally WarmRuns.enabled = false
  }
}

/** Process-wide counters read before and after each traced execution. */
object Counters {
  def sample(): Map[String, Double] = Map(
    "compile_s" -> CodeGenerator.compileTime / 1e9,
    "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
    "file_cache_hits" -> HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount.toDouble)

  /** Phase times of the gate's own QueryExecution and the time and
    * invocations of graft's optimizer rules in it. */
  def planning(t: org.apache.spark.sql.catalyst.QueryPlanningTracker): Map[String, Any] = {
    def phase(p: String) = t.phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    val graft = t.rules.filter(_._1.startsWith("graft.")).values
    Map("analysis_s" -> phase("analysis"), "optimization_s" -> phase("optimization"),
      "planning_s" -> phase("planning"),
      "graft_rules_s" -> graft.map(_.totalTimeNs).sum / 1e9,
      "graft_rule_runs" -> graft.map(_.numInvocations).sum,
      "graft_rule_effective" -> graft.map(_.numEffectiveInvocations).sum)
  }

  /** Bytes under the managed scratch roots (`java.io.tmpdir/graft-scratch*`). */
  def scratchBytes(): Long = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def size(p: Path): Long = {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(f =>
        try Files.size(f) catch { case _: java.io.IOException => 0L }).sum
      finally s.close()
    }
    val roots = Files.list(tmp)
    try roots.iterator().asScala.filter(_.getFileName.toString.startsWith("graft-scratch"))
      .map(size).sum
    finally roots.close()
  }
}

/** Job start and end times, always on: gives every execution its job
  * count and the share of its wall time with no job running. */
final class JobClock extends SparkListener {
  private val starts = new ConcurrentHashMap[Int, (Long, Seq[Int])]
  private val ends = new ConcurrentHashMap[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    starts.put(e.jobId, (e.time, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)

  /** (jobId, start, end, stages) of jobs that started inside `e`. */
  def of(e: Exec): Seq[(Int, Double, Double, Seq[Int])] =
    starts.asScala.toSeq.collect {
      case (id, (s, st)) if e.start <= s && s < e.end =>
        (id, s.toDouble, ends.asScala.get(id).map(_.toDouble).getOrElse(e.end), st)
    }.sortBy(_._2)

  def attribute(e: Exec): Map[String, Any] = {
    val js = of(e)
    val busy = Intervals.covered(js.map(j => (j._2, j._3)), e.start, e.actionEnd)
    Map("jobs" -> js.size,
      "build_jobs" -> js.count(j => e.childAt(j._2).contains("build")),
      "driver_gap_s" -> ((e.actionEnd - e.start) - busy) / 1e3,
      "self_s" -> e.children.map { case (n, s, t) =>
        n -> ((t - s) - Intervals.covered(js.map(j => (j._2, j._3)), s, t)) / 1e3
      }.toMap)
  }

  def spans(e: Exec): Seq[Map[String, Any]] = of(e).map { case (id, s, t, _) =>
    Json.obj("id" -> s"${e.id}/job$id", "parent" -> s"${e.id}/${e.childAt(s).getOrElse("sweep")}",
      "name" -> "job", "start_ms" -> s, "end_ms" -> t)
  }
}

/** Task metrics summed per stage, and stage counts, for traced passes. */
final class TaskTotals extends SparkListener {
  // tasks, duration, run, cpu, gc, shuffle write, shuffle read, fetch wait, spill, input, output
  private val byStage = new ConcurrentHashMap[Int, Array[Double]]
  private val stagesDone = ConcurrentHashMap.newKeySet[Int]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = byStage.computeIfAbsent(e.stageId, _ => new Array[Double](11))
      val sr = m.shuffleReadMetrics
      val v = Array(1.0, e.taskInfo.duration.toDouble, m.executorRunTime.toDouble,
        m.executorCpuTime / 1e6, m.jvmGCTime.toDouble, m.shuffleWriteMetrics.bytesWritten.toDouble,
        (sr.remoteBytesRead + sr.localBytesRead).toDouble, sr.fetchWaitTime.toDouble,
        m.diskBytesSpilled.toDouble, m.inputMetrics.bytesRead.toDouble,
        m.outputMetrics.bytesWritten.toDouble)
      a.synchronized { v.indices.foreach(i => a(i) += v(i)) }
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesDone.add(e.stageInfo.stageId)

  def attribute(e: Exec, jobs: JobClock): Map[String, Any] = {
    val stages = jobs.of(e).flatMap(_._4).distinct
    val t = new Array[Double](11)
    stages.flatMap(s => Option(byStage.get(s))).foreach(a => a.indices.foreach(i => t(i) += a(i)))
    Map("stages" -> stages.count(stagesDone.contains), "tasks" -> t(0).toLong,
      "task_overhead_s" -> (t(1) - t(2)) / 1e3, "run_s" -> t(2) / 1e3, "cpu_s" -> t(3) / 1e3,
      "gc_s" -> t(4) / 1e3, "shuffle_write_bytes" -> t(5).toLong,
      "shuffle_read_bytes" -> t(6).toLong, "fetch_wait_s" -> t(7) / 1e3,
      "spill_disk_bytes" -> t(8).toLong, "input_bytes" -> t(9).toLong,
      "output_bytes" -> t(10).toLong)
  }
}

/** Streaming progress events of traced passes: trigger and commit times.
  * Read off the shared listener bus, so streams that gates run on child
  * sessions are seen too. */
final class StreamTriggers extends SparkListener {
  private val events = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double, Double)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case q: StreamingQueryListener.QueryProgressEvent =>
      val p = q.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
      events.add((java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        d.getOrElse("triggerExecution", 0.0),
        d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)))
    case _ =>
  }

  private def of(e: Exec) = events.asScala.toSeq.filter(x => e.start <= x._1 && x._1 < e.end)

  def attribute(e: Exec): Map[String, Any] = {
    val xs = of(e)
    Map("batches" -> xs.size, "trigger_s" -> xs.map(_._2).sum / 1e3,
      "commit_s" -> xs.map(_._3).sum / 1e3)
  }

  def spans(e: Exec): Seq[Map[String, Any]] = of(e).zipWithIndex.map { case ((s, d, _), i) =>
    Json.obj("id" -> s"${e.id}/trigger$i", "parent" -> s"${e.id}/${e.childAt(s).getOrElse("sweep")}",
      "name" -> "trigger", "start_ms" -> s, "end_ms" -> (s + d))
  }
}

/** Host condition: cumulative `/proc/stat` jiffies and `/proc/loadavg`. */
final case class Host(steal: Long, total: Long, load1: Double) {
  def json: Map[String, Any] = Json.obj("steal_jiffies" -> steal, "total_jiffies" -> total, "load1" -> load1)
}

object Host {
  def sample(): Host =
    try {
      val cpu = read("/proc/stat").linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      val load = read("/proc/loadavg").trim.split("\\s+").head.toDouble
      Host(if (cpu.length > 7) cpu(7) else 0L, cpu.take(8).sum, load)
    } catch { case _: Exception => Host(0L, 0L, 0.0) }
  def stealShare(a: Host, b: Host): Double =
    if (b.total > a.total) (b.steal - a.steal).toDouble / (b.total - a.total) else 0.0
  def vmHwmKb(): Double =
    try read("/proc/self/status").linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    catch { case _: Exception => 0.0 }
  private def read(p: String): String = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")
}

object Intervals {
  /** Length of the part of [from, to) covered by the union of `xs`. */
  def covered(xs: Seq[(Double, Double)], from: Double, to: Double): Double = {
    var total = 0.0
    var reach = from
    xs.map { case (s, e) => (math.max(s, from), math.min(e, to)) }.filter(x => x._1 < x._2)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = ListMap(kv: _*)
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
