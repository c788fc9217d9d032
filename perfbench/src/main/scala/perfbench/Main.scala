package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Benchmark process: one JVM, Spark `local[cores]`, one workload.
  *
  * {{{
  * perfbench.Main --workload ring_vwap --seed 7 --seconds 10 --trace 0 \
  *   --out <dir> [--fixture <catalog parquet dir>]
  * }}}
  *
  * Writes `<out>/result.json` (metrics, counts, checks, interference) and,
  * when traced, `<out>/spans.json`. `graph_loops` also writes its
  * correctness-pass outputs, with their oracle SQL, under `<out>/q/` for
  * the repository's oracle check (`tools/check.py`). */
object Main {

  /** Iterated-operator queries: PageRank (q262) and strongly connected
    * components (q349); then the two single-pass queries through which the
    * engine's own plan node (AsOfJoinExec, q129) and native functions
    * (LittleEndian, q47) can be timed. */
  val GraphLoops: Seq[String] = Seq(
    "q262_pagerank_train", "q349_scc_trade",
    "q129_asof_native", "q47_wire_roundtrip")

  // ring_vwap phases: open loop at RateA for the run's seconds, then a
  // saturation block
  val RateA = 2000.0
  val WarmSeconds = 4.0
  val SaturationBlock = 65536L
  val MaxRecords: Int = 1 << 20
  val DrainTimeoutMs = 60000L
  // graph_loops: passes of the query list in the timed window, at least
  // this many, more while the run's seconds have not elapsed
  val MinPasses = 5
  // graph_loops: untimed passes after the correctness pass
  val WarmPasses = 1

  final case class Result(
      e2e: Map[String, Double],
      attempted: Long,
      failed: Long,
      checks: Map[String, Boolean],
      info: Map[String, Any],
      stream: Option[StreamStats] = None,
      execs: Seq[QueryExec] = Seq.empty,
      catalog: Option[Catalog] = None)

  final class Ctx(val spark: SparkSession, val tracer: Tracer,
      val workloadKey: String, val seed: Long, val seconds: Double,
      val out: String, val fixture: String, val cores: Int,
      val jvmStartNs: Long, val buildMs: Double, val plans: PlanTrace) {
    var windowStart = 0L
    var windowEnd = 0L
    var setupEnd = 0L
    var proc0: Proc.Snapshot = _
    var proc1: Proc.Snapshot = _

    def openWindow(): Unit = {
      setupEnd = System.nanoTime()
      proc0 = Proc.snapshot()
      windowStart = System.nanoTime()
    }
    def closeWindow(): Unit = {
      windowEnd = System.nanoTime()
      proc1 = Proc.snapshot()
    }
    def setupS: Double = (setupEnd - jvmStartNs) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    val trace = need("trace") == "1"
    val out = need("out")
    Files.createDirectories(Paths.get(out))
    val uptimeMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    val jvmStartNs = System.nanoTime() - uptimeMs * 1000000L
    val tracer = new Tracer(trace)
    val runSpan = tracer.open("run", "run", "")
    val b0 = System.nanoTime()
    val spark = tracer.span("session.build", "session", runSpan.key) { _ =>
      GraftSession.build("perfbench")
    }
    val buildMs = (System.nanoTime() - b0) / 1e6
    val plans = new PlanTrace(tracer)
    if (trace) {
      spark.sparkContext.addSparkListener(new SparkTrace(tracer))
      spark.listenerManager.register(plans)
    }
    val wl = tracer.open(workload, "workload", runSpan.key)
    val ctx = new Ctx(spark, tracer, wl.key, need("seed").toLong,
      need("seconds").toDouble, out, opts.getOrElse("fixture", ""),
      spark.sparkContext.defaultParallelism, jvmStartNs, buildMs, plans)
    val code = try {
      val r = workload match {
        case "ring_vwap" => ringVwap(ctx)
        case "graph_loops" => catalog(ctx, GraphLoops)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      tracer.close(wl)
      tracer.close(runSpan)
      // listener events are delivered asynchronously; let them land
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext, 30000)
      val perLayer = if (trace) layers(ctx, r) else Map.empty[String, Double]
      val interference = Map(
        "steal_ticks_per_s" -> ctx.proc0.stealPerSecond(ctx.proc1),
        "loadavg_1m_start" -> ctx.proc0.load1,
        "loadavg_1m_end" -> ctx.proc1.load1,
        "window_s" -> (ctx.windowEnd - ctx.windowStart) / 1e9)
      Files.writeString(Paths.get(out, "result.json"), Json.write(Map(
        "workload" -> workload, "seed" -> ctx.seed, "trace" -> trace,
        "cores" -> ctx.cores,
        "e2e" -> (r.e2e + ("peak_rss_mb" -> Proc.peakRssMb)),
        "per_layer" -> perLayer,
        "attempted" -> r.attempted, "failed" -> r.failed,
        "checks" -> r.checks, "interference" -> interference,
        "info" -> r.info)))
      if (trace) {
        val t0 = runSpan.startNs
        Files.writeString(Paths.get(out, "spans.json"),
          Json.write(tracer.all.filter(_.endNs >= 0).map(_.toMap(t0))))
      }
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] workload $workload failed")
        e.printStackTrace()
        1
    } finally {
      spark.stop()
    }
    sys.exit(code)
  }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.length - 1)
      val lo = r.floor.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  private def pipeline(ctx: Ctx): VwapPipeline =
    new VwapPipeline(ctx.spark, s"perfbench_${ctx.seed}", ctx.seed,
      Paths.get(ctx.out, "checkpoint").toString, MaxRecords, ctx.tracer,
      ctx.workloadKey)

  // ---- ring_vwap ----------------------------------------------------------

  def ringVwap(ctx: Ctx): Result = {
    val trace = ctx.tracer.on
    val p = pipeline(ctx)
    try {
      p.start()
      // the untimed pass: both phases; the open loop runs long enough for
      // trigger times to stop falling as the JIT warms up
      p.produce("warm.open_loop", 2, RateA, WarmSeconds, 0, trace)
      p.produce("warm.saturation", 2, 0, 0, SaturationBlock / 4, trace)
      require(p.awaitDrained(DrainTimeoutMs), "warm pass did not drain")
      val warmBatch = p.batchIds.max
      val c0 = p.counters
      p.lagSamples.clear()
      ctx.openWindow()
      // phase A: open loop, latency
      val (dueA, _) = p.produce("open_loop", 2, RateA, ctx.seconds, 0, trace)
      require(p.awaitDrained(DrainTimeoutMs), "open-loop phase did not drain")
      val bStart = System.nanoTime()
      // phase B: closed loop at saturation, throughput
      val s0 = p.ring.latest
      p.produce("saturation", 2, 0, 0, SaturationBlock, trace)
      val s1 = p.ring.latest
      require(p.awaitDrained(DrainTimeoutMs), "saturation phase did not drain")
      val wallNs = p.completionNs(s1) - p.firstEnqueueNs(s0)
      ctx.closeWindow()
      val c1 = p.counters
      val lat = p.latenciesMs(dueA, bStart).toSeq
      val (failed, checks) = p.check()
      val nBatches = p.progressSince(warmBatch).count(_.numInputRows > 0)
      Result(
        e2e = Map(
          "setup_s" -> ctx.setupS,
          "wall_s" -> wallNs / 1e9,
          "event_latency_p50_ms" -> pct(lat, 0.5),
          "event_latency_p90_ms" -> pct(lat, 0.9)),
        attempted = p.records, failed = failed, checks = checks,
        info = Map(
          "ingest_rows_per_s" -> (s1 - s0) / (wallNs / 1e9),
          "saturation_records" -> (s1 - s0),
          "latency_records" -> lat.size,
          "generator_late_ms_max" -> p.generatorLateMs(dueA, bStart),
          "batches_in_window" -> nBatches),
        stream = Some(StreamStats(p, warmBatch, c0, c1)))
    } finally p.stop()
  }

  /** What the layer table needs from a pipeline run. */
  final case class StreamStats(p: VwapPipeline, warmBatch: Long,
      c0: Counters, c1: Counters)

  // ---- catalog workloads --------------------------------------------------

  def catalog(ctx: Ctx, names: Seq[String]): Result = {
    val cat = new Catalog(ctx.spark, ctx.fixture, ctx.tracer)
    val qdir = Files.createDirectories(Paths.get(ctx.out, "q")).toString
    // untimed passes: the first doubles as the correctness pass, the rest
    // start the JIT's warm-up (timed passes still speed up for a while)
    names.foreach(n => cat.run(n, ctx.workloadKey, Some(qdir)))
    for (_ <- 1 to WarmPasses) names.foreach(n => cat.run(n, ctx.workloadKey, None))
    ctx.openWindow()
    val passes = mutable.ArrayBuffer[Double]()
    val execs = mutable.ArrayBuffer[QueryExec]()
    while (passes.size < MinPasses ||
        (System.nanoTime() - ctx.windowStart) / 1e9 < ctx.seconds) {
      val pass = ctx.tracer.open(s"pass ${passes.size}", "pass", ctx.workloadKey)
      names.foreach(n => execs += cat.run(n, pass.key, None))
      ctx.tracer.close(pass)
      passes += (pass.endNs - pass.startNs) / 1e9
    }
    ctx.closeWindow()
    // Every pass does the same work, and interference from the host only
    // adds time, so a pass's time is the program's cost plus whatever the
    // host took that pass: wall_s is the fastest pass, and each query's
    // latency is its fastest execution, the percentiles then taken over
    // the queries. A host slowdown over part of the window moves neither.
    val queryMs = names.map(n => n -> execs.toSeq.filter(_.name == n)
      .map(e => (e.endNs - e.startNs) / 1e6))
    val lat = queryMs.map(_._2.min)
    val failed = execs.count(!_.ok)
    Files.writeString(Paths.get(qdir, "oracle_sql.json"), Json.write(
      SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))
    Files.writeString(Paths.get(qdir, "queries.json"), Json.write(names))
    Result(
      e2e = Map(
        "setup_s" -> ctx.setupS,
        "wall_s" -> passes.min,
        "event_latency_p50_ms" -> pct(lat, 0.5),
        "event_latency_p90_ms" -> pct(lat, 0.9)),
      attempted = execs.size, failed = failed,
      checks = Map("timed_queries_ok" -> (failed == 0)),
      info = Map("passes" -> passes.toSeq, "pass_median_s" -> pct(passes.toSeq, 0.5),
        "query_executions" -> execs.size, "query_min_ms" -> names.zip(lat).toMap,
        "query_ms" -> queryMs.toMap),
      execs = execs.toSeq, catalog = Some(cat))
  }

  // ---- per-layer metrics (traced run) -------------------------------------

  def layers(ctx: Ctx, r: Result): Map[String, Double] = {
    val spans = ctx.tracer.all.filter(_.endNs >= 0)
    val (w0, w1) = (ctx.windowStart, ctx.windowEnd)
    val m = mutable.LinkedHashMap[String, Double]()
    def sumAttr(ss: Iterable[Span], a: String): Double =
      ss.iterator.map(_.attrs.getOrElse(a, 0.0)).sum
    def ms(s: Span): Double = (s.endNs - s.startNs) / 1e6
    def jobsUnder(keys: Set[String]) =
      spans.filter(s => s.layer == "spark.job" && keys(s.parentKey))
    def stagesUnder(jobs: Seq[Span]) = {
      val jk = jobs.map(_.key).toSet
      spans.filter(s => s.layer == "spark.stage" && jk(s.parentKey))
    }
    def sparkGroup(prefix: String, jobs: Seq[Span], wallMs: Double): Unit = {
      val st = stagesUnder(jobs)
      m(s"$prefix.jobs") = jobs.size
      m(s"$prefix.stages") = st.size
      m(s"$prefix.tasks") = sumAttr(st, "tasks")
      m(s"$prefix.task_sched_delay_ms") = sumAttr(st, "task_sched_delay_ms")
      m(s"$prefix.executor_run_ms") = sumAttr(st, "executor_run_ms")
      m(s"$prefix.executor_cpu_ms") = sumAttr(st, "executor_cpu_ms")
      m(s"$prefix.cpu_util") =
        if (wallMs > 0) sumAttr(st, "executor_cpu_ms") / (wallMs * ctx.cores) else 0.0
      m(s"$prefix.gc_ms") = sumAttr(st, "gc_ms")
      m(s"$prefix.shuffle_read_bytes") = sumAttr(st, "shuffle_read_bytes")
      m(s"$prefix.shuffle_write_bytes") = sumAttr(st, "shuffle_write_bytes")
      m(s"$prefix.spill_bytes") = sumAttr(st, "spill_bytes")
    }

    // session
    m("session.build_ms") = ctx.buildMs
    m("session.warm_ms") = (ctx.setupEnd - ctx.jvmStartNs) / 1e6 - ctx.buildMs

    // every Spark job that started inside the timed window
    val windowJobs = spans.filter(s => s.layer == "spark.job" &&
      s.startNs >= w0 && s.startNs <= w1)
    sparkGroup("spark", windowJobs, (w1 - w0) / 1e6)

    // sources + streaming
    val stream = r.stream
    val sc = stream.map(s => s.c1 - s.c0).getOrElse(Counters.zero)
    m("sources.enqueue_calls") = sc.calls.toDouble
    m("sources.enqueue_refused") = sc.refused.toDouble
    m("sources.enqueue_accept_ratio") =
      if (sc.calls > 0) sc.accepted.toDouble / sc.calls else 0.0
    m("sources.enqueue_busy_ms") = sc.busyNs / 1e6
    m("sources.enqueue_wait_ms") = sc.waitNs / 1e6
    val lags = stream.map(_.p.lagSamples.asScala.toSeq.map(_.toDouble))
      .getOrElse(Seq.empty)
    m("sources.ring_lag_rows_p50") = pct(lags, 0.5)
    m("sources.ring_lag_rows_max") = if (lags.isEmpty) 0.0 else lags.max
    m("sources.dropped") = stream.map(_.p.ring.dropped.toDouble).getOrElse(0.0)

    val progress = stream.map(s => s.p.progressSince(s.warmBatch))
      .getOrElse(Seq.empty)
    val withData = progress.filter(_.numInputRows > 0)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    m("streaming.batches") = progress.size
    m("streaming.rows_per_batch_p50") = pct(withData.map(_.numInputRows.toDouble), 0.5)
    m("streaming.nonempty_batch_ratio") =
      if (progress.isEmpty) 0.0 else withData.size.toDouble / progress.size
    val trig = withData.map(dur(_, "triggerExecution"))
    m("streaming.trigger_ms_p50") = pct(trig, 0.5)
    m("streaming.trigger_ms_p90") = pct(trig, 0.9)
    for ((k, n) <- Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
        "queryPlanning" -> "query_planning_ms", "addBatch" -> "add_batch_ms",
        "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms"))
      m(s"streaming.$n") = progress.map(dur(_, k)).sum
    val ops = progress.lastOption.map(_.stateOperators.toSeq).getOrElse(Seq.empty)
    m("streaming.state_rows") = ops.map(_.numRowsTotal.toDouble).sum
    m("streaming.state_memory_bytes") = ops.map(_.memoryUsedBytes.toDouble).sum
    m("streaming.state_commit_ms") =
      progress.flatMap(_.stateOperators).map(_.commitTimeMs.toDouble).sum
    m("streaming.late_rows_dropped") =
      progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark.toDouble).sum
    m("streaming.sink_ms") = sc.sinkNs / 1e6
    val batchKeys = progress.map(p => s"batch:${p.batchId}").toSet
    val batchJobs = jobsUnder(batchKeys)
    val batchStages = stagesUnder(batchJobs)
    m("streaming.jobs") = batchJobs.size
    m("streaming.tasks") = sumAttr(batchStages, "tasks")
    m("streaming.executor_cpu_ms") = sumAttr(batchStages, "executor_cpu_ms")
    // the micro-batches as spans, with their trigger phases as children
    stream.foreach { s =>
      progress.foreach { p =>
        val start = ctx.tracer.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val total = dur(p, "triggerExecution")
        ctx.tracer.add(s"batch:${p.batchId}", s"batch ${p.batchId}", "streaming",
          ctx.workloadKey, start, start + (total * 1e6).toLong,
          "rows" -> p.numInputRows.toDouble)
        var t = start
        for (k <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
            "addBatch", "commitOffsets")) {
          val d = (dur(p, k) * 1e6).toLong
          ctx.tracer.add(s"batch:${p.batchId}:$k", s"streaming.$k", "streaming",
            s"batch:${p.batchId}", t, t + d)
          t += d
        }
      }
    }

    // queries + operators (timed executions only)
    val cat = r.catalog
    val execs = r.execs
    val opKeys = execs.map(_.opKey).toSet
    // jobs hang off the layer calls (queries.fn / queries.exec) of each query
    val callKeys = spans.filter(s => opKeys(s.parentKey)).groupBy(_.parentKey)
      .map { case (op, calls) => op -> (calls.map(_.key).toSet + op) }
    def jobsOf(op: String) = jobsUnder(callKeys.getOrElse(op, Set(op)))
    val qJobs = jobsUnder(callKeys.values.flatten.toSet ++ opKeys)
    val qWall = execs.map(e => (e.endNs - e.startNs) / 1e6).sum
    m("queries.executions") = execs.size
    m("queries.fn_ms") = spans.filter(s => s.name == "queries.fn" && opKeys(s.parentKey))
      .map(ms).sum
    m("queries.exec_ms") = spans.filter(s => s.name == "queries.exec" && opKeys(s.parentKey))
      .map(ms).sum
    val phases = ctx.plans.seen.asScala.toSeq.filter(ph =>
      execs.exists(e => ph.startNs >= e.startNs && ph.startNs <= e.endNs))
    def phase(k: String) = phases.map(_.ms.getOrElse(k, 0.0)).sum
    m("queries.analysis_ms") = phase("analysis")
    m("queries.optimization_ms") = phase("optimization")
    m("queries.planning_ms") = phase("planning")
    m("queries.plan_ms") = phase("analysis") + phase("optimization") + phase("planning")
    sparkGroup("queries", qJobs, qWall)
    execs.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, es) =>
      m(s"queries.$name.wall_ms") = pct(es.map(e => (e.endNs - e.startNs) / 1e6), 0.5)
      m(s"queries.$name.jobs") = pct(es.map(e => jobsOf(e.opKey).size.toDouble), 0.5)
      m(s"queries.$name.stages") =
        pct(es.map(e => stagesUnder(jobsOf(e.opKey)).size.toDouble), 0.5)
    }
    val sweeps = cat.map(_.sweeps.toSeq.filter(s => opKeys(s.parentKey)))
      .getOrElse(Seq.empty)
    m("operators.sweeps") = sweeps.size
    m("operators.sweep_ms") = sweeps.map(ms).sum
    val rdds = sweeps.map(_.attrs.getOrElse("staged_rdds", 0.0))
    val bytes = sweeps.map(_.attrs.getOrElse("staged_bytes", 0.0))
    m("operators.staged_rdds_max") = if (rdds.isEmpty) 0.0 else rdds.max
    m("operators.staged_rdds_sum") = rdds.sum
    m("operators.staged_bytes_max") = if (bytes.isEmpty) 0.0 else bytes.max
    m("operators.staged_bytes_sum") = bytes.sum
    m.toMap
  }
}

/** Cumulative producer-side counters of a pipeline, for window deltas. */
final case class Counters(calls: Long, refused: Long, accepted: Long,
    busyNs: Long, waitNs: Long, sinkNs: Long) {
  def -(o: Counters): Counters = Counters(calls - o.calls, refused - o.refused,
    accepted - o.accepted, busyNs - o.busyNs, waitNs - o.waitNs, sinkNs - o.sinkNs)
}
object Counters { val zero: Counters = Counters(0, 0, 0, 0, 0, 0) }

/** Host readings: steal ticks and load average (interference record) and
  * the process's peak resident memory. */
object Proc {
  final case class Snapshot(ns: Long, steal: Long, load1: Double) {
    def stealPerSecond(later: Snapshot): Double =
      (later.steal - steal) / math.max(1e-9, (later.ns - ns) / 1e9)
  }

  private def read(path: String): Option[String] =
    try Some(Files.readString(Paths.get(path))) catch { case _: Exception => None }

  def snapshot(): Snapshot = {
    val steal = read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(0L)
    val load = read("/proc/loadavg").map(_.trim.split("\\s+")(0).toDouble).getOrElse(0.0)
    Snapshot(System.nanoTime(), steal, load)
  }

  def peakRssMb: Double =
    read("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}
