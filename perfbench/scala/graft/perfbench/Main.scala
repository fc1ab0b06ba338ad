package graft.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run: one workload, one seed, closed-loop jobs for
  * `--seconds`, in one JVM at `local[nproc]`. Writes a JSON result to
  * `--out`; `perfbench/run.py` builds, launches and prints it.
  *
  * Untraced (`--trace 0`): set-up, warm-up, then the timed window; the
  * end-to-end metrics. Traced (`--trace 1`): an equal traced window
  * (listeners, request callback and stub spans on) between two untraced
  * half-windows, then the isolated layer probes; the per-layer metrics,
  * self times and the tracing overhead (traced against untraced rows/s).
  */
object Main {
  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: String, work: String, golden: String, spans: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("out"), m("work"), m.getOrElse("golden", ""), m.getOrElse("spans", ""))
  }

  private val MinJobs = 3

  private val cpu = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** The JIT compiler threads' `/proc/self/task/<tid>/schedstat` files.
    * `run.py` starts the JVM with a fixed set of compiler threads, so the
    * set found once stays valid for the whole run.
    */
  private lazy val jitTasks: Seq[java.nio.file.Path] = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten
    val jit = tasks.filter { t =>
      val comm = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "comm").toPath), "UTF-8")
      comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")
    }
    require(jit.nonEmpty, "no JIT compiler threads found under /proc/self/task")
    jit.map(t => new java.io.File(t, "schedstat").toPath)
  }

  /** Process CPU time minus the JIT compiler threads' CPU time, in
    * nanoseconds. The compiler keeps working long after warm-up (hundreds of
    * ms per lookup job), which is left-over start-up cost, not per-row work,
    * and it was most of this metric's run-to-run spread.
    */
  private def workCpuNs(): Long = {
    val jitNs = jitTasks.map { p =>
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.split(' ')(0).toLong
    }.sum
    cpu.getProcessCpuTime - jitNs
  }

  final case class Done(id: Int, secs: Double, res: JobResult, codegenNs: Long, cpuNs: Long)

  final case class Window(jobs: Seq[Done]) {
    def rows: Long = jobs.map(_.res.rows).sum
    def failed: Long = jobs.map(_.res.failedRows).sum
    /** A job that failed its check is never counted as a fast job. */
    private def good: Seq[Done] = jobs.filter(_.res.failedRows == 0)
    def rowsPerS: Double = Stats.median(good.map(j => j.res.rows / j.secs))
    /** Process CPU seconds (JIT compiler excluded) per 1000 input rows,
      * median over jobs.
      */
    def cpuSPerKrow: Double = Stats.median(good.map(j => j.cpuNs / 1e9 / (j.res.rows / 1000.0)))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    Tracer.WireCallback // registers the request callback by name

    val w = Workload(a.workload, spark, a.seed, nproc, a.work, a.golden)
    try run(a, spark, w, nproc, sessionS)
    finally {
      w.close()
      spark.stop()
    }
  }

  private def run(a: Args, spark: SparkSession, w: Workload, nproc: Int, sessionS: Double): Unit = {
    val codegen0 = CodeGenerator.compileTime
    // set-up: the fixture is built three times and its median counted;
    // computing the expected answers is the benchmark's work, not set-up
    val fixtureS = (0 until 3).map { r =>
      val t = System.nanoTime()
      w.fixture(r)
      (System.nanoTime() - t) / 1e9
    }
    w.expect()
    val warmT = System.nanoTime()
    (0 until w.warmupJobs).foreach(i => w.job(-1 - i, None))
    val warmS = (System.nanoTime() - warmT) / 1e9
    val setupS = sessionS + Stats.median(fixtureS) + warmS
    val setupCodegenMs = (CodeGenerator.compileTime - codegen0) / 1e6

    // live heap after the warm-up's fixed number of jobs: some workloads
    // keep a few MB per job, so a reading after the time-bound window would
    // grow with throughput. Lowest reading over a few full collections, so
    // async cleanup (context cleaner, unpersist) finishing late does not count.
    val heapMb = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(150)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    var jobId = 0
    // at least MinJobs per window, so a median over jobs never averages in
    // the first job after warm-up, which runs slower and varies most
    def window(tracer: Option[Tracer], seconds: Double): Window = {
      val jobs = Seq.newBuilder[Done]
      var n = 0
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      while (System.nanoTime() < deadline || n < MinJobs) {
        n += 1
        val id = jobId
        jobId += 1
        val root = tracer.map(_.beginJob(id))
        val s = tracer.map(_.now()).getOrElse(0L)
        val c0 = CodeGenerator.compileTime
        val cpu0 = workCpuNs()
        val j0 = System.nanoTime()
        val res =
          try w.job(id, tracer)
          catch {
            case e: Exception =>
              System.err.println(s"[perfbench] ${w.name} job $id FAILED: $e")
              e.printStackTrace()
              JobResult(w.rowsPerJob, w.rowsPerJob, Map.empty)
          }
        val secs = (System.nanoTime() - j0) / 1e9
        val cpuNs = workCpuNs() - cpu0
        for (t <- tracer; r <- root) t.endJob(id, r, s, t.now())
        jobs += Done(id, secs, res, CodeGenerator.compileTime - c0, cpuNs)
      }
      Window(jobs.result())
    }

    // traced run: untraced half-window, traced window, untraced half-window,
    // so warm-up drift does not bias the tracing overhead
    val (plain, traced) =
      if (!a.trace) (window(None, a.seconds), None)
      else {
        val before = window(None, a.seconds / 2)
        val t = new Tracer(spark)
        t.enable()
        val win = window(Some(t), a.seconds)
        t.disable()
        val after = window(None, a.seconds / 2)
        (Window(before.jobs ++ after.jobs), Some((t, win)))
      }
    val probes = if (a.trace) w.probes() else Map.empty[String, Double]

    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "rows_per_s" -> (plain.rowsPerS, "rows/s"),
      "cpu_s_per_krow" -> (plain.cpuSPerKrow, "s/krow"),
      "heap_live_mb" -> (heapMb, "MB"))
    val layers = traced.map { case (t, win) =>
      layerMetrics(t, win, plain, w, probes + ("spark.codegen_setup_ms" -> setupCodegenMs), nproc)
    }
      .getOrElse(Map.empty)
    traced.foreach { case (t, _) => if (a.spans.nonEmpty) t.write(a.spans) }

    // a lookup may keep at most thread-pool.size requests in flight per
    // I/O task; a traced job observed above that bound fails its check
    val overBound = traced.toSeq.flatMap { case (t, win) =>
      win.jobs.filter { d =>
        d.res.layers.get("http.client.inflight_peak").exists(
          _ > nproc * math.max(1L, t.counters(d.id).maxStageTasks.get))
      }
    }
    overBound.foreach(d => System.err.println(
      s"[perfbench] ${w.name} job ${d.id} FAILED: in-flight peak above the per-task bound"))
    val windows = Seq(plain) ++ traced.map(_._2)
    val attempted = windows.map(_.rows).sum
    val failed = windows.map(_.failed).sum + overBound.map(_.res.rows).sum
    val out = Map(
      "workload" -> w.name,
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "setup" -> Map(
        "session_s" -> sessionS, "fixture_s" -> fixtureS, "warmup_s" -> warmS,
        "warmup_jobs" -> w.warmupJobs),
      "jobs" -> Map(
        "untraced" -> plain.jobs.size, "traced" -> traced.map(_._2.jobs.size).getOrElse(0),
        "job_s" -> plain.jobs.map(_.secs)),
      "stamp" -> Map(
        "nproc" -> nproc,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq,
        "spark" -> spark.version,
        "seed" -> a.seed,
        "seconds" -> a.seconds,
        "workload_options" -> w.options(traced = false),
        "traced_workload_options" -> w.options(traced = true)))
    val pw = new java.io.PrintWriter(a.out, "UTF-8")
    try pw.println(Json.render(out)) finally pw.close()
  }

  /** Every per-layer metric with its unit; a layer that does no work in a
    * workload reports 0 there.
    */
  val LayerUnits: Seq[(String, String)] = Seq(
    "spark.plan_ms" -> "ms", "spark.codegen_ms" -> "ms", "spark.codegen_setup_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_bytes" -> "bytes", "spark.busy_cores" -> "cores",
    "http.lookup.plan_ms" -> "ms", "http.lookup.cpu_us_per_row" -> "us",
    "http.client.requests" -> "count", "http.client.wire_p50_ms" -> "ms",
    "http.client.wire_p99_ms" -> "ms", "http.client.inflight_mean" -> "requests",
    "http.client.inflight_peak" -> "requests", "http.client.inflight_bound" -> "requests",
    "http.client.execute_us" -> "us",
    "http.retry.retried" -> "count", "http.retry.exhausted" -> "count",
    "http.retry.backoff_ms_p50" -> "ms",
    "http.cache.hit_ratio" -> "ratio", "http.cache.get_ns" -> "ns",
    "http.format.decode_us_per_row" -> "us", "http.format.encode_us_per_row" -> "us",
    "http.sink.requests" -> "count", "http.sink.bytes_per_row" -> "bytes",
    "http.sink.inflight_peak" -> "requests",
    "ops.dedup.near_dup_s" -> "s", "ops.dedup.exact_pairs_s" -> "s", "ops.par.release_ms" -> "ms",
    "testkit.handler_p99_ms" -> "ms", "testkit.requests" -> "count",
    "requests_per_row" -> "ratio", "failed_ratio" -> "ratio",
    "self.job_ms" -> "ms", "self.spark.job_ms" -> "ms",
    "trace.spans" -> "count", "trace.overhead_pct" -> "%")

  private def layerMetrics(
      t: Tracer, win: Window, plain: Window, w: Workload,
      probes: Map[String, Double], nproc: Int): Map[String, (Double, String)] = {
    def med(f: Done => Double): Double = Stats.median(win.jobs.map(f))
    def eng(d: Done): EngineCounters = t.counters(d.id)
    def layer(d: Done, k: String): Double = d.res.layers.getOrElse(k, 0.0)
    val lookup = w.isInstanceOf[LookupWorkload]
    // wire spans exist for the lookup client only: the sink completes its
    // requests on another thread, so the callback cannot pair them
    def wireNs(d: Done): Seq[Long] =
      if (lookup) t.jobSpans(d.id).filter(_.name == "http.request").map(_.dur) else Nil
    val wire = win.jobs.flatMap(wireNs).map(_ / 1e6)
    val values = Map[String, Double](
      "spark.plan_ms" -> med(eng(_).planMs.get.toDouble),
      "spark.codegen_ms" -> med(_.codegenNs / 1e6),
      "spark.jobs" -> med(eng(_).jobs.get.toDouble),
      "spark.stages" -> med(eng(_).stages.get.toDouble),
      "spark.tasks" -> med(eng(_).tasks.get.toDouble),
      "spark.task_cpu_s" -> med(eng(_).taskCpuNs.get / 1e9),
      "spark.task_run_s" -> med(eng(_).taskRunMs.get / 1e3),
      "spark.gc_s" -> med(eng(_).gcMs.get / 1e3),
      "spark.shuffle_bytes" -> med(eng(_).shuffleBytes.get.toDouble),
      "spark.busy_cores" -> med(d => eng(d).taskRunMs.get / 1e3 / d.secs),
      "http.lookup.cpu_us_per_row" ->
        (if (lookup) med(d => eng(d).taskCpuNs.get / 1e3 / d.res.rows) else 0.0),
      "http.client.wire_p50_ms" -> Stats.quantile(wire, 0.5),
      "http.client.wire_p99_ms" -> Stats.quantile(wire, 0.99),
      "http.client.inflight_mean" -> med(d => wireNs(d).sum / 1e9 / d.secs),
      "http.client.inflight_bound" ->
        (if (lookup) med(d => nproc.toDouble * math.max(1L, eng(d).maxStageTasks.get)) else 0.0),
      "failed_ratio" -> (win.failed + plain.failed).toDouble / math.max(1L, win.rows + plain.rows),
      "self.job_ms" -> med(d => t.selfTimes(d.id).getOrElse("job", 0L) / 1e6),
      "self.spark.job_ms" -> med(d => t.selfTimes(d.id).getOrElse("spark.job", 0L) / 1e6),
      "trace.spans" -> med(d => t.jobSpans(d.id).size.toDouble),
      "trace.overhead_pct" -> (plain.rowsPerS / win.rowsPerS - 1.0) * 100.0)
    val fromJobs = win.jobs.flatMap(_.res.layers.keys).distinct
      .map(k => k -> med(layer(_, k))).toMap
    val all = fromJobs ++ w.pooled() ++ probes ++ values
    LayerUnits.map { case (k, u) => k -> (all.getOrElse(k, 0.0), u) }.toMap
  }
}
