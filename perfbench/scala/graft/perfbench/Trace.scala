package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.http.RequestCallback

/** One timed interval. Times are epoch nanoseconds so spans taken from
  * `System.nanoTime` (benchmark, stub, request callback) and from Spark's
  * millisecond listener events share one axis.
  */
final case class Span(id: Long, parent: Long, job: Int, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Spark-side counters the listeners attribute to one benchmark job. */
final class EngineCounters {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val maxStageTasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val planMs = new AtomicLong
}

/** In-memory span recorder plus the engine listeners. Everything here is
  * observed from outside the program: a `SparkListener`, a
  * `QueryExecutionListener` and a `RequestCallback` registered by name.
  * Nothing is recorded until [[enable]]; spans are written out by
  * [[write]] when the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var enabled = false
  /** (benchmark job id, span id of its root span) of the job running now. */
  val current = new AtomicReference[(Int, Long)]((-1, 0L))

  def newId(): Long = ids.incrementAndGet()

  /** A span under the root span of the job running now. */
  def record(name: String, start: Long, end: Long): Unit =
    if (enabled) {
      val (job, root) = current.get()
      spans.add(Span(newId(), root, job, name, start, end))
    }

  def timed[A](name: String)(body: => A): (A, Long) = {
    val s = now()
    val a = body
    val e = now()
    record(name, s, e)
    (a, e - s)
  }

  val engine = new ConcurrentHashMap[Int, EngineCounters]()
  def counters(job: Int): EngineCounters = engine.computeIfAbsent(job, _ => new EngineCounters)

  private val jobOfSparkJob = new ConcurrentHashMap[Int, (Int, Long, Long)]() // bench job, span id, start
  private val jobOfStage = new ConcurrentHashMap[Int, (Int, Long)]() // bench job, parent span
  private val jobOfExecution = new ConcurrentHashMap[Long, Int]()
  private val lastEventNs = new AtomicLong(System.nanoTime())

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventNs.set(System.nanoTime())
      val job = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.JobProperty)))
        .map(_.toInt).getOrElse(-1)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => jobOfExecution.put(x.toLong, job))
      val spanId = newId()
      jobOfSparkJob.put(e.jobId, (job, spanId, e.time * 1000000L))
      e.stageIds.foreach(s => jobOfStage.putIfAbsent(s, (job, spanId)))
      counters(job).jobs.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventNs.set(System.nanoTime())
      Option(jobOfSparkJob.remove(e.jobId)).foreach { case (job, spanId, start) =>
        if (enabled) spans.add(Span(spanId, rootOf(job), job, "spark.job", start, e.time * 1000000L))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEventNs.set(System.nanoTime())
      val info = e.stageInfo
      Option(jobOfStage.get(info.stageId)).foreach { case (job, parent) =>
        val c = counters(job)
        c.stages.incrementAndGet()
        c.maxStageTasks.accumulateAndGet(info.numTasks.toLong, math.max)
        for (s <- info.submissionTime; f <- info.completionTime if enabled)
          spans.add(Span(newId(), parent, job, "spark.stage", s * 1000000L, f * 1000000L))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventNs.set(System.nanoTime())
      val m = e.taskMetrics
      if (m != null) Option(jobOfStage.get(e.stageId)).foreach { case (job, _) =>
        val c = counters(job)
        c.tasks.incrementAndGet()
        c.taskRunMs.addAndGet(m.executorRunTime)
        c.taskCpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleBytes.addAndGet(
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      lastEventNs.set(System.nanoTime())
      val job = Option(jobOfExecution.get(qe.id)).map(_.intValue).getOrElse(current.get()._1)
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      counters(job).planMs.addAndGet(planMs)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val roots = new ConcurrentHashMap[Int, java.lang.Long]()
  private def rootOf(job: Int): Long = Option(roots.get(job)).map(_.longValue).getOrElse(0L)

  /** Root span bookkeeping for one benchmark job; children parent to it. */
  def beginJob(job: Int): Long = {
    val id = newId()
    roots.put(job, id)
    current.set((job, id))
    spark.sparkContext.setLocalProperty(Tracer.JobProperty, job.toString)
    id
  }

  def endJob(job: Int, rootId: Long, start: Long, end: Long): Unit = {
    if (enabled) spans.add(Span(rootId, 0L, job, "job", start, end))
    current.set((-1, 0L))
  }

  def enable(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    Tracer.active = this
    enabled = true
  }

  /** Wait until the asynchronous listener bus has been quiet for 300 ms. */
  def drain(): Unit = {
    while (System.nanoTime() - lastEventNs.get() < 300000000L) Thread.sleep(50)
  }

  def disable(): Unit = {
    drain()
    enabled = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    Tracer.active = null
  }

  def jobSpans(job: Int): Seq[Span] = spans.asScala.filter(_.job == job).toSeq

  /** Self time per span name for one job: duration minus the union of the
    * intervals its children cover (clipped to the parent).
    */
  def selfTimes(job: Int): Map[String, Long] = {
    val js = jobSpans(job)
    val children = js.groupBy(_.parent)
    js.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val cs = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }
        s.dur - Stats.covered(cs)
      }.sum
    }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.foreach { s =>
      w.println(Json.render(Map(
        "id" -> s.id, "parent" -> s.parent, "job" -> s.job, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end)))
    } finally w.close()
  }
}

object Tracer {
  val JobProperty = "perfbench.job"
  val CallbackName = "perfbench-wire"
  @volatile var active: Tracer = _

  /** Wire spans: `onRequest` → `onResponse` on the calling thread. The
    * lookup client calls both from one thread; a response delivered on
    * another thread (the sink's async completion) is counted but has no
    * span.
    */
  object WireCallback extends RequestCallback {
    private val startedAt = new ThreadLocal[java.lang.Long]
    val requests = new AtomicLong
    def onRequest(method: String, url: String, body: Option[String]): Unit = {
      requests.incrementAndGet()
      val t = active
      if (t != null) startedAt.set(t.now())
    }
    def onResponse(method: String, url: String, status: Int): Unit = finish()
    def onException(method: String, url: String, e: Throwable): Unit = finish()
    private def finish(): Unit = {
      val t = active
      val s = startedAt.get()
      if (t != null && s != null) {
        startedAt.remove()
        t.record("http.request", s, t.now())
      }
    }
  }

  RequestCallback.register(CallbackName, _ => WireCallback)
}
