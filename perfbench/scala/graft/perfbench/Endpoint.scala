package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import graft.http.testkit.StubServer

/** The benchmark's endpoint: a `testkit.StubServer` with a customer lookup
  * route and a batch sink route, each holding a request for a fixed service
  * time. Seeded faults on the lookup route: a key in `notFound` answers 404;
  * a key in `busy` answers 503 on every odd-numbered arrival, so each first
  * attempt of such a key is refused once and its retry succeeds, whatever
  * the interleaving of concurrent requests.
  *
  * Counters are reset per job by [[reset]]; handler spans and back-off gaps
  * are kept only while a `tracer` is set.
  */
final class Endpoint(
    customerJson: Array[String],
    notFound: Array[Boolean],
    busy: Array[Boolean],
    serviceNs: Long,
    sinkRecordHash: com.fasterxml.jackson.databind.JsonNode => Long) {

  private val server = StubServer.serveOnly()
  @volatile var tracer: Tracer = _

  val lookupRequests = new AtomicLong
  val refused = new AtomicLong
  val lookupPeak = new AtomicInteger
  private val lookupInflight = new AtomicInteger
  private val arrivals = new ConcurrentHashMap[Long, AtomicInteger]()
  private val refusedAt = new ConcurrentHashMap[Long, java.lang.Long]()
  val backoffNs = new ConcurrentLinkedQueue[java.lang.Long]()
  val handlerNs = new ConcurrentLinkedQueue[java.lang.Long]()

  val sinkRequests = new AtomicLong
  val sinkRecords = new AtomicLong
  val sinkChecksum = new AtomicLong
  val sinkBytes = new AtomicLong
  val sinkPeak = new AtomicInteger
  private val sinkInflight = new AtomicInteger
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def reset(): Unit = {
    Seq(lookupRequests, refused, sinkRequests, sinkRecords, sinkChecksum, sinkBytes)
      .foreach(_.set(0))
    lookupPeak.set(0)
    sinkPeak.set(0)
    arrivals.clear()
    refusedAt.clear()
    backoffNs.clear()
    handlerNs.clear()
  }

  private def enter(inflight: AtomicInteger, peak: AtomicInteger): Long = {
    val c = inflight.incrementAndGet()
    peak.accumulateAndGet(c, math.max)
    System.nanoTime()
  }

  private def leave(inflight: AtomicInteger, start: Long): Unit = {
    inflight.decrementAndGet()
    val t = tracer
    if (t != null) {
      val ns = System.nanoTime() - start
      handlerNs.add(ns)
      val end = t.now()
      t.record("testkit.handler", end - ns, end)
    }
  }

  private def serve(): Unit = LockSupport.parkNanos(serviceNs)

  server.route("/customer") { req =>
    val start = enter(lookupInflight, lookupPeak)
    try {
      lookupRequests.incrementAndGet()
      val key = StubServer.queryMap(req.query)("o_custkey").toLong
      val n = arrivals.computeIfAbsent(key, _ => new AtomicInteger).incrementAndGet()
      if (tracer != null) Option(refusedAt.remove(key)).foreach(t => backoffNs.add(start - t))
      serve()
      val k = key.toInt
      if (busy(k) && (n & 1) == 1) {
        refused.incrementAndGet()
        refusedAt.put(key, System.nanoTime())
        (503, """{"error":"busy"}""")
      } else if (notFound(k)) (404, """{"error":"no such customer"}""")
      else (200, customerJson(k))
    } finally leave(lookupInflight, start)
  }

  server.route("/sink") { req =>
    val start = enter(sinkInflight, sinkPeak)
    try {
      sinkRequests.incrementAndGet()
      sinkBytes.addAndGet(req.body.length.toLong)
      val records = mapper.readTree(req.body)
      var n = 0L
      var sum = 0L
      records.forEach { r =>
        n += 1
        sum += sinkRecordHash(r)
      }
      sinkRecords.addAndGet(n)
      sinkChecksum.addAndGet(sum)
      serve()
      (200, "{}")
    } finally leave(sinkInflight, start)
  }

  server.start()

  def url(path: String): String = server.url(path)
  def stop(): Unit = server.stop()
}
