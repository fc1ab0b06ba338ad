package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.http._
import graft.ops.{Dedup, Par}

/** What one closed-loop job reports: input rows completed, rows whose
  * output check failed, and layer values for the traced run.
  */
final case class JobResult(rows: Long, failedRows: Long, layers: Map[String, Double])

abstract class Workload(val spark: SparkSession, val seed: Long, val nproc: Int, val dir: String) {
  def name: String
  def warmupJobs: Int
  def rowsPerJob: Long
  /** Options handed to the program's entry point (recorded in the stamp);
    * a traced job also names the benchmark's request callback.
    */
  def options(traced: Boolean): Map[String, String]
  /** (Re)build the seeded inputs and the endpoint; called several times. */
  def fixture(round: Int): Unit
  /** Compute the expected answers for the last fixture (not set-up time). */
  def expect(): Unit
  def job(id: Int, tracer: Option[Tracer]): JobResult
  /** Layer values pooled over all traced jobs (percentiles). */
  def pooled(): Map[String, Double] = Map.empty
  /** Isolated layer probes: each times one layer's public function. */
  def probes(): Map[String, Double] = Map.empty
  def close(): Unit = ()

  protected def write(df: DataFrame, sub: String): DataFrame = {
    val path = s"$dir/$sub"
    df.coalesce(1).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  protected def ms(ns: Long): Double = ns / 1e6

  /** Times `body`, as a span when traced; returns its value and duration. */
  protected def step[A](tracer: Option[Tracer], name: String)(body: => A): (A, Long) =
    tracer.map(_.timed(name)(body)).getOrElse {
      val t = System.nanoTime()
      val a = body
      (a, System.nanoTime() - t)
    }
}

object Workload {
  val ServiceNs = 1000000L

  def apply(name: String, spark: SparkSession, seed: Long, nproc: Int, dir: String, golden: String): Workload =
    name match {
      case "lookup_remote" => new LookupWorkload(spark, seed, nproc, dir)
      case "sink_batch" => new SinkWorkload(spark, seed, nproc, dir)
      case "dedup_corpus" => new DedupWorkload(spark, seed, nproc, dir, golden)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  /** Median of `reps` timings of `body`, in nanoseconds. */
  def medianNs(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t = System.nanoTime()
      body
      (System.nanoTime() - t).toDouble
    })
}

/** `HttpLookup.join` of a 3000-row orders probe with uniform keys, keyed on
  * `o_custkey`, against the endpoint's customer route, with no cache, so
  * every row crosses the wire.
  */
final class LookupWorkload(spark: SparkSession, seed: Long, nproc: Int, dir: String)
    extends Workload(spark, seed, nproc, dir) {
  val name = "lookup_remote"
  val warmupJobs = 6
  private val probeRows = 3000L
  def rowsPerJob: Long = probeRows

  private val responseSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))
  private val outCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority") ++ responseSchema.fieldNames

  private var endpoint: Endpoint = _
  private var probe: DataFrame = _
  private var customer: DataFrame = _
  private var notFound: Array[Boolean] = _
  private var keys: Array[Long] = _
  private var customerJson: Array[String] = _
  private var expected: Row = _
  private var expectedIgnored = 0L
  private val handlerNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  private val backoffNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  def options(traced: Boolean): Map[String, String] = Map(
    HttpOptions.Url -> endpoint.url("/customer"),
    HttpOptions.AsyncPolling -> "true",
    HttpOptions.RequestThreadPool -> nproc.toString,
    HttpOptions.DedupKeys -> "false",
    HttpOptions.IgnoredCodes -> "404",
    HttpOptions.ContinueOnError -> "true",
    HttpOptions.MaxRetries -> "3",
    HttpOptions.RetryStrategyType -> RetryPolicy.ExponentialDelayName,
    HttpOptions.RetryExpInitialBackoff -> "2ms",
    HttpOptions.RetryExpMaxBackoff -> "20ms",
    HttpOptions.RetryExpMultiplier -> "2",
    HttpOptions.LookupCacheKind -> "NONE",
    HttpOptions.SourceRequestCallback -> (if (traced) Tracer.CallbackName else "slf4j-lookup-logger"))

  /** Order-independent digest of the rows where `ok` holds: count, sum of
    * hashes mod 2^31-1, and xor of hashes.
    */
  private def digest(ok: Column): Seq[Column] = {
    val h = xxhash64(outCols.map(col): _*)
    Seq(
      sum(when(ok, 1L).otherwise(0L)),
      sum(when(ok, pmod(h, lit(2147483647L))).otherwise(0L)),
      bit_xor(when(ok, h).otherwise(0L)))
  }

  def fixture(round: Int): Unit = {
    if (endpoint != null) endpoint.stop()
    customer = write(Inputs.customer(spark, seed), s"f$round/customer")
    probe = write(Inputs.orders(spark, seed, probeRows), s"f$round/probe")
    val (nf, busy) = Inputs.faults(spark, seed)
    require(nf.contains(true) && busy.contains(true), "seeded fault sets are empty")
    notFound = nf
    customerJson = new Array[String](Inputs.Customers.toInt)
    customer.select(col("c_custkey"), to_json(struct(responseSchema.fieldNames.toIndexedSeq.map(col): _*)))
      .collect().foreach(r => customerJson(r.getLong(0).toInt) = r.getString(1))
    endpoint = new Endpoint(customerJson, notFound, busy, Workload.ServiceNs, _ => 0L)
  }

  /** A relational join outside the HTTP path, minus the seeded 404 keys. */
  def expect(): Unit = {
    val nf = notFound.indices.filter(notFound(_)).map(_.toLong)
    val joined = probe.join(customer, col("o_custkey") === col("c_custkey"))
      .filter(!col("o_custkey").isin(nf: _*))
    val d = digest(lit(true))
    expected = joined.agg(d.head, d.tail: _*).head()
    keys = probe.select(col("o_custkey")).collect().map(_.getLong(0))
    expectedIgnored = keys.count(k => notFound(k.toInt)).toLong
  }

  def job(id: Int, tracer: Option[Tracer]): JobResult = {
    endpoint.reset()
    endpoint.tracer = tracer.orNull
    val (out, planNs) = step(tracer, "http.lookup.join") {
      HttpLookup.join(probe, Seq("o_custkey"), responseSchema, options(tracer.isDefined),
        includeMetadata = true)
    }
    val state = col(HttpLookup.MetaCompletionState)
    val d = digest(state === CompletionState.Success)
    val r = out.agg(
      count(lit(1)),
      (d :+ sum(when(state === CompletionState.IgnoreStatusCode, 1L).otherwise(0L)) :+
        sum(when(state === CompletionState.HttpErrorStatus, 1L).otherwise(0L))): _*).head()
    val total = r.getLong(0)
    val ok = total == probeRows &&
      (0 until 3).forall(i => r.get(1 + i) == expected.get(i)) &&
      r.getLong(4) == expectedIgnored
    if (!ok)
      System.err.println(s"[perfbench] $name job $id output check FAILED: got $r, " +
        s"expected rows=$probeRows $expected ignored=$expectedIgnored")
    val requests = endpoint.lookupRequests.get().toDouble
    val refused = endpoint.refused.get().toDouble
    val firstAttempts = requests - refused
    val layers = Map(
      "http.lookup.plan_ms" -> ms(planNs),
      "http.client.requests" -> requests,
      "http.client.inflight_peak" -> endpoint.lookupPeak.get().toDouble,
      "http.retry.retried" -> refused,
      "http.retry.exhausted" -> Option(r.get(5)).map(_.toString.toDouble).getOrElse(0.0),
      "http.cache.hit_ratio" -> (1.0 - firstAttempts / probeRows),
      "requests_per_row" -> requests / probeRows,
      "testkit.requests" -> requests)
    if (tracer.isDefined) {
      handlerNs.addAll(endpoint.handlerNs)
      backoffNs.addAll(endpoint.backoffNs)
    }
    JobResult(probeRows, if (ok) 0L else probeRows, layers)
  }

  override def pooled(): Map[String, Double] = {
    val h = handlerNs.asScala.map(_.toDouble / 1e6).toSeq
    val b = backoffNs.asScala.map(_.toDouble / 1e6).toSeq
    Map(
      "testkit.handler_p99_ms" -> Stats.quantile(h, 0.99),
      "http.retry.backoff_ms_p50" -> Stats.median(b))
  }

  override def probes(): Map[String, Double] = {
    // http.client: HttpLookupClient.execute from one thread over probe keys
    val client = new HttpLookupClient(
      HttpClientFactory.shared(HttpClientFactory.ClientConfig()),
      ResponseChecker("2XX", "500,503,504"), Set(404),
      ExponentialDelayRetry(3, 2, 20, 2.0), 30000L, Nil, RequestCallback.NoOp)
    val base = endpoint.url("/customer") + "?o_custkey="
    endpoint.reset()
    val sample = keys.take(1500)
    val execNs = sample.map { k =>
      val t = System.nanoTime()
      client.execute("GET", base + k, None)
      (System.nanoTime() - t).toDouble
    }.toSeq
    // http.cache: LookupCache.get hits from nproc threads over probe keys
    val cache = new LookupCache[HttpOutcome](8192L, None, None)
    val cacheKeys = keys.map(k => base + k + "\u0000")
    cacheKeys.distinct.foreach { k =>
      cache.put(k, HttpOutcome(200, "{}", Map.empty, CompletionState.Success, null))
    }
    val gets = 400000
    val getNs = Stats.median((1 to 3).map { _ =>
      val threads = (0 until nproc).map { t =>
        new Thread(() => {
          var i = 0
          var j = t * 7919
          while (i < gets) {
            cache.get(cacheKeys(j % cacheKeys.length))
            i += 1
            j += 1
          }
        })
      }
      val t = System.nanoTime()
      threads.foreach(_.start())
      threads.foreach(_.join())
      (System.nanoTime() - t).toDouble / gets
    })
    // http.format: json decode of the bodies this probe's rows receive
    import spark.implicits._
    val bodyRows = 200000
    val bodies = spark.createDataset((0 until bodyRows).map(i => customerJson(keys(i % keys.length).toInt)))
      .toDF("body").repartition(nproc).cache()
    bodies.count()
    val format = PayloadFormats("json")
    val decodeNs = Workload.medianNs(3) {
      bodies.select(format.decode(col("body"), responseSchema, "_corrupt").as("r"))
        .write.format("noop").mode("overwrite").save()
    }
    bodies.unpersist(true)
    Map(
      "http.client.execute_us" -> Stats.median(execNs) / 1e3,
      "http.cache.get_ns" -> getNs,
      "http.format.decode_us_per_row" -> decodeNs / bodyRows / 1e3)
  }

  override def close(): Unit = if (endpoint != null) endpoint.stop()
}

/** `HttpSink.write` of 600k lineitems in batch mode, 500 records per
  * request; the endpoint counts and checksums every record it receives.
  */
final class SinkWorkload(spark: SparkSession, seed: Long, nproc: Int, dir: String)
    extends Workload(spark, seed, nproc, dir) {
  val name = "sink_batch"
  val warmupJobs = 3
  def rowsPerJob: Long = Inputs.Lineitems
  private var endpoint: Endpoint = _
  private var lineitem: DataFrame = _
  private var expectedChecksum = 0L

  def options(traced: Boolean): Map[String, String] = Map(
    HttpOptions.Url -> endpoint.url("/sink"),
    HttpOptions.SinkRequestMode -> "batch",
    HttpOptions.SinkBatchSize -> "500",
    HttpOptions.SinkRequestCallback -> (if (traced) Tracer.CallbackName else "slf4j-logger"))

  def fixture(round: Int): Unit = {
    if (endpoint != null) endpoint.stop()
    lineitem = write(Inputs.lineitem(spark, seed), s"f$round/lineitem")
    val schema = lineitem.schema
    endpoint = new Endpoint(Array.empty, Array.empty, Array.empty, Workload.ServiceNs,
      Inputs.jsonHash(schema))
  }

  def expect(): Unit = {
    val schema = lineitem.schema
    expectedChecksum = lineitem.mapPartitions { it =>
      Iterator(it.map(Inputs.rowHash(schema)).sum)
    }(org.apache.spark.sql.Encoders.scalaLong).collect().sum
  }

  def job(id: Int, tracer: Option[Tracer]): JobResult = {
    endpoint.reset()
    endpoint.tracer = tracer.orNull
    step(tracer, "http.sink.write")(HttpSink.write(lineitem, options(tracer.isDefined)))
    val rows = rowsPerJob
    val ok = endpoint.sinkRecords.get() == rows && endpoint.sinkChecksum.get() == expectedChecksum
    if (!ok)
      System.err.println(s"[perfbench] sink_batch job $id output check FAILED: received " +
        s"${endpoint.sinkRecords.get()} records, checksum ${endpoint.sinkChecksum.get()}; " +
        s"expected $rows, $expectedChecksum")
    val requests = endpoint.sinkRequests.get().toDouble
    JobResult(rows, if (ok) 0L else rows, Map(
      "http.sink.requests" -> requests,
      "http.sink.bytes_per_row" -> endpoint.sinkBytes.get().toDouble / rows,
      "http.sink.inflight_peak" -> endpoint.sinkPeak.get().toDouble,
      "http.client.requests" -> requests,
      "requests_per_row" -> requests / rows,
      "testkit.requests" -> requests,
      "testkit.handler_p99_ms" ->
        Stats.quantile(endpoint.handlerNs.asScala.map(_.toDouble / 1e6).toSeq, 0.99)))
  }

  override def probes(): Map[String, Double] = {
    val cached = lineitem.cache()
    cached.count()
    val format = PayloadFormats("json")
    val ns = Workload.medianNs(3) {
      cached.select(format.encode(struct(cached.columns.toIndexedSeq.map(col): _*)).as("p"))
        .write.format("noop").mode("overwrite").save()
    }
    cached.unpersist(true)
    Map("http.format.encode_us_per_row" -> ns / Inputs.Lineitems / 1e3)
  }

  override def close(): Unit = if (endpoint != null) endpoint.stop()
}

/** `Dedup.nearDupSurvivors` then `Dedup.prefixJaccardPairs` (n=3,
  * threshold 0.5) over `Par.fan(documents)`, then
  * `Par.releaseCaches(blocking = true)`. Both outputs are checked against
  * the DuckDB oracle answer stored in `perfbench/golden.json`.
  */
final class DedupWorkload(spark: SparkSession, seed: Long, nproc: Int, dir: String, goldenPath: String)
    extends Workload(spark, seed, nproc, dir) {
  val name = "dedup_corpus"
  val warmupJobs = 2
  def rowsPerJob: Long = Inputs.corpus.size.toLong
  private var docs: DataFrame = _
  private var corpusOk = false
  private val golden: Map[String, String] = Golden.read(goldenPath)

  def options(traced: Boolean): Map[String, String] = Map(
    "n" -> "3", "bands" -> "4", "threshold" -> "0.5", "docs" -> Inputs.corpus.size.toString)

  def fixture(round: Int): Unit = {
    docs = write(Inputs.documents(spark, seed), s"f$round/documents")
  }

  def expect(): Unit = {
    corpusOk = Inputs.corpusDigest(Inputs.corpus) == golden.getOrElse("corpus_sha256", "")
    if (!corpusOk)
      System.err.println("[perfbench] dedup_corpus: generated corpus does not match " +
        "golden.json; rerun perfbench/oracle.py")
  }

  def job(id: Int, tracer: Option[Tracer]): JobResult = {
    val (survivors, nearNs) = step(tracer, "ops.dedup.near_dup") {
      Dedup.nearDupSurvivors(Par.fan(docs), "doc_id", "text", n = 3, bands = 4, threshold = 0.5)
        .select(col("doc_id"), col("lang"), col("source")).collect()
    }
    val (pairs, pairsNs) = step(tracer, "ops.dedup.exact_pairs") {
      Dedup.prefixJaccardPairs(Par.fan(docs), "doc_id", "text", n = 3, threshold = 0.5).collect()
    }
    val (_, releaseNs) = step(tracer, "ops.par.release")(Par.releaseCaches(blocking = true))
    val survDigest = Golden.survivorsDigest(survivors.toIndexedSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2))))
    val pairDigest = Golden.pairsDigest(pairs.toIndexedSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    val ok = corpusOk &&
      survDigest == golden.getOrElse("p_dedup_survivors", "") &&
      pairDigest == golden.getOrElse("p_prefix_jaccard", "")
    if (!ok)
      System.err.println(s"[perfbench] dedup_corpus job $id output check FAILED: " +
        s"${survivors.length} survivors ($survDigest), ${pairs.length} pairs ($pairDigest)")
    val rows = rowsPerJob
    JobResult(rows, if (ok) 0L else rows, Map(
      "ops.dedup.near_dup_s" -> nearNs / 1e9,
      "ops.dedup.exact_pairs_s" -> pairsNs / 1e9,
      "ops.par.release_ms" -> ms(releaseNs)))
  }
}

/** Digests shared with `perfbench/oracle.py`, which computes the same
  * strings from the DuckDB oracle's rows.
  */
object Golden {
  def survivorsDigest(rows: Seq[(Long, String, String)]): String =
    Inputs.sha256(rows.sortBy(_._1).map { case (id, lang, src) => s"$id|$lang|$src" })

  def pairsDigest(rows: Seq[(Long, Long, Double)]): String =
    Inputs.sha256(rows.sortBy(r => (r._1, r._2)).map { case (a, b, j) =>
      s"$a|$b|${java.math.BigDecimal.valueOf(j).setScale(6, java.math.RoundingMode.HALF_EVEN)}"
    })

  /** Flat `"key": "value"` pairs of golden.json. */
  def read(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else {
      val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      m.fieldNames().asScala.map(k => k -> m.get(k).asText()).toMap
    }
  }
}
