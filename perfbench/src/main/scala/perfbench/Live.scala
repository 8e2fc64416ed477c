package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.engine.{AggFunc, AggRequest, SearchRequest}
import graft.ingest.BulkIngest
import graft.server.{EsHttpFacade, RateLimits}

/** `live`: a shipper POSTs fixed-size `/_bulk` bodies at a fixed rate
  * into a serving-mode facade over a sink that only `/_bulk` writes, a
  * prober searches for each body's marker until it is visible, and an
  * open-loop read mix (page, search, agg) runs at fixed per-class rates
  * over loopback HTTP meanwhile. Every append moves the sink
  * generation, so reads after it pay the serving core's rebuild. */
final class LiveWorkload(ctx: Ctx) extends Workload {
  import Workloads._
  val InitialDocs = 5000
  val BulkDocs = 200
  val BulkRate = 1.25
  /** Offered rate per read class, requests per second. */
  val rates: Seq[(String, Double)] = Seq("page" -> 0.6, "search" -> 0.15, "agg" -> 0.15)
  // the shipper and the prober take the other two of nproc client threads
  private val readWorkers: Int = math.max(1, ctx.cpus - 2)
  private val WarmSeconds = 4.0
  private val SearchHistogram = "seq_db_search_duration_seconds"

  private val sinkDir = new File(ctx.work, "live/sink")
  private var facade: EsHttpFacade = _
  private var http: Http = _
  private var initial: Gen.BulkBodies = _
  private var bodies: Gen.BulkBodies = _
  private var queries: Array[(String, Long)] = _
  private var streams: Map[String, Array[Gen.Request]] = Map.empty
  private var used: Map[String, Int] = Map.empty
  /** Docs POSTed so far, counted before each POST: an upper bound on
    * what any read can see. */
  private val written = new AtomicLong()
  private val acked = new AtomicLong()
  private val pinMs = mutable.ArrayBuffer.empty[Double]
  private val bulkMs = mutable.ArrayBuffer.empty[Double]
  private val freshMs = mutable.ArrayBuffer.empty[Double]
  private val generations = ConcurrentHashMap.newKeySet[Long]()
  private val hits = new AtomicLong()
  private val probed = new AtomicLong()
  private var readLat: Map[String, Array[Double]] = Map.empty
  private var loop: OpenLoop.Result = _
  private var nextBody = 0

  /** Stops the previous facade and releases its pinned table. */
  private def stopFacade(): Unit = if (facade != null) {
    facade.stop()
    if (pinMs.nonEmpty) facade.core.engine.table.df.unpersist(blocking = true)
    facade = null
  }

  private def startFacade(): Unit = {
    facade = new EsHttpFacade(ctx.spark, LogMapping, sinkDir.getPath, serving = true,
      limits = RateLimits(maxInflight = 4 * ctx.cpus))
    http = new Http(facade.start())
  }

  /** Builds the serving state and pins the table (what the first read
    * after a sink change pays). */
  private def pin(): Unit =
    pinMs += ctx.timeS { facade.core.engine.table.df.count(); () } * 1e3

  /** POSTs one bulk body of `docs` docs: "" when acked, else what the
    * server answered. */
  private def post(body: String, docs: Int): String = {
    written.addAndGet(docs)
    val (code, resp) = http.post("/_bulk", body)
    if (code == 200 && resp.contains("\"errors\":false")) "" else s"bulk answered $code ${resp.take(200)}"
  }

  private def takeBody(): Int = { val k = nextBody; nextBody += 1; k }

  /** Takes the next `n` requests of a class from its seeded stream. */
  private def take(cls: String, n: Int): Array[Gen.Request] = {
    if (!streams.contains(cls))
      streams += cls -> Gen.readRequests(ctx.seed, cls, 4000, initial.corpus, queries)
    val from = used.getOrElse(cls, 0)
    used += cls -> (from + n)
    streams(cls).slice(from, from + n)
  }

  /** The initial sink, written through `/_bulk` only. */
  def prepare(): Unit = {
    initial = Gen.bulkBodies(ctx.seed, 1, InitialDocs, "i")
    bodies = Gen.bulkBodies(ctx.seed, 200, BulkDocs, "m")
    queries = Gen.pageQueries(initial.corpus)
    startFacade()
    val err = post(initial.bodies(0), InitialDocs)
    ctx.count(err.isEmpty, err)
  }

  def setup(): Unit = {
    stopFacade()
    startFacade()
    pin()
  }

  /** One checked read; with `traced`, records a due-to-done request
    * span, a send-to-done HTTP span, the sink generation and whether
    * the response cache held the body. */
  private def read(r: Gen.Request, dueNs: Long, traced: Boolean, reqId: Long): Boolean = {
    if (traced) {
      generations.add(facade.core.generation())
      if (r.path == "/search") {
        probed.incrementAndGet()
        if (facade.core.cachedResponse(r.body).isDefined) hits.incrementAndGet()
      }
    }
    val sent = System.nanoTime()
    val (code, resp) = http.post(r.path, r.body)
    val ok = Http.check(code, resp, r.expect, written.get)
    if (traced) {
      val done = System.nanoTime()
      val id = ctx.tracer.nextId()
      ctx.tracer.record(Span(id, s"loadgen.${r.cls}", 0, reqId, dueNs, done))
      ctx.tracer.record(Span(ctx.tracer.nextId(), "server.http", id, reqId, sent, done))
    }
    ok
  }

  /** Open loop over the read classes for `seconds`. */
  private def readLoop(seconds: Double, record: Boolean): Unit = {
    val plan = rates.flatMap { case (cls, rate) =>
      val due = OpenLoop.schedule(rate, seconds)
      val reqs = take(cls, due.length)
      due.indices.map(i => (due(i), reqs(i)))
    }.sortBy(_._1).toArray
    val start = System.nanoTime()
    val res = OpenLoop.run(plan.map(_._1), readWorkers, start) { i =>
      read(plan(i)._2, start + plan(i)._1, ctx.traced && i % 2 == 0, i)
    }
    if (record) {
      res.samples.foreach(s => ctx.count(s.ok, s"${plan(s.index)._2.cls} ${plan(s.index)._2.body}"))
      loop = res
      readLat = res.samples.groupBy(s => plan(s.index)._2.cls).map { case (k, v) => k -> v.map(_.latencyMs) }
    }
  }

  /** Ships bodies at [[BulkRate]] for `seconds` while a prober waits for
    * each marker and the read mix runs; returns (due-to-visible ms per
    * body, bodies not seen). */
  private def shipAndProbe(seconds: Double, record: Boolean): (Array[Double], Int) = {
    val due = OpenLoop.schedule(BulkRate, seconds)
    val ks = due.map(_ => takeBody())
    val start = System.nanoTime()
    val ackNs = new ConcurrentHashMap[Int, java.lang.Long]()
    val visibleNs = new ConcurrentHashMap[Int, java.lang.Long]()
    @volatile var shipped = false
    val shipper = new Thread(() => {
      try for (i <- due.indices) {
        val wait = start + due(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val t0 = start + due(i)
        val sent = System.nanoTime()
        val err = post(bodies.bodies(ks(i)), BulkDocs)
        val ok = err.isEmpty
        if (ok) { acked.addAndGet(BulkDocs); ackNs.put(i, System.nanoTime()) }
        if (ctx.traced && i % 2 == 0)
          ctx.tracer.record(Span(ctx.tracer.nextId(), "server.bulk", 0, -1 - i, sent, System.nanoTime()))
        if (record) { bulkMs.synchronized(bulkMs += (System.nanoTime() - t0) / 1e6); ctx.count(ok, s"bulk ${ks(i)}: $err") }
      } finally shipped = true
    }, "perfbench-shipper")
    val prober = new Thread(() => {
      // one search per round asks for every pending marker, so a marker's
      // visibility never waits behind probes for the others
      val deadline = start + ((seconds + 20) * 1e9).toLong
      while ((!shipped || visibleNs.size < ackNs.size) && System.nanoTime() < deadline) {
        val pending = ackNs.keySet().asScala.toSeq.sorted.filterNot(visibleNs.containsKey)
        if (pending.nonEmpty) {
          val q = pending.map(i => s"message:${bodies.markers(ks(i))}").mkString(" or ")
          val (code, resp) = http.post("/search", s"""{"query":"$q","size":${pending.size + 10}}""")
          val now = System.nanoTime()
          if (code == 200) for (i <- pending if resp.contains(bodies.markers(ks(i)) + "\\\"")) visibleNs.put(i, now)
        }
        Thread.sleep(20)
      }
    }, "perfbench-prober")
    shipper.start(); prober.start()
    readLoop(seconds, record)
    shipper.join(); prober.join()
    val lat = due.indices.filter(visibleNs.containsKey).map { i =>
      if (record) freshMs += (visibleNs.get(i) - ackNs.get(i)) / 1e6
      (visibleNs.get(i) - (start + due(i))) / 1e6
    }.toArray
    (lat, ackNs.size - visibleNs.size)
  }

  def warmup(): Unit = { shipAndProbe(WarmSeconds, record = false); () }

  def measure(seconds: Double): Measured = {
    val (lat, unseen) = shipAndProbe(seconds, record = true)
    for (_ <- 0 until unseen) ctx.count(ok = false, "acked marker never became visible")
    lat.foreach(_ => ctx.count(ok = true))
    Measured(lat, lat.indices.map(i => ctx.traced && i % 2 == 0).toArray)
  }

  def verify(): Unit = {
    Thread.sleep(1100) // the serving core re-probes the sink at most once a second
    val expected = InitialDocs + acked.get
    val (code, resp) = http.post("/aggregate", """{"query":"*","func":"count","group_by":"status"}""")
    val seen = if (code == 200) Http.counts(resp).values.sum else -1L
    ctx.count(seen == expected, s"live count $seen != initial + acked $expected")
    val b = bulkMs.toArray.sorted
    ctx.report ++= Seq(
      "initial_docs" -> InitialDocs, "bulk_docs" -> BulkDocs, "bulk_rate_per_s" -> BulkRate,
      "bulks" -> b.length, "final_docs" -> seen,
      "page_queries_distinct" -> queries.length, "prefix_cache_cap" -> 64,
      "pin_ms" -> Stats.median(pinMs.toSeq))
    if (b.nonEmpty) {
      ctx.report("bulk_p50_ms") = Stats.median(b.toSeq)
      reportTail("bulk", b, 0.9)
    }
    if (freshMs.nonEmpty) ctx.report("freshness_p50_ms") = Stats.median(freshMs.toSeq)
    reportClass("page", 0.99)
    reportClass("search", 0.95)
    reportClass("agg", 0.95)
    ctx.report("offered_rates_per_s") = rates.map { case (k, v) => s"$k=$v" }.mkString(",")
  }

  /** Reports `<cls>_p<q>_ms` when it keeps ten samples beyond it, else
    * the rule's tail `<cls>_tail_ms` and its level. */
  private def reportTail(cls: String, sorted: Array[Double], q: Double): Unit =
    if (Stats.tailValid(sorted.length, q)) ctx.report(s"${cls}_p${math.round(q * 100)}_ms") = Stats.percentileSorted(sorted, q)
    else Stats.tailLevel(sorted.length).foreach { l =>
      ctx.report(s"${cls}_tail_ms") = Stats.percentileSorted(sorted, l)
      ctx.report(s"${cls}_tail_level") = l
    }

  private def reportClass(cls: String, q: Double): Unit = {
    val s = readLat.getOrElse(cls, Array.empty[Double]).sorted
    ctx.report(s"${cls}_n") = s.length
    if (s.nonEmpty) ctx.report(s"${cls}_p50_ms") = Stats.median(s.toSeq)
    reportTail(cls, s, q)
  }

  def probes(): Unit = {
    val lags = loop.samples.map(_.lagMs).sorted
    ctx.layer("loadgen.lag_p99_ms") = Stats.percentileSorted(lags, 0.99)
    ctx.layer("loadgen.in_flight_max") = loop.inFlightMax
    // a sink change, then the first read's rebuild and re-pin
    val err = post(bodies.bodies(takeBody()), BulkDocs)
    ctx.count(err.isEmpty, err)
    acked.addAndGet(BulkDocs)
    Thread.sleep(1100)
    pin()
    ctx.layer("server.rebuild_ms") = pinMs.last
    val lines = ctx.spark.createDataset(bodies.bodies(takeBody()).split("\n").toSeq)(
      org.apache.spark.sql.Encoders.STRING).toDF("value")
    ctx.layer("ingest.stamp_s") = probe(ctx, "ingest.stamp")(noop(BulkIngest.stamp(lines, System.currentTimeMillis())))
    ctx.layer("ingest.project_s") = probe(ctx, "ingest.project") {
      noop(BulkIngest.project(lines, LogMapping, System.currentTimeMillis()))
    }
    val scratch = new File(ctx.work, "live/probe-sink")
    ctx.layer("ingest.write_s") = probe(ctx, "ingest.write") {
      BulkIngest.project(lines, LogMapping, System.currentTimeMillis())
        .write.mode("append").parquet(scratch.getPath)
    }
    val files = parquetFiles(sinkDir)
    ctx.layer("ingest.files_out") = files.size
    ctx.layer("ingest.bytes_out") = files.map(_.length).sum.toDouble
    ctx.layer("spark.jobs_per_request.bulk") = jobsPerBulk((1 to 4).map(_ => bodies.bodies(takeBody())))
    Thread.sleep(1100) // the next reads see the bulks above, so they do not rebuild mid-probe
    engineProbes()
    serverProbes()
    jobsAndHttpOverhead()
  }

  /** Rows the plan's leaf scans produced (SQL metrics, after execution). */
  private def scannedRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scannedRows(a.executedPlan)
    case q: QueryStageExec => scannedRows(q.plan)
    case leaf if leaf.children.isEmpty =>
      leaf.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case other => other.children.map(scannedRows).sum +
      other.subqueries.map(scannedRows).sum
  }

  /** seqql and engine probes through the public functions the facade
    * calls. */
  private def engineProbes(): Unit = {
    val eng = facade.core.engine
    val searches = Seq(
      SearchRequest("status:in(404, 500, 503)", 0L, Long.MaxValue, 100, 0),
      SearchRequest("size:[1000 to 3000]", 0L, Long.MaxValue, 100, 0))
    val aggs = Seq("*" -> AggRequest(AggFunc.Count, groupBy = Some("status")))
    val distinct = (queries.map(_._1).toSeq ++ searches.map(_.query) ++ aggs.map(_._1)).distinct
    distinct.foreach(eng.compileFilter) // warm
    val compileUs = distinct.map { q =>
      ctx.timeS(ctx.tracer.span("seqql.compile")(eng.compileFilter(q))) * 1e6
    }
    ctx.layer("seqql.compile_us") = Stats.median(compileUs)
    val planMs = mutable.ArrayBuffer.empty[Double]
    val execMs = mutable.ArrayBuffer.empty[Double]
    var scanned = 0L
    var returned = 0L
    val frames = searches.map(r => () => eng.search(r)) ++
      aggs.map { case (q, a) => () => eng.aggregate(q, 0L, Long.MaxValue, a) }
    for (f <- frames ++ frames) ctx.tracer.span("engine.request") {
      var df: org.apache.spark.sql.DataFrame = null
      planMs += ctx.timeS(ctx.tracer.span("engine.plan") {
        df = f(); df.queryExecution.executedPlan; ()
      }) * 1e3
      var rows = 0
      execMs += ctx.timeS(ctx.tracer.span("engine.exec") { rows = df.collect().length }) * 1e3
      scanned += scannedRows(df.queryExecution.executedPlan)
      returned += rows
    }
    ctx.layer("engine.plan_ms") = Stats.median(planMs.toSeq)
    ctx.layer("engine.exec_ms") = Stats.median(execMs.toSeq)
    ctx.layer("engine.rows_scanned_per_row_returned") = scanned.toDouble / math.max(1L, returned)
  }

  /** Serving-core probes: page slices off a cached prefix, prefix fills,
    * and the response-cache and rebuild counts the traced reads saw. */
  private def serverProbes(): Unit = {
    val hot = "level:info"
    val slice = (1 to 10).map { k =>
      val req = SearchRequest(hot, 0L, Long.MaxValue, 100, (k % 50) * 100)
      facade.core.servingPage(req)
      ctx.timeS(ctx.tracer.span("server.page_slice")(facade.core.servingPage(req))) * 1e3
    }
    ctx.layer("server.page_slice_ms") = Stats.median(slice)
    // a time bound no read uses gives each probe its own, empty, prefix entry
    val fill = queries.take(8).zipWithIndex.map { case ((q, _), k) =>
      val req = SearchRequest(q, 0L, Long.MaxValue - 1 - k, 100, 0)
      ctx.timeS(ctx.tracer.span("server.prefix_fill")(facade.core.servingPage(req))) * 1e3
    }
    ctx.layer("server.prefix_fill_ms") = Stats.median(fill.toSeq)
    ctx.layer("server.response_hit_ratio") = hits.get.toDouble / math.max(1L, probed.get)
    ctx.layer("server.rebuilds") = math.max(0, generations.size - 1)
  }

  /** Sends six requests of each read class one at a time, with the
    * shipper and prober stopped: each Spark job that starts while a
    * request is in flight is attributed to it, and the facade's
    * `/metrics` handler histogram around them gives the handler time
    * that `server.http_overhead_ms` subtracts from the client's. */
  private def jobsAndHttpOverhead(): Unit = {
    val l = ctx.listener.get
    val (sum0, n0) = http.histogram(SearchHistogram)
    var clientNs = 0L
    var sent = 0
    for ((cls, _) <- rates) {
      val windows = take(cls, 6).toSeq.map { r =>
        val t0 = System.nanoTime()
        val (code, resp) = http.post(r.path, r.body)
        val t1 = System.nanoTime()
        ctx.count(Http.check(code, resp, r.expect, written.get), s"probe ${r.cls} ${r.body}")
        clientNs += t1 - t0
        sent += 1
        (t0, t1)
      }
      Thread.sleep(300) // job-start events are timestamped at submit; wait for delivery
      ctx.layer(s"spark.jobs_per_request.$cls") =
        windows.map { case (a, b) => l.jobsStartedBetween(a, b) }.sum.toDouble / windows.size
    }
    val (sum1, n1) = http.histogram(SearchHistogram)
    if (n1 - n0 == sent)
      ctx.layer("server.http_overhead_ms") = clientNs / 1e6 / sent - (sum1 - sum0) / sent * 1e3
    else ctx.count(ok = false, s"handler histogram counted ${n1 - n0} requests, $sent sent")
  }

  private def jobsPerBulk(bs: Seq[String]): Double = {
    val l = ctx.listener.get
    val windows = bs.map { b =>
      val t0 = System.nanoTime()
      val err = post(b, BulkDocs)
      ctx.count(err.isEmpty, err)
      acked.addAndGet(BulkDocs)
      (t0, System.nanoTime())
    }
    Thread.sleep(300)
    windows.map { case (a, b) => l.jobsStartedBetween(a, b) }.sum.toDouble / bs.size
  }

  def close(): Unit = stopFacade()
}
