package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload's timed phase produced: one latency per operation,
  * and which of them ran traced (the traced run alternates). */
final case class Measured(opsMs: Array[Double], traced: Array[Boolean])

/** A benchmark workload. The harness runs [[prepare]] once to lay down
  * the inputs, times [[setup]] (repeated, median kept), runs [[warmup]]
  * untimed, then [[measure]] for the run length; checks count into the
  * run's failures. */
trait Workload {
  def prepare(): Unit
  /** Builds the state the timed phase runs against; repeatable. */
  def setup(): Unit
  def warmup(): Unit
  def measure(seconds: Double): Measured
  /** Output checks after the timed phase. */
  def verify(): Unit
  /** Per-layer probes, traced run only. */
  def probes(): Unit
  def close(): Unit
}

/** Per-run state shared by the workloads. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int, val traced: Boolean,
    val work: File, val cpus: Int) {
  val tracer = new Tracer(traced, spark.sparkContext)
  val listener: Option[JobListener] =
    if (traced) {
      val l = new JobListener(tracer)
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  /** Named workload properties and end-to-end figures, printed as the
    * run's report line. */
  val report: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  /** Per-layer metrics the workload measured. */
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  private val failedChecks = mutable.ArrayBuffer.empty[String]

  /** Count one operation or check; a false `ok` is a failure. */
  def count(ok: Boolean, what: => String = ""): Unit = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      failedChecks.synchronized { if (failedChecks.size < 20) failedChecks += what }
    }
  }
  def failures: Seq[String] = failedChecks.synchronized(failedChecks.toList)

  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

object Main {
  val Workloads: Seq[String] = Seq("ingest", "live", "curate")
  /** Set-up repetitions per run; set-up time is their median. */
  val SetupReps = 3

  /** Every per-layer metric, in output order. Layers a workload does
    * not run report 0. */
  val PerLayer: Seq[String] = Seq(
    "ingest.stamp_s", "ingest.project_s", "ingest.write_s", "ingest.files_out", "ingest.bytes_out",
    "functions.doc_time_s", "functions.tokens_s", "functions.minhash_s",
    "seqql.compile_us",
    "engine.plan_ms", "engine.exec_ms", "engine.rows_scanned_per_row_returned",
    "server.page_slice_ms", "server.prefix_fill_ms", "server.response_hit_ratio",
    "server.rebuild_ms", "server.rebuilds", "server.http_overhead_ms",
    "dataprep.gate_s", "dataprep.minhash_pairs_s", "dataprep.clusters_s", "dataprep.decontam_s",
    "dataprep.candidate_precision",
    "spark.jobs", "spark.stages", "spark.tasks",
    "spark.jobs_per_request.page", "spark.jobs_per_request.search",
    "spark.jobs_per_request.agg", "spark.jobs_per_request.bulk",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s", "spark.driver_gap_s",
    "spark.scan_mb", "spark.shuffle_write_mb", "spark.spill_mb", "spark.storage_mb",
    "loadgen.lag_p99_ms", "loadgen.in_flight_max",
    "self.ingest_s", "self.functions_s", "self.seqql_s", "self.engine_s", "self.server_s",
    "self.dataprep_s", "self.spark_s", "self.loadgen_s",
    "trace.op_p50_ms", "trace.overhead_ms")

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: --workload <" + Workloads.mkString("|") +
      "> --seed <n> --seconds <n> --trace <0|1> --work <dir>")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.length % 2 != 0) usage("arguments come in --key value pairs")
    val workload = opts.getOrElse("workload", usage("--workload is required"))
    if (!Workloads.contains(workload)) usage(s"unknown workload '$workload'")
    def num(k: String): Long = opts.get(k).flatMap(_.toLongOption).getOrElse(usage(s"--$k needs an integer"))
    val seed = num("seed")
    val seconds = num("seconds").toInt
    if (seconds < 1) usage("--seconds must be positive")
    val traced = opts.get("trace") match {
      case Some("0") => false
      case Some("1") => true
      case _ => usage("--trace must be 0 or 1")
    }
    val work = new File(opts.getOrElse("work", usage("--work is required"))).getAbsoluteFile
    val code = run(workload, seed, seconds, traced, work)
    sys.exit(code)
  }

  def run(workload: String, seed: Long, seconds: Int, traced: Boolean, work: File): Int = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // the status store keeps finished jobs, stages and SQL executions on
      // the heap even without a UI; bounded small, heap_live_mb reflects
      // graft's state instead of how many ops a run happened to finish
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ctx = new Ctx(spark, seed, seconds, traced, work, cpus)
    val w: Workload = workload match {
      case "ingest" => new IngestWorkload(ctx)
      case "live"   => new LiveWorkload(ctx)
      case "curate" => new CurateWorkload(ctx)
    }
    try {
      ctx.report("prepare_s") = ctx.timeS(w.prepare())
      val setups = (1 to SetupReps).map(_ => ctx.timeS(w.setup()))
      val warmS = ctx.timeS(w.warmup())
      val snap0 = ctx.listener.map(_.snapshot())
      val t0 = System.nanoTime()
      val m = w.measure(seconds)
      val t1 = System.nanoTime()
      val snap1 = ctx.listener.map(_.snapshot())
      val storageMb = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1048576.0
      val heapMb = liveHeapMb()
      ctx.report("verify_s") = ctx.timeS(w.verify())
      ctx.report("measure_s") = (t1 - t0) / 1e9
      if (m.opsMs.isEmpty) {
        System.err.println(s"perfbench: no operation completed; failures: ${ctx.failures.mkString(" | ")}")
        return 1
      }
      val opP50 = Stats.median(m.opsMs.toSeq)
      val opMean = m.opsMs.sum / m.opsMs.length
      val setupS = sessionS + Stats.median(setups)
      ctx.report ++= Seq("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "cpus" -> cpus, "session_s" -> sessionS, "setup_reps_s" -> setups.mkString(","),
        "warmup_s" -> warmS, "ops_ms" -> m.opsMs.map(x => math.round(x)).mkString(","),
        "ops" -> m.opsMs.length)
      Stats.tailLevel(m.opsMs.length).foreach { l =>
        ctx.report("op_tail_level") = l
        ctx.report("op_tail_ms") = Stats.percentileSorted(m.opsMs.sorted, l)
      }
      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", setupS, "s"), ("op_p50_ms", opP50, "ms"),
          ("op_mean_ms", opMean, "ms"), ("heap_live_mb", heapMb, "MB"))
        else {
          val l = ctx.listener.get
          val d = snap1.get.map { case (k, v) => k -> (v - snap0.get(k)).toDouble }
          val inPhase = l.spans.filter(s => s.startNs >= t0 && s.endNs <= t1)
          ctx.layer ++= Seq(
            "spark.jobs" -> d("jobs"), "spark.stages" -> d("stages"), "spark.tasks" -> d("tasks"),
            "spark.executor_run_s" -> d("run_ms") / 1e3, "spark.executor_cpu_s" -> d("cpu_ns") / 1e9,
            "spark.gc_s" -> d("gc_ms") / 1e3,
            "spark.driver_gap_s" -> ((t1 - t0) - Tracer.unionNs(inPhase.map(s => (s.startNs, s.endNs)))) / 1e9,
            "spark.scan_mb" -> d("input_bytes") / 1048576.0,
            "spark.shuffle_write_mb" -> d("shuffle_write_bytes") / 1048576.0,
            "spark.spill_mb" -> d("spill_bytes") / 1048576.0,
            "spark.storage_mb" -> storageMb)
          val tr = m.opsMs.indices.filter(m.traced(_)).map(m.opsMs(_))
          val un = m.opsMs.indices.filterNot(m.traced(_)).map(m.opsMs(_))
          if (tr.nonEmpty && un.nonEmpty) {
            ctx.layer("trace.op_p50_ms") = Stats.median(tr)
            ctx.layer("trace.overhead_ms") = Stats.median(tr) - Stats.median(un)
          }
          w.probes()
          Thread.sleep(300) // let the listener bus deliver the probes' last jobs
          val allJobSpans = l.spans
          for ((layer, s) <- ctx.tracer.selfSeconds(allJobSpans)) ctx.layer(s"self.${layer}_s") = s
          ctx.tracer.write(new File(work, s"spans-$workload-$seed.jsonl"), allJobSpans)
          ctx.report("call_sites") = l.callSites.toSeq.sortBy(-_._2).take(12)
            .map { case (k, v) => s"$k=$v" }.mkString("; ")
          PerLayer.map(k => (k, ctx.layer.getOrElse(k, 0.0), unitOf(k)))
        }
      ctx.report("error_rate") = ctx.failed.get.toDouble / math.max(1L, ctx.attempted.get)
      if (ctx.failures.nonEmpty) ctx.report("failures") = ctx.failures.mkString(" | ")
      println(json(Map("report" -> ctx.report.toSeq)))
      val bad = metrics.filter { case (_, v, _) => v.isNaN || v.isInfinite }
      bad.foreach { case (k, _, _) => ctx.count(ok = false, s"metric $k is not finite") }
      val correct = ctx.failed.get == 0
      println("{\"correct\":" + correct + ",\"attempted\":" + ctx.attempted.get +
        ",\"failed\":" + ctx.failed.get + ",\"metrics\":{" + metrics.map { case (k, v, u) =>
          s""""$k":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$u"}""" }.mkString(",") + "}}")
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: $workload failed: $e")
        e.printStackTrace()
        1
    } finally {
      try w.close() catch { case _: Throwable => () }
      spark.stop()
    }
  }

  /** Heap in use right after a forced full GC, from the collector's own
    * record of the heap pools after it: reading the heap afterwards
    * would also count whatever other threads allocated since. The first
    * GC lets Spark's ContextCleaner release the broadcast and shuffle
    * state of unreachable jobs, which the second one then collects. */
  def liveHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    System.gc()
    Thread.sleep(500)
    System.gc()
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    // the full collection System.gc() forces is recorded by the old-generation
    // collector; a young collection right after it would still count old garbage
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case b: com.sun.management.GarbageCollectorMXBean if b.getLastGcInfo != null => b }
    val full = beans.filter(b => b.getName.contains("Old") || b.getName.contains("MarkSweep"))
    val after = (if (full.nonEmpty) full else beans).map(_.getLastGcInfo).maxBy(_.getEndTime)
    after.getMemoryUsageAfterGc.asScala.collect {
      case (pool, u) if heapPools(pool) => u.getUsed
    }.sum / 1048576.0
  }

  def unitOf(metric: String): String = {
    val tail = metric.substring(metric.lastIndexOf('.') + 1)
    if (tail.endsWith("_ms")) "ms"
    else if (tail.endsWith("_us")) "us"
    else if (tail.endsWith("_s")) "s"
    else if (tail.endsWith("_mb")) "MB"
    else if (tail.endsWith("ratio") || tail.endsWith("precision") ||
      tail.startsWith("rows_scanned_per")) "ratio"
    else "count"
  }

  /** Minimal JSON rendering of the report line. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => graft.model.Json.quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => json(m.toSeq)
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) =>
      kv.map { case (k, x) => graft.model.Json.quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => graft.model.Json.quote(other.toString)
  }
}
