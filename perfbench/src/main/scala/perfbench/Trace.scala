package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed interval at a layer boundary. `layer` is the name's prefix
  * up to the first dot; `parent` 0 marks a root; spans of one request
  * share `request`. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, it runs bodies untouched. Jobs a
  * span's thread starts carry the span id as a local property, so
  * [[JobListener]] can parent them. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def record(s: Span): Unit = if (enabled) spans.add(s)
  def nextId(): Long = ids.incrementAndGet()

  def span[T](name: String, request: Long = 0, on: Boolean = true)(body: => T): T =
    if (!enabled || !on) body
    else {
      val id = ids.incrementAndGet()
      val parent: Long = current.get()
      current.set(id)
      val prevProp = sc.getLocalProperty(Tracer.SpanProperty)
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, parent, request, t0, System.nanoTime()))
        sc.setLocalProperty(Tracer.SpanProperty, prevProp)
        current.set(parent)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer in seconds: each span's duration minus the
    * part of it its children cover. */
  def selfSeconds(extra: Seq[Span]): Map[String, Double] = Tracer.selfSeconds(all ++ extra)

  /** Spans as JSON lines, for offline inspection. */
  def write(file: java.io.File, extra: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try (all ++ extra).sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"name":${graft.model.Json.quote(s.name)},"parent":${s.parent},""" +
        s""""request":${s.request},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Length of the union of intervals. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = unionNs(kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a })
        (s.durNs - covered).toDouble
      }.sum / 1e9
    }
  }
}

/** Spark job/stage/task accounting through the public listener API. */
final class JobListener(tracer: Tracer) extends SparkListener {
  // wall-clock ms of SparkListener events are mapped onto nanoTime via
  // one offset taken at construction
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + offsetNs

  import JobListener.Job
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val jobSpans = new ConcurrentLinkedQueue[(Job, Long)]()
  val jobs = new AtomicLong()
  val stages = new AtomicLong()
  val tasks = new AtomicLong()
  val runMs = new AtomicLong()
  val cpuNs = new AtomicLong()
  val gcMs = new AtomicLong()
  val inputBytes = new AtomicLong()
  val shuffleWriteBytes = new AtomicLong()
  val spillBytes = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).map(_.toLong).getOrElse(0L)
    // the first stage's name is the job's short call site
    val site = e.stageInfos.headOption.map(_.name).getOrElse("?")
    starts.put(e.jobId, Job(e.jobId, ns(e.time), parent, site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = starts.remove(e.jobId)
    if (j != null) jobSpans.add((j, ns(e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    ()
  }

  /** Completed jobs as spans (name `spark.job`), parented to the
    * benchmark span that started them. */
  def spans: Seq[Span] = jobSpans.asScala.toSeq.map { case (j, end) =>
    Span(tracer.nextId(), "spark.job", j.parentSpan, 0, j.startNs, end)
  }

  /** Jobs started in [fromNs, toNs). */
  def jobsStartedBetween(fromNs: Long, toNs: Long): Int =
    (jobSpans.asScala.map(_._1) ++ starts.values().asScala)
      .count(j => j.startNs >= fromNs && j.startNs < toNs)

  def callSites: Map[String, Int] =
    jobSpans.asScala.toSeq.groupBy(_._1.callSite).map { case (k, v) => k -> v.size }

  /** Counter snapshot, for differencing around a phase. */
  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get, "run_ms" -> runMs.get,
    "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get, "input_bytes" -> inputBytes.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get, "spill_bytes" -> spillBytes.get)
}

object JobListener {
  final case class Job(id: Int, startNs: Long, parentSpan: Long, callSite: String)
}
