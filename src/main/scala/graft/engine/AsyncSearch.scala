package graft.engine

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, Executors, Future => JFuture}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Async search (X1, SURVEY.md §2.10): fire a search in the background,
  * persist the result so it survives restarts, poll/fetch/cancel by id.
  * The reference persists per-fraction QPRs (fracmanager/async_searcher
  * .go:52-260); here the finished result lands as parquet under
  * `resultsDir/<searchId>` with a status marker file — partial-progress
  * checkpointing is delegated to Spark's own stage retry machinery.
  */
final class AsyncSearchManager(spark: SparkSession, resultsDir: String, parallelism: Int = 4) {

  sealed trait Status
  case object Running extends Status
  case object Done extends Status
  case object Canceled extends Status
  final case class Failed(err: String) extends Status

  private val pool = new AsyncPool(parallelism)
  private val jobs = new ConcurrentHashMap[String, JFuture[_]]()

  private def statusPath(id: String) = Paths.get(s"$resultsDir/$id.status")
  private def dataPath(id: String) = s"$resultsDir/$id"

  /** Submit; returns immediately. `query` runs on a separate thread in
    * its own Spark job group so cancel() can kill its stages. */
  def start(id: String, query: => DataFrame): Unit = {
    Files.createDirectories(Paths.get(resultsDir))
    Files.writeString(statusPath(id), "RUNNING")
    val task = pool.submit(s"async-$id") {
      spark.sparkContext.setJobGroup(s"async-$id", s"async search $id", interruptOnCancel = true)
      try {
        query.write.mode("overwrite").parquet(dataPath(id))
        Files.writeString(statusPath(id), "DONE")
      } catch {
        case e: Throwable =>
          if (Files.readString(statusPath(id)) != "CANCELED")
            Files.writeString(statusPath(id), s"FAILED:${e.getMessage}")
      } finally spark.sparkContext.clearJobGroup()
    }
    jobs.put(id, task)
  }

  def status(id: String): Status = {
    if (!Files.exists(statusPath(id))) return Failed("unknown search id")
    Files.readString(statusPath(id)) match {
      case "RUNNING"                 => Running
      case "DONE"                    => Done
      case "CANCELED"                => Canceled
      case s if s.startsWith("FAILED") => Failed(s.stripPrefix("FAILED:"))
      case other                     => Failed(s"corrupt status: $other")
    }
  }

  /** Fetch the persisted result (only when Done). Survives manager
    * restarts — any new manager over the same resultsDir can serve it. */
  def fetch(id: String): Option[DataFrame] =
    if (status(id) == Done) Some(spark.read.parquet(dataPath(id))) else None

  def cancel(id: String): Boolean = {
    val f = jobs.get(id)
    if (f == null || f.isDone) false
    else {
      Files.writeString(statusPath(id), "CANCELED")
      spark.sparkContext.cancelJobGroup(s"async-$id")
      f.cancel(true)
      true
    }
  }

  /** Wait (test helper) until the job leaves Running, up to timeoutMs. */
  def await(id: String, timeoutMs: Long): Status = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (status(id) == Running && System.currentTimeMillis() < deadline) Thread.sleep(50)
    status(id)
  }

  def shutdown(): Unit = pool.shutdown(spark)
}

/** Chunked async search: the reference persists per-fraction partial
  * results so a long search survives restarts and can serve partial
  * answers while running (fracmanager/async_searcher.go:52-260). Here
  * the time range splits into interval-aligned chunks (fraction
  * analogue), each chunk's matches are written under
  * `resultsDir/<id>/chunk=<startMs>` with a done-marker, newest first;
  * a restart [[resume]]s from the missing chunks and [[fetchPartial]]
  * serves whatever is complete at any moment.
  */
final class ChunkedAsyncSearcher(spark: SparkSession, resultsDir: String) {

  private val pool = new AsyncPool(2)

  private def idDir(id: String) = s"$resultsDir/$id"
  private def chunkDir(id: String, startMs: Long) = s"${idDir(id)}/chunk=$startMs"
  private def marker(id: String, startMs: Long) =
    Paths.get(s"${idDir(id)}/.done_$startMs")
  private def cancelMarker(id: String) = Paths.get(s"${idDir(id)}/.canceled")

  def chunkStarts(fromMs: Long, toMs: Long, chunkMs: Long): Seq[Long] =
    (fromMs / chunkMs * chunkMs) to toMs by chunkMs

  /** Run (or resume) search `id`: skips chunks whose done-marker
    * exists, processes the rest newest-first, stops between chunks
    * when [[cancel]] has marked the id (already-persisted partials
    * stay fetchable, matching CancelAsyncSearch semantics) or
    * [[shutdown]] is stopping the pool it runs in (a restart resumes
    * it; a call made outside the pool never sees a stop). Blocking
    * variant — submit via [[startAsync]] for fire-and-forget. */
  def run(id: String, engine: SeqEngine, query: String,
      fromMs: Long, toMs: Long, chunkMs: Long = 86400000L): Unit = {
    Files.createDirectories(Paths.get(idDir(id)))
    val spark = engine.table.df.sparkSession
    spark.sparkContext.setJobGroup(s"async-$id", s"async search $id",
      interruptOnCancel = true)
    try {
      val todo = chunkStarts(fromMs, toMs, chunkMs).reverse
        .filterNot(s => Files.exists(marker(id, s)))
      todo.foreach { start =>
        if (!isCanceled(id) && !pool.stopping) {
          val lo = math.max(start, fromMs)
          val hi = math.min(start + chunkMs - 1, toMs)
          engine.matches(query, lo, hi)
            .write.mode("overwrite").parquet(chunkDir(id, start))
          Files.writeString(marker(id, start), "done")
        }
      }
      if (!isCanceled(id) && !pool.stopping)
        Files.writeString(Paths.get(s"${idDir(id)}/.complete"), "done")
    } catch {
      // a canceled job group surfaces as SparkException in-flight —
      // swallow it only for canceled ids or a stopping searcher, the
      // partials are still valid
      case _: Throwable if isCanceled(id) || pool.stopping => ()
    } finally spark.sparkContext.clearJobGroup()
  }

  /** Cancel `id`: no-op (false) when already complete; otherwise marks
    * the id (the run loop stops between chunks), kills its in-flight
    * Spark stages via the job group, and returns true. Persisted
    * partial chunks remain fetchable. */
  def cancel(id: String, spark: SparkSession): Boolean = {
    if (isComplete(id)) return false
    Files.createDirectories(Paths.get(idDir(id)))
    Files.writeString(cancelMarker(id), "canceled")
    spark.sparkContext.cancelJobGroup(s"async-$id")
    true
  }

  def isCanceled(id: String): Boolean = Files.exists(cancelMarker(id))

  /** Delete `id`'s persisted results entirely — the retention-expiry
    * reclaim (unlike [[cancel]], works on COMPLETE searches too: a
    * finished result past its retention must actually leave the disk).
    * Stops any in-flight work first. Idempotent. */
  def purge(id: String, spark: SparkSession): Unit = {
    if (!isComplete(id)) {
      try cancel(id, spark) catch { case _: Throwable => () }
    }
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    val d = new java.io.File(idDir(id))
    if (d.exists()) rm(d)
  }

  def startAsync(id: String, engine: SeqEngine, query: String,
      fromMs: Long, toMs: Long, chunkMs: Long = 86400000L): Unit = {
    // persist the request BEFORE the first chunk runs: a process that
    // dies anywhere after StartAsyncSearch leaves enough on disk for a
    // restarted store to resume the remaining chunks
    // (fracmanager/async_searcher.go:52-260 — progress survives
    // restart, not just completed results)
    Files.createDirectories(Paths.get(idDir(id)))
    AsyncSearchFiles.writeAtomic(Paths.get(s"${idDir(id)}/.request"),
      s"$fromMs\u0000$toMs\u0000$chunkMs\u0000$query"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    pool.submit(s"async-$id")(run(id, engine, query, fromMs, toMs, chunkMs))
    ()
  }

  /** Resume every search whose persisted request has neither a
    * completion nor a cancel marker — what a restarted store calls
    * once, with its rebuilt engine. Done chunks are skipped by their
    * markers inside [[run]]; only the missing ones re-execute. Returns
    * the resumed ids. */
  def resumeIncomplete(engine: => SeqEngine): Seq[String] = {
    val root = new java.io.File(resultsDir)
    if (!root.isDirectory) return Nil
    val ids = root.listFiles().filter(_.isDirectory).map(_.getName).toSeq
      .filter { id =>
        Files.exists(Paths.get(s"${idDir(id)}/.request")) &&
          !isComplete(id) && !isCanceled(id)
      }
    // per-id isolation: one corrupt/truncated .request (crash mid-write
    // on an old release, disk fault) must not abort the whole resume —
    // and with it the server start that calls this lazily. Log + skip.
    ids.filter { id =>
      try {
        val Array(from, to, chunk, query) =
          Files.readString(Paths.get(s"${idDir(id)}/.request")).split("\u0000", 4)
        startAsync(id, engine, query, from.toLong, to.toLong, chunk.toLong)
        true
      } catch {
        case e: Throwable =>
          System.err.println(
            s"[async-resume] skipping unparseable search dir '$id': $e")
          false
      }
    }
  }

  def isComplete(id: String): Boolean =
    Files.exists(Paths.get(s"${idDir(id)}/.complete"))

  /** Merge of all COMPLETED chunks (may be a partial answer). */
  def fetchPartial(id: String): Option[DataFrame] = {
    val dir = new java.io.File(idDir(id))
    if (!dir.isDirectory) return None
    val done = dir.listFiles().filter(_.getName.startsWith(".done_"))
      .map(_.getName.stripPrefix(".done_").toLong)
    if (done.isEmpty) return None
    val paths = done.sorted.map(s => chunkDir(id, s))
    Some(spark.read.parquet(paths.toIndexedSeq: _*))
  }

  def completedChunks(id: String): Int = {
    val dir = new java.io.File(idDir(id))
    if (!dir.isDirectory) 0
    else dir.listFiles().count(_.getName.startsWith(".done_"))
  }

  def shutdown(): Unit = pool.shutdown(spark)
}

/** The worker pool of an async searcher. Re-creatable: a server stop()
  * shuts it down, and a restarted server (same searcher instance, e.g.
  * across test lifecycles) must be able to accept new submissions. */
private[engine] final class AsyncPool(threads: Int) {
  /** One pool, from the submission that created it to its shutdown. */
  private final class Life {
    val exec: java.util.concurrent.ExecutorService = Executors.newFixedThreadPool(threads)
    @volatile var stopping = false
  }
  private val ShutdownWaitMs = 30000L
  @volatile private var life: Life = _
  // the pool a worker thread belongs to, while it runs a search
  private val worker = new ThreadLocal[Life]
  // job groups of the submitted searches running now
  private val active = ConcurrentHashMap.newKeySet[String]()

  /** True inside a worker whose pool [[shutdown]] is stopping: a
    * running search stops before its next job. Always false outside
    * the pool's workers, so a blocking caller is never cut short. */
  def stopping: Boolean = {
    val l = worker.get()
    l != null && l.stopping
  }

  /** Runs `body`, a search whose Spark jobs run in job group `group`. */
  def submit(group: String)(body: => Unit): JFuture[_] = synchronized {
    if (life == null || life.exec.isShutdown) life = new Life
    val l = life
    l.exec.submit(new Runnable {
      // a search still queued when shutdown began never starts
      override def run(): Unit = if (!l.stopping) {
        worker.set(l)
        active.add(group)
        try body finally { active.remove(group); worker.remove() }
      }
    })
  }

  /** Stops the pool and waits, up to 30 s, for its workers to end.
    * Workers are not interrupted: one interrupted inside a Spark job
    * stops waiting for it, but the job — a chunk write — runs on after
    * the server stopped and races a restarted server's resume of the
    * same chunk (whose output commit is then denied). Instead the
    * running searches' job groups are canceled until the pool is empty
    * — again each round, for a worker that launched its next job just
    * before it saw [[stopping]]. */
  def shutdown(spark: SparkSession): Unit = synchronized {
    val l = life
    if (l != null) {
      l.stopping = true
      l.exec.shutdown()
      val deadline = System.currentTimeMillis() + ShutdownWaitMs
      var ended = false
      while (!ended && System.currentTimeMillis() < deadline) {
        active.forEach(g => spark.sparkContext.cancelJobGroup(g))
        ended = l.exec.awaitTermination(50, java.util.concurrent.TimeUnit.MILLISECONDS)
      }
      if (!ended) l.exec.shutdownNow()
      ()
    }
  }
}

/** Crash-safe small-file persistence for the async-search metadata:
  * write to a sibling temp file, then rename into place (ATOMIC_MOVE
  * where the filesystem supports it). Readers either see the complete
  * old content or the complete new content, never a truncated write —
  * the same tmp-file+rename discipline the reference uses for its
  * persisted async state (fracmanager/async_searcher.go).
  */
private[graft] object AsyncSearchFiles {
  import java.nio.file.{Path, StandardCopyOption}

  def writeAtomic(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(
      target.getFileName.toString + ".tmp-" + java.lang.Long.toHexString(
        Thread.currentThread().getId ^ System.nanoTime()))
    Files.write(tmp, bytes)
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
