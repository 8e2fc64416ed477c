package graft.server

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.engine.{DocsTable, SearchRequest, SeqEngine}
import graft.model.SeqMapping

/** Serving-mode machinery shared by the HTTP facade and the gRPC API:
  * a generation-cached engine over a memory-pinned docs table, memoized
  * request plans, a response cache, and the incremental top-page scan.
  *
  * Visibility contract: an in-process append (the facade's `/_bulk`,
  * run through [[publishAppend]]) is visible to the very next read;
  * any other writer of the sink is visible within 1 s.
  *
  *   - In-process appends cost no re-pin of their own. Spark's writer
  *     ends every file-source insert with
  *     `CacheManager.recacheByPath(sinkDir)`, which refreshes the pinned
  *     table's file index in place, so the pinned frame already covers
  *     the new files. [[publishAppend]] only moves the generation: it
  *     drops the memoized plans and cached responses (a memoized plan
  *     holds the old in-memory relation's physical plan and would
  *     replay the old files) and re-lists the day partitions.
  *   - Everything else — another writer, a mapping edit, the first
  *     build, an in-process append that brings a column the pinned
  *     table lacks or grows a memory pin past `maxPinnedBytes` — is
  *     picked up by a directory signature re-checked at most once per
  *     second (the very next read, for such an append), and rebuilds
  *     the table in full: a fresh mergeSchema read, then a new pin.
  *     Each full rebuild logs one line with its cause (`first_build`,
  *     `external_change`, `mapping_edit`, `new_columns`, `pin_cap`)
  *     and counts in `serving_full_rebuilds_total`;
  *     in-process publishes count in `serving_inprocess_publishes_total`.
  *   - Remaining window: an external write that lands DURING our own
  *     write is re-cached by Spark with it, but a column only its files
  *     carry waits for the next full rebuild (the pinned schema is the
  *     one the last rebuild merged).
  *
  * When `mappingPath` is set, the mapping FILE's signature rides the
  * same probe: editing the mapping swaps a reloaded engine in live,
  * within the same 1 s bound — the reference's timer-based hot reload
  * (mappingprovider/mapping_provider.go:96-110) without a background
  * thread. A mapping file that fails to parse keeps the last good
  * mapping (and keeps probing), matching the reference's
  * log-and-keep-old behavior. One instance per (session, sink); both
  * servers of the same sink should share it so they also share the
  * pinned table and plan cache.
  */
final class ServingCore(
    spark: org.apache.spark.sql.SparkSession,
    mapping: SeqMapping,
    sinkDir: String,
    mappingPath: Option[String] = None,
    metrics: Metrics = new Metrics("seq_db")) {

  private val mFullRebuilds = metrics.counter("serving_full_rebuilds_total",
    "serving-state rebuilds that re-read and re-pinned the sink")
  private val mPublishes = metrics.counter("serving_inprocess_publishes_total",
    "in-process appends published without a rebuild")

  // (sinkSignature, engine, date partitions newest-first) — replaced
  // when the sink generation moves
  @volatile private var engineCache: (Long, SeqEngine, Seq[String]) = null
  // (wall ms the probe ran, signature it saw), swapped as one value
  @volatile private var lastProbe: (Long, Long) = (0L, 0L)
  private val probeLock = new Object
  // why the last in-process append was not published, reported by the
  // full rebuild it leaves to the next read
  @volatile private var rebuildCause: String = null
  // Every cache below keys by (generation, request-shape): an entry
  // computed against generation G that loses the race with a rebuild to
  // G+1 is inserted under G and simply never read again — clear() on
  // rebuild bounds size, the generation key bounds STALENESS (a bare
  // string key would let a slow in-flight build re-insert pre-append
  // results after the rebuild cleared them).
  private val planCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, String), org.apache.spark.sql.DataFrame]()
  // ES-style request cache: identical request body → rendered response,
  // invalidated with the engine (sink generation) like ES invalidates
  // its shard request cache on refresh
  private val responseCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, String), String]()
  // per-query page-prefix cache (the scroll-context analogue): the top
  // PrefixRows matches of a query are collected ONCE, and every
  // subsequent page of the same query slices the driver-held prefix —
  // pagination then costs memory slicing, not a Spark job per page
  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, String), Array[org.apache.spark.sql.Row]]()
  // sized to cover the reference's published paging scenario (k6
  // seq-db-paging.js: 50 pages x 100 docs = offset 5000) from ONE
  // prefix job; the cache cap below bounds total driver memory to the
  // same envelope the old 1000x256 config had
  private val PrefixRows = 5120

  private def sinkPath = new org.apache.hadoop.fs.Path(sinkDir)
  private def sinkFs = sinkPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Cheap generation probe: the last [[probeSignature]] result while
    * it is under a second old, a fresh probe otherwise. */
  private def sinkSignature(): Long = {
    val last = lastProbe
    if (System.currentTimeMillis() - last._1 < 1000 && engineCache != null) last._2
    else probeSignature()
  }

  /** Top-level sink FS statuses (file/partition adds bump dir mtimes)
    * folded with the mapping file's (len, mtime) when hot-reload is
    * wired. Probes run one at a time, so the recorded result is always
    * the latest listing. */
  private def probeSignature(): Long = probeLock.synchronized {
    val now = System.currentTimeMillis()
    val p = sinkPath
    val fs = sinkFs
    val sinkSig =
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).foldLeft(17L)((a, s) =>
        a * 1000003L + s.getPath.getName.hashCode.toLong * 31L +
          s.getLen * 7L + s.getModificationTime)
    val mapSig = mappingPath.fold(0L) { mp =>
      val f = new java.io.File(mp)
      if (!f.exists()) 0L else f.length() * 1000003L + f.lastModified()
    }
    val sig = sinkSig * 31L + mapSig
    lastProbe = (now, sig)
    sig
  }

  /** The mapping new ingests and the next engine rebuild use: re-read
    * from `mappingPath` on demand (a KB-scale file read), falling back
    * to the last successfully parsed mapping. Deliberately does NOT
    * consult the engine — the ingest path asks for the mapping before
    * the sink's first write, when no engine can be built yet. */
  @volatile private var lastGoodMapping: SeqMapping = mapping
  def currentMapping: SeqMapping = mappingPath.fold(mapping) { mp =>
    try { val m = SeqMapping.loadYaml(mp); lastGoodMapping = m; m }
    catch { case _: Exception => lastGoodMapping }
  }

  def engine: SeqEngine = state()._2

  /** Readiness probe: builds (or revalidates) the serving state and
    * reports whether the core can answer queries. Intentionally
    * blocking on the first call — a K8s readiness gate should hold
    * traffic until the pinned table and engine are actually warm,
    * which is the reference debug-server's `/readiness` contract. */
  def ready: Boolean =
    try { state(); true } catch { case _: Exception => false }

  /** The sink generation the current engine was built for. Probes the
    * signature (rebuilding if stale), so the returned value is current
    * as of this call — capture it at request start and pass it to
    * [[putResponse]] so a response computed against generation G is
    * never cached after a concurrent rebuild moved to G+1. */
  def generation(): Long = state()._1

  /** Runs `write`, an in-process append to the sink that returns the
    * schema of the rows it wrote, and publishes it: when nothing else
    * moved the sink since the current generation (the pre-write
    * signature equals it and the mapping is unchanged), the pinned
    * table — which Spark's `recacheByPath` refreshed during the write —
    * stays, and only the generation moves. Otherwise the next read
    * rebuilds in full, exactly as for an external writer. Two more
    * cases take the full rebuild too:
    *   - the write carries a column or nested field the pinned table
    *     lacks (one the mapping gained since the last rebuild): the
    *     refreshed table
    *     keeps the schema the last mergeSchema read fixed, so only a
    *     fresh read makes the column searchable;
    *   - the table is pinned in memory and the sink has now outgrown
    *     `maxPinnedBytes`: the rebuild re-chooses the pin level.
    *
    * Holds the core's lock across the write: a reader whose probe lands
    * mid-write (a half-committed listing) then waits for the publish
    * instead of starting a full rebuild of its own. Readers whose
    * signature still matches never take the lock. */
  def publishAppend(write: => StructType): Unit = synchronized {
    val before = probeSignature()
    // a failed write leaves the probe on whatever it left behind: the
    // next read then rebuilds if the listing moved
    val written = try write catch { case e: Throwable => probeSignature(); throw e }
    val after = probeSignature()
    val cur = engineCache
    if (cur != null && cur._1 == before && currentMapping == cur._2.table.mapping) {
      val df = cur._2.table.df
      val pinned = ServingCore.fieldPaths(df.schema).toSet
      if (!ServingCore.fieldPaths(written).forall(pinned)) rebuildCause = "new_columns"
      else if (df.storageLevel == StorageLevel.MEMORY_AND_DISK && sinkBytes() > maxPinnedBytes)
        rebuildCause = "pin_cap"
      else {
        clearCaches()
        engineCache = (after, cur._2, listDates())
        mPublishes.inc()
      }
    }
  }

  /** On-disk bytes above which the pin degrades to DISK_ONLY. */
  private def maxPinnedBytes: Long = spark.conf
    .get("spark.graft.serving.maxPinnedBytes", (8L << 30).toString).toLong

  private def sinkBytes(): Long = {
    val p = sinkPath
    val fs = sinkFs
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  private def clearCaches(): Unit = {
    planCache.clear()
    responseCache.clear()
    prefixCache.clear()
    objCache.clear()
  }

  /** Day partitions newest-first, straight from the FS listing (no
    * Spark job) — drives the incremental page scan below. */
  private def listDates(): Seq[String] = {
    val p = sinkPath
    val fs = sinkFs
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("date=")).map(_.stripPrefix("date="))
      .sorted.reverse.toSeq
  }

  private def state(): (Long, SeqEngine, Seq[String]) = {
    val cached = engineCache
    if (cached != null && cached._1 == sinkSignature()) return cached
    synchronized {
      // re-probe under the lock: an append published while this thread
      // waited has already moved the generation and recorded its probe
      val sig = sinkSignature()
      val again = engineCache
      if (again != null && again._1 == sig) return again
      // mapping hot-reload: re-read the file on every generation move
      // (mapping edits move the signature; sink appends re-read an
      // unchanged file — cheap, it's a KB-scale YAML). Parse failures
      // keep the last good mapping rather than taking serving down.
      val liveMapping = currentMapping
      val cause =
        if (again == null) "first_build"
        else if (liveMapping != again._2.table.mapping) "mapping_edit"
        else if (rebuildCause != null) rebuildCause
        else "external_change"
      // blocking: a mapping-only reload rebuilds an IDENTICAL sink
      // plan, and an in-flight async unpersist of the old entry could
      // land after the new persist and evict it by plan equality —
      // leaving serving silently uncached. Rebuilds are ≤1/s and off
      // the request path, so the synchronous drop costs nothing.
      if (again != null) again._2.table.df.unpersist(blocking = true)
      clearCaches()
      // few fat in-memory partitions, clustered by date: a point query
      // launches `servingPartitions` tasks (scheduling is the latency
      // floor, not the scan) and the date-window filter skips whole
      // cached batches via their min/max stats
      val servingPartitions =
        spark.conf.get("spark.graft.serving.partitions", "8").toInt
      // sortWithinPartitions makes every cached batch date-contiguous,
      // so a date-window predicate skips whole batches via their
      // min/max stats — without it the hash shuffle interleaves days
      // and every batch's stats span everything (no skipping)
      // mergeSchema: an ingest sink ACCRETES fields over time (that is
      // what mapping hot-reload is for) — without the union schema,
      // Spark takes one file's footer at random and a column that only
      // newer files carry silently disappears from the engine
      val raw = spark.read.option("mergeSchema", "true").parquet(sinkDir)
      // Pin policy: MEMORY_AND_DISK caches the whole sink — right for
      // the log-store page-serving scale it was built for, an OOM risk
      // for a year-scale (100×) sink. Above `maxPinnedBytes` of
      // on-disk parquet (compressed — the in-memory columnar form is
      // larger still) degrade to DISK_ONLY: still one materialized,
      // date-clustered copy with batch-stat skipping, but the unified
      // memory region stays free for query execution. An in-process
      // publish that grows a memory-pinned sink past the cap falls back
      // to a full rebuild, so the level is re-chosen here.
      val level =
        if (sinkBytes() > maxPinnedBytes) StorageLevel.DISK_ONLY
        else StorageLevel.MEMORY_AND_DISK
      val df = (if (raw.columns.contains("date"))
          raw.repartition(servingPartitions, col("date"))
            .sortWithinPartitions("date", "mid")
        else raw.coalesce(servingPartitions))
        .persist(level)
      val eng = new SeqEngine(DocsTable(df, liveMapping))
      val state0 = (sig, eng, listDates())
      engineCache = state0
      rebuildCause = null
      // counted once the read succeeded: a readiness probe against a
      // sink that does not exist yet is not a rebuild
      mFullRebuilds.inc()
      System.err.println(
        s"""{"level":"info","msg":"serving full rebuild","cause":"$cause",""" +
          s""""sink":${graft.model.Json.quote(sinkDir)},"generation":$sig}""")
      state0
    }
  }

  /** Cached rendered response for an identical request body at the
    * CURRENT generation (probing first, so a sink append is never
    * masked by a stale hit). */
  def cachedResponse(raw: String): Option[String] =
    Option(responseCache.get((generation(), raw)))

  /** Cache a rendered response, keyed by the generation it was computed
    * against — a response raced by a rebuild keys under the OLD
    * generation and is simply never read again, closing the window
    * where a stale response could outlive the rebuild's clear(). */
  def putResponse(gen: Long, raw: String, resp: String): Unit = {
    if (responseCache.size() > 1024) responseCache.clear()
    responseCache.put((gen, raw), resp)
    ()
  }

  /** Generation-keyed memoization of an arbitrary rendered response
    * (the gRPC handlers cache whole proto responses with it, the same
    * way [[putResponse]] caches HTTP bodies): a repeated identical
    * aggregation/histogram request becomes a map lookup until the sink
    * generation moves. Entries computed against a raced-out generation
    * key under the old generation and are never read again. */
  def cachedObj[T <: AnyRef](key: String)(build: => T): T = {
    if (objCache.size() > 1024) objCache.clear()
    val k = (generation(), key)
    val hit = objCache.get(k)
    if (hit != null) return hit.asInstanceOf[T]
    // build OUTSIDE the map (get/build/putIfAbsent, not computeIfAbsent):
    // a multi-second Spark job must not hold a hash-bin lock and stall
    // unrelated cache hits that collide on the bin. A racing duplicate
    // build is the cheaper failure mode.
    val built = build
    val raced = objCache.putIfAbsent(k, built)
    (if (raced != null) raced else built).asInstanceOf[T]
  }

  private val objCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, String), AnyRef]()

  /** Memoized request plan: a repeated request re-executes the SAME
    * DataFrame, so parse/analyze/optimize/physical-planning happen once
    * and the warm path pays only job scheduling + execution. */
  def cachedPlan(key: String)(build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    if (planCache.size() > 512) planCache.clear() // crude bound; keys are request shapes
    planCache.computeIfAbsent((generation(), key), _ => build)
  }

  /** Incremental top-page scan (the reference's O3 early termination +
    * O4 fraction-order scan, SeqEngine.searchPrefix): day partitions
    * sort by mid across days, so the newest k days are tried first
    * (oldest-first for asc) and the window widens only when the page
    * comes back short. A point page over a year of data then scans one
    * day, not 365. Falls back to the full-range plan when the sink
    * isn't day-partitioned.
    */
  def servingPage(req: SearchRequest): Array[org.apache.spark.sql.Row] = {
    val eng = engine
    val need = req.offset + req.size
    if (need <= PrefixRows) {
      // scroll-context path: one job fills the query's top-PrefixRows
      // prefix, every page of the same query slices it driver-side
      val pk = (generation(), s"${req.query}|${req.fromMs}|${req.toMs}|${req.asc}")
      if (prefixCache.size() > 64) prefixCache.clear()
      // get/build/putIfAbsent (not computeIfAbsent): the prefix fill is
      // a Spark job and must not hold a hash-bin lock over other
      // queries' instant cache hits
      val pre = {
        val hit = prefixCache.get(pk)
        if (hit != null) hit
        else {
          val built = collectPrefix(eng, req, PrefixRows)
          val raced = prefixCache.putIfAbsent(pk, built)
          if (raced != null) raced else built
        }
      }
      // a shorter-than-capacity prefix IS the complete match set, so
      // any slice of it is exact; otherwise it covers need ≤ PrefixRows
      pre.slice(req.offset, need)
    } else {
      collectPrefix(eng, req, need).drop(req.offset)
    }
  }

  /** Top-`n` matches via the incremental day-window scan. */
  private def collectPrefix(eng: SeqEngine, req: SearchRequest,
      n: Int): Array[org.apache.spark.sql.Row] = {
    val dates = state()._3
    val hasDate = eng.table.df.columns.contains("date")
    val windows: Seq[Option[Seq[String]]] =
      if (!hasDate || dates.isEmpty) Seq(None)
      else Seq(1, 4, 16).filter(_ < dates.size).map(k =>
        Some(if (req.asc) dates.takeRight(k) else dates.take(k))) :+ None
    for (w <- windows) {
      val extra = w match {
        case Some(ds) => col("date").isin(ds: _*)
        case None     => lit(true)
      }
      val key = s"page:${req.query}|${req.fromMs}|${req.toMs}|${req.asc}|$n:" +
        w.map(_.mkString(",")).getOrElse("all")
      val plan = cachedPlan(key) {
        eng.withIdString(eng.searchPrefix(
            req.query, req.fromMs, req.toMs, n, req.asc, extra))
          .select(col("id"), col("mid"), col("rid"), col("_raw"))
      }
      val rows = plan.collect()
      if (rows.length >= n || w.isEmpty) return rows
    }
    Array.empty
  }
}

object ServingCore {
  /** Dotted paths of every field of `t`, nested struct fields included. */
  private def fieldPaths(t: StructType, prefix: String = ""): Seq[String] =
    t.fields.toSeq.flatMap { f =>
      val path = prefix + f.name
      path +: (f.dataType match {
        case s: StructType => fieldPaths(s, path + ".")
        case _ => Nil
      })
    }
}
