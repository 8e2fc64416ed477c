package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every input a workload feeds graft comes
  * from here, so one seed gives byte-identical inputs, and each
  * generator keeps the tallies the output checks compare against. */
object Gen {
  val DayMs: Long = 86400000L
  /** The ingest clock: 2026-01-08T12:00:00Z. Doc times are drawn
    * relative to it, so inputs do not depend on the wall clock. */
  val RequestTimeMs: Long = 1767873600000L
  /** Drift window the log corpus is ingested with: seven days back,
    * five minutes ahead. */
  val AllowedDriftMs: Long = 7 * DayMs
  val FutureDriftMs: Long = 5 * 60 * 1000L
  /** Share of docs whose timestamp falls outside the drift window
    * (they are re-stamped with the request time). */
  val OutOfDriftShare = 0.03

  val Services: Array[String] =
    Array("auth", "billing", "cart", "catalog", "checkout", "gateway", "search", "shipping")
  val Levels: Array[String] = Array("debug", "info", "warn", "error")
  private val LevelWeights = Array(0.15, 0.6, 0.17, 0.08)
  val Statuses: Array[String] =
    Array("200", "201", "204", "301", "304", "400", "403", "404", "500", "503")
  private val StatusWeights = Array(0.62, 0.04, 0.03, 0.03, 0.08, 0.04, 0.03, 0.08, 0.03, 0.02)
  val Paths: Array[String] = Array(
    "/english/index.html", "/english/venues/cities", "/english/teams/teambio", "/french/index.html",
    "/images/hm_bg.jpg", "/images/logo_cfo.gif", "/images/space.gif", "/images/nav_bg_top.gif",
    "/english/history/history_of", "/english/tickets/individual", "/spanish/index.html",
    "/english/news/newsevents", "/german/index.html", "/images/home_fr_phrase.gif",
    "/english/competition/maincompetition", "/english/playing/download", "/api/v1/orders",
    "/api/v1/cart/items", "/api/v2/search", "/api/v2/catalog/products")
  private val Methods = Array("GET", "GET", "GET", "GET", "POST", "PUT", "DELETE")
  /** Doc sizes lie in [MinSize, MinSize + SizeSpan). */
  val MinSize = 200L
  val SizeSpan = 60000L
  val Words: Array[String] = (
    "request handled upstream downstream timeout retry connection reset refused cache " +
    "miss hit user session token expired renewed payment declined accepted order placed " +
    "shipped delayed inventory low stock warehouse queue backlog worker started stopped " +
    "config reload mapping index shard replica leader follower election heartbeat lag " +
    "disk pressure memory usage cpu throttled latency slow query plan scan rows bytes " +
    "client server proxy gateway route matched rejected limit exceeded quota window " +
    "batch flush commit rollback transaction lock wait deadlock detected resolved " +
    "customer account profile updated created deleted invoice generated email sent " +
    "webhook delivered failed attempt backoff circuit open closed half probe healthy").split(" ")

  private def weighted(r: SplittableRandom, vals: Array[String], w: Array[Double]): String = {
    var x = r.nextDouble()
    var i = 0
    while (i < w.length - 1 && x >= w(i)) { x -= w(i); i += 1 }
    vals(i)
  }

  /** Seeded Fisher-Yates shuffle, in place. */
  def shuffle[T](r: SplittableRandom, a: Array[T]): Array[T] = {
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  private def jsonStr(s: String): String = graft.model.Json.quote(s)

  /** A day-partition name as the sink writes it. */
  def dayOf(ms: Long): String = java.time.LocalDate.ofEpochDay(Math.floorDiv(ms, DayMs)).toString

  /** One http_logs-shaped doc with its fields kept for tallies. */
  final case class LogDoc(ms: Long, inDrift: Boolean, service: String, level: String,
      status: String, size: Long, path: String, words: Set[String])

  /** A generated log corpus: NDJSON lines plus the tallies a correct
    * ingest and read path must reproduce. */
  final class LogCorpus(val lines: Array[String], val docs: Array[LogDoc]) {
    val bytes: Long = lines.iterator.map(_.getBytes("UTF-8").length.toLong + 1).sum
    def effMs(d: LogDoc): Long = if (d.inDrift) d.ms else RequestTimeMs
    lazy val dayCounts: Map[String, Long] =
      docs.groupBy(d => dayOf(effMs(d))).map { case (k, v) => k -> v.length.toLong }
    lazy val statusCounts: Map[String, Long] =
      docs.groupBy(_.status).map { case (k, v) => k -> v.length.toLong }
    def outOfDrift: Long = docs.count(!_.inDrift).toLong
  }

  /** `n` docs over the seven days before [[RequestTimeMs]];
    * [[OutOfDriftShare]] of them lie outside the drift window. */
  def logCorpus(seed: Long, n: Int): LogCorpus = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val docs = new Array[LogDoc](n)
    val lines = new Array[String](n)
    var i = 0
    while (i < n) {
      val x = r.nextDouble()
      val (ms, inDrift) =
        if (x < OutOfDriftShare * 2 / 3)
          (RequestTimeMs - AllowedDriftMs - 1000L - r.nextLong(3 * DayMs), false)
        else if (x < OutOfDriftShare)
          (RequestTimeMs + FutureDriftMs + 1000L + r.nextLong(DayMs), false)
        else (RequestTimeMs - AllowedDriftMs + 60000L + r.nextLong(AllowedDriftMs - 60000L), true)
      val service = Services(r.nextInt(Services.length))
      val level = weighted(r, Levels, LevelWeights)
      val status = weighted(r, Statuses, StatusWeights)
      val size = MinSize + r.nextLong(SizeSpan)
      val ip = s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
      val path = Paths(r.nextInt(Paths.length))
      val req = s"${Methods(r.nextInt(Methods.length))} $path HTTP/1.1"
      val words = Array.fill(6 + r.nextInt(10))(Words(r.nextInt(Words.length)))
      val line = s"""{"timestamp":${jsonStr(java.time.Instant.ofEpochMilli(ms).toString)},""" +
        s""""clientip":"$ip","request":${jsonStr(req)},"status":$status,"size":$size,""" +
        s""""service":"$service","level":"$level","message":${jsonStr(words.mkString(" "))}}"""
      docs(i) = LogDoc(ms, inDrift, service, level, status, size, path, words.toSet)
      lines(i) = line
      i += 1
    }
    new LogCorpus(lines, docs)
  }

  /** Zipf(s) sampler over ranks 0..n-1. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _ / tot).tail
    }
    def sample(r: SplittableRandom): Int = {
      val x = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, x)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A read request: its class, endpoint, body and what a correct
    * answer must show. The live sink only grows from its initial
    * corpus, so each expectation bounds the answer below by the initial
    * corpus' tallies and above by a page or by the docs written so far. */
  sealed trait Expect
  object Expect {
    /** a `/search` page ordered by (mid, rid) desc, with `min` to `max`
      * hits */
    final case class Hits(min: Int, max: Int) extends Expect
    /** count by group: each group at least its initial count, the sum
      * at most the docs written */
    final case class CountsAtLeast(initial: Map[String, Long]) extends Expect
    /** min by group: each initial group present, its value between the
      * generator's floor and the group's initial min */
    final case class MinAtMost(initial: Map[String, Long]) extends Expect
    /** quantiles by group: every group present at each level, values
      * inside the generator's range */
    final case class Quantiles(groups: Set[String], levels: Seq[Double]) extends Expect
    /** histogram: bucket counts summing to at least `min` and at most
      * the docs written */
    final case class BucketsAtLeast(min: Long) extends Expect
  }
  final case class Request(cls: String, path: String, body: String, expect: Expect)

  /** The page-query universe: single-field and combined filters over
    * service, level and status, with each query's match count. Larger
    * than the 64-entry prefix cache, so a Zipf draw keeps a hot set
    * and a tail. */
  def pageQueries(c: LogCorpus): Array[(String, Long)] = {
    val qs = scala.collection.mutable.ArrayBuffer.empty[(String, LogDoc => Boolean)]
    for (s <- Services) qs += (s"service:$s" -> (_.service == s))
    for (l <- Levels) qs += (s"level:$l" -> (_.level == l))
    for (st <- Statuses) qs += (s"status:$st" -> (_.status == st))
    for (s <- Services; l <- Levels) qs += (s"service:$s and level:$l" -> (d => d.service == s && d.level == l))
    for (s <- Services; st <- Statuses) qs += (s"service:$s and status:$st" -> (d => d.service == s && d.status == st))
    for (l <- Levels; st <- Statuses) qs += (s"level:$l and status:$st" -> (d => d.level == l && d.status == st))
    qs.map { case (q, f) => q -> c.docs.count(f).toLong }.toArray
  }

  /** Seeded open-loop read mix: `n` requests of class `cls` over all
    * time, against a sink that holds the corpus `c` and grows. */
  def readRequests(seed: Long, cls: String, n: Int, c: LogCorpus,
      queries: Array[(String, Long)], pageSize: Int = 100, pages: Int = 50): Array[Request] = {
    val r = new SplittableRandom(seed * 31 + cls.hashCode)
    // a seeded permutation decides which queries are hot
    val order = shuffle(r, Array.range(0, queries.length))
    val zipf = new Zipf(queries.length, 1.0)
    val all = s""""from":0,"to":${Long.MaxValue}"""
    def hits(matches: Long, offset: Long = 0L): Expect =
      Expect.Hits(math.max(0L, math.min(pageSize.toLong, matches - offset)).toInt, pageSize)
    lazy val errors = c.docs.count(d => d.status == "404" || d.status == "500" || d.status == "503")
    lazy val byPath = c.docs.groupBy(_.path).map { case (k, v) => k -> v.length.toLong }
    lazy val byWord = Words.map(w => w -> c.docs.count(_.words(w)).toLong).toMap
    lazy val minByStatus = c.docs.groupBy(_.status).map { case (k, v) => k -> v.map(_.size).min }
    val levels = Seq(0.5, 0.95)
    Array.tabulate(n) { i =>
      cls match {
        case "page" =>
          val (q, total) = queries(order(zipf.sample(r)))
          val page = r.nextInt(pages)
          Request(cls, "/search",
            s"""{"query":${jsonStr(q)},"size":$pageSize,"offset":${page * pageSize}}""",
            hits(total, page.toLong * pageSize))
        case "search" =>
          i % 4 match {
            case 0 => Request(cls, "/search",
              s"""{"query":"status:in(404, 500, 503)",$all,"size":$pageSize}""", hits(errors))
            case 1 =>
              val p = Paths(r.nextInt(Paths.length))
              Request(cls, "/search",
                s"""{"query":${jsonStr("request:\"" + p + "\"")},$all,"size":$pageSize}""",
                hits(byPath.getOrElse(p, 0L)))
            case 2 =>
              val a = MinSize + r.nextInt(50000)
              Request(cls, "/search", s"""{"query":"size:[$a to ${a + 2000}]",$all,"size":$pageSize}""",
                hits(c.docs.count(d => d.size >= a && d.size <= a + 2000)))
            case _ =>
              val w = Words(r.nextInt(Words.length))
              Request(cls, "/search", s"""{"query":"message:$w",$all,"size":$pageSize}""", hits(byWord(w)))
          }
        case "agg" =>
          i % 4 match {
            case 0 => Request(cls, "/aggregate",
              s"""{"query":"*",$all,"func":"count","group_by":"status"}""",
              Expect.CountsAtLeast(c.statusCounts))
            case 1 => Request(cls, "/aggregate",
              s"""{"query":"*",$all,"func":"min","field":"size","group_by":"status"}""",
              Expect.MinAtMost(minByStatus))
            case 2 => Request(cls, "/aggregate",
              s"""{"query":"*",$all,"func":"quantile","field":"size","group_by":"service","quantiles":[${levels.mkString(",")}]}""",
              Expect.Quantiles(c.docs.map(_.service).toSet, levels))
            case _ => Request(cls, "/histogram",
              s"""{"query":"level:info",$all,"interval":"1h"}""",
              Expect.BucketsAtLeast(c.docs.count(_.level == "info").toLong))
          }
      }
    }
  }

  /** `/_bulk` bodies for the live workload: `n` bodies of `docs` docs,
    * ES action line before each doc. Body `i` carries one marker doc
    * whose message holds the unique token `markers(i)`. Doc times are
    * fixed, so every doc lies outside the drift window of the wall
    * clock the server stamps with. */
  final class BulkBodies(val bodies: Array[String], val markers: Array[String], val docsPer: Int,
      val corpus: LogCorpus)

  def bulkBodies(seed: Long, n: Int, docs: Int, tag: String): BulkBodies = {
    val c = logCorpus(seed * 7 + tag.hashCode, n * docs)
    val markers = Array.tabulate(n)(i => s"mk${java.lang.Long.toString(seed & 0xffffffL, 36)}${tag}n$i")
    val bodies = Array.tabulate(n) { i =>
      val sb = new StringBuilder
      var j = 0
      while (j < docs) {
        sb.append("{\"index\":{}}\n")
        val line = c.lines(i * docs + j)
        if (j == 0) {
          // the marker rides in the message of the body's first doc
          val at = line.lastIndexOf("\"}")
          sb.append(line.substring(0, at)).append(' ').append(markers(i)).append(line.substring(at))
        } else sb.append(line)
        sb.append('\n')
        j += 1
      }
      sb.toString
    }
    new BulkBodies(bodies, markers, docs, c)
  }

  /** A text-curation corpus with planted structure. */
  final case class TextDoc(id: Long, text: String, source: String, isBench: Boolean)
  final class TextCorpus(val docs: Array[TextDoc], val exactDups: Set[Long],
      val nearDups: Set[Long], val contaminated: Set[Long], val bench: Set[Long],
      val lowQuality: Set[Long], val foreign: Set[Long])

  private val LangWords: Map[String, Array[String]] = Map(
    "en" -> ("the and of to is a river mountain village market winter summer train " +
      "station library garden teacher student engine bridge harbor island forest " +
      "history science music painting kitchen bakery festival weather morning evening").split(" "),
    "de" -> ("der die und das nicht ein fluss berg dorf markt winter sommer zug bahnhof " +
      "bibliothek garten lehrer schule motor brücke hafen insel wald geschichte musik").split(" "),
    "es" -> ("que los las una por el río montaña pueblo mercado invierno verano tren " +
      "estación biblioteca jardín maestro escuela motor puente puerto isla bosque").split(" "),
    "fr" -> ("le les des une est dans rivière montagne village marché hiver été train " +
      "gare bibliothèque jardin professeur école moteur pont port île forêt histoire").split(" "))
  val Sources: Array[String] = Array("web", "news", "forum", "wiki", "books")

  /** `n` base docs plus planted copies: exact duplicates, near
    * duplicates (a few tokens edited), corpus rows that quote a
    * benchmark row (contaminated), the benchmark rows themselves,
    * low-quality and CJK rows that the gates drop. */
  def textCorpus(seed: Long, n: Int): TextCorpus = {
    val r = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 3)
    val langs = LangWords.keys.toArray.sorted
    def sentence(words: Array[String], len: Int): Array[String] = {
      // stopwords lead the vocabulary; keep them frequent so the
      // language and quality gates see real prose
      Array.fill(len)(if (r.nextInt(3) == 0) words(r.nextInt(6)) else words(r.nextInt(words.length)))
    }
    def uniqueTokens(len: Int): Array[String] =
      Array.fill(len)(java.lang.Long.toString(r.nextLong(36L * 36 * 36 * 36 * 36), 36))
    val out = scala.collection.mutable.ArrayBuffer.empty[TextDoc]
    var nextId = 1L
    def add(text: String, src: String, bench: Boolean = false): Long = {
      val id = nextId; nextId += 1
      out += TextDoc(id, text, src, bench); id
    }
    val baseTexts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    for (_ <- 0 until n) {
      val lang = langs(r.nextInt(langs.length))
      // unique tokens keep unrelated docs far apart in Jaccard
      val toks = sentence(LangWords(lang), 40 + r.nextInt(40)) ++ uniqueTokens(12)
      val shuffled = shuffle(r, toks)
      baseTexts += shuffled
      add(shuffled.mkString(" "), Sources(r.nextInt(Sources.length)))
    }
    val exact = scala.collection.mutable.Set.empty[Long]
    val near = scala.collection.mutable.Set.empty[Long]
    for (_ <- 0 until n / 10) {
      val b = baseTexts(r.nextInt(baseTexts.size))
      exact += add(b.mkString(" "), Sources(r.nextInt(Sources.length)))
    }
    for (_ <- 0 until n / 10) {
      val b = baseTexts(r.nextInt(baseTexts.size)).clone()
      // edit two tokens: Jaccard over bigram shingles stays well above 1/2
      for (_ <- 0 until 2) b(r.nextInt(b.length)) = uniqueTokens(1)(0)
      near += add(b.mkString(" "), Sources(r.nextInt(Sources.length)))
    }
    val bench = scala.collection.mutable.Set.empty[Long]
    val benchTexts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    for (_ <- 0 until math.max(4, n / 50)) {
      val t = sentence(LangWords("en"), 50) ++ uniqueTokens(10)
      benchTexts += t
      bench += add(t.mkString(" "), "bench", bench = true)
    }
    val contaminated = scala.collection.mutable.Set.empty[Long]
    for (_ <- 0 until n / 25) {
      val b = benchTexts(r.nextInt(benchTexts.size))
      val at = r.nextInt(b.length - 20)
      val host = sentence(LangWords("en"), 40) ++ uniqueTokens(10)
      contaminated += add((host.take(20) ++ b.slice(at, at + 20) ++ host.drop(20)).mkString(" "),
        Sources(r.nextInt(Sources.length)))
    }
    val low = scala.collection.mutable.Set.empty[Long]
    for (_ <- 0 until n / 25)
      low += add(Array.fill(30)("buy").mkString(" "), "web")
    val foreign = scala.collection.mutable.Set.empty[Long]
    for (_ <- 0 until n / 25)
      foreign += add("这是一个测试文档 " + uniqueTokens(30).mkString(" "), "web")
    new TextCorpus(out.toArray, exact.toSet, near.toSet, contaminated.toSet, bench.toSet,
      low.toSet, foreign.toSet)
  }
}
