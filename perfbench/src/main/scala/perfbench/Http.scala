package perfbench

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets

/** Blocking loopback HTTP client (HttpURLConnection keeps connections
  * alive per thread, so N client threads use at most N connections),
  * and the answer checks the read workloads apply. */
final class Http(port: Int) {
  def post(path: String, body: String): (Int, String) = {
    val c = new URL(s"http://127.0.0.1:$port$path").openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    c.setFixedLengthStreamingMode(bytes.length)
    val out = c.getOutputStream
    out.write(bytes)
    out.close()
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val resp = if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    (code, resp)
  }

  def get(path: String): String = {
    val c = new URL(s"http://127.0.0.1:$port$path").openConnection().asInstanceOf[HttpURLConnection]
    val in = c.getInputStream
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** (sum, count) of a Prometheus histogram on `/metrics`. */
  def histogram(name: String): (Double, Long) = {
    val text = get("/metrics")
    def v(suffix: String): String = text.linesIterator
      .find(_.startsWith(s"${name}_$suffix ")).map(_.split(' ')(1)).getOrElse("0")
    (v("sum").toDouble, v("count").toDouble.toLong)
  }
}

object Http {
  private val HitRe = """"mid":(-?\d+),"rid":(-?\d+)""".r
  private val TotalRe = """"total":(\d+)""".r
  private val RowRe = """\{([^{}]*)\}""".r
  private val FieldRe = """"([^"]+)":("[^"]*"|[-0-9.Ee]+)""".r

  def total(resp: String): Int =
    TotalRe.findFirstMatchIn(resp).map(_.group(1).toInt).getOrElse(-1)

  /** Hits ordered by (mid, rid) descending. */
  def ordered(resp: String): Boolean = {
    val keys = HitRe.findAllMatchIn(resp).map(m => (m.group(1).toLong, m.group(2).toLong)).toSeq
    keys.zip(keys.drop(1)).forall { case ((m1, r1), (m2, r2)) => m1 > m2 || (m1 == m2 && r1 >= r2) }
  }

  /** The rows of a `{"buckets":[...]}` answer, each as field → value
    * with string values unquoted. */
  def rows(resp: String): Seq[Map[String, String]] =
    if (!resp.startsWith("{\"buckets\":[")) Nil
    else RowRe.findAllMatchIn(resp).map { m =>
      FieldRe.findAllMatchIn(m.group(1)).map(f => f.group(1) -> f.group(2).stripPrefix("\"").stripSuffix("\"")).toMap
    }.toSeq

  /** Count-by-group buckets as name → count. */
  def counts(resp: String): Map[String, Long] =
    rows(resp).flatMap(r => for (n <- r.get("name"); v <- r.get("value")) yield n -> v.toDouble.toLong).toMap

  /** Whether a 200 answer meets the request's expectation, with
    * `written` docs in the sink at most. */
  def check(code: Int, resp: String, e: Gen.Expect, written: Long): Boolean = code == 200 && (e match {
    case Gen.Expect.Hits(lo, hi) => total(resp) >= lo && total(resp) <= hi && ordered(resp)
    case Gen.Expect.CountsAtLeast(initial) =>
      val c = counts(resp)
      initial.forall { case (k, n) => c.getOrElse(k, 0L) >= n } && c.values.sum <= written
    case Gen.Expect.MinAtMost(initial) =>
      val m = rows(resp).flatMap(r => for (n <- r.get("name"); v <- r.get("value")) yield n -> v.toDouble).toMap
      initial.forall { case (k, hi) => m.get(k).exists(v => v >= Gen.MinSize && v <= hi) }
    case Gen.Expect.Quantiles(groups, levels) =>
      val got = rows(resp).flatMap(r => for (n <- r.get("name"); q <- r.get("q"); v <- r.get("value"))
        yield (n, q.toDouble) -> v.toDouble).toMap
      groups.forall(g => levels.forall(q => got.get((g, q)).exists(v =>
        v >= Gen.MinSize && v < Gen.MinSize + Gen.SizeSpan)))
    case Gen.Expect.BucketsAtLeast(min) =>
      val n = rows(resp).flatMap(_.get("cnt")).map(_.toLong).sum
      n >= min && n <= written
  })
}
