package perfbench

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def sha(xs: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    xs.foreach { x => md.update(x.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  test("the same seed gives byte-identical inputs, another seed different ones") {
    val a = Gen.logCorpus(7, 3000)
    val b = Gen.logCorpus(7, 3000)
    assert(sha(a.lines) == sha(b.lines))
    assert(sha(Gen.logCorpus(8, 3000).lines) != sha(a.lines))
    assert(sha(Gen.bulkBodies(7, 5, 50, "m").bodies) == sha(Gen.bulkBodies(7, 5, 50, "m").bodies))
    assert(sha(Gen.textCorpus(7, 200).docs.map(_.toString)) ==
      sha(Gen.textCorpus(7, 200).docs.map(_.toString)))
    val qs = Gen.pageQueries(a)
    for (cls <- Seq("page", "search", "agg"))
      assert(Gen.readRequests(7, cls, 500, a, qs).toSeq == Gen.readRequests(7, cls, 500, a, qs).toSeq)
  }

  test("log corpus tallies match its docs and the stated out-of-drift share") {
    val c = Gen.logCorpus(3, 20000)
    assert(c.dayCounts.values.sum == 20000)
    assert(c.statusCounts.values.sum == 20000)
    val share = c.outOfDrift.toDouble / 20000
    assert(math.abs(share - Gen.OutOfDriftShare) < 0.005)
  }

  test("page mix outgrows the serving caches: queries > 64 prefixes, bodies > 1024 responses") {
    val c = Gen.logCorpus(5, 5000)
    val qs = Gen.pageQueries(c)
    assert(qs.length > 64)
    val bodies = Gen.readRequests(5, "page", 20000, c, qs).map(_.body).distinct
    assert(bodies.length > 1024)
  }

  test("read expectations are lower bounds a short or empty answer fails") {
    val c = Gen.logCorpus(5, 5000)
    val qs = Gen.pageQueries(c)
    // on 5000 docs every search class matches more than a page
    for (r <- Gen.readRequests(5, "search", 400, c, qs)) assert(r.expect == Gen.Expect.Hits(100, 100), r.body)
    val pages = Gen.readRequests(5, "page", 400, c, qs)
    // a page past a query's initial matches may come back empty; the others may not
    val floors = pages.map(_.expect).collect { case Gen.Expect.Hits(lo, 100) => lo }
    assert(floors.length == pages.length && floors.contains(100))
    val aggs = Gen.readRequests(5, "agg", 8, c, qs).map(_.expect)
    assert(aggs.contains(Gen.Expect.CountsAtLeast(c.statusCounts)))
    assert(aggs.contains(Gen.Expect.BucketsAtLeast(c.docs.count(_.level == "info").toLong)))
  }

  test("bulk bodies carry one marker doc each, with action lines") {
    val b = Gen.bulkBodies(1, 4, 10, "m")
    for ((body, m) <- b.bodies.zip(b.markers)) {
      val lines = body.split("\n")
      assert(lines.length == 20)
      assert(lines.count(_.contains(m)) == 1)
      assert(lines.sliding(2, 2).forall(p => p(0) == """{"index":{}}"""))
    }
    assert(b.markers.distinct.length == 4)
  }

  test("text corpus plants duplicates, contamination and gate rejects") {
    val t = Gen.textCorpus(9, 500)
    val byId = t.docs.map(d => d.id -> d).toMap
    assert(t.exactDups.forall(id => t.docs.count(_.text == byId(id).text) >= 2))
    assert(t.nearDups.nonEmpty && t.contaminated.nonEmpty && t.bench.nonEmpty)
    assert(t.bench.forall(id => byId(id).isBench))
    assert(t.docs.map(_.id).distinct.length == t.docs.length)
  }
}
