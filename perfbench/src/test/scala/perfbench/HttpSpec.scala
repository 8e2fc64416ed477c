package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Gen.Expect

/** The live read checks bound each answer by the initial corpus below
  * and by a page or the docs written above, so an empty or short answer
  * fails. */
class HttpSpec extends AnyFunSuite {
  private def page(n: Int): String =
    (0 until n).map(i => s"""{"mid":${1000 - i},"rid":0,"doc":{}}""").mkString("""{"total":""" + n + ""","hits":[""", ",", "]}")

  test("a page needs at least the initial matches and at most a page, in (mid, rid) desc order") {
    assert(Http.check(200, page(100), Expect.Hits(100, 100), 0))
    assert(!Http.check(200, page(0), Expect.Hits(40, 100), 0))
    assert(Http.check(200, page(40), Expect.Hits(40, 100), 0))
    assert(!Http.check(200, """{"total":2,"hits":[{"mid":1,"rid":0},{"mid":2,"rid":0}]}""", Expect.Hits(0, 100), 0))
    assert(!Http.check(500, page(100), Expect.Hits(0, 100), 0))
  }

  test("count by status: each bucket at least its initial tally, the sum at most the docs written") {
    val resp = """{"buckets":[{"name":"200","value":70},{"name":"404","value":35}]}"""
    val initial = Map("200" -> 60L, "404" -> 30L)
    assert(Http.check(200, resp, Expect.CountsAtLeast(initial), 105))
    assert(!Http.check(200, resp, Expect.CountsAtLeast(initial), 100))
    assert(!Http.check(200, resp, Expect.CountsAtLeast(initial + ("500" -> 1L)), 1000))
    assert(!Http.check(200, """{"buckets":[]}""", Expect.CountsAtLeast(initial), 1000))
  }

  test("min, quantile and histogram answers are bounded by the generator's tallies") {
    val min = """{"buckets":[{"name":"200","value":201.0},{"name":"404","value":950}]}"""
    assert(Http.check(200, min, Expect.MinAtMost(Map("200" -> 300L, "404" -> 950L)), 0))
    assert(!Http.check(200, min, Expect.MinAtMost(Map("200" -> 300L, "404" -> 900L)), 0))
    val q = """{"buckets":[{"name":"cart","q":0.5,"value":30000.0},{"name":"cart","q":0.95,"value":57000.0}]}"""
    assert(Http.check(200, q, Expect.Quantiles(Set("cart"), Seq(0.5, 0.95)), 0))
    assert(!Http.check(200, q, Expect.Quantiles(Set("cart", "auth"), Seq(0.5, 0.95)), 0))
    val h = """{"buckets":[{"bucket_ms":0,"cnt":5},{"bucket_ms":3600000,"cnt":7}]}"""
    assert(Http.check(200, h, Expect.BucketsAtLeast(12), 20))
    assert(!Http.check(200, h, Expect.BucketsAtLeast(13), 20))
    assert(!Http.check(200, h, Expect.BucketsAtLeast(1), 11))
  }
}
