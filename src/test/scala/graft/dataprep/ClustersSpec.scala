package graft.dataprep

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ClustersSpec extends SparkSpec {

  test("clusters: transitive components, singletons, long chains") {
    import spark.implicits._
    val ids = (1L to 30L).toDF("doc_id")
    // a triangle-free chain (diameter 4), a pair, and singletons
    val pairs = Seq(
      (1L, 2L), (2L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L),
    ).toDF("id_a", "id_b")
    val got = Dedup.clusters(ids, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(10L) == 10L && got(11L) == 10L)
    (20L to 24L).foreach(v => assert(got(v) == 20L))
    assert(got(5L) == 5L && got(30L) == 30L)
    assert(got.size == 30)
  }

  test("distributed fixpoint path (cap=0) matches the driver union-find path") {
    import spark.implicits._
    val ids = (1L to 30L).toDF("doc_id")
    val pairs = Seq(
      (1L, 2L), (2L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L),
    ).toDF("id_a", "id_b")
    // only the fixpoint's label frame carries its convergence observe()
    def fixpoint(labels: org.apache.spark.sql.DataFrame): Boolean =
      labels.queryExecution.logical.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.CollectMetrics])
    val directed = 2L * 7
    // default cap, a cap equal to the directed edge count (still the
    // driver), one below it and 0 (both the fixpoint)
    val runs = Seq((4L << 20) -> false, directed -> false, directed - 1 -> true, 0L -> true)
      .map { case (cap, viaFixpoint) =>
        val labels = Dedup.clusters(ids, "doc_id", pairs, driverEdgeCap = cap)
        assert(fixpoint(labels) == viaFixpoint, s"path taken at cap $cap")
        val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        labels.unpersist()
        got
      }
    assert(runs.forall(_ == runs.head) && runs.head.size == 30)
  }

  test("dropNearDuplicates keeps exactly one doc per component") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "a'"), (3L, "a''"), (4L, "b")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L))
  }
}
