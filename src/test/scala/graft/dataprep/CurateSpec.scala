package graft.dataprep

import org.apache.spark.sql.functions._
import graft.SparkSpec

class CurateSpec extends SparkSpec {
  import spark.implicits._

  // small synthetic corpus: quality junk, a zh doc, exact dups,
  // near-dups, and a benchmark-contaminated doc
  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog and runs far away home", "srcA"),
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home", "srcA"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog and runs far away house", "srcA"), // near dup of 0
    (3L, "a completely different document about spark partitions and shuffle behavior in the cluster", "srcB"),
    (4L, "spam spam spam spam spam spam spam spam", "srcB"), // fails quality (distinct ratio 1/8)
    (5L, "世界 你好 世界 你好 世界 你好 世界 你好 世界 你好 世界 你好 世界 你好", "srcB"), // zh → language-gated
    (6L, "benchmark eval suite question answer pairs used to测试", "srcC"),
  ).toDF("doc_id", "text", "source")

  private val cfg = Curate.Config(
    minQuality = 0.2, keepLangs = Seq("en"), minOverlap = 3,
    // verification threshold low enough that doc 2 pairs with doc 0
    thresholdNum = 1, thresholdDen = 2)

  test("pipeline: gates, dedup, decontamination and split compose") {
    val out = Curate.pipeline(docs, "doc_id", "text", "source",
      benchPred = col("doc_id") === 6L, cfg).collect()
    val ids = out.map(_.getAs[Long]("doc_id")).toSet
    assert(!ids.contains(4L), "quality gate")
    assert(!ids.contains(5L), "language gate")
    assert(!ids.contains(6L), "bench doc removed from corpus")
    assert(!ids.contains(1L), "exact dup dropped (min-id representative kept)")
    assert(ids.contains(0L) && !ids.contains(2L), "near-dup representative is min id")
    assert(ids.contains(3L), "clean doc survives")
    // provenance columns present, split assigned
    assert(out.forall(r => Set("train", "val", "test")(r.getAs[String]("split"))))
    assert(out.forall(r => r.getAs[String]("pred_lang") == "en"))
  }

  test("pipeline is deterministic and subset-monotone under repartition") {
    val a = Curate.pipeline(docs, "doc_id", "text", "source", lit(false), cfg)
      .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = Curate.pipeline(docs.repartition(7), "doc_id", "text", "source", lit(false), cfg)
      .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b)
  }

  test("pipeline leaves no cache entry behind and returns a plan without one") {
    spark.catalog.clearCache()
    val outs = Seq(docs, docs.where(col("doc_id") =!= 3L)).map { in =>
      val out = Curate.pipeline(in, "doc_id", "text", "source",
        benchPred = col("doc_id") === 6L, cfg)
      assert(out.collect().nonEmpty)
      out
    }
    assert(spark.sharedState.cacheManager.isEmpty, "a pass pinned a frame it never released")
    outs.foreach { out =>
      assert(out.queryExecution.withCachedData.collectFirst {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }.isEmpty, "the returned plan reads a cache entry")
    }
  }

  test("pipelineV2: gopher gate, span rewrite, residue dedup, decontamination compose") {
    // two >=50-word spans whose longest common run (21 chars) stays
    // under spanK=24, so they never cover each other
    val spanA = ("alpha special the content one " * 13).trim
    val spanB = ("beta special the content two " * 13).trim
    // bench vocabulary: distinct words, none shared with the spans
    val b = Seq("rivers", "stones", "comets", "meadow", "falcon", "timber",
      "copper", "orchid", "garnet", "willow", "harbor", "tundra",
      "quartz", "maples", "geyser", "lagoon")
    val bench = b.mkString(" ")
    // 16 quotes 8 bench BIGRAMS but breaks every char run with junk,
    // so only decontamination (not span removal) can catch it
    val quoting = (0 until 16 by 2)
      .map(i => s"${b(i)} ${b(i + 1)} the quick j$i runs fast").mkString(" ")
    val v2docs = Seq(
      (10L, s"intro words $spanA closing words"),     // first owner of spanA
      // ("ending", not "trailing": a trailer starting with 't' would
      // extend 13's shared run one char into its "tail!" residue)
      (11L, s"leading $spanA middle $spanB ending"), // loses spanA, owns spanB
      // 12/13: span + short tail; both spans are excised (owners 10/11)
      // leaving the IDENTICAL residue "tail!" -> 13 collapses onto 12
      (12L, s"$spanA tail!"),
      (13L, s"$spanB tail!"),
      (14L, "too short to pass the gopher word floor"),
      (15L, bench),    // the benchmark doc
      (16L, quoting)
    ).toDF("doc_id", "text")
    val out = Curate.pipelineV2(v2docs, "doc_id", "text",
      benchPred = col("doc_id") === 15L,
      cfg = Curate.V2Config(minStops = 1, spanK = 24, minOverlap = 6))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getString(3), r.getString(4)))).toMap
    assert(out.contains(10L) && out(10L)._1 == 0L, "first owner keeps its text")
    assert(out.contains(11L) && out(11L)._1 > 0L
      && !out(11L)._2.contains("alpha special")
      && out(11L)._2.contains("beta special"),
      "later doc loses the borrowed span, keeps the one it owns")
    assert(out.contains(12L) && out(12L)._2 == "tail!", "residue of 12")
    assert(!out.contains(13L), "identical residues collapse AFTER the rewrite")
    assert(!out.contains(14L), "gopher word floor")
    assert(!out.contains(15L), "bench doc never in output")
    assert(!out.contains(16L), "bigram-quoting doc dropped by decontamination")
    val sets = Set("train", "val", "test")
    out.values.foreach { case (_, _, s) => assert(sets(s)) }
  }

  test("report: audit counts per stage") {
    val rep = Curate.report(docs, "doc_id", "text", "source",
      benchPred = col("doc_id") === 6L, cfg)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("input") == 7L)
    assert(rep("kept") == rep.filterNot { case (k, _) => k == "input" || k == "kept" }.values.sum)
    assert(rep("kept") == 2L) // docs 0 and 3
  }
}
