package graft.tables

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming gate rows over an empty corpus: no state to flush, so no
  * sentinel slice, and the sink stays empty. */
class StreamingGateSpec extends SparkSpec {

  /** An sf dir whose events table has the real schema and no rows. */
  private lazy val emptySf: String = {
    val d = java.nio.file.Files.createTempDirectory("gate_empty").toString + "/sf_empty"
    spark.read.parquet(s"$sfDir/events.parquet").limit(0)
      .write.parquet(s"$d/events.parquet")
    d
  }

  test("sentinel slices follow the corpus max, and an empty corpus gets none") {
    import spark.implicits._
    val dayMs = 86400000L
    val base = Seq((5000L, "click"), (7000L, "view")).toDF("mid", "event_type")
    assert(StreamingGate.corpusMaxMid(base).contains(7000L))
    val sentinels = StreamingGate.liveCountSentinels(base).map(_.collect().toSeq)
    assert(sentinels.map(_.map(r => (r.getLong(0), r.getString(1)))) ==
      Seq(Seq((7000L + 10 * dayMs, "__sentinel")), Seq((7000L + 20 * dayMs, "__sentinel"))))

    val empty = base.limit(0)
    assert(StreamingGate.corpusMaxMid(empty).isEmpty)
    assert(StreamingGate.liveCountSentinels(empty).isEmpty)
  }

  test("seq_stream_livecount over an empty corpus streams no sentinel rows") {
    assert(StreamingGate.eventsStreamLiveCounts(spark, emptySf).count() == 0)
    val sink = spark.read.parquet(StreamingGate.scratchDir("livecount", emptySf) + "/out")
    assert(sink.where(col("name") === "__sentinel").count() == 0)
    assert(sink.count() == 0)
  }
}
