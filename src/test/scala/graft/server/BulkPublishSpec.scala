package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.ingest.BulkIngest
import graft.model.{IndexType, SeqMapping}

/** How a `/_bulk` append reaches readers: in serving mode it is
  * published in-process (no second sink read), each bulk writes one
  * file per 10 000 docs, and a day-partitioned sink keeps its layout. */
class BulkPublishSpec extends SparkSpec {

  private val mapping = SeqMapping.of(
    "service" -> IndexType.Keyword,
    "level"   -> IndexType.Keyword,
    "message" -> IndexType.Text)

  private lazy val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def doc(msg: String, ts: Long = System.currentTimeMillis()): String =
    s"""{"timestamp":"${java.time.Instant.ofEpochMilli(ts)}","service":"api","level":"error","message":"$msg"}"""

  private def bulk(port: Int, docs: Seq[String]): Unit = {
    val r = post(port, "/_bulk", docs.mkString("", "\n", "\n"))
    assert(r.statusCode() == 200 && r.body().contains("\"errors\":false"), r.body())
  }

  private def search(port: Int, query: String): String = {
    val r = post(port, "/search",
      s"""{"query":"$query","from":0,"to":${Long.MaxValue},"size":100}""")
    assert(r.statusCode() == 200, r.body())
    r.body()
  }

  private def tempSink(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/docs"

  private def partFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory && !f.getName.startsWith("_")) partFiles(f)
      else if (f.getName.startsWith("part-")) Seq(f)
      else Nil
    }

  /** Stage names of the jobs started between two flushes, in order. */
  private final class JobLog extends SparkListener {
    private val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val desc = Option(js.properties).flatMap(p =>
        Option(p.getProperty("spark.job.description"))).getOrElse("")
      seen.add(desc -> js.stageInfos.map(_.name))
      ()
    }
    /** Runs a marker job and waits until the listener saw it, so every
      * job started before it has been delivered; returns and forgets
      * the stage names of those earlier jobs. */
    def drain(): Seq[String] = {
      val tag = s"bulk-publish-marker-${System.nanoTime()}"
      spark.sparkContext.setJobDescription(tag)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      import scala.jdk.CollectionConverters._
      while (!seen.asScala.exists(_._1 == tag) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      val all = seen.asScala.toSeq
      seen.clear()
      assert(all.exists(_._1 == tag), "listener never saw the marker job")
      all.takeWhile(_._1 != tag).flatMap(_._2)
    }
  }

  private def sinkReads(stages: Seq[String]): Seq[String] =
    stages.filter(_.startsWith("parquet at ServingCore.scala"))

  test("serving-mode /_bulk then search launches no ServingCore sink read") {
    val sink = tempSink("graft_publish")
    val srv = new EsHttpFacade(spark, mapping, sink, serving = true)
    val port = srv.start()
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      bulk(port, Seq(doc("first alpha")))
      log.drain()
      assert(search(port, "message:alpha").contains("\"total\":1"))
      // positive control: the first build does read the sink
      assert(sinkReads(log.drain()).nonEmpty)

      bulk(port, Seq(doc("second alpha")))
      assert(search(port, "message:alpha").contains("\"total\":2"))
      val stages = log.drain()
      assert(stages.nonEmpty, "the search ran no job")
      assert(sinkReads(stages).isEmpty, stages.mkString("; "))

      val m = srv.metrics.render
      assert(m.contains("seq_db_serving_full_rebuilds_total 1\n"), m)
      assert(m.contains("seq_db_serving_inprocess_publishes_total 1\n"), m)
    } finally {
      spark.sparkContext.removeSparkListener(log)
      srv.stop()
      srv.core.engine.table.df.unpersist(blocking = true)
    }
  }

  test("a sink change the core did not make still takes a full rebuild") {
    import spark.implicits._
    val sink = tempSink("graft_publish_ext")
    val srv = new EsHttpFacade(spark, mapping, sink, serving = true)
    val port = srv.start()
    try {
      bulk(port, Seq(doc("one beta")))
      assert(search(port, "message:beta").contains("\"total\":1"))
      // an external writer, then an in-process bulk before the next
      // probe: the bulk must not publish over the unseen change
      BulkIngest.project(Seq(doc("two beta")).toDF("value"), mapping,
        System.currentTimeMillis()).write.mode("append").parquet(sink)
      bulk(port, Seq(doc("three beta")))
      assert(search(port, "message:beta").contains("\"total\":3"))
      val m = srv.metrics.render
      assert(m.contains("seq_db_serving_full_rebuilds_total 2\n"), m)
      assert(m.contains("seq_db_serving_inprocess_publishes_total 0\n"), m)
    } finally {
      srv.stop()
      srv.core.engine.table.df.unpersist(blocking = true)
    }
  }

  test("a bulk writes one file per 10000 docs") {
    val sink = tempSink("graft_bulk_files")
    val srv = new EsHttpFacade(spark, mapping, sink)
    val port = srv.start()
    try {
      bulk(port, (1 to 5).map(i => doc(s"small $i")))
      assert(partFiles(new java.io.File(sink)).size == 1)
      bulk(port, (1 to 10001).map(i => doc(s"big $i")))
      assert(partFiles(new java.io.File(sink)).size == 3)
      assert(spark.read.parquet(sink).count() == 10006)
    } finally srv.stop()
  }

  for (serving <- Seq(false, true))
    test(s"/_bulk into a day-partitioned sink is found (serving=$serving)") {
      import spark.implicits._
      val sink = tempSink("graft_bulk_dated")
      val now = System.currentTimeMillis()
      BulkIngest.ingestPartitioned(Seq(doc("seed gamma", now - 3600000L)).toDF("value"),
        mapping, now, sink)
      val srv = new EsHttpFacade(spark, mapping, sink, serving = serving)
      val port = srv.start()
      try {
        // serving: build first, so the bulk below takes the publish path
        assert(search(port, "message:gamma").contains("\"total\":1"))
        bulk(port, Seq(doc("fresh gamma", now)))
        val hits = search(port, "message:gamma")
        assert(hits.contains("\"total\":2") && hits.contains("fresh gamma"), hits)
        // no flat root files: every reader of the sink sees the doc
        val root = new java.io.File(sink)
        assert(root.listFiles().forall(f => f.isDirectory || !f.getName.startsWith("part-")))
        assert(spark.read.parquet(sink).where($"_raw".contains("fresh gamma")).count() == 1)
      } finally {
        srv.stop()
        if (serving) srv.core.engine.table.df.unpersist(blocking = true)
      }
    }
}
