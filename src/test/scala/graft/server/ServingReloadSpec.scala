package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkSpec
import graft.model.{IndexType, SeqMapping}

/** Serving-mode operational behaviors from the round-6 verdict list:
  * mapping hot-reload (the reference re-reads its mapping file on a
  * timer and swaps it live, mappingprovider/mapping_provider.go:96-110
  * — here the file's signature rides the 1 s sink-generation probe)
  * and the pinned-sink byte cap (a 100×-scale sink must degrade to
  * DISK_ONLY instead of flooding executor memory).
  */
class ServingReloadSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def searchBody(port: Int, query: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/search"))
      .POST(HttpRequest.BodyPublishers.ofString(
        s"""{"query":"$query","from":0,"to":${Long.MaxValue},"size":10}"""))
      .build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("mapping hot-reload: a field added to the file becomes ingestable and searchable without restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reload")
    val mappingFile = dir.resolve("mapping.yaml")
    def writeMapping(extra: String): Unit =
      java.nio.file.Files.writeString(mappingFile,
        s"""mapping-list:
           |  - name: service
           |    type: keyword
           |  - name: level
           |    type: keyword
           |  - name: message
           |    type: text
           |$extra""".stripMargin)
    writeMapping("")
    val sink = dir.toString + "/docs"
    val srv = new EsHttpFacade(spark, SeqMapping.loadYaml(mappingFile.toString),
      sink, serving = true, mappingPath = Some(mappingFile.toString))
    srv.start()
    try {
      val ts = java.time.Instant.ofEpochMilli(System.currentTimeMillis()).toString
      def bulk(json: String): Unit = {
        val r = client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${srv.port}/_bulk"))
          .POST(HttpRequest.BodyPublishers.ofString(json + "\n")).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200, r.body())
      }
      bulk(s"""{"timestamp":"$ts","service":"api","level":"error","message":"one"}""")
      assert(searchBody(srv.port, "level:error")._2.contains("\"total\":1"))
      // `region` is not in the mapping yet: the unindexed-field
      // rejection (F11) must fire through the live server
      val (preCode, preBody) = searchBody(srv.port, "region:eu")
      assert(preCode == 500 && preBody.contains("not indexed"), s"$preCode $preBody")

      writeMapping(
        """  - name: region
          |    type: keyword""".stripMargin)
      Thread.sleep(1100) // the generation probe's staleness bound
      // a NEW doc carrying the new field is projected under the
      // reloaded mapping and immediately searchable by it
      bulk(s"""{"timestamp":"$ts","service":"api","level":"error","message":"two","region":"eu"}""")
      val (code, bodyS) = searchBody(srv.port, "region:eu")
      assert(code == 200 && bodyS.contains("\"total\":1"), s"$code $bodyS")

      // same reloaded mapping through the gRPC server sharing the core
      val gapi = new grpc.GrpcSeqApi(spark, srv.table,
        dir.toString + "/_async", serving = Some(srv.core))
      val gport = gapi.start()
      val gclient = new grpc.GrpcSeqClient("127.0.0.1", gport, gapi)
      try {
        import grpc.SeqProxyProto._
        val sr = gclient.search(PSearchRequest(
          SearchQuery("region:eu", 0L, Long.MaxValue),
          size = 10, offset = 0, withTotal = true, asc = false))
        assert(sr.total == 1, sr)
      } finally { gclient.close(); gapi.stop() }
    } finally srv.stop()
  }

  test("serving pin byte-cap: a sink above maxPinnedBytes degrades to DISK_ONLY with identical results") {
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.functions._
    val mapping = SeqMapping.of("level" -> IndexType.Keyword)
    val sink = java.nio.file.Files.createTempDirectory("graft_pin").toString + "/docs"
    spark.range(100)
      .select(col("id").as("mid"), col("id").as("rid"),
        when(col("id") % 2 === 0, "error").otherwise("info").as("level"))
      .write.parquet(sink)

    val pinned = new ServingCore(spark, mapping, sink)
    val n = pinned.engine.matches("level:error", 0L, Long.MaxValue).count()
    assert(pinned.engine.table.df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    // unpersist before building the capped core: the CacheManager
    // would otherwise keep serving the plan at its first-registered
    // storage level and silently ignore the second persist()
    pinned.engine.table.df.unpersist(blocking = true)

    spark.conf.set("spark.graft.serving.maxPinnedBytes", "1")
    try {
      val capped = new ServingCore(spark, mapping, sink)
      assert(capped.engine.table.df.storageLevel == StorageLevel.DISK_ONLY)
      assert(capped.engine.matches("level:error", 0L, Long.MaxValue).count() == n)
      capped.engine.table.df.unpersist()
    } finally {
      spark.conf.unset("spark.graft.serving.maxPinnedBytes")
    }
  }

  private def bulkTo(port: Int, json: String): Unit = {
    val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/_bulk"))
      .POST(HttpRequest.BodyPublishers.ofString(json + "\n")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body())
  }

  test("mapping hot-reload: a field added after the last rebuild is searchable in the next bulk") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reload_cols")
    val mappingFile = dir.resolve("mapping.yaml")
    def writeMapping(extra: String): Unit =
      java.nio.file.Files.writeString(mappingFile,
        s"""mapping-list:
           |  - name: level
           |    type: keyword
           |  - name: message
           |    type: text
           |$extra""".stripMargin)
    writeMapping("")
    val sink = dir.toString + "/docs"
    val srv = new EsHttpFacade(spark, SeqMapping.loadYaml(mappingFile.toString),
      sink, serving = true, mappingPath = Some(mappingFile.toString))
    srv.start()
    try {
      val ts = java.time.Instant.ofEpochMilli(System.currentTimeMillis()).toString
      bulkTo(srv.port, s"""{"timestamp":"$ts","level":"error","message":"one"}""")
      assert(searchBody(srv.port, "level:error")._2.contains("\"total\":1"))
      writeMapping(
        """  - name: region
          |    type: keyword""".stripMargin)
      Thread.sleep(1100) // the generation probe's staleness bound
      // this read rebuilds under the new mapping over files that have
      // no `region` column, so the pinned table has none either
      assert(searchBody(srv.port, "level:error")._2.contains("\"total\":1"))
      // the first doc carrying `region` cannot be published in place
      bulkTo(srv.port, s"""{"timestamp":"$ts","level":"error","message":"two","region":"eu"}""")
      val (code, bodyS) = searchBody(srv.port, "region:eu")
      assert(code == 200 && bodyS.contains("\"total\":1"), s"$code $bodyS")
      // once the table has the column, a bulk publishes in place again
      bulkTo(srv.port, s"""{"timestamp":"$ts","level":"info","message":"three","region":"eu"}""")
      val (code2, body2) = searchBody(srv.port, "region:eu")
      assert(code2 == 200 && body2.contains("\"total\":2"), s"$code2 $body2")
      val m = srv.metrics.render
      // first build, mapping edit, new column
      assert(m.contains("seq_db_serving_full_rebuilds_total 3\n"), m)
      assert(m.contains("seq_db_serving_inprocess_publishes_total 1\n"), m)
    } finally {
      srv.stop()
      srv.core.engine.table.df.unpersist(blocking = true)
    }
  }

  test("serving pin byte-cap: a bulk that grows a memory pin past maxPinnedBytes re-pins at DISK_ONLY") {
    import org.apache.spark.storage.StorageLevel
    val mapping = SeqMapping.of("level" -> IndexType.Keyword)
    val sink = java.nio.file.Files.createTempDirectory("graft_pin_grow").toString + "/docs"
    val srv = new EsHttpFacade(spark, mapping, sink, serving = true)
    srv.start()
    val ts = java.time.Instant.ofEpochMilli(System.currentTimeMillis()).toString
    bulkTo(srv.port, s"""{"timestamp":"$ts","level":"error"}""")
    val p = new org.apache.hadoop.fs.Path(sink)
    val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    // the sink as it is now fits the cap exactly; any append outgrows it
    spark.conf.set("spark.graft.serving.maxPinnedBytes", bytes.toString)
    try {
      assert(searchBody(srv.port, "level:error")._2.contains("\"total\":1"))
      assert(srv.core.engine.table.df.storageLevel == StorageLevel.MEMORY_AND_DISK)
      bulkTo(srv.port, s"""{"timestamp":"$ts","level":"error"}""")
      assert(searchBody(srv.port, "level:error")._2.contains("\"total\":2"))
      assert(srv.core.engine.table.df.storageLevel == StorageLevel.DISK_ONLY)
      val m = srv.metrics.render
      assert(m.contains("seq_db_serving_full_rebuilds_total 2\n"), m)
      assert(m.contains("seq_db_serving_inprocess_publishes_total 0\n"), m)
    } finally {
      spark.conf.unset("spark.graft.serving.maxPinnedBytes")
      srv.stop()
      srv.core.engine.table.df.unpersist(blocking = true)
    }
  }
}
