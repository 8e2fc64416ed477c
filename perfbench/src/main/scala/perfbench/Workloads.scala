package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dataprep.{Curate, Decontaminate, Dedup, TextAnalysis}
import graft.functions.{TimeExpressions, Tokenizers}
import graft.ingest.BulkIngest
import graft.model.{IndexType, SeqMapping}

object Workloads {
  /** The http_logs mapping every log workload ingests with. */
  val LogMapping: SeqMapping = SeqMapping.of(
    "clientip" -> IndexType.Keyword,
    "request"  -> IndexType.Text,
    "status"   -> IndexType.Keyword,
    "size"     -> IndexType.Keyword,
    "service"  -> IndexType.Keyword,
    "level"    -> IndexType.Keyword,
    "message"  -> IndexType.Text)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Writes `lines` as `parts` NDJSON files, so the scan splits across
    * cores. */
  def writeNdjson(dir: File, lines: Array[String], parts: Int): Unit = {
    dir.mkdirs()
    Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
    val per = (lines.length + parts - 1) / parts
    for (p <- 0 until parts) {
      val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.io.FileOutputStream(new File(dir, f"part-$p%03d.ndjson")), "UTF-8"))
      try lines.slice(p * per, (p + 1) * per).foreach { l => w.write(l); w.write('\n') }
      finally w.close()
    }
  }

  /** Parquet files and bytes under a sink directory. */
  def parquetFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
      if (f.isDirectory) parquetFiles(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
    ()
  }

  /** Closed loop for batch workloads: run `op` until `seconds` have
    * passed; with tracing on, every other op runs inside a span. */
  def closedLoop(ctx: Ctx, seconds: Double, span: String)(op: => Boolean): Measured = {
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tr = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < end) {
      val on = ctx.traced && i % 2 == 0
      val t0 = System.nanoTime()
      val ok = ctx.tracer.span(span, on = on)(op)
      lat += (System.nanoTime() - t0) / 1e6
      tr += on
      ctx.count(ok, s"$span #$i")
      i += 1
    }
    Measured(lat.toArray, tr.toArray)
  }

  /** Repeats `op` untimed until `seconds` have passed: the JIT keeps
    * compiling graft's kernels for several ops after the first. */
  def warmFor(seconds: Double)(op: => Unit): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end) op
  }

  /** Times `body` once warm: one untimed run, then a timed one inside
    * a span named `name`. */
  def probe(ctx: Ctx, name: String)(body: => Unit): Double = {
    body
    ctx.timeS(ctx.tracer.span(name)(body))
  }
}

/** `ingest`: seeded http_logs NDJSON through
  * [[BulkIngest.ingestPartitioned]] into a day-partitioned zstd sink,
  * op after op, reading nothing back until the timed phase is over. */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import Workloads._
  val Docs = 20000
  private val inDir = new File(ctx.work, "ingest/in")
  private val outDir = new File(ctx.work, "ingest/out")
  private var corpus: Gen.LogCorpus = _
  private var input: DataFrame = _
  private var measured: Measured = _

  def prepare(): Unit = ()

  def setup(): Unit = {
    corpus = Gen.logCorpus(ctx.seed, Docs)
    writeNdjson(inDir, corpus.lines, ctx.cpus)
    input = ctx.spark.read.text(inDir.getPath)
  }

  private def ingestOnce(): Unit =
    BulkIngest.ingestPartitioned(input, LogMapping, Gen.RequestTimeMs, outDir.getPath,
      Gen.AllowedDriftMs, Gen.FutureDriftMs)

  def warmup(): Unit = warmFor(14)(ingestOnce())

  def measure(seconds: Double): Measured = {
    measured = closedLoop(ctx, seconds, "ingest.ingest_partitioned") { ingestOnce(); true }
    measured
  }

  def verify(): Unit = {
    val days = ctx.spark.read.parquet(outDir.getPath).groupBy(col("date").cast("string")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    ctx.count(days.values.sum == Docs, s"ingest rows ${days.values.sum} != $Docs")
    ctx.count(days == corpus.dayCounts, s"ingest per-day counts $days != ${corpus.dayCounts}")
    val p50s = Stats.median(measured.opsMs.toSeq) / 1e3
    val outBytes = parquetFiles(outDir).map(_.length).sum
    ctx.report ++= Seq(
      "docs" -> Docs, "ndjson_bytes" -> corpus.bytes,
      "out_of_drift_share" -> corpus.outOfDrift.toDouble / Docs,
      "days" -> corpus.dayCounts.size,
      "ingest_docs_per_s" -> Docs / p50s,
      "stored_bytes_ratio" -> outBytes.toDouble / corpus.bytes)
  }

  def probes(): Unit = {
    ctx.layer("ingest.stamp_s") = probe(ctx, "ingest.stamp") {
      noop(BulkIngest.stamp(input, Gen.RequestTimeMs, Gen.AllowedDriftMs, Gen.FutureDriftMs))
    }
    ctx.layer("ingest.project_s") = probe(ctx, "ingest.project") {
      noop(BulkIngest.project(input, LogMapping, Gen.RequestTimeMs, Gen.AllowedDriftMs, Gen.FutureDriftMs))
    }
    ctx.layer("ingest.write_s") = Stats.median(measured.opsMs.toSeq) / 1e3
    val files = parquetFiles(outDir)
    ctx.layer("ingest.files_out") = files.size
    ctx.layer("ingest.bytes_out") = files.map(_.length).sum.toDouble
    ctx.layer("functions.doc_time_s") = probe(ctx, "functions.doc_time") {
      noop(input.select(TimeExpressions.docTime(col("value"), BulkIngest.TimeFields, noZoneIsUtc = true)))
    }
    val messages = input.select(get_json_object(col("value"), "$.message").as("m"),
      get_json_object(col("value"), "$.request").as("r")).persist()
    messages.count()
    ctx.layer("functions.tokens_s") = probe(ctx, "functions.tokens") {
      noop(messages.select(Tokenizers.textTokens(col("m"), caseSensitive = false),
        Tokenizers.textTokens(col("r"), caseSensitive = false)))
    }
    messages.unpersist()
  }

  def close(): Unit = ()
}

/** `curate`: [[Curate.pipeline]] over a seeded text corpus with planted
  * exact and near duplicates, contaminated rows, low-quality and
  * foreign-language rows, pass after pass. */
final class CurateWorkload(ctx: Ctx) extends Workload {
  import Workloads._
  val BaseDocs = 300
  private var corpus: Gen.TextCorpus = _
  private var df: DataFrame = _
  private var measured: Measured = _
  private var kept = 0

  def prepare(): Unit = ()

  def setup(): Unit = {
    if (df != null) df.unpersist(blocking = true)
    corpus = Gen.textCorpus(ctx.seed, BaseDocs)
    val spark = ctx.spark
    import spark.implicits._
    df = corpus.docs.toSeq.toDF().withColumnRenamed("isBench", "is_bench")
      .repartition(ctx.cpus).persist()
    df.count()
  }

  /** One pass, consumed to the driver; checks the output. */
  private def pass(): Boolean = {
    val rows = Curate.pipeline(df, "id", "text", "source", col("is_bench"))
      .select(col("id"), md5(col("text"))).collect()
    val ids = rows.map(_.getLong(0))
    kept = ids.length
    val uniqueText = rows.map(_.getString(1)).distinct.length == rows.length
    val leaked = ids.count(id => corpus.contaminated(id) || corpus.bench(id))
    uniqueText && leaked == 0 && rows.nonEmpty
  }

  def warmup(): Unit = warmFor(10) { pass(); () }

  def measure(seconds: Double): Measured = {
    measured = closedLoop(ctx, seconds, "dataprep.pipeline")(pass())
    measured
  }

  def verify(): Unit = {
    val n = corpus.docs.length
    ctx.report ++= Seq(
      "docs" -> n, "kept" -> kept,
      "exact_dup_share" -> corpus.exactDups.size.toDouble / n,
      "near_dup_share" -> corpus.nearDups.size.toDouble / n,
      "contaminated_share" -> corpus.contaminated.size.toDouble / n,
      "bench_rows" -> corpus.bench.size,
      "low_quality_share" -> corpus.lowQuality.size.toDouble / n,
      "foreign_share" -> corpus.foreign.size.toDouble / n,
      "sources" -> Gen.Sources.length,
      "curate_docs_per_s" -> n / (Stats.median(measured.opsMs.toSeq) / 1e3))
  }

  def probes(): Unit = {
    ctx.layer("dataprep.gate_s") = probe(ctx, "dataprep.gate") {
      noop(TextAnalysis.withLangId(TextAnalysis.withQualityScore(df, "text"), "text"))
    }
    val cfg = Curate.Config()
    var pairs: DataFrame = null
    ctx.layer("dataprep.minhash_pairs_s") = probe(ctx, "dataprep.minhash_pairs") {
      pairs = Dedup.minhashLshPairs(df, "id", "text", cfg.numHashes, cfg.bands,
        cfg.thresholdNum, cfg.thresholdDen)
      pairs.count()
    }
    ctx.layer("dataprep.clusters_s") = probe(ctx, "dataprep.clusters") {
      Dedup.clusters(df, "id", pairs.select("id_a", "id_b")).count()
    }
    ctx.layer("dataprep.decontam_s") = probe(ctx, "dataprep.decontam") {
      Decontaminate.clean(df, "id", "text", col("is_bench"), cfg.minOverlap).count()
    }
    // LSH candidates: distinct pairs sharing a band key, before the
    // exact Jaccard check that minhashLshPairs applies
    val banded = Dedup.shingleHashes(df, "id", "text").select(col("id"),
      explode(graft.functions.VectorExpressions.minhashBandKeys(col("sh"), cfg.numHashes, cfg.bands)).as("bk"))
    val candidates = banded.select(col("id").as("a"), col("bk"))
      .join(banded.select(col("id").as("b"), col("bk")), "bk")
      .where(col("a") < col("b")).select("a", "b").distinct().count()
    ctx.layer("dataprep.candidate_precision") = pairs.count().toDouble / math.max(1L, candidates)
    val withSh = Dedup.shingleHashes(df, "id", "text").persist()
    withSh.count()
    ctx.layer("functions.tokens_s") = probe(ctx, "functions.tokens") {
      noop(df.select(Tokenizers.textTokens(col("text"), caseSensitive = false)))
    }
    ctx.layer("functions.minhash_s") = probe(ctx, "functions.minhash") {
      noop(withSh.select(graft.functions.VectorExpressions.minhashSignature(col("sh"), cfg.numHashes)))
    }
    withSh.unpersist()
  }

  def close(): Unit = ()
}
