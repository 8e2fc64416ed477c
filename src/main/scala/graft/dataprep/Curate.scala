package graft.dataprep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the composition a training-data
  * pipeline actually runs.
  *
  * Stage order follows standard practice (cheap row-local gates first,
  * corpus-wide joins on the survivors only):
  *   1. quality gate      — row-local, runs at scan time
  *   2. language gate     — row-local
  *   3. exact dedup       — one hash-groupBy on the gated corpus
  *   4. near-dup drop     — MinHash+LSH clusters, keep representatives
  *   5. decontamination   — n-gram overlap vs the benchmark subset
  *   6. domain mixing     — row-local hash-rate filter
  *   7. train/val/test    — row-local hash-range split
  * Every stage is individually oracle-verified by its own gate query;
  * this operator is the composition, invariant-checked in CurateSpec.
  *
  * [[pipeline]] cuts its lineage with an eager `localCheckpoint` at
  * three points: the gated corpus (read twice by stage 3), the
  * exact-dedup survivors (read by LSH banding, the clusters path and
  * the near-dup join) and the near-dedup survivors (read three times
  * by stage 5 and once by the split). A cut saves the recompute a
  * cache pin would, and also shortens the plan: every later analysis,
  * cache lookup, AQE re-plan and SQL-execution explain starts at a
  * `LogicalRDD` leaf instead of walking back to the scan (a pin keeps
  * the whole upstream plan inside its `InMemoryRelation`). That
  * driver-side cost scales with plan size times the number of
  * executions, and the near-dup and decontamination stages run many
  * small executions, so on a small corpus it, not the data, sets the
  * pass time. Checkpoint blocks belong to their RDD and are freed by
  * the ContextCleaner once unreferenced: a pass leaves no cache entry.
  */
object Curate {

  /** Pipeline configuration. `minQuality` gates on
    * [[TextAnalysis.qualityScore]]'s composite score; `keepLangs` on
    * [[TextAnalysis.langId]]'s prediction; near-dup uses
    * [[Dedup.minhashLshPairs]] at jaccard >= thresholdNum/thresholdDen;
    * `benchPred` marks benchmark rows for [[Decontaminate.clean]];
    * `rates`/`defaultRate` feed [[Sampling.weightedMix]].
    */
  final case class Config(
      minQuality: Double = 0.35,
      keepLangs: Seq[String] = Seq("en", "de", "es", "fr"),
      numHashes: Int = 128,
      bands: Int = 32,
      thresholdNum: Int = 1,
      thresholdDen: Int = 2,
      minOverlap: Int = 5,
      rates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0)

  /** Run the pipeline. Returns the curated corpus: original columns
    * plus `quality_score`, `pred_lang` and `split` provenance. Stages
    * 1-4 run their jobs at call time; the returned frame is lazy over
    * the near-dedup checkpoint.
    */
  def pipeline(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, benchPred: Column, cfg: Config = Config()): DataFrame = {
    // 1-2: row-local gates appended IN PLACE (withQualityScore /
    // withLangId) — score, predict and filter fuse into one pass over
    // the scan; the join-per-gate formulation would re-scan the corpus
    // three times and shuffle it twice for columns that are pure
    // functions of the row
    val gated = TextAnalysis.withLangId(
        TextAnalysis.withQualityScore(df, textCol), textCol)
      .where(col("quality_score") >= cfg.minQuality &&
        col("pred_lang").isin(cfg.keepLangs: _*))
      .drop("n_tokens", "n_distinct", "n_punct", "n_digit", "n_stop",
        "text_len", "s_en", "s_de", "s_es", "s_fr", "s_zh")
      // stage 3 consumes the gated frame TWICE (dedup-key agg side +
      // join side) and the two exchanges never canonicalize equal, so
      // uncut the quality+langid scoring pass would run twice
      .localCheckpoint()

    // 3: exact dedup — keep the min-id representative per content hash
    val keepExact = gated
      .groupBy(md5(col(textCol)).as("__h"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    val survivors = gated.join(keepExact, Seq(idCol)).localCheckpoint()

    // 4: near-dup drop on the exact-deduped survivors. Pairs and
    // clusters both run jobs at call time; the clusters labels stay
    // pinned until the kept set is cut, then go. Stage 5 reads the kept
    // set THREE times (bench shingles, corpus shingles, the outer
    // anti-join base) and the split once more: each is a block read,
    // not a survivors⋈labels join replay.
    val pairs = Dedup.minhashLshPairs(survivors, idCol, textCol,
      cfg.numHashes, cfg.bands, cfg.thresholdNum, cfg.thresholdDen)
      .select("id_a", "id_b")
    val labels = Dedup.clusters(survivors, idCol, pairs)
    val nearDeduped = survivors.join(
      labels.where(col("id") === col("rep")).select(col("id").as(idCol)),
      Seq(idCol)).localCheckpoint()
    labels.unpersist()

    // 5: decontamination vs the benchmark subset
    val cleaned = Decontaminate.clean(nearDeduped, idCol, textCol,
      benchPred, cfg.minOverlap)

    // 6-7: row-local mixing + split
    val mixed =
      if (cfg.rates.isEmpty && cfg.defaultRate >= 1.0) cleaned
      else Sampling.weightedMix(cleaned, idCol, sourceCol, cfg.rates, cfg.defaultRate)
    Sampling.split(mixed, idCol)
  }

  /** v2 configuration: `minStops` relaxes Gopher rule 7 for corpora
    * without English function words (2 = published); `spanK` is the
    * duplicate-span window; `minOverlap` the decontamination shingle
    * threshold.
    */
  final case class V2Config(
      minStops: Int = 2,
      spanK: Int = 24,
      minOverlap: Int = 5)

  /** Curation v2 — the modern removal-centric recipe (the
    * FineWeb/Dolma shape), built on the operators added since
    * [[pipeline]]:
    *
    *   1. Gopher-rules gate      — row-local, integer-only decision,
    *      fused into the scan ([[TextAnalysis.withGopherRules]])
    *   2. duplicate-span removal — the Lee et al. rewrite across the
    *      gated corpus ([[Dedup.removeDuplicateSpans]]); docs whose
    *      text is fully excised drop out
    *   3. exact dedup            — on the REWRITTEN text: documents
    *      that differ only in since-removed spans collapse here,
    *      which is why this stage runs after the rewrite
    *   4. decontamination        — bench shingles come from the
    *      ORIGINAL bench text (the benchmark exists independently of
    *      corpus rewrites); corpus shingles from the published
    *      rewritten text ([[Decontaminate.clean]])
    *   5. train/val/test split   — salted-hash provenance
    *
    * `benchPred` must be evaluable from `idCol` alone (it is applied
    * on both the original frame and derived frames). Output:
    * (idCol, n_chars, n_removed, clean_text, split), ordered by id.
    *
    * Scale shape: stage 1 is a narrow projection; stage 2 is the
    * span-removal plan (window-keyed aggregation + equi-join, no df
    * cap needed); stages 3-4 are one hash agg + one broadcast-bench
    * anti-join; stage 5 is row-local. No fixpoints, no driver state —
    * unlike [[pipeline]]'s near-dup closure, every stage here is a
    * bounded number of shuffles.
    */
  def pipelineV2(df: DataFrame, idCol: String, textCol: String,
      benchPred: Column, cfg: V2Config = V2Config()): DataFrame = {
    // 1. Gopher gate, fused into the scan. The span rewrite consumes
    // this frame TWICE (the min-owner agg side and the positioned-
    // occurrence probe side are separate subtrees whose exchanges never
    // canonicalize equal — the r16 single-extraction attempt proved
    // reuse doesn't fire), so unpersisted the Gopher-rule pass runs
    // twice over the corpus; pin it for the rewrite and release below.
    val gated = TextAnalysis.withGopherRules(df, textCol, cfg.minStops)
      .where(col("keep"))
      .select(col(idCol), col(textCol))
      .persist()
    // 2. corpus-wide span rewrite; fully-excised docs drop out. The
    // rewrite is read by the dedup-key agg, the dedup join, and the
    // final audit join — persist it so those are cache reads. The
    // count barrier that used to swap this pin for the deduped frame
    // is GONE: holding both pins to the end of the function costs
    // only cache memory (evictable), while the barrier cost a whole
    // extra job (A/B at sf0.1, one box window: 4.1 s without the
    // barrier vs 4.6 s with; at sf1 the persist must stay — the
    // rewrite is no longer cheap relative to a cache write there, and
    // a recompute-both-sides variant read 32 s vs 19 s).
    val rewritten = Dedup.removeDuplicateSpans(gated, idCol, textCol, cfg.spanK)
      .where(length(col("clean_text")) > 0)
      .persist()
    // 3. exact dedup on the rewritten text
    val keepIds = rewritten
      .groupBy(md5(col("clean_text")).as("__h"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val deduped = rewritten.join(keepIds, Seq(idCol)).persist()
    // 4. decontamination: the bench side carries ORIGINAL text
    val unioned = deduped
      .where(!coalesce(benchPred, lit(false)))
      .select(col(idCol), col("clean_text").as("__txt"),
        lit(false).as("__bench"))
      .unionByName(df.where(benchPred)
        .select(col(idCol), col(textCol).as("__txt"),
          lit(true).as("__bench")))
    val decontaminated = Decontaminate.clean(
      unioned, idCol, "__txt", col("__bench"), cfg.minOverlap)
    // 5. split provenance, audit columns re-attached (from the pinned
    // deduped frame — every surviving id is in it)
    val out = Sampling.split(decontaminated.select(col(idCol)), idCol)
      .join(deduped.select(col(idCol), col("n_chars"),
        col("n_removed"), col("clean_text")), Seq(idCol))
      .select(col(idCol), col("n_chars"), col("n_removed"),
        col("clean_text"), col("split"))
      .orderBy(col(idCol))
      // materialize the result so the deduped pin can be released
      // HERE instead of backing the returned plan with no unpersist
      // path (r8 ADVICE: repeated pipeline calls in a long-lived
      // session accumulated pinned storage). localCheckpoint blocks
      // are RDD-owned — the ContextCleaner frees them once the
      // returned frame is unreferenced, no caller contract needed.
      .localCheckpoint(true)
    gated.unpersist()
    rewritten.unpersist()
    deduped.unpersist()
    out
  }

  /** Per-stage audit counts (docs in, docs kept, docs per split) —
    * the report a pipeline run logs for dataset cards. One job counts
    * the input and one the output per split; `kept` sums the splits.
    */
  def report(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, benchPred: Column, cfg: Config = Config()): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val total = df.count()
    val bySplit = pipeline(df, idCol, textCol, sourceCol, benchPred, cfg)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    (Seq("input" -> total, "kept" -> bySplit.map(_._2).sum) ++ bySplit)
      .toDF("stage", "docs")
  }
}
