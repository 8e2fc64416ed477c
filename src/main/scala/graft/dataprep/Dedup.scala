package graft.dataprep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * blocked n-gram Jaccard, MinHash+LSH, SimHash. All are pure
  * DataFrame programs — no driver-side loops — so they scale with the
  * cluster: blocking/banding keys become shuffle keys and the
  * candidate verification is a co-partitioned join.
  *
  * Jaccard thresholds are evaluated as integer cross-multiplications
  * (`inter * den >= num * union`) so there is no floating point in the
  * decision — results are bit-stable across engines.
  */
object Dedup {

  /** Brute/LSH cutover for [[embeddingNearDupPairs]] and the band
    * layout of its LSH leg — shared constants so the oracles that
    * encode the cutover contract (SparkEntry's nearDup CTEs) cannot
    * silently desync from the operator. NOTE: the session conf
    * `spark.graft.dedup.bruteForceMax` overrides the cutover at run
    * time; the oracles assume it is UNSET during verification. */
  val BruteForceMaxDefault = 10000L
  /** Random-hyperplane LSH layout for [[embeddingNearDupPairs]]:
    * 4 bands × 16 sign bits (64 projections). 16-bit bands give
    * 65536 buckets per band — the 8-bit original saturated at ~10^5
    * vectors (256 buckets → every bucket holds n/256 vectors and the
    * candidate join degenerates toward all-pairs; the sf10 probe
    * burned ~3e9 false candidates through it). Near-identical dups
    * (the function's recall contract) agree on all 64 bits, so
    * widening costs them nothing; borderline-similarity recall drops,
    * which the plan-aware oracle encodes rather than papers over. */
  val LshBands = 4
  val LshBandBits = 16
  /** Vector-attach joins switch from broadcast-hash to shuffle above
    * this corpus size (2M × ~1 KB vectors ≈ 2 GB, well under Spark's
    * 8 GB broadcast hard cap). */
  val AttachBroadcastMaxDefault = 2000000L
  /** ...and below THIS size the hint is skipped entirely: a small
    * corpus's candidate stream sorts in memory for free, while the
    * driver-side broadcast build is a fixed ~0.5 s — measured at the
    * 60k-vector bench row, the unconditional hint doubled the query.
    * Between the two bounds the broadcast is worth ~20% even after
    * the 16-bit band widening removed the catastrophic case (sf10:
    * crash → 20.4 s shuffled → 16.0 s broadcast). */
  val AttachBroadcastMinDefault = 200000L
  /** Byte ceiling for the attach broadcast. The row-count window above
    * assumes ~1 KB vectors; row count alone would force-broadcast a
    * 2M × 4096-dim corpus (~64 GB) straight past Spark's 8 GB hard
    * limit and fail the job where the shuffle attach succeeds. When n
    * is inside the row window the vector dimension is probed from one
    * row and the estimated payload n·(8·dim+32) must ALSO clear this
    * cap (2 GiB: comfortably under the hard limit and a sane slice of
    * a real executor's memory). Conf:
    * spark.graft.dedup.attachBroadcastMaxBytes. */
  val AttachBroadcastMaxBytesDefault = 2L << 30
  /** [[simhashPairs]] switches from the 4×16-bit band scheme to the
    * 10-table block-pair scheme above this corpus size. Measured
    * (SimhashCliffProbe, 32-core local, uniform corpora with linear
    * true-pair mass): wide wins at 1M (4.3 s vs 7.1) and 4M (8.2 vs
    * 12.2), is within noise at 16M (41.8 vs 35.1 — container-FS
    * shuffle IO prices wide's 2.5× banded rows; a cluster's shuffle
    * tier prices the narrow scheme's n²/2^16 candidate mass instead),
    * and on the 6M-doc sf10 replica halves the end-to-end row
    * (215 s → 113 s, bit-identical 103.5M pairs). Saturation grows
    * with n², so above this size wide is the only viable plan. */
  val SimhashWideMinDefault = 2000000L

  /** Exact duplicates by content hash. Output: one row per distinct
    * content, with the representative (min id) and the group size.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("cnt"))
      .orderBy(col("content_hash").asc)

  /** Near-duplicate pairs by n-gram (word-bigram) Jaccard with
    * length-based blocking: only pairs whose `lenCol` differs by at
    * most `maxLenDiff` are candidates (a necessary condition for high
    * Jaccard between near-identical texts). Blocking is implemented as
    * an equi-join on length buckets (each left row probes its own and
    * both adjacent buckets), so Spark shuffles on the bucket key
    * instead of building an O(n^2) cross product.
    *
    * Threshold: jaccard >= thresholdNum/thresholdDen.
    * Output: id_a < id_b, inter_cnt, union_cnt.
    *
    * Cost note: verification moves both docs' hash sets through the
    * candidate join, so wall-clock is proportional to candidate count ×
    * set size. The synthetic testdata's tiny vocabulary makes length
    * buckets unusually dense (~1.2M candidates for 5k docs at sf0.1);
    * real corpora block far sparser. For very dense data prefer
    * [[minhashLshPairs]], whose banding collapses candidates by
    * similarity rather than length.
    */
  /** Small inputs arrive as one parquet split; candidate verification
    * would then run on a single task. Spread to the session's shuffle
    * parallelism before the pair-generation join.
    */
  private def spread(df: DataFrame): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // Skip the exchange when the plan already has enough splits — at
    // corpus scale an unconditional repartition shuffles the whole
    // input once more before pair generation for nothing. The probe is
    // only free on exchange-free plans (a scan's RDD partition count is
    // its real split count, no job); for a plan that already shuffles,
    // .rdd under AQE would EXECUTE the upstream stages just to read a
    // count the caller's new query couldn't reuse — there the old
    // unconditional repartition stays (AQE coalesces it when overkill).
    val hasExchange = df.queryExecution.sparkPlan.find {
      case _: org.apache.spark.sql.execution.exchange.Exchange => true
      case _ => false
    }.isDefined
    if (!hasExchange && df.rdd.getNumPartitions >= n) df
    else df.repartition(n)
  }

  // Set operations run on sorted xxhash64 mirrors of the shingle sets
  // (BigramHashesExpr): two-pointer merges on longs instead of per-pair
  // string-array hash sets. Counts equal the string-set counts barring
  // a 64-bit collision inside one document (~1e-15 at 1e4 shingles).
  private def interCount(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.sortedIntersectCount(a, b)

  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, lenCol: String,
      maxLenDiff: Int, thresholdNum: Int, thresholdDen: Int): DataFrame = {
    val s = ngramShingles(df, idCol, textCol, lenCol, maxLenDiff).persist()
    // eager result + release, same contract as [[minhashLshPairs]]:
    // the pair list is tiny next to the corpus-sized shingle cache
    try ngramJaccardPairsFromShingles(s, maxLenDiff,
      thresholdNum, thresholdDen).localCheckpoint(true)
    finally { s.unpersist(); () }
  }

  /** The (id, len, bkt, sh) frame [[ngramJaccardPairsFromShingles]]
    * consumes. */
  private[dataprep] def ngramShingles(df: DataFrame, idCol: String,
      textCol: String, lenCol: String, maxLenDiff: Int): DataFrame =
    df.select(
      col(idCol).as("id"),
      col(lenCol).as("len"),
      (col(lenCol) / maxLenDiff).cast("long").as("bkt"),
      graft.functions.TokenizeExpr.bigramHashes(TextPrep.tokens(col(textCol))).as("sh"))

  /** [[ngramJaccardPairs]] over a precomputed, persisted
    * (id, len, bkt, sh) frame — the LAZY inner plan (plan-shape tests
    * inspect it; the public wrapper owns persistence + checkpoint). */
  private[dataprep] def ngramJaccardPairsFromShingles(s: DataFrame,
      maxLenDiff: Int, thresholdNum: Int, thresholdDen: Int): DataFrame = {
    val probes = spread(s)
      .withColumn("probe", explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)))
      .select(col("id").as("id_a"), col("len").as("len_a"), col("sh").as("sh_a"), col("probe"))
    val right = s.select(col("id").as("id_b"), col("len").as("len_b"), col("sh").as("sh_b"), col("bkt"))
    probes
      // equi-join on the bucket key — shuffles on bkt at corpus scale
      // (a forced broadcast of every doc's hash arrays would OOM once
      // the corpus outgrows executor memory); AQE still converts to a
      // runtime broadcast when the bucketed side is actually small
      .join(right, col("probe") === col("bkt") && col("id_a") < col("id_b"))
      .where(abs(col("len_a") - col("len_b")) <= maxLenDiff)
      // necessary condition evaluated before the intersect kernel:
      // J = i/(|A|+|B|-i) <= min/max, so a pair whose set sizes are too
      // disparate can never reach the threshold — filtered on two
      // already-known sizes, no array walk
      .where(least(size(col("sh_a")), size(col("sh_b"))) * thresholdDen >=
        lit(thresholdNum) * greatest(size(col("sh_a")), size(col("sh_b"))))
      .withColumn("inter_cnt", interCount(col("sh_a"), col("sh_b")))
      // |A ∪ B| = |A| + |B| − |A ∩ B| — no second array operation
      .withColumn("union_cnt",
        (size(col("sh_a")) + size(col("sh_b"))).cast("long") - col("inter_cnt"))
      .where(col("inter_cnt") * thresholdDen >= lit(thresholdNum) * col("union_cnt"))
      .select("id_a", "id_b", "inter_cnt", "union_cnt")
      .orderBy("id_a", "id_b")
  }

  /** Containment near-dup pairs: ordered (id_a, id_b) where at least
    * thresholdNum/thresholdDen of A's distinct shingles also appear in
    * B — the asymmetric measure that catches WHOLESALE INCLUSION
    * (a doc quoted inside a longer one, nested reposts, boilerplate
    * wrappers), which symmetric Jaccard misses because the size gap
    * crushes i/(|A|+|B|-i).
    *
    * Candidate generation is prefix filtering (the AllPairs/PPJoin
    * family): with t = ceil(θ·|A|) required matches, a qualifying B
    * must share at least one of A's first |A|−t+1 sorted shingle
    * hashes — if the whole prefix misses B, at most t−1 matches
    * remain. So candidates = equi-join of A-prefixes against all
    * postings on the shingle-hash key (shuffle on the hash, never a
    * cross product), deduped to distinct pairs BEFORE the arrays are
    * attached for exact verification with the sorted-merge intersect.
    *
    * Scale: postings are linear in corpus shingles; prefix length is
    * (1−θ)·|A|+1, so high thresholds probe a small fraction. The
    * classic refinement — ordering shingles by global rarity so
    * prefixes carry the most selective tokens — adds a frequency-
    * dictionary join; hash order (uniformly random positions) is the
    * dictionary-free variant, the right default until a skewed corpus
    * measures otherwise.
    *
    * Cache note: the shingle frame is persisted (it feeds the probe,
    * posting, and both verification branches); like [[clusters]], the
    * returned plan reads it lazily — long-lived sessions should
    * unpersist via `spark.catalog.clearCache()` or re-derive once
    * materialized.
    */
  /** @param maxDfAbs ABSOLUTE posting-list cap, composing with
    *   `maxDfFrac` as the smaller of the two bounds (0 disables). A
    *   fractional cap alone is NOT scale-stable: posting lists bound
    *   at maxDfFrac·N grow linearly with the corpus and candidate
    *   volume quadratically — a 10× corpus rehearsal measured exactly
    *   ×100 candidate rows and a disk-filling verification shuffle.
    *   An absolute cap makes candidate volume O(N·cap), the linear
    *   shape a 1000-executor run needs; the exactness corner is the
    *   same (a pair is missed only when its entire shared evidence is
    *   capped shingles).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      thresholdNum: Int, thresholdDen: Int,
      maxDfFrac: Double = 1.0, maxDfAbs: Long = 0L): DataFrame = {
    val s = containmentHashes(df, idCol, textCol).persist()
    // eager result + release, same contract as [[minhashLshPairs]]
    try containmentPairsFromHashes(s, thresholdNum, thresholdDen,
      maxDfFrac, maxDfAbs).localCheckpoint(true)
    finally { s.unpersist(); () }
  }

  /** The (id, hs) sorted-distinct shingle-hash frame
    * [[containmentPairsFromHashes]] consumes. */
  private[dataprep] def containmentHashes(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    spread(df).select(col(idCol).as("id"),
        graft.functions.TokenizeExpr.bigramHashes(TextPrep.tokens(col(textCol))).as("hs"))
      .where(size(col("hs")) > 0)

  /** [[containmentPairs]] over a precomputed, persisted (id, hs)
    * shingle-hash frame — the LAZY inner plan (plan-shape tests
    * inspect it; the public wrapper owns persistence + checkpoint). */
  private[dataprep] def containmentPairsFromHashes(s: DataFrame,
      thresholdNum: Int, thresholdDen: Int,
      maxDfFrac: Double, maxDfAbs: Long): DataFrame = {
    require(thresholdNum > 0 && thresholdNum <= thresholdDen,
      "threshold must be a fraction in (0, 1]")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0, "maxDfFrac must be in (0, 1]")
    require(maxDfAbs >= 0L, "maxDfAbs must be >= 0 (0 disables)")
    val n = size(col("hs"))
    val need = ((n * thresholdNum + lit(thresholdDen - 1)) / thresholdDen).cast("int")
    val probes0 = s.select(col("id").as("id_a"),
      explode(slice(col("hs"), lit(1), n - need + 1)).as("h"))
    val posts0 = s.select(col("id").as("id_b"), explode(col("hs")).as("h"))
    // Document-frequency cap on CANDIDATE GENERATION only. A stop-bigram
    // shingle ("of the") present in df·N docs contributes df²·N² rows to
    // the candidate join — one hot shuffle partition at corpus scale. With
    // the cap, shingles in more than maxDfFrac of docs are dropped from
    // both explode sides (never from verification, which reruns the exact
    // sorted-merge intersect on the full arrays), bounding every posting
    // list by maxDfFrac·N. The filtering itself runs as a codegen'd
    // per-row sorted difference against the plan-shipped hot array — no
    // extra shuffle; the DF groupBy that finds the hot set is skew-immune
    // because count() partial-aggregates map-side before the shuffle.
    //
    // The probe prefix is rebuilt over the NON-HOT subarray with a
    // per-doc widened length, keeping the pruning EXACT in all but one
    // corner: with t = ceil(θ·|A|) and hA = |A ∩ HOT|, a qualifying B
    // shares ≥ t − hA non-hot shingles with A (at most hA of the shared
    // ones can be hot), so probing A's first |A\HOT| − (t − hA) + 1
    // sorted non-hot shingles must hit B — if every probe missed, only
    // t − hA − 1 non-hot matches could remain, a contradiction. When
    // t ≤ hA (a doc whose required overlap could consist entirely of
    // stop-shingles) all non-hot shingles are probed and the pair is
    // missed only if A∩B ⊆ HOT — i.e. the sole duplication evidence is
    // stop-phrases, the noise the cap exists to ignore. Precision is
    // always exact. maxDfFrac = 1.0 disables the cap entirely.
    val (probes, posts) =
      if (maxDfFrac >= 1.0 && maxDfAbs == 0L) (probes0, posts0)
      else {
        val nDocs = s.count() // s is persisted; this action warms the cache
        val fracCap =
          if (maxDfFrac >= 1.0) Long.MaxValue
          else math.max(1L, (maxDfFrac * nDocs).toLong)
        val cap = if (maxDfAbs > 0L) math.min(fracCap, maxDfAbs) else fracCap
        // The hot set itself collects to the driver and ships inside the
        // codegen'd sorted-diff kernel — the same KB-sided-metadata
        // pattern as the bloom/centroid sidecars. Its size is bounded by
        // pigeonhole at totalShingleOccurrences/(maxDfFrac·N): sane caps
        // keep it in the KBs–MBs even at corpus scale.
        // Size guard: ANY subset of the over-cap shingles is a valid
        // exclusion set (the widened-prefix proof only needs probe,
        // posting and per-doc widening to agree on membership, which
        // sortedDiff guarantees), so an adversarial corpus with a huge
        // hot vocabulary degrades to excluding the 2^20 HOTTEST keys —
        // the dominant skew — instead of bloating the plan object.
        val maxHot = 1 << 20
        val hotArr = s.select(explode(col("hs")).as("h"))
          .groupBy("h").agg(count(lit(1)).as("df"))
          .where(col("df") > cap)
          .orderBy(col("df").desc, col("h").asc).limit(maxHot)
          .select("h").collect().map(_.getLong(0)).sorted
        if (hotArr.isEmpty) (probes0, posts0)
        else {
          val nonHot =
            graft.functions.VectorExpressions.sortedDiff(col("hs"), hotArr)
          val nNon = size(nonHot)
          val prefLen = nNon - greatest(lit(1), need - (n - nNon)) + 1
          val probes1 = s.select(col("id").as("id_a"),
            explode(slice(nonHot, lit(1), greatest(prefLen, lit(0)))).as("h"))
          val posts1 = s.select(col("id").as("id_b"), explode(nonHot).as("h"))
          (probes1, posts1)
        }
      }
    val cands = probes.join(posts, Seq("h"))
      .where(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()
    cands
      .join(s.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(s.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("inter_cnt", interCount(col("hs_a"), col("hs_b")))
      .withColumn("n_a", size(col("hs_a")).cast("long"))
      .where(col("inter_cnt") * thresholdDen >= lit(thresholdNum) * col("n_a"))
      .select("id_a", "id_b", "inter_cnt", "n_a")
      .orderBy("id_a", "id_b")
  }

  /** MinHash signature column: `numHashes` permutations
    * h_i(x) = (a_i * x + b_i) mod P over xxhash64'd shingles, P =
    * 2^31 - 1 (Mersenne prime). Coefficients derive deterministically
    * from the permutation index, so signatures are reproducible.
    * Shingle hashes are computed once and reused by every permutation
    * (all inside whole-stage codegen — no UDFs).
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.functions.VectorExpressions.minhashSignature(
      transform(shingles, s => xxhash64(s)), numHashes)

  /** MinHash + LSH near-duplicate pairs, verified exactly.
    *
    * Pipeline: shingle → signature → `bands` LSH buckets per doc →
    * shuffle on (band, band-signature) → per-bucket candidate pairs →
    * exact Jaccard verification on the shingle sets. With r =
    * numHashes/bands rows per band, recall at similarity s is
    * 1 - (1 - s^r)^bands; e.g. 128 hashes / 32 bands (r=4) gives
    * recall ≈ 1 for near-identical dups (s ≳ 0.9) while keeping the
    * candidate set sparse even when most pairs share low similarity,
    * so the LSH path reproduces the brute-force result while scaling
    * as O(n · candidates) instead of O(n^2). Output: id_a < id_b,
    * inter_cnt, union_cnt for pairs with
    * jaccard >= thresholdNum/thresholdDen.
    */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int,
      thresholdNum: Int, thresholdDen: Int): DataFrame = {
    // Shingle hashes are needed twice (banding, exact verification) —
    // persist the compact per-doc form once. The pairs result is tiny
    // next to the corpus, so it is materialized eagerly
    // (localCheckpoint: blocks are reference-tracked and GC-reclaimed)
    // and the corpus-sized shingle cache released HERE — returning a
    // lazy frame would leak that cache for the session, since no
    // caller can know when the last consumption happened.
    val withSh = shingleHashes(df, idCol, textCol).persist()
    try minhashLshPairsFromShingles(withSh, numHashes, bands,
      thresholdNum, thresholdDen).localCheckpoint(true)
    finally { withSh.unpersist(); () }
  }

  /** The MinHash family's shared front end: the (id, sh) shingle-hash
    * frame for `df`, spread to the session's shuffle parallelism.
    * Tokenize + shingle is the family's per-document O(chars) cost —
    * a caller that runs SEVERAL stages over one batch (the streaming
    * path self-dedups, index-probes and index-appends the same rows)
    * should compute this once, persist it, and feed the
    * `...FromShingles` variants instead of paying the pass per stage.
    */
  def shingleHashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(df.select(col(idCol), col(textCol)))
      .select(
        col(idCol).as("id"),
        graft.functions.TokenizeExpr.bigramHashes(TextPrep.tokens(col(textCol))).as("sh"))

  /** [[minhashLshPairs]] over a precomputed [[shingleHashes]] frame
    * (persist it — both the banding and the verification join consume
    * it).
    */
  def minhashLshPairsFromShingles(withSh: DataFrame,
      numHashes: Int, bands: Int,
      thresholdNum: Int, thresholdDen: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // The band self-join stays NARROW: (id, band key) only, 16 bytes a
    // row. Carrying the shingle arrays through this join would move
    // kilobytes per candidate through the shuffle; instead candidate
    // pairs are deduped first and the arrays attached afterwards by
    // joining back on id (per-doc side — AQE broadcasts it when small;
    // at corpus scale it is an id-partitioned shuffle join, still one
    // array copy per pair instead of one per band collision).
    // (no persist here: both join sides re-derive the narrow banded form
    // from the persisted withSh — recomputing band keys is cheaper than
    // a persist materialization barrier)
    val banded = withSh.select(col("id"),
      explode(graft.functions.VectorExpressions.minhashBandKeys(
        col("sh"), numHashes, bands)).as("bk"))
    val pairs = banded.select(col("id").as("id_a"), col("bk"))
      .join(banded.select(col("id").as("id_b"), col("bk")), Seq("bk"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(withSh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(withSh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter_cnt", interCount(col("sh_a"), col("sh_b")))
      .withColumn("union_cnt",
        (size(col("sh_a")) + size(col("sh_b"))).cast("long") - col("inter_cnt"))
      .where(col("inter_cnt") * thresholdDen >= lit(thresholdNum) * col("union_cnt"))
      .select("id_a", "id_b", "inter_cnt", "union_cnt")
      .orderBy("id_a", "id_b")
  }

  /** Persisted MinHash band index for INCREMENTAL near-duplicate
    * detection: at 100 TB a daily batch cannot re-run LSH over the
    * whole corpus (minhashLshPairs re-bands every document), so the
    * banded form is written ONCE and each new batch probes it. Layout:
    * `<path>/bands` = (id, bk) band keys, bk-clustered files (range
    * exchange + in-file sort → tight parquet min/max per file);
    * `<path>/shingles` = (id, sh) shingle hashes, id-range-sorted, for
    * exact verification. Append the (kept) new batch afterwards via
    * `mode = "append"` — both file sets are append-safe (stats stay
    * per-file).
    */
  /** `partition`: optional `key=value` subdirectory BOTH file sets are
    * written under (e.g. `batch=7`) — readers discover it as a
    * partition column; a replayed writer with mode "overwrite"
    * replaces its own partition instead of double-appending, which is
    * what makes streaming index maintenance idempotent.
    */
  def buildMinhashIndex(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, indexPath: String,
      mode: String = "overwrite", partition: Option[String] = None): Unit = {
    val withSh = df.select(col(idCol).as("id"),
      graft.functions.TokenizeExpr.bigramHashes(TextPrep.tokens(col(textCol))).as("sh"))
      .persist()
    try buildMinhashIndexFromShingles(withSh, numHashes, bands, indexPath,
      mode, partition)
    finally { withSh.unpersist(); () }
  }

  /** [[buildMinhashIndex]] over a precomputed [[shingleHashes]] frame
    * (the caller owns its persistence — two writes consume it). */
  def buildMinhashIndexFromShingles(withSh: DataFrame,
      numHashes: Int, bands: Int, indexPath: String,
      mode: String = "overwrite", partition: Option[String] = None): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sub = partition.map("/" + _).getOrElse("")
    // shingles BEFORE bands: a crash between the two writes then leaves
    // docs without band keys (merely unfindable — same as never
    // indexed), never band keys without shingles (whose verification
    // join would silently drop candidates)
    withSh
      .repartitionByRange(col("id"))
      .sortWithinPartitions(col("id"))
      .write.mode(mode).parquet(s"$indexPath/shingles$sub")
    withSh
      .select(col("id"), explode(graft.functions.VectorExpressions.minhashBandKeys(
        col("sh"), numHashes, bands)).as("bk"))
      .repartitionByRange(col("bk"))
      .sortWithinPartitions(col("bk"))
      .write.mode(mode).parquet(s"$indexPath/bands$sub")
    writeFamilyMarker(withSh.sparkSession, indexPath)
  }

  private def familyMarker(indexPath: String) =
    new org.apache.hadoop.fs.Path(
      s"$indexPath/_MINHASH_FAMILY_V${graft.functions.MinHashCoefficients.familyVersion}")

  private def writeFamilyMarker(spark: org.apache.spark.sql.SparkSession, indexPath: String): Unit = {
    val p = familyMarker(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) fs.create(p, true).close()
  }

  /** Band keys are only comparable within one hash family: probing an
    * index whose keys came from a different family would find ZERO
    * candidates and silently report "no duplicates" — the worst
    * failure mode a dedup pipeline can have. The marker is written by
    * [[buildMinhashIndex]]; its absence means the index predates the
    * current family (or isn't a minhash index at all) and must be
    * rebuilt. */
  private def requireFamilyMarker(spark: org.apache.spark.sql.SparkSession, indexPath: String): Unit = {
    val p = familyMarker(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      throw new IllegalStateException(
        s"minhash index at $indexPath lacks ${p.getName}: it was built " +
          "with an incompatible hash family (or is not a minhash index); " +
          "rebuild it with buildMinhashIndex before probing")
  }

  /** In-place migration of a persisted band index to the CURRENT hash
    * family — the rebuild path for a pre-v2 (or any stale-family)
    * index that [[requireFamilyMarker]] now refuses to probe. A user
    * with a 100 TB index must not need the original corpus text: the
    * persisted `shingles` file set is family-INDEPENDENT (bigram
    * hashes of tokens — the family only governs how band keys are
    * derived FROM a shingle set), so the migration is one distributed
    * pass over `shingles` that recomputes `minhashBandKeys` under the
    * current coefficients and rewrites `bands` with the same
    * bk-clustered layout [[buildMinhashIndex]] produces. Partition
    * subdirectories (`batch=...`) riding on the shingles layout are
    * preserved on the rewritten bands so streaming index maintenance
    * keeps its idempotent per-batch overwrite semantics.
    *
    * Idempotent: if the current-family marker is already present the
    * index is already probe-able and the call is a no-op. Crash-safe
    * in the same order the builder is: bands are rewritten FIRST and
    * the marker only lands after — a crash mid-migration leaves an
    * unmarked index that still refuses probes, never one that probes
    * against half-migrated keys. Stale `_MINHASH_FAMILY_V*` markers of
    * other versions are removed so the directory states exactly one
    * family.
    */
  def migrateMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, numHashes: Int, bands: Int): Boolean = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val marker = familyMarker(indexPath)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return false // already current-family
    val sh = spark.read.parquet(s"$indexPath/shingles")
    val partCols = sh.columns.filterNot(c => c == "id" || c == "sh").toSeq
    val rebuilt = sh
      .select((col("id") +: partCols.map(col)) :+
        explode(graft.functions.VectorExpressions.minhashBandKeys(
          col("sh"), numHashes, bands)).as("bk"): _*)
      .repartitionByRange(col("bk"))
      .sortWithinPartitions(col("bk"))
    val w = rebuilt.write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .parquet(s"$indexPath/bands")
    // one family per directory: clear other-version markers, then mark
    val dir = new org.apache.hadoop.fs.Path(indexPath)
    fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.startsWith("_MINHASH_FAMILY_V") && p.getName != marker.getName)
      .foreach(p => fs.delete(p, false))
    writeFamilyMarker(spark, indexPath)
    true
  }

  /** Near-dup pairs of a NEW batch against the indexed corpus — the
    * incremental companion of [[minhashLshPairs]] (same banding, same
    * exact verification, so a pair is reported iff the full-corpus run
    * would report it as a cross pair — "iff" is relative to the LSH
    * run, NOT to brute force: at 128 hashes / 32 bands recall for
    * pairs barely above the Jaccard threshold is ~0.87, so agreement
    * with an all-pairs oracle additionally assumes the corpus's true
    * dups are near-identical, where banding recall ≈ 1). The batch side is broadcast:
    * the candidate probe is ONE pass over the band index with no
    * shuffle of the corpus, and verification joins shingles only for
    * the candidate ids. Output: new_id, old_id, inter_cnt, union_cnt.
    */
  def dedupAgainstIndex(newDf: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, thresholdNum: Int, thresholdDen: Int,
      indexPath: String): DataFrame = {
    val newSh = newDf.select(col(idCol).as("new_id"),
      graft.functions.TokenizeExpr.bigramHashes(TextPrep.tokens(col(textCol))).as("sh_new"))
      .persist()
    // eager + unpersist, same rationale as [[minhashLshPairs]]: the
    // cross-pairs result is batch-sized, the shingle cache is not
    try dedupAgainstIndexFromShingles(newSh, numHashes, bands,
      thresholdNum, thresholdDen, indexPath).localCheckpoint(true)
    finally { newSh.unpersist(); () }
  }

  /** [[dedupAgainstIndex]] over a precomputed (new_id, sh_new)
    * shingle-hash frame (persist it — banding and verification both
    * consume it). */
  def dedupAgainstIndexFromShingles(newSh: DataFrame,
      numHashes: Int, bands: Int, thresholdNum: Int, thresholdDen: Int,
      indexPath: String): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = newSh.sparkSession
    requireFamilyMarker(spark, indexPath)
    val newBands = newSh.select(col("new_id"),
      explode(graft.functions.VectorExpressions.minhashBandKeys(
        col("sh_new"), numHashes, bands)).as("bk"))
    val cands = spark.read.parquet(s"$indexPath/bands")
      .join(broadcast(newBands), Seq("bk"))
      // a re-ingested id is identity, not a near-dup of itself
      .where(col("id") =!= col("new_id"))
      .select(col("new_id"), col("id").as("old_id"))
      .dropDuplicates("new_id", "old_id")
    cands
      .join(spark.read.parquet(s"$indexPath/shingles")
        .select(col("id").as("old_id"), col("sh").as("sh_old")), Seq("old_id"))
      .join(newSh, Seq("new_id"))
      .withColumn("inter_cnt", interCount(col("sh_new"), col("sh_old")))
      .withColumn("union_cnt",
        (size(col("sh_new")) + size(col("sh_old"))).cast("long") - col("inter_cnt"))
      .where(col("inter_cnt") * thresholdDen >= lit(thresholdNum) * col("union_cnt"))
      .select("new_id", "old_id", "inter_cnt", "union_cnt")
      .orderBy("new_id", "old_id")
  }

  /** 64-bit SimHash over distinct word tokens: per bit position, sum
    * +1/-1 across token hashes and keep the sign — one native codegen
    * pass. Uses the SQL-portable hashing scheme
    * (graft.functions.PortableSimHash) so the result is verifiable
    * bit-for-bit by the DuckDB oracle.
    */
  def simhash64(toks: Column): Column =
    graft.functions.VectorExpressions.simhashPortable64(array_distinct(toks))

  /** SimHash near-duplicate pairs with banded candidate generation:
    * split the 64-bit hash into 4 16-bit bands; any pair within
    * `maxHamming` bits must share at least one band when maxHamming < 4
    * (pigeonhole), so candidates = pairs sharing a band, then exact
    * hamming via bit_count(xor). Output: id_a < id_b, hamming.
    */
  /** Candidate tables for [[simhashPairs]]. A table is a set of bit
    * blocks of the 64-bit hash; a pair is a candidate when ALL blocks
    * of some table match. Pigeonhole soundness: with `blocks` total
    * blocks and tables = every `blocks − maxHamming`-subset... is the
    * GENERAL construction (Manku/Jain/Sarma's block-permutation
    * scheme, the published web-dedup design); the two instances used
    * here are
    *  - narrow: 4 × 16-bit blocks, tables = single blocks. ≤3 flipped
    *    bits dirty ≤3 blocks → some block is clean. Key space 2^16
    *    per table: at n docs every bucket holds ~n/65536 rows, so
    *    candidates grow as n²/65536 — fine to a few million docs,
    *    catastrophic at 10^9 (measured: the sf10 probe's time is
    *    output-bound only because the corpus is still small).
    *  - wide: 5 blocks (13,13,13,13,12 bits), tables = the
    *    C(5,2) = 10 block pairs, keys 25–26 bits. ≤3 flipped bits
    *    dirty ≤3 blocks → ≥2 clean blocks → the pair made of 2 clean
    *    blocks matches. Bucket load drops to ~n/2^25: ~30 docs per
    *    bucket at 10^9 docs (vs ~15k narrow), for 2.5× the banded
    *    row count — the right trade ABOVE [[SimhashWideMinDefault]].
    *    (A 6-block/triple variant with 33-bit keys was measured too:
    *    saturation headroom nobody needs below 10^10 docs, at double
    *    this scheme's constant.)
    * Both are EXACT for maxHamming ≤ 3 (recall 1, and precision is
    * exact everywhere because candidates are verified with the full
    * 64-bit hamming), so the schemes are output-identical and the
    * cutover is purely a physical-plan decision.
    */
  private def simhashTables(wide: Boolean): Seq[Seq[(Int, Int)]] =
    if (!wide) (0 until 4).map(b => Seq((b * 16, 16)))
    else {
      val widths = Seq(13, 13, 13, 13, 12)
      val offsets = widths.scanLeft(0)(_ + _).init
      val blocks = offsets.zip(widths)
      blocks.indices.combinations(2).map(_.map(blocks)).toSeq
    }

  /** The (id, sim) signature frame [[simhashPairsFromSigs]] consumes. */
  private[dataprep] def simhashSigs(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
        simhash64(TextPrep.tokens(col(textCol))).as("sim"))

  /** [[simhashPairs]] over a precomputed, persisted (id, sim) frame —
    * the LAZY inner plan (plan-shape tests inspect it; the public
    * wrapper owns persistence, scheme selection and checkpoint). */
  private[dataprep] def simhashPairsFromSigs(sigs: DataFrame,
      maxHamming: Int, wide: Boolean): DataFrame = {
    require(maxHamming <= 3,
      "both candidate schemes are sound only for maxHamming <= 3")
    val tables = simhashTables(wide)
    def tableKey(sim: Column, t: Seq[(Int, Int)]): Column =
      t.foldLeft(lit(0L)) { case (acc, (off, w)) =>
        shiftleft(acc, w).bitwiseOR(
          call_function("shiftright", sim, lit(off)).bitwiseAND(lit((1L << w) - 1)))
      }
    // numeric (table, key) — avoids per-row string building/hashing
    val banded = sigs.select(col("id"), col("sim"),
      explode(array(tables.zipWithIndex.map { case (t, i) =>
        shiftleft(lit(i.toLong), 40).bitwiseOR(tableKey(col("sim"), t))
      }: _*)).as("key"))
    val left = banded.select(col("id").as("id_a"), col("sim").as("sim_a"), col("key"))
    val right = banded.select(col("id").as("id_b"), col("sim").as("sim_b"), col("key"))
    // A pair sharing k tables appears under k keys. Rather than a
    // dropDuplicates shuffle over every matching candidate, keep the
    // pair only under its FIRST shared table — computable map-side
    // from the two hashes already on the row, so dedup costs zero
    // data movement at any scale.
    val firstShared = tables.zipWithIndex.foldRight(lit(-1L): Column) {
      case ((t, i), acc) =>
        when(tableKey(col("sim_a"), t) === tableKey(col("sim_b"), t), lit(i.toLong))
          .otherwise(acc)
    }
    // equi-join on the numeric key — shuffles on key at corpus scale
    // (forcing a broadcast of the banded side dies at 10^9 docs); AQE
    // broadcasts at runtime when it is actually small
    left.join(right, Seq("key")).where(col("id_a") < col("id_b"))
      .where(call_function("shiftright", col("key"), lit(40)) === firstShared)
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, knownCount: Option[Long] = None): DataFrame = {
    // scheme cutover (see [[simhashTables]]): narrow 4×16 bands until
    // the 2^16 key space starts to saturate, the 10 pair-table wide scheme
    // beyond. conf-overridable so tests force either plan and a
    // deployment can tune without threading a parameter.
    val wideMin = df.sparkSession.conf
      .getOption("spark.graft.dedup.simhashWideMin")
      .map(_.toLong).getOrElse(Dedup.SimhashWideMinDefault)
    val sigs = simhashSigs(df, idCol, textCol)
      .persist() // simhash64 is a 64-counter pass — don't compute it twice
    // When the caller doesn't know n, count the PERSISTED sigs frame:
    // the one pass both materializes the cache the join consumes twice
    // and yields the count — counting `df` here would re-execute the
    // full input plan once purely to pick the physical scheme.
    val n = knownCount.getOrElse(sigs.count())
    // eager result + release, same contract as [[minhashLshPairs]]
    try simhashPairsFromSigs(sigs, maxHamming, wide = n > wideMin)
      .localCheckpoint(true)
    finally { sigs.unpersist(); () }
  }

  /** Near-duplicate CLUSTERS from a pair list: connected components by
    * iterative min-label propagation, the step that turns pairwise
    * similarity into an actual keep/drop decision (keep one doc per
    * component). Each iteration is one shuffle join (edges × labels)
    * plus a min-aggregate — the standard scalable formulation; rounds
    * needed = component diameter, and near-dup components are shallow
    * (a handful of hops), so the loop converges in a few rounds. The
    * fixpoint test rides on the same pass (an `observe` metric would
    * also work; a count over the changed set keeps it simple).
    *
    * Output: (id, rep) for every id in `ids` — rep = min id of the
    * component, singletons map to themselves. Deterministic and
    * engine-independent: min over a set has no order dependence.
    * The returned frame is persisted (it IS the converged state;
    * recomputing it would replay every round) — callers should
    * unpersist it when done.
    *
    * Path choice: one collect of at most `driverEdgeCap + 1` directed
    * edges. When they all fit the cap, union-find runs on the driver;
    * otherwise the distributed fixpoint runs over the persisted edge
    * list, which evaluates `pairs` once more — pass a materialized
    * pairs frame ([[minhashLshPairs]] returns one) when that is costly.
    */
  def clusters(ids: DataFrame, idCol: String, pairs: DataFrame,
      maxIters: Int = 20, driverEdgeCap: Long = 4L << 20): DataFrame = {
    // both directions from ONE scan of the pairs pipeline: a
    // union(pairs, pairs.swapped) would evaluate the (potentially
    // expensive — e.g. full MinHash+LSH) pairs plan once per branch
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // Near-dup pair graphs are SPARSE relative to their corpora (the
    // whole point of banding): when the edge list fits the driver,
    // union-find there collapses the multi-round distributed fixpoint
    // (one shuffle join + persist + count per round, pure fixed
    // overhead on a KB graph) into one collect + one broadcast join —
    // same min-rep result, exactly. The bounded collect both decides
    // and feeds that path: more than `driverEdgeCap` rows back means
    // the graph is over the cap (4M edges ≈ 64 MB), and the distributed
    // propagation below remains the scale path.
    val probe = edges // cap + 1 rows, clamped to the range limit takes
      .limit((driverEdgeCap max -1L min (Int.MaxValue - 1L)).toInt + 1).collect()
    if (probe.length <= driverEdgeCap) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      probe.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
      }
      val comp = parent.keySet().toArray(Array.empty[java.lang.Long])
        .map(id => (id.longValue(), find(id)))
      val spark = ids.sparkSession
      import spark.implicits._
      val compDf = comp.toSeq.toDF("id", "__rep")
      val labels = ids.select(col(idCol).as("id"))
        .join(broadcast(compDf), Seq("id"), "left")
        .select(col("id"), coalesce(col("__rep"), col("id")).as("rep"))
        .persist() // same contract as the fixpoint path: caller unpersists
      return labels
    }
    edges.persist() // every round reads it
    // round 0 fused into initialization: rep = min(id, min direct
    // neighbor) is exactly one propagation step from the identity
    // labeling at half a round's cost (one join instead of two) — for
    // the dominant case (pair components, diameter 1) the loop then
    // only runs its single confirming round
    val nbr0 = edges.groupBy(col("dst")).agg(min(col("src")).as("nrep"))
    var labels = ids.select(col(idCol).as("id"))
      .join(nbr0, col("id") === col("dst"), "left")
      .select(col("id"), least(col("id"), coalesce(col("nrep"), col("id"))).as("rep"))
      .persist() // round 1 reads it twice (minNbr + the join-back)
    var cached: Option[DataFrame] = Some(labels)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val minNbr = edges.join(labels, col("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("rep")).as("nrep"))
      // the fixpoint check rides the same materialization as an
      // observe() metric — one job per round, no second comparison join
      val obs = org.apache.spark.sql.Observation()
      val next = labels.join(minNbr, col("id") === col("dst"), "left")
        .select(col("id"), col("rep").as("__old"),
          least(col("rep"), coalesce(col("nrep"), col("rep"))).as("rep"))
        .observe(obs, sum(when(col("__old") =!= col("rep"), 1L).otherwise(0L)).as("changed"))
        .select("id", "rep")
        .persist()
      next.count()
      cached.foreach(_.unpersist()) // superseded round — release its cache
      cached = Some(next)
      labels = next
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      it += 1
      if (sys.env.contains("GRAFT_DEBUG_CLUSTERS"))
        println(s"[clusters] round $it changed=${obs.get("changed")}")
    }
    edges.unpersist()
    // silent partial convergence would hand dropNearDuplicates multiple
    // "survivors" per group — refuse instead; callers with genuinely
    // deep components raise maxIters (rounds needed = component
    // diameter, and near-dup components are shallow in practice)
    if (!converged) throw new IllegalStateException(
      s"label propagation did not converge in $maxIters rounds; " +
      "raise maxIters (component diameter exceeds it)")
    labels
  }

  /** The canonical doc set implied by [[clusters]]: rows whose id IS
    * the component representative (one survivor per duplicate group).
    *
    * Cache note: the converged label frame [[clusters]] returns stays
    * persisted (the returned join reads it lazily; unpersisting here
    * would make every downstream action replay the whole fixpoint
    * lineage). Long-lived sessions that materialize the result should
    * call [[clusters]] directly and unpersist the labels afterwards,
    * as [[Curate.pipeline]] does: it checkpoints the kept set, then
    * unpersists the labels.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(clusters(df, idCol, pairs).where(col("id") === col("rep"))
      .select(col("id").as(idCol)), Seq(idCol))

  /** Soft dedup: instead of dropping near-duplicates, weight every row
    * by the reciprocal of its cluster size — a doc appearing (near-)
    * verbatim n times contributes total mass 1 instead of n, without
    * losing any row (useful when duplicates carry distinct metadata,
    * or when downstream sampling wants smooth downweighting rather
    * than a hard drop). weight = 1/cluster_size as one IEEE division
    * of exact integers (bit-stable cross-engine); cluster_size ships
    * alongside so integer-exact pipelines can use the rational
    * directly.
    *
    * Scale: [[clusters]] plus one size aggregation on the labels and
    * one equi-join back — both on the id/rep keys, AQE-handled.
    */
  def softDedupWeights(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val labels = clusters(df, idCol, pairs)
    val sizes = labels.groupBy("rep").agg(count(lit(1)).as("cluster_size"))
    df.join(labels.withColumnRenamed("id", idCol), Seq(idCol))
      .join(sizes, Seq("rep"))
      .withColumn("weight", lit(1.0) / col("cluster_size").cast("double"))
  }

  /** Passage-level exact dedup: the fixed-window approximation of
    * substring deduplication (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better" — the suffix-array pass that removes
    * repeated SPANS, not whole documents). Each document is cut into
    * consecutive non-overlapping windows of `passageTokens` tokens (the
    * last window may be shorter); a passage survives iff it is the
    * globally FIRST occurrence of its content, ordered by
    * (doc id, passage index). Every later occurrence — boilerplate
    * headers, license blocks, quoted reposts — is dropped from the
    * reassembled text while the rest of the document is kept.
    *
    * Output: one row per tokenizable doc — `n_passages`, `n_kept`, and
    * `clean_text` (surviving passages re-joined in document order;
    * empty string when every passage was seen before).
    *
    * Scale: exactly two shuffles, both on keys that spread —
    *  1. the dedup decision: a window rank partitioned BY PASSAGE
    *     CONTENT (the shuffle key is the passage string, cardinality ≈
    *     corpus passages, no hot key beyond true duplicate mass);
    *  2. reassembly: groupBy doc id.
    * No joins, no broadcast, state per key is one row — the same shape
    * at 100 TB, where the passage shuffle is the dominant (and
    * unavoidable) cost of a global first-occurrence decision.
    */
  def passageDedup(df: DataFrame, idCol: String, textCol: String,
      passageTokens: Int): DataFrame = {
    require(passageTokens > 0, "passageTokens must be positive")
    val k = passageTokens
    val toks = TextPrep.tokens(col(textCol))
    val passages = df
      .select(col(idCol), toks.as("toks"))
      .where(size(col("toks")) > 0)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), ((size(col("toks")) - 1) / k).cast("int")),
          i => array_join(slice(col("toks"), i * k + 1, lit(k)), " "))))
      .withColumnRenamed("pos", "p_idx")
      .withColumnRenamed("col", "passage")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("passage"))
      .orderBy(col(idCol).asc, col("p_idx").asc)
    passages
      .withColumn("rn", row_number().over(w))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_passages"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("rn") === 1,
              struct(col("p_idx"), col("passage"))))),
            s => s.getField("passage")),
          " ").as("clean_text"))
  }

  /** Embedding near-duplicate pairs: all (a < b) pairs with
    * dot(a, b) >= threshold. Output: id_a, id_b, dot_e6 (dot scaled to
    * integer micro-units for float-stable comparison).
    *
    * Two plans behind one call, switched on corpus size:
    *  - n <= bruteForceMax: exact O(n²) — broadcast nested-loop, no
    *    shuffle, every qualifying pair reported.
    *  - n > bruteForceMax: banded random-hyperplane LSH. A 32-bit
    *    [[Similarity.lshBuckets]] signature splits into 4 bands of
    *    8 bits; candidates = pairs sharing at least one band (an
    *    equi-join shuffled on the band key — no broadcast, no nested
    *    loop), deduped map-side by first-shared-band, then verified
    *    with the exact dot product. Any pair within 3 signature bits is
    *    a guaranteed candidate (pigeonhole); beyond that recall is
    *    probabilistic and rises with similarity — per band
    *    P = (1−θ/π)^8, over 4 bands recall = 1−(1−P)^4 (≈0.97 at
    *    cos θ = 0.95). The exact path below the cutover is what the
    *    brute-force oracle checks; the LSH path trades bounded recall
    *    for O(candidates) cost, the only shape that survives 10^9 docs.
    */
  /** @param knownCount corpus size, if the caller already knows it —
    *   skips the counting job the brute/LSH cutover otherwise runs at
    *   plan-construction time.
    *
    * Cache note (same caller-unpersist contract as [[clusters]] /
    * [[containmentPairs]]): the LSH branch persists the signature
    * frame (three consumers: band join sides and the vector
    * re-attach); the returned plan reads it lazily, so long-lived
    * sessions should `spark.catalog.clearCache()` once the result is
    * consumed.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bruteForceMax: Long = Dedup.BruteForceMaxDefault,
      knownCount: Option[Long] = None): DataFrame = {
    // session-conf override of the cutover (plan-shape tests force the
    // LSH path on small fixtures with it; a deployment can tune it
    // without threading the parameter through compositions)
    val cut = df.sparkSession.conf.getOption("spark.graft.dedup.bruteForceMax")
      .map(_.toLong).getOrElse(bruteForceMax)
    val pts = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val n = knownCount.getOrElse(pts.count())
    if (n <= cut) {
      val a = pts.select(col("id").as("id_a"), col("v").as("v_a"))
      val b = pts.select(col("id").as("id_b"), col("v").as("v_b"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        .withColumn("dot", Similarity.dot(col("v_a"), col("v_b")))
        .where(col("dot") >= threshold)
        .select(col("id_a"), col("id_b"),
          expr("CAST(floor(dot * 1000000 + 0.5) AS BIGINT)").as("dot_e6"))
        .orderBy("id_a", "id_b")
    } else {
      val s = embeddingLshSigs(pts)
        .persist() // signature is a 32-projection pass — compute once
      // Vector attach: when the vector table fits a broadcast, hash-
      // join it so the WIDE candidate stream (two vectors per pair)
      // stays pipelined through codegen. Saturated buckets — a corpus
      // whose duplicate groups are large — make the candidate count
      // quadratic in group size (that quadratic is the REQUIRED
      // output: every such pair is a true near-dup), and a sort-merge
      // attach would sort hundreds of GB of (pair × vectors) rows:
      // measured at the 100x probe replica, 600k vectors x ~100-copy
      // groups spilled past a 74 GB disk and KILLED the job, where the
      // broadcast attach streams it. Above the broadcast cap the
      // shuffle attach is the only general plan (a 1e9-vector corpus
      // cannot broadcast); tune with spark.graft.dedup.attachBroadcastMax.
      val attachMax = df.sparkSession.conf
        .getOption("spark.graft.dedup.attachBroadcastMax")
        .map(_.toLong).getOrElse(Dedup.AttachBroadcastMaxDefault)
      val attachMin = df.sparkSession.conf
        .getOption("spark.graft.dedup.attachBroadcastMin")
        .map(_.toLong).getOrElse(Dedup.AttachBroadcastMinDefault)
      val attachMaxBytes = df.sparkSession.conf
        .getOption("spark.graft.dedup.attachBroadcastMaxBytes")
        .map(_.toLong).getOrElse(Dedup.AttachBroadcastMaxBytesDefault)
      // byte gate (see [[AttachBroadcastMaxBytesDefault]]): probe the
      // vector dimension from ONE row — a LocalLimit-1 action against
      // the just-persisted sigs, so it costs one partition's worth of
      // signature work that the join reuses from cache — only when n
      // already landed in the row window, i.e. only when the answer
      // can change the plan
      val broadcastAttach = n > attachMin && n <= attachMax && {
        val dim = s.select(size(col("v"))).take(1)
          .headOption.map(_.getInt(0)).getOrElse(0)
        n * (8L * dim + 32L) <= attachMaxBytes
      }
      // eager result + release, same contract as [[minhashLshPairs]]
      try embeddingLshPairsFromSigs(s, threshold,
        broadcastAttach = broadcastAttach).localCheckpoint(true)
      finally { s.unpersist(); () }
    }
  }

  /** The (id, v, sig) frame [[embeddingLshPairsFromSigs]] consumes,
    * from an (id, v) point frame. */
  private[dataprep] def embeddingLshSigs(pts: DataFrame): DataFrame =
    spread(pts).withColumn("sig",
      Similarity.lshBuckets(col("v"), Dedup.LshBands * Dedup.LshBandBits))

  /** The LSH branch of [[embeddingNearDupPairs]] over a precomputed,
    * persisted (id, v, sig) frame — the LAZY inner plan (plan-shape
    * tests inspect it; the public wrapper owns persistence, the
    * attach-broadcast decision and checkpoint). */
  private[dataprep] def embeddingLshPairsFromSigs(s: DataFrame,
      threshold: Double, broadcastAttach: Boolean): DataFrame = {
    val sigBits = Dedup.LshBands * Dedup.LshBandBits
    val bandMask = (1L << Dedup.LshBandBits) - 1
    def slice(sig: Column, b: Column): Column =
      call_function("shiftright", sig, b * Dedup.LshBandBits).bitwiseAND(lit(bandMask))
    // band tag shifted past the SLICE width, not the signature width:
    // a 64-bit signature would make shiftleft(_, 64) a Java no-op and
    // collide every band's keyspace
    val banded = s.withColumn("band", explode(sequence(lit(0), lit(Dedup.LshBands - 1))))
      .withColumn("key", shiftleft(col("band").cast("long"), Dedup.LshBandBits)
        .bitwiseOR(slice(col("sig"), col("band"))))
    // narrow band join: (id, sig, key) only — vectors attach after
    // the candidate pairs are deduped, one array copy per pair
    val left = banded.select(col("id").as("id_a"), col("sig").as("sig_a"), col("key"))
    val right = banded.select(col("id").as("id_b"), col("sig").as("sig_b"), col("key"))
    // a pair sharing k bands appears under k keys — keep it only
    // under its FIRST shared band, computable map-side from the two
    // signatures already on the row (zero-shuffle dedup, as in
    // [[simhashPairs]])
    val firstShared = (0 until Dedup.LshBands).foldRight(lit(-1): Column) { (b, acc) =>
      when(slice(col("sig_a"), lit(b)) === slice(col("sig_b"), lit(b)), lit(b)).otherwise(acc)
    }
    val attach = if (broadcastAttach) broadcast(s) else s
    left.join(right, Seq("key")).where(col("id_a") < col("id_b"))
      .where(call_function("shiftright", col("key"), lit(Dedup.LshBandBits)) === firstShared)
      .join(attach.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(attach.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("dot", Similarity.dot(col("v_a"), col("v_b")))
      .where(col("dot") >= threshold)
      .select(col("id_a"), col("id_b"),
        expr("CAST(floor(dot * 1000000 + 0.5) AS BIGINT)").as("dot_e6"))
      .orderBy("id_a", "id_b")
  }

  /** 16-byte Karp–Rabin fingerprint array of a text's k-windows —
    * the shuffle key the whole window family exchanges instead of raw
    * k-char substrings (see [[graft.functions.SubstringFp]] for the
    * construction and the ≤1e-10-at-100TB collision contract).
    */
  private def windowFps(textCol: Column, k: Int, distinct: Boolean,
      seed: Long): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.WindowFingerprintsExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(textCol),
        k, distinct, seed))

  /** All distinct character k-window fingerprints of a document, one
    * row per (id, win: binary(16)). Documents shorter than k
    * contribute nothing.
    */
  private def charWindows(df: DataFrame, idCol: String, textCol: String,
      k: Int, seed: Long = 0L): DataFrame =
    // spread BEFORE the explode: a small-file corpus otherwise runs
    // the O(text) fingerprint extraction in one task (no-op on inputs
    // that already have >= session-parallelism splits)
    spread(df).where(length(col(textCol)) >= k)
      .select(col(idCol),
        explode(windowFps(col(textCol), k, distinct = true, seed)).as("win"))

  /** The pair algebra shared by [[substringDupPairs]] and
    * [[substringDupPairsWinnowed]]: group windows, drop windows whose
    * document frequency is 1 (cannot pair) or above `maxDf` (stop
    * windows — boilerplate that would fan out quadratically), then
    * emit every ordered pair from each surviving window's sorted doc
    * list in-plan and count shared windows per pair.
    *
    * Scale: two shuffles — (1) groupBy window (key cardinality ≈
    * corpus windows, partial-agg combines per-doc duplicates map-side),
    * (2) groupBy pair. Pair fan-out per window is bounded by
    * maxDf·(maxDf−1)/2, so no hot key survives candidate generation —
    * the same guard the reference-scale literature applies before a
    * substring-dedup join (a corpus-wide window would otherwise emit
    * O(n²) rows).
    */
  private def pairsFromWindows(wins: DataFrame, idCol: String,
      maxDf: Long): DataFrame = {
    val grouped = wins
      .groupBy(col("win"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .where(size(col("ids")) >= 2 &&
        (if (maxDf > 0) size(col("ids")) <= maxDf else lit(true)))
    grouped
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          b => struct(a.as("id_a"), b.as("id_b")))))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("id_a", "id_b")
  }

  /** Exact duplicate-substring pair detection — the document-pair view
    * of suffix-array substring dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better": two texts share a
    * duplicated span iff they share some character window of length
    * exactly `k`). Output: ordered pairs (id_a < id_b) with
    * `n_shared` = number of DISTINCT length-k windows the two
    * documents share.
    *
    * `maxDf` caps a window's document frequency: windows present in
    * more than `maxDf` documents are excluded from pairing (license
    * blocks, whitespace runs — the quadratic-blow-up mass); `maxDf <=
    * 0` disables the cap. The cap is part of the declared semantics
    * ("pairs sharing a rare window"), so the oracle replicates it —
    * unlike [[containmentPairs]]'s candidate-only cap, a capped window
    * here is genuinely out of the relation.
    *
    * Everything is plan-local: window extraction is one codegen'd
    * O(chars) rolling-fingerprint pass ([[graft.functions.SubstringFp]]
    * — windows group on 16-byte keys, never materializing substrings),
    * no UDFs, no driver state. "Sharing a window" is decided at
    * 122-bit fingerprint certainty (collision < 1e-10 at 100 TB), the
    * same class as [[exactGroups]]'s md5 keys.
    */
  def substringDupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, maxDf: Long = 0L, seed: Long = 0L): DataFrame = {
    require(k > 0, "window length k must be positive")
    pairsFromWindows(charWindows(df, idCol, textCol, k, seed), idCol, maxDf)
  }

  /** Winnowed fingerprint windows — the 100 TB path for
    * [[substringDupPairs]]. Winnowing (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003) slides a window of `w` consecutive k-gram hashes
    * over the document and keeps, per window, the RIGHTMOST position
    * holding the minimum hash. Selected positions depend only on the
    * surrounding w+k-1 characters, so any substring of length >=
    * w+k-1 shared by two documents yields at least one identical
    * selected k-gram in both — the detection guarantee — while only
    * ~2/(w+1) of all windows are kept, cutting the shuffled window
    * volume by ~w/2× versus the exact operator.
    *
    * The pseudo-random order is the md5 hex digest compared as a
    * string: engine-portable (identical lowercase hex and byte-wise
    * ordering in any SQL engine), so the selection — not just the
    * detection — is oracle-checkable cross-engine. Ties (the same
    * gram twice in one window) resolve to the rightmost position in
    * both engines by construction.
    *
    * Output: (id, win) rows over the selected windows only, where
    * `win` is the selected gram's raw 16-byte md5 digest
    * ([[graft.functions.WinnowedFp]] — one O(m) monotonic-deque pass
    * instead of the O(m·w) declarative array algebra this method
    * previously inlined; hex(digest) ↔ digest is a bijection, so the
    * SQL oracle's hex-string formulation decides the identical
    * relation). Distinct is by window VALUE, not position: a k-gram
    * repeated inside one document can be selected at two positions
    * (both local minima), and a duplicate (id, win) row would let the
    * pair algebra emit a self-pair and double-count shared windows —
    * caught by the 10× rehearsal's oracle diff.
    */
  def winnowedWindows(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k > 0 && w > 0, "k and w must be positive")
    // spread first so the per-row O(chars) kernel parallelizes on
    // small-split inputs
    spread(df).where(length(col(textCol)) >= k + w - 1)
      .select(col(idCol),
        explode(org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.WinnowedFingerprintsExpr(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(textCol)),
            k, w))).as("win"))
  }

  /** Persisted winnowed-fingerprint index for INCREMENTAL substring
    * dedup — the [[buildMinhashIndex]] companion for the
    * duplicate-substring relation. Two range-partitioned posting sets:
    * `wins` (win → id, the probe target) and `df` (win → posting
    * count, the KB-per-batch sidecar that lets a probe drop hot
    * windows BEFORE touching the posting list, so a boilerplate
    * window shared by millions of indexed docs costs one sidecar row,
    * not a million-row join fan-out).
    */
  /** `partition`: optional `key=value` subdirectory both posting sets
    * are written under (the streaming path appends one per batch,
    * replay-idempotent under overwrite — same contract as
    * [[buildMinhashIndex]]). With per-batch partitions the df sidecar
    * is per-batch too; [[substringDedupAgainstIndex]] re-aggregates it
    * at probe time, so the cap always reflects the WHOLE index. */
  /** Persisted-index format marker — one small `_graft_index_format.json`
    * under `indexPath`, written on first build and validated on every
    * subsequent build and probe. Guards the two silent-corruption
    * modes of an unversioned index: (a) `mode = "append"`/per-batch
    * accretion onto a PRE-versioning index whose `win` column was a
    * string (k-char substring / hex digest) — mixing string- and
    * binary-keyed parquet under one dataset fails schema merge at
    * best and joins empty at worst; (b) probe/build parameter drift
    * (k, w, or the fingerprint seed) — windows keyed under different
    * parameters share no values, so a drifted probe would silently
    * report zero duplicates. Probes read the SEED from the marker, so
    * they always hash with the bases the index was built under.
    */
  private val IndexFormat = 2

  private def markerJson(kind: String, k: Int, w: Int, seed: Long): String =
    s"""{"format":$IndexFormat,"kind":"$kind","key":"binary16","k":$k,"w":$w,"seed":$seed}"""

  private def markerFs(df: DataFrame, indexPath: String) = {
    val p = new org.apache.hadoop.fs.Path(indexPath, "_graft_index_format.json")
    (p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration), p)
  }

  private def readMarker(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }

  /** Validate-or-stamp on the BUILD side: an existing marker must
    * match this build's parameters exactly; no marker + existing data
    * means a pre-versioning (v1) index — fail fast instead of mixing
    * key formats under one dataset.
    */
  private def stampIndexMarker(df: DataFrame, indexPath: String,
      dataSubdir: String, kind: String, k: Int, w: Int, seed: Long): Unit = {
    val (fs, p) = markerFs(df, indexPath)
    val expected = markerJson(kind, k, w, seed)
    readMarker(fs, p) match {
      case Some(got) =>
        require(got == expected,
          s"index at $indexPath was built as $got; this build would write " +
            s"$expected — key formats/parameters may not mix under one " +
            "index. Rebuild at a fresh path.")
      case None =>
        val dataDir = new org.apache.hadoop.fs.Path(indexPath, dataSubdir)
        require(!fs.exists(dataDir),
          s"index at $indexPath has data but no format marker: it predates " +
            s"format v$IndexFormat (string-keyed windows). Appending " +
            "binary-keyed batches onto it would corrupt the dataset — " +
            "rebuild the index at a fresh path.")
        val out = fs.create(p, true)
        try out.write(expected.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
    }
  }

  /** Validate on the PROBE side; returns the index's fingerprint seed
    * so the probe hashes with the bases the index was built under.
    */
  private def validateIndexMarker(df: DataFrame, indexPath: String,
      kind: String, k: Int, w: Int): Long = {
    val (fs, p) = markerFs(df, indexPath)
    val got = readMarker(fs, p).getOrElse(throw new IllegalArgumentException(
      s"index at $indexPath has no format marker: it predates format " +
        s"v$IndexFormat (string-keyed windows) and cannot be probed with " +
        "binary fingerprint keys — rebuild it."))
    val seed = "\"seed\":(-?\\d+)".r.findFirstMatchIn(got)
      .map(_.group(1).toLong).getOrElse(0L)
    val expected = markerJson(kind, k, w, seed)
    require(got == expected,
      s"index at $indexPath was built as $got; this probe expects " +
        s"$expected (same kind/k/w) — parameter drift would silently " +
        "match zero windows.")
    seed
  }

  def buildSubstringIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, indexPath: String, mode: String = "overwrite",
      partition: Option[String] = None): Unit = {
    stampIndexMarker(df, indexPath, "wins", "winnow", k, w, seed = 0L)
    val sub = partition.map("/" + _).getOrElse("")
    val wins = winnowedWindows(df, idCol, textCol, k, w)
      .select(col(idCol).as("id"), col("win"))
      .persist()
    wins
      .repartitionByRange(col("win"))
      .sortWithinPartitions(col("win"))
      .write.mode(mode).parquet(s"$indexPath/wins$sub")
    wins.groupBy(col("win")).agg(count(lit(1)).as("df"))
      .repartitionByRange(col("win"))
      .sortWithinPartitions(col("win"))
      .write.mode(mode).parquet(s"$indexPath/df$sub")
    wins.unpersist()
  }

  /** Duplicate-substring pairs of a NEW batch against the indexed
    * corpus. Winnowing selection is content-local (a function of the
    * surrounding w+k-1 characters only), so batch and corpus pick the
    * SAME fingerprint inside any shared span of length >= w+k-1 — the
    * incremental run detects exactly the cross pairs the full
    * [[substringDupPairsWinnowed]] run would. The batch's windows are
    * broadcast twice (df-sidecar filter, then posting probe): the
    * corpus postings never shuffle, one index pass per batch. Windows
    * with more than `maxDf` INDEX postings are dropped at the sidecar
    * (same declared semantics as the batch operator's cap).
    * Output: new_id, old_id, n_shared (distinct shared selected
    * windows), ordered.
    */
  def substringDedupAgainstIndex(newDf: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int, indexPath: String,
      maxDf: Long = 0L): DataFrame = {
    // the winnowing kernel is md5-gram based and NOT seed-aware (only
    // the Karp-Rabin removal family takes a seed), so a winnow index
    // is probeable only under seed 0 — a seeded marker would mean the
    // probe silently hashes under different bases and matches zero
    // windows, exactly the drift the marker exists to catch
    val winnowSeed = validateIndexMarker(newDf, indexPath, "winnow", k, w)
    require(winnowSeed == 0L,
      s"winnow index at $indexPath records seed $winnowSeed, but winnowed " +
        "fingerprints are not seed-parameterized; only seed-0 winnow " +
        "indexes can be probed — rebuild the index.")
    val spark = newDf.sparkSession
    val probe = winnowedWindows(newDf, idCol, textCol, k, w)
      .select(col(idCol).as("new_id"), col("win"))
    val kept =
      if (maxDf <= 0L) probe
      else spark.read.parquet(s"$indexPath/df")
        .join(broadcast(probe), Seq("win"))
        // per-batch sidecar partitions each carry a partial count —
        // re-aggregate so the cap reflects the whole index
        .groupBy(col("new_id"), col("win"))
        .agg(sum(col("df")).as("df"))
        .where(col("df") <= maxDf)
        .select(col("new_id"), col("win"))
    spark.read.parquet(s"$indexPath/wins")
      .join(broadcast(kept), Seq("win"))
      .where(col("id") =!= col("new_id"))
      // windows are distinct per doc on both sides, so each (win,
      // new, old) row is unique and count(*) = distinct shared wins
      .groupBy(col("new_id"), col("id").as("old_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("new_id", "old_id")
  }

  /** Duplicate-substring pairs over winnowed fingerprints: detects
    * every pair sharing a substring of length >= w+k-1 (guarantee of
    * [[winnowedWindows]]); a reported pair always truly shares a
    * length-k window (selection never invents windows), so the result
    * sits between `substringDupPairs(k)` and
    * `substringDupPairs(w+k-1)`. `n_shared` counts shared SELECTED
    * windows and is therefore a lower bound on the exact count.
    */
  def substringDupPairsWinnowed(df: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int, maxDf: Long = 0L): DataFrame =
    pairsFromWindows(winnowedWindows(df, idCol, textCol, k, w), idCol, maxDf)

  /** Exact duplicate-span REMOVAL — the rewrite half of suffix-array
    * substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better": after detection, every duplicated span
    * keeps exactly one occurrence and later occurrences are excised
    * from the text). Declared semantics, chosen to be order-free and
    * cross-engine replayable:
    *
    *   - a char position p of doc d is REMOVED iff some length-`k`
    *     window of d covering p also occurs in a doc d' with d' < d
    *     (the globally first doc by id keeps its text untouched);
    *   - within-doc repeats whose first global occurrence is d itself
    *     are kept (cross-doc semantics — the within-doc case is
    *     [[passageDedup]]'s territory).
    *
    * Output: one row per input doc — `n_chars`, `n_removed`, and
    * `clean_text` (the uncovered chars in document order; the full
    * text when nothing is covered, "" when everything is).
    *
    * Scale (the reason removal needs NO df cap while
    * [[substringDupPairs]] does): the global decision is a min-owner
    * WINDOW over the window-content exchange — `min(id) OVER
    * (PARTITION BY win)` — chosen over `groupBy(win).agg(min(id))` +
    * join-back because Catalyst does not reuse the exchange across
    * the agg and probe subtrees, the extraction runs twice — but it
    * is now one O(chars) rolling-fingerprint pass, so re-running it
    * costs less than what the groupBy form buys:
    *
    *   - map-side partial aggregation: a window's occurrences
    *     collapse to one (win, min_id, count) row per map task before
    *     the agg exchange — the window-function form ships and
    *     BUFFERS every occurrence of a key in that key's single
    *     partition, so one corpus-wide boilerplate window (a license
    *     header at 10^9 occurrences) is an unsplittable straggler
    *     there, while here AQE splits the skewed probe-join key;
    *   - the `occ_n >= 2` pre-filter: windows seen once — the
    *     overwhelming majority of a natural corpus — leave the plan
    *     at the agg, so the min-owner side of the probe join carries
    *     only genuinely duplicated windows (and Spark's runtime bloom
    *     filter can push that selectivity into the probe scan).
    *
    * Shuffles: the own-side agg (map-combined), the occurrence side
    * of the probe join, the per-doc regroup of covered starts, and
    * the original frame's side of the rebuild join.
    *
    * The exchanges carry 16-byte Karp–Rabin fingerprints, not k-char
    * substrings ([[graft.functions.SubstringFp]]): extraction is one
    * O(chars) rolling pass with zero per-window string
    * materialization, and shuffle volume is 16 bytes/occurrence
    * instead of ~k. "Exact" therefore means exact up to a 122-bit
    * fingerprint collision — probability < 1e-10 for a 100 TB corpus,
    * adversarial inputs included (prime modulus; see the expression's
    * contract note) — the same certainty class as the md5 keys
    * [[exactGroups]] already stands on. A suffix array would avoid
    * the exchange on one node but does not partition; winnowing
    * cannot serve removal because unselected windows must still be
    * excised. Interval merge + text rebuild are per-row HOF folds
    * over the doc's own covered-start list (O(starts) with O(1)
    * `element_at`), no second char-level shuffle.
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, seed: Long = 0L): DataFrame = {
    require(k > 0, "k must be positive")
    // min-owner via groupBy + join-back (see scaladoc: map-side
    // combine + unique-window drop + AQE skew-split beat the single
    // exchange of the window-function form now that extraction is
    // O(chars)). The agg side runs over DOC-DISTINCT windows
    // (charWindows dedupes in-pass inside the extraction kernel), so
    // n_docs counts documents — and coverage requires first_id < id,
    // i.e. at least two distinct docs, so n_docs >= 2 is exact, not
    // just a heuristic pre-filter.
    val own = charWindows(df, idCol, textCol, k, seed)
      .groupBy(col("win"))
      .agg(min(col(idCol)).as("first_id"), count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)
      .select(col("win"), col("first_id"))
    val covered = positionedWindows(df, idCol, textCol, k, seed)
      .join(own, Seq("win"))
      .where(col("first_id") < col(idCol))
      .groupBy(col(idCol))
      .agg(array_sort(collect_set(col("start"))).as("starts"))
    exciseCovered(df, idCol, textCol, k, covered)
  }

  /** Every positioned window fingerprint, one row per occurrence
    * (1-based code-point start, win: binary(16)).
    */
  private def positionedWindows(df: DataFrame, idCol: String,
      textCol: String, k: Int, seed: Long = 0L): DataFrame =
    spread(df).where(length(col(textCol)) >= k)
      .select(col(idCol),
        posexplode(windowFps(col(textCol), k, distinct = false, seed)))
      .select(col(idCol), (col("pos") + 1).as("start"), col("col").as("win"))

  /** Shared rebuild for the span-removal family: excise the merged
    * [start, start+k) runs named by `covered` (idCol, starts: sorted
    * distinct ints) from each doc's text. Per-row HOF folds only —
    * O(starts) per doc with O(1) element_at, no extra shuffle beyond
    * the left join on id.
    */
  private def exciseCovered(df: DataFrame, idCol: String, textCol: String,
      k: Int, covered: DataFrame): DataFrame = {
    val joined = df.join(covered, Seq(idCol), "left")
      .withColumn("starts",
        coalesce(col("starts"), array().cast("array<int>")))
    val ns = size(col("starts"))
    // 0-based indices into `starts` where a merged removal run begins:
    // consecutive starts with gap <= k chain into one covered run
    // (coverage end of the run so far is always >= previous start + k)
    val bndCol = when(ns === 0, array().cast("array<int>")).otherwise(
      filter(sequence(lit(0), ns - 1), (i: Column) =>
        (i === 0) || (element_at(col("starts"), i + 1) -
          element_at(col("starts"), i) > lit(k))))
    val withBnd = joined.withColumn("bnd", bndCol)
    val nb = size(col("bnd"))
    // run j (0-based over bnd): covered [starts[bnd[j]], endEx(j))
    // where endEx(j) = (last start before the next boundary) + k
    def runStart(v: Column): Column = element_at(col("starts"), v + 1)
    def prevEndEx(j: Column): Column =
      element_at(col("starts"), element_at(col("bnd"), j + 1)) + lit(k)
    val lastEndEx = element_at(col("starts"), ns) + lit(k)
    val textLen = length(col(textCol))
    // kept text = gaps before each run + the tail after the last run
    val pieces = transform(col("bnd"), (v: Column, j: Column) => {
      val gapFrom = when(j === 0, lit(1)).otherwise(prevEndEx(j))
      col(textCol).substr(gapFrom, runStart(v) - gapFrom)
    })
    val clean = when(nb === 0, col(textCol)).otherwise(
      concat(concat_ws("", pieces),
        col(textCol).substr(lastEndEx, textLen - lastEndEx + 1)))
    withBnd
      // the original length must be captured BEFORE clean_text lands:
      // when a caller passes textCol == "clean_text" (the streaming
      // pipeline does), withColumn REPLACES that column and a
      // post-hoc length(textCol) would measure the cleaned text,
      // reporting n_removed = 0 for every doc
      .withColumn("__orig_len", textLen)
      .withColumn("clean_text", clean)
      .select(col(idCol),
        col("__orig_len").cast("long").as("n_chars"),
        (col("__orig_len") - length(col("clean_text"))).cast("long").as("n_removed"),
        col("clean_text"))
      .orderBy(col(idCol))
  }

  /** Span attribution — the audit view of [[removeDuplicateSpans]]:
    * for every doc that loses spans, WHO it borrows from. One row per
    * (doc, owner) with the count of covered window occurrences and the
    * first/last covered start — the provenance a dataset card cites
    * ("doc X shares N windows with earlier doc Y"). A window is
    * attributed to its GLOBAL first owner (min id) only, matching the
    * removal semantics exactly. Same plan shape as the removal
    * decision: min-owner agg + equi-join, per-pair aggregation keyed
    * by (doc, owner).
    */
  def spanAttribution(df: DataFrame, idCol: String, textCol: String,
      k: Int, seed: Long = 0L): DataFrame = {
    // same min-owner groupBy + join-back shape as removeDuplicateSpans
    // (map-side combine over doc-distinct windows, n_docs >= 2 drop,
    // AQE skew-split — see its scaladoc for the trade vs a window
    // function). n_windows counts OCCURRENCES, but the probe side does
    // NOT ship them: the per-(doc, window) collapse to (n_occ,
    // min_start, max_start) happens inside the extraction kernel
    // ([[graft.functions.WindowStats]]), in the map task that produced
    // the text — the exchange carries one fixed-width row per DISTINCT
    // (doc, window) and the final agg re-aggregates the pre-folded
    // stats (sum/min/max compose exactly).
    val occ = spread(df).where(length(col(textCol)) >= k)
      .select(col(idCol),
        explode(org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.WindowStatsExpr(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(textCol)),
            k, seed))).as("s"))
      .select(col(idCol), col("s.win").as("win"), col("s.n_occ").as("n_occ"),
        col("s.min_start").as("min_start"), col("s.max_start").as("max_start"))
    val own = charWindows(df, idCol, textCol, k, seed)
      .groupBy(col("win"))
      .agg(min(col(idCol)).as("owner_id"), count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)
      .select(col("win"), col("owner_id"))
    occ.join(own, Seq("win"))
      .where(col("owner_id") < col(idCol))
      .groupBy(col(idCol), col("owner_id"))
      .agg(sum(col("n_occ")).as("n_windows"),
        min(col("min_start")).cast("long").as("first_start"),
        max(col("max_start")).cast("long").as("last_start"))
      .orderBy(col(idCol), col("owner_id"))
  }

  /** Full-window (NOT winnowed) index for INCREMENTAL span removal:
    * one row per distinct window content with its first owner,
    * range-partitioned and sorted by window. Winnowing cannot serve
    * removal — unselected windows must still be excised — so the
    * index is O(total corpus chars) rows, the same cost class as a
    * suffix array over the corpus; that is the honest price of exact
    * incremental rewrites. `mode = "append"` accretes a new batch's
    * windows (duplicate window rows across appends are harmless: the
    * probe is a semi-join); compact periodically by rebuilding.
    *
    * Layout invariant: every write lands under a `batch=…` partition
    * subdirectory (default `batch=base`), never at the allwins/ root —
    * a root-level data file followed by a streaming `batch=N` append
    * would mix files and directories at one level, which parquet
    * partition discovery rejects when [[removeSpansAgainstIndex]]
    * reads the index back.
    */
  def buildRemovalIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int, indexPath: String, mode: String = "overwrite",
      partition: Option[String] = Some("batch=base"),
      seed: Long = 0L): Unit = {
    stampIndexMarker(df, indexPath, "allwins", "removal", k, w = 0, seed)
    positionedWindows(df, idCol, textCol, k, seed)
      .groupBy(col("win")).agg(min(col(idCol)).as("first_id"))
      .repartitionByRange(col("win"))
      .sortWithinPartitions(col("win"))
      .write.mode(mode)
      .parquet(s"$indexPath/allwins/" + partition.getOrElse("batch=base"))
  }

  /** Rewrite a NEW batch against the indexed corpus: every batch char
    * covered by a window PRESENT IN THE INDEX is excised — the index
    * is canonical, batch ids play no role (the production flow:
    * history is already published/trained-on, the incoming batch must
    * not re-add its spans). Batch-internal duplication is deliberately
    * untouched here; run [[removeDuplicateSpans]] on the batch first
    * (or append it to the index) for the full-run semantics.
    *
    * One pass over the index per batch: the probe is a semi-join of
    * the batch's positioned windows against the sorted window set; the
    * index never re-shuffles (its range layout is on the join key).
    */
  def removeSpansAgainstIndex(newDf: DataFrame, idCol: String,
      textCol: String, k: Int, indexPath: String,
      excludeBatch: Option[String] = None): DataFrame = {
    // the probe must hash under the INDEX's bases — read its seed
    // from the format marker (and fail fast on a v1/drifted index)
    val seed = validateIndexMarker(newDf, indexPath, "removal", k, w = 0)
    val spark = newDf.sparkSession
    // excludeBatch: a replaying streaming epoch must not probe the
    // window partition ITS OWN previous (crashed-before-commit)
    // execution appended — the index has no per-window ownership, so
    // without this the replayed text matches its own published windows
    // and the batch=<id> overwrite lands an over-excised (empty)
    // rewrite instead of reproducing the original. Partition pruning
    // makes the filter free: `batch` is the discovered partition
    // column of the allwins layout.
    val idxAll = spark.read.parquet(s"$indexPath/allwins")
    val idx = excludeBatch.fold(idxAll)(b =>
      idxAll.where(col("batch").cast("string") =!= b)).select(col("win"))
    val batchWins = positionedWindows(newDf, idCol, textCol, k, seed)
    // Probe shape: the batch is small relative to the index (a
    // micro-batch vs the whole published history), but a LEFT SEMI
    // join can only broadcast its RIGHT side — the index — so the
    // semi form shuffles BOTH sides, an O(history) exchange per
    // batch. Inverting to an inner join with the BATCH side broadcast
    // leaves the index scan-only (no shuffle, no sort, any number of
    // batches); duplicate index windows (append layout) only repeat
    // (id, start) matches, which the collect_set below collapses, so
    // the covered-starts relation is identical. Byte-gated like the
    // dedup attach broadcast: positioned windows are O(batch chars),
    // estimated from one cheap length scan (chars - k + 1 per doc);
    // an oversized batch falls back to the semi-join.
    val estRow = newDf.where(length(col(textCol)) >= k)
      .agg(sum(length(col(textCol)) - (k - 1))).head()
    val estWins = if (estRow.isNullAt(0)) 0L else estRow.getLong(0)
    // ~60 B/row in the built relation => 4M windows ~ 240 MB
    val smallBatch = estWins <= 4000000L
    val probe =
      if (smallBatch) idx.join(broadcast(batchWins), Seq("win"))
      else batchWins.join(idx, Seq("win"), "left_semi")
    val covered = probe
      .groupBy(col(idCol))
      .agg(array_sort(collect_set(col("start"))).as("starts"))
    // the inner-join shape above inflates the planner's size estimate
    // for `covered` (join-output cardinality guess), which flips the
    // excise join-back to sort-merge; covered is really <= one row per
    // batch doc with O(batch chars) total payload, so under the same
    // gate it broadcasts
    exciseCovered(newDf, idCol, textCol, k,
      if (smallBatch) broadcast(covered) else covered)
  }
}
