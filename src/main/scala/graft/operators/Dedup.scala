package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions._

/** Deduplication operators for training-data pipelines (SURVEY.md
  * §2.C). Scale discipline: nothing here ever materializes O(n²) —
  * candidates come from inverted-index / LSH-bucket joins keyed on
  * content, and every aggregation is map-side combinable.
  */
object Dedup {

  /** Word tokens — same `\S+` split the oracle uses. */
  private[operators] def tokens(c: Column): Column =
    regexp_extract_all(c, lit("\\S+"), lit(0))

  /** Distinct w-word shingles of a token array (empty when the doc is
    * shorter than w words).
    *
    * Built as a zip_with chain over w shifted slices — NOT as a
    * transform whose lambda indexes back into `toks`: a lambda body
    * referencing an outer expression re-evaluates it per element, so
    * the element_at formulation re-ran the regexp tokenizer ~n·w
    * times per row (measured 2.4 ms/row; this form is ~30× cheaper).
    */
  private[operators] def shingleArray(toks: Column, w: Int): Column =
    when(size(toks) >= w, array_distinct(shingleSlots(toks, w)))
      .otherwise(array().cast("array<string>"))

  /** POSITIONAL w-shingles (multiplicity kept) — the slot view the
    * duplicated-ngram metric needs; [[shingleArray]] is the distinct
    * set view the Jaccard machinery needs.
    */
  private[operators] def shingleSlots(toks: Column, w: Int): Column = {
    val len = size(toks) - (w - 1)
    val parts = (0 until w).map(j => slice(toks, lit(j + 1), len))
    parts.reduce((acc, p) =>
      zip_with(acc, p, (x, y) => concat_ws(" ", x, y)))
  }

  /** C1: exact dedup — canonical representative (min doc_id) per
    * distinct text + multiplicity. Grouped on the 64-bit content
    * hash, NOT the text itself: the text never appears in the
    * output, so carrying it through the aggregation only bloats the
    * partial-agg hash map (string equality + copies) and the
    * exchange (full distinct texts vs 8-byte keys). Distinct-text ↔
    * distinct-hash holds w.p. 1 − n²/2⁶⁵ — the same collision
    * contract as C3's hashed shingles; the oracle still groups by
    * the raw text, so a collision would surface as a hash mismatch.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(xxhash64(col("text")).as("__h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))

  /** C2: content-hash dedup stats per source (sha256 — the portable
    * checksum; xxhash64 is the cheap in-engine alternative).
    */
  def exactHash(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(sha2(col("text"), 256)).as("n_distinct"))

  /** Same sets, but as sorted arrays of 64-bit shingle hashes: set
    * sizes and intersections are identical (collisions: ~n²/2⁶⁵), and
    * long arrays are an order of magnitude cheaper to cache, shuffle
    * and intersect than the string shingles — this is what the index
    * join and the verify step actually operate on.
    */
  private def docShingleHashes(spark: SparkSession, dir: String): DataFrame =
    docShingleHashesOf(Tables(spark, dir, "documents"))

  private def docShingleHashesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingleHashColumn(col("text")).as("sh"))

  /** The sorted hashed-shingle array as a column over a text column —
    * for callers (the cleaning composite) that fold the shingle
    * arrays into an existing persisted frame instead of building a
    * second corpus-scale cache.
    *
    * r10: built as sortedDistinctLongs(tokenWindowHashes(text, 3)) —
    * ONE native byte pass (TokenScan tokenize + per-token xxhash64 +
    * rolling window combine) plus one primitive sort — instead of the
    * regex tokenize → 3 slices → zip_with concat → per-shingle string
    * → xxhash64 → sort_array chain, which allocated every shingle as
    * a string just to hash it. Same distinct-set semantics (equal
    * shingles ⇒ equal hashes, distinct collide w.p. ~2⁻⁶⁴); hash
    * VALUES never reach an oracle — all downstream outputs are set
    * sizes and intersections. NULL text still yields an empty set
    * (the old when/otherwise contract).
    */
  private[operators] def shingleHashColumn(text: Column): Column =
    coalesce(sortedDistinctLongs(tokenWindowHashes(text, 3)),
      array().cast("array<long>"))

  /** C3: exact n-gram Jaccard pairs ≥ τ via AllPairs prefix
    * filtering: order shingles under a fixed global order that sorts
    * corpus-hot shingles LAST, and index only each doc's first
    * |s| − ⌈τ·|s|⌉ + 1 shingles (the rarest ones). Two sets with
    * Jaccard ≥ τ must share a prefix shingle under any common global
    * order, so candidate generation is exact — and the hot shingles
    * that make a naive inverted-index join quadratic never enter the
    * index at all (60 s → ~3 s at sf0.1; the skew only worsens at
    * 100 TB). Candidates are then verified with exact Jaccard over
    * the full shingle arrays.
    *
    * The global order is (df̂(h), h) where df̂ is a Count-Min-Sketch
    * estimate of the shingle's document frequency — a deterministic
    * total order whatever the sketch's collision pattern, so
    * exactness never rests on it (see
    * [[graft.functions.expressions.PrefixByRarity]]). vs the
    * textbook explode → df-join → per-doc rank window: NO
    * corpus-scale shuffle remains before the candidate join — the
    * sketch builds in one shuffle-free map pass and prefixes are
    * computed map-side from the cached sorted arrays. (The window
    * formulation re-shuffled the exploded corpus twice and fully
    * sorted each doc_id partition.)
    */
  def ngramJaccard(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame =
    ngramJaccardOf(Tables(spark, dir, "documents"), threshold)

  /** [[ngramJaccard]] over an arbitrary (doc_id, text) frame — the
    * form the cleaning composite feeds its already-gated survivors
    * into (pairs over 10^11 raw docs when only the gated fraction
    * needs deduping is wasted shuffle).
    */
  def ngramJaccardOf(docsIn: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    // The hashed-shingle frame feeds the hot-set build, the prefix
    // branch and both verify sides — persist it once instead of
    // re-tokenizing the corpus per branch. Long arrays cache in a few
    // bytes per shingle; MEMORY_AND_DISK spills at cluster scale.
    // NO spread here (r15 OPT, measured): the native shingle hashing
    // is cheap relative to one exchange + a 32-partition cache, and
    // the family regressed 1.05->1.49 s (ngram) / 0.98->1.51 s
    // (split_leakage audit) under a spread base - the r5 rejection
    // holds for this pipeline.
    val docs = graft.CacheHygiene.persist(docShingleHashesOf(docsIn))
    val out = ngramJaccardOfHashed(docs, threshold)
    // Register hygiene only AFTER ngramJaccardOfHashed's eager
    // hot-set jobs have run — those actions consume `docs` too, and
    // an earlier registration would drop the cache before the
    // caller's real action.
    graft.CacheHygiene.unpersistAfterUse(docs)
    out
  }

  /** [[ngramJaccardOf]] over an already-persisted hashed-shingle
    * frame (doc_id, sh sorted array<long>) — the entry the cleaning
    * composite and minhash share when the arrays are already cached.
    */
  private[operators] def ngramJaccardOfHashed(docs: DataFrame,
      threshold: Double): DataFrame = {
    // The sketch's totalCount is the corpus shingle total — a free
    // cost signal for the width pins below (the sketch pass already
    // ran eagerly; no extra job).
    val sketch = raritySketch(docs)
    val totalShingles = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(sketch)).totalCount
    val w = pinWidth(docs.sparkSession, totalShingles)
    val prefix = docs.select(col("doc_id"),
      explode(prefixByRarity(docs.sparkSession, col("sh"), sketch,
        threshold)).as("shingle"))
    // Width-pinned like the verify joins (see [[verifyJaccard]]):
    // this join's shuffle rows are 16 bytes each but its reduce side
    // generates the candidate pairs — the operator's most
    // CPU-intensive stage after verify, and exactly what byte-based
    // coalescing starves under a relaxed advisory.
    val cands = prefix.select(col("doc_id").as("doc_id_a"), col("shingle"))
      .repartition(w, col("shingle"))
      .join(prefix.select(col("doc_id").as("doc_id_b"), col("shingle")),
        Seq("shingle"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"))
      .repartition(w, col("doc_id_a"), col("doc_id_b"))
      .distinct()
    verifyJaccard(cands, docs, threshold, w)
  }

  /** Data-proportional width for the pinned exchanges: the stages'
    * CPU cost tracks the corpus shingle volume (candidate counts and
    * verify work both grow with it), so the pin scales from a
    * single task on a toy corpus (32-task dispatch was ~25% of
    * sub-second sf0.1 wall time — the cost the AQE byte advisory
    * exists to avoid) up to full cluster width long before the data
    * is large enough for coalescing to starve the stages. Clamped to
    * defaultParallelism.
    */
  private[operators] def pinWidth(spark: SparkSession, costRows: Long): Int = {
    val perTask = 49152L
    math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
      (costRows + perTask - 1) / perTask)).toInt
  }

  /** Serialized Count-Min Sketch of shingle document frequencies —
    * the order-key source for [[ngramJaccardOfHashed]]'s prefixes.
    * ONE shuffle-free map pass (partial sketches merge at the
    * driver; ~1 MB at eps=1e-4/conf=0.99), run eagerly at plan-build
    * time; it doubles as the materialization of the shared shingle
    * cache. CMS overestimates are deterministic, so the induced
    * shingle order stays a fixed total order — exactness never
    * depends on sketch accuracy, only candidate-count economy does
    * (see PrefixByRarity).
    */
  private def raritySketch(docs: DataFrame, eps: Double = 1e-4,
      confidence: Double = 0.99): Array[Byte] =
    docs.select(explode(col("sh")).as("h"))
      .stat.countMinSketch("h", eps, confidence, 42)
      .toByteArray

  /** Exact-Jaccard verification of candidate pairs over hashed
    * shingle sets (shared by C3 and C4). |a∩b| is a merge pass over
    * the sorted arrays (no per-pair intersection/union allocation);
    * |a∪b| = |a| + |b| − |a∩b| since the arrays are sets.
    */
  private def verifyJaccard(cands: DataFrame, docs: DataFrame,
      threshold: Double, w: Int): DataFrame = {
    // CPU-cost width pin (VERDICT r5 #8): the verify stage's rows are
    // few BYTES (id pairs + hash arrays) but heavy CPU each (the
    // sorted-merge intersection), so AQE's byte-based coalescing
    // under a relaxed advisory serializes exactly this stage onto a
    // couple of cores (measured 29.8 s at a 64 MB advisory vs 7.3 s
    // at 1 MB on the 10× board). An explicit repartition of the
    // candidate pairs is exempt from AQE coalescing and pins the
    // verify compute at [[pinWidth]]'s data-proportional width
    // regardless of the global advisory — the per-operator override
    // bytes can't express. The docs side stays unhinted (broadcast
    // while small, shuffle at scale). BOTH join exchanges need the
    // pin: the sorted-merge intersection executes in the stage fed
    // by the doc_id_b exchange, so pinning only the doc_id_a side
    // leaves the CPU-heavy stage coalescable (ngram at the 64 MB
    // advisory, 10× board: 29.8 s unpinned → 23.9 s doc_id_a only →
    // 21.6 s both verify joins → 6.7 s once the pair-generation and
    // distinct exchanges are pinned too — see the caller-side pins).
    // Each repartition satisfies the next operator's distribution
    // requirement exactly, so it replaces the planner's own exchange
    // rather than adding one; at the default 1 MB advisory the
    // data-proportional width matches what AQE chose for the r5
    // board (ngram 7.3 s, minhash 2.9 s at 10×; a fixed full-width
    // pin cost ~1 s of task dispatch at sf0.1 — the reason the
    // width is proportional, not constant).
    val sa = docs.select(col("doc_id").as("doc_id_a"), col("sh").as("sh_a"))
    val sb = docs.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b"))
    cands.repartition(w, col("doc_id_a"))
      .join(sa, Seq("doc_id_a"))
      .repartition(w, col("doc_id_b"))
      .join(sb, Seq("doc_id_b"))
      .withColumn("inter",
        sortedIntersectSize(col("sh_a"), col("sh_b")).cast("double"))
      .withColumn("jaccard", col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id_a"), col("doc_id_b"), col("jaccard"))
  }

  /** C4: MinHash + LSH banding. Signatures are one-pass (native
    * expression, no shingle shuffle); banding explodes ×b rows keyed
    * (band, band-hash); bucket join yields candidates; exact Jaccard
    * verifies. With k=128, b=32, r=4 the probability of missing a
    * τ≥0.8 pair is ≤ (1−0.8⁴)³² ≈ 5·10⁻⁸ — the verified output is
    * the exact-Jaccard pair set w.p. ~1 (that equivalence IS the
    * oracle).
    *
    * The k permutations run over the SAME cached hashed-shingle
    * arrays the verify step reads ([[MinHashFromHashes]]), so the
    * corpus is tokenized/shingled exactly once — the earlier
    * string-side [[minhashSignature]] pass re-tokenized everything a
    * second time (measured 1.8 s → 1.1 s at sf0.1).
    */
  def minhashLsh(spark: SparkSession, dir: String, threshold: Double = 0.8,
      k: Int = 128, bands: Int = 32,
      maxBucket: Int = 1000): DataFrame = {
    val r = k / bands
    val docs = graft.CacheHygiene.persist(docShingleHashes(spark, dir))
    // Eager corpus stats for the width pins — materializes the
    // shingle cache the signatures and verify read anyway, so the
    // only added cost is one job barrier. Hygiene registers AFTER
    // this action (an earlier registration would treat it as the
    // consuming action and drop the cache before the caller's).
    val st = docs.agg(count(lit(1)).as("n"),
      coalesce(sum(size(col("sh"))), lit(0L)).as("s")).head()
    val wBand = pinWidth(spark, st.getLong(0) * bands)
    val wVerify = pinWidth(spark, st.getLong(1))
    graft.CacheHygiene.unpersistAfterUse(docs)
    // r16 OPT: the k=128-permutation signature pass is heavy per-row
    // math over a cache whose partition count is the SCAN's (one
    // split on a single-row-group corpus file) — spread it to cluster
    // width before the signatures, per the r15 spreadIfNarrow
    // discipline (heavy-arithmetic operators only; no-op on
    // multi-file input at real scale). The ngram shingle BASE stays
    // unspread (the r15 pinned negative at ngramJaccardOf).
    val banded = lshBanded(graft.Tables.spreadIfNarrow(docs), k, bands)
    // ONE shuffle for candidate generation: collect each bucket's
    // members (bounded by the skew cap — degenerate boilerplate
    // buckets are dropped; exact dups are C1's job anyway), then
    // explode the in-bucket pairs map-side. Replaces the
    // size-guard-join + self-join formulation (3 shuffles).
    val ids = col("ids")
    val pairsOf = flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)),
        y => struct(x.as("a"), y.as("b")))))
    // Width-pinned ([[verifyJaccard]]): the reduce side of this
    // aggregation explodes the in-bucket pairs — CPU-heavy on few
    // bytes, the shape AQE's byte advisory coalesces away. The
    // repartition satisfies the aggregate's distribution requirement
    // so it replaces the planner's exchange; partial collect_set
    // loses little (buckets are near-unique per map partition).
    val cands = banded.repartition(wBand, col("band"), col("bucket"))
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(ids) >= 2 && size(ids) <= maxBucket)
      .select(explode(pairsOf).as("p"))
      .select(col("p.a").as("doc_id_a"), col("p.b").as("doc_id_b"))
      .repartition(wVerify, col("doc_id_a"), col("doc_id_b"))
      .distinct()
    verifyJaccard(cands, docs, threshold, wVerify)
  }

  /** The (doc_id, band, bucket) LSH banding projection of a hashed-
    * shingle frame — ONE definition shared by [[minhashLsh]]'s
    * candidate generation and [[minhashCapAudit]] (r15 review: a
    * copy-pasted derivation would let the audit silently diverge
    * from the bucketing the cap actually drops — the divergence the
    * F7 side prevents by sharing `bandedOf`). */
  private def lshBanded(withShingles: DataFrame, k: Int,
      bands: Int): DataFrame = {
    val r = k / bands
    withShingles.select(
        col("doc_id"), minhashFromHashes(col("sh"), k, 42L).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        xxhash64(col("band"), slice(col("sig"), col("band") * r + 1, lit(r)))
          .as("bucket"))
  }

  /** C4 cap audit (no-silent-caps, r14 VERDICT #3): the LSH buckets
    * [[minhashLsh]]'s `maxBucket` cap DROPS, with their sizes — the
    * F7 [[Multimodal.phashCapAudit]] schema (site, bucket, occ, cap)
    * so a pipeline can union the audit surfaces of every capped
    * dedup family. A count aggregation only: no member list ever
    * materializes for a degenerate bucket here either.
    */
  def minhashCapAudit(spark: SparkSession, dir: String, k: Int = 128,
      bands: Int = 32, maxBucket: Int = 1000): DataFrame =
    lshBanded(docShingleHashes(spark, dir), k, bands)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxBucket)
      .select(lit("dedup_minhash").as("site"),
        concat_ws(":", col("band"), col("bucket")).as("bucket"),
        col("occ"), lit(maxBucket).as("cap"))

  /** C35: cross-corpus fuzzy decontamination — flag every training
    * document whose shingle-Jaccard against ANY benchmark document
    * clears τ (the near-duplicate leak C13's exact-gram screen
    * misses: an eval item paraphrased, re-wrapped or lightly edited
    * into the crawl). The benchmark stand-in here is a deterministic
    * id-slice of `documents` so both engines see identical corpora;
    * in production it is the eval suites — KBs to MBs against a
    * 100 TB crawl, which is the asymmetry the plan is built on.
    *
    * Two regimes, same exact output (spec-pinned equal):
    *
    * '''Indexed fast path''' (benchmark fits the driver bound — the
    * designed case): collect the benchmark's hashed-shingle sets,
    * build a compact sorted (shingle → bench-doc) postings array on
    * the driver, and `broadcast` it; the whole operator is then ONE
    * map pass over the training corpus — each doc probes its sorted
    * shingle array against the index with a forward-moving binary
    * search, accumulates per-bench overlap counts in a scratch array,
    * and emits exact Jaccard ≥ τ pairs. Zero joins, zero shuffles,
    * zero repeated corpus scans, and no LSH recall argument needed:
    * the probe computes the exact set intersection (shingle arrays
    * are distinct by construction), so the output IS the exact
    * cross-pair set. The driver/broadcast footprint is bounded by the
    * BENCHMARK's size only (12 bytes/shingle entry), which is the
    * production asymmetry; the gate reads the documents relation's
    * file statistics (no extra job), mirroring the persist gate.
    *
    * '''LSH fallback''' (benchmark slice too big to index — e.g. a
    * decontamination run against another full corpus): the r9
    * two-broadcast-pass MinHash plan, kept verbatim:
    *   1. banding pass: per-doc MinHash signatures (same k=128/b=32
    *      banding and seed as C4, so C4's ~1−4·10⁻⁸ recall-at-τ
    *      guarantee carries over) hash-joined band-wise against the
    *      BROADCAST benchmark bucket table → candidate (doc, bench)
    *      pairs, deduped with a candidate-sized (not corpus-sized)
    *      exchange;
    *   2. verify pass: the corpus streams once more against the
    *      BROADCAST candidate×benchmark-shingle table; exact Jaccard
    *      (sorted-merge intersection) keeps pairs ≥ τ.
    * The LSH-verified output ≡ the exact cross-pair set (C4's oracle
    * contract, cross-corpus form). At bench scale the hashed-shingle
    * frame is persisted so the two passes share one
    * tokenize+shingle+hash computation; the persist is SIZE-GATED on
    * the relation's file statistics (no extra job) so a corpus too
    * large to cache skips it in code, not just in prose — the second
    * pass then re-scans. Either way, zero corpus-scale shuffles.
    *
    * Degenerate-bucket guards (r9 ADVICE): empty shingle sets are
    * dropped BEFORE banding on both sides — an empty set minhashes to
    * the same signature everywhere, welding all empty docs into every
    * band bucket, yet can never clear a τ>0 Jaccard (0/denominator,
    * or NULL for empty-vs-empty), so the output is unchanged — and
    * the BENCHMARK bucket table gets C4's maxBucket cap, keeping the
    * candidate set and the verify broadcast bounded by real bucket
    * collisions instead of one boilerplate bucket × the corpus.
    * (The fast path needs neither guard: empty sets are filtered the
    * same way, and there are no buckets to degenerate.)
    */
  def fuzzyDecontam(spark: SparkSession, dir: String,
      threshold: Double = 0.8, benchMod: Int = 17,
      k: Int = 128, bands: Int = 32, maxBucket: Int = 1000,
      maxPersistBytes: Long = 8L * 1024 * 1024 * 1024,
      maxBenchSliceBytes: Long = 512L * 1024 * 1024,
      maxBenchIndexEntries: Long = 32L * 1024 * 1024): DataFrame = {
    val benchBytesEst = Tables(spark, dir, "documents")
      .queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue)).toLong / benchMod.toLong.max(1L)
    fuzzyDecontamOf(spark, docShingleHashes(spark, dir),
      col("doc_id") % benchMod === 0, benchBytesEst, threshold, k,
      bands, maxBucket, maxPersistBytes, maxBenchSliceBytes,
      maxBenchIndexEntries)
  }

  /** [[fuzzyDecontam]] over an already-built (doc_id, sh) frame —
    * the entry C40b shares its single tokenize+shingle pass through.
    * `benchBytesEst` is the caller's no-job estimate of the bench
    * slice's bytes (file statistics), the stage-1 gate below.
    */
  private[operators] def fuzzyDecontamOf(spark: SparkSession,
      baseIn: DataFrame, isBench: Column, benchBytesEst: Long,
      threshold: Double = 0.8,
      k: Int = 128, bands: Int = 32, maxBucket: Int = 1000,
      maxPersistBytes: Long = 8L * 1024 * 1024 * 1024,
      maxBenchSliceBytes: Long = 512L * 1024 * 1024,
      maxBenchIndexEntries: Long = 32L * 1024 * 1024): DataFrame = {
    val base = baseIn.select(col("doc_id"), col("sh"))
      .filter(size(col("sh")) > 0)
    // Two-stage gate for the indexed path (r10 ADVICE: the file-stats
    // estimate alone let a skewed or highly-compressed corpus reach
    // the collect before any bound fired). Stage 1 — FILE statistics
    // (compressed bytes; no job): a clearly-huge corpus skips even
    // the measuring pass. Stage 2 — one cheap agg of Σ size(sh) over
    // the bench slice: the index costs ~12 bytes per ACTUAL entry
    // (plus transient collect boxing), so the gate bounds what the
    // driver really materializes, not a compression-ratio guess.
    val indexed = benchBytesEst <= maxBenchSliceBytes && {
      val row = base.filter(isBench)
        .agg(sum(size(col("sh"))).as("e")).head()
      val entriesActual = if (row.isNullAt(0)) 0L else row.getLong(0)
      entriesActual <= maxBenchIndexEntries
    }
    if (indexed)
      fuzzyDecontamIndexed(spark, base.filter(isBench),
        base.filter(!isBench), threshold)
    else
      fuzzyDecontamLsh(spark, base, isBench, threshold, k, bands,
        maxBucket, maxPersistBytes, maxBenchIndexEntries)
  }

  /** Compact benchmark shingle index for the C35 fast path: parallel
    * (sorted key → bench-doc ordinal) postings arrays plus per-doc
    * ids/sizes. Probing is a forward-moving binary search per corpus
    * shingle (both sides sorted ascending), overlap counts accumulate
    * in caller-owned scratch arrays so the per-row hot loop allocates
    * only for actual hits.
    */
  private[graft] final class BenchShingleIndex(
      val ids: Array[Long], val sizes: Array[Int],
      val keys: Array[Long], val docs: Array[Int]) extends Serializable {

    /** Exact Jaccard ≥ τ matches of one corpus doc. `counts` and
      * `touched` are reusable scratch of length ≥ ids.length; counts
      * must be all-zero on entry and is restored to all-zero.
      */
    def probe(docId: Long, sh: Array[Long], tau: Double,
        counts: Array[Int], touched: Array[Int]):
        Iterator[(Long, Long, Double)] = {
      var nt = 0
      var lo = 0
      var i = 0
      while (i < sh.length && lo < keys.length) {
        val v = sh(i)
        var pos = java.util.Arrays.binarySearch(keys, lo, keys.length, v)
        if (pos >= 0) {
          while (pos > lo && keys(pos - 1) == v) pos -= 1
          var q = pos
          while (q < keys.length && keys(q) == v) {
            val b = docs(q)
            if (counts(b) == 0) { touched(nt) = b; nt += 1 }
            counts(b) += 1
            q += 1
          }
          lo = q // sh is sorted ascending: later values search later
        } else lo = -(pos + 1)
        i += 1
      }
      if (nt == 0) Iterator.empty
      else {
        val sa = sh.length
        val res = new scala.collection.mutable.ArrayBuffer[
          (Long, Long, Double)](2)
        var t = 0
        while (t < nt) {
          val b = touched(t)
          val inter = counts(b)
          counts(b) = 0
          // same parenthesization as the LSH verify / DuckDB twin:
          // inter / ((|A| + |B|) − inter), all in double
          val jac = inter.toDouble / ((sa + sizes(b)).toDouble - inter.toDouble)
          if (jac >= tau) res += ((docId, ids(b), jac))
          t += 1
        }
        res.iterator
      }
    }
  }

  /** In-place dual-array sort by key (iterative 3-way quicksort with
    * insertion-sort leaves) — avoids boxing 10⁶–10⁷ (key, doc) pairs
    * when the benchmark index is built on the driver.
    */
  private def sortPairs(keys: Array[Long], docs: Array[Int]): Unit = {
    def swap(i: Int, j: Int): Unit = {
      val k = keys(i); keys(i) = keys(j); keys(j) = k
      val d = docs(i); docs(i) = docs(j); docs(j) = d
    }
    val stack = new java.util.ArrayDeque[Int]()
    stack.push(0); stack.push(keys.length - 1)
    while (!stack.isEmpty) {
      val hi = stack.pop(); val lo = stack.pop()
      if (hi - lo < 24) {
        var i = lo + 1
        while (i <= hi) {
          val k = keys(i); val d = docs(i); var j = i - 1
          while (j >= lo && keys(j) > k) {
            keys(j + 1) = keys(j); docs(j + 1) = docs(j); j -= 1
          }
          keys(j + 1) = k; docs(j + 1) = d; i += 1
        }
      } else {
        val mid = lo + (hi - lo) / 2
        if (keys(mid) < keys(lo)) swap(mid, lo)
        if (keys(hi) < keys(lo)) swap(hi, lo)
        if (keys(hi) < keys(mid)) swap(hi, mid)
        val pivot = keys(mid)
        var lt = lo; var gt = hi; var i = lo
        while (i <= gt) {
          if (keys(i) < pivot) { swap(lt, i); lt += 1; i += 1 }
          else if (keys(i) > pivot) { swap(i, gt); gt -= 1 }
          else i += 1
        }
        if (lt - 1 > lo) { stack.push(lo); stack.push(lt - 1) }
        if (hi > gt + 1) { stack.push(gt + 1); stack.push(hi) }
      }
    }
  }

  /** C35 indexed fast path — see [[fuzzyDecontam]]. `bench` and
    * `corpus` are (doc_id, sh) frames; the bench side collects to a
    * driver index (the caller gates its actual entry count first —
    * the hard check below is the last-resort loud failure, not the
    * gate).
    */
  private def fuzzyDecontamIndexed(spark: SparkSession, bench: DataFrame,
      corpus: DataFrame, threshold: Double): DataFrame = {
    import spark.implicits._
    val benchRows = bench
      .select(col("doc_id"), col("sh")).as[(Long, Array[Long])].collect()
    val nb = benchRows.length
    var entries = 0L
    benchRows.foreach(r => entries += r._2.length)
    require(entries < Int.MaxValue - 8,
      s"C35 benchmark index: $entries shingle entries exceed the " +
        "indexable bound; pass a smaller maxBenchIndexEntries to force " +
        "the LSH fallback")
    val ids = new Array[Long](nb)
    val sizes = new Array[Int](nb)
    val keys = new Array[Long](entries.toInt)
    val docs = new Array[Int](entries.toInt)
    var p = 0; var i = 0
    while (i < nb) {
      val (id, sh) = benchRows(i)
      ids(i) = id; sizes(i) = sh.length
      var j = 0
      while (j < sh.length) { keys(p) = sh(j); docs(p) = i; p += 1; j += 1 }
      i += 1
    }
    sortPairs(keys, docs)
    val bc = spark.sparkContext.broadcast(
      new BenchShingleIndex(ids, sizes, keys, docs))
    corpus.select(col("doc_id"), col("sh"))
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        val idx = bc.value
        val counts = new Array[Int](idx.ids.length)
        val touched = new Array[Int](idx.ids.length)
        it.flatMap { case (docId, sh) =>
          idx.probe(docId, sh, threshold, counts, touched)
        }
      }
      .toDF("doc_id", "bench_id", "jaccard")
  }

  /** C35 LSH fallback — see [[fuzzyDecontam]]. */
  private def fuzzyDecontamLsh(spark: SparkSession, base: DataFrame,
      isBench: Column, threshold: Double, k: Int, bands: Int,
      maxBucket: Int, maxPersistBytes: Long,
      maxBenchIndexEntries: Long): DataFrame = {
    import spark.implicits._
    val r = k / bands
    val doPersist =
      base.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(Long.MaxValue)).toLong <= maxPersistBytes
    val hashed = if (doPersist) graft.CacheHygiene.persist(base) else base
    def banded(df: DataFrame, idAlias: String): DataFrame =
      df.select(col("doc_id").as(idAlias),
          minhashFromHashes(col("sh"), k, 42L).as("sig"))
        .select(col(idAlias),
          explode(sequence(lit(0), lit(bands - 1))).as("band"), col("sig"))
        .select(col(idAlias), col("band"),
          xxhash64(col("band"), slice(col("sig"), col("band") * r + 1, lit(r)))
            .as("bucket"))
    // Candidate pass: corpus-side banding streams map-side against
    // the broadcast benchmark buckets; the only exchange is the
    // candidate-pair distinct (bounded by bucket collisions against
    // a tiny benchmark, not by the corpus). A bucket holding more
    // than maxBucket bench members is degenerate boilerplate — every
    // corpus doc landing in it would fan out to ALL of them — so its
    // members leave the LSH plan. r10 silently DROPPED them (a
    // non-deduplicated benchmark with >maxBucket near-identical docs
    // degenerates in all bands, losing every corpus match to those
    // docs — decontamination false negatives); now they route through
    // the exact driver-indexed probe instead, which needs no buckets
    // at all, with the same loud entry bound as the main indexed path.
    val bucketed = banded(hashed.filter(isBench), "bench_id")
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("bench_id")).as("__ids"))
    // Degenerate-bucket detection: ONE count-based aggregation over
    // the bench-side banding (map-side partial counts, a scalar max —
    // no collect_list arrays through the shuffle, no distinct) decides
    // the route; the common no-degenerate-bucket case pays exactly
    // this job and proceeds with the r10 plan shape. The per-id
    // capped-ids machinery (explode + distinct + count) only spins up
    // once a bucket is ACTUALLY over the cap (r11 verdict #6 — the
    // old code ran it before every serve).
    val maxRow = banded(hashed.filter(isBench), "bench_id")
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head()
    val anyDegenerate = !maxRow.isNullAt(0) && maxRow.getLong(0) > maxBucket
    val benchSh = hashed.filter(isBench)
      .select(col("doc_id").as("bench_id"), col("sh").as("sh_b"))
    val cappedIds = bucketed.filter(size(col("__ids")) > maxBucket)
      .select(explode(col("__ids")).as("bench_id")).distinct()
    val exactPart =
      if (!anyDegenerate) None
      else {
        val nCapped = cappedIds.count()
        val cappedBench = benchSh.join(broadcast(cappedIds), Seq("bench_id"))
          .select(col("bench_id").as("doc_id"), col("sh_b").as("sh"))
        val row = cappedBench.agg(sum(size(col("sh"))).as("e")).head()
        val entries = if (row.isNullAt(0)) 0L else row.getLong(0)
        require(entries <= maxBenchIndexEntries,
          s"C35 LSH: $nCapped benchmark docs sit in degenerate " +
            s">${maxBucket}-member band buckets and their $entries " +
            "shingle entries exceed maxBenchIndexEntries — refusing to " +
            "silently drop them; deduplicate the benchmark or raise " +
            "maxBucket/maxBenchIndexEntries")
        Some(fuzzyDecontamIndexed(spark, cappedBench,
          hashed.filter(!isBench), threshold))
      }
    val benchBuckets = bucketed
      .filter(size(col("__ids")) <= maxBucket)
      .select(col("band"), col("bucket"),
        explode(col("__ids")).as("bench_id"))
    // Exact-routed bench docs leave the LSH side entirely (their
    // pairs are produced exactly; keeping them would duplicate rows).
    val lshBuckets =
      if (!anyDegenerate) benchBuckets
      else benchBuckets.join(broadcast(cappedIds), Seq("bench_id"),
        "left_anti")
    val cands = banded(hashed.filter(!isBench), "doc_id")
      .join(broadcast(lshBuckets), Seq("band", "bucket"))
      .select(col("doc_id"), col("bench_id"))
      .distinct()
    // Verify pass: candidates (tiny) pick up the benchmark shingle
    // arrays (tiny) and broadcast; the training corpus streams once
    // against them — exact Jaccard, no corpus shuffle.
    val lshOut = hashed.filter(!isBench)
      .join(broadcast(cands.join(benchSh, Seq("bench_id"))), Seq("doc_id"))
      .withColumn("inter",
        sortedIntersectSize(col("sh"), col("sh_b")).cast("double"))
      .withColumn("jaccard", col("inter") /
        (size(col("sh")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("bench_id"), col("jaccard"))
    val out = exactPart.fold(lshOut)(lshOut.union)
    if (doPersist) graft.CacheHygiene.unpersistAfterUse(hashed)
    out
  }

  /** C5: 60-bit SimHash fingerprints (one pass, md5 token hashes —
    * oracle-recomputable).
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      simhash60(tokens(lower(col("text")))).as("simhash"))

  /** C6: exact embedding near-dup pairs (cosine ≥ τ). BOUNDED-CORPUS
    * ONLY: the self-join broadcasts the full embeddings table and the
    * cosine pass is O(n²/2·d) — the declared exact-pairs operator,
    * viable while the table fits a broadcast (same contract as C9's
    * bounded union-find). The at-scale path is [[embeddingLsh]],
    * which never materializes anything quadratic.
    */
  def embeddingPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.4): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    // stream side spread: the O(n²/2·d) cosine pass otherwise runs on
    // the scan's single split (r15 OPT; Tables.spreadIfNarrow)
    val a = Tables.spreadIfNarrow(
      e.select(col("vec_id").as("vec_id_a"), col("embedding").as("ea")))
    val b = e.select(col("vec_id").as("vec_id_b"), col("embedding").as("eb"))
    a.join(broadcast(b), col("vec_id_a") < col("vec_id_b"))
      .withColumn("sim", cosineSimilarity(col("ea"), col("eb")))
      .filter(col("sim") >= threshold)
      .select(col("vec_id_a"), col("vec_id_b"), col("sim"))
  }

  /** Deterministic pseudo-random hyperplanes (spec-fixed PRNG). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 7L): Array[Array[Double]] = {
    val r = new java.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(r.nextGaussian()))
  }

  /** C7: embedding near-dup at scale — multi-table random-hyperplane
    * LSH (OR over nTables AND-of-planesPerTable bit signatures), then
    * exact cosine verify inside buckets. One map pass computes all
    * table signatures; the candidate join is keyed (table, bucket) so
    * nothing quadratic ever materializes. Recall rises with nTables
    * and is ≈1 at real near-dup thresholds (τ≥0.9 ⇒ per-table
    * collision 0.86^planes); pinned against C6 / planted dups in
    * DedupSpec.
    */
  def embeddingLsh(spark: SparkSession, dir: String,
      threshold: Double = 0.4, nTables: Int = 16,
      planesPerTable: Int = 6): DataFrame =
    embeddingLshOn(Tables.spreadIfNarrow(Tables(spark, dir, "embeddings")),
      threshold, nTables, planesPerTable)

  /** C7b: multi-probe variant — each vector ALSO probes the bucket
    * with its lowest-|margin| bit flipped (the plane it sits closest
    * to, i.e. the likeliest single-bit disagreement with a true
    * neighbor). Probing buys the recall of ~2× the tables for half
    * the signature storage and half the candidate-join volume — the
    * standard trade at scale, pinned in DedupSpec: 8 probed tables
    * match 16 plain tables' recall floor. Probe rows exist only on
    * the left side of the join, so bucket contents stay single-sig.
    */
  def embeddingLshMultiProbe(e0: DataFrame, threshold: Double,
      nTables: Int = 8, planesPerTable: Int = 6): DataFrame = {
    val sigAndFlip = (0 until nTables).map { t =>
      val planes = hyperplanes(planesPerTable, 64, seed = 7L + t)
      val dots = array(planes.map(p =>
        aggregate(zip_with(col("embedding"), typedlit(p.toSeq),
          (x, y) => x * y), lit(0.0), (acc, v) => acc + v)): _*)
      val absDots = transform(dots, d => abs(d))
      val sig = hyperplaneSignature(col("embedding"), planes)
      val weakBit = (array_position(absDots, array_min(absDots)) - 1)
        .cast("int")
      // shiftleft needs a literal bit count — dispatch over the (≤6)
      // plane indices instead
      val flip = (0 until planesPerTable).foldLeft(sig) { (acc, p) =>
        when(weakBit === p, sig.bitwiseXOR(lit(1 << p))).otherwise(acc)
      }
      (sig, flip)
    }: Seq[(Column, Column)]
    val base = e0.select(col("vec_id"), col("embedding"),
      posexplode(array(sigAndFlip.map(_._1): _*)).as(Seq("table", "sig")))
    val flips = e0.select(col("vec_id"), col("embedding"),
      posexplode(array(sigAndFlip.map(_._2): _*)).as(Seq("table", "sig")))
    val probes = base.union(flips)
    val a = probes.select(col("vec_id").as("vec_id_a"),
      col("embedding").as("ea"), col("table"), col("sig"))
    val b = base.select(col("vec_id").as("vec_id_b"),
      col("embedding").as("eb"), col("table"), col("sig"))
    a.join(b, Seq("table", "sig"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .select(col("vec_id_a"), col("vec_id_b"), col("ea"), col("eb"))
      .distinct()
      .withColumn("sim", cosineSimilarity(col("ea"), col("eb")))
      .filter(col("sim") >= threshold)
      .select(col("vec_id_a"), col("vec_id_b"), col("sim"))
  }

  /** [[embeddingLsh]] over any (vec_id, embedding) frame. */
  def embeddingLshOn(e0: DataFrame, threshold: Double, nTables: Int,
      planesPerTable: Int): DataFrame = {
    val sigCols = (0 until nTables).map { t =>
      hyperplaneSignature(col("embedding"),
        hyperplanes(planesPerTable, 64, seed = 7L + t))
    }
    val e = e0.select(col("vec_id"), col("embedding"),
      posexplode(array(sigCols: _*)).as(Seq("table", "sig")))
    val a = e.select(col("vec_id").as("vec_id_a"), col("embedding").as("ea"),
      col("table"), col("sig"))
    val b = e.select(col("vec_id").as("vec_id_b"), col("embedding").as("eb"),
      col("table"), col("sig"))
    a.join(b, Seq("table", "sig"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .select(col("vec_id_a"), col("vec_id_b"), col("ea"), col("eb"))
      .distinct()
      .withColumn("sim", cosineSimilarity(col("ea"), col("eb")))
      .filter(col("sim") >= threshold)
      .select(col("vec_id_a"), col("vec_id_b"), col("sim"))
  }

  /** C9: near-duplicate clustering — connected components over the
    * verified near-dup pair graph, every document labeled with its
    * cluster's canonical (minimum) doc_id plus the cluster size. This
    * is the step a cleaning pipeline actually wants after pair
    * generation: "keep one document per duplicate cluster", made
    * transitive (a~b, b~c ⇒ one cluster even when a,c weren't a pair).
    *
    * Scale shape: min-label propagation runs ONLY over the dup-graph
    * vertex set (docs that appear in some pair — a tiny fraction of
    * the corpus). A round is ONE plan: (neighbor labels ∪ own labels)
    * → hash-min per vertex — two stages, and when the label frame is
    * small AQE turns the edge join into a broadcast, leaving a single
    * shuffle per round. Converges in O(component diameter) rounds;
    * dup clusters are small and dense, so diameter is tiny. Labels
    * join back to the corpus once at the end. No driver state beyond
    * the O(1) convergence check (sum of labels, strictly decreasing
    * until fixpoint). The GraphX/GraphFrames CC shape, without the
    * dependency.
    */
  def nearDupClusters(spark: SparkSession, dir: String,
      threshold: Double = 0.8, maxIters: Int = 50,
      maxDriverEdges: Long = 4L * 1000 * 1000,
      reliableCheckpointDir: Option[String] = None): DataFrame =
    clustersOver(
      Tables(spark, dir, "documents").select(col("doc_id")),
      ngramJaccard(spark, dir, threshold)
        .select(col("doc_id_a"), col("doc_id_b")),
      maxIters, maxDriverEdges, reliableCheckpointDir)

  /** The C9 labeling tail over ANY vertex universe + pair frame —
    * shared with the pHash cluster view (F7c): label propagation on
    * the pair graph, unlabeled universe members become their own
    * singleton cluster, sizes attached.
    *
    * r16 OPT (guide §2.4, remove shuffles outright): sizes used to
    * be a corpus-sized `groupBy(cluster_id)` + a corpus×sizes join —
    * two corpus exchanges for counts that are fully determined by
    * the VERTEX SET (a tiny fraction of the corpus): a cluster's
    * size is its member count in the pair graph, and every unpaired
    * doc is a singleton of size 1. [[clusterLabels]] now ships the
    * size with each label (in-core regime: same driver pass;
    * distributed regime: one vertex-sized window), so the whole tail
    * is ONE left join + two coalesces. Sound because both callers'
    * pair vertices come from the same filtered `docs` universe
    * (C9: pairs over the identical documents frame; F7c:
    * phashNearDup applies the identical text-nonnull/length≥1
    * filter) and doc_id is unique — a corpus member count per
    * cluster_id therefore equals the vertex count per label. */
  private[operators] def clustersOver(docs: DataFrame, pairs: DataFrame,
      maxIters: Int, maxDriverEdges: Long,
      reliableCheckpointDir: Option[String]): DataFrame = {
    val labels = clusterLabels(docs.sparkSession, pairs, maxIters,
      maxDriverEdges, reliableCheckpointDir)
    docs.select(col("doc_id"))
      .join(labels, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
  }

  /** The label-attach half of [[clustersOver]] WITHOUT the size
    * join: every `docs` row gains a `cluster_id` (its transitive-
    * closure label; unpaired docs label themselves). `docs` keeps
    * its other columns, so a caller that doesn't need sizes (C40's
    * split) skips the corpus-sized size aggregation + join
    * entirely. */
  private[operators] def clusterAssignments(docs: DataFrame,
      pairs: DataFrame, maxIters: Int = 50,
      maxDriverEdges: Long = 4L * 1000 * 1000,
      reliableCheckpointDir: Option[String] = None): DataFrame = {
    // Project cluster_size away BEFORE the join: the split callers
    // don't consume it, and pruning here keeps their join input (and
    // broadcast bytes) byte-identical to the pre-r16 shape.
    val labels = clusterLabels(docs.sparkSession, pairs, maxIters,
      maxDriverEdges, reliableCheckpointDir)
      .select(col("id"), col("label"))
    docs.join(labels, col("doc_id") === col("id"), "left")
      .withColumn("cluster_id", coalesce(col("label"), col("doc_id")))
      .drop("id", "label")
  }

  /** C39: quality-aware canonical selection — reduce each C9
    * near-dup cluster to its HIGHEST-quality member (E2's score),
    * not an arbitrary canonical. Production near-dedup keeps one
    * representative per duplicate class; keeping the min-id (C1's
    * convention) throws away the best-written copy whenever the
    * duplicate class mixes a clean original with boilerplate-wrapped
    * or truncated mirrors. Ties (exact duplicates score identically)
    * break on doc_id, so the output is deterministic.
    *
    * Scale shape: the cluster labeling is C9's (bucketed candidate
    * generation, never O(n²)); the quality score is one codegen map
    * pass; the join is a doc_id equi-join; the per-cluster argmax is
    * the H5 TopKPerGroup node at k=1 — the partial phase reduces
    * every task to one candidate row per cluster with a bounded
    * heap BEFORE the exchange, so the shuffle carries ≤ one row per
    * (task, cluster) and no per-group sort ever materializes.
    * (The equivalent `row_number() = 1` window form is what H10's
    * RewriteRankFilterToTopK now also rewrites to this node, for
    * sessions built with GraftExtensions.) Nothing here is
    * corpus-quadratic and nothing collects.
    */
  def keepBestPerCluster(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame = {
    val clusters = nearDupClusters(spark, dir, threshold)
    val q = TextQueries.quality(spark, dir)
      .select(col("doc_id"), col("quality"))
    graft.plans.TopKPerGroup(clusters.join(q, Seq("doc_id")), k = 1,
      groupCols = Seq("cluster_id"),
      orderBy = Seq("quality" -> true, "doc_id" -> false))
  }

  /** Connected-component labels (id, label=min reachable id,
    * cluster_size=component vertex count) of the pair graph — the
    * size rides along since r16 (see [[clustersOver]]'s equivalence
    * note; in-core it is one extra pass over the parent map,
    * distributed one vertex-sized window — never a corpus
    * aggregation). Two regimes, same output:
    *
    * - **In-core union-find** when the pair set fits the driver
    *   (≤ maxDriverEdges, default 4M ⇒ ~64 MB): near-dup graphs are
    *   a tiny fraction of the corpus even at 100 TB, so this is the
    *   common case — and it replaces O(diameter) Spark rounds with
    *   microseconds of path-compressed unions. Same philosophy as a
    *   broadcast join: when one side is provably small, stop
    *   distributing it.
    * - **Distributed min-label propagation** above the threshold:
    *   one (neighbor-labels ∪ own-labels) → hash-min plan per round,
    *   lineage truncated per round (persist alone would re-embed the
    *   whole pair pipeline in every round's logical plan). Rounds =
    *   O(component diameter); dup clusters are small and dense.
    *   `reliableCheckpointDir` swaps localCheckpoint for reliable
    *   checkpoint() so a lost executor replays from storage instead
    *   of recomputing the whole chain — the right setting on a real
    *   cluster where the loop outlives executor churn.
    */
  private[operators] def clusterLabels(spark: SparkSession,
      pairs: DataFrame, maxIters: Int, maxDriverEdges: Long,
      reliableCheckpointDir: Option[String]): DataFrame = {
    import spark.implicits._
    // The regime probe (count) and the edge consumption (collect /
    // union) are separate actions over the same expensive AllPairs
    // pipeline — persist so it executes once, not per action
    // (measured 5.1 s → ~3 s at sf0.1).
    val p = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = p.count()
    if (nEdges <= maxDriverEdges) {
      // Union-find with path halving + union by min label: the
      // canonical representative IS the minimum member, which is what
      // the distributed loop converges to.
      val edges = p.select(col("doc_id_a"), col("doc_id_b"))
        .as[(Long, Long)].collect()
      p.unpersist(blocking = false)
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent(x) != x) {
          parent(x) = parent(parent(x)); x = parent(x)
        }
        x
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val rootSize = scala.collection.mutable.Map.empty[Long, Long]
      parent.keys.foreach { k =>
        val r = find(k)
        rootSize.update(r, rootSize.getOrElse(r, 0L) + 1L)
      }
      parent.keys.toSeq.sorted.map(id => (id, find(id), rootSize(find(id))))
        .toDF("id", "label", "cluster_size")
    } else {
      val checkpoint: DataFrame => DataFrame = reliableCheckpointDir match {
        case Some(d) =>
          spark.sparkContext.setCheckpointDir(d)
          df => df.checkpoint()
        case None => df => df.localCheckpoint()
      }
      val edges = checkpoint(
        p.select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
          .union(p.select(col("doc_id_b").as("src"), col("doc_id_a").as("dst"))))
      p.unpersist(blocking = false)
      var labels = checkpoint(edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
      // sum over an EMPTY label set (a corpus with no near-dup pair —
      // the common clean case) is a null aggregate, not a long
      def labelSum(df: DataFrame): Long = {
        val r = df.agg(sum(col("label"))).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      var prevSum = labelSum(labels)
      var it = 0
      var converged = labels.isEmpty
      while (it < maxIters && !converged) {
        val next = checkpoint(edges.join(labels, col("dst") === col("id"))
          .select(col("src").as("id"), col("label"))
          .union(labels)
          .groupBy(col("id")).agg(min(col("label")).as("label")))
        val s = labelSum(next)
        labels = next
        converged = s == prevSum
        prevSum = s
        it += 1
      }
      // Component size = vertex count per label — one exchange over
      // the converged label frame (vertex-sized, never the corpus).
      labels.withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("label"))))
    }
  }

  /** [[jaccardOracle]] over any corpus relation (a table name or a
    * parenthesized subquery) — nested WITH keeps the inner CTE names
    * scoped, so multiple instances compose in one statement. */
  private def jaccardOracleOver(rel: String): String =
    s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') w FROM $rel tdocs),
      |sh AS (SELECT doc_id,
      |  list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]) s
      |  FROM t),
      |ex AS (SELECT doc_id, len(s) sz, unnest(s) shingle FROM sh),
      |cand AS (SELECT a.doc_id doc_id_a, b.doc_id doc_id_b, count(*) inter,
      |    any_value(a.sz) sa, any_value(b.sz) sb
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_id_a, doc_id_b,
      |  CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE) AS jaccard
      |FROM cand
      |WHERE CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE) >= 0.8""".stripMargin

  private[operators] val jaccardOracle = jaccardOracleOver("documents")

  /** C10: edit-distance verification of near-dup pairs — Levenshtein
    * distance (and its length-normalized ratio) for every verified
    * Jaccard pair. The character-level second opinion a pipeline uses
    * to grade shingle-level candidates. At scale the O(m·n) DP runs
    * ONLY on the near-dup pair set (tiny), never corpus-wide; the
    * candidate generation above it is the AllPairs index, so nothing
    * quadratic in the corpus appears here either.
    */
  def editDistancePairs(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val ta = docs.select(col("doc_id").as("doc_id_a"), col("text").as("ta"))
    val tb = docs.select(col("doc_id").as("doc_id_b"), col("text").as("tb"))
    ngramJaccard(spark, dir, threshold)
      .select(col("doc_id_a"), col("doc_id_b"))
      .join(ta, Seq("doc_id_a")).join(tb, Seq("doc_id_b"))
      // two selects so the O(m·n) DP is evaluated ONCE per pair and
      // the ratio derives from the materialized column
      .select(col("doc_id_a"), col("doc_id_b"),
        levenshtein(col("ta"), col("tb")).cast("bigint").as("edit_dist"),
        greatest(length(col("ta")), length(col("tb"))).cast("double")
          .as("max_len"))
      .select(col("doc_id_a"), col("doc_id_b"), col("edit_dist"),
        (lit(1.0) - col("edit_dist").cast("double") / col("max_len"))
          .as("similarity"))
  }

  /** Positional w-token window hashes of every document:
    * (doc_id, pos, h) with pos 0-based — one codegen'd map pass
    * (tokenize → slide → xxhash64; whole-stage CSE shares the
    * tokenizer across the w slices). Docs shorter than w tokens
    * contribute no rows. The shared scan under C20a/C20b.
    */
  private def windowHashes(docs: DataFrame, w: Int): DataFrame =
    // ONE native byte pass per document ([[graft.functions.expressions
    // .TokenWindowHashes]]): tokenize, xxhash64 each token from its
    // byte slice, rolling-polynomial combine — O(1) per window, one
    // primitive output array, zero intermediate allocation. Two
    // earlier formulations are documented negative results: the
    // window-STRING form (concat_ws + xxhash64) re-copied every token
    // w times (1.1 s of the 1.3 s 10× scan stage), and the zip_with
    // fold that replaced it still paid (w−1) boxed-Long
    // GenericArrayData materializations per document — the residual
    // majority of the C20 scan CPU this expression removes.
    docs.select(col("doc_id"),
      posexplode(
        graft.functions.GraftFunctions.tokenWindowHashes(col("text"), w))
        .as(Seq("pos", "h")))

  /** C20a: exact-substring dedup pairs — documents sharing at least
    * one verbatim run of w consecutive tokens, with the count of
    * distinct shared windows (the document-granular form of Lee et
    * al. 2022's ExactSubstr: near-dup detection by exact long-run
    * overlap, the complement of C3's set-similarity view — Jaccard
    * misses a long verbatim quote inside otherwise-different docs;
    * this finds exactly that).
    *
    * Scale shape: inverted index on the 64-bit window hash — ONE
    * corpus-scale shuffle (group by h, map-side combined), in-bucket
    * pairs exploded map-side from the per-window doc set (the C4
    * banding pattern). Windows occurring more than maxOcc times are
    * boilerplate (site headers, license blocks) and are dropped
    * BEFORE pair generation — the cap bounds the quadratic blowup a
    * hot window would cause, and the oracle applies the identical
    * cap so exactness is preserved, not approximated.
    */
  def substringPairs(spark: SparkSession, dir: String, w: Int = 12,
      maxOcc: Int = 1000): DataFrame =
    substringPairsOf(Tables(spark, dir, "documents"), w, maxOcc)

  def substringPairsOf(docs: DataFrame, w: Int, maxOcc: Int): DataFrame = {
    // One tokenize scan, all-codegen, no growing broadcast:
    //
    // - the (h, doc_id, cnt) aggregation is the ONLY consumer of the
    //   window-hash scan, so the expensive tokenize+shingle pass runs
    //   once; every later stage works on long-only rows. (The naive
    //   two-branch formulation — occ-count branch + probe branch —
    //   re-tokenizes the corpus per branch once AQE broadcasts the
    //   cap side, which un-reuses the h-exchange the branches were
    //   meant to share.)
    // - the occurrence cap (occ counts ALL instances, intra-doc
    //   repeats included, same as the oracle's HAVING COUNT(*)) is a
    //   per-h sum over the distinct rows — the hot-window blowup is
    //   filtered before any pair materializes, ≤ maxOcc² per window.
    // - pair generation is a self-equi-join on h (the oracle's own
    //   `wd a JOIN wd b` shape), NOT a per-window collect_set +
    //   array-pair explode: collect_set plans as ObjectHashAggregate
    //   — off the codegen path — and the self-join's broadcast
    //   temptation is the real trap: the distinct side GROWS with
    //   the corpus, and AQE happily built a 2.16M-row hashed
    //   relation on the driver at the 10× board (the dominant 3 s).
    //   The shuffle_hash hint keeps it a partitioned join, and both
    //   sides plus the cap aggregation are the SAME exchange subtree
    //   — ReuseExchange ships the distinct rows once.
    val wh = windowHashes(docs, w)
    // (r7 probe, kept as a negative result: pre-clustering on h alone
    // so the agg, occ-window, and pair join share ONE exchange made
    // the 10× board WORSE — 5.2 s → 7.7 s width-pinned, 14.7 s
    // AQE-sized — because it consolidates the complete agg, the occ
    // sort, and the pair explosion into a single unpipelined stage
    // and drops the partial agg. The two-exchange plan below keeps
    // the partial combine and lets the window/join stage overlap the
    // agg stage.)
    val whc = wh.groupBy(col("h"), col("doc_id"))
      .agg(count(lit(1)).as("cnt"))
    // occ as an analytic over the SAME lineage — a separate
    // okH-branch formulation double-scans the corpus: the semi-join
    // pushdown rewrites the probe side below its distinct agg, the
    // two branches stop being identical subtrees, and ReuseExchange
    // has nothing to dedupe (measured: 2 × 1.25 s tokenize stages at
    // the 10× board).
    val whd = whc
      // (r7 probe: width-pinning this h exchange at cluster width —
      // the C3/C4 verify-stage treatment — measured WORSE at the 10×
      // board, 5.5 s → 7.9 s: at the 1 MB default advisory AQE
      // already sizes these stages well, and the forced width only
      // added dispatch; the pins pay off on CPU-dense VERIFY joins,
      // not here. Kept unpinned.)
      .withColumn("occ",
        sum(col("cnt")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .filter(col("occ") <= maxOcc && col("occ") >= 2)
      .select(col("h"), col("doc_id"))
    whd.select(col("h"), col("doc_id").as("doc_id_a"))
      .join(whd.select(col("h"), col("doc_id").as("doc_id_b")).hint("shuffle_hash"),
        Seq("h"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .groupBy(col("doc_id_a"), col("doc_id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** C20a cap audit (no-silent-caps, r14 VERDICT #3): the window
    * hashes [[substringPairs]]'s `maxOcc` cap DROPS, with their
    * total occurrence counts — the shared (site, bucket, occ, cap)
    * audit schema (see [[Multimodal.phashCapAudit]]). A run that
    * reports "no shared substrings" while this surface is non-empty
    * had its candidates eaten by boilerplate (site headers, license
    * blocks) — exactly the signal a production pipeline needs to
    * distinguish the two.
    */
  def substringCapAudit(spark: SparkSession, dir: String, w: Int = 12,
      maxOcc: Int = 1000): DataFrame =
    windowHashes(Tables(spark, dir, "documents"), w)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxOcc)
      .select(lit("dedup_substring").as("site"),
        col("h").cast("string").as("bucket"),
        col("occ"), lit(maxOcc).as("cap"))

  /** C20b: duplicated-span coverage — for every document, how many
    * of its tokens sit inside at least one w-token window that
    * occurs elsewhere in the corpus (or again in the same doc). This
    * is ExactSubstr's actual removal decision as a per-doc statistic:
    * `dup_fraction` ≈ the fraction of the doc a span-level dedup
    * pass would delete. Unlike C20a no pair set materializes — the
    * shape is linear end to end: the window→count aggregation's
    * exchange is REUSED by the duplicated-window join (same child,
    * same h partitioning), coverage expands each duplicated window
    * into its w positions map-side, and the per-doc distinct-count
    * shuffles only duplicated positions.
    */
  def substringSpans(spark: SparkSession, dir: String,
      w: Int = 12): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val wh = windowHashes(docs, w)
    val dupH = wh.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("h"))
    val cover = wh.join(dupH, Seq("h"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("p"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("p")).as("dup_toks"))
    docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("bigint").as("n_tokens"))
      .join(cover, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_toks"), lit(0L)).as("n_dup_tokens"))
      .withColumn("dup_fraction",
        col("n_dup_tokens").cast("double") / col("n_tokens"))
  }

  // ---------------------------------------------------------------
  // C32: winnowing fingerprints (MOSS), rightmost-min tie-break
  // ---------------------------------------------------------------

  /** C32 core: winnowing fingerprint selection (Schleimer, Wilkerson
    * & Aiken 2003, the MOSS paper): hash every k-token gram, slide a
    * w-window over the hash sequence, select each window's MINIMUM
    * hash breaking ties to the RIGHTMOST position, and keep the
    * distinct selections. (This is the paper's base winnowing with an
    * independent per-window rightmost-min tie rule — NOT its "robust
    * winnowing" variant, whose tie-break prefers re-selecting the
    * previous window's fingerprint to shave density; the guarantee
    * below is identical for both, the variant only changes density
    * constants — ADVICE r7 naming fix.) Guarantee (the paper's): any
    * shared token run of length ≥ w + k − 1 yields a shared
    * fingerprint, while only ~2/(w+1) of grams are kept — a
    * density-bounded sketch where C20a keeps every window.
    *
    * Scale shape: selection is ENTIRELY map-side — the per-window
    * sliding minimum is a zip_with(least) reduction over w shifted
    * slices of packed (h, −pos) structs (struct order = min hash,
    * rightmost tie; the [[shingleSlots]] slice pattern — no lambda
    * ever indexes an outer array, which would re-evaluate it per
    * element). The corpus never shuffles; only the selected ~2n/(w+1)
    * fingerprints leave the scan stage.
    */
  def winnowFingerprintsOf(d: DataFrame, k: Int, w: Int,
      portableHash: Boolean = true, carry: Seq[String] = Nil): DataFrame = {
    // r10: ONE native byte pass (WinnowFingerprints: TokenScan →
    // span-gram md5-60/xxhash64 → monotonic-deque sliding
    // rightmost-min → distinct) — the compositional chain it
    // replaces (regex tokenize, k slices, zip_with concat, per-gram
    // string, w more slices, zip_with(least), array_distinct) was
    // the worst like-for-like absolute row on the sf0.1 board
    // (2.5 s). Same selections by construction; the hand-computed
    // MOSS spec and the 3-SF oracle pin it.
    val keep = (carry :+ "doc_id").map(col)
    d.select(keep :+
        explode(winnowFingerprintsCol(col("text"), k, w, portableHash))
          .as("fp"): _*)
      .select(keep ++ Seq((-col("fp.np")).as("pos"), col("fp.h")): _*)
  }

  private[graft] def winnowFingerprintsCol(text: Column, k: Int, w: Int,
      portable: Boolean): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.expressions.WinnowFingerprints(
        org.apache.spark.sql.GraftColumnBridge.expression(text), k, w,
        portable))

  /** C32: winnowing near-dup pairs — documents sharing ≥1 selected
    * fingerprint + the count of distinct shared fingerprint hashes.
    * Downstream is C20a's shape on the winnowed (≈2/(w+1)-density)
    * stream: distinct (doc, h), a per-h distinct-doc occurrence cap
    * (boilerplate fingerprints never enter pair generation) as an
    * analytic over the SAME lineage, then a partitioned self-equi-join
    * on h (shuffle_hash — the growing side must never broadcast).
    */
  def winnowPairs(spark: SparkSession, dir: String, k: Int = 4,
      w: Int = 4, maxOcc: Int = 1000,
      portableHash: Boolean = true): DataFrame = {
    // r16 pinned negative: spreading the docs before fingerprinting
    // (0.29 s single-task pass locally) measured WORSE — 0.909 vs
    // 0.711/0.790 s same-suite A/B — the exchange ships the corpus
    // TEXT (the r15 ngram-shingle text-shuffle negative again).
    // Fingerprints stay on the raw layout.
    val fp = winnowFingerprintsOf(Tables(spark, dir, "documents"), k, w,
      portableHash)
    val fph = fp.select(col("doc_id"), col("h")).distinct()
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("occ") >= 2 && col("occ") <= maxOcc)
      .select(col("h"), col("doc_id"))
    fph.select(col("h"), col("doc_id").as("doc_id_a"))
      .join(fph.select(col("h"), col("doc_id").as("doc_id_b"))
        .hint("shuffle_hash"), Seq("h"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .groupBy(col("doc_id_a"), col("doc_id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** C32 lifecycle (D9 discipline): persist the corpus's winnowed
    * fingerprint index — build ONCE, screen every incoming batch
    * against it with no corpus re-scan. The index is the distinct
    * (doc_id, h) fingerprint set with boilerplate fingerprints
    * (distinct-doc occurrence > maxOcc) dropped AT BUILD — a capped
    * index bounds every future probe join no matter how hot a
    * boilerplate fingerprint is; `{name}_meta` pins (k, w, maxOcc,
    * hash) so probes fingerprint identically.
    */
  def buildWinnowIndex(db: graft.catalog.GraftDatabase, docs: DataFrame,
      name: String, k: Int = 4, w: Int = 4, maxOcc: Int = 1000,
      portableHash: Boolean = true): Unit = {
    val fp = winnowFingerprintsOf(docs, k, w, portableHash)
      .select(col("doc_id"), col("h")).distinct()
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("occ") <= maxOcc)
      .select(col("doc_id"), col("h"))
    val ow = org.apache.spark.sql.SaveMode.Overwrite
    db.write(fp, s"${name}_fp", ow)
    import db.spark.implicits._
    db.write(Seq((k, w, maxOcc, portableHash)).toDF(
      "k", "w", "max_occ", "portable"), s"${name}_meta", ow)
  }

  /** Screen a new (doc_id, text) batch against a stored winnow index:
    * the batch fingerprints map-side (stateless), the candidate join
    * touches only fingerprint matches, and the emitted pairs are
    * (new doc, indexed doc, shared fingerprint count). The winnowing
    * guarantee carries over: a new doc sharing a ≥ w+k−1 token run
    * with any indexed doc surfaces. This is the ingest-time near-dup
    * screen a crawl pipeline runs before admitting a batch (G9's
    * Bloom novelty is the EXACT-dup twin of this shape).
    */
  def winnowNewPairs(db: graft.catalog.GraftDatabase, name: String,
      newDocs: DataFrame): DataFrame = {
    val meta = db.read(s"${name}_meta").collect()(0)
    val (k, w, portable) =
      (meta.getAs[Int]("k"), meta.getAs[Int]("w"),
        meta.getAs[Boolean]("portable"))
    val fp = winnowFingerprintsOf(newDocs, k, w, portable)
      .select(col("doc_id").as("new_doc_id"), col("h")).distinct()
    fp.join(db.read(s"${name}_fp").hint("shuffle_hash"), Seq("h"))
      .groupBy(col("new_doc_id"), col("doc_id").as("index_doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** C21: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * dedup: k-means-cluster the embedding space (deterministic
    * bounded-sample Lloyd, the D2 quantizer), then exact cosine
    * pairs WITHIN each cluster only. Near-semantic duplicates land
    * in the same cell with probability →1 as similarity →1, so the
    * all-pairs cost collapses from O(n²) to Σ|cell|² — the paper's
    * trade: recall at the threshold is spec-pinned (planted dups +
    * subset-of-C6 precision), not oracle-exact, same contract as
    * D2/C7. At scale nClusters grows with the corpus (cells stay
    * ~constant-sized), the assignment pass is one codegen'd map
    * over broadcast centroid literals, and the self-join is an
    * equi-join on `cell` — nothing quadratic in the corpus ever
    * materializes.
    */
  def semanticPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.4, nClusters: Int = 16,
      iters: Int = 3): DataFrame =
    semanticPairsOn(
      Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding")),
      threshold, nClusters, iters)

  /** [[semanticPairs]] over any (vec_id, embedding) frame. */
  def semanticPairsOn(e: DataFrame, threshold: Double, nClusters: Int,
      iters: Int): DataFrame = {
    val cents = Ann.trainCentroids(e, nClusters, iters)
    val assigned = e.withColumn("cell", Ann.cellExpr(cents, col("embedding")))
    val a = assigned.select(col("cell"), col("vec_id").as("vec_id_a"),
      col("embedding").as("ea"))
    val b = assigned.select(col("cell"), col("vec_id").as("vec_id_b"),
      col("embedding").as("eb"))
    a.join(b, Seq("cell"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .withColumn("sim", cosineSimilarity(col("ea"), col("eb")))
      .filter(col("sim") >= threshold)
      .select(col("vec_id_a"), col("vec_id_b"), col("sim"))
  }

  /** Consecutive w-token line segments of a token array — the
    * deterministic segmentation the line-granular dedup pins its
    * oracle on. A real crawl corpus passes newline-split lines
    * through [[dedupLinesOf]] directly; the test corpus carries no
    * newlines, so the segmentation stands in for them identically in
    * both engines. ⌈n/w⌉ lines; the last may be short; empty token
    * arrays yield no lines.
    */
  private[operators] def lineArray(toks: Column, w: Int): Column =
    when(size(toks) >= 1,
      transform(
        sequence(lit(0), floor((size(toks) - 1) / w).cast("int")),
        j => concat_ws(" ", slice(toks, j * w + 1, lit(w)))))
      .otherwise(array().cast("array<string>"))

  /** C23: line-granular exact dedup — the CCNet paragraph-dedup /
    * RefinedWeb line-wise filter: across the WHOLE corpus, every
    * distinct line keeps exactly its first occurrence (min (doc_id,
    * line_no) — "first" must be a global total order to be
    * reproducible, not an encounter order) and every later copy is
    * deleted, including within-document repeats. Documents are then
    * reassembled from their surviving lines in order — the operator a
    * crawl pipeline runs BEFORE document-level near-dedup, because
    * boilerplate (headers, nav bars, license blocks) repeats at line
    * granularity across documents that are nothing alike as wholes.
    *
    * Scale shape: lines are grouped on their 64-bit content hash, and
    * the keep-first decision is `min(struct(doc_id, line_no, line))`
    * inside that ONE map-side-combined aggregation — no join-back,
    * no window. The surviving lines (≤ distinct lines) then shuffle
    * once more on doc_id for reassembly; per-doc line totals ride a
    * shuffle-free map pass on the document side of the final join.
    * Hashed group keys carry the C1 collision contract (w.p.
    * 1 − n²/2⁶⁵; the oracle groups raw line text, so a collision
    * surfaces as a hash mismatch, never silently).
    */
  def dedupLines(spark: SparkSession, dir: String, w: Int = 8): DataFrame =
    dedupLinesOf(Tables(spark, dir, "documents"), w)

  def dedupLinesOf(docs: DataFrame, w: Int): DataFrame = {
    val segs = docs.select(col("doc_id"),
        posexplode(lineArray(tokens(col("text")), w))
          .as(Seq("line_no", "line")))
    val kept = segs
      .groupBy(xxhash64(col("line")).as("lh"))
      .agg(min(struct(col("doc_id"), col("line_no"), col("line"))).as("f"))
      .select(col("f.doc_id").as("doc_id"), col("f.line_no").as("line_no"),
        col("f.line").as("line"))
    val perDoc = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(struct(col("line_no"), col("line")))),
            s => s.getField("line"))).as("clean_text"))
    docs.select(col("doc_id"),
        size(lineArray(tokens(col("text")), w)).cast("bigint").as("n_lines"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Transitive-closure CTE block (min reachable id per node) over
    * the τ=0.8 jaccard pair set of `rel`, every CTE name suffixed
    * with `sfx` so two closures (C40b: existing corpus + new batch)
    * compose in one WITH RECURSIVE list. Ends at `allc$sfx`
    * (doc_id → cluster_id over all of `rel`).
    */
  private[operators] def closureCtes(rel: String, sfx: String): String =
    s"""p$sfx AS (SELECT doc_id_a, doc_id_b FROM (
       |${jaccardOracleOver(rel)}
       |) jp),
       |e$sfx AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM p$sfx
       |      UNION ALL SELECT doc_id_b, doc_id_a FROM p$sfx),
       |reach$sfx(id, r) AS (
       |  SELECT src, src FROM e$sfx
       |  UNION
       |  SELECT e$sfx.src, reach$sfx.r
       |  FROM reach$sfx JOIN e$sfx ON reach$sfx.id = e$sfx.dst),
       |lab$sfx AS (SELECT id, MIN(r) AS cluster_id FROM reach$sfx GROUP BY id),
       |allc$sfx AS (SELECT d.doc_id,
       |    COALESCE(lab$sfx.cluster_id, d.doc_id) AS cluster_id
       |  FROM $rel d LEFT JOIN lab$sfx ON d.doc_id = lab$sfx.id)""".stripMargin

  /** Winnow fingerprint CTE block over `rel` (k=4, w=4, portable
    * md5-60 hash — [[winnowPairsOracle]]'s selection chain verbatim,
    * every CTE name prefixed with `p` so two fingerprint sets (C40c:
    * corpus index + new batch) compose in one WITH list). Ends at
    * `${p}fp` (DISTINCT doc_id, h).
    */
  private[operators] def winnowFpCtes(rel: String, p: String): String =
    s"""${p}t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') w
       |           FROM $rel),
       |${p}g AS (SELECT doc_id,
       |    unnest(generate_series(1, len(w) - 3)) AS pos,
       |    unnest([('0x' || substr(md5(array_to_string(w[i:i+3], ' ')), 1, 15))::BIGINT
       |            for i in range(1, len(w) - 2)]) AS h
       |  FROM ${p}t WHERE len(w) >= 4),
       |${p}mn AS (SELECT doc_id, pos AS ws,
       |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
       |  FROM ${p}g),
       |${p}v AS (SELECT doc_id, ws, mh FROM ${p}mn
       |  WHERE ws + 3 <= n_grams),
       |${p}sel AS (SELECT v.doc_id, v.ws, MAX(g.pos) AS spos
       |  FROM ${p}v v JOIN ${p}g g ON g.doc_id = v.doc_id
       |    AND g.pos BETWEEN v.ws AND v.ws + 3 AND g.h = v.mh
       |  GROUP BY v.doc_id, v.ws),
       |${p}fp AS (SELECT DISTINCT s.doc_id, g.h
       |  FROM ${p}sel s JOIN ${p}g g ON g.doc_id = s.doc_id
       |    AND g.pos = s.spos)""".stripMargin

  /** CC oracle prefix: the closure over the whole documents table,
    * unsuffixed — the C9 / C39 / C40 oracles compose from it.
    */
  private[operators] val clustersCte =
    s"""WITH RECURSIVE
       |${closureCtes("documents", "")}""".stripMargin

  private val clustersOracle =
    s"""$clustersCte
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM allc""".stripMargin

  /** C39 oracle: the same closure, each cluster reduced to its
    * highest-quality member (E2's score verbatim — hash-green, so
    * the DESC ordering is cross-engine identical; doc_id breaks
    * exact-duplicate ties).
    */
  private def keepBestOracle =
    s"""$clustersCte,
       |siz AS (SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size FROM allc),
       |q AS (SELECT doc_id, quality FROM (
       |${TextQueries.oracles("text_quality")}
       |) tq)
       |SELECT s.doc_id, s.cluster_id, s.cluster_size, q.quality
       |FROM siz s JOIN q ON s.doc_id = q.doc_id
       |QUALIFY row_number() OVER (PARTITION BY s.cluster_id
       |  ORDER BY q.quality DESC, s.doc_id) = 1""".stripMargin

  private val editDistOracle =
    s"""WITH p AS (SELECT doc_id_a, doc_id_b FROM (
       |$jaccardOracle
       |) jp)
       |SELECT doc_id_a, doc_id_b,
       |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
       |  1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
       |    / CAST(GREATEST(length(a.text), length(b.text)) AS DOUBLE)
       |      AS similarity
       |FROM p
       |JOIN documents a ON p.doc_id_a = a.doc_id
       |JOIN documents b ON p.doc_id_b = b.doc_id""".stripMargin

  // C20 oracles share the window CTE: 1-based slice positions are an
  // oracle-side detail (only counts are compared); the occurrence cap
  // is applied IDENTICALLY on both sides, so C20a stays exact.
  private val substringPairsOracle =
    """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') t FROM documents),
      |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 11)) i
      |        FROM tok WHERE len(t) >= 12),
      |win AS (SELECT doc_id,
      |          array_to_string(t[CAST(i AS INT):CAST(i + 11 AS INT)], ' ') w
      |        FROM pos),
      |ok AS (SELECT w FROM win GROUP BY w HAVING COUNT(*) <= 1000),
      |wd AS (SELECT DISTINCT doc_id, w FROM win JOIN ok USING (w))
      |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
      |  COUNT(*) AS n_shared
      |FROM wd a JOIN wd b ON a.w = b.w AND a.doc_id < b.doc_id
      |GROUP BY 1, 2""".stripMargin

  private val substringSpansOracle =
    """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') t FROM documents),
      |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 11)) i
      |        FROM tok WHERE len(t) >= 12),
      |win AS (SELECT doc_id, i,
      |          array_to_string(t[CAST(i AS INT):CAST(i + 11 AS INT)], ' ') w
      |        FROM pos),
      |dup AS (SELECT w FROM win GROUP BY w HAVING COUNT(*) >= 2),
      |cov AS (SELECT DISTINCT win.doc_id, i + j AS p
      |        FROM win JOIN dup USING (w), range(0, 12) r(j)),
      |per AS (SELECT doc_id, COUNT(*) AS nd FROM cov GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(regexp_extract_all(d.text, '\S+')) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(per.nd, 0) AS BIGINT) AS n_dup_tokens,
      |  CAST(COALESCE(per.nd, 0) AS DOUBLE)
      |    / len(regexp_extract_all(d.text, '\S+')) AS dup_fraction
      |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin

  // C23 oracle: same segmentation, keep-first via two-stage group
  // (min doc, then min line_no within it) over the RAW line text —
  // the collision check for the Spark side's hashed group keys.
  private val dedupLinesOracle =
    """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') t
      |             FROM documents),
      |seg AS (SELECT doc_id, unnest(generate_series(0, (len(t) - 1) // 8)) j, t
      |        FROM tok WHERE len(t) >= 1),
      |lines AS (SELECT doc_id, j AS line_no,
      |    array_to_string(t[CAST(j * 8 + 1 AS INT):CAST(j * 8 + 8 AS INT)], ' ') line
      |  FROM seg),
      |fst AS (SELECT line, MIN(doc_id) dmin FROM lines GROUP BY line),
      |fln AS (SELECT l.line, f.dmin, MIN(l.line_no) lmin
      |        FROM lines l JOIN fst f ON l.line = f.line AND l.doc_id = f.dmin
      |        GROUP BY 1, 2),
      |agg AS (SELECT dmin AS doc_id, COUNT(*) n_kept,
      |          array_to_string(list(line ORDER BY lmin), ' ') clean_text
      |        FROM fln GROUP BY dmin),
      |tot AS (SELECT doc_id, CAST(CASE WHEN len(t) = 0 THEN 0
      |          ELSE (len(t) - 1) // 8 + 1 END AS BIGINT) n_lines FROM tok)
      |SELECT t.doc_id, t.n_lines,
      |  COALESCE(a.n_kept, 0) AS n_kept,
      |  COALESCE(a.clean_text, '') AS clean_text
      |FROM tot t LEFT JOIN agg a USING (doc_id)""".stripMargin

  // C32 oracle: identical 60-bit md5 gram hash, window-min via an
  // analytic frame, rightmost tie via MAX(pos) among in-window rows
  // matching the min, then C20a's capped self-join on the selected
  // fingerprints. k=4, w=4 — the query pin's defaults.
  private val winnowPairsOracle =
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') w
      |           FROM documents),
      |g AS (SELECT doc_id,
      |    unnest(generate_series(1, len(w) - 3)) AS pos,
      |    unnest([('0x' || substr(md5(array_to_string(w[i:i+3], ' ')), 1, 15))::BIGINT
      |            for i in range(1, len(w) - 2)]) AS h
      |  FROM t WHERE len(w) >= 4),
      |mn AS (SELECT doc_id, pos AS ws,
      |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
      |    COUNT(*) OVER (PARTITION BY doc_id) AS ng
      |  FROM g),
      |v AS (SELECT doc_id, ws, mh FROM mn WHERE ws + 3 <= ng),
      |sel AS (SELECT v.doc_id, v.ws, MAX(g.pos) AS spos
      |  FROM v JOIN g ON g.doc_id = v.doc_id
      |    AND g.pos BETWEEN v.ws AND v.ws + 3 AND g.h = v.mh
      |  GROUP BY v.doc_id, v.ws),
      |fp AS (SELECT DISTINCT s.doc_id, g.h
      |  FROM sel s JOIN g ON g.doc_id = s.doc_id AND g.pos = s.spos),
      |occ AS (SELECT h FROM fp GROUP BY h
      |  HAVING COUNT(*) BETWEEN 2 AND 1000)
      |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_shared
      |FROM fp a JOIN fp b USING (h) JOIN occ USING (h)
      |WHERE a.doc_id < b.doc_id
      |GROUP BY 1, 2""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_winnow" -> winnowPairsOracle,
    "dedup_lines" -> dedupLinesOracle,
    "dedup_substring" -> substringPairsOracle,
    "dedup_substring_spans" -> substringSpansOracle,
    "dedup_clusters" -> clustersOracle,
    "dedup_keep_best" -> keepBestOracle,
    "dedup_edit_distance" -> editDistOracle,
    "dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,
    "dedup_exact_hash" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT sha256(text)) AS n_distinct
        |FROM documents GROUP BY source""".stripMargin,
    "dedup_ngram_jaccard" -> jaccardOracle,
    // C4's contract: LSH-verified output ≡ the exact pair set at τ=0.8.
    "dedup_minhash" -> jaccardOracle,
    // C35's contract: the cross-corpus form of the same equivalence —
    // exact Jaccard over the bench-slice × training-slice pairs.
    "curate_decontam_fuzzy" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') w FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]) s
        |  FROM t),
        |ex AS (SELECT doc_id, len(s) sz, unnest(s) shingle FROM sh),
        |cand AS (SELECT b.doc_id doc_id, a.doc_id bench_id, count(*) inter,
        |    any_value(a.sz) sa, any_value(b.sz) sb
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle
        |    AND a.doc_id % 17 = 0 AND b.doc_id % 17 <> 0
        |  GROUP BY 1, 2)
        |SELECT doc_id, bench_id,
        |  CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE) AS jaccard
        |FROM cand
        |WHERE CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE) >= 0.8""".stripMargin,
    "dedup_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) w
        |  FROM documents),
        |bits AS (SELECT doc_id, ('0x'||substr(md5(w),1,15))::BIGINT h FROM tok),
        |votes AS (SELECT doc_id, i,
        |    SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) v
        |  FROM bits, range(0, 60) r(i) GROUP BY doc_id, i)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id""".stripMargin,
    "dedup_embedding" ->
      """WITH p AS (SELECT a.vec_id vec_id_a, b.vec_id vec_id_b,
        |    a.embedding ea, b.embedding eb
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
        |s AS (SELECT vec_id_a, vec_id_b,
        |  list_reduce([CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)
        |    for i in range(1, len(ea) + 1)], (x, y) -> x + y)
        |  / (sqrt(list_reduce([CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)
        |      for i in range(1, len(ea) + 1)], (x, y) -> x + y))
        |    * sqrt(list_reduce([CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)
        |      for i in range(1, len(eb) + 1)], (x, y) -> x + y))) AS sim
        |  FROM p)
        |SELECT vec_id_a, vec_id_b, sim FROM s WHERE sim >= 0.4""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, d) => exact(s, d)),
    "dedup_exact_hash" -> ((s, d) => exactHash(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => ngramJaccard(s, d)),
    "dedup_minhash" -> ((s, d) => minhashLsh(s, d)),
    "dedup_simhash" -> ((s, d) => simhash(s, d)),
    "dedup_clusters" -> ((s, d) => nearDupClusters(s, d)),
    "dedup_keep_best" -> ((s, d) => keepBestPerCluster(s, d)),
    "dedup_edit_distance" -> ((s, d) => editDistancePairs(s, d)),
    "dedup_embedding" -> ((s, d) => embeddingPairs(s, d)),
    "dedup_embedding_lsh" -> ((s, d) => embeddingLsh(s, d)),
    "dedup_lines" -> ((s, d) => dedupLines(s, d)),
    "dedup_substring" -> ((s, d) => substringPairs(s, d)),
    "dedup_winnow" -> ((s, d) => winnowPairs(s, d)),
    "dedup_substring_spans" -> ((s, d) => substringSpans(s, d)),
    "dedup_semantic" -> ((s, d) => semanticPairs(s, d)),
    "curate_decontam_fuzzy" -> ((s, d) => fuzzyDecontam(s, d))
  )
}
