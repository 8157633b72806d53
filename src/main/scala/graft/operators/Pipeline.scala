package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** The end-to-end training-data cleaning pipeline (SURVEY.md §2 —
  * the §C/§E operators composed the way a corpus build actually uses
  * them): quality gate → language gate → exact dedup (normalized
  * fingerprint, keep lowest id) → near-dup removal (AllPairs
  * Jaccard pairs, drop the higher id of each pair).
  *
  * One declarative plan end to end: Catalyst pipelines the text
  * scoring into the scan, the dedup group-by and the near-dup
  * anti-join shuffle on content-derived keys, and everything scales
  * like its §C/§E parts. The whole composite is oracle-checked.
  */
object Pipeline {

  def cleanCorpus(spark: SparkSession, dir: String,
      minQuality: Double = 0.7, lang: String = "en",
      nearDupThreshold: Double = 0.8,
      smallMaxBytes: Long = 2L << 30,
      smallMaxTextBytes: Long = 8L << 30): DataFrame = {
    // One-pass gates: GateStats folds the seven regex passes of
    // qualityScore+langId into a single byte scan (same counts, same
    // double arithmetic — spec-pinned); the corpus-scale part of the
    // composite is exactly this projection, so its constant factor
    // IS the pipeline's.
    val docs = Tables(spark, dir, "documents")
      .withColumn("__g", graft.functions.GraftFunctions.gateStats(col("text")))
      .withColumn("quality", qualityFromGate(col("__g")))
      .withColumn("pred_lang", langIdFromGate(col("__g")))
      .filter(col("quality") >= minQuality && col("pred_lang") === lang)
      .drop("__g")

    // Exact dedup on normalized content, canonical = lowest doc_id.
    // The C1 shape — ONE map-side-combinable hash aggregation keyed
    // on the fingerprint — not a min-over-window, which shuffles the
    // same rows and then fully SORTS every fp partition (the r4 bench
    // put that sort at ~1 s of the composite's 3.3 s at sf0.1).
    val canonicalPlan = docs
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(min_by(
        struct(col("doc_id"), col("text"), col("pred_lang"), col("quality")),
        col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"),
        col("r.pred_lang").as("pred_lang"), col("r.quality").as("quality"))
      // The hashed-shingle arrays ride in the SAME cache as the
      // survivor rows: the composite needs both the AllPairs input
      // (doc_id, sh) and the kept-side columns, and materializing
      // them as one persisted frame costs one columnar-cache build
      // instead of two (ngramJaccardOf's internal cache + a text
      // cache — measured ~0.5 s of the composite at sf0.1).
      // (r8 probe, kept as a negative result: folding the shingle
      // projection INTO the gate scan so min_by carries `sh` through
      // the fp exchange — the one-fewer-compute-site shape — measured
      // WORSE, 1.66 s vs 1.36 s at sf0.1 (DriveCleanProbe): shingles
      // for every gated doc instead of every survivor, and the array
      // payload widens the corpus-scale fp shuffle. Survivors-only
      // computation after the exchange stays the shipped shape.
      // r9 re-check at 10× with an ORDER-FAIR probe (DriveCleanAb,
      // interleaved reps — DriveCleanProbe's fixed ordering hands
      // the later variant a JIT/GC edge and had flipped the
      // verdict): shipped 2.02 s vs fused 2.26 s even with the
      // fused struct slimmed to ids+stats+sh. The negative holds at
      // both scales.)
      .withColumn("sh", Dedup.shingleHashColumn(col("text")))
      // Late-r8: the cache DROPS the raw text — every text-derived
      // output (sh, n_tokens) is computed in this projection, so the
      // persisted frame is (ids + stats + hash arrays) with no
      // document bytes. At 10× this measures WITHIN JITTER of the
      // text-carrying cache (1.89 vs 1.80 s, DriveCleanProbe — the
      // toy corpus's text is ~50 MB, compute dominates); the shape
      // is kept for the real-scale argument: a 100 TB composite's
      // canonical cache would otherwise hold the whole surviving
      // corpus's bytes and spill, while ids+stats+hash arrays are
      // ~an order smaller. Nothing downstream reads the text (the
      // anti-join keeps ids, the verify works on `sh`).
      .select(col("doc_id"), col("pred_lang"), col("quality"),
        wsTokenCount(col("text")).as("n_tokens"), col("sh"))

    // Small-corpus tail (r11, DriveCleanAb at 10×: 1.05 s vs the
    // persisted shape's 2.09 s, identical output): ONE declarative
    // plan end to end — no persist, no rarity-sketch action, no
    // explicit repartition pins, no candidate distinct. The fp
    // exchange subtree is shared across all five consumers by AQE
    // stage reuse, the post-gate frames are small enough that AQE
    // converts every tail join to broadcast at runtime, and a dup
    // candidate only duplicates a tiny exact-verify row (the LEFT
    // ANTI join is duplicate-insensitive). Prefix filtering uses the
    // hash-value order the sorted `sh` arrays already carry — any
    // global total order is exact for prefix filtering; rarity order
    // only improves candidate ECONOMY, which a broadcast-scale
    // survivor frame doesn't need. Gate = documents FILE statistics
    // (no job). At scale every one of those four omissions flips:
    // the persist stops 5× re-aggregation, rarity order and the
    // candidate distinct bound the verify fan-out of hot shingles,
    // and the width pins stop AQE byte-coalescing from starving the
    // CPU-heavy verify — so the large regime keeps the r10 shape.
    // Two-stage gate (ADVICE r11 — the compressed-bytes stat alone
    // has the compression-ratio blind spot: a duplication-heavy
    // corpus compresses 10-50×, and the small tail's undistinct'd
    // prefix self-join would then chew through tens of actual GB).
    // Stage 1: Catalyst file stats (compressed, no job). Stage 2:
    // ACTUAL pre-compression text bytes from the parquet footers —
    // driver-side metadata only, still no job, so the small path
    // keeps its one-plan property. Unknown footers (non-parquet,
    // too many files) take the safe-at-scale persisted path.
    // lazy: the footer walk only runs once the cheap Catalyst-stats
    // gate has already passed (r15 review: an eager val paid a
    // driver walk of up to 65536 footers at the large-corpus design
    // point for a value the large path never reads)
    lazy val textBytes = graft.sources.ParquetStats
      .uncompressedColumnBytes(spark, s"$dir/documents.parquet", "text")
    val smallCorpus = Tables(spark, dir, "documents")
      .queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue)).toLong <= smallMaxBytes &&
      textBytes.exists(_ <= smallMaxTextBytes)
    // r15 (DriveCleanBcastAb, interleaved min-of-7 at 10×): the tail
    // joins left to AQE's runtime broadcast conversion cost a stage
    // boundary + driver replan EACH (the r12 wave ledger's 1.35 s of
    // between-stage gap on 1.07 s of job time); explicit broadcast()
    // hints let the static planner emit the broadcast joins directly
    // — 1.28 → 0.92 s, identical rows. The hints are stats-gated
    // twice over (H13): they apply only under a text-bytes bound an
    // order below the driver's broadcast capacity, because a forced
    // hint bypasses Spark's size threshold and the prefix/verify
    // frames carry the survivors' shingle arrays (~text-sized).
    // Between this bound and smallMaxTextBytes the AQE-decided small
    // path keeps running; above that, the persisted width-pinned
    // shape.
    lazy val bcastSmall = textBytes.exists(_ <= (1L << 30))
    def hintIf(d: DataFrame): DataFrame = if (bcastSmall) broadcast(d) else d
    if (smallCorpus) {
      // r12 probe, kept as a negative result (DriveCleanAb at 10×,
      // interleaved min-of-7): replacing the prefix candidates + two
      // array-verify joins with ONE full-shingle self-join + pair-
      // count aggregation (|a∩b| = shared-hash count since `sh` is a
      // distinct set; identical 3109-row output) cut three AQE query
      // stages — the wave ledger shows 1.35 s of between-stage driver
      // replan gap on 1.07 s of job time — but measured WORSE, 3.05 s
      // vs 2.10 s: the full explode probes ~25× the prefix join's
      // pair-occurrence volume (every shared shingle of every
      // overlapping pair reaches the pair-key exchange), and that
      // shuffle+agg volume costs more than the stages save. The
      // prefix slice IS the economy even at broadcast scale.
      val t = nearDupThreshold
      val prefix = canonicalPlan.filter(size(col("sh")) > 0)
        .select(col("doc_id"), explode(slice(col("sh"), lit(1),
          greatest(lit(1),
            (size(col("sh")) - ceil(size(col("sh")) * t) + 1).cast("int"))))
          .as("shingle"))
      val cands = prefix.select(col("doc_id").as("doc_id_a"), col("shingle"))
        .join(hintIf(
          prefix.select(col("doc_id").as("doc_id_b"), col("shingle"))),
          Seq("shingle"))
        .filter(col("doc_id_a") < col("doc_id_b"))
        .select(col("doc_id_a"), col("doc_id_b"))
      val sa = canonicalPlan.select(col("doc_id").as("doc_id_a"),
        col("sh").as("sh_a"))
      val sb = canonicalPlan.select(col("doc_id").as("doc_id_b"),
        col("sh").as("sh_b"))
      val dupIds = cands.join(hintIf(sa), Seq("doc_id_a"))
        .join(hintIf(sb), Seq("doc_id_b"))
        .withColumn("inter", graft.functions.GraftFunctions
          .sortedIntersectSize(col("sh_a"), col("sh_b")).cast("double"))
        .withColumn("jaccard", col("inter") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
        .filter(col("jaccard") >= t)
        .select(col("doc_id_b").as("doc_id"))
      return canonicalPlan.join(hintIf(dupIds), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("pred_lang"), col("quality"),
          col("n_tokens"))
    }

    // Feeds the anti-join's kept side and every branch of the
    // AllPairs pipeline — without this persist the regex gates and
    // the dedup aggregation re-execute per branch, and the
    // composite ran 3× its most expensive component. Released
    // after the consuming action.
    val canonical = canonicalPlan
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Near-dup removal: pairs over the gated, exact-deduped survivors
    // ONLY (cheapest, and the semantics a corpus build wants — at
    // scale the gates drop a large fraction of the corpus, and
    // shingling what you already discarded is wasted shuffle); drop
    // the higher id of every Jaccard pair.
    // No distinct on the dup-id stream: a LEFT ANTI join is
    // duplicate-insensitive on its right side, and the distinct cost
    // a full exchange+aggregate stage of its own (isolated 10×
    // best-of-2: 2.15 s with it, 1.84 s without). The pair stream
    // stays bounded by the verified near-dup pairs even on the
    // duplication-heavy 10× probe, so the anti join's build side
    // never outgrows what the distinct would have fed it anyway.
    val dupIds = Dedup.ngramJaccardOfHashed(
        canonical.select(col("doc_id"), col("sh")), nearDupThreshold)
      .select(col("doc_id_b").as("doc_id"))
    // After ngramJaccardOfHashed's eager sketch job (which consumes
    // the canonical cache) — see the ordering note in ngramJaccardOf.
    graft.CacheHygiene.unpersistAfterUse(canonical)
    canonical.join(dupIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("pred_lang"), col("quality"),
        col("n_tokens"))
  }

  /** Deterministic, reproducible train/valid/test assignment — the
    * split a training pipeline must be able to recompute bit-for-bit
    * months later. Bucket = first 8 md5 hex chars of the doc id mod
    * 100 (portable across engines, unlike engine-native hash
    * functions); 80/10/10. Pure map — no shuffle, no state, identical
    * on any cluster size.
    */
  /** C11/C40/C40b's deterministic split draw, ONE definition on both
    * sides (a ratio or hash change must move every split surface in
    * lockstep): bucket = first 8 md5 hex chars of the key's decimal
    * string mod 100; 80/10/10 by bucket range. */
  private def md5Bucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long") % 100
  private def splitOfBucket(b: Column): Column =
    when(b < 80, "train").when(b < 90, "valid").otherwise("test")
  private[operators] def md5BucketSql(expr: String): String =
    s"('0x' || substr(md5(CAST($expr AS VARCHAR)), 1, 8))::BIGINT % 100"
  private[operators] def splitCaseSql(b: String): String =
    s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'valid' " +
      "ELSE 'test' END"

  def deterministicSplit(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5Bucket(col("doc_id")).as("bucket"))
      .select(col("doc_id"), col("source"),
        splitOfBucket(col("bucket")).as("split"))

  /** C40: leakage-safe split — C11's deterministic 80/10/10 split,
    * but the hash is keyed on the C9 near-dup CLUSTER id, so a whole
    * duplicate class lands in one split atomically. C11 hashes raw
    * doc_ids, which routes near-identical documents independently —
    * at 80/10/10 odds, a fifth of every duplicate class's mass
    * crosses the train/eval boundary and the held-out loss is
    * contaminated by memorization. Keying on the transitive-closure
    * label is the standard fix (the same reason C13/C35 decontam
    * screens exist): no near-dup pair can ever straddle splits,
    * because both members carry the same cluster_id by construction.
    *
    * Scale shape: C9's labeling (bucketed candidates, union-find ≤
    * maxDriverEdges with a distributed label-propagation fallback) +
    * one doc_id equi-join to re-attach `source` + a codegen'd
    * md5-bucket map — no new shuffle class beyond C9 itself, and the
    * split assignment adds zero driver state.
    */
  def leakageSafeSplit(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame =
    leakageSafeSplitOf(Tables(spark, dir, "documents"), threshold)

  /** [[leakageSafeSplit]] over any (doc_id, source, text) frame —
    * C40b applies the hashed-shingle variant below to slices of its
    * shared frame. */
  def leakageSafeSplitOf(docs: DataFrame,
      threshold: Double = 0.8): DataFrame =
    splitByCluster(Dedup.clusterAssignments(
      docs.select(col("doc_id"), col("source")),
      Dedup.ngramJaccardOf(docs.select(col("doc_id"), col("text")),
          threshold)
        .select(col("doc_id_a"), col("doc_id_b"))))

  /** The cluster-keyed md5 draw over a (doc_id, source, cluster_id)
    * assignment frame — the tail C40 and C40b's existing side share. */
  private def splitByCluster(assigned: DataFrame): DataFrame =
    assigned
      .select(col("doc_id"), col("source"), col("cluster_id"),
        md5Bucket(col("cluster_id")).as("bucket"))
      .select(col("doc_id"), col("source"), col("cluster_id"),
        splitOfBucket(col("bucket")).as("split"))

  /** C40b: split assignment for NEWLY-ARRIVING documents, consistent
    * with an existing corpus's leakage-safe split — the incremental
    * half of C40 (a production corpus is split once; every later
    * crawl batch must join it without re-splitting the world or
    * breaking the no-near-dup-across-splits invariant). Per
    * intra-batch near-dup cluster of the new docs:
    *
    *   - matches exactly one existing split's documents (at C3's
    *     τ=0.8 shingle-Jaccard) → INHERIT that split (the new copy
    *     of a train-side near-dup class must not land in eval);
    *   - matches documents in ≥2 different splits → `quarantine`:
    *     the cluster BRIDGES existing splits, and admitting it to
    *     either side would create a cross-split near-dup pair
    *     (the C40 invariant) — exclusion is the only safe routing;
    *   - matches nothing → C40's md5-bucket hash of its own cluster
    *     id, the same 80/10/10 draw the existing corpus used.
    *
    * New docs are clustered among THEMSELVES first (two new mutual
    * near-dups must share a fate even when only one of them matches
    * the old corpus), and the inherited/quarantine decision is taken
    * per cluster, not per doc.
    *
    * The new batch is C35's deterministic id-slice (doc_id % newMod
    * = 0) so both engines see identical corpora; in production it is
    * a crawl batch — MBs against a 100 TB corpus, which is the
    * asymmetry the plan exploits: ONE shared tokenize+shingle pass
    * (persisted size-gated, C35's discipline) feeds the cross-match
    * (C35's machinery verbatim: index the SMALL new batch on the
    * driver, stream the big corpus ONCE map-side — zero shuffles,
    * exact Jaccard; LSH fallback above the driver bound), the
    * intra-batch clustering (batch slice only), and the existing
    * split's own C9 labeling (in production: a stored artifact read
    * back, not recomputed — C32b's winnow screen is the
    * still-cheaper variant when even one corpus pass per batch is
    * too much, at the cost of fingerprint- rather than τ-exact
    * matching).
    */
  def splitAssignNew(spark: SparkSession, dir: String,
      threshold: Double = 0.8, newMod: Int = 20,
      maxPersistBytes: Long = 8L * 1024 * 1024 * 1024): DataFrame = {
    val isNew = col("doc_id") % newMod === 0
    // ONE tokenize+shingle pass feeds all three consumers (existing
    // clusters, intra-batch clusters, cross-match) — persisted
    // size-gated on file statistics, C35's discipline; over the
    // bound the frame recomputes per consumer rather than spilling
    // a corpus-scale cache.
    val docs = Tables(spark, dir, "documents")
    val raw = docs.select(col("doc_id"), col("source"),
      Dedup.shingleHashColumn(col("text")).as("sh"))
    val corpusBytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue)).toLong
    val base = if (corpusBytes <= maxPersistBytes)
      raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else raw
    def clustersOf(slice: DataFrame) = Dedup.clusterAssignments(
      slice.select(col("doc_id"), col("source")),
      Dedup.ngramJaccardOfHashed(slice.select(col("doc_id"), col("sh")),
          threshold)
        .select(col("doc_id_a"), col("doc_id_b")))
    val existingSplit = splitByCluster(clustersOf(base.filter(!isNew)))
    val newClusters = clustersOf(base.filter(isNew))
    // (existing doc, new doc) pairs at τ — C35 with the new batch as
    // the indexed "benchmark" side, fed the shared frame
    val matches = Dedup.fuzzyDecontamOf(spark, base, isNew,
        benchBytesEst = corpusBytes / newMod.toLong.max(1L),
        threshold = threshold)
      .select(col("bench_id").as("new_doc_id"),
        col("doc_id").as("old_doc_id"))
    val touched = matches
      .join(existingSplit.select(col("doc_id").as("old_doc_id"),
        col("split").as("old_split")), Seq("old_doc_id"))
      .join(newClusters.select(col("doc_id").as("new_doc_id"),
        col("cluster_id")), Seq("new_doc_id"))
      .groupBy(col("cluster_id"))
      .agg(countDistinct(col("old_split")).as("n_splits"),
        min(col("old_split")).as("inherited"))
    newClusters.join(touched, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("source"), col("cluster_id"),
        col("n_splits"), col("inherited"),
        md5Bucket(col("cluster_id")).as("bucket"))
      .select(col("doc_id"), col("source"), col("cluster_id"),
        when(col("n_splits") >= 2, "quarantine")
          .when(col("n_splits") === 1, col("inherited"))
          .otherwise(splitOfBucket(col("bucket"))).as("split"))
  }

  /** C41: split-leakage audit — score ANY (doc_id, split) assignment
    * against the verified near-dup pair set: every pair whose
    * members landed in different splits is train/eval leakage
    * (memorized near-copies of eval text in train, and vice versa).
    * Output is the pair count per unordered split pair
    * (least/greatest canonicalization merges (train,test) with
    * (test,train)); off-diagonal rows ARE the leak. The audit a
    * corpus team runs on a legacy doc_id-hash split before trusting
    * its held-out numbers — and the invariant check C40's
    * cluster-keyed split passes by construction (spec-pinned zero).
    *
    * Scale: the pair set is C3's (bucketed AllPairs, never O(n²));
    * the two split attaches are doc_id equi-joins against a
    * pair-sized frame; the final aggregation has ≤ 6 groups.
    */
  def splitLeakageAuditOf(pairs: DataFrame, split: DataFrame): DataFrame =
    pairs
      .select(col("doc_id_a"), col("doc_id_b"))
      .join(split.select(col("doc_id").as("doc_id_a"),
        col("split").as("split_a")), Seq("doc_id_a"))
      .join(split.select(col("doc_id").as("doc_id_b"),
        col("split").as("split_b")), Seq("doc_id_b"))
      .select(least(col("split_a"), col("split_b")).as("split_lo"),
        greatest(col("split_a"), col("split_b")).as("split_hi"))
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaked", col("split_lo") =!= col("split_hi"))

  /** [[splitLeakageAuditOf]] applied to C11's doc_id-hash split —
    * the pre-C40 practice, audited: its off-diagonal rows measure
    * exactly the leak the cluster-keyed split closes. */
  def splitLeakageAudit(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame =
    splitLeakageAuditOf(
      Dedup.ngramJaccard(spark, dir, threshold),
      deterministicSplit(spark, dir).select(col("doc_id"), col("split")))

  /** C40c: persist the split-serving artifact pair — `{name}_split`
    * (the C40 leakage-safe assignment of the corpus) next to a C32b
    * winnow fingerprint index of the same corpus — so later batches
    * route through [[splitAssignServed]] WITHOUT any corpus pass at
    * all (C40b's τ-exact screen re-reads the corpus once per batch;
    * this is the trade the scaladoc there names: fingerprint-grade
    * matching for zero corpus reads at serve time). */
  def buildSplitArtifact(db: graft.catalog.GraftDatabase, name: String,
      dir: String, threshold: Double = 0.8, k: Int = 4, w: Int = 4,
      maxOcc: Int = 1000): Unit = {
    Dedup.buildWinnowIndex(db,
      Tables(db.spark, dir, "documents").select(col("doc_id"), col("text")),
      name, k, w, maxOcc)
    db.write(leakageSafeSplit(db.spark, dir, threshold), s"${name}_split",
      org.apache.spark.sql.SaveMode.Overwrite)
  }

  /** C40c: serve split assignment for a new (doc_id, text) batch from
    * the stored artifacts — C40b's decision table, fingerprint-grade
    * and PER-DOC: a new doc whose winnow screen touches exactly one
    * existing split inherits it, one touching ≥2 splits quarantines
    * (it bridges), one touching none takes the C11 md5 draw on its
    * own doc_id. Deltas vs C40b, both declared: matching is the C32b
    * winnow guarantee (shared ≥ w+k−1 token run), not τ-exact
    * Jaccard, and the decision is per doc — intra-batch near-dup
    * structure is the BATCH path's job (a serving screen cannot hold
    * cross-row candidate state; the same boundary G6 draws for
    * streaming near-dedup).
    *
    * Scale shape: fingerprinting is one stateless native pass over
    * the batch; candidates come from a fingerprint-index join priced
    * by matches; the split attach joins the batch-sized candidate
    * set; NOTHING reads the corpus. `explode_outer` keeps docs too
    * short to fingerprint (< w+k−1 tokens) in the decision flow —
    * they match nothing and take the hash draw.
    */
  def splitAssignServed(db: graft.catalog.GraftDatabase, name: String,
      newDocs: DataFrame, minShared: Int = 1): DataFrame =
    splitAssignRows(db, name, newDocs, minShared, carry = Nil)

  /** C40c served split assignment of the C35 batch slice
    * (doc_id % newMod = 0) from stored artifacts built over the
    * REMAINING corpus — the (corpus, batch) split
    * [[splitAssignNew]] uses, served instead of recomputed.
    *
    * The declared row (r16, VERDICT #4): the artifact pair is a
    * served artifact ([[graft.catalog.ServedArtifact]]) keyed on the
    * corpus dir AND `newMod` — each remainder gets its own artifact —
    * so the TIMED row is the production serve shape: zero corpus
    * reads, fingerprint-index join priced by matches.
    * `pipeline_split_assign_new` stays the build-cost row (the full
    * inline composition), mirroring the r7 text-index build/serve
    * split.
    */
  def splitAssignServedForDir(spark: SparkSession, dir: String,
      newMod: Int = 20): DataFrame = {
    val isNew = col("doc_id") % newMod === 0
    val name = "corpus"
    val db = graft.catalog.ServedArtifact.db(spark, "splitart", dir,
      Seq(s"$dir/documents.parquet"), keyExtra = s"newMod=$newMod") { d =>
      val old = Tables(spark, dir, "documents").filter(!isNew)
      Dedup.buildWinnowIndex(d, old.select(col("doc_id"), col("text")), name)
      d.write(leakageSafeSplitOf(old), s"${name}_split",
        org.apache.spark.sql.SaveMode.Overwrite)
    }
    splitAssignServed(db, name, Tables(spark, dir, "documents")
      .filter(isNew).select(col("doc_id"), col("text")))
  }

  /** Shared row-shape core of [[splitAssignServed]] and the G23
    * streaming twin (`StreamingDedup.splitAssignStream`) — `carry`
    * threads the stream's `ts` through, G15's pattern. */
  private[graft] def splitAssignRows(db: graft.catalog.GraftDatabase,
      name: String, rows: DataFrame, minShared: Int,
      carry: Seq[String]): DataFrame = {
    val meta = db.read(s"${name}_meta").collect()(0)
    val (k, w, portable) = (meta.getAs[Int]("k"), meta.getAs[Int]("w"),
      meta.getAs[Boolean]("portable"))
    val keep = (carry :+ "doc_id").map(col)
    val fp = rows.select(keep :+
        explode_outer(Dedup.winnowFingerprintsCol(col("text"), k, w,
          portable)).as("fp"): _*)
      .select(keep :+ col("fp.h").as("h"): _*)
      .dropDuplicates(carry ++ Seq("doc_id", "h"))
    val idx = db.read(s"${name}_fp")
      .select(col("h"), col("doc_id").as("index_doc_id"))
    val splits = db.read(s"${name}_split")
      .select(col("doc_id").as("index_doc_id"),
        col("split").as("old_split"))
    // left outer keeps unmatched (and fingerprint-less) docs in the
    // decision flow. An under-threshold pair is NULLED, not filtered:
    // dropping the row would lose a doc whose every fingerprint
    // matched but no pair cleared minShared — every doc must keep
    // ≥1 row into the decision aggregate.
    val pairs = fp.join(idx, Seq("h"), "left_outer")
      .groupBy(keep :+ col("index_doc_id"): _*)
      .agg(count(col("index_doc_id")).as("n_shared"))
      .withColumn("index_doc_id",
        when(col("n_shared") >= minShared, col("index_doc_id")))
      .join(splits, Seq("index_doc_id"), "left_outer")
    // size(collect_set(..)) not countDistinct: same exact arithmetic
    // (nulls ignored; the split alphabet bounds the set at 3), but
    // legal inside a streaming aggregation, so batch and G23 share
    // this one definition
    pairs
      .groupBy(keep: _*)
      .agg(size(collect_set(col("old_split"))).as("n_splits"),
        min(col("old_split")).as("inherited"))
      .select(keep ++ Seq(
        when(col("n_splits") >= 2, "quarantine")
          .when(col("n_splits") === 1, col("inherited"))
          .otherwise(splitOfBucket(md5Bucket(col("doc_id"))))
          .as("split")): _*)
  }

  /** Sequence packing: assign documents to contiguous token-budget
    * bins per source — the batching step before training. Cumulative
    * token count over a (source, doc_id) total order, bin = the
    * budget window the document's end offset lands in. All-integer
    * arithmetic, so cross-engine exact.
    *
    * Scale shape (r11): `sum(…) OVER (PARTITION BY source ORDER BY
    * doc_id)` folds each source's ENTIRE stream on one task —
    * parallelism = n_sources, and a real pretraining corpus has few,
    * huge sources. The cumulative sum is instead
    * [[Ranks.keyedPrefixSum]]: range-within-source sharding on
    * doc_id windows ([[docIdShard]] — bounds from parquet footer
    * stats, NO pre-pass job; scan-agg fallback), per-(source, shard)
    * partial sums, broadcast offsets, map-side add. A source holding 90% of the corpus spreads over
    * ~90% of the shards; sums are bit-identical to the window form
    * (spec-pinned, and the oracle hash is unchanged).
    */
  def packSequences(spark: SparkSession, dir: String,
      budget: Int = 4096): DataFrame = {
    val base = Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        wsTokenCount(col("text")).as("n_tokens"))
    Ranks.keyedPrefixSum(base, Seq("source"), Seq(col("doc_id").asc),
        "n_tokens", docIdShard(spark, dir, base), "cum_tokens")
      .withColumn("bin", expr(s"(cum_tokens - 1) div $budget"))
  }

  /** The doc_id window shard for the packing prefix sums: exact
    * [lo, hi] bounds read from the documents table's parquet FOOTER
    * statistics (driver-side, no job — r12, cutting the full-column
    * min/max scan job [[Ranks.idRangeShard]] pays from C12/C12b's
    * wave ledger), falling back to the scan-agg form when any footer
    * lacks stats. Either bound source yields a monotone equal-width
    * shard, and [[Ranks.keyedPrefixSum]] is bit-exact under any
    * monotone shard — the footer path changes job count, never sums.
    */
  private def docIdShard(spark: SparkSession, dir: String,
      base: DataFrame): Column = {
    val nSh = 2 * spark.sparkContext.defaultParallelism
    graft.sources.ParquetStats
      .longColumnRange(spark, s"$dir/documents.parquet", "doc_id") match {
      case Some((lo, hi)) =>
        Ranks.idRangeShardFromBounds("doc_id", lo, hi, nSh)
      case None => Ranks.idRangeShard(base, "doc_id", nSh)
    }
  }

  /** C12b: materialized packed sequences — the C12 bin assignment
    * turned into the actual training rows: one row per (source, bin)
    * with the member documents concatenated in doc_id order (the
    * separator stands in for an EOS token; swapping in a real special
    * token is a literal change). This is the last batch step before a
    * shard write: `exportShuffled(packed)` streams straight to the
    * trainer.
    *
    * Scale shape (r10→r11): the text rides THROUGH the prefix-sum
    * exchange instead of being equi-joined back on doc_id afterwards
    * (the join paid a second corpus-scale exchange of the text plus
    * one of the window output; kept in git history as the negative).
    * r11 swaps the per-source window for [[Ranks.keyedPrefixSum]]
    * (see [[packSequences]] — the window serialized each source on
    * one task), which costs one more (source, bin) hash exchange for
    * the aggregation than the window shape did: two corpus-scale
    * exchanges total, each fully parallel — vs one exchange whose
    * reduce side was n_sources tasks. The collect_list still holds
    * ONE bin's documents — bounded by the token budget, never by
    * corpus size, so no group can blow an executor.
    */
  def packConcat(spark: SparkSession, dir: String,
      budget: Int = 4096): DataFrame = {
    val base = Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("text"),
        wsTokenCount(col("text")).as("n_tokens"))
    Ranks.keyedPrefixSum(base, Seq("source"), Seq(col("doc_id").asc),
        "n_tokens", docIdShard(spark, dir, base), "cum_tokens")
      .withColumn("bin", expr(s"(cum_tokens - 1) div $budget"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            s => s.getField("text"))).as("packed_text"))
  }

  /** C12c: token-exact sequence packing WITH document splitting —
    * the layout a GPT-style pretraining run actually consumes: all
    * tokens of a source laid end-to-end in doc_id order and cut into
    * fixed `seqLen`-token sequences, documents SPLIT across sequence
    * boundaries (C12 bins whole documents — a doc longer than the
    * budget overflows its bin; here every sequence is exactly
    * `seqLen` tokens except each source's last). Output: one row per
    * (document, sequence it touches) — `doc_off` = the offset INTO
    * THE DOCUMENT where this span starts (its tokens
    * [doc_off, doc_off + n_toks) land in `seq_id`), `n_toks` =
    * how many of its tokens land there; per (source, seq_id) the
    * n_toks sum to exactly seqLen (last sequence excepted), and per
    * document they tile n_tokens exactly — both spec-pinned.
    *
    * Scale shape: the same [[Ranks.keyedPrefixSum]] cumsum as C12
    * (two jobs over ONE exchange, footer-stats shard), then a pure
    * map-side explode bounded per document by ceil(n_tokens/seqLen)+1
    * rows — output ∝ corpus tokens / seqLen, never quadratic, no
    * further shuffle. All-integer arithmetic, cross-engine exact.
    */
  def packTokenSpans(spark: SparkSession, dir: String,
      seqLen: Int = 2048): DataFrame = {
    val L = seqLen.toLong
    val base = Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        wsTokenCount(col("text")).as("n_tokens"))
    Ranks.keyedPrefixSum(base, Seq("source"), Seq(col("doc_id").asc),
        "n_tokens", docIdShard(spark, dir, base), "cum_tokens")
      .filter(col("n_tokens") > 0)
      .withColumn("start", col("cum_tokens") - col("n_tokens"))
      .withColumn("seq_id",
        explode(sequence(expr(s"start div ${L}L"),
          expr(s"(cum_tokens - 1) div ${L}L"))))
      .select(col("source"), col("doc_id"), col("seq_id"),
        (greatest(col("start"), col("seq_id") * L) - col("start"))
          .as("doc_off"),
        (least(col("cum_tokens"), (col("seq_id") + 1L) * L) -
          greatest(col("start"), col("seq_id") * L)).as("n_toks"))
  }

  /** Deterministic stratified sample: exactly `k` documents per
    * source, chosen by md5-of-id order — uniform within each stratum
    * (the hash is independent of any document property), reproducible
    * bit-for-bit on any cluster size, and portable across engines (no
    * RNG, no engine-native hash). This is the eval-set / ablation
    * draw a corpus build recomputes months later.
    *
    * Scale shape: [[graft.plans.TopKPerGroup]] — per-partition
    * bounded heaps reduce each partition to ≤ k rows per source
    * before the exchange, so only partitions × sources × k rows
    * shuffle, never the corpus. `df.stat.sampleBy` (Bernoulli) can't
    * give exact counts or cross-engine determinism.
    */
  def stratifiedSample(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string")).as("h"))
    graft.plans.TopKPerGroup(docs, k, Seq("source"),
        Seq("h" -> false, "doc_id" -> false))
      .select(col("doc_id"), col("source"))
  }

  /** Global deterministic shuffle order — the whole-corpus random
    * permutation a training run consumes (batch i = rows i·b…(i+1)·b;
    * shard boundaries must not correlate with source, time, or any
    * document property). Position = 1-based rank under
    * (md5(doc_id), doc_id): a cryptographic hash of the id alone, so
    * the permutation is uniform w.r.t. every payload property,
    * bit-reproducible months later on any cluster, and needs no RNG
    * state. The same ordering drives
    * [[graft.catalog.GraftDatabase.exportShuffled]]'s sharded write;
    * this query form pins the arithmetic cross-engine.
    *
    * Scale shape: [[Ranks.hashOrderedRowNumber]] — the leading sort
    * key is md5, a uniform hash, so the partition boundaries are
    * analytic and the range-sampling job (a full extra run of the
    * scan+hash upstream) is dropped; a bare `row_number()` window
    * would funnel 100 TB through one task.
    */
  def shuffleOrder(spark: SparkSession, dir: String): DataFrame =
    shuffleRanked(spark, dir).select(col("doc_id"), col("pos"))

  // C25 and C27 consume ONE global shuffle rank: the manifest is an
  // aggregation OF the shuffle order, so when both run in a session
  // the rank's scan+hash+exchange and its offsets job must be paid
  // once, not per query (r13 VERDICT #7 — the second total-order
  // action was C27's whole constant). The memo holds the ranked
  // frame per corpus; its zipRanked offsets are already folded, and
  // later actions re-read the SAME rdd's shuffle files (stage skip),
  // re-running only the post-shuffle stage. A swapped corpus
  // rebuilds, never serves a stale permutation. n_chars is carried
  // through the exchange (~8 bytes/row) so C27 needs no corpus-scale
  // join back.
  private val shuffleRanks = new graft.catalog.ListingMemo[DataFrame]

  private def shuffleRanked(spark: SparkSession, dir: String): DataFrame =
    shuffleRanks.get(spark, dir, Seq(s"$dir/documents.parquet")) {
      Some(Ranks.hashOrderedRowNumber(
        Tables(spark, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            md5(col("doc_id").cast("string")).as("h")),
        col("h"),
        Seq(col("h").asc, col("doc_id").asc), "pos"))
    }.getOrElse(throw new IllegalStateException(
      s"documents table not listable: $dir"))

  /** C27: training-shard manifest — the release artifact a training
    * run consumes: fixed-size shards cut from the C22 global shuffle
    * order, each with its audit row (doc count, payload bytes, rank
    * range, and min doc_id as a spot-check key). A data release ships
    * this table next to the shards so a consumer can verify
    * completeness (contiguous first_pos/last_pos, Σ n_docs = corpus)
    * without re-reading the data.
    *
    * Scale shape: the rank rides [[Ranks.hashOrderedRowNumber]] with
    * n_chars carried THROUGH the rank shuffle (~8 extra bytes/row)
    * instead of a corpus-scale join back to the table afterwards;
    * the manifest aggregation groups on shard_id — output rows =
    * corpus/shardSize, map-side combinable. Shard id is exact
    * integer floor-division (column `/` is double division — misbins
    * above 2^53).
    */
  def shardManifest(spark: SparkSession, dir: String,
      shardSize: Int = 100): DataFrame = {
    val ranked = shuffleRanked(spark, dir)
    val p0 = col("pos") - 1
    ranked
      .select(col("doc_id"), col("n_chars"), col("pos"),
        call_function("div", p0 - pmod(p0, lit(shardSize.toLong)),
          lit(shardSize.toLong))
          .as("shard_id"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        min(col("pos")).as("first_pos"),
        max(col("pos")).as("last_pos"),
        min(col("doc_id")).as("min_doc_id"))
  }

  /** C40b oracle: two suffixed closures (existing corpus `c`, new
    * batch `n`), the existing split's md5 CASE, the C35 cross-pair
    * join at τ, then the per-new-cluster inherit/quarantine/hash
    * CASE — the operator's decision table verbatim. NULL n_splits
    * (no match) falls through both WHENs to the hash draw, exactly
    * as the Spark `when` chain does. */
  private def assignNewOracle: String = {
    val corpus = "(SELECT * FROM documents WHERE doc_id % 20 <> 0)"
    val newb = "(SELECT * FROM documents WHERE doc_id % 20 = 0)"
    s"""WITH RECURSIVE
       |${Dedup.closureCtes(corpus, "c")},
       |${Dedup.closureCtes(newb, "n")},
       |esplit AS (SELECT a.doc_id,
       |    ${splitCaseSql("a.b")} AS split
       |  FROM (SELECT doc_id,
       |      ${md5BucketSql("cluster_id")} AS b
       |    FROM allcc) a),
       |xt AS (SELECT doc_id, regexp_extract_all(text, '\\S+') w
       |  FROM documents),
       |xsh AS (SELECT doc_id,
       |  list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]) s
       |  FROM xt),
       |xex AS (SELECT doc_id, len(s) sz, unnest(s) shingle FROM xsh),
       |xcand AS (SELECT b.doc_id old_doc_id, a.doc_id new_doc_id,
       |    count(*) inter, any_value(a.sz) sa, any_value(b.sz) sb
       |  FROM xex a JOIN xex b ON a.shingle = b.shingle
       |    AND a.doc_id % 20 = 0 AND b.doc_id % 20 <> 0
       |  GROUP BY 1, 2),
       |xp AS (SELECT old_doc_id, new_doc_id FROM xcand
       |  WHERE CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE) >= 0.8),
       |touched AS (SELECT nc.cluster_id,
       |    COUNT(DISTINCT es.split) AS n_splits, MIN(es.split) AS inherited
       |  FROM xp JOIN esplit es ON xp.old_doc_id = es.doc_id
       |  JOIN allcn nc ON xp.new_doc_id = nc.doc_id
       |  GROUP BY 1)
       |SELECT h.doc_id, d.source, h.cluster_id,
       |  CASE WHEN t.n_splits >= 2 THEN 'quarantine'
       |       WHEN t.n_splits = 1 THEN t.inherited
       |       ELSE ${splitCaseSql("h.hb")} END AS split
       |FROM (SELECT doc_id, cluster_id,
       |    ${md5BucketSql("cluster_id")} AS hb
       |  FROM allcn) h
       |JOIN documents d ON h.doc_id = d.doc_id
       |LEFT JOIN touched t ON h.cluster_id = t.cluster_id""".stripMargin
  }

  /** C40c oracle: the served decision surface recomputed from first
    * principles — winnow fingerprints (k=4, w=4, portable md5-60
    * hash, build-side occurrence cap 1000) of the corpus slice,
    * C40's cluster-keyed split of the same slice, batch fingerprints,
    * then the per-doc inherit/quarantine/draw CASE, mirroring
    * [[splitAssignRows]] exactly (minShared = 1; fingerprint-less
    * docs keep a row via the LEFT JOINs and take the md5 draw).
    */
  private def assignServedOracle: String = {
    val corpus = "(SELECT * FROM documents WHERE doc_id % 20 <> 0)"
    val newb = "(SELECT doc_id FROM documents WHERE doc_id % 20 = 0)"
    s"""WITH RECURSIVE
       |${Dedup.closureCtes(corpus, "c")},
       |esplit AS (SELECT a.doc_id, ${splitCaseSql("a.b")} AS split
       |  FROM (SELECT doc_id, ${md5BucketSql("cluster_id")} AS b
       |    FROM allcc) a),
       |${Dedup.winnowFpCtes(corpus, "c")},
       |${Dedup.winnowFpCtes("(SELECT * FROM documents WHERE doc_id % 20 = 0)", "n")},
       |cocc AS (SELECT h FROM cfp GROUP BY h HAVING COUNT(*) <= 1000),
       |idx AS (SELECT f.doc_id, f.h FROM cfp f JOIN cocc USING (h)),
       |pr AS (SELECT n.doc_id, i.doc_id AS old_doc_id,
       |    COUNT(i.doc_id) AS n_shared
       |  FROM nfp n LEFT JOIN idx i USING (h) GROUP BY 1, 2),
       |att AS (SELECT pr.doc_id, es.split AS old_split
       |  FROM pr LEFT JOIN esplit es
       |    ON pr.n_shared >= 1 AND pr.old_doc_id = es.doc_id),
       |dec AS (SELECT doc_id, COUNT(DISTINCT old_split) AS n_splits,
       |    MIN(old_split) AS inherited
       |  FROM att GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN dec.n_splits >= 2 THEN 'quarantine'
       |       WHEN dec.n_splits = 1 THEN dec.inherited
       |       ELSE ${splitCaseSql(s"(${md5BucketSql("d.doc_id")})")}
       |  END AS split
       |FROM $newb d
       |LEFT JOIN dec ON d.doc_id = dec.doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "pipeline_split_assign_served" -> assignServedOracle,
    "pipeline_shard_manifest" ->
      """WITH r AS (SELECT doc_id, n_chars, ROW_NUMBER() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
        |  FROM documents)
        |SELECT CAST((pos - 1) // 100 AS BIGINT) AS shard_id,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  MIN(pos) AS first_pos, MAX(pos) AS last_pos,
        |  MIN(doc_id) AS min_doc_id
        |FROM r GROUP BY 1""".stripMargin,
    "pipeline_shuffle" ->
      """SELECT doc_id, ROW_NUMBER() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
        |FROM documents""".stripMargin,
    "pipeline_sample_stratified" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t WHERE rn <= 10""".stripMargin,
    "pipeline_split" ->
      s"""SELECT doc_id, source,
        |  ${splitCaseSql("b")} AS split
        |FROM (SELECT doc_id, source,
        |  ${md5BucketSql("doc_id")} AS b
        |  FROM documents) t""".stripMargin,
    "pipeline_split_leakage_safe" ->
      s"""${Dedup.clustersCte}
         |SELECT a.doc_id, d.source, a.cluster_id,
         |  ${splitCaseSql("a.b")} AS split
         |FROM (SELECT doc_id, cluster_id,
         |    ${md5BucketSql("cluster_id")} AS b
         |  FROM allc) a JOIN documents d ON a.doc_id = d.doc_id""".stripMargin,
    "pipeline_split_assign_new" -> assignNewOracle,
    "curate_split_leakage" ->
      s"""WITH sp AS (SELECT doc_id, ${splitCaseSql("b")} AS split
         |  FROM (SELECT doc_id, ${md5BucketSql("doc_id")} AS b
         |    FROM documents) t0),
         |pr AS (SELECT doc_id_a, doc_id_b FROM (
         |${Dedup.jaccardOracle}
         |) jp),
         |lab AS (SELECT LEAST(a.split, b.split) AS split_lo,
         |    GREATEST(a.split, b.split) AS split_hi
         |  FROM pr JOIN sp a ON pr.doc_id_a = a.doc_id
         |  JOIN sp b ON pr.doc_id_b = b.doc_id)
         |SELECT split_lo, split_hi, COUNT(*) AS n_pairs,
         |  split_lo <> split_hi AS leaked
         |FROM lab GROUP BY 1, 2""".stripMargin,
    "pipeline_pack" ->
      """WITH t AS (SELECT source, doc_id,
        |    len(regexp_extract_all(text, '\S+')) AS n_tokens FROM documents),
        |c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source
        |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT source, doc_id, n_tokens, cum_tokens,
        |  (cum_tokens - 1) // 4096 AS bin FROM c""".stripMargin,
    "pipeline_pack_concat" ->
      """WITH t AS (SELECT source, doc_id,
        |    len(regexp_extract_all(text, '\S+')) AS n_tokens FROM documents),
        |c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source
        |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM t),
        |b AS (SELECT source, doc_id, n_tokens,
        |    (cum_tokens - 1) // 4096 AS bin FROM c)
        |SELECT b.source, b.bin, COUNT(*) AS n_docs,
        |  CAST(SUM(b.n_tokens) AS BIGINT) AS bin_tokens,
        |  array_to_string(list(d.text ORDER BY b.doc_id), ' ') AS packed_text
        |FROM b JOIN documents d USING (doc_id)
        |GROUP BY b.source, b.bin""".stripMargin,
    "pipeline_pack_split" ->
      """WITH t AS (SELECT source, doc_id,
        |    len(regexp_extract_all(text, '\S+')) AS n_tokens FROM documents),
        |c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source
        |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM t),
        |s AS (SELECT source, doc_id, n_tokens, cum_tokens,
        |    cum_tokens - n_tokens AS start FROM c WHERE n_tokens > 0)
        |SELECT source, doc_id, u.seq_id,
        |  GREATEST(start, u.seq_id * 2048) - start AS doc_off,
        |  LEAST(cum_tokens, (u.seq_id + 1) * 2048)
        |    - GREATEST(start, u.seq_id * 2048) AS n_toks
        |FROM s, LATERAL unnest(generate_series(start // 2048,
        |  (cum_tokens - 1) // 2048)) AS u(seq_id)""".stripMargin,
    "pipeline_clean_corpus" ->
      """WITH scored AS (SELECT doc_id, text,
        |  LEAST(1.0, CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 50.0) * 0.4
        |  + LEAST(1.0, (CAST(len(regexp_extract_all(text, '\b(the|and|of|to|is|in|it|a)\b')) AS DOUBLE)
        |      / CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)) * 8.0) * 0.4
        |  + (1.0 - LEAST(1.0, (CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE)) * 10.0)) * 0.2 AS quality,
        |  len(regexp_extract_all(text, '\b(the|and|of|to|is|in|it|a)\b')) AS c_en,
        |  len(regexp_extract_all(text, '\b(der|die|und|das|ist|ein|zu)\b')) AS c_de,
        |  len(regexp_extract_all(text, '\b(el|los|las|una|es|y|que)\b')) AS c_es,
        |  len(regexp_extract_all(text, '\b(le|les|et|est|une|dans|que)\b')) AS c_fr
        |  FROM documents),
        |langed AS (SELECT *,
        |  CASE WHEN c_en=0 AND c_de=0 AND c_es=0 AND c_fr=0 THEN 'und'
        |       WHEN c_en >= GREATEST(c_de, c_es, c_fr) AND c_en > 0 THEN 'en'
        |       WHEN c_de >= GREATEST(c_es, c_fr) AND c_de > 0 THEN 'de'
        |       WHEN c_es >= c_fr AND c_es > 0 THEN 'es'
        |       WHEN c_fr > 0 THEN 'fr'
        |       ELSE 'und' END AS pred_lang
        |  FROM scored),
        |gated AS (SELECT * FROM langed
        |  WHERE quality >= 0.7 AND pred_lang = 'en'),
        |canon AS (SELECT *,
        |  MIN(doc_id) OVER (PARTITION BY
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS keep_id
        |  FROM gated),
        |kept AS (SELECT * FROM canon WHERE doc_id = keep_id),
        |t AS (SELECT doc_id, regexp_extract_all(text, '\S+') w FROM kept),
        |sh AS (SELECT doc_id,
        |  list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]) s
        |  FROM t),
        |ex AS (SELECT doc_id, len(s) sz, unnest(s) shingle FROM sh),
        |cand AS (SELECT a.doc_id da, b.doc_id db_, count(*) inter,
        |    any_value(a.sz) sa, any_value(b.sz) sb
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dups AS (SELECT DISTINCT db_ AS doc_id FROM cand
        |  WHERE CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE) >= 0.8)
        |SELECT k.doc_id, k.pred_lang, k.quality,
        |  len(regexp_extract_all(k.text, '\S+')) AS n_tokens
        |FROM kept k
        |WHERE NOT EXISTS (SELECT 1 FROM dups d WHERE d.doc_id = k.doc_id)""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_clean_corpus" -> ((s, d) => cleanCorpus(s, d)),
    "pipeline_split" -> (deterministicSplit _),
    "pipeline_split_leakage_safe" -> ((s, d) => leakageSafeSplit(s, d)),
    "pipeline_split_assign_new" -> ((s, d) => splitAssignNew(s, d)),
    "pipeline_split_assign_served" ->
      ((s, d) => splitAssignServedForDir(s, d)),
    "curate_split_leakage" -> ((s, d) => splitLeakageAudit(s, d)),
    "pipeline_pack" -> ((s, d) => packSequences(s, d)),
    "pipeline_pack_concat" -> ((s, d) => packConcat(s, d)),
    "pipeline_pack_split" -> ((s, d) => packTokenSpans(s, d)),
    "pipeline_sample_stratified" -> ((s, d) => stratifiedSample(s, d)),
    "pipeline_shuffle" -> (shuffleOrder _),
    "pipeline_shard_manifest" -> ((s, d) => shardManifest(s, d))
  )
}
