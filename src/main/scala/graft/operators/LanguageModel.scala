package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** E19: corpus bigram language model + held-out perplexity scoring —
  * the statistical quality filter a pretraining pipeline runs after
  * the rule-based gates (E2/E10): train an add-k-smoothed bigram LM
  * on one split of the corpus, score the held-out split by
  * bits-per-bigram (cross-entropy; perplexity = 2^bits). Documents
  * whose held-out cross-entropy is far above the corpus's own model
  * are boilerplate, wrong-language, or garbled — the LM-filter signal
  * of the published curation recipes (reference: the engine's quality
  * gates at `__init__.py` score rows only structurally; this is the
  * corpus-statistical extension).
  *
  * Exactness discipline (the repo's fluency/classifier rule —
  * cross-engine hash equality forbids order-dependent double sums):
  * every bigram's log-probability is quantized to integer MILLIBITS
  * (round(-log2(p)·1000)) the moment it's computed from exact integer
  * counts, per-document aggregation is then pure integer arithmetic
  * in any partition order, and the single double division happens
  * once at the end. The only cross-engine float surface is log2 of a
  * bit-identical rational — a libm ulp difference flips a millibit
  * only within ~1e-13 of a rounding boundary.
  *
  * Scale shape: training is one explode → map-side-combined count
  * (bigram-vocabulary-sized output), context counts re-aggregate the
  * MODEL (not the corpus), and scoring is two equi-joins of the
  * exploded held-out side against vocabulary-sized tables — the same
  * join geometry as E5/E10, AQE-sized (broadcast while the model is
  * small, shuffle-hash at web-corpus vocabulary).
  */
object LanguageModel {

  private def toks(c: Column): Column =
    regexp_extract_all(lower(c), lit("\\S+"), lit(0))

  /** Adjacent (w1, w2) pair structs of a token array. */
  private def pairArr(t: Column): Column =
    zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))

  /** Held-out bits-per-bigram under the train split's add-0.5 bigram
    * model. Split: doc_id % holdMod == 0 is scored, the rest train.
    * p(w2|w1) = (c(w1,w2) + 0.5) / (c(w1,·) + 0.5·V), V = train's
    * distinct-token count — unseen contexts degrade to 1/V, so every
    * held-out bigram has a finite score. Documents with <2 tokens
    * have no bigrams and no row, in both engines.
    */
  def perplexity(spark: SparkSession, dir: String,
      holdMod: Int = 5): DataFrame =
    perplexityOf(Tables(spark, dir, "documents"), holdMod)

  /** [[perplexity]] over an arbitrary (doc_id, text) frame.
    * `maxBroadcastModel = 0` forces the join path (the equality
    * spec's lever, and the knob for memory-tight executors).
    */
  def perplexityOf(docs: DataFrame, holdMod: Int = 5,
      maxBroadcastModel: Int = defaultModelCap): DataFrame = {
    val train = docs.filter(col("doc_id") % holdMod =!= 0)
    val held = docs.select(col("doc_id"), col("text"))
      .filter(col("doc_id") % holdMod === 0)
    // Fused gate + build (r10, the E21 treatment): one GramCountsAgg
    // action replaces the explode→groupBy model job AND the
    // take(cap+1) gate — per-partition hash maps, no per-bigram row
    // stream. NULL (over-cap vocabulary) falls through to the
    // distributed join path exactly as the old failed gate did.
    // Same web-scale FILE-stats pre-gate as the trigram path (see
    // perplexityTrigramOf): above the byte threshold the fused gate
    // is skipped outright so the join path's aggregation is the only
    // corpus pass.
    val underGateBytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue)).toLong <= GateMaxBytes
    if (maxBroadcastModel > 0 && underGateBytes) {
      val gf = graft.functions.GraftFunctions
      val gateRow: Seq[org.apache.spark.sql.Row] =
        train.agg(gf.gramCountsAgg(lower(col("text")), 2, 2,
          maxBroadcastModel).as("m")).head().getSeq(0)
      if (gateRow != null) {
        val (m, vs) = foldModelGrams(gateRow)
        val bc = docs.sparkSession.sparkContext.broadcast(m)
        return scoreBroadcast(held, bc, vs)
      }
    }
    val (c2, c1, v) = model(train)
    scoreAgainst(c2, c1, v, held, 0)
  }

  /** [[foldModelRows]] over GramCountsAgg ("w1 w2", tf) entries —
    * same map, same context-total fold, same vocabulary derivation
    * (tokens contain no whitespace, so the single space splits the
    * bigram unambiguously). */
  private def foldModelGrams(rows: Seq[org.apache.spark.sql.Row])
      : (java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
          java.lang.Long], Long) = {
    val u8 = org.apache.spark.unsafe.types.UTF8String.fromString _
    val m = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, java.lang.Long](
      math.max(16, rows.length * 3))
    val vocab = new java.util.HashSet[String](rows.length * 2)
    rows.foreach { r =>
      val g = r.getString(0)
      val c = r.getLong(1)
      val sp = g.indexOf(' ')
      val w1 = g.substring(0, sp)
      m.put(u8(g), java.lang.Long.valueOf(c))
      val k1 = u8(w1)
      val prev = m.get(k1)
      m.put(k1, java.lang.Long.valueOf(
        (if (prev == null) 0L else prev.longValue()) + c))
      vocab.add(w1); vocab.add(g.substring(sp + 1)); ()
    }
    (m, vocab.size.toLong)
  }

  private val defaultModelCap = 262144

  /** E21's broadcast-model cap. r10: the gate is FUSED into the
    * model build — GramCountsAgg counts all 1..3-grams into
    * per-partition hash maps and poisons itself past the cap, so a
    * passed gate IS the model (no persist, no take, no second job)
    * and a failed gate costs one bounded pass before the distributed
    * join path builds its own tables. (History: r7 measured the
    * standalone take() gate at 2.95 s cold and turned it off; r8
    * re-enabled it over a persisted train split when the join plan's
    * mis-estimates cost 6.7 s at 10×; r10 removes the standalone
    * gate job entirely.)
    */
  private val defaultTrigramCap = 262144

  /** File-stats bound (no job) above which the bigram and trigram
    * paths skip the fused broadcast gate and go straight to the join
    * path; see [[perplexityTrigramOf]] for why bytes only bound the
    * wasted gate pass rather than predict the vocabulary.
    */
  private val GateMaxBytes = 8L << 30

  /** Bigram counts, context totals, distinct-token count of a
    * (doc_id, text) train split. The bigram table comes from ONE
    * codegen'd TermCounts byte pass (per-doc distinct bigrams with
    * multiplicities — Σ_occurrences ≡ Σ_distinct tf; r8, the E5/E10
    * treatment: no token-array materialization, no pair-struct
    * explode, and <2-token docs emit nothing so no pre-filter scan).
    * Context totals re-aggregate the vocabulary-sized model table,
    * never the corpus.
    */
  private def model(train: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val gf = graft.functions.GraftFunctions
    val sp = split(col("bg"), " ")
    val c2 = train
      .select(explode(gf.termCounts(lower(col("text")), 2, 2)).as("p"))
      .groupBy(col("p.term").as("bg")).agg(sum(col("p.tf")).as("c2"))
      .select(sp.getItem(0).as("w1"), sp.getItem(1).as("w2"), col("c2"))
    modelFromC2(c2)
  }

  /** Context totals and V derived from an existing bigram-count
    * table — the re-aggregate-the-MODEL half of [[model]], shared by
    * C31's one-pass two-model training. */
  private def modelFromC2(c2: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    // V = distinct train tokens, derived from the MODEL rather than a
    // second corpus-scale explode: every token of a ≥2-token document
    // occurs in some bigram (as w1 unless last, as w2 unless first),
    // and 1-token documents are excluded before the split — so
    // distinct(w1 ∪ w2) IS the train token inventory, at
    // vocabulary-sized cost.
    val v = c2.select(explode(array(col("w1"), col("w2"))).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    (c2, c1, v)
  }

  /** Score a raw (doc_id, text) frame against a model. Stats-gated
    * two-path split (H13's gating idea, the E5/E10 treatment): the
    * bigram table is VOCABULARY-sized — corpus-scale explode in,
    * ~|bigram vocab| rows out — so when `take(cap+1)` proves it fits
    * the driver bound, ONE collect builds the broadcast map (context
    * totals and V derive driver-side from the same rows — zero extra
    * jobs) and every document scores in a single byte pass
    * ([[graft.functions.expressions.LmScore]]): no explode, no model
    * joins, no per-doc aggregation. Above the cap — a web corpus's
    * bigram vocabulary — the distributed join path runs unchanged.
    * The two paths are bit-identical (spec-pinned): LmScore
    * replicates the join path's arithmetic operation for operation.
    */
  private def scoreAgainst(c2: DataFrame, c1: DataFrame, v: DataFrame,
      heldDocs: DataFrame, maxBroadcastModel: Int): DataFrame = {
    if (maxBroadcastModel > 0) {
      val rows = c2.take(maxBroadcastModel + 1)
      if (rows.length <= maxBroadcastModel) {
        val (m, vs) = foldModelRows(rows)
        val bc = heldDocs.sparkSession.sparkContext.broadcast(m)
        return scoreBroadcast(heldDocs, bc, vs)
      }
    }
    val ev = explodedPairs(heldDocs, Nil).crossJoin(broadcast(v))
    scoreRows(ev, c2, c1, col("v"), Seq("doc_id"))
  }

  /** Fold collected (w1, w2, c2) model rows into the LmScore lookup
    * map (bigram counts + context totals in one table) and the
    * distinct-token vocabulary size — the driver half of the
    * broadcast fast path, shared by the inline and served scorers. */
  private def foldModelRows(rows: Array[org.apache.spark.sql.Row])
      : (java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
          java.lang.Long], Long) = {
    val u8 = org.apache.spark.unsafe.types.UTF8String.fromString _
    val m = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, java.lang.Long](
      math.max(16, rows.length * 3))
    val vocab = new java.util.HashSet[String](rows.length * 2)
    rows.foreach { r =>
      val (w1, w2, c) = (r.getString(0), r.getString(1), r.getLong(2))
      m.put(u8(w1 + " " + w2), java.lang.Long.valueOf(c))
      // context totals fold from the SAME collected rows
      val k1 = u8(w1)
      val prev = m.get(k1)
      m.put(k1, java.lang.Long.valueOf(
        (if (prev == null) 0L else prev.longValue()) + c))
      vocab.add(w1); vocab.add(w2); ()
    }
    (m, vocab.size.toLong)
  }

  private def scoreBroadcast(heldDocs: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
          java.lang.Long]],
      vocabSize: Long): DataFrame = {
    val gf = graft.functions.GraftFunctions
    heldDocs
      .select(col("doc_id"),
        gf.lmScore(lower(col("text")), bc, vocabSize).as("s"))
      .filter(col("s").isNotNull)
      .select(col("doc_id"),
        col("s.n_bigrams").as("n_bigrams"),
        col("s.oov").as("oov_bigrams"),
        (col("s.sum_mb").cast("double") /
          (lit(1000.0) * col("s.n_bigrams"))).as("bits_per_bigram"))
  }

  /** Join exploded (…, w1, w2, vExpr) rows against the model and fold
    * to one scored row per `keys` — shared by the batch and streaming
    * paths (the streaming side carries its event-time column through
    * `keys` and embeds V as a literal, since a stream cannot
    * cross-join a one-row static frame).
    */
  private[graft] def scoreRows(ev: DataFrame, c2: DataFrame, c1: DataFrame,
      vExpr: Column, keys: Seq[String]): DataFrame = {
    val p = (coalesce(col("c2"), lit(0L)) + lit(0.5)) /
      (coalesce(col("c1"), lit(0L)).cast("double") + lit(0.5) * vExpr)
    ev.join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .select(keys.map(col) :+
        round(-log2(p) * 1000).cast("long").as("mb") :+
        (coalesce(col("c2"), lit(0L)) === 0).cast("long").as("oov"): _*)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("oov")).as("oov_bigrams"),
        (sum(col("mb")).cast("double") / (lit(1000.0) * count(lit(1))))
          .as("bits_per_bigram"))
  }

  /** Tokenize + pair-explode a (…, doc_id, text) STREAM row set,
    * keeping `carry` columns (event time). */
  private[graft] def explodedPairs(docs: DataFrame,
      carry: Seq[String]): DataFrame =
    docs.select((carry :+ "doc_id").map(col) :+
        explode(pairArr(toks(col("text")))).as("b"): _*)
      .select((carry :+ "doc_id").map(col) :+
        col("b.w1").as("w1") :+ col("b.w2").as("w2"): _*)

  /** C30: curriculum ordering — the whole corpus self-scored under
    * its own bigram model (train = score = all documents; every
    * bigram is observed, so the score is a pure fluency/typicality
    * measure) and ranked easy→hard into `stages` equal rank bands:
    * the deterministic stage schedule a curriculum-training run
    * consumes (stage 0 = most in-distribution text first). Rank ties
    * break on doc_id, so the schedule is an auditable artifact.
    *
    * Scale shape: scoring is E19's geometry; the rank input is the
    * doc-count-sized score frame (NOT the corpus — persisting it
    * before the two-phase rank is bounded by docs × 16 bytes), and
    * stage cut-points are exact integer floor-division of the rank.
    */
  def curriculum(spark: SparkSession, dir: String,
      stages: Int = 4): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    // Serve from the persisted D9 model artifact (VERDICT r7 #3): the
    // inline formulation re-trained the bigram model — a full corpus
    // tokenize+aggregate — on EVERY invocation, which at 100 TB is an
    // extra corpus pass per curriculum run. The corpus model is built
    // once per corpus dir (memoized per JVM, re-attached across
    // processes via the corpus file-listing signature sidecar —
    // ServedArtifact's `artifact_sig`, shared with C31/C36b/B32) and
    // scoring reduces to the
    // stats-gated byte pass + the doc-count-sized rank. Served ≡
    // inline is spec-pinned ([[curriculumInline]]): same train split
    // (= the whole corpus), same deterministic counts, same
    // arithmetic — only WHERE the model lives changes.
    val db = servedCorpusModel(spark, dir)
    // r16 pinned negative: spreading `docs` before scoring (the
    // persist fill runs 0.28 s on ONE task locally) measured WORSE —
    // 0.819 vs 0.670/0.690 s same-suite A/B — because the exchange
    // ships the corpus TEXT, the same text-shuffle loss as the r15
    // ngram-shingle negative. Scoring stays on the raw layout.
    curriculumFrom(perplexityFromModel(db, "corpus", docs), stages)
  }

  /** The inline-retrain formulation — the spec's reference for
    * served ≡ inline (and the form a one-shot caller without a
    * catalog would use).
    */
  private[graft] def curriculumInline(spark: SparkSession, dir: String,
      stages: Int = 4): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val (c2, c1, v) = model(docs)
    curriculumFrom(scoreAgainst(c2, c1, v, docs, defaultModelCap), stages)
  }

  private def curriculumFrom(scoredAll: DataFrame, stages: Int): DataFrame = {
    val scored = scoredAll
      .select(col("doc_id"), col("bits_per_bigram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The rank's own offset job already folds per-partition counts on
    // the driver, so the corpus total is FREE there (r12): the
    // previous count-agg + broadcast + crossJoin wave — one extra job
    // and a join node just to learn one number the rank had computed
    // anyway — collapses into a literal in the stage arithmetic.
    val (ranked, total) = Ranks.globalRowNumberWithTotal(scored,
      Seq(col("bits_per_bigram").asc, col("doc_id").asc), "pos")
    // The rank's offset job has ALREADY consumed `scored` by the time
    // the call returns (an RDD job — no QueryExecution event for a
    // listener to see — and the returned frame is LogicalRDD-backed,
    // so no later SQL plan structurally contains `scored` either:
    // unpersistAfterUse would wait out its 30-min stale retire while
    // the cache stayed pinned). Release synchronously; downstream
    // actions read the rank's shuffle files, and a from-scratch
    // re-execution recomputes — correct, just cold.
    scored.unpersist(false)
    // identical arithmetic to the window form the oracle pins:
    // stage = floor((pos-1) / ceil(total/stages)), exact integer div
    val width = math.max(1L, math.ceil(total.toDouble / stages).toLong)
    ranked.select(col("doc_id"), col("bits_per_bigram"), col("pos"),
      expr(s"(pos - 1) div ${width}L").as("stage"))
  }

  // Corpus-model memo: the D9 artifact is a storage decision, not
  // per-query work — build once per corpus dir into a scratch
  // warehouse; a model from a previous process re-attaches when its
  // sidecar matches the corpus. r9: the
  // staleness signal is the corpus file LISTING (name/len/modtime —
  // an O(files) driver metadata call, no Spark job), not a row
  // count: a same-count content change now invalidates too, and the
  // signature is re-checked on EVERY invocation (the keySet shortcut
  // left a long-lived driver serving a stale model after a corpus
  // swap), at the cost of one FS listing.
  // r13: the memo + sidecar protocol lives in
  // graft.catalog.ServedArtifact (it existed in four verbatim copies
  // across LM/Curation/Analytics; two of its historical bugs had to
  // be fixed in more than one copy).
  private def servedCorpusModel(spark: SparkSession,
      dir: String): graft.catalog.GraftDatabase =
    graft.catalog.ServedArtifact.db(spark, "lmmodel", dir,
      Seq(s"$dir/documents.parquet")) { db =>
      buildLmModel(db,
        Tables(spark, dir, "documents").select(col("doc_id"), col("text")),
        "corpus")
    }

  /** C31: Moore-Lewis cross-entropy-difference selection (Moore &
    * Lewis 2010; the CCNet-style domain filter) — every document
    * scored under TWO bigram models, an in-domain target (here
    * sources src0–src3, standing in for "known-good" text) and the
    * full-corpus background; ml_score = bits_target −
    * bits_background. A document that the target model predicts
    * better than the background model (ml_score < 0) reads like the
    * domain regardless of its own source label — the published
    * recipe for mining domain-relevant text out of a general crawl.
    *
    * Exactness: both bits are E19's millibit-exact ratios, and their
    * difference is one deterministic double subtraction —
    * cross-engine hash-exact. Scale shape: two model trainings
    * (vocabulary-sized outputs), two stats-gated scoring passes over
    * the corpus, one doc-count-sized equi-join.
    *
    * Lifecycle (r9, the E19/D9 shape): the (bg, tgt, c2) table is a
    * MODEL, not per-query work — [[mooreLewis]] builds it once per
    * (corpus dir, target set) into a scratch artifact (re-attached
    * across processes via ServedArtifact's `artifact_sig` file-listing
    * staleness signature — a doc-count probe was replaced in r9 because a
    * same-count content swap defeats it) and serves every
    * invocation from it; repeat serves under an unchanged artifact
    * reuse the memoized broadcast pair, so scoring a crawl increment
    * never re-aggregates the corpus. Served ≡ inline is spec-pinned
    * ([[mooreLewisInline]] is the one-shot formulation — same
    * aggregation, same fold, same arithmetic; only WHERE the counts
    * live changes).
    */
  def mooreLewis(spark: SparkSession, dir: String,
      maxBroadcastModel: Int = defaultModelCap): DataFrame = {
    val ids = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    mooreLewisFromModel(servedMlDb(spark, dir, defaultTargetSrcs), "ml",
      ids, maxBroadcastModel)
  }

  /** The reference default in-domain set (src0–src3 stand in for
    * "known-good" text in the synthetic corpus). */
  private[graft] val defaultTargetSrcs: Seq[String] = (0 to 3).map("src" + _)

  /** The inline one-shot formulation — re-aggregates per invocation;
    * the spec's reference for served ≡ inline. */
  private[graft] def mooreLewisInline(spark: SparkSession, dir: String,
      maxBroadcastModel: Int = defaultModelCap): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    mlScored(mlByTgt(docs, defaultTargetSrcs),
      docs.select(col("doc_id"), col("text")), maxBroadcastModel, None)
  }

  /** BOTH models from ONE corpus-scale aggregation (the C33 trick):
    * bigram counts keyed (w1, w2, is_target), from which the target
    * table filters and the background table re-aggregates — the
    * second full tokenize+explode pass of the two-model formulation
    * doesn't exist. Context totals and V are model-derived. Per-doc
    * gram multiplicities via the codegen'd TermCounts byte pass (the
    * E5/E10 treatment, r8): the exploded stream carries DISTINCT
    * (doc, bigram) pairs weighted by tf instead of one row per
    * occurrence. Σ_occurrences ≡ Σ_distinct tf, exact long
    * arithmetic.
    */
  private def mlByTgt(docs: DataFrame, targetSrcs: Seq[String]): DataFrame =
    docs
      // coalesce: `isin` on a NULL source yields null, which the
      // join path's filter silently drops but the fast path's
      // getBoolean would NPE on — a null source is simply non-target
      .select(coalesce(col("source").isin(targetSrcs: _*), lit(false))
        .as("tgt"),
        explode(graft.functions.GraftFunctions
          .termCounts(lower(col("text")), 2, 2)).as("p"))
      .groupBy(col("p.term").as("bg"), col("tgt"))
      .agg(sum(col("p.tf")).as("c2"))

  /** Persist the Moore-Lewis two-model aggregation as a parquet
    * artifact (`{name}_bytgt`) — [[buildLmModel]]'s lifecycle for
    * C31: one corpus pass at build time, every scoring run serves
    * from vocabulary-sized storage. Rebuild is idempotent
    * (Overwrite) and invalidates this JVM's broadcast memo exactly.
    */
  def buildMlModel(db: graft.catalog.GraftDatabase, docs: DataFrame,
      name: String,
      targetSrcs: Seq[String] = defaultTargetSrcs): Unit = {
    db.write(mlByTgt(docs, targetSrcs), s"${name}_bytgt",
      org.apache.spark.sql.SaveMode.Overwrite)
    mlModels.invalidate(db.tablePath(s"${name}_bytgt"))
  }

  /** Score a (doc_id, text) frame against a stored [[buildMlModel]]
    * artifact — identical output to the inline path on the same
    * train/score frames (spec-pinned). Repeat invocations under an
    * unchanged artifact reuse the memoized broadcast model pair:
    * zero driver jobs before the scoring scan itself.
    */
  def mooreLewisFromModel(db: graft.catalog.GraftDatabase, name: String,
      docs: DataFrame,
      maxBroadcastModel: Int = defaultModelCap): DataFrame =
    mlScored(db.read(s"${name}_bytgt").select("bg", "tgt", "c2"),
      docs.select(col("doc_id"), col("text")), maxBroadcastModel,
      Some(db.tablePath(s"${name}_bytgt")))

  // Build-once-per-corpus scratch artifact (ServedArtifact): keyed
  // on the FULL corpus path AND the target set — two corpora, or two
  // target definitions over one corpus, never share a model.
  private def servedMlDb(spark: SparkSession, dir: String,
      targetSrcs: Seq[String]): graft.catalog.GraftDatabase =
    graft.catalog.ServedArtifact.db(spark, "mlmodel", dir,
      Seq(s"$dir/documents.parquet"),
      keyExtra = targetSrcs.mkString(",")) { db =>
      buildMlModel(db,
        Tables(spark, dir, "documents")
          .select(col("doc_id"), col("source"), col("text")),
        "ml", targetSrcs)
    }

  // One Moore-Lewis model folded to the PAIR of broadcast count maps
  // (target, background) and their vocabulary sizes.
  private case class ServedMl(nRows: Int,
    bcT: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
        java.lang.Long]],
    bcB: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
        java.lang.Long]],
    vT: Long, vB: Long)

  // Moore-Lewis models by artifact path, memoized as lmModels
  private val mlModels = new graft.catalog.ListingMemo[ServedMl]

  /** ONE take bounds the driver, ONE collect builds BOTH maps; None
    * when `byTgt` holds more than `cap` rows. */
  private def mlModelOf(byTgt: DataFrame, cap: Int): Option[ServedMl] = {
    val rows = byTgt.take(cap + 1)
    if (rows.length > cap) None
    else {
      val (mT, mB, vT, vB) = mlFoldRows(rows)
      val sc = byTgt.sparkSession.sparkContext
      Some(ServedMl(rows.length, sc.broadcast(mT), sc.broadcast(mB), vT, vB))
    }
  }

  /** The model stored at `path` (read as `byTgt`) when it fits `cap`,
    * memoized while the artifact is unchanged. */
  private def storedMl(byTgt: DataFrame, path: String,
      cap: Int): Option[ServedMl] =
    mlModels.get(byTgt.sparkSession, path, Seq(path))(mlModelOf(byTgt, cap))
      .filter(_.nRows <= cap)

  /** The shared scoring tail: broadcast fast path under the cap
    * (ONE corpus scan carries both LmScore byte passes — VERDICT r7
    * #6), join path above it (the 100 TB shape). `artifact` is the
    * model's path when the counts come from storage — the only case
    * with a staleness signal, hence the only one memoized.
    */
  private def mlScored(byTgt: DataFrame, ids: DataFrame,
      maxBroadcastModel: Int, artifact: Option[String]): DataFrame = {
    val fast =
      if (maxBroadcastModel <= 0) None
      else artifact.fold(mlModelOf(byTgt, maxBroadcastModel))(
        storedMl(byTgt, _, maxBroadcastModel))
    if (fast.isDefined) return mlScoreBroadcast(ids, fast.get)
    val splitBg = (df: DataFrame) => df.select(
      split(col("bg"), " ").getItem(0).as("w1"),
      split(col("bg"), " ").getItem(1).as("w2"), col("c2"))
    val (c2t, c1t, vt) = modelFromC2(splitBg(byTgt.filter(col("tgt"))))
    val (c2b, c1b, vb) = modelFromC2(splitBg(byTgt
      .groupBy(col("bg")).agg(sum(col("c2")).as("c2"))))
    // per-model gates still forwarded: byTgt over the cap does not
    // imply the individual models are (c2t can be tiny when the
    // target sources are) — each scoreAgainst re-decides for itself
    val st = scoreAgainst(c2t, c1t, vt, ids, maxBroadcastModel)
      .select(col("doc_id"), col("bits_per_bigram").as("bits_target"))
    val sb = scoreAgainst(c2b, c1b, vb, ids, maxBroadcastModel)
      .select(col("doc_id"), col("bits_per_bigram").as("bits_background"))
    st.join(sb, Seq("doc_id"))
      .select(col("doc_id"), col("bits_target"), col("bits_background"),
        (col("bits_target") - col("bits_background")).as("ml_score"),
        (col("bits_target") - col("bits_background") < 0.0).as("keep_doc"))
  }

  /** Fold (bg, tgt, c2) rows into the two count maps + vocab sizes
    * (target = tgt rows; background = all rows; bigram AND context
    * counts share one map — LmScore probes both key shapes). Order-
    * free integer sums: identical to the distributed aggregates.
    */
  private def mlFoldRows(rows: Array[org.apache.spark.sql.Row]): (
      java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
        java.lang.Long],
      java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
        java.lang.Long], Long, Long) = {
    val u8 = org.apache.spark.unsafe.types.UTF8String.fromString _
    val mT = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, java.lang.Long](
      math.max(16, rows.length * 3))
    val mB = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, java.lang.Long](
      math.max(16, rows.length * 3))
    val vocabT = new java.util.HashSet[String](rows.length * 2)
    val vocabB = new java.util.HashSet[String](rows.length * 2)
    def add(m: java.util.HashMap[
          org.apache.spark.unsafe.types.UTF8String, java.lang.Long],
        vocab: java.util.HashSet[String],
        w1: String, w2: String, c: Long): Unit = {
      val kb = u8(w1 + " " + w2)
      val pb = m.get(kb)
      m.put(kb, java.lang.Long.valueOf(
        (if (pb == null) 0L else pb.longValue()) + c))
      val k1 = u8(w1)
      val p1 = m.get(k1)
      m.put(k1, java.lang.Long.valueOf(
        (if (p1 == null) 0L else p1.longValue()) + c))
      vocab.add(w1); vocab.add(w2); ()
    }
    rows.foreach { r =>
      val (bg, tgt, c) =
        (r.getString(0), r.getBoolean(1), r.getLong(2))
      val sp = bg.indexOf(' ') // tokens are \S+ — exactly one space
      val (w1, w2) = (bg.substring(0, sp), bg.substring(sp + 1))
      add(mB, vocabB, w1, w2, c)
      if (tgt) add(mT, vocabT, w1, w2, c)
    }
    (mT, mB, vocabT.size.toLong, vocabB.size.toLong)
  }

  /** G16: the C31 gate ON A STREAM — score a (carry…, doc_id, text)
    * streaming frame under a stored [[buildMlModel]] artifact.
    * STATELESS: both scores are single-expression byte passes
    * (LmScore) against the broadcast count-map pair, so the plan has
    * no state store and needs no watermark — every micro-batch emits
    * its verdicts immediately, identical arithmetic to the batch
    * [[mooreLewisFromModel]] fast path (spec-pinned). The model must
    * fit the broadcast cap (it is vocabulary-sized by construction;
    * loud error otherwise — an over-cap model is the batch join
    * path's job, the same driver-bounded-artifact rule as G9's Bloom
    * filter). Repeat streams under an unchanged artifact reuse the
    * memoized broadcast pair.
    */
  def mooreLewisStream(db: graft.catalog.GraftDatabase, name: String,
      docs: DataFrame, carry: Seq[String] = Seq("ts"),
      maxBroadcastModel: Int = defaultModelCap): DataFrame = {
    val key = db.tablePath(s"${name}_bytgt")
    val served = storedMl(db.read(s"${name}_bytgt").select("bg", "tgt", "c2"),
      key, maxBroadcastModel)
    require(served.isDefined,
      s"Moore-Lewis model $key exceeds maxBroadcastModel=" +
        s"$maxBroadcastModel rows; streaming scoring requires the " +
        "broadcast fast path — raise the cap or score in batch")
    mlScoreBroadcast(docs, served.get, carry)
  }

  /** Both LmScore byte passes in ONE corpus scan — the fast path's
    * scoring tail, shared by fresh folds and memo hits. */
  private def mlScoreBroadcast(ids: DataFrame, m: ServedMl,
      carry: Seq[String] = Seq.empty): DataFrame = {
    val gf = graft.functions.GraftFunctions
    val keep = carry.map(col)
    ids
      .select(keep ++ Seq(col("doc_id"),
        gf.lmScore(lower(col("text")), m.bcT, m.vT).as("st"),
        gf.lmScore(lower(col("text")), m.bcB, m.vB).as("sb")): _*)
      .filter(col("st").isNotNull && col("sb").isNotNull)
      .select(keep ++ Seq(col("doc_id"),
        (col("st.sum_mb").cast("double") /
          (lit(1000.0) * col("st.n_bigrams"))).as("bits_target"),
        (col("sb.sum_mb").cast("double") /
          (lit(1000.0) * col("sb.n_bigrams"))).as("bits_background")): _*)
      .select(keep ++ Seq(col("doc_id"), col("bits_target"),
        col("bits_background"),
        (col("bits_target") - col("bits_background")).as("ml_score"),
        (col("bits_target") - col("bits_background") < 0.0)
          .as("keep_doc")): _*)
  }

  /** Adjacent (w1, w2, w3) triple structs of a token array. */
  private def tripleArr(t: Column): Column =
    zip_with(
      zip_with(slice(t, lit(1), size(t) - 2), slice(t, lit(2), size(t) - 2),
        (a, b) => struct(a.as("w1"), b.as("w2"))),
      slice(t, lit(3), size(t) - 2),
      (p, c) => struct(p.getField("w1").as("w1"), p.getField("w2").as("w2"),
        c.as("w3")))

  /** E21: interpolated trigram perplexity (Jelinek-Mercer smoothing —
    * the classical fixed-weight linear interpolation of trigram,
    * bigram, and unigram maximum-likelihood estimates:
    * p(w₃|w₁w₂) = 0.5·ML₃ + 0.3·ML₂ + 0.2·ML₁, with the unigram leg
    * add-0.5-smoothed so every token has mass): the sharper LM
    * quality gate when the corpus is big enough to support trigram
    * statistics — E19's bigram model saturates on formulaic text
    * that a trigram model still separates.
    *
    * Exactness (E19's discipline, one step further): ML₃/ML₂/ML₁ are
    * exact rationals of integer counts; the interpolation is a FIXED
    * parenthesization of IEEE +/× (deterministic cross-engine —
    * only log2 is libm); each trigram's bits quantize to integer
    * millibits at birth; per-doc aggregation is integer; one double
    * division at the end.
    *
    * Scale shape: three vocabulary-sized count tables from ONE
    * tokenize of the train split (c2/c1/V re-aggregate c3's
    * lineage where the algebra allows — c2 must count final bigrams
    * too, so it shares the tokenize, not the c3 table); scoring is
    * the exploded held side against the count tables — five
    * AQE-sized equi-joins (c3, c2 in both key roles, c1 twice), the
    * E19 join geometry widened one order.
    */
  def perplexityTrigram(spark: SparkSession, dir: String,
      holdMod: Int = 5): DataFrame =
    perplexityTrigramOf(Tables(spark, dir, "documents"), holdMod)

  def perplexityTrigramOf(docs: DataFrame, holdMod: Int = 5,
      maxBroadcastModel: Int = defaultTrigramCap): DataFrame = {
    val gf = graft.functions.GraftFunctions
    // ONE model pass (r8): all three count tables come out of a
    // single codegen'd TermCounts(1..3) byte scan of the train split
    // — per-doc DISTINCT grams weighted by tf, one map-side-combined
    // aggregation, no token-array materialization, no per-order
    // explode branch. N-gram orders share the table without
    // collision (tokens contain no whitespace — the TrigramLmScore
    // map already relies on exactly this). The former shape
    // (persisted tokenized train + three explode+agg lineages) paid
    // a corpus-scale cache build plus three aggregations; this is
    // one aggregation whose output is gram-vocabulary-sized.
    // Fused gate + build (r10, replacing r8's persist + take(cap+1)):
    // ONE GramCountsAgg action counts every 1..3-gram straight into
    // per-partition hash maps — no per-gram row stream through
    // Generate/HashAggregate (that stream was 0.7–1.2 s of the 10×
    // row against a 28 k vocabulary), no persist, no separate gate
    // job, and the ≥3-token doc filter folds into the same TokenScan
    // (minTokens — the old wsTokenCount pre-filter was a second full
    // tokenize of the train split). The cap rides inside the
    // aggregation: an over-cap vocabulary poisons the buffers and
    // evaluates to NULL, and only THEN does the distributed join
    // path build its vocabulary-sized tables.
    // Web-scale pre-gate (r10 ADVICE: a failed gate paid a poisoned
    // full corpus pass AND a fresh termCounts aggregation — two
    // passes where r8's shared-persist shape paid one): a corpus
    // whose FILE statistics (no job) exceed the threshold goes
    // straight to the join path — one aggregation total, the r8
    // single-pass property restored exactly where the double pass
    // hurts. Under the threshold the fused gate stays: if it passes
    // (the common sub-threshold case) it IS the model in one action,
    // and if it fails the extra pass is bounded by a small corpus.
    // Bytes can't PREDICT vocabulary (a synthetic corpus stays tiny-
    // vocab for GB; web text blows the cap in MB), so the threshold
    // only needs to bound the wasted work, not detect overflow.
    val underGateBytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue)).toLong <= GateMaxBytes
    val gateRow: Seq[org.apache.spark.sql.Row] =
      if (maxBroadcastModel > 0 && underGateBytes)
        docs.filter(col("doc_id") % holdMod =!= 0)
          .agg(gf.gramCountsAgg(lower(col("text")), 1, 3,
            maxBroadcastModel, minTokens = 3).as("m")).head().getSeq(0)
      else null
    lazy val train = docs
      .filter(graft.functions.TextFunctions.wsTokenCount(col("text")) >= 3)
      .filter(col("doc_id") % holdMod =!= 0)
    if (gateRow != null) {
      val u8 = org.apache.spark.unsafe.types.UTF8String.fromString _
      val m = new java.util.HashMap[
        org.apache.spark.unsafe.types.UTF8String, java.lang.Long](
        math.max(16, gateRow.length * 2))
      var n0 = 0L; var v0 = 0L
      gateRow.foreach { r =>
        val (g, c) = (r.getString(0), r.getLong(1))
        m.put(u8(g), java.lang.Long.valueOf(c))
        if (g.indexOf(' ') < 0) { n0 += c; v0 += 1L }
      }
      val bc = docs.sparkSession.sparkContext.broadcast(m)
      return docs.select(col("doc_id"), col("text"))
        .filter(col("doc_id") % holdMod === 0)
        // no <3-token pre-filter: trigramLmScore yields NULL there
        // and the isNotNull below drops them — one scan, not two
        .select(col("doc_id"),
          gf.trigramLmScore(lower(col("text")), bc, n0, v0).as("s"))
        .filter(col("s").isNotNull)
        .select(col("doc_id"),
          col("s.n_trigrams").as("n_trigrams"),
          col("s.oov").as("oov_trigrams"),
          (col("s.sum_mb").cast("double") /
            (lit(1000.0) * col("s.n_trigrams"))).as("bits_per_trigram"))
    }
    // Join path (web-scale model): the three per-order tables derive
    // from the SAME persisted vocabulary-sized aggregation by gram
    // width — the corpus is scanned exactly once for the model
    // (built only now: the gate either never ran or already paid its
    // one poisoned pass above).
    val mixedP = train
      .select(explode(gf.termCounts(lower(col("text")), 1, 3)).as("p"))
      .groupBy(col("p.term").as("g")).agg(sum(col("p.tf")).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.CacheHygiene.unpersistAfterUse(mixedP)
    val sp1 = split(col("g"), " ")
    val c1 = mixedP.filter(size(sp1) === 1)
      .select(col("g").as("w"), col("c").as("c1"))
    val c2 = mixedP.filter(size(sp1) === 2)
      .select(sp1.getItem(0).as("w1"), sp1.getItem(1).as("w2"),
        col("c").as("c2"))
    val c3 = mixedP.filter(size(sp1) === 3)
      .select(sp1.getItem(0).as("w1"), sp1.getItem(1).as("w2"),
        sp1.getItem(2).as("w3"), col("c").as("c3"))
    val d = docs.select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
    val nv = c1.agg(sum(col("c1")).as("n"),
      count(lit(1)).as("v"))
    val held = d.filter(col("doc_id") % holdMod === 0)
      .select(col("doc_id"), explode(tripleArr(col("t"))).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.w3").as("w3"))
    // Precomputed-leg fusion (VERDICT r7 #4): the old plan ran FIVE
    // left joins of the corpus-scale held stream against the count
    // tables and evaluated the interpolation per occurrence. The
    // interpolated probability decomposes EXACTLY by miss depth:
    //   trigram hit            → all three legs determined by the
    //                            trigram's own train counts;
    //   trigram miss           → ml3 = 0 in BOTH branches of its
    //                            `when` (c3=0 ⇒ 0/c2 or the 0.0
    //                            otherwise-arm), so p depends only
    //                            on (w2,w3);
    //   (w2,w3) miss           → ml2 = 0 likewise, p depends only
    //                            on w3;
    //   w3 unseen              → p is the add-0.5 floor constant.
    // So the millibits are precomputable per MODEL row at train time
    // — one mb per observed trigram (A), per observed (w2,w3) (B),
    // per observed w3 (C), plus the scalar floor (D) — and scoring
    // is THREE successively-narrower left equi-joins + coalesce,
    // with no double arithmetic on the held stream at all. The
    // arithmetic below replicates the per-occurrence tree term for
    // term (same literals, same parenthesization, 0.0-valued dead
    // legs kept — IEEE x+0.0·y ≡ x here since every leg is a finite
    // non-negative), so the fused plan is bit-identical to the
    // five-join form and the oracle: spec + hash-pinned ×3 SFs.
    // Model-side joins are all inner (a trigram's sub-grams are
    // observed by construction) over vocabulary-sized tables — at
    // 10× the held stream scales with the corpus while the
    // vocabulary doesn't, which is the whole win.
    val ml1of = (c1u: Column) => (c1u.cast("double") + lit(0.5)) /
      (col("n").cast("double") + lit(0.5) * col("v").cast("double"))
    // b23: every observed (w2,w3) with its ml2/ml1 ingredients
    val b23 = c2.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c2").as("c2b"))
      .join(c1.select(col("w").as("w2"), col("c1").as("c1m")), Seq("w2"))
      .join(c1.select(col("w").as("w3"), col("c1").as("c1u")), Seq("w3"))
    val mlA3 = col("c3").cast("double") / col("c2").cast("double")
    val mlA2 = col("c2b").cast("double") / col("c1m").cast("double")
    val tblA = c3
      .join(c2, Seq("w1", "w2"))
      .join(b23, Seq("w2", "w3"))
      .crossJoin(broadcast(nv))
      .select(col("w1"), col("w2"), col("w3"),
        round(-log2((lit(0.5) * mlA3 + lit(0.3) * mlA2) +
          lit(0.2) * ml1of(col("c1u"))) * 1000).cast("long").as("mb_a"))
    val tblB = b23.crossJoin(broadcast(nv))
      .select(col("w2"), col("w3"),
        round(-log2((lit(0.5) * lit(0.0) + lit(0.3) * mlA2) +
          lit(0.2) * ml1of(col("c1u"))) * 1000).cast("long").as("mb_b"))
    val tblC = c1.crossJoin(broadcast(nv))
      .select(col("w").as("w3"),
        round(-log2((lit(0.5) * lit(0.0) + lit(0.3) * lit(0.0)) +
          lit(0.2) * ml1of(col("c1"))) * 1000).cast("long").as("mb_c"))
    val mbD = round(-log2((lit(0.5) * lit(0.0) + lit(0.3) * lit(0.0)) +
      lit(0.2) * ml1of(lit(0L))) * 1000).cast("long")
    held
      .join(tblA, Seq("w1", "w2", "w3"), "left")
      .join(tblB, Seq("w2", "w3"), "left")
      .join(tblC, Seq("w3"), "left")
      .crossJoin(broadcast(nv))
      .select(col("doc_id"),
        coalesce(col("mb_a"), col("mb_b"), col("mb_c"), mbD).as("mb"),
        col("mb_a").isNull.cast("long").as("oov"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(col("oov")).as("oov_trigrams"),
        (sum(col("mb")).cast("double") / (lit(1000.0) * count(lit(1))))
          .as("bits_per_trigram"))
  }

  /** D9's build-once/serve-many lifecycle for the LM: persist the
    * model as parquet artifacts (`{name}_bigrams` / `{name}_contexts`
    * / `{name}_meta`) so scoring a new batch never re-trains — the
    * production shape where one corpus-wide model scores every
    * incoming crawl increment. Rebuild is idempotent (Overwrite).
    */
  def buildLmModel(db: graft.catalog.GraftDatabase, docs: DataFrame,
      name: String): Unit = {
    val (c2, c1, v) = model(docs)
    val ow = org.apache.spark.sql.SaveMode.Overwrite
    db.write(c2, s"${name}_bigrams", ow)
    db.write(c1, s"${name}_contexts", ow)
    db.write(v, s"${name}_meta", ow)
    // A rebuild in this JVM must not serve the previous broadcast
    // (the listing check would also catch it, but only at modtime
    // resolution — removal is exact).
    lmModels.invalidate(db.tablePath(s"${name}_bigrams"))
  }

  // Served bigram models by the bigrams table's path: the stored
  // model is immutable between rebuilds, so the take(cap+1) job, the
  // driver map fold and the broadcast are paid per artifact, not per
  // invocation.
  private case class ServedLm(nRows: Int,
    bc: org.apache.spark.broadcast.Broadcast[
      java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
        java.lang.Long]],
    vocabSize: Long)

  private val lmModels = new graft.catalog.ListingMemo[ServedLm]

  /** Score a (doc_id, text) frame against a stored [[buildLmModel]]
    * artifact — identical output to the inline path on the same
    * train/score frames (spec-pinned). Repeat invocations under an
    * unchanged artifact reuse the memoized broadcast model: zero
    * driver jobs before the scoring scan itself.
    */
  def perplexityFromModel(db: graft.catalog.GraftDatabase, name: String,
      docs: DataFrame,
      maxBroadcastModel: Int = defaultModelCap): DataFrame = {
    val held = docs.select(col("doc_id"), col("text"))
    val bigrams = db.tablePath(s"${name}_bigrams")
    val served =
      if (maxBroadcastModel <= 0) None
      else lmModels.get(db.spark, bigrams, Seq(bigrams)) {
        val rows = db.read(s"${name}_bigrams").take(maxBroadcastModel + 1)
        if (rows.length > maxBroadcastModel) None
        else {
          val (m, vs) = foldModelRows(rows)
          Some(ServedLm(rows.length, db.spark.sparkContext.broadcast(m), vs))
        }
      }.filter(_.nRows <= maxBroadcastModel)
    served match {
      case Some(m) => scoreBroadcast(held, m.bc, m.vocabSize)
      case None    => scoreAgainst(db.read(s"${name}_bigrams"),
        db.read(s"${name}_contexts"), db.read(s"${name}_meta"), held, 0)
    }
  }

  /** C33: DSIR-style importance weighting (Xie et al. 2023,
    * arXiv:2302.03169 — Data Selection via Importance Resampling):
    * documents scored by log p_target(f) − log p_background(f) under
    * smoothed multinomial models over a HASHED n-gram feature space —
    * every unigram and bigram hashed into one of m buckets, so both
    * models are FIXED-m-row tables regardless of vocabulary (the
    * paper's trick, and what separates this from C31's bigram-LM
    * cross-entropy difference: a web corpus's n-gram vocabulary is
    * unbounded, the hashed feature space never is).
    *
    * Exactness (E19's discipline): bucket probabilities are rationals
    * of exact integer counts, each side's log2 is quantized to
    * integer millibits AT THE BUCKET (m rows, not per occurrence),
    * per-document weights are integer sums of bucket millibits in any
    * partition order, one double division at the end.
    *
    * Scale shape: ONE corpus-scale aggregation — (bucket, is_target)
    * counts — from which both model tables re-aggregate at ≤2m-row
    * cost; the m-row bucket table (m=4096 · 16 B) broadcasts; scoring
    * is one more corpus explode + broadcast probe + map-side-combined
    * doc sum. The corpus shuffles only doc_id-keyed integer sums.
    * Selection here is the deterministic threshold form (weight > 0 ⇔
    * the target model predicts the doc better — C31's keep rule);
    * the paper's Gumbel resampling adds noise the md5-bucket rule
    * (C14) can supply when sampling proportionality matters.
    */
  /** (carry…, doc_id, b): every unigram+bigram of each document
    * landed in its md5 bucket (the portable C14 hash rule — the
    * oracle must land every gram in the SAME bucket). One explode
    * per n-gram order, stateless — works on streams unchanged.
    */
  private[graft] def dsirFeats(docs: DataFrame, m: Int,
      carry: Seq[String]): DataFrame = {
    val keep = (carry :+ "doc_id").map(col)
    // ONE codegen byte pass per document (native DsirBucketCounts:
    // tokenize + md5-bucket every uni/bigram into a touched-slot
    // local table) — the exploded rows are per-doc DISTINCT buckets
    // with multiplicities, ≤ min(2·tokens, m) per doc, not one row
    // per gram occurrence. Two earlier formulations are kept as
    // measured negative results: the two-branch union re-scanned and
    // re-tokenized the corpus per branch, and fusing the branches
    // into explode(concat(...)) ran 2x WORSE still (6.2 s -> 12.3 s
    // isolated at 10x) because the combined-array build serializes
    // the generator.
    docs.select(keep :+ explode(
        graft.functions.GraftFunctions.dsirBucketCounts(
          lower(col("text")), m)).as("p"): _*)
      .select(keep ++ Seq(col("p.b").as("b"), col("p.c").as("c")): _*)
  }

  /** The m-row DSIR model: per bucket, background-minus-target
    * millibits. ONE corpus aggregation — (bucket, is_target) counts —
    * from which both model tables re-aggregate at ≤2m-row cost.
    */
  def dsirBucketTable(docs: DataFrame, targetSrcs: Seq[String],
      m: Int): DataFrame = {
    val spark = docs.sparkSession
    val feats = dsirFeats(docs, m, Seq("source"))
    val byTgt = feats
      .groupBy(col("b"), col("source").isin(targetSrcs: _*).as("tgt"))
      .agg(sum(col("c")).as("c"))
    val tcounts = byTgt.filter(col("tgt"))
      .select(col("b"), col("c").as("ct"))
    val bcounts = byTgt.groupBy(col("b")).agg(sum(col("c")).as("cb"))
    val tt = tcounts.agg(sum(col("ct")).as("tt"))
    val bt = bcounts.agg(sum(col("cb")).as("bt"))
    val mbOf = (c: Column, tot: Column) =>
      round(-log2((coalesce(c, lit(0L)).cast("double") + lit(0.5)) /
        (tot.cast("double") + lit(0.5) * m)) * 1000).cast("long")
    spark.range(m).select(col("id").as("b"))
      .join(tcounts, Seq("b"), "left")
      .join(bcounts, Seq("b"), "left")
      .crossJoin(broadcast(tt)).crossJoin(broadcast(bt))
      .select(col("b"),
        (mbOf(col("cb"), col("bt")) - mbOf(col("ct"), col("tt")))
          .as("l_mb"))
  }

  /** Broadcast-probe the bucket table and fold integer weights per
    * `keys` — shared by the batch and streaming paths (the streaming
    * side carries its event-time column through `keys`).
    */
  private[graft] def dsirScoreRows(feats: DataFrame, buckets: DataFrame,
      keys: Seq[String]): DataFrame =
    feats.join(broadcast(buckets), Seq("b"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c") * col("l_mb")).as("weight_mb"))
      .select(keys.map(col) ++ Seq(col("n_feats"), col("weight_mb"),
        (col("weight_mb").cast("double") / (lit(1000.0) * col("n_feats")))
          .as("avg_mb_per_feat"),
        (col("weight_mb") > 0).as("keep_doc")): _*)

  def dsir(spark: SparkSession, dir: String, m: Int = 4096): DataFrame =
    dsirOf(spark, dir, m, fastPath = true)

  /** [[dsir]] with the path switch exposed (the equality spec's
    * lever). Fast path (r10, the E21 GramCountsAgg treatment):
    * the model is ONE DsirModelAgg action — per-partition long[2m]
    * count vectors straight off the bytes, no per-bucket row stream —
    * the m-row millibit table folds on the DRIVER (m is the fixed
    * hyperparameter: 2m longs collected, the same arithmetic as the
    * distributed fold — StrictMath log2, BigDecimal HALF_UP, the
    * TrigramLmScore replication discipline), and scoring is one
    * DsirDocScore byte pass with the 8·m-byte leg table riding the
    * task binary — no explode, no broadcast join, no per-doc
    * aggregation. Σ_slots l_mb ≡ Σ_buckets c·l_mb (the same longs in
    * a different order), so the two paths are bit-identical
    * (spec-pinned). The join path remains the serving shape for
    * stored models ([[dsirFromModel]]) and streams.
    */
  private[graft] def dsirOf(spark: SparkSession, dir: String, m: Int,
      fastPath: Boolean): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val targets = (0 to 3).map("src" + _)
    if (fastPath) {
      val gf = graft.functions.GraftFunctions
      val flat: Seq[Long] = docs
        .agg(gf.dsirModelAgg(lower(col("text")),
          col("source").isin(targets: _*), m).as("m"))
        .head().getSeq[Long](0)
      var tt = 0L
      var bt = 0L
      var b = 0
      while (b < m) {
        val ct = flat(b)
        val cb = ct + flat(m + b)
        tt += ct; bt += cb; b += 1
      }
      val lmb = new Array[Long](m)
      b = 0
      while (b < m) {
        val ct = flat(b)
        val cb = ct + flat(m + b)
        lmb(b) = dsirMbOf(cb, bt, m) - dsirMbOf(ct, tt, m)
        b += 1
      }
      return docs
        .select(col("doc_id"),
          gf.dsirDocScore(lower(col("text")), lmb).as("s"))
        .filter(col("s").isNotNull)
        .select(col("doc_id"),
          col("s.n_feats").as("n_feats"),
          col("s.weight_mb").as("weight_mb"),
          (col("s.weight_mb").cast("double") /
            (lit(1000.0) * col("s.n_feats"))).as("avg_mb_per_feat"),
          (col("s.weight_mb") > 0).as("keep_doc"))
    }
    val buckets = dsirBucketTable(docs, targets, m)
    dsirScoreRows(dsirFeats(docs, m, Nil), buckets, Seq("doc_id"))
  }

  private val dsirLn2 = java.lang.StrictMath.log(2)

  /** Driver replication of [[dsirBucketTable]]'s mbOf — Spark's
    * `round(-log2((c+0.5)/(tot+0.5·m))·1000).cast("long")`, operation
    * for operation (the TrigramLmScore discipline: StrictMath log2,
    * BigDecimal HALF_UP round), so the fast path's legs are
    * bit-identical to the distributed fold's.
    */
  private def dsirMbOf(c: Long, tot: Long, m: Int): Long = {
    val p = (c.toDouble + 0.5) / (tot.toDouble + 0.5 * m)
    val mb = -(java.lang.StrictMath.log(p) / dsirLn2) * 1000.0
    java.math.BigDecimal.valueOf(mb)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
  }

  /** D9 lifecycle for the DSIR model: the m-row bucket table (plus m
    * itself — scoring must bucket with the SAME modulus) persisted as
    * parquet, so scoring a new crawl increment never re-reads the
    * target/background corpora. Rebuild is idempotent (Overwrite,
    * deterministic counts).
    */
  def buildDsirModel(db: graft.catalog.GraftDatabase, docs: DataFrame,
      name: String, targetSrcs: Seq[String] = (0 to 3).map("src" + _),
      m: Int = 4096): Unit = {
    val ow = org.apache.spark.sql.SaveMode.Overwrite
    db.write(dsirBucketTable(docs, targetSrcs, m), s"${name}_buckets", ow)
    import db.spark.implicits._
    db.write(Seq(m).toDF("m"), s"${name}_meta", ow)
  }

  /** Score a (doc_id, text) frame against a stored [[buildDsirModel]]
    * artifact — identical output to the inline path on the same
    * corpora (spec-pinned).
    */
  def dsirFromModel(db: graft.catalog.GraftDatabase, name: String,
      docs: DataFrame): DataFrame = {
    val m = db.read(s"${name}_meta").collect()(0).getInt(0)
    dsirScoreRows(
      dsirFeats(docs.select(col("doc_id"), col("text")), m, Nil),
      db.read(s"${name}_buckets"), Seq("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_perplexity" -> ((s, d) => perplexity(s, d)),
    "pipeline_curriculum" -> ((s, d) => curriculum(s, d)),
    "curate_moore_lewis" -> ((s, d) => mooreLewis(s, d)),
    "curate_dsir" -> ((s, d) => dsir(s, d)),
    "text_perplexity_trigram" -> ((s, d) => perplexityTrigram(s, d)))

  /** One model's DuckDB scoring chain (prefix `p`, train filter
    * `where`) — the C31 oracle instantiates it twice over the shared
    * tokenized `d` / exploded `evb` CTEs.
    */
  private def mlChain(p: String, where: String): String =
    s"""t$p AS (SELECT unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i+1])) AS bg FROM d $where),
       |c2$p AS (SELECT bg, COUNT(*) AS c2 FROM t$p GROUP BY 1),
       |c1$p AS (SELECT split_part(bg, ' ', 1) AS w1,
       |    CAST(SUM(c2) AS BIGINT) AS c1 FROM c2$p GROUP BY 1),
       |v$p AS (SELECT COUNT(DISTINCT tok) AS v FROM
       |    (SELECT unnest(t) AS tok FROM d $where) u),
       |q$p AS (SELECT e.doc_id, COALESCE(c2$p.c2, 0) AS c2n,
       |    COALESCE(c1$p.c1, 0) AS c1n, v$p.v AS v
       |  FROM evb e LEFT JOIN c2$p USING (bg)
       |  LEFT JOIN c1$p ON split_part(e.bg, ' ', 1) = c1$p.w1
       |  CROSS JOIN v$p),
       |m$p AS (SELECT doc_id,
       |    CAST(ROUND(-log2((c2n + 0.5) / (c1n + 0.5 * v)) * 1000)
       |      AS BIGINT) AS mb FROM q$p),
       |g$p AS (SELECT doc_id,
       |    CAST(SUM(mb) AS DOUBLE) / (1000.0 * COUNT(*)) AS bits
       |  FROM m$p GROUP BY doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "curate_dsir" ->
      """WITH t AS (SELECT doc_id, source,
        |    regexp_extract_all(lower(text), '\S+') AS w
        |  FROM documents),
        |f AS (SELECT doc_id, source, unnest(w) AS g FROM t
        |  UNION ALL
        |  SELECT doc_id, source,
        |    unnest(list_transform(range(1, len(w)),
        |      i -> w[i] || ' ' || w[i+1])) AS g FROM t),
        |fb AS (SELECT doc_id, source,
        |    ('0x' || substr(md5(g), 1, 8))::BIGINT % 4096 AS b FROM f),
        |tc AS (SELECT b, COUNT(*) AS ct FROM fb
        |  WHERE source IN ('src0','src1','src2','src3') GROUP BY b),
        |bc AS (SELECT b, COUNT(*) AS cb FROM fb GROUP BY b),
        |tt AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt FROM tc),
        |bt AS (SELECT CAST(SUM(cb) AS BIGINT) AS bt FROM bc),
        |l AS (SELECT r.range AS b,
        |    CAST(ROUND(-log2((COALESCE(bc.cb, 0) + 0.5)
        |        / (bt.bt + 0.5 * 4096)) * 1000) AS BIGINT)
        |    - CAST(ROUND(-log2((COALESCE(tc.ct, 0) + 0.5)
        |        / (tt.tt + 0.5 * 4096)) * 1000) AS BIGINT) AS l_mb
        |  FROM range(0, 4096) r
        |  LEFT JOIN tc ON tc.b = r.range
        |  LEFT JOIN bc ON bc.b = r.range
        |  CROSS JOIN tt CROSS JOIN bt)
        |SELECT fb.doc_id, COUNT(*) AS n_feats,
        |  CAST(SUM(l.l_mb) AS BIGINT) AS weight_mb,
        |  CAST(SUM(l.l_mb) AS DOUBLE) / (1000.0 * COUNT(*))
        |    AS avg_mb_per_feat,
        |  SUM(l.l_mb) > 0 AS keep_doc
        |FROM fb JOIN l USING (b)
        |GROUP BY fb.doc_id""".stripMargin,
    "curate_moore_lewis" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    regexp_extract_all(lower(text), '\\S+') AS t
         |  FROM documents
         |  WHERE len(regexp_extract_all(lower(text), '\\S+')) >= 2),
         |evb AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
         |    i -> t[i] || ' ' || t[i+1])) AS bg FROM d),
         |${mlChain("tg",
            "WHERE source IN ('src0','src1','src2','src3')")},
         |${mlChain("bk", "")}
         |SELECT gtg.doc_id, gtg.bits AS bits_target,
         |  gbk.bits AS bits_background,
         |  gtg.bits - gbk.bits AS ml_score,
         |  (gtg.bits - gbk.bits) < 0.0 AS keep_doc
         |FROM gtg JOIN gbk ON gtg.doc_id = gbk.doc_id""".stripMargin,
    "pipeline_curriculum" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
        |  FROM documents
        |  WHERE len(regexp_extract_all(lower(text), '\S+')) >= 2),
        |trb AS (SELECT unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i+1])) AS bg FROM d),
        |c2 AS (SELECT bg, COUNT(*) AS c2 FROM trb GROUP BY 1),
        |c1 AS (SELECT split_part(bg, ' ', 1) AS w1,
        |    CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT tok) AS v FROM
        |    (SELECT unnest(t) AS tok FROM d) u),
        |evb AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i+1])) AS bg FROM d),
        |q AS (SELECT doc_id, COALESCE(c2.c2, 0) AS c2n,
        |    COALESCE(c1.c1, 0) AS c1n, v.v AS v
        |  FROM evb LEFT JOIN c2 USING (bg)
        |  LEFT JOIN c1 ON split_part(evb.bg, ' ', 1) = c1.w1
        |  CROSS JOIN v),
        |m AS (SELECT doc_id,
        |    CAST(ROUND(-log2((c2n + 0.5) / (c1n + 0.5 * v)) * 1000)
        |      AS BIGINT) AS mb FROM q),
        |g AS (SELECT doc_id,
        |    CAST(SUM(mb) AS DOUBLE) / (1000.0 * COUNT(*))
        |      AS bits_per_bigram FROM m GROUP BY doc_id),
        |r AS (SELECT doc_id, bits_per_bigram,
        |    ROW_NUMBER() OVER (ORDER BY bits_per_bigram, doc_id) AS pos,
        |    COUNT(*) OVER () AS total FROM g)
        |SELECT doc_id, bits_per_bigram, pos,
        |  (pos - 1) // CAST(CEIL(total / 4.0) AS BIGINT) AS stage
        |FROM r""".stripMargin,
    "text_perplexity_trigram" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
        |  FROM documents
        |  WHERE len(regexp_extract_all(lower(text), '\S+')) >= 3),
        |tr AS (SELECT t FROM d WHERE doc_id % 5 <> 0),
        |tr3 AS (SELECT unnest(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g FROM tr),
        |c3 AS (SELECT g, COUNT(*) AS c3 FROM tr3 GROUP BY 1),
        |tr2 AS (SELECT unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i+1])) AS bg FROM tr),
        |c2 AS (SELECT bg, COUNT(*) AS c2 FROM tr2 GROUP BY 1),
        |tr1 AS (SELECT unnest(t) AS w FROM tr),
        |c1 AS (SELECT w, COUNT(*) AS c1 FROM tr1 GROUP BY 1),
        |nv AS (SELECT CAST(SUM(c1) AS BIGINT) AS n, COUNT(*) AS v
        |  FROM c1),
        |ev AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) - 1), i -> t[i])) AS w1,
        |    unnest(list_transform(range(1, len(t) - 1), i -> t[i+1])) AS w2,
        |    unnest(list_transform(range(1, len(t) - 1), i -> t[i+2])) AS w3
        |  FROM d WHERE doc_id % 5 = 0),
        |q AS (SELECT e.doc_id,
        |    COALESCE(c3.c3, 0) AS c3n, COALESCE(ca.c2, 0) AS c2n,
        |    COALESCE(cb.c2, 0) AS c2bn, COALESCE(m1.c1, 0) AS c1m,
        |    COALESCE(u1.c1, 0) AS c1u, nv.n AS n, nv.v AS v
        |  FROM ev e
        |  LEFT JOIN c3 ON c3.g = e.w1 || ' ' || e.w2 || ' ' || e.w3
        |  LEFT JOIN c2 ca ON ca.bg = e.w1 || ' ' || e.w2
        |  LEFT JOIN c2 cb ON cb.bg = e.w2 || ' ' || e.w3
        |  LEFT JOIN c1 m1 ON m1.w = e.w2
        |  LEFT JOIN c1 u1 ON u1.w = e.w3
        |  CROSS JOIN nv),
        |mq AS (SELECT doc_id,
        |    CAST(ROUND(-log2(
        |      (0.5 * (CASE WHEN c2n > 0
        |          THEN CAST(c3n AS DOUBLE) / CAST(c2n AS DOUBLE)
        |          ELSE 0.0 END)
        |       + 0.3 * (CASE WHEN c1m > 0
        |          THEN CAST(c2bn AS DOUBLE) / CAST(c1m AS DOUBLE)
        |          ELSE 0.0 END))
        |      + 0.2 * ((CAST(c1u AS DOUBLE) + 0.5)
        |          / (CAST(n AS DOUBLE) + 0.5 * CAST(v AS DOUBLE))))
        |      * 1000) AS BIGINT) AS mb,
        |    CASE WHEN c3n = 0 THEN 1 ELSE 0 END AS oov
        |  FROM q)
        |SELECT doc_id, COUNT(*) AS n_trigrams,
        |  CAST(SUM(oov) AS BIGINT) AS oov_trigrams,
        |  CAST(SUM(mb) AS DOUBLE) / (1000.0 * COUNT(*)) AS bits_per_trigram
        |FROM mq GROUP BY doc_id""".stripMargin,
    "text_perplexity" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
        |  FROM documents
        |  WHERE len(regexp_extract_all(lower(text), '\S+')) >= 2),
        |tr AS (SELECT t FROM d WHERE doc_id % 5 <> 0),
        |ev AS (SELECT doc_id, t FROM d WHERE doc_id % 5 = 0),
        |trb AS (SELECT unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i+1])) AS bg FROM tr),
        |c2 AS (SELECT bg, COUNT(*) AS c2 FROM trb GROUP BY 1),
        |c1 AS (SELECT split_part(bg, ' ', 1) AS w1,
        |    CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT tok) AS v FROM
        |    (SELECT unnest(t) AS tok FROM tr) u),
        |evb AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i+1])) AS bg FROM ev),
        |q AS (SELECT doc_id, COALESCE(c2.c2, 0) AS c2n,
        |    COALESCE(c1.c1, 0) AS c1n, v.v AS v
        |  FROM evb LEFT JOIN c2 USING (bg)
        |  LEFT JOIN c1 ON split_part(evb.bg, ' ', 1) = c1.w1
        |  CROSS JOIN v),
        |m AS (SELECT doc_id,
        |    CAST(ROUND(-log2((c2n + 0.5) / (c1n + 0.5 * v)) * 1000)
        |      AS BIGINT) AS mb,
        |    CASE WHEN c2n = 0 THEN 1 ELSE 0 END AS oov FROM q)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(oov) AS BIGINT) AS oov_bigrams,
        |  CAST(SUM(mb) AS DOUBLE) / (1000.0 * COUNT(*)) AS bits_per_bigram
        |FROM m GROUP BY doc_id""".stripMargin)
}
