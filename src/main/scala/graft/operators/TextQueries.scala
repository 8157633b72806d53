package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis queries over `documents` (SURVEY.md §2.E). */
object TextQueries {

  /** Lowercased whitespace tokens — the ONE token definition the
    * vocabulary/encoding/BPE family (E15–E18) shares; a tokenization
    * tweak lands here once or the operators drift apart.
    * [[Dedup.tokens]] is the un-lowered twin the dedup family uses.
    */
  private[graft] def lowerTokens(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    regexp_extract_all(lower(c), lit("\\S+"), lit(0))

  /** Vocabulary bound under which [[tfidfTopTerms]] and [[fluency]]
    * broadcast their vocabulary-sized tables; each call's
    * `maxBroadcastVocab` overrides it, 0 forcing the join path.
    */
  private val MaxBroadcastVocab = 262144

  /** E1: token counting — whitespace tokens + BPE-ish estimate. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      wsTokenCount(col("text")).as("n_ws_tokens"),
      bpeTokenCount(col("text")).as("n_bpe_tokens"),
      punctCount(col("text")).as("n_punct"))

  /** E2: quality scoring. */
  def quality(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      meanWordLen(col("text")).as("mean_word_len"),
      qualityScore(col("text")).as("quality"))

  /** E3: language ID + per-language scores. */
  def langid(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val scored = StopwordProfiles.foldLeft(d) { case (acc, (lang, p)) =>
      acc.withColumn(s"c_$lang", stopwordCount(col("text"), p))
    }
    scored.select(col("doc_id") +: langId(col("text")).as("pred_lang") +:
      StopwordProfiles.map { case (l, _) => col(s"c_$l") }: _*)
  }

  /** E4: normalized md5 fingerprint + duplicate-group size.
    *
    * Shape at scale: ONE scan computing the fingerprint (a codegen'd
    * single-pass whitespace collapse + md5 — no regex engine), then
    * `count(*) OVER (PARTITION BY fingerprint)` — one shuffle, no
    * join. The previous self-join formulation scanned the corpus
    * twice (the aggregate side and the probe side each recomputed
    * the normalization+hash) and shuffled both sides; the window
    * buffers one fingerprint group at a time (spilling
    * ExternalAppendOnlyUnsafeRowArray), so even a 10⁸-copy viral
    * boilerplate group can't OOM an executor — which a
    * collect_list+explode one-pass variant would.
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables(spark, dir, "documents")
      .select(col("doc_id"), fingerprint(col("text")).as("fingerprint"))
      .withColumn("n_same",
        count(lit(1)).over(Window.partitionBy(col("fingerprint"))))
  }

  /** E5: TF-IDF top terms per document. idf is the raw N/df ratio
    * (not ln) so every value is exact integer-derived double
    * arithmetic — bit-identical across engines, no libm in the
    * compare. Top-3 per doc with a (score desc, term asc) total
    * order.
    *
    * Shape at scale: term frequency is a WITHIN-document statistic,
    * so the (doc, term) counts come from the codegen'd
    * [[graft.functions.expressions.TermCounts]] map pass — the
    * corpus-token explode + GROUP BY (doc, term) exchange (formerly
    * the biggest stage) doesn't exist. Document frequency aggregates
    * the exploded distinct-pairs stream map-side into a
    * vocabulary-sized table; the df join is AQE-sized with NO
    * broadcast hint (on a web-scale corpus the term table is
    * 10⁸–10⁹ rows and a forced broadcast is a guaranteed OOM; at
    * small scale AQE broadcasts it anyway). When AQE does broadcast,
    * each document's pairs stay contiguous in their scan partition,
    * so the H5 [[graft.plans.TopKPerGroup]] partial phase sees
    * complete doc groups and reduces to ≤3 rows per doc before its
    * exchange; under a sort-merge df join the partial phase's
    * runtime degrade handles the scattered layout instead. The node
    * emits the rank column natively — no window stage anywhere. The
    * corpus size N rides in as a 1-row aggregate cross join
    * (single-row broadcast), not a separate driver-side count().
    */
  def tfidfTopTerms(spark: SparkSession, dir: String,
      maxBroadcastVocab: Int = MaxBroadcastVocab): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val gf = graft.functions.GraftFunctions
    val pairs = d
      .select(col("doc_id"),
        explode(gf.termCounts(col("text"))).as("p"))
      .select(col("doc_id"), col("p.term").as("term"), col("p.tf").as("tf"))
    val df_ = pairs.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // Stats-gated fast path — the same vocabulary-broadcast shape as
    // E10's (see [[fluency]]): the df table is vocabulary-sized, so
    // when take(cap+1) proves it fits the driver bound, TfidfTop3
    // computes each document's exact top-3 in one byte pass (term
    // counts, score, bounded selection — the H5 ordering contract)
    // and the df join + TopKPerGroup exchange never exist. Web-scale
    // vocabularies fall through to the join plan.
    val vocab = if (maxBroadcastVocab > 0)
      df_.take(maxBroadcastVocab + 1) else Array.empty[org.apache.spark.sql.Row]
    if (maxBroadcastVocab > 0 && vocab.length <= maxBroadcastVocab) {
      val m = new java.util.HashMap[
        org.apache.spark.unsafe.types.UTF8String, java.lang.Long](
        math.max(16, vocab.length * 2))
      vocab.foreach { r =>
        m.put(org.apache.spark.unsafe.types.UTF8String.fromString(
          r.getString(0)), java.lang.Long.valueOf(r.getLong(1)))
      }
      val bc = spark.sparkContext.broadcast(m)
      val nDocs = d.count()
      return d.select(col("doc_id"),
          explode(gf.tfidfTop3(col("text"), bc, nDocs)).as("e"))
        .select(col("doc_id"), col("e.term").as("term"),
          col("e.rank").as("rank"), col("e.tfidf").as("tfidf"))
    }
    val nDf = d.agg(count(lit(1)).cast("double").as("__n_docs"))
    val scored = pairs.join(df_, Seq("term"))
      .crossJoin(nDf)
      .withColumn("tfidf",
        col("tf").cast("double") * (col("__n_docs") / col("df").cast("double")))
      .drop("__n_docs")
    graft.plans.TopKPerGroup(scored, 3, Seq("doc_id"),
        Seq("tfidf" -> true, "term" -> false), rankCol = Some("rank"))
      .select(col("doc_id"), col("term"), col("rank"), col("tfidf"))
  }

  /** E6: corpus-wide top bigrams — the vocabulary/statistics view a
    * data pipeline inspects before filtering. Bigrams form by zipping
    * the token array against its own tail (no per-element outer-
    * expression re-evaluation), multiplicities kept; one explode +
    * one hash aggregation + a top-N limit (planned as TakeOrdered —
    * no global sort materialization).
    */
  def topBigrams(spark: SparkSession, dir: String, n: Int = 20): DataFrame = {
    val bigrams = bigramArray(wsTokens(lower(col("text"))))
    Tables.spreadIfNarrow(Tables(spark, dir, "documents").select(col("text")))
      .select(explode(bigrams).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("bigram").asc)
      .limit(n)
  }

  /** E7: per-(source, lang) corpus inventory — the first dashboard a
    * data pipeline builds. Counts and extrema only (order-independent
    * exact); one map-side-combined aggregation.
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  /** E14: deterministic overlapping chunking — the fixed-window split
    * a training/RAG pipeline runs before tokenization (context-window
    * packing reads fixed-size pieces, retrieval indexes chunk
    * granularity). Windows of `size` chars every `stride` chars
    * (trailing overlap = size − stride carries context across the
    * boundary); starts are 1, 1+stride, … ≤ max(len,1), so an empty
    * document still yields its one (empty) chunk and every char
    * belongs to ≥1 chunk.
    *
    * Scale shape: map + explode, strictly linear in corpus bytes, no
    * shuffle — chunk rows inherit the scan's partitioning, ready for
    * a downstream repartition-by-doc or direct write.
    */
  def chunks(spark: SparkSession, dir: String, size: Int = 400,
      stride: Int = 300): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("chunk_start",
        explode(sequence(lit(1), greatest(length(col("text")), lit(1)),
          lit(stride))))
      .select(
        col("doc_id"),
        expr(s"(chunk_start - 1) div $stride").as("chunk_id"),
        col("chunk_start").cast("long").as("chunk_start"),
        expr(s"substring(text, chunk_start, $size)").as("chunk_text"))
      .withColumn("chunk_len", length(col("chunk_text")).cast("long"))

  /** E22 (r13): rule-based sentence segmentation — the granularity
    * bitext mining (D14), sentence-level dedup, and citation-span
    * work consume below E14's fixed-size chunks. Boundary = terminal
    * punctuation run + whitespace (`[.!?]+[ \t\r\n]+`), splitting
    * AWAY the boundary; abbreviation false-splits are the documented
    * price of a rules segmenter and fall identically on both engines.
    *
    * Cross-engine exactness: the whitespace class is spelled out
    * because Java's `\s` includes U+000B while RE2's does not — the
    * one regex-dialect divergence a shared pattern string would
    * silently smuggle into the oracle. `sent_idx` is the 1-based
    * index in the UNFILTERED split array (stable under the blank
    * filter, identical both sides). One codegen map pass + an
    * explode bounded by sentences-per-doc; no shuffle at all.
    */
  def sentences(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        split(col("text"), "[.!?]+[ \\t\\r\\n]+", -1).as("arr"))
      .select(col("doc_id"), posexplode(col("arr")).as(Seq("i", "sentence")))
      .filter(length(trim(col("sentence"))) > 0)
      .select(col("doc_id"), (col("i") + 1).cast("long").as("sent_idx"),
        col("sentence"),
        length(col("sentence")).cast("long").as("n_chars"))

  /** E23 (r13): mergeable distinct-token cardinality sketches —
    * Spark 4's Apache DataSketches HLL surface (`hll_sketch_agg` /
    * `hll_union_agg`) doing the thing exact distinct-counting cannot
    * at 100 TB: per-source sketches build in ONE map-side-combined
    * pass (KB-sized state per source, never a distinct shuffle), and
    * the corpus-wide cardinality comes from UNIONING the sketches —
    * no second scan, and the same merge serves new shards
    * incrementally (sketch-union is associative; the dataset-card
    * refresh never re-reads old shards). B11's approx_count_distinct
    * answers once and is gone; a persisted sketch is the REUSABLE
    * form. Tokenization = E15's `\S+` convention.
    *
    * Approximate (HLL, lgK=12 default ⇒ ~1.6% rse) ⇒ rows-only; the
    * `_check` twin recomputes the EXACT distinct counts in both
    * engines and pins |est/exact − 1| ≤ 5% per source and corpus-wide
    * (the AnnChecks discipline). `"__ALL__"` is a RESERVED sentinel
    * for the corpus row (no generator source uses it; a corpus that
    * did would need a different marker). Oracle tokenization pairs
    * Java `\S+` with RE2 `\S+` — the E15-family convention (they
    * differ only on U+000B, absent from the corpora; E22 documents
    * the dialect detail).
    */
  def tokenCardinality(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables(spark, dir, "documents")
      .select(col("source"),
        explode(lowerTokens(col("text"))).as("tok"))
      .groupBy(col("source"))
      .agg(hll_sketch_agg(col("tok")).as("sk"))
    per.select(col("source"),
        hll_sketch_estimate(col("sk")).as("est_distinct"))
      .unionByName(per.agg(hll_union_agg(col("sk")).as("sk"))
        .select(lit("__ALL__").as("source"),
          hll_sketch_estimate(col("sk")).as("est_distinct")))
  }

  /** E23b (r14): the sketches as a PERSISTED per-shard artifact —
    * the incremental dataset-card form [[tokenCardinality]]'s doc
    * promises. `{name}_sketch` holds one (batch_id, source, sk) row
    * per shard×source; the base build is batch −1 and appends
    * publish batch partials exactly-once (the D10/G10 discipline:
    * staging-rename keyed by batch id, replays converge — never a
    * read-modify-write of the base rows). Serving unions the rows
    * per source — a SKETCH-table-only job, so a new shard updates
    * the corpus card without re-reading any old shard's text; union
    * ≡ one-pass is exact at fixed lgK (TrainingPrepSpec pins the
    * estimates equal, not approximately equal).
    */
  def buildTokenSketches(db: graft.catalog.GraftDatabase, name: String,
      docs: DataFrame): Unit =
    db.write(shardSketches(docs, batchId = -1L), s"${name}_sketch",
      org.apache.spark.sql.SaveMode.Overwrite)

  /** Publish one new shard's sketch partials under `batchId` —
    * idempotent; also the streaming micro-batch body
    * ([[graft.streaming.StreamingTextIndex.maintainTokenSketches]]).
    * Appended docs are NEW by the same contract as the text index's
    * G10 appends; re-sketching an existing document only wastes a
    * little accuracy headroom (HLL insertion is idempotent per
    * distinct token), it never double-counts.
    */
  def appendTokenSketches(db: graft.catalog.GraftDatabase, name: String,
      docs: DataFrame, batchId: Long): Unit = {
    require(batchId >= 0,
      s"negative batchId $batchId is reserved for the base build")
    graft.streaming.IngestPublish.publishFiles(db, s"${name}_sketch",
      shardSketches(docs, batchId), batchId)
    ()
  }

  private def shardSketches(docs: DataFrame, batchId: Long): DataFrame =
    docs.select(col("source"),
        explode(lowerTokens(col("text"))).as("tok"))
      .groupBy(col("source"))
      .agg(hll_sketch_agg(col("tok")).as("sk"))
      .select(lit(batchId).as("batch_id"), col("source"), col("sk"))

  /** Serve the corpus card from the persisted sketches alone: per-
    * source estimates + the `__ALL__` corpus row, same schema as
    * [[tokenCardinality]]. Cost is proportional to shards×sources,
    * never to corpus text.
    */
  def tokenCardinalityFromSketches(db: graft.catalog.GraftDatabase,
      name: String): DataFrame = {
    val per = db.read(s"${name}_sketch")
      .groupBy(col("source"))
      .agg(hll_union_agg(col("sk")).as("sk"))
    per.select(col("source"),
        hll_sketch_estimate(col("sk")).as("est_distinct"))
      .unionByName(per.agg(hll_union_agg(col("sk")).as("sk"))
        .select(lit("__ALL__").as("source"),
          hll_sketch_estimate(col("sk")).as("est_distinct")))
  }

  /** The E23 invariant row: exact distinct counts (both engines can
    * compute these) + the 5% accuracy flag only Spark can attest.
    * The EXACT branches share ONE tokenize pass (both derive from a
    * persisted distinct (source, tok) frame — the naive form
    * re-scanned the corpus per branch); the estimate branch
    * deliberately re-runs [[tokenCardinality]] itself — its own
    * tokenize scan — so the check attests the row the main query
    * actually serves, not a reconstruction (r14 ADVICE: the old
    * comment overclaimed one pass for all three). Null-safe join: a
    * NULL source is a real group in both engines' GROUP BY and must
    * not be dropped by the compare.
    */
  def tokenCardinalityCheck(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables(spark, dir, "documents")
      .select(col("source"),
        explode(lowerTokens(col("text"))).as("tok"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exact = pairs.groupBy(col("source"))
      .agg(count(col("tok")).as("exact_distinct")) // pairs are distinct
      .unionByName(pairs.agg(countDistinct(col("tok"))
          .as("exact_distinct"))
        .select(lit("__ALL__").as("source"), col("exact_distinct")))
    val out = exact.join(tokenCardinality(spark, dir)
          .withColumnRenamed("source", "__esrc"),
        col("source") <=> col("__esrc"))
      .select(col("source"), col("exact_distinct"),
        (abs(col("est_distinct").cast("double") /
          col("exact_distinct").cast("double") - 1.0) <= 0.05)
          .as("within_5pct"))
    graft.CacheHygiene.unpersistAfterUse(pairs)
    out
  }

  /** E15: corpus vocabulary — the fixed-size token inventory a
    * tokenizer build pins before encoding: id = 1-based rank of the
    * lowercased whitespace token under (occurrences DESC, term ASC),
    * capped at `maxSize` (the vocab_size hyperparameter; everything
    * below the cap is OOV). The order is total (term breaks count
    * ties), so ids are bit-reproducible on any cluster.
    *
    * Scale shape: one explode → map-side-combined count (vocabulary-
    * sized output), then [[Ranks.globalRowNumber]] — a range-exchange
    * two-phase rank, NOT a single-partition `row_number()` window: a
    * real web corpus's vocabulary (every typo, every number) runs to
    * 10⁸+ terms, which must never funnel through one task.
    */
  def vocabulary(spark: SparkSession, dir: String,
      maxSize: Int = 20): DataFrame =
    vocabularyOf(Tables(spark, dir, "documents"), maxSize)

  private[graft] def vocabularyOf(docs: DataFrame,
      maxSize: Int): DataFrame = {
    val counts = docs
      .select(explode(lowerTokens(col("text")))
        .as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n_occurrences"))
    val order = Seq(col("n_occurrences").desc, col("term").asc)
    if (maxSize <= 65536) {
      // vocab_size is a bounded hyperparameter, not data-proportional:
      // below the gate the rank over the SURVIVORS is bounded too, so
      // orderBy+limit plans as TakeOrderedAndProject (per-partition
      // partial top-k, no full sort, no range-sampling job) and the
      // id assignment is a window over ≤ maxSize rows — scale-correct
      // because the cap, not the corpus, bounds the single task.
      import org.apache.spark.sql.expressions.Window
      counts.orderBy(order: _*).limit(maxSize)
        .withColumn("id",
          row_number().over(Window.orderBy(order: _*)).cast("long"))
        .select(col("id"), col("term"), col("n_occurrences"))
    } else {
      // a full-vocabulary id table (10⁸+ terms on a web corpus) goes
      // through the distributed two-phase rank instead
      Ranks.globalRowNumber(counts, order, "id")
        .filter(col("id") <= maxSize)
        .select(col("id"), col("term"), col("n_occurrences"))
    }
  }

  /** E15b: approximate vocabulary via the H17 Misra–Gries summary +
    * exact recount — the two-pass composition the H17 scaladoc
    * prescribes, wired as a query twin of E15: pass 1 folds the token
    * stream into a k-entry MG summary per partition (merged
    * associatively — partitions × k rows shuffle, NEVER the
    * vocabulary), pass 2 recounts ONLY the ≤ k candidate terms
    * exactly (broadcast semi-join — the candidate set is bounded by
    * construction) and ranks them under E15's (count desc, term asc)
    * total order.
    *
    * Exactness contract: every term with true frequency > n/(k+1)
    * survives the summary (the MG guarantee, spec-pinned), so
    * whenever the corpus's rank-`maxSize` term clears that threshold
    * — any Zipf-shaped corpus with k ≫ maxSize — the candidate set
    * is a superset of the true top-`maxSize` and the recounted
    * result is EXACTLY the E15 vocabulary. That is why this query
    * shares E15's oracle verbatim instead of a weaker `_check` row.
    *
    * Why it exists when E15 is already scale-correct: E15 pays a
    * vocabulary-sized shuffle (every distinct term crosses the wire
    * once). At 10⁸⁺ distinct keys — hashed features, URLs, n-grams —
    * when only the heavy head matters, MG's partitions × k bound is
    * the shape that survives; this query pins that the cheap shape
    * agrees with the exact one where their contracts overlap.
    */
  def vocabularyApprox(spark: SparkSession, dir: String,
      maxSize: Int = 20, sketchK: Int = 2048): DataFrame =
    vocabularyApproxOf(Tables(spark, dir, "documents"), maxSize, sketchK)

  private[graft] def vocabularyApproxOf(docs: DataFrame,
      maxSize: Int, sketchK: Int): DataFrame = {
    require(sketchK >= maxSize,
      s"summary size k=$sketchK must be >= vocabulary cap $maxSize")
    // Both passes ride the per-doc DISTINCT (term, tf) stream from
    // the codegen'd TermCounts byte pass (the E5/E10 treatment, r8):
    // the weighted summary reduces once per (doc, term) instead of
    // once per token occurrence — a singleton-merge is exactly the MG
    // merge rule, so every guarantee holds with n = Σ tf ≡ corpus
    // tokens — and the recount is Σ_distinct tf ≡ Σ_occurrences,
    // exact long arithmetic. No per-occurrence explode anywhere.
    val gf = graft.functions.GraftFunctions
    val pairs = docs
      .select(explode(gf.termCounts(lower(col("text")), 1, 1)).as("p"))
      .select(col("p.term").as("term"), col("p.tf").as("tf"))
    val cand = pairs
      .agg(graft.functions.HeavyHitters
        .heavyHittersWeighted(sketchK)(col("term"), col("tf")).as("hh"))
      .select(explode(col("hh")).as("kc"))
      .select(col("kc.key").as("term"))
    val counts = pairs.join(broadcast(cand), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(sum(col("tf")).as("n_occurrences"))
    import org.apache.spark.sql.expressions.Window
    val order = Seq(col("n_occurrences").desc, col("term").asc)
    // ≤ k rows reach the rank — the window is bounded by the sketch,
    // not the corpus (E15's small-branch argument, with MG as the cap)
    counts.orderBy(order: _*).limit(maxSize)
      .withColumn("id",
        row_number().over(Window.orderBy(order: _*)).cast("long"))
      .select(col("id"), col("term"), col("n_occurrences"))
  }

  /** E16: corpus encoding against the E15 vocabulary — each document
    * becomes its token-id sequence (OOV → 0), plus token/OOV counts:
    * the tokenize-to-ids pass that feeds sequence packing (C12) and
    * training shards. Emitted as a space-joined id string so the
    * cross-engine hash check covers the exact sequence.
    *
    * Scale shape: the corpus side is one posexplode; the vocabulary
    * join is an equi-join on the term AQE sizes (broadcast while the
    * capped vocab is small — which a capped vocab IS by construction);
    * reassembly groups on doc_id, and doc-contiguous scan partitions
    * let the collect_list partial phase build each doc's array
    * map-side.
    */
  def encodeIds(spark: SparkSession, dir: String,
      maxSize: Int = 20): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val v = vocabularyOf(docs, maxSize).select(col("term"), col("id"))
    docs.select(col("doc_id"),
        posexplode(lowerTokens(col("text")))
          .as(Seq("p", "term")))
      .join(v, Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_oov"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(
              struct(col("p"), coalesce(col("id"), lit(0L)).as("id")))),
            s => s.getField("id").cast("string"))).as("encoded"))
  }

  /** E10: statistical fluency under the corpus's own bigram model —
    * the cheap LM-style quality signal (a doc whose bigrams are
    * common corpus-wide reads as fluent; word salad scores low).
    * Score = Σc(w1 w2) / Σc(w1) over the doc's bigram slots —
    * aggregate conditional mass from corpus counts. Integer sums
    * (order-free, exact) with ONE final double division keep it
    * bit-portable; a per-slot mean of double ratios would sum in
    * partition order, and a real perplexity's log/exp would pull in
    * libm — neither hash-matches across engines.
    *
    * Shape at scale: per-document gram multiplicities come from the
    * codegen'd [[graft.functions.expressions.TermCounts]] map pass,
    * so every downstream stream carries DISTINCT (doc, gram) pairs
    * weighted by tf instead of raw slots — Σ_slots c(g) ≡
    * Σ_distinct tf·c(g), exact long arithmetic either way. The two
    * count tables (bigram, unigram — vocabulary-sized, AQE-sized
    * joins, NO broadcast hints) are weighted sums of those pairs,
    * map-side combined to vocabulary size before their exchanges;
    * they join each other FIRST (both vocabulary-sized) into one
    * per-bigram (c2, c1) lookup, so the corpus-scale doc-pair side
    * shuffles through exactly one join — and since each document's
    * pairs stay contiguous in their scan partition, the final
    * per-doc aggregation combines to one row per doc map-side. The
    * per-doc count arrays are persisted across the three consumers
    * and released after the consuming action (CacheHygiene) so
    * long-lived sessions don't strand corpus-scale cache entries.
    */
  def fluency(spark: SparkSession, dir: String,
      maxBroadcastVocab: Int = MaxBroadcastVocab): DataFrame = {
    // maxBroadcastVocab=0 forces the join path (the equality spec's
    // lever, and the knob for clusters whose executors are tighter
    // on memory than the default ~tens-of-MB vocabulary bound)
    val gf = graft.functions.GraftFunctions
    val t0 = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        gf.termCounts(lower(col("text")), 1, 2).as("gc"))
    // BOTH vocabulary tables from ONE explode+agg: unigrams and
    // bigrams ride the same gram stream (a token never contains a
    // space, a bigram always does — the E9 classification trick).
    val cntOf = (src: DataFrame) => src.select(explode(col("gc")).as("p"))
      .groupBy(col("p.term").as("g")).agg(sum(col("p.tf")).as("c"))
    // Stats-gated fast path (H13's gating idea applied to a
    // vocabulary): the aggregated gram counts are VOCABULARY-sized —
    // corpus-scale explode in, ~|vocab| rows out — so when they fit
    // the driver bound, broadcasting them lets FluencyScore produce
    // each document's exact score in one byte pass: no per-doc count
    // cache, no corpus-scale pair stream, no join, no re-aggregation
    // (the 10× board measured 2.17 s for that tail vs 0.9 s for
    // this shape). take(cap+1) bounds driver memory BEFORE the
    // decision: if it returns more than cap rows the vocabulary is
    // too big, and we fall through to the join plan — the shape that
    // scales to a 100 TB natural-language vocabulary no driver can
    // hold.
    val vocab = if (maxBroadcastVocab > 0)
      cntOf(t0).take(maxBroadcastVocab + 1) else Array.empty[org.apache.spark.sql.Row]
    if (maxBroadcastVocab > 0 && vocab.length <= maxBroadcastVocab) {
      val m = new java.util.HashMap[
        org.apache.spark.unsafe.types.UTF8String, java.lang.Long](
        math.max(16, vocab.length * 2))
      vocab.foreach { r =>
        m.put(org.apache.spark.unsafe.types.UTF8String.fromString(
          r.getString(0)), java.lang.Long.valueOf(r.getLong(1)))
      }
      val bc = spark.sparkContext.broadcast(m)
      return Tables(spark, dir, "documents")
        .select(col("doc_id"),
          gf.fluencyScore(lower(col("text")), bc).as("s"))
        .filter(col("s").isNotNull)
        .select(col("doc_id"), col("s.fluency").as("fluency"),
          col("s.n_bigrams").as("n_bigrams"))
    }
    val t = graft.CacheHygiene.unpersistAfterUse(
      t0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // the two filters consume the same aggregated exchange
    // (ReuseExchange dedups it)
    val cnt = cntOf(t)
    val uniCnt = cnt.filter(!col("g").contains(" "))
      .select(col("g").as("w1"), col("c").as("c1"))
    val biCnt = cnt.filter(col("g").contains(" "))
      .select(col("g").as("bigram"), col("c").as("c2"))
    val perBigram = biCnt
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .join(uniCnt, Seq("w1"))
      .select(col("bigram"), col("c2"), col("c1"))
    t.select(col("doc_id"), explode(col("gc")).as("p"))
      .filter(col("p.term").contains(" "))
      .select(col("doc_id"), col("p.term").as("bigram"), col("p.tf").as("tf"))
      .join(perBigram, Seq("bigram"))
      .groupBy(col("doc_id"))
      .agg((sum(col("tf") * col("c2")).cast("double")
          / sum(col("tf") * col("c1")).cast("double")).as("fluency"),
        sum(col("tf")).as("n_bigrams"))
  }

  private val profileSql: Map[String, String] = Map(
    "en" -> "\\b(the|and|of|to|is|in|it|a)\\b",
    "de" -> "\\b(der|die|und|das|ist|ein|zu)\\b",
    "es" -> "\\b(el|los|las|una|es|y|que)\\b",
    "fr" -> "\\b(le|les|et|est|une|dans|que)\\b")

  val oracles: Map[String, String] = Map(
    // E23 _check: exact distinct counts from the same tokenization;
    // the accuracy flag is Spark's to attest (TRUE expected)
    "text_token_cardinality_check" ->
      """WITH t AS (SELECT source,
        |    unnest(regexp_extract_all(lower(text), '\S+')) AS tok
        |  FROM documents),
        |p AS (SELECT source, COUNT(DISTINCT tok) AS exact_distinct
        |  FROM t GROUP BY source
        |  UNION ALL
        |  SELECT '__ALL__', COUNT(DISTINCT tok) FROM t)
        |SELECT source, CAST(exact_distinct AS BIGINT) AS exact_distinct,
        |  TRUE AS within_5pct
        |FROM p""".stripMargin,
    // E22: explicit whitespace class — Java \s includes U+000B,
    // RE2's does not; the spelled-out class is dialect-neutral
    "text_sentences" ->
      """WITH s AS (SELECT doc_id,
        |    regexp_split_to_array(text, '[.!?]+[ \t\r\n]+') AS arr
        |  FROM documents),
        |x AS (SELECT doc_id, CAST(u.i AS BIGINT) AS sent_idx,
        |    arr[u.i] AS sentence
        |  FROM s, LATERAL unnest(generate_series(1, len(arr))) AS u(i))
        |SELECT doc_id, sent_idx, sentence,
        |  CAST(length(sentence) AS BIGINT) AS n_chars
        |FROM x WHERE length(trim(sentence)) > 0""".stripMargin,
    "text_chunks" ->
      """WITH s AS (SELECT doc_id, text,
        |  unnest(generate_series(1, greatest(length(text), 1), 300)) AS chunk_start
        |  FROM documents)
        |SELECT doc_id, (chunk_start - 1) // 300 AS chunk_id,
        |  chunk_start,
        |  substr(text, CAST(chunk_start AS INT), 400) AS chunk_text,
        |  length(substr(text, CAST(chunk_start AS INT), 400)) AS chunk_len
        |FROM s""".stripMargin,
    "text_token_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
        |  len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct
        |FROM documents""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id,
         |  CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
         |    / CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS mean_word_len,
         |  LEAST(1.0, CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) / 50.0) * 0.4
         |  + LEAST(1.0, (CAST(len(regexp_extract_all(text, '${profileSql("en")}')) AS DOUBLE)
         |      / CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE)) * 8.0) * 0.4
         |  + (1.0 - LEAST(1.0, (CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |      / CAST(length(text) AS DOUBLE)) * 10.0)) * 0.2 AS quality
         |FROM documents""".stripMargin,
    "text_langid" ->
      s"""WITH c AS (SELECT doc_id,
         |  len(regexp_extract_all(text, '${profileSql("en")}')) AS c_en,
         |  len(regexp_extract_all(text, '${profileSql("de")}')) AS c_de,
         |  len(regexp_extract_all(text, '${profileSql("es")}')) AS c_es,
         |  len(regexp_extract_all(text, '${profileSql("fr")}')) AS c_fr
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN c_en=0 AND c_de=0 AND c_es=0 AND c_fr=0 THEN 'und'
         |       WHEN c_en >= GREATEST(c_de, c_es, c_fr) AND c_en > 0 THEN 'en'
         |       WHEN c_de >= GREATEST(c_es, c_fr) AND c_de > 0 THEN 'de'
         |       WHEN c_es >= c_fr AND c_es > 0 THEN 'es'
         |       WHEN c_fr > 0 THEN 'fr'
         |       ELSE 'und' END AS pred_lang,
         |  c_en, c_de, c_es, c_fr
         |FROM c""".stripMargin,
    "text_tfidf_top_terms" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(regexp_extract_all(text, '\S+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |  FROM toks GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM
        |  (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (SELECT doc_id, term,
        |    CAST(tf AS DOUBLE) * (CAST(n AS DOUBLE) / CAST(df AS DOUBLE))
        |      AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term ASC) AS rank
        |  FROM scored)
        |SELECT doc_id, term, rank, tfidf FROM r WHERE rank <= 3""".stripMargin,
    "text_corpus_stats" ->
      """SELECT source, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY source, lang""".stripMargin,
    "text_top_bigrams" ->
      """WITH t AS (SELECT regexp_extract_all(lower(text), '\S+') w
        |  FROM documents),
        |b AS (SELECT unnest([w[i]||' '||w[i+1] for i in range(1, len(w))]) bigram
        |  FROM t)
        |SELECT bigram, COUNT(*) AS n_occurrences FROM b GROUP BY bigram
        |ORDER BY n_occurrences DESC, bigram ASC LIMIT 20""".stripMargin,
    "text_fluency" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') w
        |  FROM documents),
        |db AS (SELECT doc_id,
        |    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) bigram
        |  FROM t),
        |dbw AS (SELECT doc_id, bigram,
        |    string_split(bigram, ' ')[1] AS w1 FROM db),
        |uc AS (SELECT unnest(w) w1 FROM t),
        |u AS (SELECT w1, COUNT(*) c1 FROM uc GROUP BY 1),
        |b AS (SELECT bigram, COUNT(*) c2 FROM db GROUP BY 1),
        |j AS (SELECT d.doc_id, b.c2, u.c1 FROM dbw d
        |  JOIN b USING (bigram) JOIN u USING (w1))
        |SELECT doc_id,
        |  CAST(SUM(c2) AS DOUBLE) / CAST(SUM(c1) AS DOUBLE) AS fluency,
        |  COUNT(*) AS n_bigrams
        |FROM j GROUP BY doc_id""".stripMargin,
    "text_vocab" ->
      """WITH tok AS (SELECT unnest(regexp_extract_all(lower(text), '\S+')) w
        |             FROM documents),
        |c AS (SELECT w, COUNT(*) c FROM tok GROUP BY w),
        |v AS (SELECT w, c, ROW_NUMBER() OVER (ORDER BY c DESC, w) id FROM c)
        |SELECT id, w AS term, c AS n_occurrences FROM v WHERE id <= 20""".stripMargin,
    // E15b shares E15's EXACT oracle: the MG candidate set provably
    // contains every term above n/(k+1), so the recounted top-20 IS
    // the exact top-20 on any corpus whose 20th term clears that bar.
    "text_vocab_approx" ->
      """WITH tok AS (SELECT unnest(regexp_extract_all(lower(text), '\S+')) w
        |             FROM documents),
        |c AS (SELECT w, COUNT(*) c FROM tok GROUP BY w),
        |v AS (SELECT w, c, ROW_NUMBER() OVER (ORDER BY c DESC, w) id FROM c)
        |SELECT id, w AS term, c AS n_occurrences FROM v WHERE id <= 20""".stripMargin,
    "text_encode_ids" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') t
        |             FROM documents),
        |pos AS (SELECT doc_id, unnest(t) w,
        |          unnest(generate_series(1, len(t))) p FROM tok),
        |c AS (SELECT w, COUNT(*) c FROM pos GROUP BY w),
        |v AS (SELECT w, id FROM
        |  (SELECT w, ROW_NUMBER() OVER (ORDER BY c DESC, w) id FROM c)
        |  WHERE id <= 20),
        |e AS (SELECT doc_id, p, COALESCE(id, 0) id,
        |        CASE WHEN id IS NULL THEN 1 ELSE 0 END oov
        |      FROM pos LEFT JOIN v USING (w))
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(oov) AS BIGINT) AS n_oov,
        |  array_to_string(list(CAST(id AS VARCHAR) ORDER BY p), ' ') AS encoded
        |FROM e GROUP BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """WITH f AS (SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
        |  FROM documents)
        |SELECT doc_id, fingerprint,
        |  COUNT(*) OVER (PARTITION BY fingerprint) AS n_same
        |FROM f""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_token_stats" -> (tokenStats _),
    "text_quality" -> (quality _),
    "text_langid" -> (langid _),
    "text_tfidf_top_terms" -> ((s, d) => tfidfTopTerms(s, d)),
    "text_fingerprint" -> (fingerprints _),
    "text_fluency" -> ((s, d) => fluency(s, d)),
    "text_top_bigrams" -> ((s, d) => topBigrams(s, d)),
    "text_corpus_stats" -> (corpusStats _),
    "text_chunks" -> ((s, d) => chunks(s, d)),
    "text_sentences" -> ((s, d) => sentences(s, d)),
    "text_token_cardinality" -> ((s, d) => tokenCardinality(s, d)),
    "text_token_cardinality_check" ->
      ((s, d) => tokenCardinalityCheck(s, d)),
    "text_vocab" -> ((s, d) => vocabulary(s, d)),
    "text_vocab_approx" -> ((s, d) => vocabularyApprox(s, d)),
    "text_encode_ids" -> ((s, d) => encodeIds(s, d))
  )
}
