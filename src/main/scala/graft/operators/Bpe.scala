package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** E17: BPE merge learning — the tokenizer-training step (Sennrich et
  * al. 2016; the GPT-2/LLaMA vocabulary build): repeatedly find the
  * most frequent adjacent symbol pair in the corpus and fuse it into
  * a new symbol, recording the merge table in rank order.
  *
  * Scale discipline: the CORPUS is touched exactly once — the initial
  * word-frequency aggregation (map-side combined, vocabulary-sized
  * output). Everything after that is VOCABULARY-scale work (the
  * industrial-trainer shape: HF tokenizers trains from word counts,
  * not raw text), in one of two regimes with identical output:
  *
  *  - **In-core trainer** when the vocabulary fits the driver
  *    (≤ [[MaxDriverVocab]] distinct words): the K merge rounds run
  *    as a local loop over (syms, n) pairs — the same argmax under
  *    the same total order (count DESC, left ASC, right ASC, string
  *    order = UTF-8 byte order, matching Spark's UTF8String
  *    comparison), the same left-to-right non-overlapping merge
  *    pass. This is how single-box tokenizer trainers work, and the
  *    same philosophy as C9's bounded union-find: when one side is
  *    provably small, stop distributing it. r15 OPT: the previous
  *    always-distributed loop paid K scheduled jobs (pair explode →
  *    shuffle → TakeOrdered) plus K persists over a vocabulary of a
  *    few 10⁴ rows — ~2.2 s of the sf0.1 board for µs of real work.
  *  - **Distributed rounds** above the bound (a 100 TB web corpus
  *    can exceed any driver bound with long-tail typo/URL tokens):
  *    per round, adjacent pairs explode from the symbol arrays
  *    (zip_with over two slices), weighted count, one TakeOrdered(1)
  *    argmax, then a map-only fold rewrites the symbol arrays.
  *    Each round persists its rewritten vocabulary and releases the
  *    grandparent so round k is one fold pass over cached rows,
  *    never a replay of the k−1 earlier rewrites.
  *
  * The K-round sequential dependency is the algorithm's, not a scale
  * bug — each round's winner defines the next round's pair space.
  * BpeSpec pins in-core ≡ distributed on the same corpus.
  */
object Bpe {

  /** Bound on the collected (word, count) vocabulary for the in-core
    * trainer; above it the distributed round loop runs. ~100 bytes
    * per entry ⇒ ≲100 MB of driver heap (the bench regime never
    * comes close). `learnMergesOf`'s `maxDriverVocab` overrides it
    * per call; 0 forces the distributed loop.
    */
  private[operators] val MaxDriverVocab: Int = 1 << 20

  /** Character symbols of a word (initial BPE state). */
  private def chars(c: Column): Column =
    transform(sequence(lit(1), length(c)), i => c.substr(i, lit(1)))

  /** [[chars]]' driver twin: per-CODE-POINT symbols (Spark's
    * length/substr count code points, not UTF-16 units — a
    * Char-array split would tear surrogate pairs).
    */
  private[operators] def charsLocal(w: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val n = Character.charCount(cp)
      out += w.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** One left-to-right, non-overlapping merge pass: every adjacent
    * (l, r) in the symbol array fuses to l+r; a just-fused symbol
    * does not re-participate in this pass ("aaa" + (a,a) → ["aa","a"]).
    * A fold with (emitted, pending) state — the pending symbol either
    * fuses with the next one or flushes.
    */
  private[graft] def mergeOnce(syms: Column, l: String,
      r: String): Column = {
    val zero = struct(
      array().cast("array<string>").as("out"),
      lit(null).cast("string").as("pend"))
    aggregate(
      syms,
      zero,
      (acc, x) => {
        val out = acc.getField("out")
        val pend = acc.getField("pend")
        when(pend.isNull, struct(out.as("out"), x.as("pend")))
          .when(pend === lit(l) && x === lit(r),
            struct(concat(out, array(lit(l + r))).as("out"),
              lit(null).cast("string").as("pend")))
          .otherwise(struct(concat(out, array(pend)).as("out"),
            x.as("pend")))
      },
      acc => when(acc.getField("pend").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("pend")))))
  }

  /** [[mergeOnce]]'s driver twin — the same (emitted, pending) fold,
    * element for element. */
  private[operators] def mergeOnceLocal(syms: Array[String], l: String,
      r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var pend: String = null
    var i = 0
    while (i < syms.length) {
      val x = syms(i)
      if (pend == null) pend = x
      else if (pend == l && x == r) { out += (l + r); pend = null }
      else { out += pend; pend = x }
      i += 1
    }
    if (pend != null) out += pend
    out.toArray
  }

  /** Spark's string total order is UTF8String comparison = unsigned
    * UTF-8 byte order = code-point order. Scala's String `<` is
    * UTF-16 code-UNIT order, which disagrees above the BMP — the
    * driver argmax must break ties exactly like the distributed
    * TakeOrdered, so compare UTF-8 bytes.
    */
  private[operators] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The in-core K-round trainer over a mutable (syms, n) vocabulary.
    * Mutates `syms` in place to the post-merge state (the
    * segmentation vocabulary) and returns the merge table. Argmax
    * order and merge pass are bit-equal to the distributed forms —
    * pinned by BpeSpec.
    */
  private[operators] def learnLocal(syms: Array[Array[String]],
      ns: Array[Long], nMerges: Int,
      minPair: Long): Seq[(Int, String, String, Long)] = {
    val merges =
      scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var k = 1
    var done = false
    while (k <= nMerges && !done) {
      val counts = new java.util.HashMap[(String, String), Long]()
      var wi = 0
      while (wi < syms.length) {
        val s = syms(wi)
        val n = ns(wi)
        var i = 0
        while (i < s.length - 1) {
          counts.merge((s(i), s(i + 1)), n, _ + _)
          i += 1
        }
        wi += 1
      }
      var bestP: (String, String) = null
      var bestN = Long.MinValue
      counts.forEach { (p, c) =>
        if (c > bestN || (c == bestN &&
            (utf8Lt(p._1, bestP._1) ||
              (p._1 == bestP._1 && utf8Lt(p._2, bestP._2))))) {
          bestP = p; bestN = c
        }
      }
      if (bestP == null || bestN < minPair) done = true
      else {
        merges += ((k, bestP._1, bestP._2, bestN))
        var i = 0
        while (i < syms.length) {
          // only rewrite words that can contain the pair
          val s = syms(i)
          var j = 0
          var hit = false
          while (!hit && j < s.length - 1) {
            hit = s(j) == bestP._1 && s(j + 1) == bestP._2
            j += 1
          }
          if (hit) syms(i) = mergeOnceLocal(s, bestP._1, bestP._2)
          i += 1
        }
        k += 1
      }
    }
    merges.toSeq
  }

  /** The one corpus-scale pass: (word, n) counts. */
  private def wordCounts(texts: DataFrame): DataFrame =
    texts
      .select(explode(TextQueries.lowerTokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** Collect the vocabulary when it fits the driver bound; None past
    * it (ONE job either way — head(bound+1) stops pulling at the
    * bound instead of counting first).
    */
  private def collectVocab(counted: DataFrame,
      maxDriverVocab: Int): Option[Array[(String, Long)]] = {
    if (maxDriverVocab <= 0) return None
    val lim =
      if (maxDriverVocab == Int.MaxValue) Int.MaxValue else maxDriverVocab + 1
    val head = counted.head(lim)
    if (head.length > maxDriverVocab) None
    else Some(head.map(r => (r.getString(0), r.getLong(1))))
  }

  /** Adjacent symbol pairs of each vocabulary row, weighted by the
    * word's corpus frequency.
    */
  private def pairCounts(words: DataFrame): DataFrame =
    words.filter(size(col("syms")) >= 2)
      .select(explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"), col("n"))
      .groupBy(col("p.l").as("left"), col("p.r").as("right"))
      .agg(sum(col("n")).as("n_occurrences"))

  /** Learn `nMerges` merges over the documents table; stops early when
    * no pair reaches `minPair`. Returns (rank, left, right,
    * n_occurrences) — the merge table a tokenizer ships.
    */
  def learnMerges(spark: SparkSession, dir: String, nMerges: Int = 10,
      minPair: Long = 2L): DataFrame =
    learnMergesOf(spark,
      Tables(spark, dir, "documents").select(col("text")), nMerges, minPair)

  def learnMergesOf(spark: SparkSession, texts: DataFrame, nMerges: Int,
      minPair: Long,
      maxDriverVocab: Int = MaxDriverVocab): DataFrame = {
    val counted = wordCounts(texts)
    val merges = collectVocab(counted, maxDriverVocab) match {
      case Some(vocab) =>
        learnLocal(vocab.map(v => charsLocal(v._1)), vocab.map(_._2),
          nMerges, minPair)
      case None =>
        learnMergesDistributed(
          counted.select(chars(col("word")).as("syms"), col("n")),
          nMerges, minPair)
    }
    import spark.implicits._
    merges.toDF("rank", "left", "right", "n_occurrences")
      .select(col("rank").cast("long"), col("left"), col("right"),
        col("n_occurrences"))
  }

  /** The distributed K-round loop (vocabulary past the driver
    * bound). */
  private def learnMergesDistributed(words0: DataFrame, nMerges: Int,
      minPair: Long): Seq[(Int, String, String, Long)] = {
    val words = words0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    // Each round persists its rewritten vocabulary and releases the
    // grandparent AFTER the round's argmax has materialized the child
    // — so round k is always ONE fold pass over cached rows, never a
    // replay of the k−1 earlier rewrites (an unpersisted chain made
    // the loop O(K²) in fold passes and stacked K nested aggregate()
    // expressions toward Catalyst's codegen depth limits).
    var cur = words
    var retired: DataFrame = null
    try {
      var done = false
      var k = 1
      while (k <= nMerges && !done) {
        // materializes cur's cache as a side effect of the argmax
        val top = pairCounts(cur)
          .orderBy(col("n_occurrences").desc, col("left").asc,
            col("right").asc)
          .limit(1).collect()
        if (retired != null) { retired.unpersist(blocking = false); retired = null }
        if (top.isEmpty || top(0).getLong(2) < minPair) done = true
        else {
          val (l, r, c) =
            (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((k, l, r, c))
          val next = cur.withColumn("syms", mergeOnce(col("syms"), l, r))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          retired = cur // still cached — next is built from it lazily
          cur = next
          k += 1
        }
      }
    } finally {
      words.unpersist(blocking = false)
      if (retired != null) retired.unpersist(blocking = false)
      if (cur ne words) cur.unpersist(blocking = false)
    }
    merges.toSeq
  }

  /** Driver-visible correctness row (the AnnChecks pattern — an
    * iterative trainer has no single-query SQL twin, so the oracle
    * pins what IS expressible): the rank-1 merge must equal the SQL
    * argmax over adjacent character pairs of the weighted vocabulary
    * (computed independently by DuckDB from the tables), the table
    * must hold exactly nMerges contiguous ranks, and every count must
    * clear the floor.
    */
  def mergesCheck(spark: SparkSession, dir: String): DataFrame = {
    val m = learnMerges(spark, dir)
    val first = m.filter(col("rank") === 1)
      .select(col("left").as("first_left"), col("right").as("first_right"),
        col("n_occurrences").as("first_count"))
    val shape = m.agg(
      count(lit(1)).as("n_merges"),
      (min(col("rank")) === 1 && max(col("rank")) === count(lit(1)) &&
        countDistinct(col("rank")) === count(lit(1)) &&
        min(col("n_occurrences")) >= 2).as("ranks_ok"))
    first.crossJoin(shape)
  }

  /** E18: segment the corpus with a learned merge table — the
    * tokenizer's encode path at symbol granularity (id assignment is
    * E16's vocabulary join, composable downstream). Merges apply in
    * rank order per word, exactly as learned.
    *
    * Scale shape: merges apply over the DISTINCT-WORD vocabulary
    * (in-core when it fits the driver bound — the trainer already
    * holds the post-merge symbol arrays, so segmentation costs ZERO
    * extra corpus passes beyond the word count; K chained fold
    * passes over the distributed vocabulary otherwise), then one
    * AQE-sized join maps tokens to their symbol arrays and a per-doc
    * aggregation reassembles in token order — the E16 encode shape
    * with a vocabulary-side transform.
    */
  def segmentCorpus(spark: SparkSession, dir: String,
      nMerges: Int = 10): DataFrame =
    segmentCorpusOf(spark, Tables(spark, dir, "documents"), nMerges)

  /** Distinct-word vocabulary with the learned merges applied in rank
    * order — the ONE segmentation definition [[segmentCorpusOf]] ships
    * and [[segmentCheck]] audits (a private copy in the check would
    * let it pass against a stale twin of the operator it exists to
    * verify).
    */
  private def segmentVocab(spark: SparkSession, docs: DataFrame,
      nMerges: Int,
      maxDriverVocab: Int = MaxDriverVocab): DataFrame = {
    val counted = wordCounts(docs.select(col("text")))
    collectVocab(counted, maxDriverVocab) match {
      case Some(vocab) =>
        // train AND segment in core: learnLocal leaves the post-merge
        // symbol arrays in `syms`, which IS the segmentation
        // vocabulary — one corpus pass total for both
        val syms = vocab.map(v => charsLocal(v._1))
        learnLocal(syms, vocab.map(_._2), nMerges, 2L)
        import spark.implicits._
        vocab.map(_._1).zip(syms.map(_.toSeq)).toSeq
          .toDF("word", "syms")
      case None =>
        val merges = learnMergesOf(spark, docs.select(col("text")), nMerges,
          2L, maxDriverVocab)
          .orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2)))
        docs.select(explode(TextQueries.lowerTokens(col("text"))).as("word"))
          .distinct()
          .withColumn("syms", merges.foldLeft(chars(col("word"))) {
            case (acc, (l, r)) => mergeOnce(acc, l, r)
          })
    }
  }

  def segmentCorpusOf(spark: SparkSession, docs: DataFrame,
      nMerges: Int): DataFrame = {
    val vocab = segmentVocab(spark, docs, nMerges)
    val pos = docs.select(col("doc_id"),
      posexplode(
        TextQueries.lowerTokens(col("text")))
        .as(Seq("p", "word")))
    pos.join(vocab, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(size(col("syms"))).as("n_symbols"),
        concat_ws(" ", flatten(
          transform(array_sort(collect_list(struct(col("p"), col("syms")))),
            s => s.getField("syms")))).as("bpe_text"))
  }

  /** Spec hook: [[segmentVocab]] with a forced regime, for the
    * in-core ≡ distributed pin. */
  private[graft] def segmentVocabForSpec(spark: SparkSession,
      docs: DataFrame, nMerges: Int, maxDriverVocab: Int): DataFrame =
    segmentVocab(spark, docs, nMerges, maxDriverVocab)

  /** Driver-visible segmentation invariant: BPE is a partition of the
    * word — symbols concatenate back to it losslessly, every word
    * gets ≥1 symbol. DuckDB pins the vocabulary size and the expected
    * booleans.
    */
  def segmentCheck(spark: SparkSession, dir: String): DataFrame = {
    val vocab = segmentVocab(spark, Tables(spark, dir, "documents"), 10)
    vocab.agg(
      count(lit(1)).as("n_words"),
      (count(lit(1)) ===
        sum(when(concat_ws("", col("syms")) === col("word"), 1L)
          .otherwise(0L))).as("all_lossless"),
      (min(size(col("syms"))) >= 1).as("all_nonempty"))
  }

  val oracles: Map[String, String] = Map(
    "text_bpe_segment_check" ->
      """SELECT COUNT(DISTINCT w) AS n_words,
        |  true AS all_lossless, true AS all_nonempty
        |FROM (SELECT unnest(regexp_extract_all(lower(text), '\S+')) w
        |      FROM documents)""".stripMargin,
    "text_bpe_merges_check" ->
      """WITH w AS (SELECT w, COUNT(*) n FROM
        |    (SELECT unnest(regexp_extract_all(lower(text), '\S+')) w
        |     FROM documents) GROUP BY w),
        |p AS (SELECT substr(w, CAST(i AS INT), 1) l,
        |        substr(w, CAST(i + 1 AS INT), 1) r, n
        |      FROM (SELECT w, n, unnest(generate_series(1, length(w) - 1)) i
        |            FROM w WHERE length(w) >= 2)),
        |a AS (SELECT l, r, CAST(SUM(n) AS BIGINT) cnt FROM p GROUP BY l, r),
        |f AS (SELECT l, r, cnt FROM a ORDER BY cnt DESC, l, r LIMIT 1)
        |SELECT l AS first_left, r AS first_right, cnt AS first_count,
        |  CAST(10 AS BIGINT) AS n_merges, true AS ranks_ok
        |FROM f""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_merges" -> ((s, d) => learnMerges(s, d)),
    "text_bpe_merges_check" -> (mergesCheck _),
    "text_bpe_segment" -> ((s, d) => segmentCorpus(s, d)),
    "text_bpe_segment_check" -> (segmentCheck _)
  )
}
