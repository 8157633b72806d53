package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.GraftColumnBridge

import graft.functions.expressions._

/** Column API + SQL registration for graft's native expressions
  * (SURVEY.md §2.H1/H2).
  */
object GraftFunctions {

  private def toExpr(c: Column): Expression = GraftColumnBridge.expression(c)
  private def toCol(e: Expression): Column = GraftColumnBridge.column(e)

  /** Cosine similarity of two `array<float>` columns (codegen'd). */
  def cosineSimilarity(a: Column, b: Column): Column =
    toCol(CosineSimilarity(toExpr(a), toExpr(b)))

  /** 60-bit SimHash of a token array (md5 token hashes). */
  /** F7 dHash grid hash: array<long>[2] = (h_lo, h_hi) 32-bit halves
    * (one-pass native expression; see [[expressions.DHash64]]). */
  def dhash64(text: Column): Column =
    toCol(expressions.DHash64(toExpr(text)))

  def simhash60(tokens: Column): Column =
    toCol(SimHash60(toExpr(tokens)))

  /** MinHash signature (k perms over w-shingles) of a token array. */
  def minhashSignature(tokens: Column, k: Int = 128, shingleSize: Int = 3,
      seed: Long = 42L): Column =
    toCol(MinHashSignature(toExpr(tokens), k, shingleSize, seed))

  /** MinHash signature (k perms) over already-hashed shingles
    * (`array<long>`) — skips the tokenize/re-hash pass when hashed
    * shingle arrays are already materialized.
    */
  def minhashFromHashes(hashes: Column, k: Int = 128,
      seed: Long = 42L): Column =
    toCol(MinHashFromHashes(toExpr(hashes), k, seed))

  /** C33 featurizer: per-doc DSIR bucket counts (uni+bigram md5
    * buckets) in one byte pass (see
    * [[expressions.DsirBucketCounts]]). Pass pre-lowered text.
    */
  def dsirBucketCounts(text: Column, m: Int): Column =
    toCol(DsirBucketCounts(toExpr(text), m))

  /** |a ∩ b| of two sorted `array<long>` columns (merge pass, no
    * allocation).
    */
  def sortedIntersectSize(a: Column, b: Column): Column =
    toCol(SortedIntersectSize(toExpr(a), toExpr(b)))

  /** E10 fast path: exact bigram-LM fluency of a text column in one
    * byte pass against broadcast corpus gram counts (see
    * [[expressions.FluencyScore]]). Null for <2-token docs.
    */
  def fluencyScore(text: Column,
      counts: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
          java.lang.Long]]): Column =
    toCol(FluencyScore(toExpr(text), counts))

  /** E21 fast path: exact millibit interpolated-trigram score of a
    * text column in one byte pass against broadcast model counts
    * (see [[expressions.TrigramLmScore]]). Null for <3-token docs.
    */
  def trigramLmScore(text: Column,
      counts: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
          java.lang.Long]],
      n: Long, v: Long): Column =
    toCol(TrigramLmScore(toExpr(text), counts, n, v))

  /** E19 fast path: exact millibit bigram-LM score of a text column
    * in one byte pass against broadcast model counts (see
    * [[expressions.LmScore]]). Null for <2-token docs.
    */
  def lmScore(text: Column,
      counts: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
          java.lang.Long]],
      v: Long): Column =
    toCol(expressions.LmScore(toExpr(text), counts, v))

  /** E5 fast path: per-doc top-k TF-IDF structs in one byte pass
    * against a broadcast document-frequency map (see
    * [[expressions.TfidfTop3]]).
    */
  def tfidfTop3(text: Column,
      df: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
          java.lang.Long]],
      nDocs: Long, k: Int = 3): Column =
    toCol(TfidfTop3(toExpr(text), df, nDocs, k))

  /** AllPairs prefix of a hashed-shingle array under the
    * (approx-df, hash) global order (Count-Min Sketch rarity). Exact
    * for candidate generation under any sketch contents; see
    * [[expressions.PrefixByRarity]].
    */
  def prefixByRarity(spark: SparkSession, sh: Column,
      serializedCms: Array[Byte], threshold: Double): Column =
    // broadcast ONCE per call — the Column (and any self-join reuse
    // of it) shares one broadcast handle instead of shipping the
    // ~1 MiB sketch bytes inside every stage's task binary
    toCol(PrefixByRarity(toExpr(sh),
      spark.sparkContext.broadcast(serializedCms), threshold))

  /** PCA projection of a float vector under a literal basis (see
    * [[expressions.PcaProjection]]).
    */
  def pcaProject(vec: Column, components: Array[Array[Double]],
      bias: Array[Double]): Column =
    toCol(expressions.PcaProjection(toExpr(vec), components, bias))

  /** Random-hyperplane LSH bit signature of an embedding. */
  def hyperplaneSignature(vec: Column, planes: Array[Array[Double]]): Column =
    toCol(HyperplaneSignature(toExpr(vec), planes))

  /** Every w-token window's 64-bit hash in one byte pass (see
    * [[expressions.TokenWindowHashes]]); <w-token docs → empty array.
    */
  def tokenWindowHashes(c: Column, w: Int): Column =
    toCol(expressions.TokenWindowHashes(toExpr(c), w))

  /** Sorted distinct `array<long>` (see
    * [[expressions.SortedDistinctLongs]]).
    */
  def sortedDistinctLongs(c: Column): Column =
    toCol(expressions.SortedDistinctLongs(toExpr(c)))

  def rollingHash64(c: Column): Column =
    toCol(RollingHash64(toExpr(c)))

  /** Single-pass whitespace collapse+trim — byte-identical to
    * `trim(regexp_replace(c, "\\s+", " "))` without the regex engine
    * (see [[graft.functions.expressions.CollapseWs]]).
    */
  def collapseWs(c: Column): Column =
    toCol(CollapseWs(toExpr(c)))

  /** All positional word n-grams for n ∈ [minN, maxN] in one byte
    * scan — tokenization byte-exact with `\S+`
    * (see [[graft.functions.expressions.WsNgrams]]).
    */
  def wsNgrams(c: Column, minN: Int, maxN: Int): Column =
    toCol(WsNgrams(toExpr(c), minN, maxN))

  /** Per-document repetition statistics struct in one map pass
    * (see [[graft.functions.expressions.RepetitionStats]]).
    */
  def repetitionStats(c: Column): Column =
    toCol(RepetitionStats(toExpr(c)))

  /** Distinct word n-grams (n ∈ [minN, maxN]) of one document with
    * multiplicities, in one map pass
    * (see [[graft.functions.expressions.TermCounts]]).
    */
  def termCounts(c: Column, minN: Int = 1, maxN: Int = 1): Column =
    toCol(TermCounts(toExpr(c), minN, maxN))

  /** All quality/language gate inputs in one byte pass
    * (see [[graft.functions.expressions.GateStats]]).
    */
  def gateStats(c: Column): Column =
    toCol(GateStats(toExpr(c)))

  /** Bloom-filter membership probe (serialized filter baked into the
    * plan; map-side, codegen'd). Positives need exact verification.
    */
  def bloomMightContain(c: Column, serializedBloom: Array[Byte]): Column =
    toCol(BloomMightContain(toExpr(c), serializedBloom))

  /** Bloom probe against a per-row serialized-filter column, with a
    * per-(task, bucket) deserialization cache. Value/filter contents
    * are xxhash64 longs. Positives need exact verification.
    */
  def bloomProbeBucketed(valueHash: Column, bucket: Column,
      filterBin: Column): Column =
    toCol(BloomProbeBucketed(toExpr(valueHash), toExpr(bucket),
      toExpr(filterBin)))

  /** Aggregate a long-hash column into a serialized Bloom filter
    * (binary) — Spark's own BloomFilterAggregate, exposed as a
    * Column so per-GROUP filters can be built in one aggregation
    * (the bucketed-index build; [[bloomProbeBucketed]] probes it).
    */
  def bloomAgg(valueHash: Column, expectedItems: Long,
      fpp: Double): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    toCol(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(toExpr(valueHash), Literal(expectedItems),
        Literal(numBits)).toAggregateExpression())
  }

  /** Global minN..maxN gram counts of a text column as ONE
    * typed-imperative aggregation (see
    * [[expressions.GramCountsAgg]]); NULL when the vocabulary
    * outgrows `cap` (the fused broadcast gate).
    */
  def gramCountsAgg(text: Column, minN: Int, maxN: Int, cap: Int,
      minTokens: Int = 0): Column =
    toCol(expressions.GramCountsAgg(toExpr(text), minN, maxN, cap, minTokens)
      .toAggregateExpression())

  /** C33 model build as one typed-imperative aggregation (see
    * [[expressions.DsirModelAgg]]): flat long[2m] —
    * [0,m) target-side, [m,2m) background-side bucket counts.
    */
  def dsirModelAgg(text: Column, isTarget: Column, m: Int): Column =
    toCol(expressions.DsirModelAgg(toExpr(text), toExpr(isTarget), m)
      .toAggregateExpression())

  /** C33 one-pass doc scorer against a plan-embedded millibit leg
    * table (see [[expressions.DsirDocScore]]).
    */
  def dsirDocScore(text: Column, lmb: Array[Long]): Column =
    toCol(expressions.DsirDocScore(toExpr(text), lmb))

  /** Weighted Misra–Gries heavy-hitter summary (see
    * [[expressions.MisraGriesAgg]] and
    * [[graft.functions.HeavyHitters]] for the guarantees).
    */
  def misraGries(key: Column, weight: Column, k: Int): Column =
    toCol(expressions.MisraGriesAgg(toExpr(key), toExpr(weight), k)
      .toAggregateExpression())

  /** Z-order (Morton) curve value of 2–8 non-negative long columns. */
  def zorder(cols: Column*): Column =
    toCol(ZOrderLong(cols.map(toExpr)))

  /** Index of the last sorted bound ≤ value (binary search per row). */
  def segmentIndex(c: Column, bounds: Array[Long]): Column =
    toCol(SegmentIndex(toExpr(c), bounds))

  /** Z-curve column normalization: clamp to [lo, hi], rebase with
    * wrap semantics, logical-shift onto the bit budget. */
  def znormalize(c: Column, lo: Long, hi: Long, shift: Int): Column =
    toCol(ZNormalize(toExpr(c), lo, hi, shift))

  /** Squared-L2 argmin cell of a float vector vs literal centroids. */
  def nearestCell(vec: Column, cents: Array[Array[Double]]): Column =
    toCol(NearestCell(toExpr(vec), cents))

  /** PQ codes (per-subspace argmin) of a float vector vs a codebook. */
  def pqEncode(vec: Column, cents: Array[Array[Array[Double]]]): Column =
    toCol(PqEncodeCodes(toExpr(vec), cents))

  /** ADC lookup-table score of a codes column against a LUT column. */
  /** Per-query ADC LUT built in-plan from the codebook literal (see
    * [[expressions.PqLut]]) — bit-identical to the driver-side
    * `Pq.lutFor`.
    */
  def pqLut(vec: Column, cents: Array[Array[Array[Double]]]): Column =
    toCol(PqLut(toExpr(vec), cents))

  def adcScore(codes: Column, lut: Column): Column =
    toCol(AdcScore(toExpr(codes), toExpr(lut)))

  /** vec − cents(cell): residual against the assigned centroid. */
  def cellResidual(vec: Column, cell: Column,
      cents: Array[Array[Double]]): Column =
    toCol(CellResidual(toExpr(vec), toExpr(cell), cents))
}

/** Session extension wiring graft functions into SQL by name:
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * spark.sql.extensions=graft.functions.GraftExtensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    ext.injectFunction((FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (es: Seq[Expression]) => CosineSimilarity(es.head, es(1))))
    ext.injectFunction((FunctionIdentifier("graft_simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "graft_simhash60"),
      (es: Seq[Expression]) => SimHash60(es.head)))
    ext.injectFunction((FunctionIdentifier("graft_rolling_hash64"),
      new ExpressionInfo(classOf[RollingHash64].getName, "graft_rolling_hash64"),
      (es: Seq[Expression]) => RollingHash64(es.head)))
    ext.injectFunction((FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZOrderLong].getName, "graft_zorder"),
      (es: Seq[Expression]) => ZOrderLong(es)))
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    ext.injectOptimizerRule(_ => graft.plans.RewriteRankFilterToTopK)
  }
}
