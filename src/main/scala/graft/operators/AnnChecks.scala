package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Driver-visible correctness rows for the approximate operators
  * (ADVICE r6: the seven `no_oracle` queries were exempt from the
  * round gate).
  *
  * A DuckDB oracle can't reproduce an approximate index, so these
  * companions verify the INVARIANT instead, inside one Spark plan:
  * the approximate result is recomputed alongside its exact twin
  * (`ann_topk_exact` / `dedup_embedding` — both independently
  * oracle-verified every round) and reduced to a row of quantized
  * facts: recall-at-floor booleans, exact false-positive counts,
  * score-exactness counts. The oracle SQL pins the expected facts —
  * the data-dependent pieces (query counts, exact pair counts) are
  * computed by DuckDB from the tables, the thresholds are pinned
  * literals. A recall collapse, a false positive, or a broken refine
  * path flips a value and the round's CORRECTNESS row goes red.
  *
  * Floors are set with margin below the measured recalls at all three
  * SFs (2026-08: ivf .76-1.0, pq .34-.38, ivfpq .34-.42,
  * refine .74-.80, hnsw .98-1.0, lsh .67-.71,
  * semantic .26-.29, pca .76-1.0; r15: hnsw_routed .92-1.0 at
  * nProbe=8/16, .84-1.0 at nProbe=4) — they catch structural
  * regressions, not noise:
  * every path is deterministic (fixed seeds, fixed tie-breaks), so a
  * flip means the algorithm changed, not the dice.
  */
object AnnChecks {

  /** (hits vs exact, totals) → one quantized row. `exact` and
    * `approx` are (query_id, neighbor_id [, ...]) top-k frames.
    */
  private def recallCheck(method: String, k: Int, floorX100: Int,
      approx: DataFrame, exact: DataFrame): DataFrame = {
    val ex = exact.select(col("query_id"), col("neighbor_id"))
    val ap = approx.select(col("query_id"), col("neighbor_id"))
    val hits = ex.join(ap, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    val tot = ex.agg(count(lit(1)).as("total"),
      countDistinct(col("query_id")).as("n_queries"))
    hits.crossJoin(tot).select(
      lit(method).as("method"),
      col("n_queries"),
      lit(k).as("k"),
      lit(floorX100).as("floor_x100"),
      (col("hits") * 100 >= col("total") * floorX100).as("recall_ok"))
  }

  /** Pair-set invariant: every approximate pair must be a true pair
    * (the approximate paths verify with exact cosine, so a false
    * positive means broken plumbing), and recall vs the exact pair
    * set must clear the floor.
    */
  private def pairCheck(approx: DataFrame, exact: DataFrame,
      floorX100: Int): DataFrame = {
    val keys = Seq("vec_id_a", "vec_id_b")
    val ex = exact.select(keys.map(col): _*)
    val ap = approx.select(keys.map(col): _*)
    val hits = ex.join(ap, keys, "left_semi").agg(count(lit(1)).as("hits"))
    val falsePos = ap.join(ex, keys, "left_anti")
      .agg(count(lit(1)).as("n_false_positives"))
    val tot = ex.agg(count(lit(1)).as("n_exact_pairs"))
    hits.crossJoin(falsePos).crossJoin(tot).select(
      col("n_exact_pairs"),
      col("n_false_positives"),
      lit(floorX100).as("floor_x100"),
      (col("hits") * 100 >= col("n_exact_pairs") * floorX100).as("recall_ok"))
  }

  def ivfCheck(spark: SparkSession, dir: String): DataFrame =
    recallCheck("ivf", 10, 60,
      Ann.ivfTopk(spark, dir), Ann.topkExact(spark, dir))

  def pqCheck(spark: SparkSession, dir: String): DataFrame =
    recallCheck("pq", 10, 25,
      Pq.annPq(spark, dir), Ann.topkExact(spark, dir))

  def ivfPqCheck(spark: SparkSession, dir: String): DataFrame =
    recallCheck("ivfpq", 10, 25,
      IvfPq.annIvfPq(spark, dir), Ann.topkExact(spark, dir))

  def hnswCheck(spark: SparkSession, dir: String): DataFrame =
    recallCheck("hnsw", 10, 90,
      Hnsw.hnswTopk(spark, dir), Ann.topkExact(spark, dir))

  /** D7b: the routed form composes two approximations — HNSW's beam
    * (.98-1.0 alone) and the IVF routing trade (a true neighbor in a
    * cell farther than all nProbe probed ones is unreachable), so
    * its floor sits between hnsw's 90 and ivf's 60 (measured r15 at
    * the default nProbe=8/16: .98/.92/1.0 at sf0.001/.01/.1).
    */
  def hnswRoutedCheck(spark: SparkSession, dir: String): DataFrame =
    recallCheck("hnsw_routed", 10, 80,
      Hnsw.hnswTopkRouted(spark, dir), Ann.topkExact(spark, dir))

  /** The refine stage's contract is stronger than a recall floor: its
    * emitted scores must BE the exact dot products of the emitted
    * pairs (the whole point of re-ranking candidates against raw
    * vectors). Recompute each emitted pair's dot from the embeddings
    * table with the same fold and count exact agreements — plus the
    * refine recall floor on top.
    */
  def ivfPqRefineCheck(spark: SparkSession, dir: String,
      nQueries: Int = 5): DataFrame = {
    val refined = IvfPq.annIvfPqRefined(spark, dir)
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val rechecked = refined
      .join(broadcast(q), Seq("query_id"))
      .join(e, col("vec_id") === col("neighbor_id"))
      .withColumn("exact_dot",
        aggregate(
          zip_with(col("qe"), col("embedding"),
            (a, b) => a.cast("double") * b.cast("double")),
          lit(0.0), (acc, v) => acc + v))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(abs(col("dot") - col("exact_dot")) < 1e-9, 1L)
          .otherwise(0L)).as("n_score_matches"))
    val rec = recallCheck("ivfpq_refine", 10, 60,
      refined, Ann.topkExact(spark, dir))
      .select(col("recall_ok"))
    rechecked.crossJoin(rec).select(
      lit("ivfpq_refine").as("method"),
      col("n_pairs"), col("n_score_matches"), col("recall_ok"))
  }

  def pcaCheck(spark: SparkSession, dir: String): DataFrame =
    recallCheck("pca", 10, 65,
      Pca.annPcaRefined(spark, dir), Ann.topkExact(spark, dir))

  def embeddingLshCheck(spark: SparkSession, dir: String): DataFrame =
    pairCheck(Dedup.embeddingLsh(spark, dir),
      Dedup.embeddingPairs(spark, dir), 55)

  /** SemDeDup probes only within-cluster pairs, so against the FULL
    * τ=0.4 exact pair set its recall is structurally partial (~.26
    * at every SF — most τ=0.4 pairs cross coarse clusters); the floor
    * pins that the clustering keeps catching its share, the
    * false-positive count pins the exact-verify stage.
    */
  def semanticCheck(spark: SparkSession, dir: String): DataFrame =
    pairCheck(Dedup.semanticPairs(spark, dir),
      Dedup.embeddingPairs(spark, dir), 18)

  /** DuckDB side of the exact τ=0.4 pair count (the denominator the
    * pair checks quantize against) — same formulation as the
    * `dedup_embedding` oracle, reduced to COUNT(*).
    */
  private val exactPairCountSql =
    """(SELECT COUNT(*) FROM (
      |  SELECT list_reduce([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
      |      for i in range(1, len(a.embedding) + 1)], (x, y) -> x + y)
      |    / (sqrt(list_reduce([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
      |        for i in range(1, len(a.embedding) + 1)], (x, y) -> x + y))
      |      * sqrt(list_reduce([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
      |        for i in range(1, len(b.embedding) + 1)], (x, y) -> x + y))) AS sim
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) s
      | WHERE sim >= 0.4)""".stripMargin

  private def recallOracle(method: String, floorX100: Int): String =
    s"""SELECT '$method' AS method,
       |  (SELECT COUNT(*) FROM embeddings WHERE vec_id < 5) AS n_queries,
       |  10 AS k, $floorX100 AS floor_x100, true AS recall_ok""".stripMargin

  private def pairOracle(floorX100: Int): String =
    s"""SELECT $exactPairCountSql AS n_exact_pairs,
       |  CAST(0 AS BIGINT) AS n_false_positives,
       |  $floorX100 AS floor_x100, true AS recall_ok""".stripMargin

  val oracles: Map[String, String] = Map(
    "ann_ivf_check" -> recallOracle("ivf", 60),
    "ann_pq_check" -> recallOracle("pq", 25),
    "ann_ivfpq_check" -> recallOracle("ivfpq", 25),
    "ann_hnsw_check" -> recallOracle("hnsw", 90),
    "ann_hnsw_routed_check" -> recallOracle("hnsw_routed", 80),
    "ann_pca_check" -> recallOracle("pca", 65),
    "ann_ivfpq_refine_check" ->
      """SELECT 'ivfpq_refine' AS method,
        |  (SELECT 10 * COUNT(*) FROM embeddings WHERE vec_id < 5) AS n_pairs,
        |  (SELECT 10 * COUNT(*) FROM embeddings WHERE vec_id < 5) AS n_score_matches,
        |  true AS recall_ok""".stripMargin,
    "dedup_embedding_lsh_check" -> pairOracle(55),
    "dedup_semantic_check" -> pairOracle(18)
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivf_check" -> (ivfCheck _),
    "ann_pq_check" -> (pqCheck _),
    "ann_ivfpq_check" -> (ivfPqCheck _),
    "ann_hnsw_check" -> (hnswCheck _),
    "ann_hnsw_routed_check" -> (hnswRoutedCheck _),
    "ann_pca_check" -> (pcaCheck _),
    "ann_ivfpq_refine_check" -> ((s, d) => ivfPqRefineCheck(s, d)),
    "dedup_embedding_lsh_check" -> (embeddingLshCheck _),
    "dedup_semantic_check" -> (semanticCheck _)
  )
}
