package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2.D).
  *
  * Scale shape: the query set is always the broadcast side; the
  * corpus is scanned once. The exact path ranks per query id; at real
  * scale the per-partition partial top-k (so only q·k rows shuffle)
  * is the planned H3 upgrade — the query-facing schema is identical.
  */
object Ann {

  /** D1: exact top-k by cosine for a fixed query set (vec_id < 5),
    * deterministic tie-break on neighbor id.
    *
    * Per-partition partial top-k (H3 aggregator) instead of a window
    * rank: only q·k scored ids cross the shuffle, not the whole
    * scored corpus — the shape that survives a billion-vector scan.
    */
  def topkExact(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    topkOver(e, e, k, nQueries)
  }

  /** Shared exact-top-k core: broadcast the query set, scan `corpus`,
    * partial top-k per partition. D1 passes the whole table as
    * corpus; D6 passes the predicate-filtered scan.
    */
  private def topkOver(corpus: DataFrame, queries: DataFrame, k: Int,
      nQueries: Int): DataFrame =
    topkOverPred(corpus, queries, k, col("vec_id") < nQueries)

  /** D1 for ONE query id — the D13 hybrid / G17 streaming serving
    * entry (same partial-top-k plan, predicate instead of the
    * fixture's id range).
    */
  def topkExactOne(spark: SparkSession, dir: String, k: Int,
      queryVecId: Long): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    topkOverPred(e, e, k, col("vec_id") === queryVecId)
  }

  private def topkOverPred(corpus: DataFrame, queries: DataFrame,
      k: Int, pred: Column): DataFrame =
    topkAgg(corpus, queries, k, pred)
      .select(col("query_id"), posexplode(col("tk")).as(Seq("idx", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        (col("idx") + 1).as("rank"), col("s.score").as("sim"))

  /** The pre-explode (query_id, tk) aggregate — tk is the
    * RANK-ORDERED top-k (score desc, id asc) struct array. Shared by
    * the row-per-neighbor forms above and D14, which folds the array
    * in rank order. */
  private def topkAgg(corpus: DataFrame, queries: DataFrame,
      k: Int, pred: Column): DataFrame =
    topkAggOf(corpus, queries.filter(pred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe")), k)

  /** [[topkAgg]] for an already-projected (query_id, qe) query frame
    * — D14b's backward pass discovers its query set IN-PLAN (the
    * mined neighbors) rather than by predicate. */
  private def topkAggOf(corpus: DataFrame, q: DataFrame,
      k: Int): DataFrame = {
    val sims = corpus.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosineSimilarity(col("qe"), col("embedding")))
    sims.groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(k)(col("sim"), col("neighbor_id"))
        .as("tk"))
  }

  /** D14 (r13): margin-scored neighbor mining — the CCMatrix/LASER
    * acceptance criterion for mined pairs (Artetxe & Schwenk 2019):
    * a best-neighbor's raw cosine is incomparable across queries
    * (hubness — some vectors are near EVERYTHING), so the score is
    * the top-1 similarity NORMALIZED by the query's k-NN neighborhood
    * density: margin = sim₁ · |tk| / Σ_{r≤k} sim_r. margin ≈ 1 means
    * "no closer than the neighborhood at large" (reject); the
    * published mining recipe thresholds at ~1.04–1.06.
    *
    * Exactness: built ON the D1 partial-top-k aggregate (only q·k
    * scored rows cross the shuffle), and the Σ folds the tk array IN
    * RANK ORDER from an explicit 0.0 — the oracle folds the same
    * list with the same seed, so the IEEE sum is bit-identical (the
    * D13 rule: fixed parenthesization is what makes double outputs
    * hash-comparable at all).
    */
  def marginMining(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    topkAgg(e, e, k, col("vec_id") < nQueries)
      .select(col("query_id"),
        col("tk").getItem(0).getField("id").as("neighbor_id"),
        col("tk").getItem(0).getField("score").as("sim"),
        (col("tk").getItem(0).getField("score") * size(col("tk")) /
          aggregate(col("tk"), lit(0.0),
            (acc, s) => acc + s.getField("score"))).as("margin"))
  }

  /** D14b (r14): BIDIRECTIONAL margin-scored pair mining — the full
    * CCMatrix/LASER ratio score (Schwenk et al. 2021 §3.1): a mined
    * pair (x, y) is accepted on cos(x,y) normalized by the mean k-NN
    * similarity of BOTH endpoints,
    * margin = cos(x,y) / (Σ_{z∈NNk(x)} cos(x,z)/(2k) +
    * Σ_{z∈NNk(y)} cos(y,z)/(2k)) — the one-sided D14 form misprices
    * pairs whose TARGET is a hub (y near everything inflates x's
    * top-1 without being a good pair; the backward sum exposes it).
    *
    * Two broadcast round-trips, no extra corpus machinery: pass 1 is
    * the D1 partial-top-k aggregate for the query side (top-1 mate +
    * forward k-NN sum); the DISTINCT mined mates — bounded by the
    * query count — become pass 2's query frame via [[topkAggOf]],
    * discovered in-plan (no driver collect). Both folds run in rank
    * order from an explicit 0.0 and the margin's parenthesization is
    * pinned, so doubles are bit-identical with the oracle.
    */
  def marginPairs(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val ksum = (tk: Column) => aggregate(tk, lit(0.0),
      (acc, s) => acc + s.getField("score"))
    val fwd = topkAgg(e, e, k, col("vec_id") < nQueries)
      .select(col("query_id"),
        col("tk").getItem(0).getField("id").as("neighbor_id"),
        col("tk").getItem(0).getField("score").as("sim"),
        ksum(col("tk")).as("__fsum"),
        size(col("tk")).cast("double").as("__fk"))
    val mates = e.join(fwd.select(col("neighbor_id").as("vec_id")).distinct(),
        Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val bwd = topkAggOf(e, mates, k)
      .select(col("query_id").as("neighbor_id"),
        ksum(col("tk")).as("__bsum"),
        size(col("tk")).cast("double").as("__bk"))
    fwd.join(broadcast(bwd), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        (col("sim") / ((col("__fsum") / (col("__fk") * lit(2.0))) +
          (col("__bsum") / (col("__bk") * lit(2.0))))).as("margin"))
  }

  /** D6: filtered exact top-k — metadata predicate composed with
    * vector search (the "where label = X" filter every production
    * vector store supports). The predicate applies to the CORPUS SCAN
    * before any scoring (filter-then-search): recall is exact by
    * construction, the parquet scan prunes on the pushed-down
    * predicate, and the partial top-k shape is unchanged —
    * post-filtering a top-k (the naive composition) would need
    * k≫target to survive selective filters and still couldn't
    * guarantee k results.
    */
  def topkFiltered(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, labelMod: Int = 4): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    topkOver(e.filter(col("label") % labelMod === 0), e, k, nQueries)
  }

  /** D2: IVF — deterministic Lloyd (in-core over a bounded sample,
    * [[KMeans]]), then probe the nProbe nearest cells per query.
    * Distributed shape: the corpus-scale pass is cell ASSIGNMENT —
    * one codegen'd map scan (native `NearestCell` expression);
    * centroids broadcast as plan literals.
    */
  /** Squared-L2 argmin cell of `v` against literal centroids —
    * native codegen expression (primitive loops, no interpreted
    * lambdas). Shared by IVF and IVF-PQ.
    */
  private[graft] def cellExpr(cents: Array[Array[Double]],
      v: Column): Column =
    nearestCell(v, cents)

  /** Deterministic centroids over `e` = (vec_id, embedding): one
    * TakeOrdered sample pass + in-core Lloyd (quantizer quality needs
    * a distribution sample, not the corpus — see [[KMeans]]).
    */
  private[graft] def trainCentroids(e: DataFrame, nCells: Int,
      iters: Int, sampleN: Int = 65536): Array[Array[Double]] =
    KMeans.lloyd(KMeans.sampleVectors(e, sampleN), nCells, iters)

  def ivfTopk(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, nCells: Int = 16, iters: Int = 3,
      nProbe: Int = 2): DataFrame = {
    val e = graft.CacheHygiene.persist(Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")))
    val centroids = trainCentroids(e, nCells, iters)
    // after the eager training sample (which consumes the cache);
    // released when the caller's action completes
    graft.CacheHygiene.unpersistAfterUse(e)
    val assigned = e.withColumn("cell", cellExpr(centroids, col("embedding")))
    // Explode each query into (query, probed cell) rows so the probe
    // is an EQUI-join on `cell` — a hash join whose cost is
    // O(candidates), not the O(corpus × queries) nested loop an
    // array_contains predicate plans as. The query side stays tiny
    // (q × nProbe rows) and broadcasts.
    val probes = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .select(col("query_id"), col("qe"),
        explode(slice(sortedCellsExpr(centroids, col("qe")), 1, nProbe))
          .as("cell"))

    val cands = assigned
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", cosineSimilarity(col("qe"), col("embedding")))
    // Partial top-k per partition (H3 aggregator, as in D1): only
    // q·k scored rows cross the shuffle, not every candidate.
    cands.groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(k)(col("sim"), col("vec_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("idx", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        (col("idx") + 1).as("rank"), col("s.score").as("sim"))
  }

  /** D9: persisted IVF index lifecycle — build ONCE, serve many.
    * Today's ivfTopk retrains the quantizer and re-assigns the corpus
    * on every invocation; a production vector store builds the index
    * at ingest and serves queries against the STORED artifact. The
    * index is two plain parquet tables in a [[GraftDatabase]]:
    * `<name>_centroids` (cell, centroid) — nCells rows, the bounded
    * piece a server loads to plan probes — and `<name>_cells`
    * (vec_id, embedding, cell), the corpus with its assignment
    * materialized (at scale, written hive-partitioned by cell so a
    * probe prunes to its cells' files; here plain parquet keeps the
    * fixture simple while the probe is the same equi-join).
    */
  def buildIvfIndex(db: graft.catalog.GraftDatabase, e: DataFrame,
      name: String, nCells: Int = 16, iters: Int = 3): Unit = {
    val spark = db.spark
    // training (eager sample) and the assignment write both consume
    // the corpus plan — persist across the two so an expensive
    // upstream (joins/filters, not just a bare scan) executes once;
    // released after the write action
    val ep = graft.CacheHygiene.persist(e)
    val cents = trainCentroids(ep, nCells, iters)
    graft.CacheHygiene.unpersistAfterUse(ep)
    import spark.implicits._
    db.write(cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid"),
      s"${name}_centroids", org.apache.spark.sql.SaveMode.Overwrite)
    // batch_id = -1 marks the base build (appends carry their real
    // batch id — the lineage D11's drift report groups on); the
    // negative id is reserved, same convention as the G10 text index
    db.write(ep.withColumn("cell", cellExpr(cents, col("embedding")))
        .withColumn("batch_id", lit(-1L)),
      s"${name}_cells", org.apache.spark.sql.SaveMode.Overwrite)
  }

  /** Serve top-k queries against a stored IVF index — no training,
    * no corpus re-assignment; the centroids table (nCells rows,
    * bounded by construction) loads to the driver to plan probe
    * cells, and the probe is the same broadcast equi-join as
    * [[ivfTopk]] over the stored assignment.
    */
  /** The stored quantizer (nCells rows — never the corpus). */
  private[graft] def loadCentroids(db: graft.catalog.GraftDatabase,
      name: String): Array[Array[Double]] =
    db.read(s"${name}_centroids")
      .orderBy(col("cell"))
      .collect()
      .map(_.getSeq[Double](1).toArray)

  /** D10: append new vectors to a stored IVF index under its FROZEN
    * quantizer — incremental index maintenance on corpus append, the
    * serving-infra shape where re-training (and re-assigning 100 TB)
    * per increment is not an option. Assignment is the same
    * deterministic literal-centroid expression as the base build, so
    * an index maintained by appends is BIT-IDENTICAL to assigning
    * the whole corpus in one pass with the same centroids
    * (spec-pinned). The publish is the exactly-once staging-rename
    * (G2/G10's contract): a replayed batch converges to one copy.
    * Centroid drift management (periodic re-train + full re-assign)
    * stays a batch compaction, exactly like C3/C4's near-dup pass in
    * the streaming story.
    */
  def appendToIvfIndex(db: graft.catalog.GraftDatabase, name: String,
      newVecs: DataFrame, batchId: Long): Unit = {
    require(batchId >= 0, s"negative batchId $batchId is reserved")
    val cents = loadCentroids(db, name)
    graft.streaming.IngestPublish.publishFiles(db, s"${name}_cells",
      newVecs.select(col("vec_id"), col("embedding"))
        .withColumn("cell", cellExpr(cents, col("embedding")))
        .withColumn("batch_id", lit(batchId)),
      batchId)
    ()
  }

  /** D11: centroid-drift report — the signal that decides when the
    * G12 maintenance loop's periodic re-train actually runs: per
    * cell, is the NEWEST appended batch sitting relatively farther
    * from its centroid than the appends that came before it (a
    * quantizer trained on yesterday's distribution mis-binning
    * today's)? Population share alone can't see this; distance can.
    *
    * The baseline is PRIOR APPENDS, deliberately never the base
    * population: quantizer-training members are systematically
    * closer to the centroids they themselves defined — the classic
    * train/holdout gap, measured at ~+20% mean distance for an
    * in-distribution holdout against 16 cells × ~15 members — so a
    * base-relative monitor would cry drift on every perfectly clean
    * increment. The first increment
    * therefore CALIBRATES the monitor (no verdicts until a second
    * batch lands), and every later batch is judged out-of-sample
    * against out-of-sample. `minSupport` on both sides keeps
    * sampling noise from triggering gratuitous re-trains (each one a
    * full corpus re-assignment).
    *
    * Distances are quantized to integer MILLIs per vector (the E19
    * discipline): per-cell means are exact integer ratios with one
    * double division — deterministic in any partition order.
    */
  def ivfDrift(db: graft.catalog.GraftDatabase, name: String,
      threshold: Double = 0.15, minSupport: Long = 10L): DataFrame = {
    val cents = db.read(s"${name}_centroids")
      .select(col("cell"), col("centroid").cast("array<float>").as("ce"))
    val cells = db.read(s"${name}_cells")
    // latest append batch (null when the index has no appends yet) —
    // prod reads this from the publish ledger; one slim scan here
    val latest = cells.agg(max(when(col("batch_id") >= 0,
      col("batch_id"))).as("latest"))
    val meanOf = (flag: Column, m: Column) =>
      sum(when(flag, m)).cast("double") /
        greatest(sum(when(flag, 1L).otherwise(0L)), lit(1L)).cast("double")
    val isLatest = col("batch_id") === col("latest")
    val isPrior = col("batch_id") >= 0 && col("batch_id") < col("latest")
    cells
      .join(broadcast(cents), Seq("cell"))
      .crossJoin(broadcast(latest))
      .select(col("cell"), col("batch_id"), col("latest"),
        ((lit(1.0) - cosineSimilarity(col("embedding"), col("ce")))
          * 1000).cast("long").as("dist_milli"))
      .groupBy(col("cell"))
      .agg(sum(when(col("batch_id") === -1, 1L).otherwise(0L)).as("n_base"),
        sum(when(isPrior, 1L).otherwise(0L)).as("n_prior"),
        sum(when(isLatest, 1L).otherwise(0L)).as("n_latest"),
        meanOf(isPrior, col("dist_milli")).as("prior_mean_milli"),
        meanOf(isLatest, col("dist_milli")).as("latest_mean_milli"))
      .withColumn("drifted",
        coalesce(
          col("n_prior") >= minSupport && col("n_latest") >= minSupport &&
            col("latest_mean_milli") >
              col("prior_mean_milli") * (1.0 + threshold),
          lit(false)))
  }

  def ivfTopkFromIndex(db: graft.catalog.GraftDatabase, name: String,
      queries: DataFrame, k: Int = 10, nProbe: Int = 2): DataFrame = {
    val cents = loadCentroids(db, name)
    val assigned = db.read(s"${name}_cells")
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .select(col("query_id"), col("qe"),
        explode(slice(sortedCellsExpr(cents, col("qe")), 1, nProbe))
          .as("cell"))
    val cands = assigned
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", cosineSimilarity(col("qe"), col("embedding")))
    cands.groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(k)(col("sim"), col("vec_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("idx", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        (col("idx") + 1).as("rank"), col("s.score").as("sim"))
  }

  /** Cells ordered by distance to `qe` (closest first). Cell ids are
    * int to match `cellExpr`'s output (equi-join key). Higher-order
    * functions are fine here: this runs on the q query rows only,
    * never the corpus.
    */
  private[graft] def sortedCellsExpr(cents: Array[Array[Double]],
      qe: Column): Column = {
    val lit2d = typedlit(cents.map(_.toSeq).toSeq)
    val withIdx = zip_with(lit2d,
      sequence(lit(0), lit(cents.length - 1)),
      (c, i) => struct(
        aggregate(zip_with(qe, c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v).as("d"),
        i.as("cell")))
    transform(array_sort(withIdx), s => s.getField("cell"))
  }

  val oracles: Map[String, String] = Map(
    // D14: the fold seeds an explicit 0.0 and runs in rank order on
    // BOTH engines (list built with ORDER BY sim DESC, id ASC), so
    // the double sum's parenthesization — hence the margin — is
    // bit-identical.
    "ann_margin" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |  FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  list_reduce([CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
        |    for i in range(1, len(qe) + 1)], (x, y) -> x + y)
        |  / (sqrt(list_reduce([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |      for i in range(1, len(qe) + 1)], (x, y) -> x + y))
        |    * sqrt(list_reduce([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
        |      for i in range(1, len(e.embedding) + 1)], (x, y) -> x + y))) AS sim
        |  FROM q, embeddings e WHERE e.vec_id != q.query_id),
        |r AS (SELECT query_id, neighbor_id, sim,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM s),
        |g AS (SELECT query_id,
        |    list(sim ORDER BY rank) FILTER (rank <= 10) AS sims,
        |    MAX(CASE WHEN rank = 1 THEN neighbor_id END) AS neighbor_id,
        |    MAX(CASE WHEN rank = 1 THEN sim END) AS sim
        |  FROM r GROUP BY query_id)
        |SELECT query_id, neighbor_id, sim,
        |  sim * len(sims) / list_reduce([CAST(0.0 AS DOUBLE)] || sims,
        |    (x, y) -> x + y) AS margin
        |FROM g""".stripMargin,
    // D14b: forward list from g, backward lists from a second
    // ranked pass over the mined mates; both folds seed 0.0 in rank
    // order and the margin parenthesizes exactly as marginPairs.
    "ann_margin_pairs" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |  FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  list_reduce([CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
        |    for i in range(1, len(qe) + 1)], (x, y) -> x + y)
        |  / (sqrt(list_reduce([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |      for i in range(1, len(qe) + 1)], (x, y) -> x + y))
        |    * sqrt(list_reduce([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
        |      for i in range(1, len(e.embedding) + 1)], (x, y) -> x + y))) AS sim
        |  FROM q, embeddings e WHERE e.vec_id != q.query_id),
        |r AS (SELECT query_id, neighbor_id, sim,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM s),
        |g AS (SELECT query_id,
        |    list(sim ORDER BY rank) FILTER (rank <= 10) AS sims,
        |    MAX(CASE WHEN rank = 1 THEN neighbor_id END) AS neighbor_id,
        |    MAX(CASE WHEN rank = 1 THEN sim END) AS sim
        |  FROM r GROUP BY query_id),
        |nq AS (SELECT vec_id AS query_id, embedding AS qe
        |  FROM embeddings
        |  WHERE vec_id IN (SELECT DISTINCT neighbor_id FROM g)),
        |s2 AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  list_reduce([CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
        |    for i in range(1, len(qe) + 1)], (x, y) -> x + y)
        |  / (sqrt(list_reduce([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |      for i in range(1, len(qe) + 1)], (x, y) -> x + y))
        |    * sqrt(list_reduce([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
        |      for i in range(1, len(e.embedding) + 1)], (x, y) -> x + y))) AS sim
        |  FROM nq, embeddings e WHERE e.vec_id != nq.query_id),
        |r2 AS (SELECT query_id, sim,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM s2),
        |g2 AS (SELECT query_id AS neighbor_id,
        |    list(sim ORDER BY rank) FILTER (rank <= 10) AS bsims
        |  FROM r2 GROUP BY query_id)
        |SELECT g.query_id, g.neighbor_id, g.sim,
        |  g.sim / ((list_reduce([CAST(0.0 AS DOUBLE)] || g.sims,
        |      (x, y) -> x + y) / (CAST(len(g.sims) AS DOUBLE) * 2.0))
        |    + (list_reduce([CAST(0.0 AS DOUBLE)] || g2.bsims,
        |      (x, y) -> x + y) / (CAST(len(g2.bsims) AS DOUBLE) * 2.0)))
        |    AS margin
        |FROM g JOIN g2 ON g.neighbor_id = g2.neighbor_id""".stripMargin,
    "ann_topk_exact" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |  FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  list_reduce([CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
        |    for i in range(1, len(qe) + 1)], (x, y) -> x + y)
        |  / (sqrt(list_reduce([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |      for i in range(1, len(qe) + 1)], (x, y) -> x + y))
        |    * sqrt(list_reduce([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
        |      for i in range(1, len(e.embedding) + 1)], (x, y) -> x + y))) AS sim
        |  FROM q, embeddings e WHERE e.vec_id != q.query_id),
        |r AS (SELECT query_id, neighbor_id, sim,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM s)
        |SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= 10""".stripMargin,
    "ann_topk_filtered" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |  FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT query_id, e.vec_id AS neighbor_id,
        |  list_reduce([CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
        |    for i in range(1, len(qe) + 1)], (x, y) -> x + y)
        |  / (sqrt(list_reduce([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |      for i in range(1, len(qe) + 1)], (x, y) -> x + y))
        |    * sqrt(list_reduce([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
        |      for i in range(1, len(e.embedding) + 1)], (x, y) -> x + y))) AS sim
        |  FROM q, embeddings e
        |  WHERE e.vec_id != q.query_id AND e.label % 4 = 0),
        |r AS (SELECT query_id, neighbor_id, sim,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM s)
        |SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= 10""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_topk_exact" -> ((s, d) => topkExact(s, d)),
    "ann_margin" -> ((s, d) => marginMining(s, d)),
    "ann_margin_pairs" -> ((s, d) => marginPairs(s, d)),
    "ann_topk_filtered" -> ((s, d) => topkFiltered(s, d)),
    "ann_ivf" -> ((s, d) => ivfTopk(s, d))
  )
}
