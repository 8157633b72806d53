package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** IVF-PQ (SURVEY.md §2.D5) — the canonical billion-scale ANN
  * composition: a coarse IVF quantizer routes each vector to a cell,
  * PQ encodes the RESIDUAL (vector − cell centroid; residuals are
  * smaller, so the same codebook budget quantizes them more
  * accurately), and a query scans only its probed cells, scoring
  * compressed codes with the inner-product decomposition
  *
  *   dot(q, x) = dot(q, centroid(cell_x)) + dot(q, resid_x)
  *             ≈ cell_dot + Σ_m LUT_q[m][code_m(x)]
  *
  * so the per-cell constant rides on the probe row and the scan
  * touches only the m-byte codes. Storage: m bytes + a cell id per
  * vector; scan cost: |probed cells| / nCells of the corpus.
  */
object IvfPq {

  def annIvfPq(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, nCells: Int = 16, nProbe: Int = 2): DataFrame = {
    import spark.implicits._
    val e = graft.CacheHygiene.persist(Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")))

    // Coarse quantizer + residuals (float, so Pq.train's sample path
    // reads them like any embedding column). Training is in-core over
    // a bounded sample (KMeans), so iterations are free; the corpus
    // passes — assignment and residual — are ONE codegen'd map scan
    // (native NearestCell + CellResidual expressions).
    val coarse = Ann.trainCentroids(e, nCells, iters = 1)
    val assigned = e
      .withColumn("cell", Ann.cellExpr(coarse, col("embedding")))
      .withColumn("embedding",
        graft.functions.GraftFunctions.cellResidual(
          col("embedding"), col("cell"), coarse))
      .select(col("vec_id"), col("cell"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val cb = Pq.train(assigned.select(col("vec_id"), col("embedding")),
      iters = 1)
    val codes = assigned.select(col("vec_id"), col("cell"),
      Pq.codesExpr(cb, col("embedding")).as("codes"))

    // Driver-side probe table: (query, probed cell, cell constant,
    // residual-codebook LUT) — nQueries × nProbe rows, broadcast.
    val probeRows = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .flatMap { r =>
        val qid = r.getLong(0)
        val q = r.getSeq[Float](1).map(_.toDouble).toArray
        val lut = Pq.lutFor(q, cb)
        coarse.zipWithIndex.map { case (c, ci) =>
          val l2 = c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
          val cellDot = c.zip(q).map { case (a, b) => a * b }.sum
          (ci, l2, cellDot)
        }.sortBy(_._2).take(nProbe)
          .map { case (cell, _, cellDot) => (qid, cell, cellDot, lut) }
      }.toSeq.toDF("query_id", "cell", "cell_dot", "lut")

    val scored = codes.join(broadcast(probeRows), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score",
        col("cell_dot") + Pq.adcScoreExpr(col("codes"), col("lut")))
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(k)(col("score"), col("vec_id"))
        .as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("idx", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        (col("idx") + 1).as("rank"), col("s.score").as("approx_dot"))
  }

  /** D8: IVF-PQ + exact refine — the last stage of the production
    * billion-scale pipeline. ADC ranks are approximate (quantization
    * error); the fix is to over-fetch `refine`·k candidates from the
    * compressed scan, then re-score JUST those against the raw
    * vectors with the exact dot product and re-rank. The expensive
    * part (corpus scan) still touches only m-byte codes; the exact
    * arithmetic runs on q·k·refine rows — the candidate set
    * broadcasts against the raw-vector table, so the refine costs
    * one broadcast-hash probe of the corpus and no extra shuffle.
    * Higher-order zip_with/aggregate is fine here precisely because
    * it never sees the corpus, only the candidates.
    */
  def annIvfPqRefined(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, nCells: Int = 16, nProbe: Int = 2,
      refine: Int = 5): DataFrame = {
    val cands = annIvfPq(spark, dir, k * refine, nQueries, nCells, nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val exact = e.join(
        broadcast(cands.join(q, Seq("query_id"))),
        col("vec_id") === col("neighbor_id"))
      .withColumn("dot",
        aggregate(
          zip_with(col("qe"), col("embedding"),
            (a, b) => a.cast("double") * b.cast("double")),
          lit(0.0), (acc, v) => acc + v))
    exact.groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(k)(col("dot"), col("neighbor_id"))
        .as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("idx", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        (col("idx") + 1).as("rank"), col("s.score").as("dot"))
  }

  /** Persisted IVF-PQ index lifecycle (VERDICT r5 #6): coarse
    * centroids + residual codebook + (vec_id, cell, codes) corpus as
    * three parquet tables, so serving probes the stored artifact
    * instead of retraining both quantizers per invocation. All
    * training is deterministic → rebuild idempotent (spec-pinned).
    */
  def buildIvfPqIndex(db: graft.catalog.GraftDatabase, e: DataFrame,
      name: String, nCells: Int = 16): Unit = {
    val spark = db.spark
    import spark.implicits._
    val ep = graft.CacheHygiene.persist(e)
    val coarse = Ann.trainCentroids(ep, nCells, iters = 1)
    val assigned = ep
      .withColumn("cell", Ann.cellExpr(coarse, col("embedding")))
      .withColumn("embedding",
        graft.functions.GraftFunctions.cellResidual(
          col("embedding"), col("cell"), coarse))
      .select(col("vec_id"), col("cell"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = Pq.train(assigned.select(col("vec_id"), col("embedding")),
      iters = 1)
    graft.CacheHygiene.unpersistAfterUse(ep)
    graft.CacheHygiene.unpersistAfterUse(assigned)
    db.write(coarse.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "centroid"),
      s"${name}_centroids", org.apache.spark.sql.SaveMode.Overwrite)
    db.write(
      cb.cents.zipWithIndex.flatMap { case (sub, s) =>
        sub.zipWithIndex.map { case (cent, c) => (s, c, cent.toSeq) }
      }.toSeq.toDF("s", "c", "centroid"),
      s"${name}_codebook", org.apache.spark.sql.SaveMode.Overwrite)
    db.write(assigned.select(col("vec_id"), col("cell"),
        Pq.codesExpr(cb, col("embedding")).as("codes")),
      s"${name}_codes", org.apache.spark.sql.SaveMode.Overwrite)
  }

  /** Serve IVF-PQ top-k from a stored index: load the two bounded
    * quantizer tables, build the per-query probe rows driver-side,
    * and scan only the stored m-byte codes of the probed cells —
    * same scoring as [[annIvfPq]], zero training.
    */
  def ivfPqTopkFromIndex(db: graft.catalog.GraftDatabase, name: String,
      queries: DataFrame, k: Int = 10, nProbe: Int = 2): DataFrame = {
    val spark = db.spark
    import spark.implicits._
    val coarse = db.read(s"${name}_centroids").orderBy(col("cell"))
      .collect().map(_.getSeq[Double](1).toArray)
    val cb = Pq.loadCodebook(db, name)
    val probeRows = queries.select(col("vec_id"), col("embedding"))
      .collect()
      .flatMap { r =>
        val qid = r.getLong(0)
        val q = r.getSeq[Float](1).map(_.toDouble).toArray
        val lut = Pq.lutFor(q, cb)
        coarse.zipWithIndex.map { case (c, ci) =>
          val l2 = c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
          val cellDot = c.zip(q).map { case (a, b) => a * b }.sum
          (ci, l2, cellDot)
        }.sortBy(_._2).take(nProbe)
          .map { case (cell, _, cellDot) => (qid, cell, cellDot, lut) }
      }.toSeq.toDF("query_id", "cell", "cell_dot", "lut")
    val scored = db.read(s"${name}_codes")
      .join(broadcast(probeRows), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score",
        col("cell_dot") + Pq.adcScoreExpr(col("codes"), col("lut")))
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopK.topk(k)(col("score"), col("vec_id"))
        .as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("idx", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        (col("idx") + 1).as("rank"), col("s.score").as("approx_dot"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivfpq" -> ((s, d) => annIvfPq(s, d)),
    "ann_ivfpq_refine" -> ((s, d) => annIvfPqRefined(s, d))
  )
}
