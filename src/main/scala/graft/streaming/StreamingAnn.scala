package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Ann

/** G8: streaming ANN serving (SURVEY.md §2.G) — a stream of query
  * vectors answered against a statically built IVF index, the
  * "vector search endpoint" shape: the corpus index is built once
  * (batch), queries arrive continuously, results emit per closed
  * window.
  *
  * Scale/state accounting: the index side (cell assignments) is a
  * STATIC frame — the stream never shuffles it; each micro-batch's
  * queries map to their probe cells statelessly (the same literal-
  * centroid expressions as batch D2) and hash-join the probed cells
  * only. The one stateful operator is the windowed top-k aggregation,
  * and its state is watermark-bounded: a query's k-heap lives only
  * until its window closes. Equality with the batch path is
  * spec-pinned — same centroids (deterministic training), same
  * probes, same tie-breaks, so a streamed query returns EXACTLY what
  * batch D2 returns for it.
  */
object StreamingAnn {

  /** A running-index handle: `results` is the streaming result frame
    * to start a query on; `close()` releases the persisted static
    * index when the serving query stops. Without the explicit
    * release, every serve setup in a long-lived session would strand
    * a corpus-scale cached frame (the operator can't unpersist
    * itself — the cache must outlive every micro-batch of a query
    * whose lifetime only the caller knows).
    */
  final case class IvfServing(results: DataFrame,
      private val cachedIndex: DataFrame) extends AutoCloseable {
    override def close(): Unit = cachedIndex.unpersist(blocking = false)
  }

  /** Serve a query stream `(ts, query_id, qe)` against the
    * `embeddings` table of `dir`. Emits `(window_start, query_id,
    * neighbor_id, rank, sim)` per closed window (append mode).
    * Convenience form of [[serveIvfManaged]] — in a long-lived
    * session prefer the managed form and `close()` it when the
    * serving query stops, or the static index cache persists for the
    * session lifetime.
    */
  def serveIvf(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 10, nCells: Int = 16, iters: Int = 3, nProbe: Int = 2,
      window: String = "5 minutes", watermark: String = "10 minutes")
      : DataFrame =
    serveIvfManaged(spark, dir, queries, k, nCells, iters, nProbe,
      window, watermark).results

  /** [[serveIvf]] with the cache-release handle. */
  def serveIvfManaged(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 10, nCells: Int = 16, iters: Int = 3, nProbe: Int = 2,
      window: String = "5 minutes", watermark: String = "10 minutes")
      : IvfServing = {
    val corpus = graft.CacheHygiene.persist(Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")))
    val centroids = Ann.trainCentroids(corpus, nCells, iters)
    val assigned = corpus
      .withColumn("cell", Ann.cellExpr(centroids, col("embedding")))

    // stream side: stateless probe-cell explosion (q × nProbe rows)
    val probes = queries
      .withWatermark("ts", watermark)
      .select(col("ts"), col("query_id"), col("qe"),
        explode(slice(Ann.sortedCellsExpr(centroids, col("qe")), 1, nProbe))
          .as("cell"))

    // stream-static equi-join on cell, then the watermark-bounded
    // windowed top-k: only q·k survivors per window hold state
    val out = probes.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim",
        graft.functions.GraftFunctions.cosineSimilarity(
          col("qe"), col("embedding")))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("query_id"))
      .agg(graft.functions.TopK.topk(k)(col("sim"), col("vec_id")).as("tk"))
      .select(col("window.start").as("window_start"), col("query_id"),
        posexplode(col("tk")).as(Seq("idx", "s")))
      .select(col("window_start"), col("query_id"),
        col("s.id").as("neighbor_id"), (col("idx") + 1).as("rank"),
        col("s.score").as("sim"))
    IvfServing(out, corpus)
  }

  /** G12: streaming index maintenance — a (vec_id, embedding) stream
    * appended into a stored D9 IVF index under its frozen quantizer
    * (D10's append, driven by the stream's batch ids): the
    * ingest-side half of a serving deployment, where new corpus
    * vectors become searchable per micro-batch while re-training
    * stays a periodic batch compaction. foreachBatch is
    * at-least-once, so each batch publishes through the exactly-once
    * staging-rename (a replay converges to one copy — same contract
    * as G2/G10). Caller sets checkpoint/trigger and `.start()`s.
    */
  def maintainIvfIndex(db: graft.catalog.GraftDatabase, name: String,
      vecStream: DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    vecStream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        Ann.appendToIvfIndex(db, name, batch, batchId)
    }

  /** G13: streaming serving for the COMPRESSED/GRAPH indexes — a
    * (vec_id, embedding) query stream answered per micro-batch from
    * the stored D4 PQ artifacts and published exactly-once to
    * `{name}_results` keyed by batch id. The codebook (the ONLY
    * driver artifact — m·k rows) loads ONCE at stream setup; per
    * batch the query rows build their ADC LUTs IN-PLAN
    * ([[graft.operators.Pq.lutExpr]] — bit-identical to the driver
    * `lutFor`, spec-pinned) and broadcast as a frame, so each
    * micro-batch is a pure stream-static join with ZERO driver LUT
    * work — the per-batch planning step the r7 shape paid is gone,
    * and per-corpus-row cost keeps PQ's O(m) lookup amortization.
    * IVF streams through the in-plan window path (G8); HNSW serves
    * per-batch because graph entry is driver work by design — the
    * D9 load-the-quantizer rule.
    */
  def servePqStream(db: graft.catalog.GraftDatabase, name: String,
      queries: DataFrame, k: Int = 10)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    val cb = graft.operators.Pq.loadCodebook(db, name) // once, at setup
    queries.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        IngestPublish.publishFiles(db, s"${name}_results",
          graft.operators.Pq.adcTopKWith(db, cb, name, batch, k)
            .withColumn("batch_id", lit(batchId)),
          batchId)
        ()
    }
  }

  /** G13 for the stored HNSW graphs — same per-batch serve +
    * exactly-once publish contract as [[servePqStream]].
    */
  def serveHnswStream(db: graft.catalog.GraftDatabase, name: String,
      queries: DataFrame, k: Int = 10, efSearch: Int = 48)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        IngestPublish.publishFiles(db, s"${name}_results",
          graft.operators.Hnsw.hnswTopkFromIndex(db, name, batch, k,
            efSearch).withColumn("batch_id", lit(batchId)),
          batchId)
        ()
    }

  /** D7b streaming serve: [[serveHnswStream]] against a ROUTED index
    * — each micro-batch routes its queries to nProbe cells via the
    * stored quantizer and deserializes only the routed blobs, so a
    * serving stream's per-batch cost is O(q·nProbe·ef·M) regardless
    * of how many cells the index has grown to. Exactly-once under
    * the same batch-id staging rename as every serving stream.
    */
  def serveHnswRoutedStream(db: graft.catalog.GraftDatabase,
      name: String, queries: DataFrame, k: Int = 10,
      efSearch: Int = 48, nProbe: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        IngestPublish.publishFiles(db, s"${name}_results",
          graft.operators.Hnsw.hnswTopkFromIndexRouted(db, name, batch,
            k, efSearch, nProbe).withColumn("batch_id", lit(batchId)),
          batchId)
        ()
    }

  /** G17: streaming hybrid lexical+vector serving — a (query_id,
    * terms) query stream answered per micro-batch by the D13 RRF
    * fusion over the persisted text index and the embedding store,
    * published exactly-once to `{name}_results` keyed by batch id.
    * Each query runs its own fused plan from the driver loop:
    * lexical TERM SETS are plan-time values by design (that is what
    * lets BM25 prune to its terms' postings buckets instead of
    * scanning the index), so a query batch is driver-bounded — the
    * same rule as HNSW's per-batch graph entry (G13) and the D9
    * load-the-quantizer discipline. Both branch artifacts live on
    * disk; the only per-batch state is the batch's own query rows.
    *
    * Output: (doc_id, lex_rank, vec_rank, rrf_score, query_id,
    * terms, batch_id) — the batch twin's rows tagged with their
    * query and batch.
    */
  def serveHybridStream(db: graft.catalog.GraftDatabase, name: String,
      dir: String, queries: DataFrame,
      maxQueriesPerBatch: Int = 256)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // NULL terms fail fast BEFORE the collect: a null would NPE
        // deep in the per-query loop with no hint of which row; the
        // query contract is non-null terms (same loud-error policy as
        // the model caps).
        val rows = batch.select(col("query_id"), col("terms"))
          .distinct().collect()
        rows.find(_.isNullAt(1)).foreach { r =>
          throw new IllegalArgumentException(
            s"serveHybridStream: NULL terms for query_id=${r.get(0)} " +
              s"in batch $batchId — terms are plan-time values and must " +
              "be non-null")
        }
        // The driver-bounded rule (G13) made EXPLICIT: each distinct
        // query becomes its own fused plan unioned into one job, so
        // an unbounded query micro-batch grows driver planning
        // time/memory without limit. Cap loudly; callers with more
        // traffic shard the query stream or raise the cap knowingly.
        require(rows.length <= maxQueriesPerBatch,
          s"serveHybridStream: ${rows.length} distinct queries in batch " +
            s"$batchId exceeds maxQueriesPerBatch=$maxQueriesPerBatch — " +
            "each query plans its own fused serve; shard the query " +
            "stream or raise the cap explicitly")
        if (rows.nonEmpty) {
          val outs = rows.map { r =>
            val (qid, ts) = (r.getLong(0), r.getString(1))
            graft.operators.HybridSearch
              // fuseLexLiteral=false: every query's fused serve stays
              // a declarative plan so the batch publishes as ONE job
              // (a literal lexical list would cost a driver action
              // per query per micro-batch)
              .hybridRrfFor(spark, dir, ts.split(" ").toSeq, qid,
                fuseLexLiteral = false)
              .withColumn("query_id", lit(qid))
              .withColumn("terms", lit(ts))
          }
          IngestPublish.publishFiles(db, s"${name}_results",
            outs.reduce(_ unionByName _)
              .withColumn("batch_id", lit(batchId)),
            batchId)
        }
        ()
    }
}
