package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.catalog.GraftDatabase
import graft.operators.TextIndex

/** G10: incremental maintenance of the E11–E13 text index AT INGEST
  * (SURVEY.md §2.G) — new documents become searchable as their
  * micro-batch commits, without ever rebuilding the corpus-scale
  * postings. The batch twin's build-once/serve-many lifecycle plus
  * the G2 exactly-once publish discipline:
  *
  * - each micro-batch's postings/lengths are staged as a BUCKETED
  *   write (same term/doc_id bucketing and bucket count as the base
  *   index) and renamed into the artifact under a batchId-unique
  *   file prefix — a foreachBatch replay deletes its earlier
  *   attempt's files first, so retries converge to exactly one copy
  *   (the bucket id rides in the Spark-native `_NNNNN` filename
  *   suffix, which the prefix rename preserves, so the bucketed
  *   scan's exchange elision and bucket pruning keep working over
  *   base + appended files alike);
  * - corpus stats are BATCH-KEYED rows (one per micro-batch, summed
  *   at serve time) — no read-modify-write for a replay to
  *   double-apply;
  * - appended documents must be NEW doc_ids: postings merge by
  *   (term, doc_id) at build time only, so re-ingesting an existing
  *   document is a rebuild's job (`buildIndex` resets all four
  *   artifacts and writes the corpus as batch −1), exactly like the
  *   reference's per-table replace.
  *
  * Streaming state is ZERO — every batch is a stateless map+agg over
  * its own documents; nothing watermark-bounded accumulates.
  */
object StreamingTextIndex {

  /** Start-ready writer maintaining `table` in `db` from a streaming
    * (doc_id, text) frame. Caller sets checkpoint/trigger and
    * `.start()`s. Each micro-batch is one [[appendBatch]].
    */
  def maintainIndex(db: GraftDatabase, table: String, docStream: DataFrame,
      nBuckets: Int): DataStreamWriter[Row] =
    docStream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        appendBatch(db, table, batch, nBuckets, batchId)
    }

  /** Publish one micro-batch of new documents into the index,
    * idempotently under `batchId`. Also the batch-mode incremental
    * append (a backfill appending a day's partition is the same
    * operation with a caller-chosen batch id).
    *
    * The batch is written by [[TextIndex.writeBatch]], the writer of
    * the base build's batch −1, on the driver in one Spark job when its
    * plan-estimated size fits the driver budget, else through Spark.
    */
  def appendBatch(db: GraftDatabase, table: String, docs: DataFrame,
      nBuckets: Int, batchId: Long): Unit =
    appendBatch(db, table, docs, nBuckets, batchId,
      graft.catalog.ResidentArtifact.budget)

  /** [[appendBatch]] with the writer's driver budget given — 0 forces
    * the Spark tier. */
  private[graft] def appendBatch(db: GraftDatabase, table: String,
      docs: DataFrame, nBuckets: Int, batchId: Long,
      driverBudget: Long): Unit = {
    require(batchId >= 0, s"negative batchId $batchId is reserved for the base build")
    TextIndex.writeBatch(db, table, docs, nBuckets, batchId, driverBudget)
  }

  /** E23b streaming twin: maintain a persisted token-cardinality
    * sketch table from a streaming (source, text) document frame —
    * each micro-batch publishes its per-source HLL partials
    * exactly-once under its batch id
    * ([[graft.operators.TextQueries.appendTokenSketches]]), and the
    * corpus card serves from the sketch table at any moment
    * (`tokenCardinalityFromSketches`) without touching document
    * text. Caller sets checkpoint/trigger and `.start()`s.
    */
  def maintainTokenSketches(db: GraftDatabase, name: String,
      docStream: DataFrame): DataStreamWriter[Row] =
    docStream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.operators.TextQueries.appendTokenSketches(
          db, name, batch, batchId)
    }
}
