package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamReader, StreamingQuery, Trigger}

import graft.catalog.{GraftDatabase, Publish}

/** The one start of the streaming ingest paths (CSV, JSONL and
  * fixed-width — SURVEY §2.A9/G2): resume-aware progress and an
  * exactly-once batch publish. Each twin supplies only its source
  * stream and the typing applied to every micro-batch.
  *
  * `foreachBatch` is only at-least-once (a batch replays if the write
  * succeeded but the checkpoint commit didn't), so a blind append
  * would duplicate rows. Each batch stages to a scratch dir and
  * moves into the table under a batchId-unique file prefix
  * ([[graft.catalog.Publish.files]]), with any files from an earlier
  * attempt of the same batch deleted first — a replay converges to
  * exactly one copy no matter where the previous attempt died.
  * Progress rows are keyed seq=batchId+1 and replayed batches
  * at-or-below the resume point don't re-count.
  */
private[graft] object IngestPublish {

  /** Start ingesting `source` (built on `db.spark.readStream`) into
    * `table` under progress task `taskId`: the files on disk now, as
    * AvailableNow micro-batches checkpointed at `_checkpoint_<table>`,
    * each batch passed through `typing` and published exactly once.
    * The caller drives the query (processAllAvailable /
    * awaitTermination).
    */
  def start(db: GraftDatabase, table: String, taskId: String,
      typing: DataFrame => DataFrame)(
      source: DataStreamReader => DataFrame): StreamingQuery = {
    val (maxSeqAtStart, counter) = resumeState(db, taskId, table)
    source(db.spark.readStream)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", db.tablePath(s"_checkpoint_$table"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publishBatch(db, table, taskId, typing(batch), batchId,
          maxSeqAtStart, counter)
      }
      .start()
  }

  /** Resume state for `taskId`: (max published seq, cumulative-row
    * counter primed with the recorded rows_done). Starts the progress
    * row if the task has never run.
    */
  private def resumeState(db: GraftDatabase, taskId: String,
      table: String): (Long, AtomicLong) = {
    val (maxSeqAtStart, already): (Long, Long) =
      if (db.progress.exists)
        db.progress.current().filter(col("id") === taskId)
          .select(col("seq"), col("rows_done")).collect()
          .headOption.map(r => (r.getLong(0), r.getLong(1)))
          .getOrElse((-1L, 0L))
      else (-1L, 0L)
    if (maxSeqAtStart < 0L) db.progress.start(taskId, table, bytesTodo = 0L)
    (maxSeqAtStart, new AtomicLong(already))
  }

  /** Publish one (already typed) micro-batch idempotently and bump
    * progress unless the batch is a replay.
    */
  private def publishBatch(db: GraftDatabase, table: String,
      taskId: String, typed: DataFrame, batchId: Long, maxSeqAtStart: Long,
      counter: AtomicLong): Unit = {
    val n = publishFiles(db, table, typed, batchId)
    if (batchId + 1 > maxSeqAtStart) {
      val total = counter.addAndGet(n)
      db.progress.update(taskId, table, bytesTodo = 0L, bytesDone = 0L,
        rowsDone = total, seq = batchId + 1)
    }
  }

  /** The progress-free core: stage `df` and move its files into
    * `table` through [[graft.catalog.Publish.files]] under a
    * batchId-unique prefix, so a replay converges to exactly one copy.
    * Returns the staged row count, summed from the staged files'
    * footers on the driver: no Spark job, no source recompute. Shared
    * by ingest progress publishing and the index-maintenance appends
    * (D10).
    */
  def publishFiles(db: GraftDatabase, table: String, df: DataFrame,
      batchId: Long): Long = {
    val spark = df.sparkSession
    val staging = new Path(db.tablePath(s"_staging_$table"),
      batchId.toString)
    val fs = db.fs
    fs.delete(staging, true)
    df.write.mode("overwrite").parquet(staging.toString)
    val conf = spark.sessionState.newHadoopConf()
    val n = fs.listStatus(staging).filter(_.getPath.getName.endsWith(".parquet"))
      .map(graft.sources.ParquetStats.footerRowCount(_, conf)).sum
    Publish.files(fs, staging, new Path(db.tablePath(table)), prefix(batchId))
    n
  }

  /** The file-name prefix of batch `batchId`'s published files. */
  def prefix(batchId: Long): String = f"b$batchId%019d-"
}
