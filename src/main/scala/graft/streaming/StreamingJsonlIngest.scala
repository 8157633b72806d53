package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

import graft.catalog.GraftDatabase
import graft.sources.JsonlUploader

/** Streaming JSONL ingest — the continuous form of
  * [[graft.sources.JsonlUploader]], exactly as
  * [[StreamingCsvIngest]] is for CSV (SURVEY §2.A9/G2): new `.jsonl`
  * files dropped into the directory land as micro-batches with the
  * shared exactly-once publish and resume-aware progress
  * ([[IngestPublish]]).
  *
  * Streams require an explicit schema (no inference mid-stream), so
  * the schema comes from the batch uploader's read of the files
  * already present — later files must fit it (new fields need a
  * restart, which re-infers; the batch uploader's native union covers
  * the one-shot case).
  */
object StreamingJsonlIngest {

  def start(db: GraftDatabase, jsonlDir: String, table: String,
      taskId: String): StreamingQuery = {
    val schema = JsonlUploader.read(db.spark, jsonlDir).schema
    IngestPublish.start(db, table, taskId, identity)(
      _.schema(schema).json(jsonlDir))
  }
}
