package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.GraftDatabase

/** JSONL upload (SURVEY.md §2.A13) — the same upload contract as
  * [[CsvUploader]] for the format training corpora actually arrive
  * in. The reference is CSV-only; this extends its pipeline shape —
  * naming + conflict suffixes, `_csv_progress_` bookkeeping, live
  * mid-load updates, error capture — to line-delimited JSON.
  *
  * Type inference is Spark's native JSON schema inference (one
  * distributed sampling pass): JSON already carries types, so the
  * TypeTracker re-implementation the CSV path needs does not apply —
  * longs/doubles/booleans/strings land typed, absent fields are
  * NULL, and nested objects become struct columns (which the CSV
  * engine cannot represent at all). `.gz` members decompress
  * transparently in the reader, like the CSV path.
  */
object JsonlUploader {

  /** The JSONL extension list for [[GraftDatabase.tableNameForFile]]
    * — one naming authority shared with the CSV path.
    */
  val Extensions: Seq[String] = Seq(".jsonl", ".json")

  /** Upload through the shared envelope ([[Upload]]). The result's
    * `encoding` and `types` are empty — the table's schema is
    * `db.read(tableName).schema` — and `rowsDone` counts the written
    * parquet. Line-delimited JSON is byte-splittable like CSV, so the
    * inference pass and the load both take the adaptive split size.
    */
  def upload(
      db: GraftDatabase,
      jsonlPath: String,
      tableName: Option[String] = None,
      taskId: String = java.util.UUID.randomUUID().toString,
      progressIntervalMs: Long = 250L): CsvUploader.UploadResult =
    Upload.run(db, jsonlPath, tableName, Extensions, taskId,
        progressIntervalMs) {
      Upload.Sniffed("", () =>
        Upload.Parsed(read(db.spark, jsonlPath), None, Nil))
    }

  /** Spark's JSON read of `path` with its schema inferred (one
    * distributed pass) — also the streaming twin's static sniff. No
    * record, or a line that fails to parse (the `_corrupt_record`
    * column), is a loud error, never a silently half-typed table.
    */
  private[graft] def read(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.json(path)
    if (df.schema.isEmpty)
      throw new IllegalArgumentException(s"no JSON records found under $path")
    if (df.schema.fieldNames.contains("_corrupt_record"))
      throw new IllegalArgumentException(
        s"malformed JSON lines under $path (corrupt-record " +
          "column present) — fix or drop the bad lines and re-upload")
    df
  }
}
