package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.catalog.{GraftDatabase, ProgressReporter, Publish}

/** The one batch upload lifecycle behind [[CsvUploader]],
  * [[JsonlUploader]] and [[FixedWidthUploader]] — the reference's
  * pipeline (datasette_upload_csvs/__init__.py:70-241): name the
  * table, start its `_csv_progress_` row, load, then mark the row
  * complete or failed. A format supplies only its sniff and parse.
  */
private[graft] object Upload {

  /** A format's parse: the typed frame to write, its row count when the
    * parse counted it (None: count the written parquet) and the
    * inferred types. */
  final case class Parsed(typed: DataFrame, rows: Option[Long],
      types: Seq[(String, TypeInference.InferredType)])

  object Parsed {
    /** Graft's own one-pass type inference over an all-string frame. */
    def inferred(raw: DataFrame): Parsed = {
      val (types, rows) = TypeInference.inferWithCount(raw)
      Parsed(TypeInference.applyTypes(raw, types), Some(rows), types)
    }
  }

  /** A format's sniff: the charset its scan decodes ("" when the format
    * has none) and the parse to run under that charset. */
  final case class Sniffed(encoding: String, parse: () => Parsed)

  /** Upload `path` into `db`. Naming: `tableName`, else the file name
    * less one of `extensions`, then the `_2`/`_3` conflict suffix.
    * Every failure, the size lookup of a missing path included, lands
    * in `_csv_progress_.error` and in the result; nothing throws.
    * The table is written under `_staging_upload_<taskId>`, then
    * [[Publish.move]]d to its name: a failed write leaves no table, and
    * a name another writer took meanwhile fails the upload.
    *
    * The parse and the write run inside the legacy-charset scope
    * (Spark reads that setting when a scan runs, not when it is
    * declared) and the adaptive split size. Only the write runs in the
    * upload's job group, whose task metrics feed live progress.
    */
  def run(db: GraftDatabase, path: String, tableName: Option[String],
      extensions: Seq[String], taskId: String, progressIntervalMs: Long)(
      sniff: => Sniffed): CsvUploader.UploadResult = {
    val spark = db.spark
    val resolved = db.resolveTableName(
      tableName.getOrElse(db.tableNameForFile(path, extensions)))
    val staging = new Path(db.tablePath(s"_staging_upload_$taskId"))
    val started = java.time.Instant.now().toString
    var bytesTodo = 0L
    try {
      val p = new Path(path)
      bytesTodo = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      db.progress.start(taskId, resolved, bytesTodo, started)
      val sniffed = sniff
      CsvUploader.withLegacyCharsets(spark,
          CsvUploader.needsLegacyCharset(sniffed.encoding)) {
        CsvUploader.withAdaptiveSplits(spark, bytesTodo) {
          val parsed = sniffed.parse()
          new ProgressReporter(db, taskId, resolved, bytesTodo,
            progressIntervalMs).around {
            parsed.typed.write.mode(SaveMode.Overwrite).parquet(staging.toString)
          }
          Publish.move(db.fs, staging, new Path(db.tablePath(resolved)))
          // footer-stats count of the written parquet, not the input
          val rows = parsed.rows.getOrElse(db.read(resolved).count())
          db.progress.complete(taskId, resolved, bytesTodo, rows)
          CsvUploader.UploadResult(db.name, resolved, taskId, rows, bytesTodo,
            sniffed.encoding, parsed.types, None)
        }
      }
    } catch {
      case e: Exception =>
        db.fs.delete(staging, true)
        db.progress.fail(taskId, resolved, String.valueOf(e.getMessage))
        CsvUploader.UploadResult(db.name, resolved, taskId, 0L, bytesTodo,
          "", Nil, Some(String.valueOf(e.getMessage)))
    }
  }
}
