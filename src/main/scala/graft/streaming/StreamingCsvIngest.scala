package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.catalog.GraftDatabase
import graft.sources.{CsvUploader, EncodingDetector, TypeInference}

/** Streaming CSV ingest (SURVEY.md §2.A9/G2): the Spark-native
  * re-expression of the reference's incremental load loop
  * (datasette_upload_csvs/__init__.py:172-198 — parse rows, insert
  * every 100, update `_csv_progress_` every 10).
  *
  * Micro-batches take the place of the 100-row insert batches: each
  * one publishes to the destination table exactly once and writes a
  * progress row with cumulative counts ([[IngestPublish]]); new CSV
  * files dropped into the directory are picked up automatically. At
  * scale this is the continuous-ingest topology: file-arrival-driven,
  * state bounded by the file index.
  */
object StreamingCsvIngest {

  /** Start ingesting `csvDir` into `db.table`. Charset and delimiter
    * are sniffed from the first file's window and the header and type
    * verdicts from the files already present, exactly as the batch
    * upload sniffs them (the reference likewise detects from the first
    * bytes of the upload); the stream reads with the batch upload's
    * dialect ([[CsvUploader.csvOptions]]). Caller drives the query
    * (processAllAvailable / awaitTermination).
    */
  def start(db: GraftDatabase, csvDir: String, table: String,
      taskId: String): StreamingQuery = {
    val spark = db.spark
    val sniffBytes = EncodingDetector.DefaultSniffBytes
    val (encoding, sniff) =
      CsvUploader.detectEncodingAndSniff(spark, csvDir, sniffBytes)
    CsvUploader.legacyCharsetsForStream(spark, encoding)
    val delimiter = CsvUploader.decodeSniff(encoding, sniff)
      .map(CsvUploader.sniffDelimiter(_, truncated = sniff.length == sniffBytes))
      .getOrElse(",")
    val options = CsvUploader.csvOptions(encoding, delimiter)

    // Static sniff pass: header + type verdicts from what's on disk.
    val staticRaw = spark.read.options(options).csv(csvDir)
    val types =
      TypeInference.infer(CsvUploader.decodeCp1252(staticRaw, encoding))
    val stringSchema = StructType(
      staticRaw.columns.map(StructField(_, StringType, nullable = true)))

    IngestPublish.start(db, table, taskId,
        TypeInference.applyTypes(_, types)) { reader =>
      CsvUploader.decodeCp1252(
        reader.options(options).schema(stringSchema).csv(csvDir), encoding)
    }
  }
}
