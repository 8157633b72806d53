package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

import graft.catalog.GraftDatabase
import graft.sources.{CsvUploader, EncodingDetector, FixedWidthUploader, TypeInference}

/** Streaming fixed-width ingest (SURVEY.md §2.A17's streaming twin,
  * G2's contract): new fixed-width files dropped into the directory
  * are picked up automatically, each micro-batch publishing through
  * the shared exactly-once staging-rename ([[IngestPublish]] — the
  * same machinery behind the CSV and JSONL twins) with seq-keyed
  * progress rows that survive replays.
  *
  * The record parse is [[FixedWidthUploader]]'s verbatim: the CSV
  * reader as a charset-aware line reader (non-occurring delimiter,
  * quoting disabled, §A1's lineSep dispatch) + the stateless cp1252
  * decode and substring projection — all apply to a stream unchanged.
  * Type verdicts come from a static sniff pass over the files already
  * present, like the CSV twin.
  */
object StreamingFixedWidthIngest {

  def start(db: GraftDatabase, dir: String, table: String,
      taskId: String, spec: Seq[(String, Int)]): StreamingQuery = {
    require(spec.nonEmpty, "fixed-width ingest needs a non-empty spec")
    val spark = db.spark
    val (encoding, _) = CsvUploader.detectEncodingAndSniff(spark, dir,
      EncodingDetector.DefaultSniffBytes)
    // the EBCDIC/CJK codepages A17 exists for need the escape hatch
    // per micro-batch, and the static pass below runs under it too
    CsvUploader.legacyCharsetsForStream(spark, encoding)

    // static sniff pass: type verdicts from what's on disk
    val types = TypeInference.infer(
      FixedWidthUploader.readFixed(spark, dir, encoding, spec))

    IngestPublish.start(db, table, taskId,
        TypeInference.applyTypes(_, types)) { reader =>
      FixedWidthUploader.parse(
        reader.options(FixedWidthUploader.lineOptions(encoding))
          .schema(FixedWidthUploader.lineSchema).csv(dir), encoding, spec)
    }
  }
}
