package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, length => strlen, nullif, substring, trim}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.catalog.GraftDatabase

/** Fixed-width file ingest (SURVEY.md §2.A17) — the record format
  * mainframe dumps actually arrive in, and the natural companion of
  * the EBCDIC charset work (§A1): a cp037 ledger export is typically
  * BOTH EBCDIC-encoded and fixed-width. Column layout comes from a
  * caller-supplied (name, width) spec — the copybook's role; fixed-
  * width files carry no header and no delimiter, so nothing is
  * sniffable about the layout itself (the charset still is, via the
  * same ≤2 MiB window as CSV).
  *
  * Contract is [[CsvUploader.upload]]'s, through the same envelope
  * ([[Upload]]): same naming + `_2`/`_3` conflict suffixes, same
  * `_csv_progress_` bookkeeping with live mid-load updates, same error
  * capture, same adaptive split size, same one-pass distributed type
  * inference and typed cast. Field
  * semantics: each field is `substring(line, start, width)` then
  * trimmed (fixed-width pads with spaces — numbers right-aligned,
  * text left-aligned), and a trimmed-empty field is NULL (the
  * TypeTracker "missing" vote, §A3). A line SHORTER than the spec
  * null-fills its tail fields — the `dict(zip)` spirit of §A14; a
  * line longer silently drops the overrun, same as extra CSV fields.
  *
  * Scale shape: the parse is one splittable line scan (records =
  * lines, decoded distributedly with the detected charset exactly
  * like CSV — the line reader is Spark's CSV reader with a
  * non-occurring delimiter, so every charset/lineSep path §A1 built
  * is reused verbatim) followed by a codegen substring projection;
  * no shuffle before the write.
  */
object FixedWidthUploader {

  /** Upload `path` into `db` under the fixed-width `spec`
    * ((columnName, width) in record order).
    */
  def upload(
      db: GraftDatabase,
      path: String,
      spec: Seq[(String, Int)],
      tableName: Option[String] = None,
      taskId: String = java.util.UUID.randomUUID().toString,
      sniffBytes: Int = EncodingDetector.DefaultSniffBytes,
      progressIntervalMs: Long = 250L): CsvUploader.UploadResult = {
    require(spec.nonEmpty, "fixed-width upload needs a non-empty spec")
    require(spec.forall(_._2 > 0),
      s"fixed-width widths must be positive, got $spec")
    Upload.run(db, path, tableName, Seq(".csv"), taskId,
        progressIntervalMs) {
      val (encoding, _) =
        CsvUploader.detectEncodingAndSniff(db.spark, path, sniffBytes)
      Upload.Sniffed(encoding, () => Upload.Parsed.inferred(
        readFixed(db.spark, path, encoding, spec)))
    }
  }

  /** One distributed line scan + substring projection. The line
    * reader is the CSV reader with a non-occurring (U+0001) delimiter
    * and quoting disabled: that reuses §A1's whole charset + lineSep
    * dispatch (EBCDIC 0x15/0x25 terminators, UTF-16 charset-encoded
    * newlines, cp1252's latin-1 read + remap) without a second
    * text-source implementation — Spark's `text` source reads UTF-8
    * only.
    */
  private[graft] def readFixed(spark: SparkSession, path: String,
      encoding: String, spec: Seq[(String, Int)]): DataFrame =
    parse(spark.read.options(lineOptions(encoding)).schema(lineSchema)
      .csv(path), encoding, spec)

  /** The line reader's options: [[CsvUploader.sparkCharset]] and
    * [[CsvUploader.lineSepFor]], one U+0001-separated column, no
    * quoting, no header. */
  private[graft] def lineOptions(encoding: String): Map[String, String] =
    Map("header" -> "false", "inferSchema" -> "false",
      "encoding" -> CsvUploader.sparkCharset(encoding), "sep" -> "\u0001",
      "quote" -> "") ++ CsvUploader.lineSepFor(encoding).map("lineSep" -> _)

  private[graft] val lineSchema =
    StructType(Seq(StructField("__line", StringType)))

  /** The cp1252 decode and substring projection over a one-column
    * `__line` frame read with [[lineOptions]] — shared by the batch
    * read and the streaming twin (both are stateless, so they apply to
    * a stream unchanged). */
  private[graft] def parse(lines: DataFrame, encoding: String,
      spec: Seq[(String, Int)]): DataFrame = {
    val offsets = spec.scanLeft(1) { case (off, (_, w)) => off + w }
    val cols = spec.zip(offsets).map { case ((name, w), start) =>
      // 1-based substring; past-the-end yields "", trimmed-empty → NULL
      // (short records null-fill their tail, §A14's dict(zip) spirit)
      nullif(trim(substring(col("__line"), start, w)), org.apache.spark.sql
        .functions.lit("")).as(name)
    }
    // drop fully-empty physical lines (a trailing terminator is not a
    // record — the CSV reader's own blank-line behavior)
    CsvUploader.decodeCp1252(lines, encoding)
      .filter(strlen(col("__line")) > 0).select(cols: _*)
  }
}
