package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, translate}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The all-string frame `CsvUploader.upload` hands to
  * `TypeInference.inferWithCount`, built the way the uploader builds it:
  * the sniffed charset through `sparkCharset` (cp1252 read as latin-1
  * and translated), `lineSepFor`, the sniffed delimiter, the sniffed
  * header as the schema, and the same scoped legacy-charset and split
  * settings. The benchmark's traced run uses it to time inference on
  * its own. It lives in this package only to reach the uploader's
  * package-private steps.
  *
  * Two uploader steps are not replayed: the quoted-newline probe of
  * file parts past the sniff window (the generated files keep their
  * quoted newlines inside it) and the duplicate-header collapse (the
  * generated headers have no duplicates).
  */
object PerfbenchFrame {

  /** Calls `body` on the file's all-string frame inside the settings
    * the upload reads it under, so every action `body` runs decodes
    * as the upload's did. */
  def withFrame[T](spark: SparkSession, csvPath: String)(body: DataFrame => T): T = {
    val sniffBytes = EncodingDetector.DefaultSniffBytes
    val p = new Path(csvPath)
    val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    val (encoding, sniff) =
      CsvUploader.detectEncodingAndSniff(spark, csvPath, sniffBytes)
    val window = CsvUploader.decodeSniff(encoding, sniff)
    val truncated = sniff.length == sniffBytes
    val delim = window.map(CsvUploader.sniffDelimiter(_, truncated))
      .getOrElse(",")
    val d = if (delim.isEmpty) ',' else delim.head
    val multi = window.exists(CsvUploader.quotedNewline(_, d))
    val header = window
      .filter(_ => delim.length == 1)
      .filter(_ => CsvUploader.lineSepFor(encoding).forall(_ == "\n"))
      .flatMap { t =>
        val scanned = CsvUploader.scanWindow(t, d)
        if (truncated && scanned.fieldCounts.size < 2) None
        else Some(scanned.header)
      }
    CsvUploader.withLegacyCharsets(spark,
        CsvUploader.needsLegacyCharset(encoding)) {
      CsvUploader.withAdaptiveSplits(spark, bytes) {
        body(read(spark, csvPath, encoding, delim, multi, header))
      }
    }
  }

  private def read(spark: SparkSession, csvPath: String, encoding: String,
      delim: String, multi: Boolean, header: Option[Seq[String]]): DataFrame = {
    val caseInsensitive = !spark.conf
      .getOption("spark.sql.caseSensitive").exists(_.toBoolean)
    val reader0 = spark.read
      .option("header", "true")
      .option("encoding", CsvUploader.sparkCharset(encoding))
      .option("sep", delim)
      .option("inferSchema", "false")
      .option("escape", "\"")
      .option("multiLine", multi.toString)
    val reader = header.filter(_ => caseInsensitive).filter(_.nonEmpty)
      .fold(reader0) { h =>
        reader0.schema(StructType(CsvUploader.safeHeaderNames(h)
          .map(StructField(_, StringType, nullable = true))))
      }
    val df = CsvUploader.applyLineSep(reader, encoding).csv(csvPath)
    if (encoding != EncodingDetector.Cp1252) df
    else {
      val defined = (0x80 to 0x9F).filterNot(Set(0x81, 0x8D, 0x8F, 0x90, 0x9D))
      val from = defined.map(_.toChar).mkString
      val to = defined.map(b =>
        new String(Array(b.toByte), "windows-1252")).mkString
      val fix = (s: String) => s.map { ch =>
        val i = from.indexOf(ch)
        if (i >= 0) to(i) else ch
      }
      val renamed = df.toDF(df.columns.map(fix): _*)
      renamed.select(renamed.columns.map(c =>
        translate(col(c), from, to).as(c)): _*)
    }
  }
}
