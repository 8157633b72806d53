package graft.operators

import java.nio.charset.Charset
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.catalog.GraftDatabase
import graft.sources.CsvUploader

/** Oracle-checked exercises of the CSV→typed-table engine
  * (SURVEY.md §2.A). Each query derives a CSV from a parquet test
  * table, runs it through the full upload pipeline (charset sniff →
  * distributed parse → one-pass inference → typed write → catalog),
  * and returns a result whose DuckDB twin is computable from the
  * ORIGINAL parquet — so a hash match proves the whole
  * encode/decode/infer/cast path end to end.
  */
object CsvQueries {

  /** Scratch space under the working directory's `target/`, so two
    * checkouts never share served artifacts. Shared across operator
    * modules so the layout lives in one place.
    */
  private[graft] val scratchRoot =
    new java.io.File("target/graft_scratch").getCanonicalPath

  private[operators] def scratch(qname: String, sfDir: String): String = {
    val key = new org.apache.hadoop.fs.Path(sfDir).getName
    s"$scratchRoot/${qname}_$key"
  }

  private[operators] def freshDb(spark: SparkSession, qname: String,
      sfDir: String): GraftDatabase = {
    val db = GraftDatabase(spark, s"${scratch(qname, sfDir)}/db")
    db.drop()
    db
  }

  /** A10/A2/A4: region → CSV → upload → typed table. Integer columns
    * come back as BIGINT (TypeTracker "integer"), proving parse +
    * inference + cast against the original values.
    */
  def csvIngestTyped(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("ingest_typed", sfDir)
    val db = freshDb(spark, "ingest_typed", sfDir)
    Tables(spark, sfDir, "region")
      .write.mode("overwrite").option("header", "true").csv(s"$dir/region_csv")
    CsvUploader.upload(db, s"$dir/region_csv", Some("region"))
    db.read("region")
  }

  /** A3/A4: mixed-type CSV from orders — integer, text, float-with-
    * ints-mixed-in, and a nullable text column (empty = missing).
    */
  def csvIngestMixed(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("ingest_mixed", sfDir)
    val db = freshDb(spark, "ingest_mixed", sfDir)
    mixedFrame(spark, sfDir)
      .write.mode("overwrite").option("header", "true").csv(s"$dir/mixed_csv")
    CsvUploader.upload(db, s"$dir/mixed_csv", Some("mixed"))
    db.read("mixed")
  }

  /** Corpus-scale fixtures write one part per input partition, and
    * the test tables are single-file/single-row-group parquet — so
    * the fixture write AND every downstream scan of it ran as ONE
    * task (r15 OPT job profile: 31 idle cores on local[32]). A
    * cluster-width round-robin repartition parallelizes both; same
    * rows, same uploaded table, layout only.
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(math.max(1,
      df.sparkSession.sparkContext.defaultParallelism))

  /** r16 OPT: the spread sits UNDER the projection — the single-
    * row-group orders scan is one task either way, but with the
    * exchange below, the date_format/when expression work runs at
    * cluster width instead of on the scan's lone split (job profile:
    * 0.40 s single-task expression+decode job ahead of every mixed
    * fixture write). Same rows; only row→partition assignment moves. */
  private def mixedFrame(spark: SparkSession, sfDir: String): DataFrame =
    spread(Tables(spark, sfDir, "orders")).select(
      col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
      col("o_orderstatus").as("status"),
      when(col("o_orderkey") % 3 === 0, col("o_orderkey").cast("string"))
        .otherwise(col("o_totalprice").cast("string")).as("mixed_num"),
      when(col("o_orderkey") % 7 === 0, lit(null: String))
        .otherwise(concat(lit("n"), col("o_orderkey"))).as("note"))

  /** A3: the inference verdicts themselves, as rows. */
  def csvInferTypes(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("infer_types", sfDir)
    mixedFrame(spark, sfDir)
      .write.mode("overwrite").option("header", "true").csv(s"$dir/mixed_csv")
    val raw = spark.read.option("header", "true").option("inferSchema", "false")
      .csv(s"$dir/mixed_csv")
    val verdicts = graft.sources.TypeInference.infer(raw)
      .map { case (c, t) => (c, t.name) }
    import spark.implicits._
    verdicts.toDF("column_name", "inferred_type")
  }

  /** A2 (ragged rows): the reference builds each record as
    * `dict(zip(headers, row))` (`__init__.py:180`) — a row with MORE
    * fields than the header silently drops the extras, and a row
    * with FEWER yields only the present keys (missing columns →
    * NULL). Spark's PERMISSIVE CSV parse has the same contract
    * (extra tokens ignored, missing tokens null-padded); this query
    * pins the equivalence end-to-end through the upload pipeline on
    * a file that exercises both directions plus a one-field row.
    */
  def csvRaggedRows(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("ragged_rows", sfDir)
    val db = freshDb(spark, "ragged_rows", sfDir)
    val rows = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
      .collect() // 25-row dim table: driver-side file synthesis only
      .map { r =>
        val k = r.getInt(0)
        val name = r.getString(1)
        if (k % 3 == 0) s"$k,$name,note$k,EXTRA,MORE" // extras dropped
        else if (k % 3 == 1) s"$k,$name" // short row: note → NULL
        else s"$k,$name,note$k"
      }
      .sorted
    val body = ("n_nationkey,n_name,note" +: rows.toSeq).mkString("\n")
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/ragged.csv"), body.getBytes("UTF-8"))
    val res = CsvUploader.upload(db, s"$dir/ragged.csv", Some("ragged"))
    db.read(res.tableName)
  }

  /** A1: a latin-1 file (é = 0xE9, invalid as standalone UTF-8) must
    * be detected as ISO-8859-1 and decode losslessly.
    */
  def csvEncodingDetect(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("encoding", sfDir)
    val db = freshDb(spark, "encoding", sfDir)
    val rows = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), concat(col("n_name"), lit("é")))
      .collect() // 25-row dim table: driver-side file synthesis only
      .map(r => s"${r.getInt(0)},${r.getString(1)}")
      .sorted
    val body = ("n_nationkey,name_accented" +: rows.toSeq).mkString("\n")
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/nations.csv"),
      body.getBytes(Charset.forName("ISO-8859-1")))
    val res = CsvUploader.upload(db, s"$dir/nations.csv")
    db.read(res.tableName).withColumn("encoding", lit(res.encoding))
  }

  /** A1 (cp1252 tiebreak): a file whose only non-ASCII byte is € —
    * 0x80, a C1 control in latin-1 but printable in cp1252 — must be
    * detected as windows-1252 and decode losslessly.
    */
  def csvEncodingCp1252(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("encoding_cp1252", sfDir)
    val db = freshDb(spark, "encoding_cp1252", sfDir)
    val rows = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), concat(col("n_name"), lit("€")))
      .collect() // 25-row dim table: driver-side file synthesis only
      .map(r => s"${r.getInt(0)},${r.getString(1)}")
      .sorted
    val body = ("n_nationkey,name_euro" +: rows.toSeq).mkString("\n")
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/nations.csv"),
      body.getBytes(Charset.forName("windows-1252")))
    val res = CsvUploader.upload(db, s"$dir/nations.csv")
    db.read(res.tableName).withColumn("encoding", lit(res.encoding))
  }

  /** A1 (Shift-JIS): statistical detection (structural validity +
    * kana-row pairs) and a fully distributed SJIS decode, end to end.
    * The planted suffix mixes hiragana/katakana/kanji — what a real
    * Japanese CSV carries.
    */
  def csvEncodingSjis(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("encoding_sjis", sfDir)
    val db = freshDb(spark, "encoding_sjis", sfDir)
    val rows = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), concat(col("n_name"), lit("の試験データ")))
      .collect() // 25-row dim table: driver-side file synthesis only
      .map(r => s"${r.getInt(0)},${r.getString(1)}")
      .sorted
    val body = ("n_nationkey,name_jp" +: rows.toSeq).mkString("\n")
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/nations.csv"),
      body.getBytes(Charset.forName("Shift_JIS")))
    val res = CsvUploader.upload(db, s"$dir/nations.csv")
    db.read(res.tableName).withColumn("encoding", lit(res.encoding))
  }

  /** A1 (UTF-16 no BOM): NUL-skew heuristic + charset-aware line
    * splitting, end to end.
    */
  def csvEncodingUtf16(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("encoding_utf16", sfDir)
    val db = freshDb(spark, "encoding_utf16", sfDir)
    val rows = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), concat(col("n_name"), lit("é")))
      .collect()
      .map(r => s"${r.getInt(0)},${r.getString(1)}")
      .sorted
    val body = ("n_nationkey,name_accented" +: rows.toSeq).mkString("\n")
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/nations.csv"),
      body.getBytes(Charset.forName("UTF-16LE"))) // LE charset adds no BOM
    val res = CsvUploader.upload(db, s"$dir/nations.csv")
    db.read(res.tableName).withColumn("encoding", lit(res.encoding))
  }

  /** A1 (EUC member disambiguation): one fixture per EUC-family
    * member. The detector sees the shared high+high pair structure,
    * then the per-member frequency profiles (JVM-charset-derived)
    * pick the language; the decode runs distributed through the
    * legacy-charset hatch, and the oracle compares the round-tripped
    * text against the original UTF-8.
    */
  private def eucFixture(spark: SparkSession, sfDir: String, qname: String,
      suffix: String, colName: String, charset: String,
      byteTransform: Array[Byte] => Array[Byte] = identity): DataFrame = {
    val dir = scratch(qname, sfDir)
    val db = freshDb(spark, qname, sfDir)
    val rows = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), concat(col("n_name"), lit(suffix)))
      .collect() // 25-row dim table: driver-side file synthesis only
      .map(r => s"${r.getInt(0)},${r.getString(1)}")
      .sorted
    val body = (s"n_nationkey,$colName" +: rows.toSeq).mkString("\n")
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/nations.csv"),
      byteTransform(body.getBytes(Charset.forName(charset))))
    val res = CsvUploader.upload(db, s"$dir/nations.csv")
    db.read(res.tableName).withColumn("encoding", lit(res.encoding))
  }

  def csvEncodingEucKr(spark: SparkSession, sfDir: String): DataFrame =
    eucFixture(spark, sfDir, "encoding_euckr", "의 시험 자료", "name_kr",
      "EUC-KR")

  def csvEncodingEucJp(spark: SparkSession, sfDir: String): DataFrame =
    eucFixture(spark, sfDir, "encoding_eucjp", "のしけんでーた", "name_jp",
      "EUC-JP")

  def csvEncodingGbk(spark: SparkSession, sfDir: String): DataFrame =
    eucFixture(spark, sfDir, "encoding_gbk", "的测试数据", "name_zh", "GBK")

  /** A1 (Cyrillic codepages): same fixture machinery — cp1251 and
    * KOI8-R put the same Russian letters in different byte ranges, so
    * the density-gated frequency profiles must both pick the right
    * member and decode losslessly.
    */
  def csvEncodingCp1251(spark: SparkSession, sfDir: String): DataFrame =
    eucFixture(spark, sfDir, "encoding_cp1251", " проверка данных",
      "name_ru", "windows-1251")

  def csvEncodingKoi8r(spark: SparkSession, sfDir: String): DataFrame =
    eucFixture(spark, sfDir, "encoding_koi8r", " проверка данных",
      "name_ru", "KOI8-R")

  /** A1 (Greek): windows-1253 via the single-byte script profiles —
    * the letter positions equal ISO-8859-7's, so this also covers
    * ISO-8859-7 uploads.
    */
  def csvEncodingGreek(spark: SparkSession, sfDir: String): DataFrame =
    eucFixture(spark, sfDir, "encoding_greek", " δοκιμή στοιχείων",
      "name_el", "windows-1253")

  /** A1 (Thai): TIS-620 via the single-byte script profiles. */
  def csvEncodingThai(spark: SparkSession, sfDir: String): DataFrame =
    eucFixture(spark, sfDir, "encoding_thai", " ทดสอบนามสกุลไทย",
      "name_th", "TIS-620")

  /** A1 (EBCDIC national variant, Germany/Austria): cp273 repurposes
    * cp037's punctuation slots for umlauts/ß — umlaut-dense German
    * text is the letters-tier signal that admits and picks the
    * member ([[graft.sources.EncodingDetector.pickEbcdicMember]]).
    */
  def csvEncodingCp273(spark: SparkSession, sfDir: String): DataFrame =
    eucFixture(spark, sfDir, "encoding_cp273", " prüfgröße älter übrig",
      "name_de", "IBM273")

  /** A1 (EBCDIC national variant, Denmark/Norway): cp277 — æ/ø/å in
    * the punctuation slots. Lowercase æ/ø/å share their slots with
    * cp273's ä/ö/ü (byte-identical streams — no sniffer can split
    * them), so the fixture carries an Æ: its slot is '#' under
    * cp273, which makes cp277 strictly win the letters tier.
    */
  def csvEncodingCp277(spark: SparkSession, sfDir: String): DataFrame =
    eucFixture(spark, sfDir, "encoding_cp277", " Ærø løbenr årgang",
      "name_da", "IBM277")

  /** A1 (EBCDIC): a cp037 mainframe export — space is 0x40, letters
    * ≥ 0x81, newline 0x25 — detected structurally and decoded with
    * the charset-encoded lineSep (a raw-0x0A split would see one
    * giant line).
    */
  def csvEncodingEbcdic(spark: SparkSession, sfDir: String): DataFrame =
    eucFixture(spark, sfDir, "encoding_ebcdic", " batch 01 ledger",
      "name_tag", "IBM037")

  /** A1 (EBCDIC member punctuation scoring): cp500 moves '[' / ']'
    * to 0x4A / 0x5A — bytes cp037 decodes as '¢' / '!'. The bracket
    * suffix forces the differ-byte scorer to pick cp500, and the
    * round-trip proves the whole decode.
    */
  def csvEncodingCp500(spark: SparkSession, sfDir: String): DataFrame =
    eucFixture(spark, sfDir, "encoding_cp500", " [b500] ledger",
      "name_tag", "IBM500")

  /** A1 (EBCDIC, LF-0x25 convention): a real-world cp1047 export
    * terminates records with LF 0x25 (Java's IBM1047 charset itself
    * writes '\n' as 0x15 — the fixture transposes, as a mainframe
    * would). Detected via the terminator convention + 1047-consistent
    * punctuation, decoded distributed with the NEL lineSep.
    */
  def csvEncodingCp1047(spark: SparkSession, sfDir: String): DataFrame =
    eucFixture(spark, sfDir, "encoding_cp1047", " [b1047] ledger",
      "name_tag", "IBM1047",
      byteTransform = _.map(b => if (b == 0x15.toByte) 0x25.toByte else b))

  /** A13: JSONL upload — typed primitives, absent-field NULLs, and a
    * NESTED object round-tripped through the upload pipeline (struct
    * columns are exactly what the CSV engine can't represent). The
    * fixture derives from orders; the oracle recomputes every output
    * column, nested fields included, from the original parquet.
    */
  def jsonlIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("jsonl_ingest", sfDir)
    val db = freshDb(spark, "jsonl_ingest", sfDir)
    // r16 OPT: spread UNDER the projection (same mechanism as
    // mixedFrame) — the exchange carries 4 raw columns and the
    // date_format/when/concat/struct work runs at cluster width
    // instead of on the orders scan's lone split (job profile:
    // 0.26 s single-task expression job ahead of the JSON write).
    spread(Tables(spark, sfDir, "orders")).select(
        col("o_orderkey"),
        col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        (col("o_orderkey") % 2 === 0).as("flag"),
        when(col("o_orderkey") % 7 === 0, lit(null: String))
          .otherwise(concat(lit("n"), col("o_orderkey"))).as("note"),
        struct(col("o_orderstatus").as("status"),
          (col("o_orderkey") % 5).as("bucket")).as("meta"))
      .write.mode("overwrite").json(s"$dir/orders_jsonl")
    val res = graft.sources.JsonlUploader.upload(
      db, s"$dir/orders_jsonl", Some("orders_json"))
    require(res.error.isEmpty, s"jsonl upload failed: ${res.error}")
    db.read(res.tableName).select(
      col("o_orderkey"), col("o_totalprice"), col("odate"), col("flag"),
      col("note"), col("meta.status").as("meta_status"),
      col("meta.bucket").as("meta_bucket"))
  }

  /** A5: filename → table name (strip one ".csv") + conflict
    * suffixing _2, _3 on repeated upload.
    */
  def csvTableConflict(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("conflict", sfDir)
    val db = freshDb(spark, "conflict", sfDir)
    Tables(spark, sfDir, "region")
      .write.mode("overwrite").option("header", "true").csv(s"$dir/region_csv")
    CsvUploader.upload(db, s"$dir/region_csv", Some("already_exists"))
    CsvUploader.upload(db, s"$dir/region_csv", Some("already_exists"))
    CsvUploader.upload(db, s"$dir/region_csv", Some("already_exists"))
    CsvUploader.upload(db, s"$dir/region_csv",
      Some(db.tableNameForFile("weird ~ filename here.csv.csv")))
    import spark.implicits._
    db.listTables().toDF("table_name")
  }

  /** A6: progress bookkeeping — after a successful upload the latest
    * state has rows_done = row count, bytes_done = bytes_todo, and a
    * completed stamp.
    */
  def csvProgress(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("progress", sfDir)
    val db = freshDb(spark, "progress", sfDir)
    Tables(spark, sfDir, "region")
      .write.mode("overwrite").option("header", "true").csv(s"$dir/region_csv")
    CsvUploader.upload(db, s"$dir/region_csv", Some("region"),
      taskId = "task-progress-check")
    db.progress.current().select(
      col("table_name"),
      col("rows_done"),
      (col("bytes_done") === col("bytes_todo") && col("bytes_todo") > 0)
        .as("bytes_ok"),
      col("completed").isNotNull.as("completed_ok"))
  }

  /** A11: schema evolution across files in one upload (the
    * reference's insert_all(alter=True)): a later file introduces a
    * new column; earlier rows read NULL for it, and dropped columns
    * read NULL on the later rows.
    */
  def csvSchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("evolve", sfDir)
    val db = freshDb(spark, "evolve", sfDir)
    val rows = Tables(spark, sfDir, "region")
      .select(col("r_regionkey"), col("r_name")).collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    Files.createDirectories(Paths.get(s"$dir/in"))
    Files.write(Paths.get(s"$dir/in/a.csv"),
      ("r_regionkey,r_name" +: rows.map { case (k, n) => s"$k,$n" }.toSeq)
        .mkString("\n").getBytes)
    Files.write(Paths.get(s"$dir/in/b.csv"),
      ("r_regionkey,extra" +: rows.map { case (k, _) => s"$k,${k * 2}" }.toSeq)
        .mkString("\n").getBytes)
    CsvUploader.upload(db, s"$dir/in", Some("evolved"), alter = true)
    db.read("evolved")
  }

  /** A12: gzip-compressed upload — charset sniff decompresses the
    * member; Spark's reader handles .gz natively downstream.
    */
  def csvIngestGzip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("gzip", sfDir)
    val db = freshDb(spark, "gzip", sfDir)
    val rows = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), concat(col("n_name"), lit("é")))
      .collect().map(r => s"${r.getInt(0)},${r.getString(1)}").sorted
    val body = ("n_nationkey,name_accented" +: rows.toSeq).mkString("\n")
    Files.createDirectories(Paths.get(dir))
    val out = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(Paths.get(s"$dir/nations.csv.gz")))
    out.write(body.getBytes(Charset.forName("ISO-8859-1")))
    out.close()
    val res = CsvUploader.upload(db, s"$dir/nations.csv.gz")
    db.read(res.tableName).withColumn("encoding", lit(res.encoding))
  }

  /** A15: quoted fields with EMBEDDED NEWLINES (RFC 4180, and what
    * the reference's `csv.reader` parses natively, `__init__.py:180`)
    * — the sniff-window probe must flip the parse to multiLine so
    * records survive intact, escaped (doubled) quotes included, and
    * type inference still lands integer on the key column. The file
    * mixes quoted-multiline rows with plain ones so a torn parse
    * cannot accidentally produce the right row count.
    */
  def csvIngestMultiline(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("multiline", sfDir)
    val db = freshDb(spark, "multiline", sfDir)
    val rows = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
      .collect() // 25-row dim table: driver-side file synthesis only
      .map { r =>
        val k = r.getInt(0)
        val name = r.getString(1)
        if (k % 2 == 0)
          // quoted field: newline + doubled-quote escape inside
          s"""$k,$name,"l1 for $k\nl2 ""q"" tail""""
        else s"$k,$name,plain $k"
      }
      .sorted
    val body = ("n_nationkey,n_name,note" +: rows.toSeq).mkString("\n")
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/multiline.csv"), body.getBytes("UTF-8"))
    val res = CsvUploader.upload(db, s"$dir/multiline.csv", Some("notes"))
    db.read(res.tableName)
  }

  /** A16: a semicolon-delimited file uploaded WITHOUT naming a
    * delimiter — the sniff window's field-count vote must find ';'
    * (quoted semicolons inside a text field are planted to prove the
    * quote-aware counting), and inference still lands integer.
    */
  def csvDelimiterSniff(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("delim_sniff", sfDir)
    val db = freshDb(spark, "delim_sniff", sfDir)
    val rows = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
      .collect() // 25-row dim table: driver-side file synthesis only
      .map { r =>
        val k = r.getInt(0)
        // the note field carries QUOTED semicolons — literal, not
        // delimiters — so a naive un-quoted count would misvote
        s"""$k;${r.getString(1)};"x; y; $k""""
      }
      .sorted
    val body = ("n_nationkey;n_name;note" +: rows.toSeq).mkString("\n")
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/semi.csv"), body.getBytes("UTF-8"))
    val res = CsvUploader.upload(db, s"$dir/semi.csv", Some("semi"))
    db.read(res.tableName)
  }

  /** A17: fixed-width upload — nation rendered as a padded-column
    * ledger (right-aligned key, left-aligned name, right-aligned
    * score), uploaded under the (name, width) spec and compared
    * typed: trim semantics and inference both on the oracle's books.
    */
  def fwIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("fw_ingest", sfDir)
    val db = freshDb(spark, "fw_ingest", sfDir)
    val rows = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
      .collect() // 25-row dim table: driver-side file synthesis only
      .map { r =>
        val k = r.getInt(0)
        val name = r.getString(1)
        f"$k%4d${name.padTo(25, ' ')}${k * 7}%6d"
      }
      .sorted
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/ledger.dat"),
      rows.mkString("\n").getBytes("UTF-8"))
    val res = graft.sources.FixedWidthUploader.upload(db,
      s"$dir/ledger.dat",
      Seq(("n_nationkey", 4), ("n_name", 25), ("score", 6)),
      Some("ledger"))
    db.read(res.tableName)
  }

  /** The query interface over uploaded tables (Datasette's whole
    * point): upload a CSV, then run SQL against it by name.
    */
  def csvSqlInterface(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("sql_iface", sfDir)
    val db = freshDb(spark, "sql_iface", sfDir)
    spread(Tables(spark, sfDir, "orders"))
      .write.mode("overwrite").option("header", "true").csv(s"$dir/orders_csv")
    CsvUploader.upload(db, s"$dir/orders_csv", Some("uploaded_orders"))
    db.sql("""SELECT o_orderstatus, COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
             |FROM uploaded_orders GROUP BY o_orderstatus""".stripMargin)
  }

  /** A6/B13: progress polled through the SQL surface — the way the
    * reference's own tests watch an upload
    * (tests/test_datasette_upload_csvs.py:170-184 query
    * _csv_progress_ until bytes_done == bytes_todo).
    */
  def csvProgressSql(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = scratch("progress_sql", sfDir)
    val db = freshDb(spark, "progress_sql", sfDir)
    Tables(spark, sfDir, "region")
      .write.mode("overwrite").option("header", "true").csv(s"$dir/region_csv")
    CsvUploader.upload(db, s"$dir/region_csv", Some("region"),
      taskId = "task-progress-sql")
    db.sql("""SELECT table_name, rows_done,
             |  bytes_done = bytes_todo AS bytes_ok
             |FROM _csv_progress_
             |WHERE id = 'task-progress-sql' AND completed IS NOT NULL"""
      .stripMargin)
  }

  val oracles: Map[String, String] = Map(
    "csv_progress_sql" ->
      """SELECT 'region' AS table_name, COUNT(*) AS rows_done,
        |  true AS bytes_ok
        |FROM region""".stripMargin,
    "csv_sql_interface" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "csv_schema_evolution" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name,
        |  CAST(NULL AS BIGINT) AS extra FROM region
        |UNION ALL
        |SELECT CAST(r_regionkey AS BIGINT), NULL,
        |  CAST(r_regionkey * 2 AS BIGINT) FROM region""".stripMargin,
    "csv_ingest_gzip" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || 'é' AS name_accented,
        |  'ISO-8859-1' AS encoding
        |FROM nation""".stripMargin,
    "csv_ingest_typed" ->
      "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region",
    "csv_ingest_mixed" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS odate,
        |  o_orderstatus AS status,
        |  CAST(CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderkey AS DOUBLE)
        |       ELSE o_totalprice END AS DOUBLE) AS mixed_num,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |       ELSE 'n' || CAST(o_orderkey AS VARCHAR) END AS note
        |FROM orders""".stripMargin,
    "csv_infer_types" ->
      """SELECT * FROM (VALUES
        |  ('o_orderkey', 'integer'), ('odate', 'text'), ('status', 'text'),
        |  ('mixed_num', 'float'), ('note', 'text'))
        |AS t(column_name, inferred_type)""".stripMargin,
    "csv_encoding_detect" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || 'é' AS name_accented,
        |  'ISO-8859-1' AS encoding
        |FROM nation""".stripMargin,
    "csv_encoding_cp1252" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || '€' AS name_euro,
        |  'windows-1252' AS encoding
        |FROM nation""".stripMargin,
    "csv_encoding_utf16" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || 'é' AS name_accented,
        |  'UTF-16LE' AS encoding
        |FROM nation""".stripMargin,
    "csv_encoding_sjis" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || 'の試験データ' AS name_jp,
        |  'Shift_JIS' AS encoding
        |FROM nation""".stripMargin,
    "csv_encoding_euckr" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || '의 시험 자료' AS name_kr,
        |  'EUC-KR' AS encoding
        |FROM nation""".stripMargin,
    "csv_encoding_eucjp" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || 'のしけんでーた' AS name_jp,
        |  'EUC-JP' AS encoding
        |FROM nation""".stripMargin,
    "csv_encoding_gbk" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || '的测试数据' AS name_zh,
        |  'GBK' AS encoding
        |FROM nation""".stripMargin,
    "csv_encoding_cp1251" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || ' проверка данных' AS name_ru,
        |  'windows-1251' AS encoding
        |FROM nation""".stripMargin,
    "csv_encoding_koi8r" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || ' проверка данных' AS name_ru,
        |  'KOI8-R' AS encoding
        |FROM nation""".stripMargin,
    "jsonl_ingest" ->
      """SELECT o_orderkey,
        |  CAST(o_totalprice AS DOUBLE) AS o_totalprice,
        |  strftime(o_orderdate, '%Y-%m-%d') AS odate,
        |  (o_orderkey % 2 = 0) AS flag,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |       ELSE 'n' || o_orderkey END AS note,
        |  o_orderstatus AS meta_status,
        |  o_orderkey % 5 AS meta_bucket
        |FROM orders""".stripMargin,
    "csv_encoding_ebcdic" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || ' batch 01 ledger' AS name_tag,
        |  'IBM037' AS encoding
        |FROM nation""".stripMargin,
    "csv_encoding_cp500" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || ' [b500] ledger' AS name_tag,
        |  'IBM500' AS encoding
        |FROM nation""".stripMargin,
    "csv_encoding_greek" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || ' δοκιμή στοιχείων' AS name_el,
        |  'windows-1253' AS encoding
        |FROM nation""".stripMargin,
    "csv_encoding_thai" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || ' ทดสอบนามสกุลไทย' AS name_th,
        |  'TIS-620' AS encoding
        |FROM nation""".stripMargin,
    "csv_encoding_cp273" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || ' prüfgröße älter übrig' AS name_de,
        |  'IBM273' AS encoding
        |FROM nation""".stripMargin,
    "csv_encoding_cp277" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || ' Ærø løbenr årgang' AS name_da,
        |  'IBM277' AS encoding
        |FROM nation""".stripMargin,
    "csv_encoding_cp1047" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || ' [b1047] ledger' AS name_tag,
        |  'IBM1047' AS encoding
        |FROM nation""".stripMargin,
    "csv_ragged_rows" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CASE WHEN n_nationkey % 3 = 1 THEN NULL
        |       ELSE 'note' || CAST(n_nationkey AS VARCHAR) END AS note
        |FROM nation""".stripMargin,
    "csv_ingest_multiline" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CASE WHEN n_nationkey % 2 = 0
        |       THEN 'l1 for ' || CAST(n_nationkey AS VARCHAR) || chr(10)
        |            || 'l2 "q" tail'
        |       ELSE 'plain ' || CAST(n_nationkey AS VARCHAR) END AS note
        |FROM nation""".stripMargin,
    "csv_delimiter_sniff" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  'x; y; ' || CAST(n_nationkey AS VARCHAR) AS note
        |FROM nation""".stripMargin,
    "fw_ingest" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_nationkey * 7 AS BIGINT) AS score
        |FROM nation""".stripMargin,
    "csv_table_conflict" ->
      """SELECT * FROM (VALUES
        |  ('already_exists'), ('already_exists_2'), ('already_exists_3'),
        |  ('weird ~ filename here.csv'))
        |AS t(table_name)""".stripMargin,
    "csv_progress" ->
      """SELECT 'region' AS table_name, COUNT(*) AS rows_done,
        |  true AS bytes_ok, true AS completed_ok
        |FROM region""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "csv_sql_interface" -> (csvSqlInterface _),
    "csv_schema_evolution" -> (csvSchemaEvolution _),
    "csv_ingest_gzip" -> (csvIngestGzip _),
    "csv_ingest_typed" -> (csvIngestTyped _),
    "csv_ingest_mixed" -> (csvIngestMixed _),
    "csv_infer_types" -> (csvInferTypes _),
    "csv_ragged_rows" -> (csvRaggedRows _),
    "csv_ingest_multiline" -> (csvIngestMultiline _),
    "csv_delimiter_sniff" -> (csvDelimiterSniff _),
    "fw_ingest" -> (fwIngest _),
    "csv_encoding_detect" -> (csvEncodingDetect _),
    "csv_encoding_cp1252" -> (csvEncodingCp1252 _),
    "csv_encoding_utf16" -> (csvEncodingUtf16 _),
    "csv_encoding_sjis" -> (csvEncodingSjis _),
    "csv_encoding_euckr" -> (csvEncodingEucKr _),
    "csv_encoding_eucjp" -> (csvEncodingEucJp _),
    "csv_encoding_gbk" -> (csvEncodingGbk _),
    "csv_encoding_cp1251" -> (csvEncodingCp1251 _),
    "csv_encoding_koi8r" -> (csvEncodingKoi8r _),
    "csv_encoding_ebcdic" -> (csvEncodingEbcdic _),
    "csv_encoding_cp500" -> (csvEncodingCp500 _),
    "csv_encoding_greek" -> (csvEncodingGreek _),
    "csv_encoding_thai" -> (csvEncodingThai _),
    "csv_encoding_cp273" -> (csvEncodingCp273 _),
    "csv_encoding_cp277" -> (csvEncodingCp277 _),
    "csv_encoding_cp1047" -> (csvEncodingCp1047 _),
    "jsonl_ingest" -> (jsonlIngest _),
    "csv_table_conflict" -> (csvTableConflict _),
    "csv_progress" -> (csvProgress _),
    "csv_progress_sql" -> (csvProgressSql _)
  )
}
