package graft.sources

import java.nio.charset.Charset

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.GraftDatabase

/** End-to-end CSV upload (SURVEY.md §2.A10): the Spark-native
  * re-expression of the reference's whole pipeline
  * (datasette_upload_csvs/__init__.py:70-241):
  *
  *   sniff charset (≤2 MiB, driver-side) → distributed CSV parse
  *   (header row, all-string schema) → one-pass distributed type
  *   inference → typed cast → parquet table in the target database,
  *   with `_csv_progress_` bookkeeping and error capture.
  *
  * This object holds the CSV sniff and parse, and the reader dialect
  * ([[csvOptions]], [[sparkCharset]], [[lineSepFor]], [[decodeCp1252]])
  * the fixed-width reader and the streaming twins share. Naming,
  * progress, the charset and split scopes, the write and error capture
  * are the one envelope every format's upload goes through ([[Upload]]),
  * whose result is [[UploadResult]].
  *
  * Differences from the reference, by design: the decode+parse is a
  * splittable distributed scan instead of a single-threaded
  * csv.reader loop; the "insert then transform types" two-step
  * becomes infer-then-cast-on-write (the cast pipelines into the
  * write, so the data is read twice total — once for inference, once
  * for the load — regardless of size); incremental per-100-row
  * progress maps to per-microbatch progress in the streaming variant
  * (graft.streaming.StreamingCsvIngest).
  */
object CsvUploader {

  case class UploadResult(
      database: String,
      tableName: String,
      taskId: String,
      rowsDone: Long,
      bytesTodo: Long,
      encoding: String,
      types: Seq[(String, TypeInference.InferredType)],
      error: Option[String])

  def upload(
      db: GraftDatabase,
      csvPath: String,
      tableName: Option[String] = None,
      taskId: String = java.util.UUID.randomUUID().toString,
      sniffBytes: Int = EncodingDetector.DefaultSniffBytes,
      delimiter: Option[String] = None,
      alter: Boolean = false,
      progressIntervalMs: Long = 250L,
      multiLine: Option[Boolean] = None): UploadResult =
    Upload.run(db, csvPath, tableName, Seq(".csv"), taskId,
        progressIntervalMs) {
      val spark = db.spark
      val (encoding, sniff) = detectEncodingAndSniff(spark, csvPath,
        sniffBytes)
      val windowText = decodeSniff(encoding, sniff)
      val truncated = sniff.length == sniffBytes
      // A16: when the caller names no delimiter, sniff it from the
      // same window — field-count consistency voting over the RFC
      // 4180 candidates (',' tab ';' '|'), so a TSV or semicolon
      // export uploads with zero configuration. The window's one scan
      // with the chosen delimiter (the winning candidate's, when
      // sniffed) serves every probe below.
      val (delim, scan) = delimiter match {
        case Some(d) =>
          (d, windowText.map(scanWindow(_, if (d.isEmpty) ',' else d.head)))
        case None => windowText.map(sniffDelimiterScan(_, truncated)) match {
          case Some((d, s)) => (d, Some(s))
          case None         => (",", None)
        }
      }
      // A15: a quoted newline in the sniff window flips the parse to
      // multiLine (whole-file univocity) — the only mode that keeps
      // the reference's csv.reader record semantics on such files.
      // The cost is intra-file splittability, paid ONLY when the file
      // actually interleaves newlines into quoted fields; a 100 TB
      // ingest arrives as many files, so file-level parallelism
      // survives. Explicit `multiLine` overrides the bounded sniff.
      val delimCh = if (delim.isEmpty) ',' else delim.head
      val multi = multiLine.getOrElse(
        scan.exists(_.quotedNewline) ||
          quotedNewlineInOtherParts(spark, csvPath, encoding, delimCh))
      Upload.Sniffed(encoding, () => Upload.Parsed.inferred(
        if (alter) readRawEvolving(spark, csvPath, encoding, delim, multi)
        else {
          // header-as-schema guard: a window truncated at the sniff
          // bound with no complete second record may hold a CUT
          // header — providing it as schema would silently narrow
          // the table. One complete data record proves the header
          // ended inside the window.
          // the window scanner only knows \n / \r\n record ends —
          // a charset whose records terminate otherwise (cp1047's
          // NEL) would yield the whole window as one giant
          // "header", so only a plain-\n lineSep qualifies
          // … and the window scanner splits on a single CHARACTER:
          // with an explicit multi-char delimiter it would mis-split
          // the header and hand Spark wrong column names as a
          // provided schema (permissive mode then silently pads
          // every row) — fall through to Spark's own header naming
          // instead (r15 ADVICE).
          val sniffHeader = scan
            .filter(_ => delim.length == 1)
            .filter(_ => lineSepFor(encoding).forall(_ == "\n"))
            .filter(s => !truncated || s.fieldCounts.size >= 2)
            .map(_.header)
          dictZipColumns(readRaw(spark, csvPath, encoding, delim,
            multi, sniffHeader = sniffHeader), scan.map(_.header))
        }))
    }

  /** Batch upload with bounded parallelism — the shape a corpus
    * build actually ingests with (thousands of files per epoch; the
    * reference's surface is one file per request). Semantics per
    * file are EXACTLY [[upload]]'s: same naming, progress rows,
    * inference, error capture.
    *
    * Concurrency design:
    *   - Table names resolve SEQUENTIALLY up front (the `_2`/`_3`
    *     suffix contract is arrival-order-dependent; resolving
    *     inside the workers would race two same-named files into one
    *     table).
    *   - Each worker runs on its OWN `spark.newSession()` — same
    *     SparkContext (one scheduler, shared executors), separate
    *     SQLConf, so the scoped legacy-charset toggle of a Shift-JIS
    *     upload can't yank the conf out from under a concurrent
    *     UTF-8 decode. Progress bookkeeping is already
    *     concurrency-safe (UUID-named single-row appends).
    *   - `maxConcurrent` bounds DRIVER-side concurrency; Spark's
    *     scheduler interleaves the resulting jobs across executors
    *     (small uploads no longer serialize on per-job latency).
    */
  def uploadAll(db: GraftDatabase, csvPaths: Seq[String],
      maxConcurrent: Int = 4, alter: Boolean = false,
      sniffBytes: Int = EncodingDetector.DefaultSniffBytes,
      delimiter: Option[String] = None,
      multiLine: Option[Boolean] = None): Seq[UploadResult] = {
    // one naming authority: GraftDatabase.resolveTableName with the
    // batch's pending names in the reserved set
    val named = csvPaths.foldLeft(Vector.empty[(String, String)]) {
      (acc, p) =>
        val resolved = db.resolveTableName(db.tableNameForFile(p),
          reserved = acc.map(_._2).toSet)
        acc :+ (p -> resolved)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, maxConcurrent))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // one isolated session PER WORKER (not per file): a
    // thousands-of-files epoch reuses maxConcurrent SessionStates
    val workerDb = ThreadLocal.withInitial[GraftDatabase](() =>
      new GraftDatabase(db.spark.newSession(), db.path))
    try {
      val futures = named.map { case (p, table) =>
        scala.concurrent.Future {
          upload(workerDb.get(), p, Some(table), sniffBytes = sniffBytes,
            delimiter = delimiter, alter = alter, multiLine = multiLine)
        }
      }
      // Await each future INDIVIDUALLY — Future.sequence fails fast,
      // so one worker dying on a fatal Throwable (OOM,
      // NoClassDefFound — upload() only catches Exception) would
      // throw away the whole batch's results, including uploads that
      // already completed and WROTE tables, while remaining workers
      // kept running past pool.shutdown(). Per-file outcomes survive
      // instead: a fatal worker yields an error-carrying result row.
      named.zip(futures).map { case ((_, table), f) =>
        scala.util.Try(scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.Inf)) match {
          case scala.util.Success(r) => r
          case scala.util.Failure(t) =>
            UploadResult(db.name, table, taskId = "", rowsDone = 0L,
              bytesTodo = 0L, encoding = "",
              types = Seq.empty, error = Some(
                s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage)}"))
        }
      }
    } finally pool.shutdown()
  }

  /** Sniff the first file of a path (file or directory of parts).
    * Gzip members (magic 1f 8b) are decompressed for the sniff —
    * Spark's reader handles `.gz` transparently downstream. Returns
    * the detected encoding AND the sniff window itself, so the
    * multiline probe reuses the same read.
    */
  private[graft] def detectEncodingAndSniff(spark: SparkSession, csvPath: String,
      sniffBytes: Int): (String, Array[Byte]) = {
    val p = new Path(csvPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = partFiles(fs, p).headOption.getOrElse(
      throw new IllegalArgumentException(s"no files to sniff in $csvPath"))
    val window = readWindow(fs, target, sniffBytes)
    (EncodingDetector.detectBytes(window,
      truncated = window.length == sniffBytes), window)
  }

  /** Data part files of a file-or-directory upload path, in name
    * order (a single file lists as itself). */
  private[graft] def partFiles(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Seq[Path] =
    if (fs.getFileStatus(p).isDirectory)
      fs.listStatus(p).filter(_.isFile).map(_.getPath)
        .filterNot(_.getName.startsWith("_")).sortBy(_.getName).toSeq
    else Seq(p)

  /** Leading `n` bytes of one file, gzip members decompressed (magic
    * 1f 8b) — the shared read under the encoding sniff and the
    * per-part multiline probe. */
  private def readWindow(fs: org.apache.hadoop.fs.FileSystem,
      target: Path, n: Int): Array[Byte] = {
    val in = fs.open(target)
    try {
      val head = new Array[Byte](2)
      val got = in.read(head)
      in.seek(0)
      val stream: java.io.InputStream =
        if (got == 2 && head(0) == 0x1F.toByte && head(1) == 0x8B.toByte)
          new java.util.zip.GZIPInputStream(in)
        else in
      val buf = new Array[Byte](n)
      var off = 0
      var r = 0
      while (off < n && { r = stream.read(buf, off, n - off); r > 0 })
        off += r
      java.util.Arrays.copyOf(buf, off)
    } finally in.close()
  }

  /** How many part files beyond the first the A15 probe samples, and
    * how many bytes of each. Bounded driver cost (≤ ~4 MiB of reads
    * per directory upload); quoted newlines first appearing beyond
    * the sampled windows still need `multiLine = Some(true)`. */
  private val MultilineProbeParts = 15
  private val MultilineProbePartBytes = 256 * 1024

  /** A15's directory half: the FIRST part's 2 MiB window rides the
    * encoding sniff, but a multi-part upload (e.g. re-uploading an
    * exportCsv directory) can hold its quoted newlines in any part —
    * so sample a bounded number of the remaining parts too, short-
    * circuiting on the first hit. */
  private def quotedNewlineInOtherParts(spark: SparkSession,
      csvPath: String, encoding: String, delimiter: Char): Boolean = {
    val p = new Path(csvPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    partFiles(fs, p).drop(1).take(MultilineProbeParts).exists { f =>
      decodeSniff(encoding, readWindow(fs, f, MultilineProbePartBytes))
        .exists(quotedNewline(_, delimiter))
    }
  }

  /** Streaming-side charset setup (A9/G2 and the A17 stream): the
    * scoped [[withLegacyCharsets]] wrapper cannot protect a
    * long-lived streaming query — the conf is consulted per
    * micro-batch, long after start() returned — so the legacy
    * escape hatch is set STICKY on the session when the detected
    * charset needs it (it stays set for the query's lifetime, by
    * design).
    */
  private[graft] def legacyCharsetsForStream(spark: SparkSession,
      encoding: String): Unit =
    if (needsLegacyCharset(encoding))
      spark.conf.set("spark.sql.legacy.javaCharsets", "true")

  /** RFC 4180 quoted-newline scan: does the text contain a newline
    * INSIDE a quoted field? That is the one CSV shape Spark's default
    * (splittable) line-oriented parse cannot represent — the record
    * is torn at the raw newline — while the reference's `csv.reader`
    * (`__init__.py:180`) consumes it natively. A field is quoted only
    * when its first char is `"` (mid-field quotes are literal);
    * doubled quotes escape. A window that ENDS inside an open quote
    * without having seen a newline stays false — only an observed
    * quoted newline triggers the non-splittable parse.
    */
  private[graft] def quotedNewline(text: String,
      delimiter: Char): Boolean = scanWindow(text, delimiter).quotedNewline

  /** The ONE RFC 4180 scanner behind all three window probes (A15
    * quoted-newline, A16 field-count voting, A14 header fields) — a
    * single pass yielding everything each probe reads, so the quote/
    * escape/CRLF dialect can never drift between them. A field is
    * quoted only when its first char is `"` (mid-field quotes are
    * literal); doubled quotes escape; a quoted newline extends its
    * record; CRLF counts as one terminator; records with no content
    * (a trailing terminator) are not records.
    */
  private[graft] case class WindowScan(
      fieldCounts: Seq[Int],  // per content-bearing record
      header: Seq[String],    // first record's unquoted field values
      quotedNewline: Boolean) // any newline inside a quoted field?

  private[graft] def scanWindow(text: String, d: Char): WindowScan = {
    val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val header = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var collecting = true // field values kept for the FIRST record only
    var fields = 1
    var inQuotes = false
    var atFieldStart = true
    var hasContent = false
    var qnl = false
    var i = 0
    val n = text.length
    def endField(): Unit =
      if (collecting) { header += cur.result(); cur.clear(); () }
    def endRecord(): Unit = {
      if (hasContent) { endField(); counts += fields; collecting = false }
      fields = 1; atFieldStart = true; hasContent = false
    }
    while (i < n) {
      val c = text.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < n && text.charAt(i + 1) == '"') {
            if (collecting) cur.append('"')
            i += 1
          } else { inQuotes = false; atFieldStart = false }
        } else {
          if (c == '\n' || c == '\r') qnl = true
          if (collecting) cur.append(c)
        }
        hasContent = true
      } else if (c == '"' && atFieldStart) {
        inQuotes = true; atFieldStart = false; hasContent = true
      } else if (c == d) {
        endField(); fields += 1; atFieldStart = true; hasContent = true
      } else if (c == '\n' || c == '\r') {
        endRecord()
        if (c == '\r' && i + 1 < n && text.charAt(i + 1) == '\n') i += 1
      } else {
        if (collecting) cur.append(c)
        atFieldStart = false; hasContent = true
      }
      i += 1
    }
    endRecord()
    WindowScan(counts.toSeq, header.toSeq, qnl)
  }

  /** Decode the sniff window with the charset the distributed read
    * will use — the text the A15 (quoted newline) and A16 (delimiter)
    * probes both scan. Bounded like the encoding sniff itself; the
    * charsets whose sparkCharset mapping throws keep their loud
    * downstream error and simply skip the probes (None).
    */
  private[graft] def decodeSniff(encoding: String,
      sniff: Array[Byte]): Option[String] = {
    val csName = scala.util.Try(sparkCharset(encoding)).getOrElse(return None)
    scala.util.Try {
      val t0 = new String(sniff, Charset.forName(csName))
      val t =
        if (encoding == EncodingDetector.Cp1252) t0.map(cp1252Char) else t0
      // strip a decoded BOM (U+FEFF) — to the probes it is content
      // and would hide a quoted first header field from atFieldStart
      if (t.nonEmpty && t.charAt(0) == 65279.toChar) t.substring(1) else t
    }.toOption
  }

  /** Candidate order doubles as the tie-break precedence. */
  private val DelimiterCandidates = Seq(',', '\t', ';', '|')

  /** A16: infer the delimiter from the sniff window by field-count
    * consistency voting (the csv.Sniffer idea, quote-aware): for each
    * candidate, split the window into RFC 4180 records and count
    * fields per record — the winning delimiter yields ≥2 fields at a
    * consistent count across records (quoted delimiters don't count,
    * so prose commas inside quotes can't fake a win). Nothing
    * qualifies (single-column file, ragged counts) → ','.
    */
  private[graft] def sniffDelimiter(text: String,
      truncated: Boolean): String = sniffDelimiterScan(text, truncated)._1

  /** [[sniffDelimiter]]'s verdict with the window's scan under it. */
  private[graft] def sniffDelimiterScan(text: String,
      truncated: Boolean): (String, WindowScan) = {
    val scored = DelimiterCandidates.map { d =>
      val scan = scanWindow(text, d)
      val all = scan.fieldCounts
      // a truncated window's final record may be cut mid-field
      val counts = if (truncated && all.nonEmpty) all.init else all
      if (counts.size < 2) (scan, d, 1, 0.0)
      else {
        val mode = counts.groupBy(identity)
          .maxBy { case (v, g) => (g.size, v) }._1
        // the HEADER (first record) must itself match the mode — a
        // delimited file's header carries the data's field count,
        // while punctuation that merely recurs in single-column data
        // (log lines with consistent '|'s) leaves a 1-field header
        val m = if (counts.head == mode) mode else 1
        (scan, d, m, counts.count(_ == mode).toDouble / counts.size)
      }
    }
    // nothing qualifies → ',', the first candidate
    val (scan, d, _, _) = scored
      .filter { case (_, _, m, frac) => m >= 2 && frac >= 0.8 }
      .sortBy { case (_, d, _, frac) => (-frac, DelimiterCandidates.indexOf(d)) }
      .headOption.getOrElse(scored.head)
    (d.toString, scan)
  }

  /** cp1252 differs from latin-1 ONLY in 0x80–0x9F (27 defined
    * printables there: € ™ smart quotes Š Œ Ž …). Spark's CSV reader
    * accepts a fixed charset list that excludes cp1252, so every cp1252
    * decode — batch and streaming scans, and the sniff window — reads
    * latin-1 (byte-lossless: each 0x8x/0x9x byte becomes the
    * same-numbered C1 control char) and then remaps those code points
    * ([[decodeCp1252]], [[cp1252Char]]). Exactly a native cp1252
    * decode for every byte cp1252 defines; its five undefined codes
    * keep their latin-1 code points (in the sniff window they make the
    * detector answer latin-1 instead).
    */
  private lazy val (cp1252From, cp1252To) = {
    val defined = (0x80 to 0x9F)
      .filterNot(Set(0x81, 0x8D, 0x8F, 0x90, 0x9D))
    (defined.map(_.toChar).mkString,
      defined.map(b => new String(Array(b.toByte), "windows-1252")).mkString)
  }

  private def cp1252Char(ch: Char): Char = {
    val i = cp1252From.indexOf(ch)
    if (i >= 0) cp1252To(i) else ch
  }

  /** A frame read with `sparkCharset(encoding)`, decoded: for cp1252,
    * column names remapped on the driver and every column through one
    * `translate` projection — stateless and in codegen, so a stream
    * takes it unchanged; any other charset passes through. */
  private[graft] def decodeCp1252(df: DataFrame,
      encoding: String): DataFrame =
    if (encoding != EncodingDetector.Cp1252) df
    else {
      import org.apache.spark.sql.functions.{col, translate}
      val renamed = df.toDF(df.columns.map(_.map(cp1252Char)): _*)
      renamed.select(renamed.columns.map(c =>
        translate(col(c), cp1252From, cp1252To).as(c)): _*)
    }

  /** The reference's duplicate-header contract (`dict(zip(headers,
    * row))`, `__init__.py:180`): duplicate column names COLLAPSE —
    * the surviving column carries the LAST duplicate's values at the
    * FIRST occurrence's position (Python dict insertion-order
    * semantics). Spark instead index-suffixes duplicates (`a,b,a` →
    * `a0,b,a2`), silently renaming the table's surface — so when the
    * sniffed header shows duplicates, this projection restores the
    * reference's table shape by POSITION. No-duplicate uploads (and
    * any window/count mismatch — the safety guard) pass through
    * untouched; the evolving path keeps per-file union semantics.
    */
  private def dictZipColumns(df: DataFrame,
      header: Option[Seq[String]]): DataFrame = {
    val names = header.getOrElse(return df)
    // Duplicates detected CASE-INSENSITIVELY: Python's dict is
    // case-sensitive, but Spark's analyzer and the parquet writer are
    // not (default caseSensitive=false) — 'ID' and 'id' cannot
    // coexist in the written table anyway, so the collapse follows
    // the engine's identifier semantics (documented deviation). An
    // EMPTY header field keeps Spark's safe '_cN' surface: collapsing
    // would alias a column to the empty string.
    val keys = names.map(_.toLowerCase(java.util.Locale.ROOT))
    if (names.size != df.columns.length ||
      keys.distinct.size == keys.size ||
      names.exists(_.isEmpty)) return df
    df.select(keys.distinct.map { k =>
      val first = keys.indexOf(k)
      val last = keys.lastIndexOf(k)
      TypeInference.rawCol(df.columns(last)).as(names(first))
    }: _*)
  }

  /** The charset to hand Spark's reader: cp1252 decodes as latin-1
    * and is fixed up by [[decodeCp1252]]; a UTF-32BE file (always
    * BOM-detected) reads through the generic BOM-aware "UTF-32"
    * charset, the only 32-bit form Spark's CSV reader accepts.
    * UTF-32LE has NO correct distributed path: the reader would
    * split records on big-endian newline bytes — fail loudly (the
    * uploader captures the error in _csv_progress_) rather than
    * decode garbage, which is also what the old UTF-16LE
    * misdetection used to produce silently.
    */
  private[graft] def sparkCharset(encoding: String): String = encoding match {
    case EncodingDetector.Cp1252 => EncodingDetector.Latin1
    case EncodingDetector.Cp037Lf =>
      throw new IllegalArgumentException(
        "cp037-punctuated stream with LF (0x25) record terminators " +
          "detected: Java's IBM037 charset never encodes any character " +
          "to 0x25 (no lineSep can split the records), and the stream's " +
          "punctuation is cp037-specific so the IBM1047 decode that " +
          "handles 0x25 terminators would garble it — transcode the " +
          "file to UTF-8 (or 0x15-terminated cp037) first")
    case EncodingDetector.Cp1047Nl => EncodingDetector.Cp1047
    case EncodingDetector.ShiftJis => "Shift_JIS"
    case EncodingDetector.Utf32BE => "UTF-32"
    case EncodingDetector.Utf32LE =>
      throw new IllegalArgumentException(
        "UTF-32LE is detected but not decodable by Spark's distributed " +
          "CSV reader (only BOM-aware big-endian UTF-32 is supported); " +
          "transcode the file to UTF-8 first")
    case EncodingDetector.EucFamily =>
      throw new IllegalArgumentException(
        "EUC-family bytes detected (EUC-KR / EUC-JP / GBK share the " +
          "same structure) but the statistical member profiles were " +
          "ambiguous — transcode the file to UTF-8 rather than risk " +
          "a wrong-member decode")
    case e => e
  }

  /** Charsets outside Spark's default CSV allowlist, admitted through
    * the `spark.sql.legacy.javaCharsets` escape hatch. The CJK and
    * Cyrillic entries are split-safe for a distributed decode because
    * their multi-byte trail bytes are ≥ 0x40 (SJIS) / ≥ 0xA1 (EUC
    * family), so a raw 0x0A is always a real newline (unlike UTF-16).
    * cp037 is on the list for a DIFFERENT reason: it contains no
    * 0x0A at all, and readRaw gives it an explicit charset-encoded
    * lineSep ("\n" -> 0x15 under Java's IBM037) instead.
    */
  private[sources] def needsLegacyCharset(encoding: String): Boolean =
    encoding == EncodingDetector.ShiftJis ||
      encoding == EncodingDetector.EucKr ||
      encoding == EncodingDetector.EucJp ||
      encoding == EncodingDetector.Gbk ||
      encoding == EncodingDetector.Cp1251 ||
      encoding == EncodingDetector.Koi8R ||
      encoding == EncodingDetector.Cp1253 ||
      encoding == EncodingDetector.Cp1256 ||
      encoding == EncodingDetector.Cp1255 ||
      encoding == EncodingDetector.Tis620 ||
      encoding == EncodingDetector.Cp037 ||
      encoding == EncodingDetector.Cp500 ||
      encoding == EncodingDetector.Cp273 ||
      encoding == EncodingDetector.Cp277 ||
      encoding == EncodingDetector.Cp1047 ||
      encoding == EncodingDetector.Cp1047Nl

  /** Scale-adaptive input split size for the upload's distributed
    * scans (r15 OPT, guide §2.2/§6): Spark assigns one scan task per
    * `spark.sql.files.maxPartitionBytes` (128 MB default) slice of
    * each file, so a single 12 MB CSV reads — and type-infers, and
    * typed-writes — on ONE task while the other cores idle (measured:
    * the inference aggregate was the dominant job of every csv_*
    * bench row at 2–3 tasks on local[32]). Target `bytes/(2·cores)`
    * per split, floored at 1 MiB so tiny files don't shred into
    * per-record tasks, and never RAISED above the session's
    * configured value — the admin's cluster setting stays the
    * ceiling, and at real scale `bytes/(2·cores)` exceeds it so this
    * is a no-op. Scoped and restored like [[withLegacyCharsets]];
    * `uploadAll` workers each own a session, so concurrent uploads
    * cannot race the conf. Gzip members and multiLine parses are
    * unsplittable regardless — the conf is harmless there.
    */
  private[sources] def withAdaptiveSplits[T](spark: SparkSession,
      bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    val prevBytes =
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(prev)
    val cores = math.max(1, spark.sparkContext.defaultParallelism)
    val target = math.max(bytes / (2L * cores), 1L << 20)
    if (target >= prevBytes) return body
    spark.conf.set(key, target.toString)
    try body
    finally spark.conf.set(key, prev)
  }

  /** Run `body` with the legacy-charset escape hatch on, restoring
    * the previous session value afterwards — a one-off Shift-JIS
    * upload must not permanently widen the accepted-charset behavior
    * of every later CSV read on the shared session. Callers must
    * finish every ACTION on the decoded frame inside `body`: the conf
    * is consulted when the scan executes, not when it's declared.
    */
  private[sources] def withLegacyCharsets[T](spark: SparkSession,
      needed: Boolean)(body: => T): T = {
    if (!needed) return body
    val key = "spark.sql.legacy.javaCharsets"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** UTF-16/32 AND EBCDIC need the explicit lineSep: Spark encodes
    * it in the declared charset ("\n" → 0x15 under Java's IBM037/
    * IBM500), so records split on the real terminator bytes instead
    * of a raw 0x0A that a non-ASCII-compatible stream never
    * contains. cp1047's real-world convention terminates records
    * with LF 0x25, which Java's IBM1047 maps to U+0085 (NEL) — so
    * NEL is the lineSep that encodes to the right byte there.
    * Shared by the CSV and fixed-width (A17) readers.
    */
  private[graft] def lineSepFor(encoding: String): Option[String] =
    if (encoding == EncodingDetector.Cp1047) Some("\u0085")
    else if (encoding.startsWith("UTF-16") ||
      encoding.startsWith("UTF-32") ||
      encoding == EncodingDetector.Cp037 ||
      encoding == EncodingDetector.Cp500 ||
      encoding == EncodingDetector.Cp273 ||
      encoding == EncodingDetector.Cp277 ||
      encoding == EncodingDetector.Cp1047Nl)
      Some("\n")
    else None

  private[graft] def applyLineSep(
      reader: org.apache.spark.sql.DataFrameReader,
      encoding: String): org.apache.spark.sql.DataFrameReader =
    lineSepFor(encoding).fold(reader)(reader.option("lineSep", _))

  /** Spark's own header-name derivation (CSVUtils.makeSafeHeader,
    * default enforceSchema/case-insensitive path): empty fields read
    * `_cN`; when a name repeats (case-insensitively), EVERY
    * occurrence gets its column index appended (`a,b,a` →
    * `a0,b,a2`) — the index-suffixed surface [[dictZipColumns]]
    * expects. Reimplemented here so a pre-sniffed header can become
    * a provided schema (r15 OPT below) without changing a single
    * column name.
    */
  private[sources] def safeHeaderNames(header: Seq[String]): Seq[String] = {
    val keys = header.map(h =>
      if (h == null) null else h.toLowerCase(java.util.Locale.ROOT))
    val dup = keys.filter(_ != null).groupBy(identity)
      .collect { case (k, g) if g.size > 1 => k }.toSet
    header.zipWithIndex.map { case (h, i) =>
      if (h == null || h.isEmpty) s"_c$i"
      else if (dup.contains(keys(i))) s"$h$i"
      else h
    }
  }

  /** The reader dialect of every CSV scan — the upload's, and the
    * streaming twin's static sniff and stream: header row, all-string
    * columns, the sniffed charset ([[sparkCharset]]) with its lineSep
    * ([[lineSepFor]]), the delimiter, and RFC 4180 doubled-quote
    * escaping, the reference csv.reader's default dialect
    * (doublequote=True, no backslash escapes). Spark's own default
    * escape is `\` — under it a quoted field containing `""hi""`
    * tears mid-record. Setting the escape char to the quote char IS
    * univocity's double-quote mode, and makes backslash a literal
    * byte, matching Python exactly.
    */
  private[graft] def csvOptions(encoding: String,
      delimiter: String): Map[String, String] =
    Map("header" -> "true", "inferSchema" -> "false",
      "encoding" -> sparkCharset(encoding), "sep" -> delimiter,
      "escape" -> "\"") ++ lineSepFor(encoding).map("lineSep" -> _)

  /** Distributed parse with an all-string schema — inference is ours
    * (§A3), never the CSV reader's — in the [[csvOptions]] dialect,
    * decoded by [[decodeCp1252]].
    */
  private def readRaw(spark: SparkSession, csvPath: String,
      encoding: String, delimiter: String = ",",
      multiline: Boolean = false,
      sniffHeader: Option[Seq[String]] = None): DataFrame = {
    // r15 OPT: with no user schema, DataFrame CONSTRUCTION launches a
    // driver mini-job that reads the first line just to name the
    // all-string columns — ~0.1 s of job + planning per upload, per
    // file format contract. The encoding sniff already decoded and
    // RFC-4180-parsed the header (the same dialect univocity runs
    // with: quote-escape = quote, no backslash), so hand the reader
    // the schema instead; `header=true` still skips each file's
    // header line. Falls back to Spark's own inference whenever the
    // window is undecodable or header-less.
    // safeHeaderNames reproduces makeSafeHeader's CASE-INSENSITIVE
    // dedup — Spark's own path dedups case-sensitively when
    // spark.sql.caseSensitive=true, so the provided-schema fast path
    // only engages under the default (false), which is the only mode
    // the engine's own sessions run (r15 VERDICT #3: pin the
    // assumption with a guard, not a comment alone).
    val caseInsensitive = !spark.conf
      .getOption("spark.sql.caseSensitive").exists(_.toBoolean)
    val provided: Option[org.apache.spark.sql.types.StructType] =
      sniffHeader.filter(_ => caseInsensitive).filter(_.nonEmpty).map { h =>
        org.apache.spark.sql.types.StructType(safeHeaderNames(h).map(n =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.StringType, nullable = true)))
      }
    val reader0 = spark.read
      .options(csvOptions(encoding, delimiter))
      // A15: whole-file parse iff a quoted newline was detected (or
      // forced) — records may then span raw newlines, like the
      // reference's csv.reader
      .option("multiLine", multiline.toString)
    val reader = provided.fold(reader0)(reader0.schema)
    decodeCp1252(reader.csv(csvPath), encoding)
  }

  /** Schema-evolving parse (SURVEY §2.A11): the reference's
    * `insert_all(batch, alter=True)` (__init__.py:166) lets later
    * rows introduce new columns mid-load. Spark's CSV reader pins the
    * FIRST file's header for a whole directory, silently dropping
    * later columns — so here each file contributes its own header,
    * schemas are unioned in first-seen order, and each file is
    * projected onto the union with NULLs for missing columns. Header reads
    * are one tiny ranged read per file; the data scan stays one
    * distributed pass (unionByName over per-file frames).
    */
  private def readRawEvolving(spark: SparkSession, csvPath: String,
      encoding: String, delimiter: String,
      multiline: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val p = new Path(csvPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val perFile = partFiles(fs, p).map(f => readRaw(spark, f.toString,
      encoding, delimiter, multiline))
    val unionCols = perFile.foldLeft(Vector.empty[String]) {
      (acc, df) => acc ++ df.columns.filterNot(acc.contains)
    }
    perFile.map { df =>
      val have = df.columns.toSet
      df.select(unionCols.map(c =>
        if (have(c)) col(c) else lit(null: String).as(c)): _*)
    }.reduce(_.unionByName(_))
  }
}
