package graft

import java.nio.charset.Charset
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.{col, concat, lit, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.GraftDatabase
import graft.sources.{CsvUploader, EncodingDetector, TypeInference}

class EncodingDetectorSpec extends AnyFunSuite {
  import EncodingDetector._

  test("utf-8 BOM wins") {
    assert(detectBytes(Array(0xEF, 0xBB, 0xBF, 'a').map(_.toByte)) == Utf8)
  }
  test("utf-16 BOMs") {
    assert(detectBytes(Array(0xFF, 0xFE, 'a', 0).map(_.toByte)) == Utf16LE)
    assert(detectBytes(Array(0xFE, 0xFF, 0, 'a').map(_.toByte)) == Utf16BE)
  }
  test("pure ascii widens to latin-1 (reference issue #25 behavior)") {
    assert(detectBytes("name,age\nCleo,5".getBytes("US-ASCII")) == Latin1)
  }
  test("valid multi-byte utf-8 is utf-8") {
    assert(detectBytes("héllo,wörld".getBytes("UTF-8")) == Utf8)
  }
  test("latin-1 high bytes are not valid utf-8") {
    assert(detectBytes("café".getBytes("ISO-8859-1")) == Latin1)
  }
  test("shift-jis text with kana detects; western accent pairs do not") {
    assert(detectBytes("id,名前\n1,かなテスト\n2,日本語データ"
      .getBytes("Shift_JIS")) == ShiftJis)
    // accent+letter byte pairs are structurally valid SJIS pairs, but
    // carry no kana-row leads — must stay on the western ladder
    assert(detectBytes("id,nom\n1,générale\n2,Müller,naïve"
      .getBytes("ISO-8859-1")) == Latin1)
    assert(detectBytes("id,text\n1,€uro “quoted”"
      .getBytes("windows-1252")) == Cp1252)
    // kana-only suffix truncated mid-pair by the sniff window
    val full = "1,かなかな".getBytes("Shift_JIS")
    assert(detectBytes(java.util.Arrays.copyOf(full, full.length - 1),
      truncated = true) == ShiftJis)
  }
  test("euc-family members disambiguate via the frequency profiles") {
    assert(detectBytes("id,이름\n1,한국어 데이터".getBytes("EUC-KR"))
      == EucKr)
    assert(detectBytes("id,名前\n1,日本語データ".getBytes("EUC-JP"))
      == EucJp)
    assert(detectBytes("id,名字\n1,中文数据".getBytes("GBK")) == Gbk)
    // isolated accents break the pair structure → western ladder
    assert(detectBytes("id,nom\n1,décidé,café".getBytes("ISO-8859-1"))
      == Latin1)
    // structurally EUC but no language mass (enumeration symbols
    // only) → the ambiguous verdict stays, and the upload keeps its
    // loud failure instead of guessing a member
    assert(detectBytes("id,x\n1,①②③④⑤⑥⑦⑧".getBytes("GBK"))
      == EucFamily)
  }
  test("cyrillic codepages separate by letter-range skew") {
    val ru = "id,имя\n1,проверка данных\n2,русский текст"
    assert(detectBytes(ru.getBytes("windows-1251")) == Cp1251)
    assert(detectBytes(ru.getBytes("KOI8-R")) == Koi8R)
    // western accent density never reaches the 25% high-byte gate
    assert(detectBytes("id,nom\n1,générale,décidé,café"
      .getBytes("ISO-8859-1")) == Latin1)
    // CJK streams don't score on the Cyrillic profiles
    assert(detectBytes("id,名前\n1,かなテスト\n2,日本語データ"
      .getBytes("Shift_JIS")) == ShiftJis)
  }
  test("ebcdic detects structurally; ascii-without-spaces does not") {
    val txt = "id,name\n1,ALPHA BRAVO ledger 01\n2,CHARLIE DELTA batch 02"
    assert(detectBytes(txt.getBytes("IBM037")) == Cp037)
    // LF-0x25 terminators are cp1047's real-world convention; with
    // no member-specific punctuation the cp1047 decode is
    // byte-identical to cp037's, so the DECODABLE verdict wins
    // (Java's IBM1047 maps 0x25 ↔ NEL, giving a workable lineSep).
    val lf25 = txt.getBytes("IBM037")
      .map(b => if (b == 0x15.toByte) 0x25.toByte else b)
    assert(detectBytes(lf25) == Cp1047)
    // ...but cp037-SPECIFIC punctuation ('[' 0xBA, ']' 0xBB, '^'
    // 0xB0 — all garbage under 1047) + 0x25 terminators has no
    // correct decode: the loud error verdict stays.
    val punct = "id,name\n1,ALPHA [BRAVO] ledger ^01\n2,CHARLIE [DELTA] x"
    val lf25p = punct.getBytes("IBM037")
      .map(b => if (b == 0x15.toByte) 0x25.toByte else b)
    assert(detectBytes(lf25p) == Cp037Lf)
    // member scoring: cp500 brackets (0x4A/0x5A) pick cp500; cp1047
    // brackets under LF-0x25 pick cp1047
    assert(detectBytes(punct.getBytes("IBM500")) == Cp500)
    assert(detectBytes(punct.getBytes("IBM1047")
      .map(b => if (b == 0x15.toByte) 0x25.toByte else b)) == Cp1047)
    // ...and a Java-written IBM1047 file (NL-0x15 newlines, 1047
    // punctuation) must NOT fall back to cp037 mojibake
    assert(detectBytes(punct.getBytes("IBM1047")) == Cp1047Nl)
    // but a genuine cp037 file whose only 1047-differ byte is the
    // accented letter Ý (0xAD — '[' under 1047) must NOT flip: the
    // 1047 candidate needs the bracket PAIR
    val nordic = "id,name\n1,SIGURÝN LEDGER 01\n2,BRAVO LEDGER 02"
    assert(detectBytes(nordic.getBytes("IBM037")) == Cp037)
    // likewise cp037 vs cp500: a genuine cp037 file whose only
    // member-differ byte is '¢' (0x4A, a currency column — however
    // many occurrences) must NOT flip to cp500 just because cp500
    // decodes that one byte as printable '['; displacing the head
    // takes TWO distinct printable differ bytes (the bracket pair)
    val cents = "id,amt\n1,5¢ OFF LEDGER\n2,9¢ OFF LEDGER\n3,2¢ OFF X"
    assert(detectBytes(cents.getBytes("IBM037")) == Cp037)
    // national variants: umlaut-dense German text (≥3 distinct
    // national-letter bytes) admits and picks cp273 on the letters
    // tier; Danish with an Æ (the '#' slot under cp273) picks cp277
    val german = "id,name\n1,GRÖSSE prüfung älter ßig\n2,BRAVO übrig"
    assert(detectBytes(german.getBytes("IBM273")) == Cp273)
    val danish = "id,name\n1,Ærø løbenr årgang\n2,BRAVO løbenr årgang"
    assert(detectBytes(danish.getBytes("IBM277")) == Cp277)
    // ...but a bracketed cp500 file must NOT flip to cp273 just
    // because its bracket pair decodes as Ä/Ü there (the ≥3 gate)
    assert(detectBytes(punct.getBytes("IBM500")) == Cp500)
    // numeric mainframe export: no spaces, commas+digits carry it
    val num = "k,v\n" + (1 to 20).map(i => s"$i,${i * 37}").mkString("\n")
    assert(detectBytes(num.getBytes("IBM037")) == Cp037)
    // an ASCII file that merely lacks 0x20 (email list with @ at
    // space-like frequency) must NOT read as EBCDIC — its letters
    // are below 0x80, failing the text-zone gate
    val emails = "email\n" + (1 to 20).map(i => s"user$i@example.com")
      .mkString("\n")
    assert(detectBytes(emails.getBytes("US-ASCII")) == Latin1)
    // cyrillic text (has 0x20 spaces) keeps its own verdict
    assert(detectBytes("id,имя\n1,проверка данных"
      .getBytes("windows-1251")) == Cp1251)
  }
  test("single-byte scripts: greek/arabic/hebrew/thai profiles detect; margins hold") {
    val el = "id,name\n1,δοκιμή στοιχείων\n2,ποιότητα είναι καλή"
    assert(detectBytes(el.getBytes("windows-1253")) == Cp1253)
    // an ISO-8859-7 stream lands on the same (letter-identical) verdict
    assert(detectBytes(el.getBytes("ISO-8859-7")) == Cp1253)
    val ar = "id,name\n1,اختبار البيانات\n2,نوعية المحتوى هنا"
    assert(detectBytes(ar.getBytes("windows-1256")) == Cp1256)
    val he = "id,name\n1,בדיקה רשומה ישנה\n2,איכות הטקסט בסדר"
    assert(detectBytes(he.getBytes("windows-1255")) == Cp1255)
    val th = "id,name\n1,ทดสอบนามสกุลไทย\n2,ข้อมูลนามสกุลอย่างดี"
    assert(detectBytes(th.getBytes("TIS-620")) == Tis620)
    // russian must still resolve against the widened profile table
    assert(detectBytes("id,имя\n1,проверка иванов слово"
      .getBytes("windows-1251")) == Cp1251)
    assert(detectBytes("id,имя\n1,проверка иванов слово"
      .getBytes("KOI8-R")) == Koi8R)
  }
  test("utf-8 sequence truncated by the sniff window still validates") {
    val full = ("a" * 10 + "é").getBytes("UTF-8")
    val cut = java.util.Arrays.copyOf(full, full.length - 1)
    assert(detectBytes(cut, truncated = true) == Utf8)
    // …but the same bytes as a complete file are invalid utf-8.
    assert(detectBytes(cut, truncated = false) == Latin1)
  }
}

class TypeInferenceSpec extends AnyFunSuite with SparkTestBase {
  import TypeInference._

  private def inferOf(values: Seq[String]): InferredType = {
    import spark.implicits._
    infer(values.toDF("c")).head._2
  }

  test("all ints → integer (signs, padding ok)") {
    assert(inferOf(Seq("1", "-2", "+3", " 4 ")) == IntegerT)
  }
  test("ints + floats → float") {
    assert(inferOf(Seq("1", "2.5", "3e2")) == FloatT)
  }
  test("any non-numeric → text") {
    assert(inferOf(Seq("1", "2.5", "x")) == TextT)
  }
  test("empty values are missing and vote for nothing") {
    assert(inferOf(Seq("", "7", "")) == IntegerT)
    assert(inferOf(Seq("", "7.5", "")) == FloatT)
  }
  test("all-missing column stays at the tracker default (integer)") {
    assert(inferOf(Seq("", "", "")) == IntegerT)
  }
  test("float-looking ints stay float ('5.0' is not an int)") {
    assert(inferOf(Seq("5.0", "6")) == FloatT)
  }
  test("CPython underscore grouping parses (int and float)") {
    import spark.implicits._
    assert(inferOf(Seq("1_000", "2")) == IntegerT)
    assert(inferOf(Seq("1_000.5", "2")) == FloatT)
    assert(inferOf(Seq("1e1_0", "2")) == FloatT)
    // illegal underscore placement is text, exactly like int()/float()
    assert(inferOf(Seq("1__0")) == TextT)
    assert(inferOf(Seq("_10")) == TextT)
    assert(inferOf(Seq("10_")) == TextT)
    assert(inferOf(Seq("1_0.")) == FloatT) // float('1_0.') == 10.0
    val typed = TypeInference.inferAndApply(Seq("1_000", "2").toDF("c"))._1
    assert(typed.collect().map(_.getLong(0)).toSet == Set(1000L, 2L))
  }

  test("bare inf spellings float like Python's float('inf')") {
    import spark.implicits._
    assert(inferOf(Seq("inf", "1.5")) == FloatT)
    assert(inferOf(Seq("-INF", "1.5")) == FloatT)
    val typed = TypeInference.inferAndApply(Seq("inf", "-inf").toDF("c"))._1
    assert(typed.collect().map(_.getDouble(0)).toSet ==
      Set(Double.PositiveInfinity, Double.NegativeInfinity))
  }

  test("integers beyond Long range demote to float, never NULL") {
    // 20-digit value: looks integral, overflows Long — voting integer
    // would try_cast it to NULL and drop non-missing data
    val big = "12345678901234567890123"
    assert(inferOf(Seq("1", big)) == FloatT)
    import spark.implicits._
    val typed = TypeInference.inferAndApply(Seq("1", big).toDF("c"))._1
    assert(typed.filter(typed("c").isNull).count() == 0)
  }
  test("numeric spellings only the JVM parses are text, as float() rejects them") {
    for (v <- Seq("1d", "1f", "1.5F", "0x1p3", "0X1P3", "1.5\u0000",
        "\u00011.5", "\u001c1.5"))
      assert(inferOf(Seq(v, "2.5")) == TextT, v)
  }

  test("edge spellings get Python's int()/float() verdicts, deviations as documented") {
    val integers = Seq(" 4 ", "+1", "-0", "00", "0_1", "\t1", "\f3\f")
    val floats = Seq("\t1.5", "1_0.", "1e1_0", "-NaN", "iNf", "infinity",
      "-Infinity", "+nan", "1e5", "1E+05", ".5", "5.", "+.5e-3",
      "1_000.000_1", "1.5 ", "\n2.5\r", "\u000b1.5",
      // deviation: int() takes it; a Long does not
      "9223372036854775808")
    val texts = Seq("Nancy", "12 Main St", "infinit", "in f", "1__0", "_1",
      "1_", ".", "e5", "1e", "1.5e3.2", "1,000", "$5", "5%", "1.5\u007f",
      // deviations: float() takes non-ASCII digits and a no-break space
      "\u0661\u0662", "\uff11\uff12", "\u00a01.5")
    for ((values, want) <- Seq(integers -> IntegerT, floats -> FloatT,
        texts -> TextT); v <- values)
      assert(inferOf(Seq(v)) == want, v)
  }

  test("an integer inside ASCII whitespace casts to its value") {
    import spark.implicits._
    val (typed, types) = TypeInference.inferAndApply(
      Seq("\t1", "\f3\f", " 7\r\n", "\u000b-2").toDF("c"))
    assert(types == Seq("c" -> IntegerT))
    assert(typed.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 7L, -2L))
  }

  test("inf and nan spellings cast in any case") {
    import spark.implicits._
    val typed = TypeInference.inferAndApply(
      Seq("iNf", "-INFINITY", "+nan", " 2.5\t").toDF("c"))._1
    val got = typed.collect().map(_.getDouble(0))
    assert(got.take(2).toSeq == Seq(Double.PositiveInfinity,
      Double.NegativeInfinity))
    assert(got(2).isNaN)
    assert(got(3) == 2.5)
  }

  test("inference and the typed cast build no NumberFormatException") {
    // 10k rows of an int, a float and a text column, 5 % empty cells
    val id = col("id")
    def cell(c: org.apache.spark.sql.Column) =
      when(id % 20 === 7, lit("")).otherwise(c)
    val raw = spark.range(10000).select(
      cell(id.cast("string")).as("i"),
      cell(concat((id % 97).cast("string"), lit(".5"))).as("f"),
      cell(concat(lit("w"), id.cast("string"))).as("t"))
    val ((parsed, rows), thrown) = exceptionsThrownBy {
      val p = graft.sources.Upload.Parsed.inferred(raw)
      (p, p.typed.collect())
    }
    assert(parsed.types == Seq("i" -> IntegerT, "f" -> FloatT, "t" -> TextT))
    assert(rows.length == 10000 && rows.count(_.isNullAt(0)) == 500)
    assert(thrown == 0, s"$thrown NumberFormatExceptions")
  }

  test("applyTypes casts and nulls missing") {
    import spark.implicits._
    val df = Seq(("1", "2.5", "x"), ("", "", "")).toDF("i", "f", "t")
    val typed = applyTypes(df, Seq("i" -> IntegerT, "f" -> FloatT, "t" -> TextT))
    val rows = typed.collect()
    assert(typed.schema.map(_.dataType.simpleString) ==
      Seq("bigint", "double", "string"))
    assert(rows.map(_.isNullAt(0)).toSeq == Seq(false, true))
  }
}

class CsvUploaderSpec extends AnyFunSuite with SparkTestBase {

  test("ragged rows follow dict(zip(headers, row)): extras dropped, short rows null-filled (ref :180)") {
    val dir = scratch("ragged")
    val db = GraftDatabase(spark, s"$dir/db")
    Files.write(Paths.get(s"$dir/ragged.csv"), Seq(
      "id,name,note",
      "1,alpha,n1",
      "2,bravo,n2,EXTRA1,EXTRA2", // more fields than the header
      "3,charlie",                // one field short
      "4",                        // only one field
      "5,echo,n5").mkString("\n").getBytes("UTF-8"))
    val r = graft.sources.CsvUploader.upload(db, s"$dir/ragged.csv")
    assert(r.error.isEmpty && r.rowsDone == 5)
    val got = db.read(r.tableName)
    // header defines the schema — extras never create columns
    assert(got.columns.toSeq == Seq("id", "name", "note"))
    val byId = got.collect().map(row => row.getLong(0) ->
      (Option(row.getString(1)), Option(row.getString(2)))).toMap
    assert(byId(2L) == (Some("bravo"), Some("n2")), "extras dropped")
    assert(byId(3L) == (Some("charlie"), None), "short row null-fills")
    assert(byId(4L) == (None, None), "one-field row keeps present key only")
    assert(byId(5L) == (Some("echo"), Some("n5")))
  }

  test("jsonl upload: naming, conflict suffix, malformed-line error") {
    import graft.sources.JsonlUploader
    val dir = scratch("jsonl_up")
    val db = GraftDatabase(spark, s"$dir/db")
    val ext = JsonlUploader.Extensions
    assert(db.tableNameForFile("docs.jsonl", ext) == "docs")
    assert(db.tableNameForFile("docs.json.gz", ext) == "docs")
    assert(db.tableNameForFile("weird.jsonl.jsonl", ext) == "weird.jsonl")
    // missing path lands in the error envelope, never throws
    val r0 = JsonlUploader.upload(db, s"$dir/nope.jsonl")
    assert(r0.error.isDefined)
    Files.write(Paths.get(s"$dir/docs.jsonl"),
      "{\"id\": 1, \"t\": \"a\"}\n{\"id\": 2}\n".getBytes)
    val r1 = JsonlUploader.upload(db, s"$dir/docs.jsonl")
    assert(r1.error.isEmpty && r1.tableName == "docs" && r1.rowsDone == 2)
    // absent field → NULL, types native
    val got = db.read("docs")
    assert(got.schema("id").dataType.simpleString == "bigint")
    assert(got.filter(col("t").isNull).count() == 1)
    // second upload of the same name → conflict suffix
    val r2 = JsonlUploader.upload(db, s"$dir/docs.jsonl")
    assert(r2.tableName == "docs_2")
    // malformed line → loud error captured in progress, no table
    Files.write(Paths.get(s"$dir/bad.jsonl"),
      "{\"id\": 1}\nnot json at all{{{\n".getBytes)
    val r3 = JsonlUploader.upload(db, s"$dir/bad.jsonl")
    assert(r3.error.isDefined && r3.error.get.contains("malformed"))
    assert(!db.tableExists("bad"))
  }

  test("r15: current() keeps started and bytes_todo across updates and failure") {
    // the reference's in-place UPDATE never clears started/bytes_todo
    // (__init__.py:200-221); the event-log reimplementation writes
    // started="" on update() and bytes_todo=0 on fail(), so reading
    // the latest row verbatim lost the start time after the first
    // mid-load flush and the denominator after a failure
    val db = GraftDatabase(spark, scratch("progress_merge") + "/db")
    db.progress.start("t1", "tbl", bytesTodo = 1000L,
      started = "2026-01-01T00:00:00Z")
    db.progress.update("t1", "tbl", bytesTodo = 1000L, bytesDone = 300L,
      rowsDone = 3L, seq = 1L)
    val mid = db.progress.current().filter(col("id") === "t1").head()
    assert(mid.getAs[String]("started") == "2026-01-01T00:00:00Z",
      "mid-load row must keep the original start time")
    assert(mid.getAs[Long]("bytes_todo") == 1000L)
    db.progress.fail("t1", "tbl", "boom")
    val fin = db.progress.current().filter(col("id") === "t1").head()
    assert(fin.getAs[String]("error") == "boom")
    assert(fin.getAs[String]("started") == "2026-01-01T00:00:00Z",
      "failure must not erase the start time")
    assert(fin.getAs[Long]("bytes_todo") == 1000L,
      "failure must not zero the denominator a progress bar divides by")
  }

  test("jsonl upload unions schemas across files (A11 twin, native)") {
    import graft.sources.JsonlUploader
    val dir = scratch("jsonl_evolve")
    val db = GraftDatabase(spark, s"$dir/db")
    Files.createDirectories(Paths.get(s"$dir/in"))
    Files.write(Paths.get(s"$dir/in/part1.jsonl"),
      "{\"id\": 1, \"name\": \"a\"}\n".getBytes)
    Files.write(Paths.get(s"$dir/in/part2.jsonl"),
      "{\"id\": 2, \"name\": \"b\", \"score\": 1.5}\n".getBytes)
    val res = JsonlUploader.upload(db, s"$dir/in", Some("docs"))
    assert(res.error.isEmpty && res.rowsDone == 2)
    val got = db.read("docs")
    assert(got.columns.sorted.toSeq == Seq("id", "name", "score"))
    assert(got.schema("score").dataType.simpleString == "double")
    // the file without the late column reads NULL there
    assert(got.filter(col("score").isNull).count() == 1)
  }

  test("LF-0x25 ebcdic: plain text uploads via cp1047; cp037-punctuated " +
      "streams fail loudly, never one-line-parse") {
    val dir = scratch("ebcdic_lf25")
    val db = GraftDatabase(spark, s"$dir/db")
    // plain alnum content: cp1047 decode is byte-identical to cp037's
    // outside the terminators, so the upload now WORKS (NEL lineSep)
    val body = "id,name\n1,ALPHA LEDGER 01\n2,BRAVO LEDGER 02"
    val lf25 = body.getBytes(Charset.forName("IBM037"))
      .map(b => if (b == 0x15.toByte) 0x25.toByte else b)
    Files.write(Paths.get(s"$dir/ledger.csv"), lf25)
    val res = CsvUploader.upload(db, s"$dir/ledger.csv", Some("ledger"))
    assert(res.error.isEmpty, s"cp1047 decode should work: ${res.error}")
    assert(res.encoding == "IBM1047")
    val got = db.read("ledger").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "ALPHA LEDGER 01"), (2L, "BRAVO LEDGER 02")))
    // cp037-specific punctuation + 0x25 terminators: no correct
    // decode exists — loud error, never a one-giant-line parse
    val punct = "id,name\n1,ALPHA [LEDGER] 01\n2,BRAVO [LEDGER] ^02"
    val lf25p = punct.getBytes(Charset.forName("IBM037"))
      .map(b => if (b == 0x15.toByte) 0x25.toByte else b)
    Files.write(Paths.get(s"$dir/ledger2.csv"), lf25p)
    val res2 = CsvUploader.upload(db, s"$dir/ledger2.csv", Some("ledger2"))
    assert(res2.error.isDefined, "cp037-punctuated 0x25 stream must error")
    assert(res2.error.get.contains("transcode"), res2.error.get)
    assert(!db.tableExists("ledger2"))
  }

  test("upload error is captured in progress, not thrown (ref :217-221)") {
    val dir = scratch("uploader_err")
    val db = GraftDatabase(spark, s"$dir/db")
    Files.createDirectories(Paths.get(s"$dir/empty_dir"))
    val res = CsvUploader.upload(db, s"$dir/empty_dir", Some("broken"))
    assert(res.error.isDefined)
    val p = db.progress.current().collect()
    assert(p.length == 1)
    assert(p.head.getAs[String]("error") != null)
    assert(!db.tableExists("broken"))
  }

  test("two databases are isolated (ref multi-db routing :82-100)") {
    val dir = scratch("multi_db")
    val db1 = GraftDatabase(spark, s"$dir/db1")
    val db2 = GraftDatabase(spark, s"$dir/db2")
    val csv = s"$dir/in.csv"
    Files.write(Paths.get(csv), "name,age\nCleo,5\nPancakes,4".getBytes)
    CsvUploader.upload(db1, csv, Some("dogs"))
    assert(db1.listTables() == Seq("dogs"))
    assert(db2.listTables() == Seq.empty)
    CsvUploader.upload(db2, csv, Some("dogs"))
    assert(db2.read("dogs").count() == 2)
  }

  test("reference SIMPLE fixture: ages infer as integer") {
    val dir = scratch("simple")
    val db = GraftDatabase(spark, s"$dir/db")
    Files.write(Paths.get(s"$dir/dogs.csv"),
      "name,age\nCleo,5\nPancakes,4".getBytes)
    val res = CsvUploader.upload(db, s"$dir/dogs.csv")
    assert(res.tableName == "dogs")
    val schema = db.read("dogs").schema
    assert(schema("age").dataType.simpleString == "bigint")
    assert(schema("name").dataType.simpleString == "string")
    assert(db.read("dogs").count() == 2)
  }

  test("A15: quoted embedded newlines parse whole records (ref csv.reader)") {
    val dir = scratch("multiline_up")
    val db = GraftDatabase(spark, s"$dir/db")
    val content = "id,note\n" +
      "1,\"line one\nline two\"\n" +
      "2,plain\n" +
      "3,\"he said \"\"hi\"\"\nbye\""
    Files.write(Paths.get(s"$dir/notes.csv"), content.getBytes)
    val res = CsvUploader.upload(db, s"$dir/notes.csv")
    assert(res.error.isEmpty, res.error)
    val rows = db.read(res.tableName).orderBy(col("id")).collect()
    assert(rows.length == 3)
    assert(rows(0).getLong(0) == 1L)
    assert(rows(0).getString(1) == "line one\nline two")
    assert(rows(1).getString(1) == "plain")
    assert(rows(2).getString(1) == "he said \"hi\"\nbye")
    // inference still lands integer through the whole-file parse
    assert(db.read(res.tableName).schema("id")
      .dataType.simpleString == "bigint")
  }

  test("A15: quoted-newline probe fires only on genuine quoted newlines") {
    import graft.sources.CsvUploader.quotedNewline
    assert(quotedNewline("a,\"x\ny\"", ','))
    assert(quotedNewline("\"x\ny\",b", ','))
    assert(quotedNewline("a\t\"x\ny\"", '\t'))
    // plain record newlines: no
    assert(!quotedNewline("a,b\nc,d", ','))
    // a mid-field quote is literal, not an opener
    assert(!quotedNewline("ab\"cd\ne,f", ','))
    // escaped quotes inside a field, newline outside: no
    assert(!quotedNewline("a,\"x \"\" y\"\nb,c", ','))
    // window truncated inside an open quote without a newline: no
    assert(!quotedNewline("a,\"unclosed without newline", ','))
    // closed quote then junk then record newline: no
    assert(!quotedNewline("a,\"q\"junk\nb,c", ','))
  }

  test("A15: quoted newline hiding in a LATER part of a directory upload") {
    val dir = scratch("multiline_dir")
    val db = GraftDatabase(spark, s"$dir/db")
    Files.createDirectories(Paths.get(s"$dir/in"))
    // part 1 is plain; only part 2 carries the quoted newline
    Files.write(Paths.get(s"$dir/in/part-00000.csv"),
      "id,note\n1,plain\n".getBytes)
    Files.write(Paths.get(s"$dir/in/part-00001.csv"),
      "id,note\n2,\"two\nlines\"\n".getBytes)
    val res = CsvUploader.upload(db, s"$dir/in", Some("parts"))
    assert(res.error.isEmpty, res.error)
    val rows = db.read("parts").orderBy(col("id")).collect()
    assert(rows.length == 2)
    assert(rows(1).getString(1) == "two\nlines")
  }

  test("A15: BOM does not hide a quoted multiline first field") {
    import graft.sources.CsvUploader.{decodeSniff, quotedNewline}
    val withBom = ("\uFEFF\"col\none\",b\n1,2").getBytes("UTF-8")
    val decoded = decodeSniff("UTF-8", withBom)
    assert(decoded.isDefined && !decoded.get.startsWith("\uFEFF"))
    assert(quotedNewline(decoded.get, ','))
  }

  test("A16: consistent punctuation in single-column data does not split") {
    import graft.sources.CsvUploader.sniffDelimiter
    // log-shaped: 1-field header, data lines all containing one '|'
    assert(sniffDelimiter("msg\na|b\nc|d\ne|f\ng|h", truncated = false)
      == ",")
    // a REAL pipe file (header matches) still wins
    assert(sniffDelimiter("k|v\na|b\nc|d", truncated = false) == "|")
  }

  test("A15: explicit multiLine override parses a plain file unchanged") {
    val dir = scratch("multiline_force")
    val db = GraftDatabase(spark, s"$dir/db")
    Files.write(Paths.get(s"$dir/plain.csv"),
      "id,v\n1,a\n2,b".getBytes)
    val res = CsvUploader.upload(db, s"$dir/plain.csv",
      multiLine = Some(true))
    assert(res.error.isEmpty)
    assert(db.read(res.tableName).count() == 2)
  }

  test("header-only CSV uploads as an empty typed table, progress completes") {
    val dir = scratch("header_only")
    val db = GraftDatabase(spark, s"$dir/db")
    Files.write(Paths.get(s"$dir/empty.csv"), "name,age\n".getBytes)
    val res = CsvUploader.upload(db, s"$dir/empty.csv")
    assert(res.error.isEmpty, res.error)
    assert(res.rowsDone == 0L)
    val df = db.read(res.tableName)
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("name", "age"))
    // zero observed values = all-missing = the tracker default, so
    // the table is WRITABLE and later appends can widen (reference:
    // TypeTracker with no rows yields its default verdicts)
    val prog = db.progress.current()
      .filter(col("table_name") === res.tableName)
      .select("completed").collect()
    assert(prog.nonEmpty && prog.head.getString(0) != null)
  }

  test("dotted header names are literal, not nested-attribute syntax") {
    val dir = scratch("dotted")
    val db = GraftDatabase(spark, s"$dir/db")
    Files.write(Paths.get(s"$dir/prices.csv"),
      "price.usd,qty\n1.5,2\n3.25,4".getBytes)
    val res = CsvUploader.upload(db, s"$dir/prices.csv")
    assert(res.error.isEmpty, res.error)
    val df = db.read(res.tableName)
    assert(df.columns.toSeq == Seq("price.usd", "qty"))
    assert(df.schema.fields.map(_.dataType.simpleString).toSeq ==
      Seq("double", "bigint"))
  }

  test("case-variant duplicate headers collapse under engine semantics") {
    val dir = scratch("dup_case")
    val db = GraftDatabase(spark, s"$dir/db")
    // Spark's analyzer/writer are case-insensitive by default, so
    // 'ID' and 'id' cannot coexist in the written table — the
    // collapse keeps the FIRST occurrence's spelling, LAST's values
    // (documented deviation from Python's case-sensitive dict)
    Files.write(Paths.get(s"$dir/dupc.csv"),
      "ID,v,id\n1,9,2\n3,8,4".getBytes)
    val res = CsvUploader.upload(db, s"$dir/dupc.csv")
    assert(res.error.isEmpty, res.error)
    val df = db.read(res.tableName)
    assert(df.columns.toSeq == Seq("ID", "v"))
    assert(df.orderBy("v").collect().map(_.getLong(0)).toSeq ==
      Seq(4L, 2L))
  }

  test("duplicate headers collapse dict(zip)-style: last value, first position") {
    val dir = scratch("dup_headers")
    val db = GraftDatabase(spark, s"$dir/db")
    // reference: dict(zip(['a','b','a'], row)) == {'a': row[2], 'b': row[1]}
    Files.write(Paths.get(s"$dir/dup.csv"),
      "a,b,a\n1,2,3\n4,5,6".getBytes)
    val res = CsvUploader.upload(db, s"$dir/dup.csv")
    assert(res.error.isEmpty, res.error)
    val df = db.read(res.tableName)
    assert(df.columns.toSeq == Seq("a", "b"))
    val rows = df.orderBy("b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((3L, 2L), (6L, 5L)))
    // quoted duplicate header names collapse identically
    Files.write(Paths.get(s"$dir/dupq.csv"),
      "\"x y\",v,\"x y\"\np,1,q".getBytes)
    val res2 = CsvUploader.upload(db, s"$dir/dupq.csv", Some("dupq"))
    assert(res2.error.isEmpty, res2.error)
    val df2 = db.read("dupq")
    assert(df2.columns.toSeq == Seq("x y", "v"))
    assert(df2.head().getString(0) == "q")
  }

  test("A15 x A11: schema evolution with a quoted newline in a later file") {
    val dir = scratch("multiline_evolve")
    val db = GraftDatabase(spark, s"$dir/db")
    Files.createDirectories(Paths.get(s"$dir/in"))
    Files.write(Paths.get(s"$dir/in/a.csv"), "a,b\n1,x".getBytes)
    Files.write(Paths.get(s"$dir/in/b.csv"),
      "b,c\n\"y\nz\",2".getBytes)
    val res = CsvUploader.upload(db, s"$dir/in", Some("t"), alter = true)
    assert(res.error.isEmpty, res.error)
    val df = db.read("t")
    assert(df.columns.toSeq == Seq("a", "b", "c"))
    val rows = df.orderBy(col("a").asc_nulls_last).collect()
      .map(r => (Option(r.get(0)), r.getString(1), Option(r.get(2))))
    assert(rows.toSeq == Seq(
      (Some(1L), "x", None), (None, "y\nz", Some(2L))))
  }

  test("A15 x A12: quoted embedded newline inside a .gz upload") {
    val dir = scratch("multiline_gz")
    val db = GraftDatabase(spark, s"$dir/db")
    val content = "id,note\n1,\"two\nlines\"\n2,plain"
    val out = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(Paths.get(s"$dir/notes.csv.gz")))
    out.write(content.getBytes("UTF-8")); out.close()
    val res = CsvUploader.upload(db, s"$dir/notes.csv.gz")
    assert(res.error.isEmpty, res.error)
    val rows = db.read(res.tableName).orderBy(col("id")).collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "two\nlines")
  }

  test("empty uploads degrade safely: JSONL errors captured, FW empty table") {
    val dir = scratch("empty_edge")
    val db = GraftDatabase(spark, s"$dir/db")
    // empty JSONL: no line to infer a schema from — the loud error
    // must land in the progress row (the A7 envelope), never throw
    Files.write(Paths.get(s"$dir/empty.jsonl"), Array.empty[Byte])
    val rj = graft.sources.JsonlUploader.upload(db, s"$dir/empty.jsonl")
    assert(rj.error.isDefined, "empty JSONL must surface a loud error")
    // empty fixed-width: the spec names the columns, so an empty
    // TYPED table is well-defined and must come back
    Files.write(Paths.get(s"$dir/empty.dat"), Array.empty[Byte])
    val rf = graft.sources.FixedWidthUploader.upload(db, s"$dir/empty.dat",
      Seq(("id", 4), ("v", 6)), Some("fw_empty"))
    assert(rf.error.isEmpty, rf.error)
    assert(db.read("fw_empty").count() == 0)
    assert(db.read("fw_empty").columns.toSeq == Seq("id", "v"))
  }

  test("reference NOT_UTF8 fixture: latin-1 £ survives, mixed types") {
    val dir = scratch("not_utf8")
    val db = GraftDatabase(spark, s"$dir/db")
    val content =
      "IncidentNumber,HourlyNotionalCost(£)\r\n139091,2.55\r\n275091,2.55"
    Files.write(Paths.get(s"$dir/notutf8.csv"),
      content.getBytes(Charset.forName("ISO-8859-1")))
    val res = CsvUploader.upload(db, s"$dir/notutf8.csv")
    assert(res.encoding == "ISO-8859-1")
    val df = db.read(res.tableName)
    assert(df.columns.toSeq == Seq("IncidentNumber", "HourlyNotionalCost(£)"))
    assert(df.schema.fields.map(_.dataType.simpleString).toSeq ==
      Seq("bigint", "double"))
  }

  test("cp1252 fixture: smart quotes and € decode losslessly") {
    val dir = scratch("cp1252")
    val db = GraftDatabase(spark, s"$dir/db")
    val content = "name,price\n“fancy” café,€5"
    Files.write(Paths.get(s"$dir/shop.csv"),
      content.getBytes(Charset.forName("windows-1252")))
    val res = CsvUploader.upload(db, s"$dir/shop.csv")
    assert(res.encoding == "windows-1252")
    val row = db.read("shop").head()
    assert(row.getString(0) == "“fancy” café")
    assert(row.getString(1) == "€5")
  }

  test("Shift-JIS upload restores the legacy-charset conf afterwards") {
    val dir = scratch("sjis_conf")
    val db = GraftDatabase(spark, s"$dir/db")
    val content = "name,price\nかなかな,5\nカタカナ,4"
    Files.write(Paths.get(s"$dir/jp.csv"),
      content.getBytes(Charset.forName("Shift_JIS")))
    val key = "spark.sql.legacy.javaCharsets"
    val prev = spark.conf.getOption(key)
    val res = CsvUploader.upload(db, s"$dir/jp.csv")
    assert(res.error.isEmpty)
    assert(res.encoding == "Shift_JIS")
    assert(db.read("jp").head().getString(0) == "かなかな")
    // one upload must not permanently widen the session's accepted
    // charsets (ADVICE r3)
    assert(spark.conf.getOption(key) == prev)
  }

  test("UTF-16LE without BOM decodes losslessly end to end") {
    val dir = scratch("utf16_nobom")
    val db = GraftDatabase(spark, s"$dir/db")
    val content = "name,age\nCléo,5\nPancakes,4"
    Files.write(Paths.get(s"$dir/dogs.csv"),
      content.getBytes(Charset.forName("UTF-16LE"))) // no BOM with LE/BE
    val res = CsvUploader.upload(db, s"$dir/dogs.csv")
    assert(res.encoding == "UTF-16LE")
    val dogs = db.read("dogs")
    assert(dogs.schema("age").dataType.simpleString == "bigint")
    assert(dogs.collect().map(_.getString(0)).toSet ==
      Set("Cléo", "Pancakes"))
  }

  test("UTF-32 BOMs win over the prefix-colliding UTF-16LE BOM") {
    import EncodingDetector._
    // UTF-32LE BOM = FF FE 00 00 — its first two bytes ARE the
    // UTF-16LE BOM; the longer match must win
    val le32 = Array[Byte](0xFF.toByte, 0xFE.toByte, 0, 0, 'a', 0, 0, 0)
    val be32 = Array[Byte](0, 0, 0xFE.toByte, 0xFF.toByte, 0, 0, 0, 'a')
    assert(detectBytes(le32) == Utf32LE)
    assert(detectBytes(be32) == Utf32BE)
    // a genuine UTF-16LE BOM (next char non-NUL high byte) still wins
    val le16 = "x".getBytes(Charset.forName("UTF-16LE"))
    assert(detectBytes(Array[Byte](0xFF.toByte, 0xFE.toByte) ++ le16)
      == Utf16LE)
    // UTF-32BE decodes end to end through the generic BOM-aware
    // "UTF-32" charset (the only 32-bit form Spark's reader accepts)
    val dir = scratch("utf32")
    val db = GraftDatabase(spark, s"$dir/db")
    Files.createDirectories(Paths.get(dir))
    val beBom = Array[Byte](0, 0, 0xFE.toByte, 0xFF.toByte)
    Files.write(Paths.get(s"$dir/dogs.csv"),
      beBom ++ "name,age\nCleo,5\nPancakes,4"
        .getBytes(Charset.forName("UTF-32BE")))
    val res = CsvUploader.upload(db, s"$dir/dogs.csv")
    assert(res.error.isEmpty, res.error.toString)
    assert(res.encoding == "UTF-32BE")
    val dogs = db.read("dogs")
    assert(dogs.schema("age").dataType.simpleString == "bigint")
    assert(dogs.collect().map(_.getString(0)).toSet ==
      Set("Cleo", "Pancakes"))
    // UTF-32LE has no correct distributed decode in Spark: the upload
    // must FAIL LOUDLY with the error captured in progress — the old
    // UTF-16LE misdetection decoded it as silent mojibake
    Files.write(Paths.get(s"$dir/le.csv"),
      Array[Byte](0xFF.toByte, 0xFE.toByte, 0, 0) ++
        "name,age\nCleo,5".getBytes(Charset.forName("UTF-32LE")))
    val resLe = CsvUploader.upload(db, s"$dir/le.csv")
    assert(resLe.error.isDefined)
    assert(resLe.error.get.contains("UTF-32LE"))
  }

  test("UTF-16BE without BOM detected by NUL-position skew") {
    import EncodingDetector._
    val le = "name,age\nCleo,5".getBytes(Charset.forName("UTF-16LE"))
    val be = "name,age\nCleo,5".getBytes(Charset.forName("UTF-16BE"))
    assert(detectBytes(le) == Utf16LE)
    assert(detectBytes(be) == Utf16BE)
    // plain ASCII must NOT look like UTF-16
    assert(detectBytes("name,age\nCleo,5".getBytes) == Latin1)
    // latin-1-only bytes (≥ 0xA0) stay latin-1, not cp1252
    assert(detectBytes("café £"
      .getBytes(Charset.forName("ISO-8859-1"))) == Latin1)
    // a byte undefined in cp1252 (0x81) forces latin-1
    assert(detectBytes(Array[Byte]('a', 0x93.toByte, 0x81.toByte)) == Latin1)
  }

  test("batch upload writes live intermediate progress (ref :170-184,186-190)") {
    val dir = scratch("live_progress")
    val db = GraftDatabase(spark, s"$dir/db")
    // Many part files → many write tasks ending at different times,
    // so the reporter's flusher observes partial counts mid-load.
    Files.createDirectories(Paths.get(s"$dir/in"))
    val perFile = 20000
    val nFiles = 48
    for (f <- 0 until nFiles) {
      val sb = new StringBuilder("id,name\n")
      for (i <- 0 until perFile) sb.append(f * perFile + i).append(",n")
        .append(i).append('\n')
      Files.write(Paths.get(f"$dir/in/part$f%02d.csv"),
        sb.toString.getBytes)
    }
    val total = perFile.toLong * nFiles
    val res = CsvUploader.upload(db, s"$dir/in", Some("big"),
      taskId = "task-live", progressIntervalMs = 20L)
    assert(res.rowsDone == total)
    // The progress table is an event log — replay it: there must be
    // at least one mid-load row (0 < rows_done < total), counts must
    // be nondecreasing in seq order, and current() must resolve to
    // the exact completed state.
    val log = spark.read.parquet(partFiles(db.tablePath("_csv_progress_")): _*)
      .filter(col("id") === "task-live")
      .select("seq", "rows_done", "bytes_done", "bytes_todo")
      .collect().sortBy(_.getLong(0))
    val mids = log.filter(r => r.getLong(0) > 0L && r.getLong(0) < Long.MaxValue)
    assert(mids.nonEmpty, "no live mid-load progress rows observed")
    assert(mids.forall(r => r.getLong(1) > 0L && r.getLong(1) <= total))
    assert(mids.forall(r => r.getLong(2) <= r.getLong(3)))
    val counts = mids.map(_.getLong(1)).toSeq
    assert(counts == counts.sorted, s"rows_done not monotonic: $counts")
    val cur = db.progress.current().filter(col("id") === "task-live")
      .select("rows_done", "bytes_done", "bytes_todo", "completed").head()
    assert(cur.getLong(0) == total)
    assert(cur.getLong(1) == cur.getLong(2))
    assert(cur.getString(3) != null)
  }

  test("latin-1 bytes appearing only after the sniff window (ref LATIN1_AFTER_FIRST_2KB)") {
    val dir = scratch("latin1_late")
    val db = GraftDatabase(spark, s"$dir/db")
    val body = "just_one_column\n" + "aabbcc\n" * 1048 + "a.b.é"
    Files.write(Paths.get(s"$dir/late.csv"),
      body.getBytes(Charset.forName("ISO-8859-1")))
    // Sniff window of 2 KiB misses the é — the reference accepts the
    // mis-detect (ascii→latin-1 widening makes the decode lossless
    // anyway); graft behaves identically.
    val res = CsvUploader.upload(db, s"$dir/late.csv", sniffBytes = 2048)
    assert(res.encoding == "ISO-8859-1")
    assert(db.read(res.tableName).count() == 1049)
  }
}

class CatalogSpec extends AnyFunSuite with SparkTestBase {

  test("filename → table name strips exactly one .csv") {
    val db = GraftDatabase(spark, scratch("names"))
    assert(db.tableNameForFile("dogs.csv") == "dogs")
    assert(db.tableNameForFile("weird ~ filename here.csv.csv")
      == "weird ~ filename here.csv")
    assert(db.tableNameForFile("nodotcsv") == "nodotcsv")
    assert(db.tableNameForFile("/some/path/dogs.csv") == "dogs")
  }

  test("replaceTable swaps contents and recovers a table stranded in _old_") {
    import spark.implicits._
    val db = GraftDatabase(spark, scratch("replace") + "/db")
    db.write(Seq(1L, 2L).toDF("x"), "t")
    db.replaceTable(Seq(10L, 20L, 30L).toDF("x"), "t")
    assert(db.read("t").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(10L, 20L, 30L))
    // crash between the two renames: src gone, backup present — the
    // next replaceTable restores before swapping, so no rows are lost
    val fs = new org.apache.hadoop.fs.Path(db.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(db.tablePath("t")),
      new org.apache.hadoop.fs.Path(db.tablePath("_old_t"))))
    db.replaceTable(Seq(7L).toDF("x"), "t")
    assert(db.read("t").collect().map(_.getLong(0)).toSeq == Seq(7L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(db.tablePath("_old_t"))))
  }

  test("versioned tables: snapshot reads, time travel, vacuum, crash heal") {
    import spark.implicits._
    val db = GraftDatabase(spark, scratch("versioned") + "/db")
    assert(db.writeVersioned(Seq(1L, 2L).toDF("x"), "t") == 1)
    assert(db.currentVersion("t") == 1)
    assert(db.readVersioned("t").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
    // a reader pinned to v1 keeps its snapshot across later writes
    val pinned = db.readVersioned("t", 1)
    assert(db.writeVersioned(Seq(10L).toDF("x"), "t") == 2)
    assert(db.readVersioned("t").collect().map(_.getLong(0)).toSeq
      == Seq(10L))
    assert(pinned.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // time travel by explicit version
    assert(db.readVersioned("t", 1).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
    // history ascends and carries sizes
    val hist = db.versionHistory("t").collect()
    assert(hist.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(hist.forall(r => r.getInt(1) >= 1 && r.getLong(2) > 0))
    // pointer-crash window: no _current file → the highest published
    // version serves, and the next write heals the pointer
    val fs = new org.apache.hadoop.fs.Path(db.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(db.tablePath("t"), "_current"),
      false)
    assert(db.currentVersion("t") == 2)
    assert(db.readVersioned("t").collect().map(_.getLong(0)).toSeq
      == Seq(10L))
    assert(db.writeVersioned(Seq(99L).toDF("x"), "t") == 3)
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(db.tablePath("t"), "_current")))
    // a stranded staging dir from a crashed writer is swept, not
    // published
    fs.mkdirs(new org.apache.hadoop.fs.Path(db.tablePath("t"),
      "_staging_v99999"))
    assert(db.writeVersioned(Seq(5L).toDF("x"), "t") == 4)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(db.tablePath("t"),
      "_staging_v99999")))
    // vacuum keeps the newest keepLast, never the current
    assert(db.vacuumVersions("t", keepLast = 2) == Seq(1, 2))
    assert(db.readVersioned("t").collect().map(_.getLong(0)).toSeq
      == Seq(5L))
    assert(db.readVersioned("t", 3).collect().map(_.getLong(0)).toSeq
      == Seq(99L))
    intercept[Exception] { db.readVersioned("t", 1).collect() }
    intercept[IllegalArgumentException] { db.vacuumVersions("t", 0) }
  }

  test("corpus diff across versioned snapshots reports the release delta") {
    import spark.implicits._
    val db = GraftDatabase(spark, scratch("ver_diff") + "/db")
    db.writeVersioned(Seq((1L, "alpha text", "s1"), (2L, "beta text", "s1"),
        (3L, "gamma text", "s2")).toDF("doc_id", "text", "source"),
      "corpus")
    db.writeVersioned(Seq((1L, "alpha text", "s1"), // unchanged
        (2L, "beta text EDITED", "s1"), // changed
        (4L, "delta text", "s2")) // added; 3 removed
        .toDF("doc_id", "text", "source"),
      "corpus")
    val got = graft.operators.Curation
      .corpusDiffVersions(db, "corpus", 1, 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // (n_added, n_removed, n_changed, n_unchanged) per source
    assert(got == Map("s1" -> (0L, 0L, 1L, 1L), "s2" -> (1L, 1L, 0L, 0L)),
      got.toString)
  }

  test("csv and json export round-trip") {
    val dir = scratch("export")
    val db = GraftDatabase(spark, s"$dir/db")
    Files.write(Paths.get(s"$dir/in.csv"), "name,age\nCleo,5\nPancakes,4".getBytes)
    CsvUploader.upload(db, s"$dir/in.csv", Some("dogs"))
    db.exportCsv("dogs", s"$dir/out_csv")
    db.exportJson("dogs", s"$dir/out_json")
    val back = spark.read.option("header", "true").csv(s"$dir/out_csv")
    assert(back.count() == 2 && back.columns.toSeq == Seq("name", "age"))
    val json = spark.read.json(s"$dir/out_json")
    assert(json.count() == 2)
    assert(json.select("age").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(4L, 5L))
  }

  test("export → upload round-trips quotes and embedded newlines (A15)") {
    import spark.implicits._
    val dir = scratch("export_rt")
    val db = GraftDatabase(spark, s"$dir/db")
    val vals = Seq((1L, "plain"), (2L, "say \"hi\"\nand \"bye\""),
      (3L, "back\\slash, comma"))
    db.write(vals.toDF("id", "note"), "notes",
      org.apache.spark.sql.SaveMode.Overwrite)
    db.exportCsv("notes", s"$dir/out_csv")
    val res = CsvUploader.upload(db, s"$dir/out_csv", Some("notes_rt"))
    assert(res.error.isEmpty, res.error)
    val back = db.read("notes_rt").orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(back.toSeq == vals)
  }

  test("sorted export range-partitions: disjoint per-file key ranges, " +
      "no single reducer") {
    val dir = scratch("export_sorted")
    val db = GraftDatabase(spark, s"$dir/db")
    // enough rows and spread that orderBy plans >1 range partition
    import spark.implicits._
    val df = (0 until 20000).map(i => ((i * 7919) % 20011, s"v$i"))
      .toDF("k", "v")
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/db/t")
    // the plan behind exportSorted: a range exchange, not a
    // single-partition global sort
    val plan = db.read("t").orderBy(col("k"))
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("rangepartitioning"),
      plan.take(2000))
    // at 20k rows AQE coalesces the range partitions to one; shrink
    // the advisory size so the write keeps the multi-file shape a
    // real-scale export has
    val shrunk = Seq(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "4KB")
    val prev = shrunk.map { case (k, _) => k -> spark.conf.getOption(k) }
    shrunk.foreach { case (k, v) => spark.conf.set(k, v) }
    try db.exportSorted("t", s"$dir/out", Seq("k"))
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val parts = new java.io.File(s"$dir/out").listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length > 1, "expected a parallel multi-file write")
    // per-file [min, max] spans must be non-overlapping and ordered
    // by file name — the property that makes the dump a total order
    val spans = parts.toSeq.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(org.apache.spark.sql.functions.min(col("k")),
          org.apache.spark.sql.functions.max(col("k"))).head()
      (r.getInt(0), r.getInt(1))
    }
    spans.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"overlapping file ranges: $hi1 vs $lo2")
      case _ =>
    }
    // and the concatenation reads back complete
    assert(spark.read.parquet(s"$dir/out").count() == 20000)
  }

  test("uploadAll: parallel batch keeps naming, charset isolation, progress") {
    val dir = scratch("upload_all")
    val db = GraftDatabase(spark, s"$dir/db")
    Files.createDirectories(Paths.get(s"$dir/a"))
    Files.createDirectories(Paths.get(s"$dir/b"))
    // two files with the SAME base name — suffix contract must hold
    // under parallel submission (names resolve sequentially up front)
    Files.write(Paths.get(s"$dir/a/dupe.csv"), "id,v\n1,x\n2,y".getBytes)
    Files.write(Paths.get(s"$dir/b/dupe.csv"), "id,v\n3,z".getBytes)
    // a legacy-charset member among plain files: the per-worker
    // session isolates the scoped conf toggle from concurrent decodes
    Files.write(Paths.get(s"$dir/a/kana.csv"),
      "id,名前\n1,かなテスト\n2,日本語データ".getBytes(
        Charset.forName("Shift_JIS")))
    Files.write(Paths.get(s"$dir/a/plain.csv"), "id,n\n1,10\n2,20".getBytes)
    val res = CsvUploader.uploadAll(db,
      Seq(s"$dir/a/dupe.csv", s"$dir/b/dupe.csv", s"$dir/a/kana.csv",
        s"$dir/a/plain.csv"), maxConcurrent = 4)
    assert(res.forall(_.error.isEmpty), res.flatMap(_.error))
    assert(res.map(_.tableName).toSet ==
      Set("dupe", "dupe_2", "kana", "plain"))
    assert(db.read("dupe").count() + db.read("dupe_2").count() == 3)
    assert(res.find(_.tableName == "kana").get.encoding == "Shift_JIS")
    assert(db.read("kana").columns.contains("名前"))
    assert(db.read("plain").schema("n").dataType.simpleString == "bigint")
    // one completed progress row per upload
    val done = db.progress.current()
      .filter(col("completed").isNotNull).count()
    assert(done == 4L)
  }

  test("progress tracker latest-state resolution") {
    val dir = scratch("progress_log")
    val db = GraftDatabase(spark, s"$dir/db")
    val t = db.progress
    t.start("t1", "tbl", 100)
    t.update("t1", "tbl", 100, 40, 10, seq = 1)
    t.complete("t1", "tbl", 100, 25)
    t.start("t2", "other", 50)
    val cur = t.current().collect().map(r =>
      r.getAs[String]("id") -> r.getAs[Long]("rows_done")).toMap
    assert(cur == Map("t1" -> 25L, "t2" -> 0L))
  }

  /** Every kind of event the uploaders write, for two tasks. */
  private def progressLog(name: String): GraftDatabase = {
    val db = GraftDatabase(spark, scratch(name) + "/db")
    val t = db.progress
    t.start("t1", "tbl", 100)
    t.update("t1", "tbl", 100, 40, 10, seq = 1)
    t.complete("t1", "tbl", 100, 25)
    t.start("t2", "other", 50)
    t.fail("t2", "other", "boom")
    db
  }

  test("progress current() has the schema parquet inference gives the log") {
    val db = progressLog("progress_schema")
    val inferred =
      spark.read.parquet(partFiles(db.tablePath(db.progress.tableName)): _*).schema
    assert(db.progress.current().schema == inferred)
  }

  test("constructing progress current() launches no Spark job") {
    val db = progressLog("progress_jobs")
    val (cur, jobs) = jobsLaunchedBy(db.progress.current())
    assert(jobs == 0, s"constructing current() launched $jobs job(s)")
    assert(cur.count() == 2L)
  }

  /** The resident tier's answer equals the window plan's, rows and
    * schema, and polling it launches no job. */
  private def tiersAgree(db: GraftDatabase, id: String): Unit = {
    def rows(df: DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    val resident = db.progress.current()
    val plan = db.progress.current(residentBudget = 0L)
    assert(resident.schema == plan.schema)
    assert(rows(resident) == rows(plan))
    assert(graft.catalog.ResidentArtifact.history("progress",
      Seq(db.tablePath(db.progress.tableName))).isDefined)
    val (polled, jobs) = jobsLaunchedBy(
      db.progress.current().filter(col("id") === id).collect())
    assert(jobs == 0, s"a progress poll launched $jobs job(s)")
    assert(polled.length == 1)
  }

  test("progress tiers agree: start, updates, complete, failure, resume, compaction") {
    val db = progressLog("progress_tiers")
    val t = db.progress
    tiersAgree(db, "t1")
    // the failed task keeps its start time and denominator
    val failed = t.current().filter(col("id") === "t2").head()
    assert(failed.getAs[Long]("bytes_todo") == 50L)
    assert(failed.getAs[String]("started").nonEmpty)
    assert(failed.getAs[String]("error") == "boom")
    // a streaming task: batches publish seq = batchId + 1, and a resumed
    // query continues from the recorded seq; each read folds new files
    t.start("s1", "stream", 0L)
    for (batchId <- 0L to 1L)
      t.update("s1", "stream", 0L, 0L, 10L * (batchId + 1), seq = batchId + 1)
    tiersAgree(db, "s1")
    t.update("s1", "stream", 0L, 0L, 30L, seq = 3L)
    tiersAgree(db, "s1")
    val (_, folds, _) = graft.catalog.ResidentArtifact.history("progress",
      Seq(db.tablePath(t.tableName))).get
    assert(folds >= 2)
    assert(t.current().filter(col("id") === "s1").head()
      .getAs[Long]("rows_done") == 30L)
    // a compacted log reloads, then folds on
    db.compact(t.tableName)
    tiersAgree(db, "t1")
    t.complete("s1", "stream", 0L, 30L)
    tiersAgree(db, "s1")
    assert(t.current().filter(col("completed").isNotNull).count() == 2L)
  }

  test("progress rows publish whole: a poller never lists a partial file") {
    val db = GraftDatabase(spark, scratch("progress_atomic") + "/db")
    val t = db.progress
    t.start("a1", "tbl", 1000L)
    val dir = db.tablePath(t.tableName)
    val conf = spark.sessionState.newHadoopConf()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val partial = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // one thread lists in a tight loop, opening each newly listed file
    // once; another reads current() over and over
    def poll(body: => Unit) = {
      val th = new Thread(() => while (!done.get) body)
      th.start()
      th
    }
    val whole = scala.collection.mutable.Set.empty[String]
    val pollers = Seq(
      poll(for (f <- graft.sources.ParquetStats.listing(conf, dir).getOrElse(Nil)
          if !whole(f.getPath.getName))
        try {
          graft.sources.ParquetStats.footerRowCount(f, conf)
          whole += f.getPath.getName
        } catch { case e: Exception => partial.add(s"${f.getPath}: $e"); () }),
      poll(try t.current().filter(col("id") === "a1").collect()
        catch { case e: Exception => failed.add(e.toString); () }))
    try for (i <- 1 to 1000) t.update("a1", "tbl", 1000L, i, i, seq = i)
    finally { done.set(true); pollers.foreach(_.join()) }
    assert(partial.isEmpty, partial)
    assert(failed.isEmpty, failed)
    assert(t.current().filter(col("id") === "a1").head()
      .getAs[Long]("rows_done") == 1000L)
  }
}

/** The SQL surface, [[GraftDatabase.sql]], over a database of several
  * uploaded tables plus `_csv_progress_`.
  */
class SqlSurfaceSpec extends AnyFunSuite with SparkTestBase {

  private def csv(dir: String, name: String, lines: String*): String = {
    val p = s"$dir/$name.csv"
    Files.write(Paths.get(p), lines.mkString("\n").getBytes("UTF-8"))
    p
  }

  private lazy val db: GraftDatabase = {
    val dir = scratch("sql_surface")
    val d = GraftDatabase(spark, s"$dir/db")
    Seq(
      csv(dir, "dogs", "name,age,owner_id",
        "Cleo,5,1", "Pancakes,4,2", "Rex,9,1", "Fido,2,3"),
      csv(dir, "owners", "id,name", "1,Ana", "2,Bo", "3,Cy"),
      csv(dir, "toys", "dog,toy,price", "Cleo,ball,2.5", "Rex,rope,4.0",
        "Rex,bone,1.25"),
      csv(dir, "cats", "name,lives", "Tom,9", "Kit,7"),
      csv(dir, "birds", "name,wingspan", "Tweety,0.2", "Polly,0.4")
    ).foreach { p =>
      val r = CsvUploader.upload(d, p)
      assert(r.error.isEmpty, r.error)
    }
    d
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("join, CTE, scalar subquery and a mixed-case name match DataFrame twins") {
    val dogs = db.read("dogs")
    val owners = db.read("owners")
    val join = db.sql("""SELECT d.name, o.name AS owner
                        |FROM dogs d JOIN owners o ON d.owner_id = o.id""".stripMargin)
    assert(rows(join) == rows(dogs.join(owners, dogs("owner_id") === owners("id"))
      .select(dogs("name"), owners("name").as("owner"))))
    assert(join.count() == 4L)
    val cte = db.sql("""WITH old AS (SELECT name, age FROM dogs WHERE age > 3)
                       |SELECT name FROM old""".stripMargin)
    assert(rows(cte) == rows(dogs.filter(col("age") > 3).select("name")))
    assert(cte.count() == 3L)
    val sub = db.sql("SELECT name, (SELECT COUNT(*) FROM toys) AS n_toys FROM dogs")
    assert(rows(sub) ==
      rows(dogs.select(col("name"), lit(db.read("toys").count()).as("n_toys"))))
    assert(rows(db.sql("SELECT * FROM DOGS")) == rows(dogs))
  }

  test("_csv_progress_ is queryable by SQL") {
    val done = db.sql("""SELECT COUNT(DISTINCT id) FROM _csv_progress_
                        |WHERE completed IS NOT NULL""".stripMargin).head().getLong(0)
    assert(done == 5L)
    assert(done == db.progress.current().filter(col("completed").isNotNull).count())
  }

  test("an unreadable table fails only the queries that name it") {
    val broken = Paths.get(db.tablePath("broken"))
    Files.createDirectories(broken)
    Files.write(broken.resolve("part-00000.parquet"), "not parquet".getBytes("UTF-8"))
    try {
      assert(rows(db.sql("SELECT name FROM cats")) ==
        rows(db.read("cats").select("name")))
      intercept[Exception](db.sql("SELECT * FROM broken").collect())
    } finally db.dropTable("broken")
  }

  test("constructing a one-table query launches no job") {
    assert(db.listTables().size >= 5)
    val (df, jobs) = jobsLaunchedBy(db.sql("SELECT COUNT(*) FROM cats"))
    assert(jobs == 0, s"db.sql launched $jobs jobs to construct a one-table query")
    assert(df.head().getLong(0) == 2L)
  }

  test("a name another database registered does not resolve here") {
    val dir = scratch("sql_cross_db")
    val a = GraftDatabase(spark, s"$dir/a")
    val b = GraftDatabase(spark, s"$dir/b")
    assert(CsvUploader.upload(a, csv(dir, "pets", "name", "Cleo")).error.isEmpty)
    assert(CsvUploader.upload(b, csv(dir, "cats", "name", "Tom")).error.isEmpty)
    assert(rows(a.sql("SELECT name FROM pets")) == Seq("[Cleo]"))
    val e = intercept[AnalysisException](b.sql("SELECT name FROM pets").collect())
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e.getMessage)
    // a temp view graft did not register is left alone
    spark.range(3).createOrReplaceTempView("sql_surface_user_view")
    try assert(b.sql("SELECT * FROM sql_surface_user_view").count() == 3L)
    finally spark.catalog.dropTempView("sql_surface_user_view")
    assert(rows(a.sql("SELECT name FROM pets")) == Seq("[Cleo]"))
  }
}
