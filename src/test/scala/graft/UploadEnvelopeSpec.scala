package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.GraftDatabase
import graft.sources.{CsvUploader, FixedWidthUploader, JsonlUploader, TypeInference, Upload}

/** The one batch upload envelope, seen through all three formats: a
  * failure lands in `_csv_progress_.error` and leaves no table, and
  * reading the progress log is quiet.
  */
class UploadEnvelopeSpec extends AnyFunSuite with SparkTestBase {

  private val ids = 1 to 300

  /** A format: file extension, a well-formed body of `ids`, and its
    * upload of (db, path, table). */
  private case class Format(name: String, ext: String, body: String,
      upload: (GraftDatabase, String, String) => CsvUploader.UploadResult)

  private val formats = Seq(
    Format("csv", "csv", ids.map(i => s"$i,n$i").mkString("id,name\n", "\n", "\n"),
      (db, p, t) => CsvUploader.upload(db, p, Some(t))),
    Format("jsonl", "jsonl",
      ids.map(i => s"""{"id": $i, "name": "n$i"}""").mkString("", "\n", "\n"),
      (db, p, t) => JsonlUploader.upload(db, p, Some(t))),
    Format("fixed-width", "dat",
      ids.map(i => f"$i%4d" + s"n$i".padTo(6, ' ')).mkString("", "\n", "\n"),
      (db, p, t) => FixedWidthUploader.upload(db, p,
        Seq(("id", 4), ("name", 6)), Some(t))))

  private def gzip(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out)
    try gz.write(bytes) finally gz.close()
    out.toByteArray
  }

  /** Each fault writes its input under `dir` and returns its path. */
  private val faults: Seq[(String, (String, Format) => String)] = Seq(
    "missing path" -> ((dir, f) => s"$dir/missing.${f.ext}"),
    "truncated .gz" -> { (dir, f) =>
      val gz = gzip(f.body.getBytes("UTF-8"))
      val p = s"$dir/truncated.${f.ext}.gz"
      Files.write(Paths.get(p), java.util.Arrays.copyOf(gz, gz.length / 2))
      p
    })

  for (f <- formats; (fault, input) <- faults)
    test(s"${f.name} upload, $fault: error in _csv_progress_, no table, name reusable") {
      val dir = scratch(s"envelope_${f.ext}_${fault.replaceAll("\\W+", "_")}")
      val db = GraftDatabase(spark, s"$dir/db")
      val bad = f.upload(db, input(dir, f), "t")
      assert(bad.error.isDefined, s"no error for $bad")
      assert(bad.tableName == "t" && bad.rowsDone == 0L)
      val rows = db.progress.current().filter(col("id") === bad.taskId).collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("error") == bad.error.get)
      assert(rows.head.isNullAt(rows.head.fieldIndex("completed")))
      assert(!db.tableExists("t"), "a failed upload left a table dir")
      val goodPath = s"$dir/good.${f.ext}"
      Files.write(Paths.get(goodPath), f.body.getBytes("UTF-8"))
      val good = f.upload(db, goodPath, "t")
      assert(good.error.isEmpty, good.error)
      assert(good.tableName == "t" && good.rowsDone == ids.size.toLong)
      assert(db.read("t").count() == ids.size.toLong)
    }

  /** Upload a one-line file as `t` with `parse` injected for the
    * format's own. */
  private def injected(db: GraftDatabase, dir: String)(
      parse: => Upload.Parsed): CsvUploader.UploadResult = {
    Files.write(Paths.get(s"$dir/in.csv"), "x\n1\n".getBytes("UTF-8"))
    Upload.run(db, s"$dir/in.csv", Some("t"), Seq(".csv"), "task-injected",
      progressIntervalMs = 250L)(Upload.Sniffed("", () => parse))
  }

  private def stagings(db: GraftDatabase): Seq[String] =
    new java.io.File(db.path).list().toSeq.filter(_.startsWith("_staging_"))

  test("a write that fails in a task leaves no table, no staging, the name free") {
    val dir = scratch("envelope_task_failure")
    val db = GraftDatabase(spark, s"$dir/db")
    val bad = injected(db, dir) {
      val typed = spark.range(0, 100, 1, 4).select(
        when(col("id") === 57L, raise_error(lit("planted task failure")))
          .otherwise(col("id")).as("x"))
      Upload.Parsed(typed, None, Seq("x" -> TypeInference.IntegerT))
    }
    assert(bad.error.exists(_.contains("planted task failure")), bad)
    val rows = db.progress.current().filter(col("id") === bad.taskId).collect()
    assert(rows.map(_.getAs[String]("error")).toSeq == bad.error.toSeq)
    assert(!db.tableExists("t"), "a failed write left a table dir")
    assert(stagings(db).isEmpty, stagings(db))
    Files.write(Paths.get(s"$dir/t.csv"), "x\n1\n2\n".getBytes("UTF-8"))
    val good = CsvUploader.upload(db, s"$dir/t.csv")
    assert(good.error.isEmpty && good.tableName == "t", good)
    assert(db.read("t").count() == 2L)
  }

  test("a name taken during the upload fails it and leaves that table whole") {
    val dir = scratch("envelope_name_taken")
    val db = GraftDatabase(spark, s"$dir/db")
    val res = injected(db, dir) {
      // another writer wins the resolved name while this parse runs
      db.write(spark.range(3).toDF("x"), "t")
      Upload.Parsed(spark.range(10).toDF("x"), Some(10L),
        Seq("x" -> TypeInference.IntegerT))
    }
    assert(res.error.isDefined && res.tableName == "t", res)
    assert(db.read("t").count() == 3L)
    val nested = new java.io.File(db.tablePath("t")).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(nested.isEmpty, nested.mkString(", "))
    assert(stagings(db).isEmpty, stagings(db))
  }

  test("an upload, current() and SQL over _csv_progress_ log no ignored-path warning") {
    val dir = scratch("envelope_quiet")
    val db = GraftDatabase(spark, s"$dir/db")
    Files.write(Paths.get(s"$dir/dogs.csv"), "name,age\nCleo,5\nRex,3\n".getBytes)
    val ((current, sqlRows), lines) = logged {
      assert(CsvUploader.upload(db, s"$dir/dogs.csv").error.isEmpty)
      (db.progress.current().collect(),
        db.sql("SELECT * FROM _csv_progress_").collect())
    }
    val noise = lines.filter(_.contains("All paths were ignored"))
    assert(noise.isEmpty, noise.mkString("\n"))
    assert(current.length == 1 && current.head.getAs[Long]("rows_done") == 2L)
    // the SQL surface is still the whole event log: every row of the
    // log's data files, read by name
    val files = new java.io.File(db.tablePath("_csv_progress_")).listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).toSeq
    val log = spark.read.parquet(files: _*)
    assert(db.sql("SELECT * FROM _csv_progress_").schema == log.schema)
    assert(sqlRows.toSeq.map(_.toString).sorted ==
      log.collect().toSeq.map(_.toString).sorted)
  }
}
