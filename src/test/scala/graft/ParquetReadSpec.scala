package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.GraftDatabase
import graft.sources.{CsvUploader, ParquetStats}

/** [[ParquetStats.read]] against Spark's own schema inference: the
  * footer it reads on the driver must give the schema the inference
  * job gives, for every layout graft writes and every test table, and
  * constructing the read must launch no job.
  */
class ParquetReadSpec extends AnyFunSuite with SparkTestBase {

  /** Spark's inferred schema over `paths`, or the class of its failure. */
  private def inferred(paths: Seq[String]): Either[String, String] =
    try Right(spark.read.parquet(paths: _*).schema.treeString)
    catch { case e: Exception => Left(e.getClass.getName) }

  /** The helper agrees with inference at `path` (over `inferFrom`, the
    * files it lists, where Spark's file index hides the root's name);
    * when it succeeds, its construction launches no job. */
  private def assertSameSchema(path: String,
      inferFrom: Seq[String] = Nil): Unit = {
    val got =
      try Right(jobsLaunchedBy(ParquetStats.read(spark, path)))
      catch { case e: Exception => Left(e.getClass.getName) }
    assert(got.map(_._1.schema.treeString) ==
      inferred(if (inferFrom.isEmpty) Seq(path) else inferFrom), s"schema of $path")
    got.foreach { case (_, jobs) =>
      assert(jobs == 0, s"reading $path launched $jobs job(s)") }
  }

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  test("the footer schema equals inference for every test table, events under both nanosAsLong settings") {
    val saved = spark.conf.getOption(nanosAsLong)
    try {
      for (flag <- Seq("false", "true")) {
        spark.conf.set(nanosAsLong, flag)
        Tables.names.foreach(n => assertSameSchema(s"$sf/$n.parquet"))
      }
    } finally saved match {
      case Some(v) => spark.conf.set(nanosAsLong, v)
      case None    => spark.conf.unset(nanosAsLong)
    }
  }

  test("the footer schema equals inference for every database layout, and no read launches a job") {
    import spark.implicits._
    val dir = scratch("parquet_read_layouts")
    val db = GraftDatabase(spark, s"$dir/db")
    Files.write(Paths.get(s"$dir/dogs.csv"),
      "id,name,weight\n1,Cleo,5.5\n2,Pancakes,\n3,Rex,12".getBytes)
    assert(CsvUploader.upload(db, s"$dir/dogs.csv").error.isEmpty)
    Files.createDirectories(Paths.get(s"$dir/in"))
    Files.write(Paths.get(s"$dir/in/a.csv"), "a,b\n1,x".getBytes)
    Files.write(Paths.get(s"$dir/in/b.csv"), "b,c\ny,2.5".getBytes)
    assert(CsvUploader.upload(db, s"$dir/in", Some("evolved"),
      alter = true).error.isEmpty)
    val rows = (0 until 40).map(i => (i.toLong, i % 3, s"s${i % 4}", i * 0.5))
      .toDF("id", "k", "src", "v")
    db.writePartitioned(rows, "parted", Seq("src", "k"))
    db.writeZOrdered(rows, "zordered", Seq("id", "k"), 3)
    assert(db.writeVersioned(rows.select("id", "v"), "versioned") == 1)
    assert(db.writeVersioned(rows.select("id", "src"), "versioned") == 2)
    val before = spark.catalog.listTables().collect().map(_.name).toSet
    db.writeBucketed(rows, "bucketed", "k", 4)
    val ident = (spark.catalog.listTables().collect().map(_.name).toSet -- before)
      .toSeq
    assert(ident.size == 1, s"writeBucketed registered $ident")

    db.listTables().foreach(t => assertSameSchema(db.tablePath(t)))
    val progress = db.tablePath(db.progress.tableName)
    assertSameSchema(progress, partFiles(progress))
    assert(db.read("parted").columns.toSeq == Seq("id", "v", "src", "k"))
    for (v <- Seq(1, 2)) {
      val (snap, jobs) = jobsLaunchedBy(db.readVersioned("versioned", v))
      assert(jobs == 0, s"readVersioned launched $jobs job(s)")
      assert(snap.schema == spark.read.parquet(
        f"${db.tablePath("versioned")}/_versions/v$v%05d").schema)
    }
    val (cur, curJobs) = jobsLaunchedBy(db.readVersioned("versioned"))
    assert(curJobs == 0, s"readVersioned launched $curJobs job(s)")
    assert(cur.columns.toSeq == Seq("id", "src"))

    // a session that lost the bucketed table re-attaches it job-free,
    // with the DDL the footer gives
    spark.sql(s"DROP TABLE ${ident.head}")
    val (_, regJobs) = jobsLaunchedBy(db.registerBucketed("bucketed", "k", 4))
    assert(regJobs == 0, s"registerBucketed launched $regJobs job(s)")
    assert(db.readBucketed("bucketed").schema ==
      spark.read.parquet(db.tablePath("bucketed")).schema)
    assert(db.readBucketed("bucketed").filter(col("k") === 1).count() == 13L)
  }

  test("an empty table directory still fails with Spark's AnalysisException") {
    val db = GraftDatabase(spark, scratch("parquet_read_empty"))
    Files.createDirectories(Paths.get(db.tablePath("empty")))
    Files.write(Paths.get(db.tablePath("empty"), "_SUCCESS"), Array.emptyByteArray)
    intercept[AnalysisException](db.read("empty"))
    intercept[AnalysisException](db.read("missing"))
  }
}
