package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{GraftDatabase, ResidentArtifact}
import graft.operators.TextIndex
import graft.sources.ParquetStats
import graft.streaming.StreamingTextIndex

/** The driver tier of `StreamingTextIndex.appendBatch`: the files it
  * writes hold the rows, schema and Spark metadata of the Spark tier's
  * file for the same bucket, searches over either serve bit-equal, a
  * replay converges, and the append launches at most one Spark job. */
class DriverAppendSpec extends AnyFunSuite with SparkTestBase {

  private val Driver = Long.MaxValue // a budget every batch fits
  private val Spark = 0L // a budget no batch fits
  private val Buckets = 4
  private val tables = Seq("idx", "idx_len", "idx_df", "idx_corpus")
  private val oracleSets = Seq(sf, sf.stripSuffix("0.001") + "0.01")

  private def docs(dir: String): DataFrame =
    Tables(spark, dir, "documents").select("doc_id", "text")

  /** The data files batch `batchId` published into `table`, by the
    * bucket id their name carries (None for the unbucketed stats). */
  private def batchFiles(db: GraftDatabase, table: String,
      batchId: Long): Map[Option[Int], Path] = {
    val files = ParquetStats.listing(spark.sessionState.newHadoopConf(),
        db.tablePath(table)).get.map(_.getPath)
      .filter(_.getName.startsWith(f"b$batchId%019d-"))
    val byBucket = files.groupBy(p => BucketingUtils.getBucketId(p.getName))
    assert(byBucket.values.forall(_.size == 1), s"$table: $files")
    byBucket.map { case (b, ps) => b -> ps.head }
  }

  private def rowsOf(p: Path) =
    spark.read.parquet(p.toString).collect().toSeq.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    })

  private def footer(p: Path) = {
    val f = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(p, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.NO_FILTER).getFileMetaData
    (f.getSchema, f.getKeyValueMetaData.asScala.toMap)
  }

  /** Spark's ascending order on a bucket column's values, NULL first. */
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Long, y: Long) => x.compare(y)
    case (x: String, y: String) => x.compareTo(y)
    case other => fail(s"unexpected key types $other")
  }

  /** Append `batch` into fresh dbs through each tier and compare the
    * published files bucket by bucket. */
  private def assertSameFiles(name: String, batch: DataFrame): Unit = {
    val dbs = Seq(Driver, Spark).map { budget =>
      val db = GraftDatabase(spark, scratch(s"driver_append_$name$budget"))
      StreamingTextIndex.appendBatch(db, "idx", batch, Buckets, 7L, budget)
      db
    }
    val Seq(onDriver, onSpark) = dbs
    for (t <- tables) {
      val (d, s) = (batchFiles(onDriver, t, 7L), batchFiles(onSpark, t, 7L))
      assert(d.keySet == s.keySet, s"$name $t: buckets differ")
      for ((bucket, file) <- d) {
        val what = s"$name $t bucket $bucket"
        val (dRows, sRows) = (rowsOf(file), rowsOf(s(bucket)))
        assert(dRows.sortBy(_.toString) == sRows.sortBy(_.toString), what)
        assert(footer(file) == footer(s(bucket)), what)
        assert(ParquetStats.footerSchema(spark, file.toString) ==
          ParquetStats.footerSchema(spark, s(bucket).toString), what)
        if (bucket.nonEmpty) {
          val keys = dRows.map(_(if (t == "idx_df") 1 else 0))
          assert(keys.zip(keys.drop(1)).forall { case (a, b) => cmp(a, b) <= 0 },
            s"$what: not sorted by the bucket column")
        }
      }
    }
  }

  test("driver append: each file holds the rows of the Spark tier's file for its bucket") {
    for (dir <- oracleSets) {
      val all = docs(dir)
      assertSameFiles("sf" + dir.last, all.filter(col("doc_id") % 3 === 0))
    }
  }

  test("driver append: empty batch, NULL and empty text, repeated and ubiquitous terms") {
    import spark.implicits._
    val edge = Seq[(java.lang.Long, String)]((1L, "a a b a"), (2L, null),
      (3L, ""), (4L, "a c  a"), (5L, "   "), (null, "a z"), (6L, "b a é"))
    val longIds = edge.toDF("doc_id", "text")
    assertSameFiles("edge", longIds)
    assertSameFiles("edge_str", longIds.select(col("doc_id").cast("string")
      .as("doc_id"), col("text")))
    assertSameFiles("empty", longIds.limit(0))
    assertSameFiles("empty_text", Seq((1L, ""), (2L, " ")).toDF("doc_id", "text"))
  }

  private def served(db: GraftDatabase, qs: Seq[Seq[String]]) = qs.map { q =>
    def ranked(budget: Long) = {
      val df = TextIndex.searchRanked(db, "idx", q, 10, budget)
      (df.schema, df.collect().toSeq.map(r =>
        (r.get(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1)))))
    }
    (TextIndex.searchAll(db, "idx", q).collect().map(_.toSeq).toSet,
      TextIndex.searchPhrase(db, "idx", q).collect().map(_.toSeq).toSet,
      ranked(0L), ranked(ResidentArtifact.budget))
  }

  test("driver append: searches serve bit-equal to Spark appends, replays converge") {
    val all = docs(sf)
    val base = all.filter(col("doc_id") % 4 =!= 0)
    val batches = Seq(all.filter(col("doc_id") % 8 === 0),
      all.filter(col("doc_id") % 8 === 4))
    val dbs = Seq(Driver, Spark).map { budget =>
      val db = GraftDatabase(spark, scratch(s"driver_append_serve$budget"))
      TextIndex.buildIndex(db, "idx", base, Buckets)
      batches.zipWithIndex.foreach { case (b, i) =>
        StreamingTextIndex.appendBatch(db, "idx", b, Buckets, i.toLong, budget)
      }
      db
    }
    val Seq(onDriver, onSpark) = dbs
    val byDf = onSpark.read("idx_df").groupBy("term").sum("df")
      .orderBy(col("sum(df)").desc, col("term")).collect().map(_.getString(0))
    val qs = Seq(Seq("batch", "merge"), Seq(byDf(0)), Seq(byDf(0), byDf(1)),
      Seq(byDf.last), Seq(byDf(2), byDf.last), Seq("zz_absent"))
    val want = served(onSpark, qs)
    assert(served(onDriver, qs) == want)
    val plan = TextIndex.searchAll(onDriver, "idx", Seq("batch"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"), plan.take(1500))
    def names = tables.map(t => ParquetStats.listing(
      spark.sessionState.newHadoopConf(), onDriver.tablePath(t)).get
      .map(_.getPath.getName).size)
    val before = names
    StreamingTextIndex.appendBatch(onDriver, "idx", batches(1), Buckets, 1L,
      Driver) // replay
    assert(names == before)
    assert(served(onDriver, qs) == want)
  }

  test("driver append: a small parquet batch takes the driver tier, one Spark job") {
    val db = GraftDatabase(spark, scratch("driver_append_jobs"))
    TextIndex.buildIndex(db, "idx", docs(sf).filter(col("doc_id") % 4 =!= 0),
      Buckets)
    val file = scratch("driver_append_jobs_in") + "/batch.parquet"
    docs(sf).filter(col("doc_id") % 4 === 0).limit(25).write.parquet(file)
    val batch = spark.read.schema("doc_id BIGINT, text STRING").parquet(file)
    val (_, onDriver) = jobsLaunchedBy(
      StreamingTextIndex.appendBatch(db, "idx", batch, Buckets, 0L))
    assert(onDriver <= 1, s"the default gate's append launched $onDriver jobs")
    val (_, onSpark) = jobsLaunchedBy(
      StreamingTextIndex.appendBatch(db, "idx", batch, Buckets, 0L, Spark))
    assert(onSpark > 1)
  }
}
