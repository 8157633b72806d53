package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.parquet.hadoop.ParquetOutputCommitter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{GraftDatabase, ResidentArtifact}
import graft.operators.{Hnsw, TextIndex}
import graft.streaming.StreamingTextIndex

/** Fails `setupJob` of every parquet write into a dir named `*_len`
  * and holds back each write into a `*_df` dir for a second, so one
  * of `TextIndex.buildIndex`'s concurrent writes fails while another
  * has yet to run its job. */
class FailLenWritesCommitter(out: org.apache.hadoop.fs.Path,
    ctx: TaskAttemptContext) extends ParquetOutputCommitter(out, ctx) {
  // the index's writes stage into `_staging_<table>/<batchId>`
  override def setupJob(job: JobContext): Unit = {
    if (out.getParent.getName.endsWith("_len"))
      throw new java.io.IOException(s"forced failure writing $out")
    if (out.getParent.getName.endsWith("_df")) Thread.sleep(1000)
    super.setupJob(job)
  }
}

/** The driver-resident tier of the BM25 and HNSW serves
  * ([[ResidentArtifact]]): bit-equal to the Spark tier in rows and
  * schema, no Spark job to construct or collect, appends folded in
  * from the new files alone, anything else reloaded. */
class ResidentServingSpec extends AnyFunSuite with SparkTestBase {

  private val Off = 0L // a budget no artifact fits: the Spark tier
  private val On = ResidentArtifact.budget
  // the two oracle datasets next to the suites' default one
  private val oracleSets = Seq(sf, sf.stripSuffix("0.001") + "0.01")

  private def docs(dir: String): DataFrame =
    Tables(spark, dir, "documents").select("doc_id", "text")

  private def dirsOf(db: GraftDatabase, t: String) =
    Seq(t, s"${t}_len", s"${t}_df", s"${t}_corpus").map(db.tablePath)

  private def ranked(db: GraftDatabase, terms: Seq[String], k: Int,
      budget: Long) = {
    val df = TextIndex.searchRanked(db, "idx", terms, k, budget)
    (df.schema, df.collect().toSeq.map(r =>
      (r.get(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1)))))
  }

  /** Queries over `db`'s vocabulary: the three most and least
    * frequent terms, alone and mixed, plus absent and repeated ones. */
  private def queries(db: GraftDatabase): Seq[Seq[String]] = {
    val byDf = db.read("idx_df").groupBy("term").sum("df")
      .orderBy(col("sum(df)").desc, col("term")).collect().map(_.getString(0))
    val (c, r) = (byDf.take(3), byDf.takeRight(3))
    Seq(Seq(c(0)), Seq(r(0)), Seq(c(0), r(0)), Seq(c(1), c(2), r(1)),
      Seq(r(1), r(2)), Seq("batch", "merge"), Seq("zz_absent"),
      Seq(c(0), "zz_absent", r(2)), Seq(c(1), c(1)))
  }

  private def assertTiersEqual(db: GraftDatabase, what: String): Unit =
    for (q <- queries(db); k <- Seq(1, 10, 100000)) {
      val spark0 = ranked(db, q, k, Off)
      val resident = ranked(db, q, k, On)
      assert(resident == spark0, s"$what: $q top $k")
    }

  test("searchRanked: the resident and Spark tiers are bit-equal on the oracle datasets") {
    for (sfDir <- oracleSets) {
      val db = GraftDatabase(spark, scratch("resident_bm25_" + sfDir.last))
      TextIndex.buildIndex(db, "idx", docs(sfDir), 4)
      assertTiersEqual(db, sfDir)
      assert(ResidentArtifact.history("bm25", dirsOf(db, "idx"))
        .exists(_._1 >= 1), "the default budget never loaded the index")
    }
  }

  test("searchRanked: an append is folded in from its new files alone, a replay reloads") {
    val all = docs(sf)
    val db = GraftDatabase(spark, scratch("resident_bm25_append"))
    TextIndex.buildIndex(db, "idx", all.filter(col("doc_id") % 3 =!= 0), 4)
    assertTiersEqual(db, "base")
    val dirs = dirsOf(db, "idx")
    val (loads0, folds0, read0) = ResidentArtifact.history("bm25", dirs).get
    def listed = dirs.map(d => graft.sources.ParquetStats
      .listing(spark.sessionState.newHadoopConf(), d).get
      .map(_.getPath.getName).toSet)
    val before = listed
    val batch0 = all.filter(col("doc_id") % 6 === 0)
    StreamingTextIndex.appendBatch(db, "idx", batch0, 4, 0L)
    val added = listed.zip(before).map { case (a, b) => (a -- b).size }.sum
    assert(added > 0)
    assertTiersEqual(db, "after batch 0")
    assert(ResidentArtifact.history("bm25", dirs).get ==
      ((loads0, folds0 + 1, read0 + added)),
      "the append was not folded in from its new files alone")
    StreamingTextIndex.appendBatch(db, "idx", batch0, 4, 0L) // replay
    assertTiersEqual(db, "after replaying batch 0")
    assert(ResidentArtifact.history("bm25", dirs).get._1 == loads0 + 1,
      "the replayed batch was not reloaded")
    StreamingTextIndex.appendBatch(db, "idx",
      all.filter(col("doc_id") % 6 === 3), 4, 1L)
    assertTiersEqual(db, "after batch 1")
  }

  test("searchRanked: a rebuild over a swapped corpus with the same row count is reloaded") {
    import spark.implicits._
    val db = GraftDatabase(spark, scratch("resident_bm25_swap"))
    val terms = Seq("batch", "merge")
    TextIndex.buildIndex(db, "idx", Seq((1L, "batch merge"), (2L, "batch"),
      (3L, "merge")).toDF("doc_id", "text"), 2)
    val first = ranked(db, terms, 10, On)
    val loads = ResidentArtifact.history("bm25", dirsOf(db, "idx")).get._1
    TextIndex.buildIndex(db, "idx", Seq((1L, "batch"), (2L, "merge batch batch"),
      (3L, "merge merge batch")).toDF("doc_id", "text"), 2)
    val second = ranked(db, terms, 10, On)
    assert(second == ranked(db, terms, 10, Off))
    assert(second != first)
    assert(ResidentArtifact.history("bm25", dirsOf(db, "idx")).get._1 ==
      loads + 1)
  }

  test("searchRanked: two threads cold-serving one index load it once and agree") {
    val db = GraftDatabase(spark, scratch("resident_bm25_threads"))
    TextIndex.buildIndex(db, "idx", docs(sf), 4)
    val q = queries(db).head
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = Seq.fill(2)(pool.submit(() => {
        start.await()
        ranked(db, q, 10, On)
      }))
      start.countDown()
      val Seq(a, b) = fs.map(_.get())
      assert(a == b)
      assert(a == ranked(db, q, 10, Off))
    } finally pool.shutdown()
    assert(ResidentArtifact.history("bm25", dirsOf(db, "idx")).get._1 == 1)
  }

  test("searchRanked: cold and warm resident requests launch no Spark job") {
    val db = GraftDatabase(spark, scratch("resident_bm25_jobs"))
    TextIndex.buildIndex(db, "idx", docs(sf), 4)
    for (round <- Seq("cold", "warm")) {
      val (df, built) = jobsLaunchedBy(
        TextIndex.searchRanked(db, "idx", Seq("batch", "merge"), 10))
      val (rows, collected) = jobsLaunchedBy(df.collect())
      assert(rows.nonEmpty)
      assert((built, collected) == ((0, 0)),
        s"$round: $built job(s) to construct, $collected to collect")
    }
  }

  private def hnswRows(df: DataFrame) =
    (df.schema, df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1),
      r.getInt(2), java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      .sortBy(r => (r._1, r._3)))

  test("hnswTopkFromIndex: the resident and Spark tiers are bit-equal and the resident one launches no job") {
    for (sfDir <- oracleSets) {
      val db = GraftDatabase(spark, scratch("resident_hnsw_" + sfDir.last))
      val emb = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
      Hnsw.buildHnswIndex(db, emb.repartition(3), "hnsw")
      val q = spark.createDataFrame(
        emb.filter(col("vec_id") < 8).collect().toSeq.asJava, emb.schema)
      for (k <- Seq(1, 10, 100000)) {
        val want = hnswRows(Hnsw.hnswTopkFromIndex(db, "hnsw", q, k, 48, Off))
        assert(hnswRows(Hnsw.hnswTopkFromIndex(db, "hnsw", q, k, 48, On)) ==
          want, s"$sfDir top $k")
      }
      val (df, built) = jobsLaunchedBy(Hnsw.hnswTopkFromIndex(db, "hnsw", q))
      val (rows, collected) = jobsLaunchedBy(df.collect())
      assert(rows.nonEmpty)
      assert((built, collected) == ((0, 0)),
        s"$built job(s) to construct, $collected to collect")
    }
  }

  private def sessionDocs(s: SparkSession): DataFrame =
    s.createDataFrame(docs(sf).collect().toSeq.asJava, docs(sf).schema)

  test("buildIndex waits for every write before it rethrows a failed one") {
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.output.committer.class",
      classOf[FailLenWritesCommitter].getName)
    val db = GraftDatabase(s, scratch("resident_build_fail"))
    // the Spark tier, whose `_len`, `_df` and `_corpus` writes run
    // concurrently
    val err = intercept[Exception](
      TextIndex.buildIndex(db, "idx", sessionDocs(s), 4, Off))
    // read at once: a write still running past the throw has not
    // committed yet. The staged output is probed: a failed batch
    // publishes nothing, and a publish moves only the data files.
    val committed = Seq("idx_df", "idx_corpus").map(t =>
      new java.io.File(db.tablePath(s"_staging_$t/${TextIndex.BaseBatch}"),
        "_SUCCESS").exists())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("forced failure")), err)
    assert(committed == Seq(true, true),
      "buildIndex threw while its other writes were still running")
    org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
  }

  test("buildIndex leaves no listener that logs an error for a later failed query") {
    val s = spark.newSession()
    TextIndex.buildIndex(GraftDatabase(s, scratch("resident_build_quiet")),
      "idx", sessionDocs(s), 2)
    val (_, lines) = logged {
      intercept[org.apache.spark.sql.AnalysisException](
        s.sql("SELECT no_such_column FROM range(1)").collect())
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
    }
    val threw = lines.filter(_.contains("threw an exception"))
    assert(threw.isEmpty, threw.mkString("\n"))
  }
}
