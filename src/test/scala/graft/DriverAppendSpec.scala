package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.util.SizeEstimator
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{GraftDatabase, ResidentArtifact}
import graft.operators.TextIndex
import graft.sources.ParquetStats
import graft.streaming.StreamingTextIndex

/** The driver tier of the text index's one writer, for appends
  * (`StreamingTextIndex.appendBatch`) and base builds (batch −1 of
  * `TextIndex.buildIndex`): the files it writes hold the rows, schema
  * and Spark metadata of the Spark tier's file for the same bucket,
  * searches over either serve bit-equal, a replay converges, and the
  * write launches at most one Spark job. */
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

  /** Spark's ascending order on a bucket column's values, NULL first. */
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Long, y: Long) => x.compare(y)
    case (x: String, y: String) => x.compareTo(y)
    case other => fail(s"unexpected key types $other")
  }

  /** Write one batch into a fresh db through each tier, by
    * `write(db, budget)` at the driver's `driverBudget` and at the
    * Spark tier's, and compare the files the batch published bucket by
    * bucket. The driver side must take one Spark job at most. */
  private def assertSameFiles(name: String, batchId: Long, driverBudget: Long)(
      write: (GraftDatabase, Long) => Unit): Unit = {
    val dbs = Seq(driverBudget, Spark).map { budget =>
      val db = GraftDatabase(spark, scratch(s"driver_append_$name$budget"))
      val (_, jobs) = jobsLaunchedBy(write(db, budget))
      if (budget != Spark) assert(jobs <= 1, s"$name: the driver tier ran $jobs jobs")
      db
    }
    val Seq(onDriver, onSpark) = dbs
    for (t <- tables) {
      val (d, s) = (batchFiles(onDriver, t, batchId), batchFiles(onSpark, t, batchId))
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

  /** [[assertSameFiles]] for `batch` appended as batch 7. */
  private def assertSameAppend(name: String, batch: DataFrame): Unit =
    assertSameFiles(name, 7L, Driver)((db, budget) =>
      StreamingTextIndex.appendBatch(db, "idx", batch, Buckets, 7L, budget))

  /** [[assertSameFiles]] for a base build of `docs` (batch −1), the
    * driver side at the writer's default budget. */
  private def assertSameBuild(name: String, docs: DataFrame): Unit =
    assertSameFiles(s"build_$name", TextIndex.BaseBatch, ResidentArtifact.budget)(
      (db, budget) => TextIndex.buildIndex(db, "idx", docs, Buckets, budget))

  /** The edge frames: NULL, empty and blank text, a NULL doc_id,
    * repeated and ubiquitous terms; long and string doc_ids; no rows;
    * only blank texts. */
  private def edgeFrames: Seq[(String, DataFrame)] = {
    import spark.implicits._
    val edge = Seq[(java.lang.Long, String)]((1L, "a a b a"), (2L, null),
      (3L, ""), (4L, "a c  a"), (5L, "   "), (null, "a z"), (6L, "b a é"))
    val longIds = edge.toDF("doc_id", "text")
    Seq("edge" -> longIds,
      "edge_str" -> longIds.select(col("doc_id").cast("string").as("doc_id"),
        col("text")),
      "empty" -> longIds.limit(0),
      "empty_text" -> Seq((1L, ""), (2L, " ")).toDF("doc_id", "text"))
  }

  test("driver append: each file holds the rows of the Spark tier's file for its bucket") {
    for (dir <- oracleSets) {
      val all = docs(dir)
      assertSameAppend("sf" + dir.last, all.filter(col("doc_id") % 3 === 0))
    }
  }

  test("driver append: empty batch, NULL and empty text, repeated and ubiquitous terms") {
    for ((name, frame) <- edgeFrames) assertSameAppend(name, frame)
  }

  test("base build: the driver tier's batch -1 files hold the rows of the Spark tier's, on the oracle datasets and the edge frames") {
    for (dir <- oracleSets) assertSameBuild("sf" + dir.last, docs(dir))
    for ((name, frame) <- edgeFrames) assertSameBuild(name, frame)
  }

  test("base build: the Spark tier derives _df from the staged postings with no exchange") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case u: org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.add(u.physicalPlanDescription)
        case _ =>
      }
    }
    val db = GraftDatabase(spark, scratch("driver_append_df_plan"))
    val sc = spark.sparkContext
    org.apache.spark.GraftListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      TextIndex.buildIndex(db, "idx", docs(sf), Buckets, Spark)
      org.apache.spark.GraftListenerBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    val dfPlans = plans.asScala.toSeq.filter(_.contains("_staging_idx_df"))
    assert(dfPlans.nonEmpty, plans.asScala.mkString("\n----\n").take(4000))
    dfPlans.foreach(p => assert(!p.contains("Exchange"), p.take(4000)))
    // the stage's catalog entries are gone, its files published
    assert(!spark.catalog.listTables().collect().exists(_.name.contains("staging")))
    assert(!new java.io.File(db.tablePath("_staging_idx_df")).exists())
  }

  test("base build: a same-session rebuild that changes doc_id's type serves from the new schema") {
    import spark.implicits._
    for (budget <- Seq(ResidentArtifact.budget, Spark)) {
      val db = GraftDatabase(spark, scratch(s"driver_append_retype$budget"))
      val longIds = Seq((1L, "alpha beta"), (2L, "beta gamma beta"))
        .toDF("doc_id", "text")
      TextIndex.buildIndex(db, "idx", longIds, Buckets, budget)
      assert(TextIndex.searchAll(db, "idx", Seq("beta")).collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L))
      val strIds = Seq(("a", "beta delta"), ("b", "gamma"), ("c", "beta beta"))
        .toDF("doc_id", "text")
      TextIndex.buildIndex(db, "idx", strIds, Buckets, budget)
      for (t <- Seq("idx", "idx_len"))
        assert(db.readBucketed(t).schema("doc_id").dataType ==
          org.apache.spark.sql.types.StringType, s"$budget $t")
      assert(TextIndex.searchAll(db, "idx", Seq("beta")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("a" -> 1L, "c" -> 2L), s"$budget")
      assert(TextIndex.searchRanked(db, "idx", Seq("beta"), 10).collect()
        .map(_.getString(0)).toSeq == Seq("c", "a"), s"$budget")
      assert(db.read("idx_corpus").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == Seq((-1L, 3L, 5L)))
    }
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

  /** A served search corpus's shape, generated here: 2000 documents of
    * 20–80 words, each word drawn Zipf(1) from a vocabulary of 8000
    * pseudo-words of 3–9 letters or, one time in ten, a stopword, a
    * period every 12th word; written as 4 parquet files. */
  private lazy val zipfCorpus: DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(20)
    val vocab = Iterator.continually(Seq.fill(3 + rng.nextInt(7))(
      ('a' + rng.nextInt(26)).toChar).mkString).distinct.take(8000).toIndexedSeq
    val cum = vocab.indices.scanLeft(0.0)((c, i) => c + 1.0 / (i + 1)).tail.toArray
    def word() = {
      val at = java.util.Arrays.binarySearch(cum, rng.nextDouble() * cum.last)
      vocab(math.min(if (at < 0) -at - 1 else at, vocab.size - 1))
    }
    val stops = Seq("the", "and", "of", "to", "is", "in", "it", "a")
    val docs = (0 until 2000).map { id =>
      val words = Seq.tabulate(20 + rng.nextInt(61)) { i =>
        val w = if (rng.nextDouble() < 0.1) stops(rng.nextInt(stops.size)) else word()
        if (i % 12 == 11) w + "." else w
      }
      (id.toLong, words.mkString(" "))
    }
    val dir = scratch("driver_zipf_corpus") + "/docs.parquet"
    docs.toDF("doc_id", "text").repartition(4).write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("base build: the driver gate admits a batch one byte under the budget and refuses one at it") {
    val frame = docs(sf)
    val estimate = TextIndex.planBytes(frame) * TextIndex.DriverHeapPerPlanByte
    assert(estimate.isValidLong && estimate > 0, s"estimate $estimate")
    for ((budget, driver) <- Seq(estimate.toLong + 1 -> true, estimate.toLong -> false)) {
      val db = GraftDatabase(spark, scratch(s"driver_append_gate$driver"))
      val (_, jobs) = jobsLaunchedBy(
        TextIndex.buildIndex(db, "idx", frame, Buckets, budget))
      if (driver) assert(jobs <= 1, s"budget $budget: $jobs jobs, not the driver tier")
      else assert(jobs > 1, s"budget $budget: $jobs jobs, not the Spark tier")
    }
  }

  test("base build: a 2k-document Zipf corpus takes the driver tier at the default budget") {
    val (db, corpus) = (GraftDatabase(spark, scratch("driver_append_zipf")), zipfCorpus)
    val (_, jobs) = jobsLaunchedBy(TextIndex.buildIndex(db, "idx", corpus, Buckets))
    assert(jobs <= 1, s"the default gate's build launched $jobs jobs")
    // and it would at a 3 GB driver heap too: budget = heap / 64
    assert(TextIndex.planBytes(corpus) * TextIndex.DriverHeapPerPlanByte <
      (3L << 30) / 64)
  }

  test("the driver tier's heap per plan byte stays below DriverHeapPerPlanByte") {
    val frames = oracleSets.map(d => s"sf${d.drop(d.indexOf("sf") + 2)}" -> docs(d)) ++
      edgeFrames :+ ("zipf2k" -> zipfCorpus)
    for ((name, frame) <- frames) {
      val planBytes = TextIndex.planBytes(frame)
      val batch = TextIndex.collectOnDriver(frame)
      val files = batch.files(Buckets, 0L).flatten.map(_._2().toArray)
      // the writes stream each file's rows; every write thread holding
      // a whole file of the largest ones bounds what they hold
      val held = files.sortBy(f => -SizeEstimator.estimate(f))
        .take(TextIndex.WriteThreads)
      // the batch last: estimated first, so the rows' references into
      // it count once, at their own size
      val peak = SizeEstimator.estimate(held.toArray[AnyRef] :+ batch)
      info(f"$name: $peak%,d bytes of heap for $planBytes%,d plan bytes " +
        f"(${peak.toDouble / planBytes.toDouble}%.1f per byte; structures " +
        f"${SizeEstimator.estimate(batch)}%,d)")
      if (planBytes == 0) assert(peak < 4096, s"$name: $peak bytes for an empty plan")
      else assert(peak <= planBytes * TextIndex.DriverHeapPerPlanByte,
        s"$name: $peak bytes of heap for $planBytes plan bytes")
    }
  }
}
