package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.GraftDatabase
import graft.streaming.{EventStreams, StreamingCsvIngest}

class StreamingSpec extends AnyFunSuite with SparkTestBase {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("G1: windowed agg over a memory stream matches expected buckets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.windowedAgg(df)
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.0),
        (Timestamp.valueOf("2024-01-01 11:05:00"), "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select(col("window_start").cast("string"), col("n_events"),
          col("total_value"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00", 2L, 3.0),
        ("2024-01-01 11:00:00", 1L, 4.0)))
    } finally q.stop()
  }

  test("G1b: hopping windows — 4 windows per event, exact overlap sums") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = EventStreams.hoppingAgg(
        mem.toDF().toDF("ts", "event_type", "value"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hop_out").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 10:20:00"), "click", 2.0))
      q.processAllAvailable()
      val rows = spark.table("hop_out")
        .select(col("window_start").cast("string"), col("n_events"),
          col("total_value"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      // 10:05 → windows starting 09:15/09:30/09:45/10:00;
      // 10:20 → 09:30/09:45/10:00/10:15 — B31's exact semantics
      assert(rows == Set(
        ("2024-01-01 09:15:00", 1L, 1.0),
        ("2024-01-01 09:30:00", 2L, 3.0),
        ("2024-01-01 09:45:00", 2L, 3.0),
        ("2024-01-01 10:00:00", 2L, 3.0),
        ("2024-01-01 10:15:00", 1L, 2.0)))
    } finally q.stop()
  }

  test("B32 maintenance: streamed 15-min rollup rows equal the batch build") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // events across quarter boundaries, duplicate types per quarter,
    // value sums that exercise the exact-decimal contract
    val rows = Seq(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.25),
      (Timestamp.valueOf("2024-01-01 10:07:00"), "click", 2.5),
      (Timestamp.valueOf("2024-01-01 10:20:00"), "click", 4.0),
      (Timestamp.valueOf("2024-01-01 10:20:00"), "view", 0.125),
      (Timestamp.valueOf("2024-01-01 10:59:59"), "view", 8.0),
      (Timestamp.valueOf("2024-01-01 11:00:00"), "view", 16.0))
    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = EventStreams.rollupAgg(
        mem.toDF().toDF("ts", "event_type", "value"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("roll_out").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("roll_out")
      val db = graft.catalog.GraftDatabase(spark,
        scratch("rollup_stream") + "/db")
      graft.operators.Analytics.buildEventsRollup(db,
        rows.toDF("ts", "event_type", "value")
          .withColumn("ms", unix_millis(col("ts"))))
      val want = db.read("events_q15")
      assert(got.count() == want.count())
      assert(got.exceptAll(want).count() == 0)
      assert(want.exceptAll(got).count() == 0)
    } finally q.stop()
  }

  test("G21: stream-stream attribution join equals the batch interval join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // base well past epoch: Spark's INITIAL watermark is epoch 0, so
    // an epoch-0 event is dropped as late before any data arrives
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def t(min: Int) = new Timestamp(base + min * 60000L)
    // user 1: click 10 min after view (match); user 2: click 40 min
    // after view (outside the 30-min window); user 3: click with no
    // view; user 1 second click at 25 min (second match row); user 4:
    // click BEFORE its view (no match — the interval is one-sided)
    val views = Seq((1L, t(0)), (2L, t(0)), (4L, t(50)))
    val clicks = Seq((1L, t(10)), (1L, t(25)), (2L, t(40)), (3L, t(5)),
      (4L, t(45)))
    val vMem = MemoryStream[(Long, Timestamp)]
    val cMem = MemoryStream[(Long, Timestamp)]
    val q = EventStreams.attributionJoin(
        vMem.toDF().toDF("user_id", "ts"),
        cMem.toDF().toDF("user_id", "ts"))
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      vMem.addData(views: _*)
      cMem.addData(clicks: _*)
      q.processAllAvailable()
      // advance BOTH watermarks past every buffered row so all
      // matches flush (stream-stream inner joins emit only once the
      // watermark proves no further match can arrive)
      vMem.addData((99L, t(600)))
      cMem.addData((99L, t(700)))
      q.processAllAvailable()
      val got = spark.table("attr_out").filter(col("user_id") =!= 99L)
      val want = views.toDF("user_id", "view_ts")
        .join(clicks.toDF("click_user", "click_ts"),
          col("user_id") === col("click_user") &&
            col("click_ts") >= col("view_ts") &&
            col("click_ts") <= col("view_ts") + expr("INTERVAL 1800 seconds"))
        .select(col("user_id"), col("view_ts"), col("click_ts"),
          (unix_millis(col("click_ts")) - unix_millis(col("view_ts")))
            .as("lag_ms"))
      assert(want.count() == 2) // fixture sanity: exactly the 2 matches
      assert(got.count() == want.count())
      assert(got.exceptAll(want).count() == 0)
      assert(want.exceptAll(got).count() == 0)
    } finally q.stop()
  }

  test("G19: streamed anomaly verdicts equal the batch test against frozen stats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val an = graft.operators.Analytics
    // frozen calibration: 24 steady hours of ~100/h for 'steady',
    // 24 quiet hours of ~10/h for 'spiky' (batch-computed stats —
    // the same frame anomalyStatsServed would read off the artifact)
    val calibHourly = ((0 until 24).map(h =>
      ("steady", h * 3600000L, 100L + (h % 3))) ++
      (0 until 24).map(h => ("spiky", h * 3600000L, 10L)))
      .toDF("event_type", "hour_ms", "n_events")
    val stats = an.anomalyStatsFrom(calibHourly)
    // new traffic: a normal steady hour, a normal spiky hour, and a
    // planted 50x spike — hour 30, plus a flush row far past the
    // watermark so every window closes
    def ev(h: Int, m: Int, t: String) =
      (new Timestamp(h * 3600000L + m * 60000L), t)
    // ...and a type the calibration never saw: must flag, not vanish
    val rows =
      (0 until 101).map(m => ev(30, m % 60, "steady")) ++
      (0 until 10).map(m => ev(30, m, "spiky")) ++
      (0 until 500).map(m => ev(31, m % 60, "spiky")) ++
      (0 until 3).map(m => ev(30, m, "novel")) :+ ev(99, 0, "steady")
    val mem = MemoryStream[(Timestamp, String)]
    val q = EventStreams.anomalyGate(stats,
        mem.toDF().toDF("ts", "event_type"))
      .writeStream.outputMode("append")
      .format("memory").queryName("anom_out").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      mem.addData(ev(200, 0, "steady")) // advance watermark past flush
      q.processAllAvailable()
      val got = spark.table("anom_out")
        .filter(col("hour_ms") < 99L * 3600000L)
      val batchHourly = rows.toDF("ts", "event_type")
        .withColumn("ms", unix_millis(col("ts")))
        .filter(col("ms") < 99L * 3600000L)
        .groupBy(col("event_type"),
          (col("ms") - pmod(col("ms"), lit(3600000L))).as("hour_ms"))
        .agg(count(lit(1)).as("n_events"))
      val want = an.anomalyFlagsAgainst(batchHourly, stats,
        flagUnseen = true)
      assert(got.count() == want.count())
      assert(got.exceptAll(want).count() == 0)
      assert(want.exceptAll(got).count() == 0)
      // the planted 50x spiky hour must flag; the normal hours must not
      assert(got.filter(col("event_type") === "spiky" &&
        col("hour_ms") === 31L * 3600000L).head().getBoolean(3))
      assert(!got.filter(col("event_type") === "steady" &&
        col("hour_ms") === 30L * 3600000L).head().getBoolean(3))
      // the never-calibrated type must surface as anomalous, not be
      // silently dropped by the stats join
      assert(got.filter(col("event_type") === "novel")
        .head().getBoolean(3))
    } finally q.stop()
  }

  test("G5: streaming trending chains two stateful aggregations") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val q = EventStreams.trending(
        mem.toDF().toDF("ts", "event_type"), k = 2)
      .writeStream.outputMode("append")
      .format("memory").queryName("trend_out").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click"),
        (Timestamp.valueOf("2024-01-01 10:10:00"), "click"),
        (Timestamp.valueOf("2024-01-01 10:20:00"), "view"),
        (Timestamp.valueOf("2024-01-01 10:25:00"), "view"),
        (Timestamp.valueOf("2024-01-01 10:30:00"), "click"),
        (Timestamp.valueOf("2024-01-01 10:40:00"), "scroll"))
      q.processAllAvailable()
      // push the watermark past 11:00 + 2h so the 10:00 window closes
      // through BOTH stateful stages (emission propagates across
      // batches — nudge until the sink fills)
      var tries = 0
      while (spark.table("trend_out").isEmpty && tries < 5) {
        mem.addData((Timestamp.valueOf("2024-01-01 14:00:00"), "late"))
        q.processAllAvailable()
        tries += 1
      }
      val rows = spark.table("trend_out")
        .select(col("window_start").cast("string"), col("rank"),
          col("event_type"), col("n_events"))
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
        .toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00", 1, "click", 3L),
        ("2024-01-01 10:00:00", 2, "view", 2L)))
    } finally q.stop()
  }

  test("G3: stateful sessionization emits closed sessions on gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(mem.toDS(), gapMs = 10 * 60 * 1000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      // user 1: two events 5 min apart (one session), then a 30-min
      // gap event → first session closes on arrival of the third.
      mem.addData(
        EventStreams.Event(1L, ts(0), 1.0),
        EventStreams.Event(1L, ts(5), 2.0))
      q.processAllAvailable()
      mem.addData(EventStreams.Event(1L, ts(35), 4.0))
      q.processAllAvailable()
      val sessions = spark.table("sess_out").as[EventStreams.Session]
        .collect().toSet
      assert(sessions.contains(
        EventStreams.Session(1L, ts(0).getTime, 2L, 3.0)))
    } finally q.stop()
  }

  test("G4: streaming dedup keeps first occurrence per fingerprint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val q = graft.streaming.StreamingDedup
      .dedupStream(mem.toDF().toDF("ts", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData(
        (ts(0), "hello world"),
        (ts(1), "Hello   World"), // same normalized fingerprint
        (ts(2), "different doc"))
      q.processAllAvailable()
      mem.addData((ts(3), "hello world")) // duplicate across batches
      q.processAllAvailable()
      val texts = spark.table("dedup_out").select("text")
        .collect().map(_.getString(0)).toSet
      assert(texts == Set("hello world", "different doc"))
    } finally q.stop()
  }

  test("G9: streaming incremental novelty is exact against the old corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val old = (0 until 2000).map(i => s"old doc number $i").toDF("text")
    val mem = MemoryStream[(Timestamp, Long, String)]
    // fpp deliberately terrible so Bloom false positives definitely
    // occur and the stream-static anti-join must clean them up
    val serving = graft.streaming.StreamingDedup
      .incrementalNoveltyStreamManaged(
        old, mem.toDF().toDF("ts", "doc_id", "text"), fpp = 0.5)
    val q = serving.results.writeStream.outputMode("append")
      .format("memory").queryName("novelty_out").start()
    try {
      mem.addData(
        (ts(0), 1L, "genuinely fresh material one"),
        (ts(0), 2L, "old doc number 7"),       // retread: must drop
        (ts(1), 3L, "genuinely fresh material two"))
      q.processAllAvailable()
      mem.addData(
        (ts(2), 4L, "old doc number 1999"),    // retread, later batch
        (ts(3), 5L, "still novel content here"))
      q.processAllAvailable()
      val got = spark.table("novelty_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 3L, 5L))
    } finally { q.stop(); serving.close() }
  }

  test("G12: stream-appended IVF index equals one-pass assignment, " +
      "replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ann = graft.operators.Ann
    val db = graft.catalog.GraftDatabase(spark, scratch("ivf_stream") + "/db")
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    ann.buildIvfIndex(db, e.filter(col("vec_id") % 3 === 0), "ivf")
    val incr = (m: Int) => e.filter(col("vec_id") % 3 === m)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamingAnn
      .maintainIvfIndex(db, "ivf", mem.toDF().toDF("vec_id", "embedding"))
      .option("checkpointLocation", scratch("ivf_stream_ckpt"))
      .start()
    try {
      mem.addData(incr(1).toSeq: _*)
      q.processAllAvailable()
      mem.addData(incr(2).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // maintained index ≡ assigning the WHOLE corpus in one pass with
    // the frozen quantizer
    val cents = ann.loadCentroids(db, "ivf")
    val expected = e.withColumn("cell",
      ann.cellExpr(cents, col("embedding")))
    val got = db.read("ivf_cells")
    assert(got.count() == expected.count())
    assert(got.select("vec_id", "cell")
      .except(expected.select("vec_id", "cell")).count() == 0)
    // a replayed batch converges to one copy, not two
    ann.appendToIvfIndex(db, "ivf", incr(1).toSeq
      .toDF("vec_id", "embedding"), batchId = 0L)
    assert(db.read("ivf_cells").count() == expected.count())
    // the maintained index serves: k distinct neighbors per query
    val served = ann.ivfTopkFromIndex(db, "ivf",
      e.filter(col("vec_id") < 3), k = 5)
    assert(served.groupBy("query_id").count()
      .filter(col("count") =!= 5).count() == 0)
  }

  test("G13: streamed PQ and HNSW serving equal their batch answers, " +
      "replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val db = graft.catalog.GraftDatabase(spark, scratch("pq_serve") + "/db")
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    graft.operators.Pq.buildPqIndex(db, e, "pq")
    graft.operators.Hnsw.buildHnswIndex(db, e, "hnsw")
    val qvecs = e.filter(col("vec_id") < 4).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def run(tag: String,
        writer: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.streaming.DataStreamWriter[
            org.apache.spark.sql.Row])
        : org.apache.spark.sql.DataFrame = {
      val mem = MemoryStream[(Long, Array[Float])]
      val q = writer(mem.toDF().toDF("vec_id", "embedding"))
        .option("checkpointLocation", scratch(s"${tag}_ckpt")).start()
      try {
        mem.addData(qvecs.take(2).toSeq: _*)
        q.processAllAvailable()
        mem.addData(qvecs.drop(2).toSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
      db.read(s"${tag}_results")
    }
    val pqGot = run("pq",
      graft.streaming.StreamingAnn.servePqStream(db, "pq", _))
    val pqWant = graft.operators.Pq.adcTopKFromIndex(db, "pq",
      qvecs.toSeq.toDF("vec_id", "embedding"))
    assert(pqGot.drop("batch_id").except(pqWant).count() == 0)
    assert(pqGot.count() == pqWant.count())
    val hGot = run("hnsw",
      graft.streaming.StreamingAnn.serveHnswStream(db, "hnsw", _))
    val hWant = graft.operators.Hnsw.hnswTopkFromIndex(db, "hnsw",
      qvecs.toSeq.toDF("vec_id", "embedding"))
    assert(hGot.drop("batch_id").except(hWant).count() == 0)
    assert(hGot.count() == hWant.count())
    // D7b: the routed index serves streams identically to its batch
    graft.operators.Hnsw.buildHnswIndexRouted(db, e, "hnswr")
    val hrGot = run("hnswr",
      graft.streaming.StreamingAnn.serveHnswRoutedStream(db, "hnswr", _))
    val hrWant = graft.operators.Hnsw.hnswTopkFromIndexRouted(db, "hnswr",
      qvecs.toSeq.toDF("vec_id", "embedding"))
    assert(hrGot.drop("batch_id").except(hrWant).count() == 0)
    assert(hrGot.count() == hrWant.count())
    // a replayed batch converges to one copy of its results
    graft.streaming.IngestPublish.publishFiles(db, "pq_results",
      graft.operators.Pq.adcTopKFromIndex(db, "pq",
        qvecs.take(2).toSeq.toDF("vec_id", "embedding"))
        .withColumn("batch_id", lit(0L)), 0L)
    assert(db.read("pq_results").count() == pqWant.count())
  }

  test("publishFiles counts the staged rows from their footers: the write is its only job") {
    val db = graft.catalog.GraftDatabase(spark, scratch("publish_jobs") + "/db")
    // three write tasks, so three staged files to count
    val batch = spark.range(0, 250, 1, 3).selectExpr("id", "concat('r', id) AS v")
    for (attempt <- Seq("first", "replay")) {
      val (n, jobs) = jobsLaunchedBy(
        graft.streaming.IngestPublish.publishFiles(db, "pub", batch, 0L))
      assert(n == 250L, attempt)
      assert(jobs == 1, s"$attempt: the publish launched $jobs jobs")
    }
    assert(db.read("pub").count() == 250L)
  }

  test("a published batch leaves no _staging_ entry in the db directory") {
    val dir = scratch("publish_no_staging")
    val csvDir = s"$dir/incoming"
    Files.createDirectories(Paths.get(csvDir))
    Files.write(Paths.get(s"$csvDir/part1.csv"), "name,age\nCleo,5".getBytes)
    val db = GraftDatabase(spark, s"$dir/db")
    val q = StreamingCsvIngest.start(db, csvDir, "dogs", "task-staging")
    try q.processAllAvailable() finally q.stop()
    graft.streaming.IngestPublish.publishFiles(db, "pub", spark.range(5).toDF(), 0L)
    assert(db.read("dogs").count() == 1L && db.read("pub").count() == 5L)
    val left = new java.io.File(db.path).list().filter(_.startsWith("_staging_"))
    assert(left.isEmpty, left.mkString(", "))
  }

  test("G11: streamed LM scores equal the batch served scores") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lm = graft.operators.LanguageModel
    val db = graft.catalog.GraftDatabase(spark,
      scratch("lm_stream") + "/db")
    val docs = Tables(spark, sf, "documents")
    lm.buildLmModel(db, docs.filter(col("doc_id") % 5 =!= 0), "lm")
    val held = docs.filter(col("doc_id") % 5 === 0)
      .select("doc_id", "text").collect()
      .map(r => (ts(0), r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = graft.streaming.StreamingCuration
      .scorePerplexity(db, "lm", mem.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("lm_stream_out").start()
    try {
      mem.addData(held.toSeq: _*)
      q.processAllAvailable()
      // advance the watermark past ts(0) so the append-mode fold
      // emits the scored rows; the flush doc itself stays pending
      mem.addData((ts(300), -1L, "flush flush"))
      q.processAllAvailable()
      val got = spark.table("lm_stream_out")
        .filter(col("doc_id") >= 0)
        .select("doc_id", "n_bigrams", "oov_bigrams", "bits_per_bigram")
      val want = lm.perplexityFromModel(db, "lm",
        docs.filter(col("doc_id") % 5 === 0))
      assert(got.count() == want.count())
      assert(got.except(want).count() == 0)
    } finally q.stop()
  }

  test("G14: streamed DSIR weights equal the batch served weights") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lm = graft.operators.LanguageModel
    val db = graft.catalog.GraftDatabase(spark,
      scratch("dsir_stream") + "/db")
    val docs = Tables(spark, sf, "documents")
    lm.buildDsirModel(db, docs
      .select(col("doc_id"), col("source"), col("text")), "dsir")
    val batch = docs.filter(col("doc_id") % 7 === 0)
    val rows = batch.select("doc_id", "text").collect()
      .map(r => (ts(0), r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = graft.streaming.StreamingCuration
      .scoreDsir(db, "dsir", mem.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dsir_stream_out").start()
    try {
      mem.addData(rows.toSeq: _*)
      q.processAllAvailable()
      mem.addData((ts(300), -1L, "flush flush"))
      q.processAllAvailable()
      val got = spark.table("dsir_stream_out")
        .filter(col("doc_id") >= 0)
        .select("doc_id", "n_feats", "weight_mb", "avg_mb_per_feat",
          "keep_doc")
      val want = lm.dsirFromModel(db, "dsir", batch)
      assert(got.count() == want.count())
      assert(got.except(want).count() == 0)
    } finally q.stop()
  }

  test("G16: streamed Moore-Lewis verdicts equal batch served, stateless") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lm = graft.operators.LanguageModel
    val db = GraftDatabase(spark, scratch("ml_stream") + "/db")
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    lm.buildMlModel(db, docs, "ml")
    val batch = docs.filter(col("doc_id") % 7 === 0)
    val rows = batch.select("doc_id", "text").collect()
      .map(r => (ts(0), r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = graft.streaming.StreamingCuration
      .scoreMooreLewis(db, "ml", mem.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("ml_stream_out").start()
    try {
      mem.addData(rows.toSeq: _*)
      // stateless gate: verdicts land in the SAME micro-batch — no
      // watermark flush row, unlike the G11/G14 stateful folds
      q.processAllAvailable()
      val got = spark.table("ml_stream_out")
        .select("doc_id", "bits_target", "bits_background",
          "ml_score", "keep_doc")
      val want = lm.mooreLewisFromModel(db, "ml",
        batch.select(col("doc_id"), col("text")))
      assert(got.count() == want.count())
      assert(got.except(want).count() == 0)
      assert(want.except(got).count() == 0)
    } finally q.stop()
  }

  test("G18: streamed quality gate equals the batch percentile keep set, ties included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cur = graft.operators.Curation
    val db = GraftDatabase(spark, scratch("qgate_stream") + "/db")
    // Calibration corpus: the real documents table PLUS a planted
    // tie block — per source, several docs with IDENTICAL text (so
    // identical q) straddling the 20% boundary. The boundary
    // threshold must split the tie by doc_id exactly as the batch
    // rank does; a quality-only threshold would keep all or none.
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val tied = (0 until 40).map(i =>
      (100000L + i, "tiesrc", "steady tied words repeated enough to score"))
      .toDF("doc_id", "source", "text")
    val cal = docs.unionByName(tied)
    cur.buildQualityGate(db, "qg", cal, keepPct = 20)
    val want = cur.qualityPercentileGateOf(cal, 20)
      .select("doc_id", "source", "n").persist()
    // the tie block must actually straddle the boundary for this
    // test to exercise tie-splitting (8 of 40 identical-q docs kept)
    assert(want.filter(col("source") === "tiesrc").count() == 8)

    // batch serve ≡ batch rank on the calibration corpus
    val servedBatch = cur.qualityGateFromModel(db, "qg", cal)
      .select(col("doc_id"), col("source"), col("n_docs").as("n"))
    assert(servedBatch.count() == want.count())
    assert(servedBatch.except(want).count() == 0)
    assert(want.except(servedBatch).count() == 0)

    // streamed serve ≡ batch keep set; stateless (same micro-batch,
    // no watermark flush row); an unseen source is dropped
    val rows = cal.select("doc_id", "source", "text").collect()
      .map(r => (ts(0), r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq :+ ((ts(0), 999999L, "unseen_source", "never calibrated"))
    val mem = MemoryStream[(Timestamp, Long, String, String)]
    val q = graft.streaming.StreamingCuration
      .gateQuality(db, "qg", mem.toDF().toDF("ts", "doc_id", "source", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("qgate_stream_out").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("qgate_stream_out")
        .select(col("doc_id"), col("source"), col("n_docs").as("n"))
      assert(got.filter(col("source") === "unseen_source").count() == 0)
      assert(got.count() == want.count())
      assert(got.except(want).count() == 0)
      assert(want.except(got).count() == 0)
    } finally { q.stop(); want.unpersist() }
  }

  test("G22: maintained gate serves a mid-stream recalibration on the next batch; replay converges") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cur = graft.operators.Curation
    val db = GraftDatabase(spark, scratch("qgate_maint") + "/db")
    // 10 docs of stepwise quality (longer = higher q); top-20% keeps
    // 2 — which 2 depends entirely on corpus content (the
    // CorpusPrepSpec swap fixture)
    def texts = (1 to 10).map(i =>
      ("alpha " * (5 * i)).trim + " and the of to is in it.")
    val alpha = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, "srcA", t) }
      .toDF("doc_id", "source", "text")
    val beta = texts.reverse.zipWithIndex
      .map { case (t, i) => (i.toLong, "srcA", t) }
      .toDF("doc_id", "source", "text")
    cur.buildQualityGate(db, "qg", alpha, keepPct = 20)
    def keepSet(d: org.apache.spark.sql.DataFrame) =
      cur.qualityPercentileGateOf(d, 20)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val (wantA, wantB) = (keepSet(alpha), keepSet(beta))
    assert(wantA != wantB, "fixture must make recalibration observable")
    def streamRows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (ts(0), r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq
    val (rowsA, rowsB) = (streamRows(alpha), streamRows(beta))
    val mem = MemoryStream[(Timestamp, Long, String, String)]
    val q = graft.streaming.StreamingCuration
      .gateQualityMaintained(db, "qg",
        mem.toDF().toDF("ts", "doc_id", "source", "text"))
      .option("checkpointLocation", scratch("qgate_maint_ckpt"))
      .start()
    try {
      mem.addData(rowsA: _*)
      q.processAllAvailable()
      // drift: the corpus swaps (same texts, reassigned ids) and a
      // periodic batch job recalibrates — the stream stays up; the
      // swap publish never exposes a half-model
      cur.recalibrateQualityGate(db, "qg", beta, keepPct = 20)
      mem.addData(rowsB: _*)
      q.processAllAvailable()
    } finally q.stop()
    // fresh read per assertion: the replay below renames NEW files
    // under the b1 prefix, so a frame captured before it would plan
    // the deleted file set
    def keptIn(b: Long) = db.read("qg_gated")
      .filter(col("batch_id") === b)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIn(0L) == wantA, "pre-recalibration batch serves the old gate")
    assert(keptIn(1L) == wantB, "next batch after recalibration serves the new gate")
    // foreachBatch replay converges: re-publishing batch 1 verbatim
    // (write-succeeded-commit-lost) changes nothing
    val total = db.read("qg_gated").count()
    graft.streaming.IngestPublish.publishFiles(db, "qg_gated",
      cur.qualityGateFromModel(db, "qg",
          rowsB.toDF("ts", "doc_id", "source", "text"),
          passthrough = Seq("ts"))
        .withColumn("batch_id", lit(1L)),
      1L)
    assert(db.read("qg_gated").count() == total)
    assert(keptIn(1L) == wantB)
  }

  test("gopher battery is stream-applicable: per-batch rows equal batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // E20 is a pure projection (integer cross-multiplied gates, no
    // shuffle), so it must run on a stream UNCHANGED — no watermark,
    // no state, emitted in the arriving micro-batch
    val rows = Seq(
      (1L, "the and " + Seq.fill(58)("word").mkString(" ")),
      (2L, "too short"),
      (3L, Seq.fill(60)("blue").mkString(" ")))
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.Curation.gopherRulesOf(
        mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("gopher_stream_out").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("gopher_stream_out")
      val want = graft.operators.Curation.gopherRulesOf(
        rows.toDF("doc_id", "text"))
      assert(got.count() == want.count())
      assert(got.except(want).count() == 0)
    } finally q.stop()
  }

  test("G15: streamed winnow screening equals the batch screen") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val db = graft.catalog.GraftDatabase(spark,
      scratch("winnow_stream") + "/db")
    val run = (1 to 7).map(i => s"wq$i").mkString(" ")
    val corpus = ((1L to 10L).map(i =>
      (i, (1 to 30).map(j => s"c${i}y$j").mkString(" "))) :+
      (5L * 100, s"$run ${(1 to 30).map(j => s"cy$j").mkString(" ")}"))
      .toDF("doc_id", "text")
    graft.operators.Dedup.buildWinnowIndex(db, corpus, "wn")
    val batch = Seq(
      (300L, s"${(1 to 30).map(j => s"ny$j").mkString(" ")} $run"),
      (301L, (1 to 37).map(j => s"nz$j").mkString(" ")))
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = graft.streaming.StreamingDedup
      .winnowScreenStream(db, "wn",
        mem.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("winnow_screen_out").start()
    try {
      mem.addData(batch.map { case (id, t) => (ts(0), id, t) }: _*)
      q.processAllAvailable()
      mem.addData((ts(300), -1L, "flush flush flush flush flush flush flush flush"))
      q.processAllAvailable()
      val got = spark.table("winnow_screen_out")
        .filter(col("new_doc_id") >= 0)
        .select("new_doc_id", "index_doc_id", "n_shared")
      val want = graft.operators.Dedup.winnowNewPairs(db, "wn",
        batch.toDF("doc_id", "text"))
        .select(col("new_doc_id"), col("index_doc_id"), col("n_shared"))
      assert(got.count() == want.count())
      assert(got.except(want).count() == 0)
    } finally q.stop()
  }

  test("G23: streamed split assignment equals the batch serve") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = scratch("split_stream")
    def toks(p: String) = (1 to 30).map(j => s"$p$j").mkString(" ")
    Seq((21L, toks("v"), "srcA"), (41L, toks("t"), "srcA"),
        (43L, toks("s"), "srcA"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val db = graft.catalog.GraftDatabase(spark, s"$dir/db")
    graft.operators.Pipeline.buildSplitArtifact(db, "spl", dir)
    def run(p: String, lo: Int, hi: Int) =
      (lo to hi).map(j => s"$p$j").mkString(" ")
    val batch = Seq(
      500L -> s"${run("v", 5, 11)} ${toks("n5")}",
      501L -> s"${run("t", 5, 11)} ${toks("n6")} ${run("s", 5, 11)}",
      502L -> toks("n7"),
      503L -> "tiny doc here")
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = graft.streaming.StreamingDedup
      .splitAssignStream(db, "spl", mem.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("split_assign_out").start()
    try {
      mem.addData(batch.map { case (id, t) => (ts(0), id, t) }: _*)
      q.processAllAvailable()
      mem.addData((ts(300), -1L, "flush flush flush flush flush flush flush"))
      q.processAllAvailable()
      val got = spark.table("split_assign_out")
        .filter(col("doc_id") >= 0)
        .select("doc_id", "split")
      val want = graft.operators.Pipeline.splitAssignServed(db, "spl",
        batch.toDF("doc_id", "text"))
      assert(got.count() == want.count())
      assert(got.except(want).count() == 0)
      assert(want.except(got).count() == 0)
    } finally q.stop()
  }

  test("F7 streamed pHash screening equals the batch screen") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val db = graft.catalog.GraftDatabase(spark,
      scratch("phash_stream") + "/db")
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the hills before dusk arrives"
    graft.operators.Multimodal.buildPhashIndex(db,
      Seq((1L, base),
        (5L, "completely unrelated content sharing nothing at all " +
          "0123456789 zzzz yyyy xxxx wwww vvvv uuuu tttt ssss"))
        .toDF("doc_id", "text"), "phs")
    val batch = Seq((301L, base.updated(40, 'Z')),
      (302L, "fresh material with no perceptual overlap qqq rrr sss " +
        "ttt uuu vvv www then some more filler words here"))
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = graft.streaming.StreamingDedup
      .phashScreenStream(db, "phs",
        mem.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("phash_screen_out").start()
    try {
      mem.addData(batch.map { case (id, t) => (ts(0), id, t) }: _*)
      q.processAllAvailable()
      mem.addData((ts(300), -1L, "flush flush flush flush"))
      q.processAllAvailable()
      val got = spark.table("phash_screen_out")
        .filter(col("new_doc_id") >= 0)
        .select("new_doc_id", "index_doc_id", "hamming")
      val want = graft.operators.Multimodal.phashNewPairs(db, "phs",
        batch.toDF("doc_id", "text"))
        .select(col("new_doc_id"), col("index_doc_id"), col("hamming"))
      assert(want.count() > 0, "fixture must plant a near-dup")
      assert(got.count() == want.count())
      assert(got.except(want).count() == 0)
    } finally q.stop()
  }

  test("G6: streaming curation gates quality+lang, dedups, redacts PII") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = ("the and of to is in it a " * 7).trim + " mail a.b@x.io"
    val german = ("der die und das ist ein zu " * 8).trim
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = graft.streaming.StreamingCuration
      .curate(mem.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("curate_out").start()
    try {
      mem.addData(
        (ts(0), 1L, good),
        (ts(1), 2L, "x y z"), // too short → quality gate
        (ts(2), 3L, german), // language gate
        (ts(3), 4L, good)) // duplicate fingerprint
      q.processAllAvailable()
      val rows = spark.table("curate_out")
        .select("doc_id", "pred_lang", "clean_text").collect()
      assert(rows.map(_.getLong(0)).toSet == Set(1L))
      assert(rows.head.getString(1) == "en")
      assert(rows.head.getString(2).endsWith("mail [EMAIL]"),
        rows.head.getString(2))
    } finally q.stop()
  }

  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.streaming.TwsStreams.RocksDbProvider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("G3-tws: transformWithState sessionization matches fMGWS semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[EventStreams.Event]
      val q = graft.streaming.TwsStreams
        .sessionize(mem.toDS(), gapMs = 10 * 60 * 1000L)
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_sess_out").start()
      try {
        mem.addData(
          EventStreams.Event(1L, ts(0), 1.0),
          EventStreams.Event(1L, ts(5), 2.0))
        q.processAllAvailable()
        mem.addData(EventStreams.Event(1L, ts(35), 4.0))
        q.processAllAvailable()
        val sessions = spark.table("tws_sess_out").as[EventStreams.Session]
          .collect().toSet
        assert(sessions.contains(
          EventStreams.Session(1L, ts(0).getTime, 2L, 3.0)))
      } finally q.stop()
    }
  }

  test("G4-tws: transformWithState dedup keeps first per fingerprint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[(Timestamp, String)]
      val q = graft.streaming.TwsStreams
        .dedupStream(mem.toDF().toDF("ts", "text"))
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_dedup_out").start()
      try {
        mem.addData(
          (ts(0), "hello world"),
          (ts(1), "Hello   World"), // same normalized fingerprint
          (ts(2), "different doc"))
        q.processAllAvailable()
        mem.addData((ts(3), "hello world")) // duplicate across batches
        q.processAllAvailable()
        val texts = spark.table("tws_dedup_out").select("text")
          .collect().map(_.getString(0)).toSet
        assert(texts == Set("hello world", "different doc"))
      } finally q.stop()
    }
  }

  test("compaction merges small files and preserves content") {
    val dir = scratch("compact")
    val db = GraftDatabase(spark, s"$dir/db")
    import spark.implicits._
    // 40 tiny appends → many small files
    (1 to 8).foreach { i =>
      Seq.fill(5)(i).toDF("v").repartition(5)
        .write.mode("append").parquet(db.tablePath("t"))
    }
    val before = new java.io.File(s"$dir/db/t")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val sumBefore = db.read("t").agg(sum(col("v"))).head().getLong(0)
    db.compact("t")
    val after = new java.io.File(s"$dir/db/t")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(after < before && after >= 1, s"$before -> $after")
    assert(db.read("t").agg(sum(col("v"))).head().getLong(0) == sumBefore)
    assert(db.listTables() == Seq("t")) // no _compact_/_old_ leftovers
  }

  test("compaction recovers a table stranded by a crashed swap") {
    val dir = scratch("compact_recover")
    val db = GraftDatabase(spark, s"$dir/db")
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("v").write.parquet(db.tablePath("t"))
    // simulate a crash between compact()'s two renames: data moved to
    // _old_t, the replacement never moved in
    assert(new java.io.File(db.tablePath("t"))
      .renameTo(new java.io.File(db.tablePath("_old_t"))))
    db.compact("t")
    assert(db.read("t").agg(sum(col("v"))).head().getLong(0) == 6L)
    assert(db.listTables() == Seq("t"))
  }

  test("G2: replayed batches publish idempotently, no duplicate rows") {
    val dir = scratch("stream_replay")
    val csvDir = s"$dir/incoming"
    Files.createDirectories(Paths.get(csvDir))
    Files.write(Paths.get(s"$csvDir/part1.csv"),
      "name,age\nCleo,5\nPancakes,4".getBytes)
    val db = GraftDatabase(spark, s"$dir/db")
    val q1 = StreamingCsvIngest.start(db, csvDir, "dogs", "task-r1")
    try q1.processAllAvailable() finally q1.stop()
    assert(db.read("dogs").count() == 2)
    // simulate write-succeeded-commit-lost: wipe the checkpoint so the
    // restarted query replays batch 0 against a table that already
    // holds its rows — the publish must converge, not append twice
    val ckpt = new org.apache.hadoop.fs.Path(db.tablePath("_checkpoint_dogs"))
    ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(ckpt, true)
    val q2 = StreamingCsvIngest.start(db, csvDir, "dogs", "task-r1")
    try q2.processAllAvailable() finally q2.stop()
    assert(db.read("dogs").count() == 2, "replayed batch duplicated rows")
    val rows = db.progress.current().filter(col("id") === "task-r1")
      .select("rows_done").collect().map(_.getLong(0))
    assert(rows.head == 2L, s"replay double-counted progress: ${rows.head}")
  }

  test("G2: streaming CSV ingest appends per batch and tracks progress") {
    val dir = scratch("stream_ingest")
    val csvDir = s"$dir/incoming"
    Files.createDirectories(Paths.get(csvDir))
    Files.write(Paths.get(s"$csvDir/part1.csv"),
      "name,age\nCleo,5\nPancakes,4".getBytes)
    val db = GraftDatabase(spark, s"$dir/db")

    val q1 = StreamingCsvIngest.start(db, csvDir, "dogs", "task-s1")
    try q1.processAllAvailable() finally q1.stop()
    assert(db.read("dogs").count() == 2)

    // second file arrives → restart (AvailableNow) picks up only the
    // new file via the checkpoint, appends, bumps progress
    Files.write(Paths.get(s"$csvDir/part2.csv"),
      "name,age\nRex,3".getBytes)
    val q2 = StreamingCsvIngest.start(db, csvDir, "dogs", "task-s1")
    try q2.processAllAvailable() finally q2.stop()

    val dogs = db.read("dogs")
    assert(dogs.count() == 3)
    assert(dogs.schema("age").dataType.simpleString == "bigint")
    val prog = db.progress.current().filter(col("id") === "task-s1")
      .select("rows_done").collect().map(_.getLong(0))
    assert(prog.head >= 1L) // cumulative within the last run
  }

  test("G2: streaming fixed-width ingest appends per batch, typed (A17)") {
    val dir = scratch("stream_fw")
    val fwDir = s"$dir/incoming"
    Files.createDirectories(Paths.get(fwDir))
    // id(4) name(8) amt(6)
    Files.write(Paths.get(s"$fwDir/part1.dat"),
      "   1Cleo         5\n  22Pancakes  1250\n".getBytes)
    val db = GraftDatabase(spark, s"$dir/db")
    val spec = Seq(("id", 4), ("name", 8), ("amt", 6))
    val q1 = graft.streaming.StreamingFixedWidthIngest.start(
      db, fwDir, "ledger", "task-fw1", spec)
    try q1.processAllAvailable() finally q1.stop()
    assert(db.read("ledger").count() == 2)
    assert(db.read("ledger").schema("amt").dataType.simpleString
      == "bigint")
    // second file arrives → restart appends only the new rows
    Files.write(Paths.get(s"$fwDir/part2.dat"),
      " 333Rex         -7\n".getBytes)
    val q2 = graft.streaming.StreamingFixedWidthIngest.start(
      db, fwDir, "ledger", "task-fw1", spec)
    try q2.processAllAvailable() finally q2.stop()
    val rows = db.read("ledger").orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, "Cleo", 5L), (22L, "Pancakes", 1250L),
      (333L, "Rex", -7L)))
    // streamed result ≡ the batch uploader's parse of the same files
    val db2 = GraftDatabase(spark, s"$dir/db2")
    graft.sources.FixedWidthUploader.upload(db2, fwDir, spec, Some("b"))
    assert(db.read("ledger").except(db2.read("b")).count() == 0)
    assert(db2.read("b").except(db.read("ledger")).count() == 0)
    // … and for a cp1252 file: both parses hold € and the smart quotes,
    // not the latin-1 C1 controls their bytes are under ISO-8859-1
    val cpDir = s"$dir/incoming_cp1252"
    Files.createDirectories(Paths.get(cpDir))
    val cpRows = Seq((1L, "€ “q” ™", 5L), (22L, "“smart”", 1250L))
    val cpBytes = cpRows.map { case (id, name, amt) =>
      f"$id%4d${name.padTo(8, ' ')}$amt%6d\n" }.mkString
      .getBytes(java.nio.charset.Charset.forName("windows-1252"))
    assert(graft.sources.EncodingDetector.detectBytes(cpBytes) ==
      graft.sources.EncodingDetector.Cp1252)
    Files.write(Paths.get(s"$cpDir/part1.dat"), cpBytes)
    val q3 = graft.streaming.StreamingFixedWidthIngest.start(
      db, cpDir, "ledger_cp", "task-fw2", spec)
    try q3.processAllAvailable() finally q3.stop()
    val rb = graft.sources.FixedWidthUploader.upload(db2, cpDir, spec,
      Some("b_cp"))
    assert(rb.error.isEmpty && rb.encoding == "windows-1252", rb)
    val batchRows = db2.read("b_cp").orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(batchRows.toSeq == cpRows)
    assert(db.read("ledger_cp").except(db2.read("b_cp")).count() == 0)
    assert(db2.read("b_cp").except(db.read("ledger_cp")).count() == 0)
  }

  test("G2: streaming CSV ingest sniffs the delimiter like the batch upload (A16)") {
    val dir = scratch("stream_tsv")
    val tsvDir = s"$dir/incoming"
    Files.createDirectories(Paths.get(tsvDir))
    Files.write(Paths.get(s"$tsvDir/part1.tsv"),
      "name\tage\tnote\nCleo\t5\ta, b\nPancakes\t4\tc\n".getBytes)
    Files.write(Paths.get(s"$tsvDir/part2.tsv"),
      "name\tage\tnote\nRex\t3\t\n".getBytes)
    val db = GraftDatabase(spark, s"$dir/db")
    val q = StreamingCsvIngest.start(db, tsvDir, "dogs", "task-tsv")
    try q.processAllAvailable() finally q.stop()
    val res = graft.sources.CsvUploader.upload(db, tsvDir, Some("dogs_batch"))
    assert(res.error.isEmpty, res.error)
    val streamed = db.read("dogs")
    val batch = db.read("dogs_batch")
    assert(streamed.schema.map(f => f.name -> f.dataType) ==
      batch.schema.map(f => f.name -> f.dataType))
    assert(streamed.columns.toSeq == Seq("name", "age", "note"))
    assert(streamed.schema("age").dataType.simpleString == "bigint")
    assert(streamed.count() == 3)
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("G2: streaming fixed-width ingest decodes a cp037 EBCDIC stream") {
    val dir = scratch("stream_fw_ebcdic")
    val fwDir = s"$dir/incoming"
    Files.createDirectories(Paths.get(fwDir))
    // id(4) tag(8) qty(3), cp037 bytes with NL-0x15 terminators —
    // the codepage the legacy-charset conf must stay set for across
    // micro-batches (the batch path's scoped wrapper can't cover a
    // running query)
    Files.write(Paths.get(s"$fwDir/mf1.dat"),
      "   7alpha    42\n  88beta    100\n".getBytes(
        java.nio.charset.Charset.forName("IBM037")))
    val db = GraftDatabase(spark, s"$dir/db")
    val q = graft.streaming.StreamingFixedWidthIngest.start(
      db, fwDir, "mf", "task-fwe1", Seq(("id", 4), ("tag", 8), ("qty", 3)))
    try q.processAllAvailable() finally q.stop()
    val rows = db.read("mf").orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq((7L, "alpha", 42L), (88L, "beta", 100L)))
  }

  test("G8: streaming ANN serving equals the batch IVF answer per query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val qvecs = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Timestamp, Long, Seq[Float])]
    // managed form: the static index cache is released on close()
    val serving = graft.streaming.StreamingAnn.serveIvfManaged(spark, sf,
      mem.toDF().toDF("ts", "query_id", "qe"))
    val q = serving.results.writeStream.outputMode("append")
      .format("memory").queryName("ann_serve_out").start()
    try {
      mem.addData(qvecs.toSeq.map { case (id, v) =>
        (Timestamp.valueOf("2024-01-01 10:02:00"), id, v) }: _*)
      q.processAllAvailable()
      // advance the watermark past the 10:00 window so it closes
      var tries = 0
      while (spark.table("ann_serve_out").isEmpty && tries < 5) {
        mem.addData((Timestamp.valueOf("2024-01-01 14:00:00"),
          999L, qvecs.head._2))
        q.processAllAvailable()
        tries += 1
      }
      val got = spark.table("ann_serve_out")
        .select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      // deterministic centroid training + identical probes and
      // tie-breaks: the streamed answer must EQUAL the batch one
      val want = graft.operators.Ann.ivfTopk(spark, sf)
        .select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      assert(got == want, s"stream ${got.size} vs batch ${want.size}")
    } finally { q.stop(); serving.close() }
  }

  test("G2-jsonl: streaming JSONL ingest appends per batch via the " +
      "shared exactly-once publish") {
    val dir = scratch("stream_jsonl")
    val inDir = s"$dir/incoming"
    Files.createDirectories(Paths.get(inDir))
    Files.write(Paths.get(s"$inDir/part1.jsonl"),
      "{\"id\": 1, \"t\": \"a\"}\n{\"id\": 2, \"t\": \"b\"}\n".getBytes)
    val db = GraftDatabase(spark, s"$dir/db")

    val q1 = graft.streaming.StreamingJsonlIngest.start(
      db, inDir, "docs", "task-j1")
    try q1.processAllAvailable() finally q1.stop()
    assert(db.read("docs").count() == 2)

    // new file → restart (AvailableNow) picks up only the new file
    // via the checkpoint, appends, bumps progress
    Files.write(Paths.get(s"$inDir/part2.jsonl"),
      "{\"id\": 3, \"t\": \"c\"}\n".getBytes)
    val q2 = graft.streaming.StreamingJsonlIngest.start(
      db, inDir, "docs", "task-j1")
    try q2.processAllAvailable() finally q2.stop()

    val docs = db.read("docs")
    assert(docs.count() == 3)
    assert(docs.schema("id").dataType.simpleString == "bigint")
    val prog = db.progress.current().filter(col("id") === "task-j1")
      .select("rows_done").collect().map(_.getLong(0))
    assert(prog.head >= 1L)
  }

  test("G7: the binned range join runs stream-static, incrementally, " +
      "unchanged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val pts = mem.toDF().toDF("p", "tag")
    val iv = Seq((100L, 150L, "w1"), (300L, 350L, "w2"))
      .toDF("lo", "hi", "win")
    // the SAME batch operator: binning is a stateless map on the
    // stream side and the interval side is static, so the equi-join
    // needs no watermark and emits per micro-batch
    val q = graft.operators.RangeJoin.rangeJoin(pts, "p", iv,
        "lo", "hi", binWidth = 100L)
      .select(col("p"), col("tag"), col("win"))
      .writeStream.outputMode("append")
      .format("memory").queryName("rj_out").start()
    try {
      mem.addData((120L, "a"), (200L, "b"), (340L, "c"), (149L, "d"))
      q.processAllAvailable()
      def rows() = spark.table("rj_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(rows() == Set((120L, "a", "w1"), (149L, "d", "w1"),
        (340L, "c", "w2")), s"got ${rows()}")
      // a later micro-batch joins incrementally, no recomputation of
      // the earlier matches
      mem.addData((310L, "e"), (99L, "f"))
      q.processAllAvailable()
      assert(rows() == Set((120L, "a", "w1"), (149L, "d", "w1"),
        (340L, "c", "w2"), (310L, "e", "w2")), s"got ${rows()}")
    } finally q.stop()
  }

  test("G10: streamed index appends serve identically to a from-scratch build") {
    import spark.implicits._
    import graft.operators.TextIndex
    import graft.streaming.StreamingTextIndex
    implicit val sqlCtx = spark.sqlContext
    val db = GraftDatabase(spark, scratch("sti_db"))
    val base = Seq((1L, "alpha batch merge"), (2L, "batch merge batch"))
      .toDF("doc_id", "text")
    TextIndex.buildIndex(db, "idx", base, 2)
    val late = Seq((3L, "batch merge omega"), (4L, "omega alpha"),
      (5L, "merge batch merge batch"))
    val mem = MemoryStream[(Long, String)]
    val q = StreamingTextIndex.maintainIndex(db, "idx",
        mem.toDF().toDF("doc_id", "text"), 2)
      .option("checkpointLocation", scratch("sti_ck"))
      .start()
    try {
      mem.addData(late(0), late(1))
      q.processAllAvailable()
      mem.addData(late(2))
      q.processAllAvailable()
    } finally q.stop()
    def served(d: GraftDatabase) = (
      TextIndex.searchAll(d, "idx", Seq("batch", "merge"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      TextIndex.searchPhrase(d, "idx", Seq("batch", "merge"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      TextIndex.searchRanked(d, "idx", Seq("batch", "merge"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    val streamed = served(db)
    // a from-scratch build over the union corpus must serve the
    // EXACT same results — BM25 doubles included (identical N, L,
    // df, tf inputs → identical literals → bit-equal scores)
    val db2 = GraftDatabase(spark, scratch("sti_db2"))
    TextIndex.buildIndex(db2, "idx",
      base.unionByName(late.toDF("doc_id", "text")), 2)
    assert(streamed == served(db2))
    assert(streamed._3.map(_._1).contains(5L)) // streamed doc is served
    // bucket pruning survives the prefix-renamed appended files
    val plan = TextIndex.searchAll(db, "idx", Seq("batch"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"), plan.take(1500))
    // foreachBatch replay converges: re-publishing batch 1 verbatim
    // changes nothing
    StreamingTextIndex.appendBatch(db, "idx",
      Seq(late(2)).toDF("doc_id", "text"), 2, 1L)
    assert(served(db) == streamed)
  }
  test("E23b streaming twin: streamed sketch appends serve the one-pass corpus card") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tq = graft.operators.TextQueries
    val db = GraftDatabase(spark, scratch("tok_sketch_stream") + "/db")
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length / 2)
    tq.buildTokenSketches(db, "tc", docs.filter(col("doc_id") < cut))
    val late = docs.filter(col("doc_id") >= cut).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val mem = MemoryStream[(String, String)]
    val q = graft.streaming.StreamingTextIndex
      .maintainTokenSketches(db, "tc",
        mem.toDF().toDF("source", "text"))
      .option("checkpointLocation", scratch("tok_sketch_ckpt"))
      .start()
    try {
      val (h1, h2) = late.splitAt(late.length / 2)
      mem.addData(h1: _*)
      q.processAllAvailable()
      mem.addData(h2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val served = tq.tokenCardinalityFromSketches(db, "tc")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val onePass = tq.tokenCardinality(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(served == onePass)
  }

  test("C38 streaming twin: streamed histogram appends serve the one-pass length panel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dist = graft.operators.Distribution
    val db = GraftDatabase(spark, scratch("len_hist_stream") + "/db")
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length / 2)
    dist.buildLengthHistogram(db, "lh",
      docs.filter(col("doc_id") < cut))
    val late = docs.filter(col("doc_id") >= cut).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val mem = MemoryStream[(String, String)]
    val q = graft.streaming.StreamingCuration
      .maintainLengthHistogram(db, "lh",
        mem.toDF().toDF("source", "text"))
      .option("checkpointLocation", scratch("len_hist_ckpt"))
      .start()
    try {
      val (h1, h2) = late.splitAt(late.length / 2)
      mem.addData(h1: _*)
      q.processAllAvailable()
      mem.addData(h2: _*)
      q.processAllAvailable()
    } finally q.stop()
    def panel(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // n_chars == length(text) in the corpus, so the streamed twin
    // (which derives n_chars from text) converges to the one-pass
    // panel exactly
    assert(panel(dist.quantilesFromHistogram(db, "lh")) ==
      panel(dist.docLengthQuantiles(spark, sf)))
  }

  test("C38 quality streaming twin: streamed quality-histogram appends serve the one-pass quality panel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dist = graft.operators.Distribution
    val db = GraftDatabase(spark, scratch("q_hist_stream") + "/db")
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length / 2)
    dist.buildQualityHistogram(db, "qh", docs.filter(col("doc_id") < cut))
    val late = docs.filter(col("doc_id") >= cut).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val mem = MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamingCuration
      .maintainQualityHistogram(db, "qh",
        mem.toDF().toDF("doc_id", "source", "text"))
      .option("checkpointLocation", scratch("q_hist_ckpt"))
      .start()
    try {
      val (h1, h2) = late.splitAt(late.length / 2)
      mem.addData(h1: _*)
      q.processAllAvailable()
      mem.addData(h2: _*)
      q.processAllAvailable()
    } finally q.stop()
    def panel(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(panel(dist.quantilesFromHistogram(db, "qh")) ==
      panel(dist.qualityQuantiles(spark, sf)))
  }

  test("G17: streamed hybrid RRF serving equals the batch fusion per query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val db = graft.catalog.GraftDatabase(spark,
      scratch("hybrid_serve") + "/db")
    val qs = Seq((0L, "batch merge"), (3L, "batch"))
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingAnn
      .serveHybridStream(db, "hy", sf, mem.toDF().toDF("query_id", "terms"))
      .option("checkpointLocation", scratch("hybrid_ckpt")).start()
    try {
      mem.addData(qs.take(1): _*)
      q.processAllAvailable()
      mem.addData(qs.drop(1): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = db.read("hy_results")
    val want = qs.map { case (qid, ts) =>
      graft.operators.HybridSearch
        .hybridRrfFor(spark, sf, ts.split(" ").toSeq, qid)
        .withColumn("query_id", org.apache.spark.sql.functions.lit(qid))
        .withColumn("terms", org.apache.spark.sql.functions.lit(ts))
    }.reduce(_ unionByName _)
    assert(got.count() == want.count())
    assert(got.drop("batch_id").except(want).count() == 0)
    assert(want.except(got.drop("batch_id")).count() == 0)
  }
}
