package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, SortOrder, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables
import graft.catalog.{DriverParquet, GraftDatabase}
import graft.sources.ParquetStats.readRows

/** E11/E12: persisted inverted text index + keyword search
  * (SURVEY.md §2.E) — the corpus-exploration surface a training-data
  * build uses to audit what went into the mix ("which documents say
  * X", "where does this phrase come from").
  *
  * The index is a positional postings table
  * `(term, doc_id, positions sorted array<int>, tf)` written
  * hash-BUCKETED by term into a [[graft.catalog.GraftDatabase]] —
  * the D9 lifecycle: build once at ingest, serve every query from
  * the artifact, re-attach across processes without a rewrite.
  * Serving never scans the corpus: a query's terms prune to their
  * buckets (SelectedBucketsCount in the plan — pinned in spec), and
  * only those terms' postings flow into the join/aggregation.
  *
  * Scale shape: the build is one tokenize→posexplode→group pass
  * (map-side combined, shuffled once on the term — the same key the
  * layout buckets by, so the write adds no second exchange); postings
  * rows are bounded by document length. Conjunctive search shuffles
  * only the queried terms' postings (≪ corpus); phrase search
  * resolves adjacency entirely from the positional payload — shift
  * term k's positions by −k and intersect sorted int arrays — no
  * re-scan of any document text.
  */
object TextIndex {

  /** Build (or rebuild) the postings artifact for `docs`, plus the
    * ranking companions BM25 serving needs without ever re-reading
    * the corpus: `<table>_len` (doc_id, dl) bucketed by doc_id — the
    * join side of per-doc length normalization — the batch-keyed
    * `<table>_corpus` (n_docs, total_len), and the batch-keyed
    * per-term `<table>_df` document frequencies bucketed by term.
    *
    * A base build is the index's first increment: reset the four
    * artifacts (table dirs, `_staging_` dirs and catalog entries, so a
    * rebuild may change the doc_id type), write `docs` as batch
    * [[BaseBatch]] (−1) through [[writeBatch]], the writer every
    * append uses, at the tier an append of its size takes, and
    * register the three bucketed tables.
    */
  def buildIndex(db: GraftDatabase, table: String, docs: DataFrame,
      nBuckets: Int): Unit =
    buildIndex(db, table, docs, nBuckets, graft.catalog.ResidentArtifact.budget)

  /** [[buildIndex]] with the writer's driver budget given — 0 forces
    * the Spark tier. */
  private[graft] def buildIndex(db: GraftDatabase, table: String,
      docs: DataFrame, nBuckets: Int, driverBudget: Long): Unit = {
    artifactTables(table).foreach { case (t, _) =>
      db.unregisterBucketed(t)
      db.dropTable(t)
      db.dropTable(s"_staging_$t")
    }
    val schemas = writeBatch(db, table, docs, nBuckets, BaseBatch, driverBudget)
    artifactTables(table).zip(schemas).foreach {
      // an empty build writes no bucket file to take the schema from
      case ((t, Some(bucketCol)), schema) =>
        db.registerBucketed(t, bucketCol, nBuckets, schema)
      case _ =>
    }
  }

  /** The batch id of a base build's files and batch-keyed rows. */
  private[graft] val BaseBatch = -1L

  /** One tokenize projection of a (doc_id, text) frame — THE shared
    * subtree of every index artifact. Callers that action more than
    * one derived artifact must persist this frame across those
    * actions (see [[writeBatch]]) or each action re-tokenizes.
    */
  private def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Dedup.tokens(col("text")).as("__t"))

  /** The index's four tables and the column each bucketed one is
    * bucketed by: postings, `_len`, `_df`, `_corpus`. */
  private def artifactTables(table: String): Seq[(String, Option[String])] =
    Seq(table -> Some("term"), s"${table}_len" -> Some("doc_id"),
      s"${table}_df" -> Some("term"), s"${table}_corpus" -> None)

  /** Positional postings, doc lengths and the 1-row batch stats of a
    * [[tokenized]] batch. */
  private def artifacts(
      tok: DataFrame, batchId: Long): (DataFrame, DataFrame, DataFrame) = {
    val postings = tok
      .select(col("doc_id"), posexplode(col("__t")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"),
        count(lit(1)).as("tf"))
    val lens = tok.select(col("doc_id"),
      size(col("__t")).cast("bigint").as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_len"))
      .select(lit(batchId).as("batch_id"), col("n_docs"), col("total_len"))
    (postings, lens, stats)
  }

  /** A batch's per-term df PARTIAL: its doc_ids are new, so serving
    * sums the batches' partials into the exact df. */
  private def dfPartials(postings: DataFrame, batchId: Long): DataFrame =
    postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .select(lit(batchId).as("batch_id"), col("term"), col("df"))

  /** The one writer of the index's format: the four artifacts of one
    * batch of (doc_id, text) `docs`, written into `table` idempotently
    * under `batchId` (the base build's [[BaseBatch]], or an append's id
    * ≥ 0); returns their schemas in [[artifactTables]] order. Two tiers
    * write the same files:
    *
    * DRIVER, when the batch's plan-estimated bytes
    * (`optimizedPlan.stats.sizeInBytes`, no job) times
    * [[DriverHeapPerPlanByte]] fit `driverBudget` and doc_id is an
    * integral or string column. One job collects the tokenized batch
    * as internal rows with Spark's own `dl`, so tokenizing and NULL
    * text stay Spark's and a token stays a slice of its row
    * ([[collectOnDriver]]). Each distinct term is interned once and
    * the postings kept in primitive arrays ([[DriverBatch]]); each
    * file's rows are built while the file is written, through Spark's
    * parquet writer on up to [[WriteThreads]] driver threads, one file
    * per non-empty bucket, rows sorted by the bucket column, the
    * bucket id from the hash bucket pruning uses. Each file holds
    * exactly the rows, schema and Spark row metadata of the file the
    * Spark tier writes for that bucket (spec-pinned), so serving
    * cannot tell the tiers apart. A 25-doc append takes one job
    * instead of twelve, and so does a 2k-document base build.
    *
    * SPARK, otherwise: bucketed Spark writes over one persisted
    * tokenize. The postings go first; `_df` is an exchange-free
    * aggregate over their stage, and `_len`, `_df` and `_corpus` are
    * written concurrently, every write ending before the first
    * failure is rethrown.
    *
    * Both tiers stage all four tables under `_staging_<table>/<batchId>`
    * before either publishes one through [[graft.catalog.Publish.files]],
    * so a replay converges and a failed batch publishes nothing.
    */
  private[graft] def writeBatch(db: GraftDatabase, table: String,
      docs: DataFrame, nBuckets: Int, batchId: Long,
      driverBudget: Long): Seq[StructType] = {
    val schemas =
      if (fitsDriver(docs, driverBudget))
        stageOnDriver(db, table, docs, nBuckets, batchId)
      else stageWithSpark(db, table, docs, nBuckets, batchId)
    artifactTables(table).foreach { case (t, _) => commit(db, t, batchId) }
    schemas
  }

  /** Driver heap per byte of the batch's plan-estimated size while
    * the driver tier builds its artifacts, rounded up from 1.25× the
    * largest factor measured with `SizeEstimator` on the collected
    * rows, the term ids and posting arrays, and the rows of the
    * largest file per write thread held whole (the writes stream them,
    * so this over-counts; `DriverAppendSpec` pins the bound):
    *
    * | batch                            | plan bytes | structures | bound |
    * |----------------------------------|-----------:|-----------:|------:|
    * | sf0.001 / sf0.01 `documents`     |   28 KB    |    27      |  91   |
    * | 2k docs of 20–80 Zipf words      |  402 KB    |    10.5    |  50   |
    * | edge frames (7 rows and fewer)   |  ≤ 336 B   |   6–8      | 12–15 |
    *
    * At a 3 GB heap the gate admits parquet batches of up to ~431 KB,
    * so serve_mixed's 2k-document base build (406–413 KB) takes the
    * driver tier. */
  private[graft] val DriverHeapPerPlanByte = 114

  /** The most files the driver tier writes at once, so the heap its
    * writes take does not grow with the driver's core count. */
  private[graft] val WriteThreads = 4

  /** The batch's plan-estimated bytes: the gate's input, read without
    * a job. */
  private[graft] def planBytes(docs: DataFrame): BigInt =
    docs.queryExecution.optimizedPlan.stats.sizeInBytes

  private def fitsDriver(docs: DataFrame, budget: Long): Boolean =
    (docs.schema("doc_id").dataType match {
      case LongType | IntegerType | ShortType | ByteType | StringType => true
      case _ => false // grouping equality differs from the value's
    }) && planBytes(docs) * DriverHeapPerPlanByte < budget

  /** `table`'s staging dir for `batchId`, named like a table of `db`
    * so its catalog identifier follows the per-path rule. */
  private def stage(table: String, batchId: Long): String =
    s"_staging_$table/$batchId"

  private def stageWithSpark(db: GraftDatabase, table: String,
      docs: DataFrame, nBuckets: Int, batchId: Long): Seq[StructType] = {
    // The writes are separate ACTIONS over one tokenize subtree;
    // unpersisted, each re-runs the tokenize (r13 VERDICT #1: that
    // tripled the build's scan cost). MEMORY_AND_DISK, so a large
    // batch spills instead of silently re-tokenizing on eviction. The
    // stats are their own aggregate, not a `Dataset.observe` on the
    // `_len` write: an Observation keeps a query listener on the
    // session that logs an ERROR for every later failed analysis.
    val tok = tokenized(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val Seq(post, len, df, corpus) =
      artifactTables(table).map { case (t, _) => stage(t, batchId) }
    try {
      val (postings, lens, stats) = artifacts(tok, batchId)
      // postings first: its tokenize materializes the shared cache
      db.writeBucketed(postings, post, "term", nBuckets)
      // read through the stage's catalog entry: its term bucketing
      // satisfies the groupBy's clustering, so no exchange and no
      // second tokenize pass
      val dfs = dfPartials(db.readBucketed(post), batchId)
      // r16 OPT (guide §2.6 overlap independent jobs): the three
      // remaining writes back-fill the cluster through each other's
      // commit/DDL tails instead of paying the tails sequentially
      onThreads(Seq(
        () => db.writeBucketed(lens, len, "doc_id", nBuckets),
        () => db.writeBucketed(dfs, df, "term", nBuckets),
        () => db.write(stats.coalesce(1), corpus, SaveMode.Overwrite)))
      Seq(postings.schema, lens.schema, dfs.schema, stats.schema)
    } finally {
      Seq(post, len, df).foreach(db.unregisterBucketed) // the files stay
      tok.unpersist(blocking = false)
    }
  }

  private def stageOnDriver(db: GraftDatabase, table: String,
      docs: DataFrame, nBuckets: Int, batchId: Long): Seq[StructType] = {
    // the frames are analyzed for their schemas only, never run
    val (postings, lens, stats) = artifacts(tokenized(docs), batchId)
    val schemas = Seq(postings.schema, lens.schema,
      dfPartials(postings, batchId).schema, stats.schema)
    val files = collectOnDriver(docs).files(nBuckets, batchId)
    // all files are written in parallel, as a Spark write's tasks
    // would write them: a serve_mixed 25-doc append writes its 25
    // files in a median 10 ms this way and in 20 ms one after another
    // (4 cores, 80 appends each)
    onThreads(artifactTables(table).zip(schemas).zip(files).flatMap {
      case (((t, _), schema), parts) =>
        driverFiles(db.spark, new Path(db.tablePath(stage(t, batchId))),
          schema, parts)
    })
    schemas
  }

  /** The driver tier's one job: the tokenized batch collected as
    * internal (doc_id, tokens, dl) rows — what `Dataset.collect` runs,
    * under the same SQL execution, minus its conversion to external
    * rows, so every token stays a slice of its row's bytes — and
    * indexed into a [[DriverBatch]]. */
  private[graft] def collectOnDriver(docs: DataFrame): DriverBatch = {
    val qe = tokenized(docs).select(col("doc_id"), col("__t"),
      size(col("__t")).cast("bigint").as("dl")).queryExecution
    new DriverBatch(
      SQLExecution.withNewExecutionId(qe, Some("collect"))(
        qe.executedPlan.executeCollect()),
      docs.schema("doc_id").dataType)
  }

  /** A tokenized batch on the driver, its postings in primitive
    * arrays: each distinct term interned once into a [[TermIds]], and
    * one posting per (term, doc_id) group — rows with equal doc_ids,
    * NULL included, are one group, as in `groupBy(term, doc_id)`. A
    * group's postings come from one sort of its `(termId << 32 | pos)`
    * longs: a posting is the group's first row (`postDoc`) and the
    * end of its sorted positions in the shared `positions`
    * (`postEnd`); `byTerm` lists the postings by term id, those of
    * term t at `termStart(t)` until `termStart(t + 1)`, in doc order.
    * The artifacts' rows exist only inside the write of their file
    * ([[files]]). */
  private[graft] final class DriverBatch(rows: Array[InternalRow],
      docType: DataType) {
    private val terms = new TermIds
    private val (postDoc, postEnd, positions, byTerm, termStart) = {
      // the next row with the row's doc_id, or -1, for each row; a
      // group starts at the first row of its doc_id
      val next = Array.fill(rows.length)(-1)
      val first = new Array[Boolean](rows.length)
      val last = new java.util.HashMap[Any, Integer]()
      for (i <- rows.indices) {
        val prev = last.put(docOf(i), i)
        if (prev == null) first(i) = true else next(prev) = i
      }
      val postTerm, postDoc, postEnd = new mutable.ArrayBuilder.ofInt
      val positions = new Array[Int](rows.indices.map(tokens(_).numElements()).sum)
      var end = 0
      var keys = new Array[Long](0)
      for (g <- rows.indices if first(g)) {
        var m = 0
        var i = g
        while (i >= 0) {
          val ts = tokens(i)
          val n = ts.numElements()
          if (m + n > keys.length) keys = java.util.Arrays.copyOf(keys, 2 * (m + n))
          for (p <- 0 until n) {
            keys(m) = terms.idOf(ts.getUTF8String(p)).toLong << 32 | p
            m += 1
          }
          i = next(i)
        }
        java.util.Arrays.sort(keys, 0, m)
        var k = 0
        while (k < m) {
          val t = (keys(k) >>> 32).toInt
          while (k < m && (keys(k) >>> 32).toInt == t) {
            positions(end) = keys(k).toInt
            end += 1
            k += 1
          }
          postTerm += t
          postDoc += g
          postEnd += end
        }
      }
      // counting sort of the postings by term id, stable
      val pt = postTerm.result()
      val termStart = new Array[Int](terms.size + 1)
      pt.foreach(t => termStart(t + 1) += 1)
      for (t <- 0 until terms.size) termStart(t + 1) += termStart(t)
      val fill = termStart.clone()
      val byTerm = new Array[Int](pt.length)
      for (e <- pt.indices) {
        byTerm(fill(pt(e))) = e
        fill(pt(e)) += 1
      }
      (postDoc.result(), postEnd.result(), positions, byTerm, termStart)
    }

    private def docOf(i: Int): Any =
      if (rows(i).isNullAt(0)) null else rows(i).get(0, docType)

    private def tokens(i: Int): ArrayData =
      if (rows(i).isNullAt(1)) new GenericArrayData(Array.empty[Any])
      else rows(i).getArray(1)

    private def postingRow(t: Int, e: Int): InternalRow = {
      val start = if (e == 0) 0 else postEnd(e - 1)
      val n = postEnd(e) - start
      InternalRow(terms(t), docOf(postDoc(e)), UnsafeArrayData.fromPrimitiveArray(
        positions, Platform.INT_ARRAY_OFFSET + 4 * start, n, 4), n.toLong)
    }

    /** The batch's files, in [[artifactTables]] order: each table's
      * (bucket, rows) per non-empty bucket (None for `_corpus`'s one
      * file), the rows in bucket-column order, built as the file is
      * written. */
    def files(nBuckets: Int, batchId: Long)
        : Seq[Seq[(Option[Int], () => Iterator[InternalRow])]] = {
      val byBucket = Array.range(0, terms.size)
        .sortWith((a, b) => terms(a).compareTo(terms(b)) < 0)
        .groupBy(bucketIds(StringType, nBuckets, terms.size, terms(_)))
        .toSeq
      val postings = byBucket.map { case (b, ts) => Some(b) -> (() =>
        ts.iterator.flatMap(t => (termStart(t) until termStart(t + 1))
          .iterator.map(i => postingRow(t, byTerm(i))))) }
      val dfs = byBucket.map { case (b, ts) => Some(b) -> (() =>
        ts.iterator.map(t => InternalRow(batchId, terms(t),
          (termStart(t + 1) - termStart(t)).toLong))) }
      def dl(i: Int): java.lang.Long =
        if (rows(i).isNullAt(2)) null else rows(i).getLong(2)
      val byDoc = new InterpretedOrdering(Seq(SortOrder(
        BoundReference(0, docType, nullable = true), Ascending)))
      val lens = rows.indices.toArray
        .groupBy(bucketIds(docType, nBuckets, rows.length, docOf)).toSeq
        .map { case (b, is) => Some(b) -> (() =>
          is.map(i => InternalRow(docOf(i), dl(i))).sorted(byDoc).iterator) }
      val dls = rows.indices.flatMap(i => Option(dl(i)).map(_.longValue))
      val corpus = Seq(None -> (() => Iterator(InternalRow(batchId,
        rows.length.toLong, if (dls.isEmpty) null else dls.sum))))
      Seq(postings, lens, dfs, corpus)
    }
  }

  /** Bucket ids of `n` values `value(i)` of type `t`: the expression
    * `BucketingUtils.getBucketIdFromValue` evaluates (the bucket id of
    * a bucketed write and of bucket pruning), compiled once — that
    * function generates its projection on every call. */
  private def bucketIds(t: DataType, nBuckets: Int, n: Int,
      value: Int => Any): Array[Int] = {
    val bucketOf = UnsafeProjection.create(Seq(HashPartitioning(
      Seq(BoundReference(0, t, nullable = true)), nBuckets).partitionIdExpression))
    Array.tabulate(n)(i => bucketOf(InternalRow(value(i))).getInt(0))
  }

  /** Distinct terms → dense ids in first-seen order: open addressing
    * over the ids, probed from the term's hash. A term is held as a
    * copy of its bytes, not as a view pinning its collected row. */
  private final class TermIds {
    private var slots = new Array[Int](16) // id + 1; 0 is free
    private var terms = new Array[UTF8String](8)
    private var n = 0

    def size: Int = n

    def apply(id: Int): UTF8String = terms(id)

    def idOf(t: UTF8String): Int = {
      val s = slot(t)
      if (slots(s) != 0) slots(s) - 1
      else {
        if (n == terms.length) terms = java.util.Arrays.copyOf(terms, 2 * n)
        terms(n) = t.clone()
        n += 1
        slots(s) = n
        if (2 * n > slots.length) {
          val old = slots
          slots = new Array[Int](2 * old.length)
          old.foreach(id => if (id != 0) slots(slot(terms(id - 1))) = id)
        }
        n - 1
      }
    }

    /** The slot holding `t`, or the free slot it goes in. */
    private def slot(t: UTF8String): Int = {
      val mask = slots.length - 1
      var s = t.hashCode & mask
      while (slots(s) != 0 && terms(slots(s) - 1) != t) s = (s + 1) & mask
      s
    }
  }

  /** The writes of the parquet files of `schema` into `dir`, one task
    * per (bucket, rows) part, through [[graft.catalog.DriverParquet]].
    * A bucket's file is named with its bucket id as a bucketed write
    * names it; None names one unbucketed file. Any files of an earlier
    * attempt in `dir` are deleted. */
  private def driverFiles(spark: SparkSession, dir: Path, schema: StructType,
      parts: Seq[(Option[Int], () => Iterator[InternalRow])]): Seq[() => Unit] = {
    val writer = new DriverParquet(spark, schema)
    val (jobId, ext) = (java.util.UUID.randomUUID().toString, writer.extension)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dir, true)
    fs.mkdirs(dir)
    parts.map { case (bucket, rows) =>
      val name = bucket.fold(s"part-00000-$jobId-c000$ext")(b =>
        f"part-$b%05d-$jobId${BucketingUtils.bucketIdToString(b)}.c000$ext")
      () => writer.write(new Path(dir, name), rows())
    }
  }

  /** Run `tasks` on up to one thread per driver core, at most
    * [[WriteThreads]], and wait for all of them; then rethrow the first
    * failure. */
  private def onThreads(tasks: Seq[() => Unit]): Unit = if (tasks.nonEmpty) {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Seq(
      tasks.size, Runtime.getRuntime.availableProcessors, WriteThreads).min)
    val outcomes = try tasks.map(t => pool.submit[Unit](() => t()))
      .map(f => scala.util.Try(f.get()))
    finally pool.shutdown()
    outcomes.collectFirst {
      case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
        throw e.getCause
      case scala.util.Failure(e) => throw e
    }
  }

  /** Move the staged files of `table` into the artifact dir under the
    * batch prefix, replacing an earlier attempt's, then drop the
    * catalog's cached listing of the table: a served query planned
    * after the append would otherwise miss the new files.
    */
  private def commit(db: GraftDatabase, table: String, batchId: Long): Unit = {
    val staged = new Path(db.tablePath(stage(table, batchId)))
    graft.catalog.Publish.files(db.fs, staged, new Path(db.tablePath(table)),
      graft.streaming.IngestPublish.prefix(batchId))
    db.refreshBucketed(table)
  }

  /** Conjunctive (AND) keyword search against the served index:
    * documents containing EVERY query term, with the total number of
    * occurrences of the query terms. The isin filter prunes the
    * bucketed scan to the terms' buckets.
    */
  def searchAll(db: GraftDatabase, table: String,
      terms: Seq[String]): DataFrame = {
    val t = terms.distinct
    db.readBucketed(table)
      .filter(col("term").isin(t: _*))
      .groupBy(col("doc_id"))
      // count(1), NOT count(distinct term): postings hold exactly one
      // row per (term, doc_id) by construction (buildIndex groups on
      // that key), so the row count IS the distinct-term count — and
      // the distinct form planned Spark's two extra aggregate phases
      // for nothing (r10: the serve row is fixed-overhead-bound, so
      // dropping a phase is the lever).
      .agg(count(lit(1)).as("__nt"), sum(col("tf")).as("n_occ"))
      .filter(col("__nt") === t.length)
      .select(col("doc_id"), col("n_occ"))
  }

  /** Phrase search: documents containing the terms ADJACENT in
    * order, with the number of distinct start positions. Term k's
    * postings join on doc_id with positions shifted by −k; the match
    * count is the size of the k-way sorted-array intersection.
    */
  def searchPhrase(db: GraftDatabase, table: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val idx = db.readBucketed(table)
    val parts = phrase.zipWithIndex.map { case (term, k) =>
      idx.filter(col("term") === term)
        .select(col("doc_id"),
          transform(col("positions"), p => p - k).as(s"__p$k"))
    }
    val joined = parts.reduce((a, b) => a.join(b, Seq("doc_id")))
    val inter = (1 until phrase.length).foldLeft(col("__p0")) {
      (acc, k) => array_intersect(acc, col(s"__p$k"))
    }
    joined.select(col("doc_id"), size(inter).cast("bigint").as("n_matches"))
      .filter(col("n_matches") > 0)
  }

  /** E13: BM25-ranked retrieval from the served index — top-k docs
    * for a bag-of-terms query, k1=1.2, b=0.75, with a LOG-FREE
    * rational idf `(N − df + 0.5)/(df + 0.5)` (the standard
    * Robertson idf minus its ln wrapper: ln is engine-specific at
    * the ulp level, while +,−,×,÷ are IEEE-deterministic, so the
    * score doubles are bit-identical across engines — the same
    * portability discipline as E10's integer-sums-one-division; ln
    * is monotone, so per-term contributions keep BM25's ordering
    * behavior). Rows come in (score desc, doc_id) order.
    *
    * Two tiers answer, bit-equal in rows and schema (spec-pinned):
    *
    * RESIDENT, while the index's four table dirs (postings, `_len`,
    * `_df`, `_corpus`) hold at most [[graft.catalog.ResidentArtifact.budget]]
    * on-disk bytes (1/64 of the driver heap cap; the gate sums the
    * listing, no job). The first request reads the tables on the
    * driver into primitive arrays — term → (doc_id, tf) sorted by
    * doc_id plus the term's df summed over batches, doc_id → dl,
    * and N and total_len — and every request scores in plain Scala
    * with the pinned parenthesization below, returning a local
    * DataFrame: constructing and collecting it launch no Spark job.
    * Each request re-lists the dirs: unchanged files serve the copy,
    * files only ADDED (a `StreamingTextIndex.appendBatch`; its
    * per-batch `_df`/`_corpus` partials sum exactly) are read and
    * folded in alone, and any other change (a rebuild, a replayed
    * batch) reloads. A copy costs ~4.5× the index's on-disk bytes of
    * heap — 12 bytes per posting and 16 per document, plus a map entry
    * and two arrays per distinct term (2.3 MB for a 2k-document index,
    * 0.5 MB on disk), even though positions are never read.
    *
    * SPARK, above the budget or when the copy cannot answer exactly
    * (a null N/total_len, a duplicate doc_id, a non-integral doc_id).
    * Serving cost ∝ the query terms' postings: each term is a
    * bucket-pruned scan (doc_id, tf); candidates assemble with a
    * full-outer join chain (absent term → tf 0, contribution 0);
    * the dl normalization joins `<table>_len` on doc_id — the join
    * input is already hash-partitioned by doc_id from the candidate
    * join, and the len table's doc_id bucketing spares ITS exchange.
    * N/total_len/df ride IN the plan as one broadcast 1-row frame
    * (r9 VERDICT #3), so constructing the frame launches no job.
    * The values are identical exact longs cast to double on both
    * tiers, so bit equality with the oracle holds on both.
    */
  def searchRanked(db: GraftDatabase, table: String,
      terms: Seq[String], k: Int): DataFrame =
    searchRanked(db, table, terms, k, graft.catalog.ResidentArtifact.budget)

  /** [[searchRanked]] with the resident tier's admission budget given
    * — 0 forces the Spark tier. */
  private[graft] def searchRanked(db: GraftDatabase,
      table: String, terms: Seq[String], k: Int,
      residentBudget: Long): DataFrame = {
    require(terms.nonEmpty, "empty query")
    val t = terms.distinct
    graft.catalog.ResidentArtifact.get(db.spark, "bm25",
        artifactTables(table).map(a => db.tablePath(a._1)), residentBudget)(
        new Bm25Loader(db, table))
      .flatMap(_.search(db.spark, t, k))
      .getOrElse(rankedPlan(db, table, t, k))
  }

  private def rankedPlan(db: GraftDatabase, table: String,
      t: Seq[String], k: Int): DataFrame = {
    val idx = db.readBucketed(table)
    val corpus = db.read(s"${table}_corpus")
      .agg(sum(col("n_docs")).cast("double").as("__n"),
        sum(col("total_len")).cast("double").as("__l"))
    // One batch-df row per (batch, term), so a global conditional sum
    // over the pruned scan pivots the ≤|terms| totals into one row; a
    // term absent from the corpus sums to NULL → df 0.0.
    val dfAggs = t.zipWithIndex.map { case (term, i) =>
      sum(when(col("term") === term, col("df"))).cast("double").as(s"__df$i")
    }
    val dfRow = db.readBucketed(s"${table}_df")
      .filter(col("term").isin(t: _*))
      .agg(dfAggs.head, dfAggs.tail: _*)
    val scalars = broadcast(corpus.crossJoin(dfRow))
    val parts = t.zipWithIndex.map { case (term, i) =>
      idx.filter(col("term") === term)
        .select(col("doc_id"), col("tf").cast("double").as(s"__tf$i"))
    }
    val joined = parts.reduce((a, b) => a.join(b, Seq("doc_id"), "full_outer"))
    val withLen = joined.join(
      db.readBucketed(s"${table}_len")
        .select(col("doc_id"), col("dl").cast("double").as("__dl")),
      Seq("doc_id"))
      .crossJoin(scalars)
    // Pinned operation order — the oracle SQL and Bm25.search
    // parenthesize identically; any reassociation breaks bit equality.
    val bNorm = lit(1.2) * (lit(0.25) + ((lit(0.75) * col("__dl")) * col("__n")) / col("__l"))
    val score = t.zipWithIndex.map { case (term, i) =>
      val df = coalesce(col(s"__df$i"), lit(0.0))
      val idf = ((col("__n") - df) + lit(0.5)) / (df + lit(0.5))
      val tf = coalesce(col(s"__tf$i"), lit(0.0))
      (idf * (tf * lit(2.2))) / (tf + bNorm)
    }.reduce(_ + _)
    withLen.select(col("doc_id"), score.as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** One term of the resident index: its postings sorted by doc_id
    * and its df summed over batches (0 when no `_df` row names it). */
  private final case class Bm25Term(docs: Array[Long], tfs: Array[Int],
      df: Long)

  /** The resident copy of one BM25 index. `n`/`totalLen` are None
    * when no `_corpus` row carries a value (SQL's SUM of no values). */
  private final class Bm25(docIdType: DataType,
      terms: Map[String, Bm25Term], lenIds: Array[Long],
      lenDl: Array[Long], n: Option[Long], totalLen: Option[Long]) {

    /** Top-k rows of [[rankedPlan]] for the distinct terms `t`, or None
      * when only the plan can answer (its NULL arithmetic). */
    def search(spark: SparkSession, t: Seq[String],
        k: Int): Option[DataFrame] = {
      if (k < 0 || n.isEmpty || totalLen.isEmpty || totalLen.get == 0L)
        return None
      val nD = n.get.toDouble
      val lD = totalLen.get.toDouble
      val hits = t.map(terms.get)
      val dfs = hits.map(_.fold(0L)(_.df).toDouble)
      // doc_id → tf per query term; an absent term stays 0.0, the
      // plan's coalesce(tf, 0.0)
      val tfs = new mutable.LongMap[Array[Double]]()
      hits.zipWithIndex.foreach {
        case (Some(e), i) =>
          var j = 0
          while (j < e.docs.length) {
            tfs.getOrElseUpdate(e.docs(j), new Array[Double](t.length))(i) =
              e.tfs(j).toDouble
            j += 1
          }
        case _ =>
      }
      val scored = tfs.iterator.flatMap { case (doc, tf) =>
        val at = java.util.Arrays.binarySearch(lenIds, doc)
        if (at < 0) None // the plan's inner join with `_len`
        else {
          val dl = lenDl(at).toDouble
          val bNorm = 1.2 * (0.25 + ((0.75 * dl) * nD) / lD)
          var score = 0.0
          var i = 0
          while (i < t.length) {
            val idf = ((nD - dfs(i)) + 0.5) / (dfs(i) + 0.5)
            val c = (idf * (tf(i) * 2.2)) / (tf(i) + bNorm)
            score = if (i == 0) c else score + c
            i += 1
          }
          Some((doc, score))
        }
      }.toArray
      // Spark's ORDER BY score DESC, doc_id: SQL double order (-0.0 =
      // 0.0, NaN largest), ties by id
      val top = scored.sortWith { case ((d1, s1), (d2, s2)) =>
        val c = if (s1 == s2) 0 else java.lang.Double.compare(s1, s2)
        c > 0 || (c == 0 && d1 < d2)
      }.take(k)
      val rows = top.map { case (doc, score) =>
        Row(docIdOut(doc), score)
      }.toSeq
      Some(spark.createDataFrame(rows.asJava, StructType(Seq(
        StructField("doc_id", docIdType), StructField("score", DoubleType)))))
    }

    private def docIdOut(doc: Long): Any = docIdType match {
      case LongType    => doc
      case IntegerType => doc.toInt
      case ShortType   => doc.toShort
      case ByteType    => doc.toByte
    }

    /** This copy plus the rows of the given data files (postings,
      * `_len`, `_df`, `_corpus`); a (term, doc_id) or doc_id already
      * present throws — the plan's joins would multiply it. */
    def plus(conf: Configuration, files: Seq[Seq[Path]]): Bm25 = {
      val Seq(postingFiles, lenFiles, dfFiles, corpusFiles) = files
      val post = mutable.HashMap[String,
        (mutable.ArrayBuilder.ofLong, mutable.ArrayBuilder.ofInt)]()
      postingFiles.foreach(f => readRows(conf, f, Seq("term", "doc_id", "tf")) {
        g =>
          if (has(g, "term") && has(g, "doc_id")) {
            val (ds, ts) = post.getOrElseUpdate(g.getString("term", 0),
              (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofInt))
            ds += long(g, "doc_id")
            ts += math.toIntExact(long(g, "tf"))
          }
      })
      val dfAdd = mutable.HashMap[String, Long]()
      dfFiles.foreach(f => readRows(conf, f, Seq("term", "df")) { g =>
        if (has(g, "term") && has(g, "df")) {
          val term = g.getString("term", 0)
          dfAdd(term) = dfAdd.getOrElse(term, 0L) + long(g, "df")
        }
      })
      val ids = new mutable.ArrayBuilder.ofLong
      val dls = new mutable.ArrayBuilder.ofLong
      lenFiles.foreach(f => readRows(conf, f, Seq("doc_id", "dl")) { g =>
        if (has(g, "doc_id")) { ids += long(g, "doc_id"); dls += long(g, "dl") }
      })
      var (nOut, lOut) = (n, totalLen)
      corpusFiles.foreach(f =>
        readRows(conf, f, Seq("n_docs", "total_len")) { g =>
          if (has(g, "n_docs")) nOut = Some(nOut.getOrElse(0L) + long(g, "n_docs"))
          if (has(g, "total_len"))
            lOut = Some(lOut.getOrElse(0L) + long(g, "total_len"))
        })
      var next = terms
      (post.keySet ++ dfAdd.keySet).foreach { term =>
        val old = terms.getOrElse(term, Bm25Term(Array.empty, Array.empty, 0L))
        val (ds, ts) = post.get(term).map { case (d, t) => (d.result(), t.result()) }
          .getOrElse((Array.emptyLongArray, Array.emptyIntArray))
        val (docs, tfs) = sortedUnion(old.docs, old.tfs, ds, ts)
        next = next.updated(term,
          Bm25Term(docs, tfs, old.df + dfAdd.getOrElse(term, 0L)))
      }
      val (lenIdsOut, lenDlOut) =
        sortedUnion(lenIds, lenDl, ids.result(), dls.result())
      new Bm25(docIdType, next, lenIdsOut, lenDlOut, nOut, lOut)
    }
  }

  private def has(g: org.apache.parquet.example.data.Group,
      c: String): Boolean = g.getFieldRepetitionCount(c) > 0

  /** An integral column as a long, whatever its physical width; NULL
    * throws (the plan would carry it into a NULL score). */
  private def long(g: org.apache.parquet.example.data.Group,
      c: String): Long = {
    require(has(g, c), s"NULL $c")
    g.getType.getType(c).asPrimitiveType.getPrimitiveTypeName match {
      case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 =>
        g.getLong(c, 0)
      case _ => g.getInteger(c, 0).toLong
    }
  }

  /** Merge `(ids, vals)` into the id-sorted `(baseIds, baseVals)`;
    * an id on both sides, or twice in the new ones, throws. */
  private def sortedUnion[V: scala.reflect.ClassTag](baseIds: Array[Long],
      baseVals: Array[V], ids: Array[Long],
      vals: Array[V]): (Array[Long], Array[V]) = {
    val order = ids.indices.sortBy(ids(_)).toArray
    val outIds = new Array[Long](baseIds.length + ids.length)
    val outVals = new Array[V](outIds.length)
    var (a, b, o) = (0, 0, 0)
    while (o < outIds.length) {
      val takeBase = b == order.length ||
        (a < baseIds.length && baseIds(a) < ids(order(b)))
      if (takeBase) { outIds(o) = baseIds(a); outVals(o) = baseVals(a); a += 1 }
      else { outIds(o) = ids(order(b)); outVals(o) = vals(order(b)); b += 1 }
      require(o == 0 || outIds(o - 1) < outIds(o),
        s"doc_id ${outIds(o)} appears twice")
      o += 1
    }
    (outIds, outVals)
  }

  private final class Bm25Loader(db: GraftDatabase,
      table: String) extends graft.catalog.ResidentArtifact.Loader[Bm25] {
    private def conf = db.spark.sessionState.newHadoopConf()
    def load(files: Seq[Seq[Path]]): Bm25 = {
      val docIdType = graft.sources.ParquetStats
        .footerSchema(db.spark, db.tablePath(table))
        .map(_("doc_id").dataType)
        .collect { case t @ (LongType | IntegerType | ShortType | ByteType) => t }
        .getOrElse(throw new UnsupportedOperationException(
          s"$table: the resident tier serves integral doc_ids only"))
      new Bm25(docIdType, Map.empty, Array.emptyLongArray,
        Array.emptyLongArray, None, None).plus(conf, files)
    }
    def fold(prior: Bm25, added: Seq[Seq[Path]]): Bm25 =
      prior.plus(conf, added)
  }

  /** Bucket count for a corpus of `bytes` on-disk parquet: ~32 MB of
    * corpus per bucket, floored at 4 (so term-probe pruning stays
    * meaningful on tiny corpora) and capped at 4096 (file-count
    * hygiene). r15 OPT, guide §2 "derive partitioning from input
    * size": the previous `defaultParallelism` choice tuned the layout
    * to CLUSTER width — 3×32 near-empty files and 3×32 write-task
    * dispatches per build over a 30 MB corpus locally, while a
    * 100 TB corpus wants far MORE buckets than cores. The build and
    * every serving process derive the same count from the same
    * listing (the artifact key and the table name embed it), so
    * cross-process re-attach is unchanged; tools/scale10.py's
    * served-twin SQL computes the same formula.
    */
  private[graft] def bucketsFor(bytes: Long): Int =
    math.min(4096L, math.max(4L, bytes / (32L << 20) + 1)).toInt

  // ---- driver-contract fixtures: the index is a served artifact
  // ([[graft.catalog.ServedArtifact]]), one per (corpus dir, bucket
  // count), re-checked against the documents listing on every call —
  // a persisted index is a storage decision, not per-query work.
  private def served(spark: SparkSession, dir: String,
      force: Boolean): (GraftDatabase, String) = {
    val docsPath = s"$dir/documents.parquet"
    val p = new org.apache.hadoop.fs.Path(docsPath)
    val n = bucketsFor(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength)
    val table = s"postings_b$n"
    val build = (d: GraftDatabase) =>
      buildIndex(d, table, Tables(spark, dir, "documents"), n)
    val db =
      if (force) graft.catalog.ServedArtifact.rebuild(spark, "textindex",
        dir, Seq(docsPath), keyExtra = s"b$n")(build)
      else graft.catalog.ServedArtifact.db(spark, "textindex",
        dir, Seq(docsPath), keyExtra = s"b$n")(build)
    // the bucket metadata lives in the session catalog: a sidecar
    // fresh from another session or process re-attaches the layout
    artifactTables(table).foreach {
      case (t, Some(c)) => db.registerBucketed(t, c, n)
      case _ =>
    }
    (db, table)
  }

  private[operators] def servedIndex(spark: SparkSession,
      dir: String): (GraftDatabase, String) =
    served(spark, dir, force = false)

  /** The build surface as its own query row (VERDICT r7 #5: report
    * build and serve separately — the old shape folded the one-time
    * build into whichever search query ran first). Rebuilds the
    * served artifact unconditionally (that is the point: this row's
    * timing IS the build cost), marks it ready for the serve rows,
    * and returns the corpus stats — which gives the build an exact
    * oracle (doc count + token total) instead of a rows-only smoke.
    */
  def buildForDir(spark: SparkSession, dir: String): DataFrame = {
    val (db, table) = served(spark, dir, force = true)
    db.read(s"${table}_corpus")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_len")).as("total_len"))
  }

  val oracles: Map[String, String] = Map(
    "text_index_build" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
        |    AS total_len
        |FROM documents""".stripMargin,
    "text_search_and" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') t
        |             FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(t, x -> x = 'batch'))
        |     + len(list_filter(t, x -> x = 'merge')) AS BIGINT) AS n_occ
        |FROM tok
        |WHERE list_contains(t, 'batch') AND list_contains(t, 'merge')""".stripMargin,
    "text_search_phrase" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') t
        |             FROM documents),
        |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) i
        |        FROM tok)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
        |FROM pos
        |WHERE t[CAST(i AS INT)] = 'batch' AND t[CAST(i + 1 AS INT)] = 'merge'
        |GROUP BY doc_id""".stripMargin,
    // Identical parenthesization to searchRanked — bit-equal doubles.
    "text_search_ranked" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') t
        |             FROM documents),
        |st AS (SELECT CAST(COUNT(*) AS DOUBLE) n,
        |              CAST(SUM(len(t)) AS DOUBLE) l FROM tok),
        |dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) dl FROM tok),
        |t1 AS (SELECT doc_id,
        |         CAST(len(list_filter(t, x -> x = 'batch')) AS DOUBLE) tf
        |       FROM tok WHERE list_contains(t, 'batch')),
        |t2 AS (SELECT doc_id,
        |         CAST(len(list_filter(t, x -> x = 'merge')) AS DOUBLE) tf
        |       FROM tok WHERE list_contains(t, 'merge')),
        |d1 AS (SELECT CAST(COUNT(*) AS DOUBLE) df FROM t1),
        |d2 AS (SELECT CAST(COUNT(*) AS DOUBLE) df FROM t2),
        |j AS (SELECT COALESCE(t1.doc_id, t2.doc_id) doc_id,
        |        COALESCE(t1.tf, 0.0) tf1, COALESCE(t2.tf, 0.0) tf2
        |      FROM t1 FULL OUTER JOIN t2 ON t1.doc_id = t2.doc_id)
        |SELECT j.doc_id,
        |  ((((st.n - d1.df) + 0.5) / (d1.df + 0.5)) * (tf1 * 2.2))
        |    / (tf1 + 1.2 * (0.25 + ((0.75 * dl.dl) * st.n) / st.l))
        |  + ((((st.n - d2.df) + 0.5) / (d2.df + 0.5)) * (tf2 * 2.2))
        |    / (tf2 + 1.2 * (0.25 + ((0.75 * dl.dl) * st.n) / st.l)) AS score
        |FROM j JOIN dl ON j.doc_id = dl.doc_id, st, d1, d2
        |ORDER BY score DESC, j.doc_id LIMIT 20""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_index_build" -> (buildForDir _),
    "text_search_and" -> ((s, d) => {
      val (db, t) = servedIndex(s, d)
      searchAll(db, t, Seq("batch", "merge"))
    }),
    "text_search_phrase" -> ((s, d) => {
      val (db, t) = servedIndex(s, d)
      searchPhrase(db, t, Seq("batch", "merge"))
    }),
    "text_search_ranked" -> ((s, d) => {
      val (db, t) = servedIndex(s, d)
      searchRanked(db, t, Seq("batch", "merge"), 20)
    })
  )
}
