package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Streaming exact dedup (SURVEY.md §2.G4): the streaming face of
  * §C1/C2 — drop any document whose normalized fingerprint was
  * already seen, with state bounded by the watermark horizon
  * (arbitrarily-late duplicates are a batch backfill's job, not
  * unbounded streaming state).
  */
object StreamingDedup {

  /** `events`-shaped text stream: (ts timestamp, text string, …) →
    * first occurrence per fingerprint within the watermark.
    */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fingerprint", TextFunctions.fingerprint(col("text")))
      .withWatermark("ts", watermark)
      // plain dropDuplicates would keep fingerprint state forever;
      // the WithinWatermark form is what actually bounds it
      .dropDuplicatesWithinWatermark("fingerprint")

  /** A running novelty filter: `results` is the streaming frame to
    * start a query on; `close()` releases the persisted verify-side
    * index when the query stops (same handle contract as
    * [[StreamingAnn.IvfServing]] — the static side's lifetime only
    * the caller knows).
    */
  final case class NoveltyServing(results: DataFrame,
      private val cachedIndex: DataFrame) extends AutoCloseable {
    override def close(): Unit = cachedIndex.unpersist(blocking = false)
  }

  /** G9: streaming incremental novelty — C15's "which arriving
    * documents are genuinely new against the already-ingested
    * corpus" run AT INGEST instead of as a batch afterthought. The
    * old corpus's Bloom filter is built ONCE (driver, bounded bytes)
    * and probes every micro-batch MAP-SIDE, so the overwhelming
    * majority of a fresh crawl never enters a join; only Bloom
    * positives reach the stream-static LEFT ANTI verify against the
    * old corpus's distinct content — which is persisted, because the
    * static side of a stream-static join re-executes per micro-batch
    * and re-scanning + re-distinct-ing the old corpus every batch
    * would dwarf the map-side-probe savings. The Bloom build runs
    * over the SAME persisted frame (its count sizes the filter), so
    * the old corpus is scanned exactly once at setup. Exact output,
    * same contract as the batch operator: the filter sizes the join,
    * never decides membership. Within-stream duplicates are
    * [[dedupStream]]'s job (compose them); this operator's streaming
    * state is ZERO — both branches are stateless maps/joins, so no
    * watermark is required.
    */
  def incrementalNoveltyStreamManaged(old: DataFrame, stream: DataFrame,
      fpp: Double = 0.01): NoveltyServing = {
    val oldDistinct = old.select(col("text")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nOld = math.max(oldDistinct.count(), 1L)
    val bloom = oldDistinct.stat.bloomFilter("text", nOld, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    // NULL text probes NULL → coalesce keeps the row as new, same
    // three-valued-logic guard as the batch C15
    val flagged = stream.withColumn("maybe_seen", coalesce(
      graft.functions.GraftFunctions.bloomMightContain(col("text"), bytes),
      lit(false)))
    val definiteNew = flagged.filter(!col("maybe_seen"))
    val verifiedNew = flagged.filter(col("maybe_seen"))
      .join(oldDistinct, Seq("text"), "left_anti")
    NoveltyServing(
      definiteNew.drop("maybe_seen")
        .unionByName(verifiedNew.drop("maybe_seen")),
      oldDistinct)
  }

  /** G15: streaming near-dup screening against a stored C32 winnow
    * index — the NEAR-dup counterpart of G9's exact-novelty screen: a
    * (ts, doc_id, text) stream fingerprints MAP-SIDE (stateless; the
    * winnowing selection is one projection), candidate matches come
    * from a stream-static join against the persisted capped
    * fingerprint index, and the per-(new doc, indexed doc) shared
    * count folds under the `ts` watermark — the only state. A new
    * document sharing a ≥ w+k−1 token run with any indexed document
    * surfaces in its own micro-batch, identical arithmetic to the
    * batch [[graft.operators.Dedup.winnowNewPairs]] (spec-pinned).
    */
  def winnowScreenStream(db: graft.catalog.GraftDatabase, name: String,
      stream: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val meta = db.read(s"${name}_meta").collect()(0)
    val fp = graft.operators.Dedup.winnowFingerprintsOf(
        stream.withWatermark("ts", watermark),
        meta.getAs[Int]("k"), meta.getAs[Int]("w"),
        meta.getAs[Boolean]("portable"), carry = Seq("ts"))
      .select(col("ts"), col("doc_id").as("new_doc_id"), col("h"))
      .dropDuplicates("ts", "new_doc_id", "h")
    fp.join(db.read(s"${name}_fp"), Seq("h"))
      .groupBy(col("ts"), col("new_doc_id"),
        col("doc_id").as("index_doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** F7 streaming screen (r15): the pHash near-dup counterpart of
    * [[winnowScreenStream]] — a (ts, doc_id, text) media stream
    * hashes MAP-SIDE (stateless one-pass DHash64 + band explode),
    * candidates come from a stream-static join against the capped
    * `{name}_bands` index of
    * [[graft.operators.Multimodal.buildPhashIndex]], and the Hamming
    * verify is a per-row bit_count — the only state is the
    * watermarked per-pair dedup (a pair surfaces once per shared
    * band; `dropDuplicates` under the `ts` watermark is the
    * append-mode-legal distinct). A new image within Hamming ≤
    * maxHamming of any indexed one surfaces in its own micro-batch,
    * identical arithmetic to the batch
    * [[graft.operators.Multimodal.phashNewPairs]] (spec-pinned).
    */
  def phashScreenStream(db: graft.catalog.GraftDatabase, name: String,
      stream: DataFrame, maxHamming: Int = 3,
      watermark: String = "1 hour"): DataFrame =
    graft.operators.Multimodal.phashScreenRows(db, name,
        stream.withWatermark("ts", watermark), maxHamming,
        carry = Seq("ts"))
      .dropDuplicates("ts", "new_doc_id", "index_doc_id")

  /** G23: streaming split assignment (r15) — a (ts, doc_id, text)
    * stream of arriving documents routed into the stored C40c split
    * artifact's train/valid/test/quarantine, per
    * [[graft.operators.Pipeline.splitAssignServed]]'s per-doc
    * decision table: fingerprints map-side (stateless native pass,
    * `explode_outer` so even docs too short to fingerprint decide),
    * candidates from a stream-static LEFT join against the stored
    * fingerprint index, split attach from the stored `{name}_split`
    * table, then the pair-count and per-doc decision folds under the
    * `ts` watermark (G5's chained-stateful shape). Identical
    * arithmetic to the batch serve, spec-pinned.
    */
  def splitAssignStream(db: graft.catalog.GraftDatabase, name: String,
      stream: DataFrame, minShared: Int = 1,
      watermark: String = "1 hour"): DataFrame =
    graft.operators.Pipeline.splitAssignRows(db, name,
      stream.withWatermark("ts", watermark), minShared,
      carry = Seq("ts"))
}
