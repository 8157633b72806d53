package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** [[CacheHygiene.unpersistAfterUse]] — operators persist shared
  * intermediates; the listener must release them after the caller's
  * consuming action instead of stranding them for the session
  * lifetime (the r4 ADVICE leak class).
  */
class CacheHygieneSpec extends AnyFunSuite with SparkTestBase {

  // QueryExecutionListener events arrive asynchronously on the
  // listener bus — poll with a generous timeout.
  private def eventually(timeoutMs: Long = 10000)(cond: => Boolean): Boolean = {
    val t0 = System.currentTimeMillis()
    while (!cond && System.currentTimeMillis() - t0 < timeoutMs)
      Thread.sleep(50)
    cond
  }

  test("cache releases after the consuming action, not before") {
    val cached = Tables(spark, sf, "documents")
      .select(col("doc_id"), length(col("text")).as("n"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    CacheHygiene.unpersistAfterUse(cached)
    assert(cached.storageLevel != StorageLevel.NONE)

    // an UNRELATED action must not release it
    Tables(spark, sf, "nation").count()
    Thread.sleep(500)
    assert(cached.storageLevel != StorageLevel.NONE,
      "released by an action that never consumed the frame")

    // two consumers in one derived plan — the cache serves the action,
    // then releases
    val consumer = cached.filter(col("n") > 0)
      .join(cached.groupBy(col("n")).count(), Seq("n"))
    assert(consumer.count() > 0)
    assert(eventually()(cached.storageLevel == StorageLevel.NONE),
      "cache still resident after its consuming action")
  }

  test("operators over one plan persist it once: no already-cached warning") {
    spark.catalog.clearCache()
    val db = graft.catalog.GraftDatabase(spark, scratch("cache_once") + "/db")
    val vectors = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // planned, not yet actioned: each frame keeps its operator's
    // persist, which the next operator over the same plan meets
    val (planned, lines) = logged {
      val frames = Seq(operators.Ann.ivfTopk(spark, sf),
        operators.IvfPq.annIvfPq(spark, sf),
        operators.Curation.clusterMix(spark, sf),
        operators.Dedup.ngramJaccard(spark, sf),
        operators.Dedup.minhashLsh(spark, sf))
      operators.Ann.buildIvfIndex(db, vectors, "ivf")
      frames
    }
    val twice = lines.filter(_.contains("Asked to cache already cached data"))
    assert(twice.isEmpty, twice.mkString("\n"))
    planned.foreach(_.count())
    spark.catalog.clearCache()
  }

  test("operator-level: fluency leaves no resident cache behind") {
    spark.catalog.clearCache()
    // maxBroadcastVocab=0 forces the JOIN path — the one that
    // persists the per-doc count arrays (the broadcast fast path
    // caches nothing and passes trivially)
    operators.TextQueries.fluency(spark, sf, maxBroadcastVocab = 0).count()
    assert(eventually()(spark.sharedState.cacheManager.isEmpty),
      "fluency stranded a cached intermediate")
  }

  test("operator-level: the dedup pipeline leaves no resident cache") {
    spark.catalog.clearCache()
    operators.Dedup.ngramJaccard(spark, sf).count()
    assert(eventually()(spark.sharedState.cacheManager.isEmpty),
      "ngramJaccard stranded a cached intermediate")
    // smallMaxBytes=0 forces the LARGE-corpus tail — the only path
    // that persists (the small single-plan tail caches nothing and
    // would pass trivially)
    operators.Pipeline.cleanCorpus(spark, sf, smallMaxBytes = 0L).count()
    assert(eventually()(spark.sharedState.cacheManager.isEmpty),
      "cleanCorpus stranded a cached intermediate")
  }
}
