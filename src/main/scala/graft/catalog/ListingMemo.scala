package graft.catalog

import org.apache.spark.sql.SparkSession

/** A driver-side value derived from parquet dirs, kept while they do
  * not change: the one freshness policy behind the served LM and
  * Moore-Lewis broadcast models, the shuffle rank C22 and C27 share,
  * and the footer statistics of [[graft.sources.ParquetStats]].
  *
  * A value stays valid while two things hold:
  *   - the SparkContext's `applicationId` is the one it was computed
  *     under: a Broadcast or a planned DataFrame dies with its
  *     context, so a restarted session recomputes instead of serving
  *     a dead handle;
  *   - every one of the key's dirs lists the same
  *     ([[graft.sources.ParquetStats.listingSig]]): an O(files)
  *     driver metadata call, no Spark job, so a rewrite from another
  *     process invalidates too.
  * Otherwise it is recomputed under a per-key lock, so two threads
  * cold-getting one key compute once. Only `Some` results are
  * stored; an unlistable dir answers None without computing (the
  * caller takes its uncached route). Values are kept per key, not per
  * signature, in an access-ordered LRU of [[ListingMemo.Capacity]]:
  * a rewrite replaces its dir's entry, and a long-lived driver
  * serving many corpora evicts instead of accumulating.
  *
  * A caller whose answer depends on more than the dirs filters the
  * hit itself: the LM call sites serve a memoized model of N rows
  * only to a `maxBroadcastModel` ≥ N, so a tight explicit cap still
  * gets the join path whatever a looser call memoized.
  */
final class ListingMemo[V] {

  private final class Entry(val stamp: Seq[String], val value: V)

  private val entries = new java.util.LinkedHashMap[String, Entry](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Entry]): Boolean =
      size > ListingMemo.Capacity
  }

  // one lock object per key ever seen, as bounded as the distinct
  // dirs a process reads
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The value for `key`, computed by `compute` unless the stored one
    * is still fresh for `dirs`. */
  def get(spark: SparkSession, key: String, dirs: Seq[String])(
      compute: => Option[V]): Option[V] = {
    val sigs = dirs.map(graft.sources.ParquetStats.listingSig(spark, _))
    if (sigs.exists(_.isEmpty)) return None
    // taken before compute: a rewrite during it leaves a stale stamp
    val stamp = spark.sparkContext.applicationId +: sigs.flatten
    def fresh = entries.synchronized(Option(entries.get(key)))
      .filter(_.stamp == stamp).map(_.value)
    fresh.orElse(locks.computeIfAbsent(key, _ => new Object()).synchronized {
      fresh.orElse {
        val v = compute
        v.foreach(x =>
          entries.synchronized(entries.put(key, new Entry(stamp, x))))
        v
      }
    })
  }

  /** Drop `key`'s value: the next [[get]] computes. */
  def invalidate(key: String): Unit = entries.synchronized {
    entries.remove(key); ()
  }

  /** Keys held, least recently used first. */
  private[graft] def keys: Seq[String] = entries.synchronized(
    entries.keySet.toArray(Array.empty[String]).toSeq)
}

object ListingMemo {
  /** Values one memo holds. */
  val Capacity = 8
}
