package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Release persisted intermediates without leaking them for the
  * session lifetime (operators return lazy DataFrames, so they cannot
  * unpersist before the caller's action has actually run).
  *
  * [[unpersistAfterUse]] registers a QueryExecutionListener that
  * drops the cache entry after the FIRST completed action whose plan
  * contains the cached frame, then unregisters itself. Long-lived
  * sessions (notebooks, Verify dumps) thus hold at most one in-flight
  * cached intermediate per operator call instead of accumulating one
  * per invocation. Re-running the same returned DataFrame after its
  * first action recomputes instead of hitting cache — correct, just
  * cold; callers that want repeated fast actions should persist the
  * RESULT themselves.
  */
object CacheHygiene {

  // Spark's CacheManager keys entries by the canonicalized plan, so
  // two invocations of the same operator SHARE one cache entry. A
  // stale listener (from a call whose frame was never actioned — a
  // plan-only inspection) must not clobber a newer call's live cache:
  // each registration takes a token per canonical plan, and only the
  // CURRENT token's listener may unpersist. Older listeners just
  // unregister when they match.
  //
  // Keyed by the canonicalized PLAN (structural equality — the same
  // relation CacheManager itself keys by), not its 32-bit
  // semanticHash: a hash collision between two different cached
  // frames would let the newer registration overwrite the older's
  // token, so the older cache would never be unpersisted — precisely
  // the leak class this module exists to prevent.
  private val tokens = new ConcurrentHashMap[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long]()
  private val counter = new AtomicLong()

  /** A listener whose frame is never actioned self-retires (and
    * releases the orphaned persist) once this old, instead of staying
    * registered for the session lifetime. Checked on event delivery,
    * so retirement rides the next completed action of ANY query.
    */
  private val StaleRetireNs = 30L * 60 * 1000 * 1000 * 1000

  /** `df` persisted MEMORY_AND_DISK, unless its plan is cached
    * already. Spark keys its cache by plan, and an operator's cache is
    * released only after the listener bus delivers its consuming
    * action (or never, for a frame only planned), so a second operator
    * over the same plan (the embeddings vectors, a corpus's shingle
    * hashes) would otherwise persist it again: Spark ignores that and
    * logs `Asked to cache already cached data`. The earlier persist
    * serves both, and the newer [[unpersistAfterUse]] registration
    * owns its release.
    */
  def persist(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Arrange for `cached` (already persisted by the caller) to be
    * unpersisted after the next completed action that consumes it.
    * Returns `cached` for chaining.
    *
    * Listener events are delivered asynchronously, so an eager job
    * the caller ran BEFORE this call (the dedup rarity sketch, a
    * bloom build) could otherwise have its completion event arrive
    * after registration and release the cache prematurely — the bus
    * is drained first so registration is a real happens-after fence.
    */
  def unpersistAfterUse(cached: DataFrame): DataFrame = {
    org.apache.spark.GraftListenerBridge.drainListenerBus(
      cached.sparkSession.sparkContext)
    val lm = cached.sparkSession.listenerManager
    val target = cached.queryExecution.analyzed
    val key = target.canonicalized
    val token = counter.incrementAndGet()
    tokens.put(key, token)
    val listener = new QueryExecutionListener {
      private val registeredAt = System.nanoTime()
      private def maybeRelease(qe: QueryExecution): Unit = {
        val consumed =
          try qe.analyzed.exists(_.sameResult(target))
          catch { case _: Throwable => false }
        if (consumed) {
          // only the latest registration for this plan owns the
          // (shared) cache entry; a stale listener silently retires
          if (tokens.remove(key, token))
            cached.unpersist(blocking = false)
          lm.unregister(this)
        } else if (System.nanoTime() - registeredAt > StaleRetireNs) {
          // never-actioned frame: release the orphaned persist (cold
          // recompute if someone actions it later — correct, and
          // better than a session-lifetime cache + listener leak)
          if (tokens.remove(key, token))
            cached.unpersist(blocking = false)
          lm.unregister(this)
        }
      }
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = maybeRelease(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = maybeRelease(qe)
    }
    lm.register(listener)
    cached
  }
}
