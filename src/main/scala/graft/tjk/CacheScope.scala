package graft.tjk

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Caller-facing release hook for intermediates an operator persists on the
  * caller's behalf (exact-dedup fingerprints, shingle fan-outs, MinHash /
  * SimHash signatures, LSH subplans).
  *
  * Those frames are private to the operator — the caller never sees them, so
  * without a hook it CANNOT unpersist them, and repeated operator calls in a
  * long-lived session accumulate cached frames until executor-LRU pressure
  * evicts them (ADVICE r4 item 2). Pass a scope, materialize the result, then
  * `release()`:
  *
  * {{{
  * val scope = new CacheScope
  * val out = TextOps.ngramJaccardPairs(docs, 0.8, scope = scope)
  * out.write.parquet(...)   // materialize FIRST — release() drops the caches
  * scope.release()          // the plan stays valid, it just recomputes
  * }}}
  *
  * Releasing before the result is consumed is safe for correctness (Spark
  * recomputes the unpersisted subplans) but forfeits the dedup the persist
  * bought. The default [[CacheScope.unmanaged]] keeps today's semantics:
  * intermediates stay cached until LRU eviction or a session-level
  * `catalog.clearCache()` (what Verify/Bench do between queries).
  */
final class CacheScope {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` at MEMORY_AND_DISK (the level `Dataset.cache()` uses) and
    * track it for [[release]].
    */
  private[graft] def persist(df: DataFrame): DataFrame = synchronized {
    frames += df.persist(StorageLevel.MEMORY_AND_DISK); df
  }

  /** Unpersist every tracked frame and forget it. Idempotent. */
  def release(blocking: Boolean = false): Unit = synchronized {
    frames.foreach(_.unpersist(blocking)); frames.clear()
  }

  /** Number of currently-tracked frames (test/diagnostic surface). */
  def size: Int = synchronized(frames.length)
}

object CacheScope {
  /** A scope nobody releases — operator intermediates live until executor
    * LRU eviction or a session cache clear, exactly the pre-hook behavior.
    */
  def unmanaged: CacheScope = new CacheScope
}
