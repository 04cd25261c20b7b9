package graft.tjk

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one owner of a persisted frame's lifetime: every persist in the
  * engine goes through a scope, and a scope's `release()` unpersists what it
  * tracks. Releasing early is always safe for correctness (Spark recomputes
  * an unpersisted subplan from its lineage); it only forfeits the reuse the
  * persist bought.
  *
  * The one rule, by who consumes the persisted frame:
  *  - consumed before the function returns (a collected report, a loop of
  *    collects, a localized aggregate) → [[CacheScope.using]], which releases in
  *    a `finally`, also when the body throws;
  *  - read by a lazy frame the function returns (operator intermediates such
  *    as exact-dedup fingerprints, shingle fan-outs, LSH signatures) → the
  *    caller's scope (`scope =`), released by the caller after it
  *    materializes the result:
  *
  * {{{
  * val scope = new CacheScope
  * val out = TextOps.ngramJaccardPairs(docs, 0.8, scope = scope)
  * out.write.parquet(...)   // materialize FIRST — release() drops the caches
  * scope.release()          // the plan stays valid, it just recomputes
  * }}}
  *
  * [[CacheScope.unmanaged]] is a scope nobody releases; use it only where the
  * caller is the catalog harness, whose between-query `clearCache()` frees it.
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
  /** Runs `body` with a fresh scope and releases it afterwards, whether
    * `body` returns or throws. `body` must consume its persists before it
    * returns: a lazy frame it hands back would recompute them.
    */
  def using[T](body: CacheScope => T): T = {
    val scope = new CacheScope
    try body(scope) finally scope.release()
  }

  /** A scope nobody releases: its frames live until executor LRU eviction
    * or a session cache clear (what Bench, Verify and `Dev` do between
    * queries).
    */
  def unmanaged: CacheScope = new CacheScope
}
