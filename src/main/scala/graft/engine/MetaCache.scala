package graft.engine

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Metadata TTL cache with in-flight request dedup — the reference client
  * caches catalog metadata for a short TTL and coalesces concurrent requests
  * for the same key so the tree UI never issues duplicate SHOW/DESCRIBE
  * round-trips (catalogProvider.ts:22-26, 349-377).
  *
  * Serving-layer only: values are small metadata row sets, never data pages.
  * `clock` is injectable for TTL tests.
  */
final class MetaCache[V](
    ttlMillis: Long = 30000,
    clock: () => Long = () => System.currentTimeMillis(),
    maxEntries: Int = 256) {
  import MetaCache.Entry

  private val entries = new ConcurrentHashMap[String, Entry[V]]()
  val hits = new AtomicLong(0)
  val misses = new AtomicLong(0)

  /** Return the cached value for `key`, computing it at most once even under
    * concurrent callers (the loser threads await the winner's in-flight
    * computation instead of re-running it). */
  def getOrCompute(key: String)(compute: => V): V = {
    val now = clock()
    val fresh = Entry(now, scala.concurrent.Promise[V]())
    val prev = entries.compute(key, (_, old) =>
      if (old != null && now - old.at < ttlMillis) old else fresh)
    if (prev ne fresh) {
      hits.incrementAndGet()
      scala.concurrent.Await.result(prev.value.future, scala.concurrent.duration.Duration.Inf)
    } else {
      misses.incrementAndGet()
      // bound the cache: drop expired entries first, then oldest COMPLETED
      // entries (never this key's own in-flight promise, never other
      // in-flight work — awaiting threads hold those futures)
      if (entries.size > maxEntries) {
        entries.entrySet().removeIf(e =>
          e.getKey != key && now - e.getValue.at >= ttlMillis)
        var guard = entries.size - maxEntries
        while (guard > 0 && entries.size > maxEntries) {
          var oldest: String = null
          var oldestAt = Long.MaxValue
          entries.forEach((k, e) =>
            if (k != key && e.value.isCompleted && e.at < oldestAt) {
              oldest = k; oldestAt = e.at
            })
          if (oldest == null) guard = 0
          else { entries.remove(oldest); guard -= 1 }
        }
      }
      try {
        val v = compute
        fresh.value.success(v)
        v
      } catch {
        case e: Throwable =>
          fresh.value.failure(e)
          entries.remove(key, fresh) // don't cache failures
          throw e
      }
    }
  }

  /** Drop everything (metadata-mutating statement observed). */
  def invalidateAll(): Unit = entries.clear()

  /** Drop the entries belonging to one key prefix (e.g. a closed session). */
  def invalidatePrefix(prefix: String): Unit =
    entries.keySet().removeIf(_.startsWith(prefix))

  def size: Int = entries.size
}

object MetaCache {
  private final case class Entry[V](at: Long, value: scala.concurrent.Promise[V])
}
