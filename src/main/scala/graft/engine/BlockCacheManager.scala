package graft.engine

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** LRU cache of resident blocks.
  *
  * The reference keeps an LRU dict of Arrow tables keyed by row-group
  * id on one node (reference: block_cache.py:1-63). Here a resident
  * block is an RDD its owner hands in — for [[GraftEngine]], one file's
  * slice of the table scan as compressed columnar batches. `put`
  * `persist()`s it into Spark's block manager (executor memory,
  * spilling to disk) and eviction `unpersist()`s it. No query plan keys
  * an entry, so two caches over the same files never share one, and
  * one cache's eviction never drops another's block. Capacity is
  * entry-count-based like the reference; the entries themselves are
  * distributed.
  */
final class BlockCacheManager[T](capacity: Int,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK) {

  private val lru = new java.util.LinkedHashMap[String, RDD[T]](16, 0.75f, true)
  private var hitCount = 0L
  private var missCount = 0L

  def get(key: String): Option[RDD[T]] = synchronized {
    val v = Option(lru.get(key))
    if (v.isDefined) hitCount += 1 else missCount += 1
    v
  }

  /** Presence probe that neither bumps the hit/miss counters nor
    * refreshes LRU recency — for the prefetch service's "already
    * cached?" check. The counters measure SERVING accesses (the
    * reference's hit-rate metric); a background existence probe is not
    * a serve, and counting it would distort the prefetch A/B's
    * hit-rate exactly where it matters. */
  def peek(key: String): Boolean = synchronized(lru.containsKey(key))

  /** Cache a block; evicts LRU entries beyond capacity. Returns the
    * persisted RDD (materialization is caller-triggered). */
  def put(key: String, rdd: RDD[T]): RDD[T] = synchronized {
    if (!lru.containsKey(key)) {
      lru.put(key, rdd.persist(level))
      while (lru.size() > capacity) {
        val eldest = lru.entrySet().iterator().next()
        eldest.getValue.unpersist(blocking = false)
        lru.remove(eldest.getKey)
      }
      rdd
    } else lru.get(key)
  }

  def hits: Long = synchronized(hitCount)
  def misses: Long = synchronized(missCount)
  def size: Int = synchronized(lru.size())

  def clear(): Unit = synchronized {
    lru.values().forEach(_.unpersist(blocking = false))
    lru.clear()
  }
}
