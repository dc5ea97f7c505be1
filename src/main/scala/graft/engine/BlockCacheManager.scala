package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** LRU cache of materialized block scans.
  *
  * The reference keeps an LRU dict of Arrow tables keyed by row-group
  * id on one node (reference: block_cache.py:1-63). On a cluster the
  * cache *is* Spark's block manager — executor memory/disk, spilled and
  * replicated by Spark — so graft's cache manager decides *which* block
  * DataFrames stay `persist()`ed and evicts least-recently-used entries
  * via `unpersist()`. Capacity is entry-count-based like the reference;
  * the entries themselves are distributed.
  */
final class BlockCacheManager(capacity: Int,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK) {

  private val lru = new java.util.LinkedHashMap[String, DataFrame](16, 0.75f, true)
  private var hitCount = 0L
  private var missCount = 0L

  def get(key: String): Option[DataFrame] = synchronized {
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

  /** Cache a block scan; evicts LRU entries beyond capacity. Returns
    * the persisted DataFrame (materialization is caller-triggered). */
  def put(key: String, df: DataFrame): DataFrame = synchronized {
    if (!lru.containsKey(key)) {
      val persisted = df.persist(level)
      lru.put(key, persisted)
      while (lru.size() > capacity) {
        val eldest = lru.entrySet().iterator().next()
        eldest.getValue.unpersist(blocking = false)
        lru.remove(eldest.getKey)
      }
      persisted
    } else lru.get(key)
  }

  def hits: Long = synchronized(hitCount)
  def misses: Long = synchronized(missCount)
  def size: Int = synchronized(lru.size())
  def keys: Seq[String] = synchronized {
    import scala.jdk.CollectionConverters._
    lru.keySet().asScala.toSeq
  }

  def clear(): Unit = synchronized {
    lru.values().forEach(_.unpersist(blocking = false))
    lru.clear()
  }
}
