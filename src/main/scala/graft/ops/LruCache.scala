package graft.ops

/** Minimal thread-safe bounded LRU memo (access-ordered
  * java.util.LinkedHashMap with eldest-entry eviction). Used for
  * driver-side caches whose entries are expensive to rebuild — e.g.
  * [[Similarity]]'s IVF centroid sets — where a clear-all at the bound
  * would trigger a thundering rebuild of every hot entry at once.
  *
  * getOrElseUpdate holds the lock across a miss's build, so concurrent
  * callers of the SAME key build once; different-key builds serialize
  * too — acceptable here because builds are rare (one per table
  * content) and bounded (two Spark jobs). */
private[graft] final class LruCache[K, V](val max: Int) {
  require(max > 0, s"LruCache bound must be positive, got $max")
  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      this.size() > max
  }
  def getOrElseUpdate(k: K, build: => V): V = map.synchronized {
    val hit = map.get(k) // access-order bump on hit
    if (hit != null) hit
    else { val v = build; map.put(k, v); v }
  }
  def size: Int = map.synchronized(map.size())
  def keys: Seq[K] = map.synchronized {
    // iteration order = least → most recently used
    scala.jdk.CollectionConverters.SetHasAsScala(map.keySet()).asScala.toSeq
  }
}
