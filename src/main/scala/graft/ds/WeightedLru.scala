package graft.ds

/** Access-ordered LRU under an entry cap and a total weight budget, for
  * the driver's caches. The most recently put entry always survives,
  * even alone over budget: it was just computed, and evicting it would
  * guarantee a recompute on the very next call. */
private[ds] class WeightedLru[V](maxEntries: Int, budget: Long, weight: (String, V) => Long) {
  // accessOrder = true: get() refreshes recency, so iteration order
  // is LRU-first and eviction pops genuinely cold entries
  private[this] val m = new java.util.LinkedHashMap[String, V](16, 0.75f, true)
  private[this] var used: Long = 0L

  def get(key: String): V = synchronized(m.get(key))

  def put(key: String, v: V): Unit = synchronized {
    val prev = m.put(key, v)
    if (prev != null) used -= weight(key, prev)
    used += weight(key, v)
    val it = m.entrySet().iterator() // LRU-first; the fresh put is last
    while ((m.size > maxEntries || used > budget) && m.size > 1) {
      val eldest = it.next()
      used -= weight(eldest.getKey, eldest.getValue)
      it.remove()
    }
  }

  def size: Int = synchronized(m.size)
  def retained: Long = synchronized(used)
  def keys: Seq[String] =
    synchronized(scala.jdk.CollectionConverters.SetHasAsScala(m.keySet()).asScala.toSeq)
}
