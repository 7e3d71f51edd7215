package graft.operators

import org.apache.spark.sql.DataFrame

/** Bounded cache bookkeeping for operators that persist an intermediate
  * (two-pass samplers, LSH bucket projections). Spark's CacheManager never
  * releases a persisted plan on its own, so repeated operator calls would
  * each pin a dead copy of their input. Swapping through this registry
  * unpersists the PREVIOUS cache under the same key — the steady-state
  * footprint is at most one cached dataset per operator, regardless of how
  * many times a driver session invokes it. */
object CacheRegistry {
  private val last = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def swap(key: String, df: DataFrame): DataFrame = {
    val prev = last.put(key, df)
    if (prev != null && (prev ne df)) {
      try prev.unpersist(blocking = false)
      catch { case _: Exception => () }
    }
    df
  }

  private val rotating =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.ArrayDeque[DataFrame]]()

  /** Like `swap`, but keeps the `keep` most recent caches under `prefix`
    * live before unpersisting the oldest. For operators whose cached
    * intermediate must survive until a DEFERRED action (e.g. the sampler's
    * pass-2 result consumed after a second sampler is built): footprint
    * stays bounded at `keep` datasets per prefix while adjacent
    * invocations can't evict each other's pinned partitioning.
    *
    * Eviction past the window is SAFE, not silent: an evicted sampler
    * cache recomputes — identically under a deterministic lineage, and
    * under a nondeterministic one the consumer's own pass-2 per-partition
    * checksum validation (Sampling.withRunningSum) fails loudly rather
    * than emitting wrong rows. The window only bounds how many pipelines
    * can be interleaved before paying a recompute. */
  def swapRotating(prefix: String, df: DataFrame, keep: Int = 4): DataFrame = {
    val dq = rotating.computeIfAbsent(prefix, _ => new java.util.ArrayDeque[DataFrame]())
    dq.synchronized {
      // Spark's CacheManager keys a cache on its plan: a dataset whose plan
      // is already in the window reads that entry's cache, so it replaces
      // the entry, whose eviction would otherwise unpersist a live cache
      dq.removeIf(old => old.sameSemantics(df))
      dq.addLast(df)
      while (dq.size > keep) {
        val old = dq.removeFirst()
        if (old ne df) {
          try old.unpersist(blocking = false)
          catch { case _: Exception => () }
        }
      }
    }
    df
  }

  /** Takes `df` out of the `prefix` window and unpersists it: for a cache
    * whose rows a filled successor holds, so that only one copy stays. */
  def release(prefix: String, df: DataFrame): Unit = {
    val dq = rotating.get(prefix)
    if (dq != null) dq.synchronized { dq.removeIf(old => old.sameSemantics(df)) }
    try df.unpersist(blocking = false)
    catch { case _: Exception => () }
  }

  /** Unpersist every registered cache (both keyed and rotating). For
    * harnesses (Bench) that need a pristine-memory state between sections —
    * leftover persisted LSH projections / sampler partitions from earlier
    * queries otherwise occupy storage memory and skew later timings. */
  def clearAll(): Unit = {
    val it = last.values().iterator()
    while (it.hasNext) {
      try it.next().unpersist(blocking = true)
      catch { case _: Exception => () }
    }
    last.clear()
    val rit = rotating.values().iterator()
    while (rit.hasNext) {
      val dq = rit.next()
      dq.synchronized {
        while (!dq.isEmpty) {
          try dq.removeFirst().unpersist(blocking = true)
          catch { case _: Exception => () }
        }
      }
    }
    rotating.clear()
  }
}
