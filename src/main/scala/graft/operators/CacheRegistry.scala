package graft.operators

import org.apache.spark.sql.SparkSession

/** Harness-side cache reset. Operators own their intermediates: each one is
  * a `localCheckpoint(eager = false, level)`, held only by the frames that
  * read it, and Spark's ContextCleaner unpersists it once they are
  * unreachable. A harness that wants a pristine-memory state between
  * sections, without waiting for a GC, calls [[clearAll]]. */
object CacheRegistry {

  /** Drops every cache of the active session: the CacheManager's plans and
    * every persisted RDD, local checkpoints included. A frame that still
    * reads a dropped local checkpoint can no longer run, so call this only
    * between sections whose frames are dead. */
  def clearAll(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach { spark =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
}
