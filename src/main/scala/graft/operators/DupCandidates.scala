package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The round-6 duplicate-candidate prefilter, shared by the dedup family
  * (ExactDedup, UrlDedup, SentenceDedup, ExactSubstrDedup).
  *
  * First-occurrence / best-of-group dedup only ever needs the rows whose
  * key occurs MORE THAN ONCE: a key-unique row is the single member of its
  * group — its own representative — so it can be assigned locally and must
  * never ride the group-by/join exchanges. The key aggregate shuffles ONLY the key
  * (+ an 8-byte partial count, map-side combined, hash-agg — no sort) and
  * the callers broadcast-LEFT-SEMI-join the input against that small set.
  *
  * Scale contract (round 7: now ENFORCED at runtime, not just documented):
  * the distinct duplicated-key set must fit a broadcast. [[guardedDupKeys]]
  * materializes the key+count aggregate once, sizes it with a single cheap
  * action, and only hands the caller a broadcastable set when it is below
  * [[maxBroadcastKeys]]; past the threshold the caller falls back to its
  * single-pass (no-prefilter) shape instead of OOMing the driver on a
  * mass-dup corpus. Size the decision on the KEY set (keys are 8-64 bytes
  * here), never on group payloads — payload columns must not be broadcast
  * through this helper.
  *
  * By design the sizing is one EAGER action at operator-construction time
  * (the resulting plan SHAPE depends on the statistics, like AQE's runtime
  * re-planning but before the query starts): constructing a prefilter-ON
  * dedup operator launches a key-only Spark job even if the returned
  * DataFrame is never executed, and these operators therefore accept only
  * batch inputs, not streaming DataFrames. */
private[graft] object DupCandidates {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Spark conf key for the broadcast guard threshold (distinct duplicated
    * KEYS, not rows). Default sizing: 8-byte keys build a driver-side
    * LongHashedRelation at ~20-30 bytes/key, so 2×10^7 keys ≈ 0.5 GB of
    * driver+executor broadcast memory — comfortably inside a production
    * driver while still covering any realistically-boilerplated web corpus
    * (the duplicated-key set of a mostly-unique corpus is orders below
    * this). A corpus past the threshold is mass-dup, which is exactly the
    * regime where the prefilter saves nothing anyway (most rows are
    * candidates), so the fallback is also the better plan. */
  val MaxBroadcastKeysConf = "spark.graft.dedup.maxBroadcastKeys"
  val DefaultMaxBroadcastKeys: Long = 20000000L

  /** Byte budget for the broadcast key set (ADVICE r7 #1): the key-COUNT
    * budget was sized for 8-byte keys, but string-keyed callers (UrlDedup's
    * normalized urls run ~100-300 bytes each) could fit the count budget
    * while building a multi-GB broadcast. The sizing action therefore also
    * sums the raw key bytes (string/binary length; 8 per fixed-width key)
    * and the guard requires BOTH budgets. Default 160 MB of raw key bytes =
    * the same driver/executor footprint the 2×10^7 × 8-byte default was
    * sized for (per-key JVM overhead dominates either way). */
  val MaxBroadcastKeyBytesConf = "spark.graft.dedup.maxBroadcastKeyBytes"
  val DefaultMaxBroadcastKeyBytes: Long = 160000000L

  def maxBroadcastKeys(df: DataFrame): Long =
    df.sparkSession.conf
      .get(MaxBroadcastKeysConf, DefaultMaxBroadcastKeys.toString).toLong

  def maxBroadcastKeyBytes(df: DataFrame): Long =
    df.sparkSession.conf
      .get(MaxBroadcastKeyBytesConf, DefaultMaxBroadcastKeyBytes.toString).toLong

  /** Distinct keys of `df` occurring more than once, with their counts.
    * Map-side partial aggregation absorbs hot keys before the exchange, so
    * a key shared by millions of rows costs one combiner cell per map
    * task, not a skewed reducer. */
  private def dupKeysWithCounts(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1)

  /** Result of the runtime guard: `keys` is the broadcastable duplicated-
    * key set (None = over budget, caller must fall back to its unhinted /
    * single-pass shape), `nDupKeys` its cardinality, and `maxKeyCount` the
    * occurrence count of the HOTTEST key — the skew statistic callers use
    * to auto-flip hot-key mitigations (ExactSubstrDedup's groupBy-min).
    * Both statistics are valid even when `keys` is None. */
  final case class Guarded(keys: Option[DataFrame], nDupKeys: Long, maxKeyCount: Long)

  /** Materialized, runtime-guarded duplicated-key set. One extra Spark
    * action (a count+max over the persisted key aggregate — key-only
    * shuffle, map-side combined) buys the decision the round-6 design left
    * to a manual flag: broadcast-semi below the key budget, single-pass
    * fallback above it. The aggregate is persisted through CacheRegistry
    * so the sizing action and the caller's semi/anti probes share one
    * computation (this also closes the dupTh double-execution hazard —
    * the lineage runs once, not per consumer).
    *
    * The sizing persist is DISK_ONLY (review-caught, round 7): on a
    * mass-dup corpus the aggregate can be arbitrarily large, and
    * materializing it into storage MEMORY just to read two numbers would
    * evict other cached data in exactly the regime the guard exists to
    * protect. Disk-only bounds the collateral to transient local-disk
    * churn (comparable to the sizing pass's own shuffle files, removed on
    * the over-budget unpersist) while keeping the common path single-pass
    * — sizing ExactSubstr's expensive span-hash stream twice instead
    * measured +25% phase time / +1.7 GB exchange at 2M. The under-budget
    * consumers (two broadcast collects of an ≤[[maxBroadcastKeys]]-key
    * set) read megabytes back from page-cached disk, which is noise. */
  def guardedDupKeys(df: DataFrame, keyCols: Seq[String], cacheKey: String): Guarded = {
    val dk = CacheRegistry.swapRotating(cacheKey,
      dupKeysWithCounts(df, keyCols)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    // per-key raw byte estimate: variable-width keys count their real
    // length, fixed-width keys count 8 — summed in the SAME sizing action
    // (no extra pass), so string-keyed callers are guarded in bytes too
    val keyByteCols = keyCols.map { k =>
      df.schema(k).dataType match {
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.BinaryType =>
          coalesce(length(col(k)).cast("long"), lit(0L))
        case _ => lit(8L)
      }
    }
    val stats = dk.agg(count(lit(1)).as("k"), max(col("__n")).as("m"),
      sum(keyByteCols.reduce(_ + _)).as("b")).head()
    val nKeys = stats.getLong(0)
    val maxN = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val keyBytes = if (stats.isNullAt(2)) 0L else stats.getLong(2)
    val budget = maxBroadcastKeys(df)
    val byteBudget = maxBroadcastKeyBytes(df)
    if (nKeys <= budget && keyBytes <= byteBudget)
      Guarded(Some(dk.select(keyCols.map(col): _*)), nKeys, maxN)
    else {
      log.warn(s"DupCandidates[$cacheKey]: $nKeys duplicated keys / $keyBytes " +
        s"key bytes exceed the broadcast budget ($budget keys " +
        s"[$MaxBroadcastKeysConf] / $byteBudget bytes " +
        s"[$MaxBroadcastKeyBytesConf]) — mass-dup corpus; falling back to " +
        "the single-pass shape (no broadcast, no prefilter)")
      try dk.unpersist(blocking = false) catch { case _: Exception => () }
      Guarded(None, nKeys, maxN)
    }
  }
}
