package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._

/** The round-6 duplicate-candidate prefilter, shared by the dedup family
  * (ExactDedup and UrlDedup through [[firstWins]], ExactSubstrDedup) and
  * the posture's doc-id distinct in `RunPipeline.postureDedupChain`.
  *
  * First-occurrence / best-of-group dedup only ever needs the rows whose
  * key occurs MORE THAN ONCE: a key-unique row is the single member of its
  * group — its own representative — so it can be assigned locally and must
  * never ride the group-by/join exchanges. The key aggregate shuffles ONLY the key
  * (+ an 8-byte partial count, map-side combined, hash-agg — no sort) and
  * the callers broadcast-LEFT-SEMI-join the input against that small set.
  *
  * Key contract: every guard key is FIXED WIDTH (a 64-bit hash in every
  * caller). A variable-width value that decides equality — a text, a
  * normalised url — is hashed to the key and confirmed only on the
  * candidate rows whose key collides ([[firstWins]]' confirm column), so a
  * string never rides the key aggregate or a broadcast. [[guardedDupKeys]]
  * refuses any other key type before a job runs.
  *
  * Scale contract (round 7: ENFORCED at runtime, not just documented):
  * the distinct duplicated-key set must fit a broadcast. [[guardedDupKeys]]
  * materializes the key+count aggregate once, sizes it with a single cheap
  * action, and only hands the caller a broadcastable set when it is below
  * [[maxBroadcastKeys]]; past the threshold the caller falls back to its
  * single-pass (no-prefilter) shape instead of OOMing the driver on a
  * mass-dup corpus. With fixed-width keys the key count alone bounds the
  * broadcast's bytes. Payload columns must not be broadcast through this
  * helper.
  *
  * By design the sizing is one EAGER action at operator-construction time
  * (the resulting plan SHAPE depends on the statistics, like AQE's runtime
  * re-planning but before the query starts): constructing a guarded
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
    * candidates), so the fallback is also the better plan. 0 broadcasts
    * nothing, not even an empty set: every caller takes its single-pass
    * shape (the reference shape the specs compare against). */
  val MaxBroadcastKeysConf = "spark.graft.dedup.maxBroadcastKeys"
  val DefaultMaxBroadcastKeys: Long = 20000000L

  def maxBroadcastKeys(df: DataFrame): Long =
    df.sparkSession.conf
      .get(MaxBroadcastKeysConf, DefaultMaxBroadcastKeys.toString).toLong

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
    * fallback above it. The aggregate is a local checkpoint, so the
    * sizing action and the caller's semi/anti probes share one computation
    * (this also closes the dupTh double-execution hazard — the lineage
    * runs once, not per consumer), and the frames that read it own it:
    * Spark's ContextCleaner drops it once they are unreachable.
    *
    * The checkpoint is DISK_ONLY (review-caught, round 7): on a
    * mass-dup corpus the aggregate can be arbitrarily large, and
    * materializing it into storage MEMORY just to read two numbers would
    * evict other cached data in exactly the regime the guard exists to
    * protect. Disk-only bounds the collateral to transient local-disk
    * churn (comparable to the sizing pass's own shuffle files) while
    * keeping the common path single-pass — sizing ExactSubstr's expensive
    * span-hash stream twice instead measured +25% phase time / +1.7 GB
    * exchange at 2M. The under-budget consumers (two broadcast collects of
    * an ≤[[maxBroadcastKeys]]-key set) read megabytes back from
    * page-cached disk, which is noise.
    *
    * `label` names the caller in the log. Every key column must be fixed
    * width (see the key contract above); a string or other variable-width
    * key is refused with an IllegalArgumentException before any job
    * runs. */
  def guardedDupKeys(df: DataFrame, keyCols: Seq[String], label: String): Guarded = {
    keyCols.foreach { k =>
      val t = df.schema(k).dataType
      require(UnsafeRow.isFixedLength(t),
        s"DupCandidates[$label]: key column $k is $t; guard keys must be fixed " +
          "width (hash a variable-width value and confirm it on the candidates)")
    }
    val dk = GraftSqlBridge.localCheckpoint(dupKeysWithCounts(df, keyCols),
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val stats = dk.agg(count(lit(1)).as("k"), max(col("__n")).as("m")).head()
    val nKeys = stats.getLong(0)
    val maxN = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val budget = maxBroadcastKeys(df)
    if (budget > 0 && nKeys <= budget)
      Guarded(Some(dk.select(keyCols.map(col): _*)), nKeys, maxN)
    else {
      log.warn(s"DupCandidates[$label]: $nKeys duplicated keys exceed the " +
        s"broadcast budget of $budget keys [$MaxBroadcastKeysConf] — falling back " +
        "to the single-pass shape (no broadcast, no prefilter)")
      Guarded(None, nKeys, maxN)
    }
  }

  /** First-wins dedup: annotate every row of `df` with `repCol`, the id of
    * its group's representative, and `keepCol` = (representative is the row
    * itself). A group is the rows with equal `key` AND equal `confirmCol`;
    * the representative is the row with the smallest
    * `struct(rank :+ id)`, so ties in `rank` break to the smallest id.
    *
    *  - `key` is a fixed-width Long expression (a 64-bit hash of the
    *    confirm value). It only selects candidates: two rows are
    *    duplicates only when their `confirmCol` values are equal too, so
    *    a hash collision costs a candidate row, never a wrong drop.
    *  - A null `confirmCol` is unknown content, not identical content:
    *    such a row is its own representative.
    *  - Ids must be non-null: a null id sorts first in the rank struct
    *    and would become its group's representative.
    *
    * Shape: [[guardedDupKeys]] sizes the duplicated keys in one action.
    * Under budget, the candidates are a broadcast LEFT SEMI against the
    * key set; the min rank per (key, confirm) is taken over candidates
    * only and joined back inside the candidate subset (both sides small;
    * AQE picks the strategy — no frame carrying `confirmCol` is ever
    * hint-broadcast); the rest is a broadcast LEFT ANTI probe, each row
    * its own representative with no join at all. Over budget, one
    * groupBy(key, confirm) + join-back over the whole input. groupBy-min
    * keeps the hot-key safety of both shapes: map-side partial aggregation
    * absorbs a mass-duplicated group, where a Window.partitionBy would
    * sort it on one reducer. */
  def firstWins(df: DataFrame, key: Column, confirmCol: String, rank: Seq[Column],
                idCol: String, repCol: String, keepCol: String): DataFrame = {
    val keyed = df.withColumn("__k", key)
    val order = struct(rank.zipWithIndex.map { case (c, i) => c.as(s"r$i") } :+
      col(idCol).as("id"): _*)
    def withReps(rows: DataFrame): DataFrame = {
      val reps = rows.groupBy(col("__k"), col(confirmCol).as("__c"))
        .agg(min(order).as("__r"))
        .select(col("__k"), col("__c"), col("__r.id").as(repCol))
      // null-safe keys: null-confirm rows must survive the join (a plain
      // === would silently drop them). reps derives from rows, so both
      // sides are aliased: rows("__k") <=> reps("__k") names one attribute
      // twice, a trivially true predicate Spark warns about.
      rows.as("__rows").join(reps.as("__reps"),
          col("__rows.__k") <=> col("__reps.__k") && col(s"__rows.`$confirmCol`") <=> col("__reps.__c"))
        .select(col("__rows.*"), col(s"__reps.`$repCol`"))
    }
    val annotated = guardedDupKeys(keyed.select("__k"), Seq("__k"), s"firstwins.$repCol")
      .keys match {
      case Some(dupK) =>
        withReps(keyed.join(broadcast(dupK), Seq("__k"), "left_semi")).unionByName(
          keyed.join(broadcast(dupK), Seq("__k"), "left_anti").withColumn(repCol, col(idCol)))
      case None => withReps(keyed)
    }
    annotated
      .withColumn(repCol, when(col(confirmCol).isNull, col(idCol)).otherwise(col(repCol)))
      .withColumn(keepCol, col(repCol) === col(idCol))
      .drop("__k")
  }
}
