package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashes
import graft.text.{TextKernels, Tokenizer}

/** MinHash + LSH near-duplicate detection, re-expressed Spark-first.
  *
  * Algorithm per the reference (dedup/minhash.py):
  *   - shingles = hash64 of space-joined word `nGrams`-grams of
  *     simplify_text(text)                          (minhash.py:190-210)
  *   - numBuckets×hashesPerBucket permutations h'=(h*a+b) mod (2^61-1),
  *     min per permutation, split into buckets      (minhash.py:164-187)
  *     (like numpy uint64, the multiply wraps mod 2^64 before the mod)
  *   - docs sharing a full bucket signature are duplicate pairs
  *     (stage 2's sorted-file merge ≙ one groupBy shuffle, minhash.py:388-442)
  *   - connected components over pairs; one survivor per cluster
  *     (stage 3's single-node union-find ≙ iterative min-label propagation,
  *     which scales past one node's RAM; survivor = min id per cluster —
  *     deterministic, whereas the reference keeps the structure-dependent
  *     union-find root)
  *
  * The whole flow is 2 shuffles (bucket groupBy + component join rounds) —
  * at 10^12 docs the sig explode is numBuckets rows/doc and the groupBy
  * keys are (bucket, 128-bit band fold), so AQE handles the skewed empty-sig
  * buckets; pair volume ≪ doc volume.
  */
final case class MinhashDedupConfig(
    nGrams: Int = 5,
    numBuckets: Int = 14,
    hashesPerBucket: Int = 8,
    seed: Long = 1L,
    hashFunc: String = "sha1") // "sha1" (fork config) or "xxhash"

object MinhashDedup {
  private val MersennePrime = (1L << 61) - 1

  /** Permutation parameters a (odd-ish, in [1,p)) and b (in [0,p)) derived
    * deterministically from the seed via SplitMix64. (The reference derives
    * them from numpy's MT19937; values differ, distribution and structure
    * are identical — signature equality across engines is not externally
    * observable, similarity properties are, and those are tested.) */
  def parameters(cfg: MinhashDedupConfig): (Array[Long], Array[Long]) = {
    val n = cfg.numBuckets * cfg.hashesPerBucket
    var s = cfg.seed
    def next(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val a = Array.fill(n)(java.lang.Long.remainderUnsigned(next(), MersennePrime - 1) + 1)
    val b = Array.fill(n)(java.lang.Long.remainderUnsigned(next(), MersennePrime))
    (a, b)
  }

  /** Raw minhash vector (numBuckets×hashesPerBucket mins) for one text;
    * None when the text has fewer than nGrams words. Exposed for the
    * similarity-estimation property tests (test_minhash.py:60-75). */
  def minhashes(text: String, cfg: MinhashDedupConfig,
                a: Array[Long], b: Array[Long]): Option[Array[Long]] = {
    val words = Tokenizer.words(TextKernels.simplifyText(text))
    val n = cfg.numBuckets * cfg.hashesPerBucket
    if (words.length < cfg.nGrams) return None
    val useSha1 = cfg.hashFunc == "sha1"
    val mins = Array.fill(n)(-1L)
    var i = 0
    val last = words.length - cfg.nGrams
    while (i <= last) {
      val shingle = words.slice(i, i + cfg.nGrams).mkString(" ")
      val h0 = if (useSha1) Hashes.sha1Hash64(shingle) else Hashes.xxhash64(shingle)
      var k = 0
      while (k < n) {
        val phv = java.lang.Long.remainderUnsigned(h0 * a(k) + b(k), MersennePrime)
        if (java.lang.Long.compareUnsigned(phv, mins(k)) < 0) mins(k) = phv
        k += 1
      }
      i += 1
    }
    Some(mins)
  }

  /** Signature step 1: one 64-bit hash per space-joined `ng`-word shingle
    * (`words.length >= ng`).
    * Each word is UTF-8-encoded ONCE and the sha1 digest is fed
    * incrementally — bit-identical to sha1(joined string) without the
    * per-shingle StringBuilder/String/getBytes round trip (r6). */
  private[graft] def shingleHashes(words: Array[String], ng: Int, useSha1: Boolean): Array[Long] = {
    val wbytes: Array[Array[Byte]] =
      if (useSha1) words.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      else null
    val sb = if (useSha1) null else new java.lang.StringBuilder()
    val last = words.length - ng
    val h0s = new Array[Long](last + 1)
    var i = 0
    while (i <= last) {
      h0s(i) =
        if (useSha1) {
          val md = Hashes.sha1Borrow()
          var j = i
          while (j < i + ng) {
            if (j > i) md.update(' '.toByte)
            md.update(wbytes(j))
            j += 1
          }
          Hashes.sha1DigestToLong64(md.digest())
        } else {
          sb.setLength(0)
          var j = i
          while (j < i + ng) {
            if (j > i) sb.append(' ')
            sb.append(words(j))
            j += 1
          }
          Hashes.xxhash64(sb.toString)
        }
      i += 1
    }
    h0s
  }

  /** Signature step 2: the min of (h*a(k)+b(k)) mod (2^61-1) over all
    * shingles, for each of the `a.length` permutations. The mod is the
    * Mersenne shift-add reduction (exact: v = hi*2^61+lo ≡ hi+lo, one
    * conditional subtract since hi ≤ 7) instead of a 64-bit unsigned divide,
    * and the loop is TRANSPOSED (perm-outer, shingle-inner, 2-way unrolled
    * over perms): a(k)/b(k) and the running min live in registers — measured
    * 1.06 → 0.76 s per 20k docs (r6). Same arithmetic per (shingle, perm)
    * pair as [[minhashes]], so the mins are bit-identical. */
  private[graft] def permutationMins(h0s: Array[Long], a: Array[Long], b: Array[Long]): Array[Long] = {
    val n = a.length
    val nShingles = h0s.length
    val mins = new Array[Long](n)
    var k = 0
    while (k + 1 < n) {
      val a0 = a(k); val b0 = b(k); val a1 = a(k + 1); val b1 = b(k + 1)
      var m0 = -1L; var m1 = -1L // unsigned max
      var i = 0
      while (i < nShingles) {
        val h0 = h0s(i)
        val v0 = h0 * a0 + b0
        var p0 = (v0 & MersennePrime) + (v0 >>> 61)
        if (p0 >= MersennePrime) p0 -= MersennePrime
        if (java.lang.Long.compareUnsigned(p0, m0) < 0) m0 = p0
        val v1 = h0 * a1 + b1
        var p1 = (v1 & MersennePrime) + (v1 >>> 61)
        if (p1 >= MersennePrime) p1 -= MersennePrime
        if (java.lang.Long.compareUnsigned(p1, m1) < 0) m1 = p1
        i += 1
      }
      mins(k) = m0; mins(k + 1) = m1
      k += 2
    }
    if (k < n) { // odd n tail (nb*hpb is even for every shipped config)
      val ak = a(k); val bk = b(k)
      var mn = -1L
      var i = 0
      while (i < nShingles) {
        val v = h0s(i) * ak + bk
        var phv = (v & MersennePrime) + (v >>> 61)
        if (phv >= MersennePrime) phv -= MersennePrime
        if (java.lang.Long.compareUnsigned(phv, mn) < 0) mn = phv
        i += 1
      }
      mins(k) = mn
    }
    mins
  }

  /** Signature step 3: each band's `hpb` mins folded to 128 bits (two
    * independent polynomial accumulators). Everything downstream —
    * window-min, index distinct, left_semi probe — needs EQUALITY only, and
    * the fold cuts the per-(doc,band) shuffle payload from a ~140-byte hex
    * string to 16 bytes (measured 3.6 GB → ~0.7 GB at 2M docs). False
    * band-equality needs both 64-bit folds to collide: ~2^-128 per pair, ≪1
    * expected even at 10^12 docs × 14 bands (same analysis as
    * ExactSubstrDedup.spanHashesFromWordHashes). */
  private[graft] def foldBands(mins: Array[Long], nb: Int, hpb: Int): Array[(Long, Long)] = {
    val out = new Array[(Long, Long)](nb)
    var bi = 0
    while (bi < nb) {
      var f1 = 0L; var f2 = 0L
      var k = bi * hpb
      while (k < (bi + 1) * hpb) {
        f1 = f1 * 0x100000001b3L + mins(k)
        f2 = f2 * 0x9E3779B97F4A7C15L + mins(k)
        k += 1
      }
      out(bi) = (f1, f2)
      bi += 1
    }
    out
  }

  /** Per-doc bucket signatures: the three steps above over
    * `Tokenizer.words(simplify_text(text))`. Empty docs (< nGrams words)
    * yield no rows — they can never be duplicates (matches reference
    * behavior where such docs crash/skip stage 1; we drop them from the sig
    * table). [[minhashes]] keeps the naive remainderUnsigned form as the
    * truth twin; DedupSpec pins fold-equality between the two paths. */
  def signatures(df: DataFrame, idCol: String, textCol: String,
                 cfg: MinhashDedupConfig = MinhashDedupConfig()): DataFrame = {
    val (a, b) = parameters(cfg)
    val nb = cfg.numBuckets
    val hpb = cfg.hashesPerBucket
    val ng = cfg.nGrams
    val useSha1 = cfg.hashFunc == "sha1"

    val sigUdf = udf { text: String =>
      // null text (missing column values in an external corpus/index) has
      // no shingles — pass-through, not an NPE
      val words =
        if (text == null) Array.empty[String]
        else Tokenizer.words(TextKernels.simplifyText(text))
      if (words.length < ng) Array.empty[(Long, Long)]
      else foldBands(permutationMins(shingleHashes(words, ng, useSha1), a, b), nb, hpb)
    }

    df.select(col(idCol).as("doc"), posexplode(sigUdf(col(textCol))).as(Seq("bucket", "sig")))
  }

  /** Duplicate pair edges as (doc → bucket-group representative).
    *
    * Scale note: a collect_list per (bucket, sig) group materializes one
    * array row per group — a mass-duplicated boilerplate doc (millions of
    * identical texts) would build one giant array and OOM an executor.
    * Shape here: window-min with NO orderBy — the physical sort is by the
    * partition key only (all-equal keys in a hot group sort trivially) and
    * WindowExec streams the group with disk spill, never one array row.
    * `doc != rep` already implies group size > 1. A groupBy-min + join-back
    * was measured 16% slower here (the fat sig table would shuffle twice);
    * the window shape completes the 5k-copy skew stress in ScaleShapeSpec. */
  def duplicateEdges(sigs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bucket", "sig")
    sigs
      .withColumn("rep", min("doc").over(w))
      .where(col("doc") =!= col("rep"))
      .select("doc", "rep")
      .distinct()
  }

  /** Connected components: iterative min-label propagation to fixpoint.
    * Each round every node takes the min label over itself + its neighbors
    * (labels flow both ways along edges), then one pointer-jumping step
    * (follow your label's label) halves the remaining distance — so rounds
    * ≈ log2(component diameter). Returns (doc, cluster). */
  /** Driver-side union-find (path compression + union by size — the exact
    * algorithm of the reference's single-worker stage 3, minhash.py:487-508)
    * with min-id cluster labels. Used when the edge set fits comfortably on
    * the driver; duplicate-pair volume ≪ doc volume, so this is the common
    * case even at large scale (the reference runs *all* of FineWeb's pairs
    * through one 25 GB task). */
  private def driverComponents(pairs: Array[(Long, Long)], spark: SparkSession): DataFrame = {
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var root = x
      while (parent.getOrDefault(root, root) != root) root = parent.getOrDefault(root, root)
      while (parent.getOrDefault(x, x) != root) { val nxt = parent.get(x); parent.put(x, root); x = nxt }
      root
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // min-id root keeps labels deterministic (survivor = min id)
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    nodes.map(n => (n, find(n))).toSeq.toDF("doc", "cluster")
  }

  /** `driverEdgeLimit < 0` (the default) reads
    * `spark.graft.uf.driverEdgeLimit` (default 5×10^6) — conf-settable so
    * harnesses and tests can route real corpora through the DISTRIBUTED
    * label-propagation path without touching call sites; the two paths are
    * pinned label-identical in DedupSpec.
    *
    * The edge copy and each round's labels are local checkpoints, owned by
    * the frames that read them: a caller's own cache of `edges0` is never
    * touched, nothing is registered in the CacheManager, and Spark's
    * ContextCleaner drops a round's labels once no later round reads
    * them. */
  def components(edges0: DataFrame, maxIter: Int = 30,
                 driverEdgeLimit: Long = -1L): DataFrame = {
    val spark = edges0.sparkSession
    val limit =
      if (driverEdgeLimit >= 0) driverEdgeLimit
      else spark.conf.get("spark.graft.uf.driverEdgeLimit", "5000000").toLong
    val edges = GraftSqlBridge.localCheckpoint(edges0)
    // limit 0 = the distributed path is forced: the sizing count would be
    // pure overhead — skip straight to label propagation, which handles an
    // empty edge set correctly anyway (empty labels, one convergence
    // round) (r8)
    val edgeCount =
      if (limit == 0) Long.MaxValue
      // (limit+1).toInt would overflow for a caller-raised limit near
      // Long.MaxValue — same guard shape as Similarity.bruteForceTopK
      else if (limit >= Int.MaxValue - 1) edges.count()
      else edges.limit(limit.toInt + 1).count()
    if (edgeCount == 0) // no duplicate pairs at all — skip the whole loop
      return edges.select(col("doc"), col("rep").as("cluster"))
    if (edgeCount <= limit &&
        edges.schema("doc").dataType == org.apache.spark.sql.types.LongType) {
      import spark.implicits._
      val pairs = edges.select(col("doc").cast("long"), col("rep").cast("long"))
        .as[(Long, Long)].collect()
      return driverComponents(pairs, spark)
    }
    // Fill the edge cache with ONE explicit action before the label lineage
    // consumes it: the initial-labels job reads `edges` through two union
    // branches, and concurrent tasks racing an unfilled cache each
    // recompute the heavy signature/window lineage per branch (measured
    // 1.7 s vs 0.14 s cached at sf0.1). A sized path's action already
    // filled it (a local checkpoint fills the partitions a short read
    // skipped); a forced path (limit 0) ran none.
    if (limit == 0) edges.count()
    // `und` is two cheap projections of the now-cached edges — caching it
    // too would just double-buffer the same rows (r8; it was cached before)
    val und = edges.select(col("doc").as("u"), col("rep").as("v"))
      .union(edges.select(col("rep").as("u"), col("doc").as("v")))
    // Initial labels = min over each node's CLOSED neighborhood, emitted as
    // TWO rows per edge — (doc, least(doc,rep)) and (rep, least(doc,rep)) —
    // instead of the old four branches over `und` (self + neighbor per
    // direction). Identical result: least(d,r) ∈ {d,r}, and for a node n
    // with ≥1 incident edge (every node here), min over its incident
    // least(n,v) = min(n, min of neighbors). Halves the rows through the
    // init groupBy exchange (guide §2.3) and halves the cached-edge scans
    // feeding it (r8 session 3).
    val lsr = least(col("doc"), col("rep"))
    var labels = GraftSqlBridge.localCheckpoint(
      edges.select(col("doc").as("doc"), lsr.as("cluster"))
        .union(edges.select(col("rep").as("doc"), lsr.as("cluster")))
        .groupBy("doc").agg(min("cluster").as("cluster")))
    // Convergence via the label-sum invariant (r8): every step takes a MIN
    // over a set containing the row's own label, so per-row labels are
    // monotonically non-increasing — the exact (Decimal-38, overflow-free)
    // sum of labels is strictly decreasing until fixpoint and equal at it.
    // One cheap aggregate action per round replaces the old
    // next-join-labels changed-count, removing a full shuffle join per
    // iteration (plan evidence: plans/r08/minhash_dedup_dist_*).
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("cluster")
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // neighbor-min: labels flow across every edge in both directions;
      // the sum is taken HERE, before pointer jumping, because equality
      // already proves global fixpoint — monotone rows + equal sum ⇒ no
      // row changed ⇒ every edge (u,v) has label(u) ≤ label(v) and
      // label(v) ≤ label(u), i.e. labels are constant across every edge,
      // so cluster→cluster pointer jumping is a no-op. The converging
      // round therefore skips the self-join entirely (r8 session 2).
      val viaEdges = und.join(labels, und("v") === labels("doc"))
        .select(und("u").as("doc"), col("cluster"))
      val afterNeighbors = GraftSqlBridge.localCheckpoint(viaEdges.union(labels)
        .groupBy("doc").agg(min("cluster").as("cluster")))
      val aSum = labelSum(afterNeighbors)
      if (aSum.compareTo(prevSum) == 0) {
        labels = afterNeighbors
        converged = true
      } else {
        // pointer jump: follow cluster → its own cluster. Not summed —
        // next round's neighbor-min sum is compared against THIS round's
        // pre-jump sum, which is exact: the jump is also monotone, so
        // sum(A_{r+1}) = sum(A_r) forces A_{r+1} = jump(A_r) = A_r
        // pointwise, which implies both fixpoint conditions at once.
        val next = GraftSqlBridge.localCheckpoint(afterNeighbors.as("l")
          .join(afterNeighbors.as("r"), col("l.cluster") === col("r.doc"), "left")
          .select(col("l.doc").as("doc"),
            least(col("l.cluster"), coalesce(col("r.cluster"), col("l.cluster"))).as("cluster")))
        labels = next
        prevSum = aSum
      }
      iter += 1
    }
    labels
  }

  /** Labels every row of `df` from [[components]]' (doc, cluster) rows:
    * `clusterCol` is its cluster, or its own id when it is in none, and
    * `keepCol` marks the survivor, the row whose id is its cluster (the
    * min id). A LEFT join on the id, so a null id keeps its row (null
    * cluster → its own id) and a repeated id keeps each of its rows. */
  def withClusters(df: DataFrame, idCol: String, comps: DataFrame,
                   clusterCol: String, keepCol: String): DataFrame =
    df.join(comps.withColumnRenamed("doc", idCol), Seq(idCol), "left")
      .withColumn(clusterCol, coalesce(col("cluster"), col(idCol)))
      .drop("cluster")
      .withColumn(keepCol, col(clusterCol) === col(idCol))

  /** Full flow: annotate each row with (minhash_cluster, minhash_keep).
    * Survivor per cluster = min id. Rows in no cluster keep their own id. */
  def dedup(df: DataFrame, idCol: String, textCol: String,
            cfg: MinhashDedupConfig = MinhashDedupConfig())
           (implicit spark: SparkSession): DataFrame =
    withClusters(df, idCol, components(duplicateEdges(signatures(df, idCol, textCol, cfg))),
      "minhash_cluster", "minhash_keep")

  /** The reference's MinhashConfig.__str__ config fingerprint, carried as
    * column metadata on the index so a mismatched query config fails fast
    * instead of silently matching nothing. */
  def configString(cfg: MinhashDedupConfig): String =
    s"${cfg.nGrams}ng_${cfg.numBuckets}bs_${cfg.hashesPerBucket}hs_" +
      s"${cfg.seed}seed_${cfg.hashFunc}_sigfold128" // round-5 band-fold format

  /** MinhashBuildIndex (minhash.py:419-474): the persistable index IS the
    * distinct (bucket, sig) table — write it to parquet and feed it back
    * through [[dedupWithIndex]]. The config fingerprint rides in the sig
    * column's metadata (survives a parquet round trip). */
  def buildIndex(df: DataFrame, idCol: String, textCol: String,
                 cfg: MinhashDedupConfig = MinhashDedupConfig()): DataFrame = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("graft.minhash.config", configString(cfg)).build()
    signatures(df, idCol, textCol, cfg)
      .select(col("bucket"), col("sig").as("sig", meta)).distinct()
  }

  /** MinhashDedupBuckets with index_folder (minhash.py:290-314,380): a
    * corpus doc sharing any (bucket, sig) with the index is a duplicate —
    * dropped outright, the index side always wins. onlyDedupInIndex=true
    * (the reference default) ignores corpus-vs-corpus matches entirely;
    * false additionally clusters the corpus and keeps one doc per
    * component as usual. An index carrying a config fingerprint from
    * [[buildIndex]] is verified against `cfg` (≙ the reference's config
    * assertion) — a mismatch would otherwise silently match nothing. */
  def dedupWithIndex(df: DataFrame, idCol: String, textCol: String,
                     indexSigs: DataFrame,
                     cfg: MinhashDedupConfig = MinhashDedupConfig(),
                     onlyDedupInIndex: Boolean = true)
                    (implicit spark: SparkSession): DataFrame = {
    indexSigs.schema.fields.find(_.name == "sig")
      .filter(_.metadata.contains("graft.minhash.config"))
      .map(_.metadata.getString("graft.minhash.config"))
      .foreach { idxCfg =>
        require(idxCfg == configString(cfg),
          s"index was built with config '$idxCfg' but dedupWithIndex got " +
            s"'${configString(cfg)}' — signatures cannot match")
      }
    // loose mode consumes the signature UDF's output twice (index probe +
    // clustering) — cache the slim projection so hashing runs once
    val sigs0 = signatures(df, idCol, textCol, cfg)
    val sigs =
      if (onlyDedupInIndex) sigs0
      else GraftSqlBridge.localCheckpoint(sigs0)
    val inIndex = sigs
      .join(indexSigs.select("bucket", "sig").distinct(), Seq("bucket", "sig"), "left_semi")
      .select(col("doc")).distinct()
      .withColumn("__in_index", lit(true))
    val clustered =
      if (onlyDedupInIndex)
        df.withColumn("minhash_cluster", col(idCol))
          .withColumn("minhash_keep", col("minhash_cluster") === col(idCol))
      else withClusters(df, idCol, components(duplicateEdges(sigs)), "minhash_cluster", "minhash_keep")
    clustered
      .join(inIndex.withColumnRenamed("doc", idCol), Seq(idCol), "left")
      .withColumn("minhash_keep", col("__in_index").isNull && col("minhash_keep"))
      .drop("__in_index")
  }
}
