package graft.operators

/** The 100 TB posture as ONE NAMED CONFIG (VERDICT r6 next-round #8):
  * every scale decision this repo measured and documented across rounds
  * 5-6, collected so an operator of the production pipeline gets the
  * whole posture from a single import instead of re-reading six
  * scaladocs. `RunPipeline --posture scale` applies it end to end; the
  * per-phase table for the sf1 smoke lives in BENCH.md §posture.
  *
  * What the posture pins, and why (measurements in BENCH.md):
  *  - AQE + skew-join + partition coalescing ON — runtime re-planning is
  *    the only defense local measurement can't pre-compute at 1000
  *    executors;
  *  - the dedup-family duplicate-candidate prefilters, which have no
  *    switch: exact and url through DupCandidates.firstWins on a 64-bit
  *    hash key (the text / url string confirmed on candidates only), ES
  *    on its 64-bit h1 span hash; the sentence first-wins pass has none.
  *    The runtime broadcast guard (spark.graft.dedup.maxBroadcastKeys)
  *    degrades a mass-dup corpus to single-pass instead of OOMing;
  *  - ExactSubstr in the ANCHORED mode (winnowing w=8 + the 15-word short
  *    span): 55.4 s / 3.55 GB at 2M vs 243 s / 12.1 GB stride-1 — the
  *    documented scale path past the span-explode ceiling — with the
  *    auto hot-key flip armed (spark.graft.exactsubstr.hotKeyThreshold);
  *  - the LSH preconditions the sf1 measurement burned into lshTopK's
  *    scaladoc: centered components and ≥64 dims, or hyperplane buckets
  *    collapse (measured: 16-dim uncentered → max bucket 1876, ~0.5G
  *    candidate pairs, 77 GB of spill at 2M).
  */
object ScalePosture {

  /** Session confs for the posture. Shuffle-partition count is left to the
    * cluster (size ≈ 2-3× total cores; local harnesses set it from CPUs). */
  val sparkConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // CPU-bound text kernels: ~100 docs/ms/core makes a 128 MB split
    // minutes of straggler work — cap read splits well below the default
    "spark.sql.files.maxPartitionBytes" -> (16 * 1024 * 1024).toString,
    // runtime guards at their measured defaults (explicit, so a posture
    // run is reproducible even if library defaults move)
    DupCandidates.MaxBroadcastKeysConf -> DupCandidates.DefaultMaxBroadcastKeys.toString,
    "spark.graft.exactsubstr.hotKeyThreshold" -> "1000000",
    "spark.graft.uf.driverEdgeLimit" -> "5000000")

  /** Anchored ExactSubstr: the measured 100 TB configuration (winnowing
    * anchors w=8, 15-word short-span pass, guarded prefilter ON). */
  val exactSubstr: ExactSubstrConfig =
    ExactSubstrConfig(shortSpanWords = Some(15), anchorEvery = Some(8))

  /** SentenceDedup at its defaults (no duplicate-candidate prefilter: slim
    * sig rows; a 2M quiet A/B read 26.1 s without vs 27.7 s with one). */
  val sentenceDedup: SentenceDedupConfig = SentenceDedupConfig()

  /** MinHash at the fork's parameters (14×8 sha1). */
  val minhash: MinhashDedupConfig = MinhashDedupConfig()

  /** LSH parameters validated at sf1 for 64-dim centered embeddings. */
  val lshBands = 8
  val lshBitsPerBand = 24
  val lshMinDims = 64

  /** The documented lshTopK preconditions, as a loud check instead of a
    * scaladoc the caller has to know to read. `maxAbsMean` is the largest
    * per-component |mean| tolerated before the data counts as uncentered
    * (hyperplane bits stop being ~Bernoulli(1/2) and buckets collapse). */
  def requireLshPreconditions(dims: Int, componentMeanAbsMax: Double,
                              maxAbsMean: Double = 0.2): Unit = {
    require(dims >= lshMinDims,
      s"hyperplane LSH needs >= $lshMinDims dims (got $dims): at low dims random-pair " +
        "cosines are wide and band keys collide pathologically (measured: 16-dim at 2M " +
        "-> ~0.5G candidate pairs). Use IVF for low-dim embeddings.")
    require(componentMeanAbsMax <= maxAbsMean,
      f"embedding components are not centered (max |mean| = $componentMeanAbsMax%.3f > " +
        f"$maxAbsMean%.2f): uncentered vectors collapse onto a few hot buckets, salted into " +
        "block groups whose scored pairs grow with the bucket's square. " +
        "Center (subtract the component means) first.")
  }
}
