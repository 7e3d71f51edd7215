package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._
import graft.plans.Checkpoint
import graft.sources.WebCorpusGen

/** The 100 TB posture as one named config (VERDICT r6 #8): the confs carry
  * every runtime guard at its measured default, the LSH precondition check
  * is loud, and `RunPipeline.postureDedupChain` actually composes the dedup
  * family end to end — each stage a committed snapshot that a rerun skips.
  */
class ScalePostureSpec extends SparkSpec {

  test("posture confs pin AQE + every runtime guard at its measured default") {
    val confs = ScalePosture.sparkConfs.toMap
    assert(confs("spark.sql.adaptive.enabled") == "true")
    assert(confs("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(confs("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    // guards: the broadcast budget, the ES hot-key flip, the UF edge bound
    assert(confs(DupCandidates.MaxBroadcastKeysConf).toLong ==
      DupCandidates.DefaultMaxBroadcastKeys)
    assert(confs("spark.graft.exactsubstr.hotKeyThreshold").toLong == 1000000L)
    assert(confs("spark.graft.uf.driverEdgeLimit").toLong == 5000000L)
    // anchored ES is THE declared scale mode, not stride-1
    assert(ScalePosture.exactSubstr.anchorEvery.contains(8))
    assert(ScalePosture.exactSubstr.shortSpanWords.contains(15))
  }

  test("lsh preconditions are loud: low dims and uncentered data throw") {
    ScalePosture.requireLshPreconditions(dims = 64, componentMeanAbsMax = 0.01)
    val lowDim = intercept[IllegalArgumentException] {
      ScalePosture.requireLshPreconditions(dims = 16, componentMeanAbsMax = 0.01)
    }
    assert(lowDim.getMessage.contains("IVF"))
    val uncentered = intercept[IllegalArgumentException] {
      ScalePosture.requireLshPreconditions(dims = 64, componentMeanAbsMax = 0.9)
    }
    assert(uncentered.getMessage.contains("Center"))
  }

  /** The planted chain corpus: (rows, recrawl urls). */
  private def plantedCorpus(): (DataFrame, Seq[String]) = {
    // 300 synthetic pages give the generator's planted exact twins and
    // near-dup paraphrases; its urls are unique per row, so URL RECRAWLS
    // are planted here: 5 older captures of existing urls with drifted
    // text (review-caught, round 7 — the url phase was untested, which
    // hid doc_id = xxhash64(url) making url dedup a silent no-op)
    val base = WebCorpusGen.generate(spark, 300, partitions = 4)
      .select("url", "warc_ts", "text", "lang")
    // pick recrawl urls only from UNIQUE-text rows: a planted exact twin
    // could lose its base capture at the exact phase (rep choice between
    // equal texts is hash-order), which would make the older recrawl the
    // legitimate url survivor and fail the latest-capture assertion for
    // the wrong reason (review-caught)
    val uniqueTextRows = base.join(
      base.groupBy("text").count().where(col("count") === 1).select("text"),
      Seq("text"), "left_semi")
    val recrawls = uniqueTextRows.orderBy("url").limit(5)
      .withColumn("warc_ts",
        (col("warc_ts").cast("long") - 864000L).cast("timestamp"))
      .withColumn("text", concat(col("text"), lit(" older capture drift")))
    val recrawlUrls = recrawls.select("url")
      .collect().map(_.getString(0)).toSeq
    // plus 3 BYTE-IDENTICAL re-ingested captures (same url+ts+text — the
    // overlapping-glob / re-ingested-segment case): they share doc_id by
    // construction, so only the chain's distinct-captures collapse can
    // drop them (review-caught, round 7 second pass)
    val identicalCopies = uniqueTextRows.orderBy(col("url").desc).limit(3)
    val kept = base.unionByName(recrawls).unionByName(identicalCopies)
    (kept, recrawlUrls)
  }

  test("postureDedupChain composes the dedup family over committed snapshots") {
    val out = java.nio.file.Files.createTempDirectory("posture_spec").toString
    val ckpt = new Checkpoint(out)
    val (kept, recrawlUrls) = plantedCorpus()
    val finalKept = RunPipeline.postureDedupChain(kept, ckpt)

    // no byte-identical capture survives anywhere in the chain
    assert(finalKept.groupBy("url", "warc_ts", "text").count()
      .where(col("count") > 1).isEmpty,
      "byte-identical captures survived the chain")

    // chain schema contract: kept columns + doc_id, no annotation leftovers
    assert(finalKept.columns.toSet ==
      Set("url", "warc_ts", "text", "lang", "doc_id"))

    // every stage committed its snapshot
    for (s <- Seq("stage_exact_dedup", "stage_url_dedup", "stage_minhash_dedup",
                  "stage_sentence_dedup", "stage_exact_substr"))
      assert(ckpt.isCommitted(s), s"$s not committed")

    // survivor counts are monotone non-increasing through the chain and
    // the chain actually dropped something (the generator plants dups)
    val counts = Seq("stage_exact_dedup", "stage_url_dedup",
      "stage_minhash_dedup", "stage_sentence_dedup", "stage_exact_substr")
      .map(s => spark.read.parquet(ckpt.stagePath(s)).count())
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"counts not monotone: $counts")
    assert(counts.last < 300, s"chain dropped nothing: $counts")
    assert(counts.last > 0, "chain dropped everything")

    // the url phase must collapse each planted recrawl pair to ONE row,
    // and the survivor must be the LATEST capture (recency priority):
    // the older capture's drifted text never reaches later phases
    val urlStage = spark.read.parquet(ckpt.stagePath("stage_url_dedup"))
      .where(col("url").isin(recrawlUrls: _*))
    val perUrl = urlStage.groupBy("url").agg(count(lit(1)).as("n")).collect()
    assert(perUrl.length == recrawlUrls.size &&
      perUrl.forall(_.getAs[Long]("n") == 1L),
      s"url recrawls not collapsed: ${perUrl.mkString(",")}")
    val keptTexts = urlStage.select("text").collect().map(_.getString(0))
    assert(keptTexts.nonEmpty && keptTexts.forall(!_.endsWith("older capture drift")),
      "url dedup kept an older capture instead of the latest")

    // per-phase metrics table landed with one row per phase
    val phases = spark.read.parquet(s"$out/_metrics/posture_phases")
    assert(phases.select("phase").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSet == Set("exact_dedup", "url_dedup", "minhash_dedup",
        "sentence_dedup", "exact_substr"))

    // resume contract: a rerun reads every committed snapshot back —
    // identical survivors, no recompute drift
    val rerun = RunPipeline.postureDedupChain(kept, ckpt)
    assert(rerun.count() == finalKept.count())
    assert(rerun.select("doc_id").except(finalKept.select("doc_id")).isEmpty)
  }

  test("postureDedupChain: every stage keeps the same rows at 2 and 16 shuffle partitions") {
    val (kept, _) = plantedCorpus()
    val stages = Seq("stage_exact_dedup", "stage_url_dedup", "stage_minhash_dedup",
      "stage_sentence_dedup", "stage_exact_substr")
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    def chainAt(partitions: Int): Checkpoint = {
      val ckpt = new Checkpoint(
        java.nio.file.Files.createTempDirectory(s"posture_p$partitions").toString)
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      try RunPipeline.postureDedupChain(kept, ckpt).count()
      finally spark.conf.set("spark.sql.shuffle.partitions", prior)
      ckpt
    }
    val (two, sixteen) = (chainAt(2), chainAt(16))
    for (s <- stages) {
      def rows(c: Checkpoint) = spark.read.parquet(c.stagePath(s))
        .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val (a, b) = (rows(two), rows(sixteen))
      assert(a == b, s"$s differs: ${(a diff b).size} rows only at 2 partitions, " +
        s"${(b diff a).size} only at 16")
    }
  }
}
