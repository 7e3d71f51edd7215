package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.WebCorpusGen

/** Differential-harness dump: run the engine's filter chain over the seeded
  * synthetic corpus in a single deterministic partition (doc order = id
  * order, so the PII rotation state aligns with the reference harness,
  * SURVEY.md §7.3) and write per-doc verdicts + scrubbed text. The
  * python-side harness (tools/diff_harness.py) executes the REFERENCE's own
  * filter code on the same corpus and computes keep/drop F1 + scrub parity.
  *
  * The chain matches the harness: Gopher repetition → Gopher quality → C4
  * quality → FineWeb quality → C4 badwords (fixture list) → PII. Language
  * and URL stages are excluded (they need the fastText model / tldextract
  * assets, unavailable offline — documented in BENCH.md).
  */
object DiffDump {
  /** Writes `rows` corpus docs to `outDir/corpus` and their verdicts to
    * `outDir/result`, each one file in doc order. */
  def dump(spark: SparkSession, outDir: String, rows: Int): Unit = {
    // one partition on any master: the narrow chain keeps it, so the PII
    // rotation sees every doc in id order
    val corpus = WebCorpusGen.generate(spark, rows, partitions = 1)
      .select(col("url"), col("warc_ts"), col("text"), col("lang"))

    // the harness input: original (pre-rewrite) text in doc order
    corpus.select("url", "text", "lang")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/corpus")

    val stages = Seq(
      Stages.gopherRepetition(),
      // fork semantics for the alpha rule — the harness runs the fork's code
      // (see GopherQualityConfig.alphaOnPreprocessed scaladoc for why the
      // engine default is upstream semantics)
      Stages.gopherQuality(GopherQualityConfig(alphaOnPreprocessed = true)),
      Stages.c4Quality(),
      Stages.fineWebQuality(),
      Stages.c4BadWords(WebCorpusGen.BadWordsFixture.asMap,
        failOnMissingLanguage = false, defaultLanguage = "en"),
      Stages.piiFormatter)

    val result = new QualityPipeline(stages).run(corpus)(spark)
    // minhash-input parity columns: cc-normalized text + the first 5-gram
    // shingle hash (sha1_hash64 of the space-joined words of simplify_text)
    val simplifyUdf = udf { t: String => graft.text.TextKernels.simplifyText(t) }
    val sig0Udf = udf { t: String =>
      val ws = graft.text.Tokenizer.words(graft.text.TextKernels.simplifyText(t))
      if (ws.length < 5) -1L
      else graft.functions.Hashes.sha1Hash64(ws.take(5).mkString(" "))
    }
    result.toDF()
      .withColumn("simplified", simplifyUdf(col("text")))
      .withColumn("sig0", sig0Udf(col("text")))
      .select("url", "lang", "keep", "drop_reason", "drop_stage", "text", "simplified", "sig0")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/result")
    println(s"DIFF_DUMP_OK $outDir")
  }
}
