package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Lid
import graft.text.Tokenizer

/** In-flight document state flowing through the stage chain. Mirrors the
  * reference's Document + metadata (data.py:31-49) with hot metadata
  * promoted to typed columns (SURVEY.md §1.2). */
final case class PipeDoc(
    url: String,
    warc_ts: java.sql.Timestamp,
    text: String,
    lang: String,
    language: String,
    language_score: Double,
    token_count: Long,
    keep: Boolean,
    drop_reason: String,
    drop_stage: String)

/** Per-partition mutable context: holds the stateful pieces the reference
  * keeps per task (PII replacement rotation pii.py:20, seeded RNGs). Built
  * once per partition inside mapPartitions. */
final class StageContext(val partitionId: Int, cfg: PipelineConfig) {
  lazy val piiScrubber: PiiScrubber = new PiiScrubber(
    onlyRemovePublicIps = cfg.piiOnlyPublicIps,
    resetPerDoc = cfg.piiResetPerDoc)
  lazy val samplerRng = new java.util.Random(cfg.samplerSeed + partitionId)
  lazy val badwordsRng = new java.util.Random(cfg.badwordsSeed + partitionId)

  // Memoized tokenization: several stages tokenize the *same* doc.text
  // (Gopher quality, FineWeb, token counter). One entry suffices — a stage
  // that rewrites text (C4) naturally invalidates it by identity.
  private var lastText: String = null
  private var lastWords: Array[String] = null
  def words(text: String): Array[String] = {
    // identity fast path, then VALUE equality (r8): a rewriting stage (C4)
    // that keeps every line emits a new-but-equal string — an equals scan
    // (~ns per char, early-exit on first diff) is far cheaper than
    // re-tokenizing (~µs per word) for the common all-kept doc
    if (!(text eq lastText)) {
      if (lastText != null && text == lastText) {
        lastText = text
      } else {
        lastWords = graft.text.Tokenizer.words(text)
        lastText = text
      }
    }
    lastWords
  }
}

/** One pipeline step: pure per-doc transform (+ partition context for
  * stateful steps). Docs already dropped skip later stages — identical to
  * the reference where filters remove docs from the generator stream. */
trait DocStage extends Serializable {
  def name: String
  def process(doc: PipeDoc, ctx: StageContext): PipeDoc
}

object DocStage {
  /** Filter adapter: None = keep, Some(reason) = drop. */
  def filter(stageName: String)(f: (PipeDoc, StageContext) => Option[String]): DocStage =
    new DocStage {
      val name = stageName
      def process(doc: PipeDoc, ctx: StageContext): PipeDoc =
        f(doc, ctx) match {
          case None => doc
          case Some(reason) => doc.copy(keep = false, drop_reason = reason, drop_stage = stageName)
        }
    }
}

final case class PipelineConfig(
    piiOnlyPublicIps: Boolean = true,
    piiResetPerDoc: Boolean = false,
    samplerSeed: Long = 42L,
    badwordsSeed: Long = 42L)

/** The engine's core operator: a chain of DocStages applied in one narrow
  * pass (no shuffle; Catalyst prunes unused input columns ahead of the
  * deserializer). At 100 TB this is embarrassingly parallel — throughput
  * scales with executor cores; the only shuffles in the wider job are the
  * dedup stages, which are separate operators. */
final class QualityPipeline(
    stages: Seq[DocStage],
    cfg: PipelineConfig = PipelineConfig())
    extends Serializable {

  def run(input: DataFrame)(implicit spark: SparkSession): Dataset[PipeDoc] = {
    import spark.implicits._
    val prepared = input
      .select(
        col("url"),
        col("warc_ts"),
        col("text"),
        col("lang"),
        lit("").as("language"),
        lit(0.0).as("language_score"),
        lit(0L).as("token_count"),
        lit(true).as("keep"),
        lit("").as("drop_reason"),
        lit("").as("drop_stage"))
      .as[PipeDoc]
    val stageSeq = stages
    val conf = cfg
    prepared.mapPartitions { it =>
      val ctx = new StageContext(org.apache.spark.TaskContext.getPartitionId(), conf)
      it.map { doc0 =>
        var doc = doc0
        var i = 0
        while (i < stageSeq.length && doc.keep) {
          doc = stageSeq(i).process(doc, ctx)
          i += 1
        }
        doc
      }
    }
  }

  /** Per-partition lineage metrics (north rule): drop-reason counts per
    * stage per partition, computed in one aggregation over a verdict table
    * (a run's result, or a committed checkpoint read back on resume). */
  def metricsOf(result: DataFrame): DataFrame =
    result
      .withColumn("partition_id", spark_partition_id())
      .groupBy(
        when(col("keep"), lit("(kept)")).otherwise(col("drop_stage")).as("stage"),
        col("partition_id"),
        when(col("keep"), lit("")).otherwise(col("drop_reason")).as("drop_reason"))
      .agg(count(lit(1)).as("count"))
}

object Stages {

  def languageFilter(
      languages: Option[Seq[String]] = None,
      threshold: Double = 0.65,
      lid: Lid = graft.functions.Lid.default): DocStage = new DocStage {
    val name = "language_filter"
    private val lf = new LanguageFilter(languages, threshold, lid)
    def process(doc: PipeDoc, ctx: StageContext): PipeDoc = {
      val r = lf.check(doc.text)
      val annotated = doc.copy(language = r.language, language_score = r.score)
      if (r.keep) annotated
      else annotated.copy(keep = false, drop_reason = "language", drop_stage = name)
    }
  }

  /** fork data_cleaning.py:103-110 — LambdaFilter(language_score >= thr). */
  def languageScoreFilter(threshold: Double = 0.65): DocStage =
    DocStage.filter("language_score") { (d, _) =>
      if (d.language_score >= threshold) None else Some("language_score_below_threshold")
    }

  def gopherRepetition(cfg: GopherRepetitionConfig = GopherRepetitionConfig()): DocStage =
    DocStage.filter("gopher_repetition") { (d, ctx) =>
      GopherRepetitionFilter.check(d.text, cfg, ctx.words) }

  def gopherQuality(cfg: GopherQualityConfig = GopherQualityConfig()): DocStage =
    DocStage.filter("gopher_quality") { (d, ctx) =>
      GopherQualityFilter.check(d.text, cfg, ctx.words) }

  /** C4 quality — rewrites text to the kept lines (c4_filters.py:135). */
  def c4Quality(cfg: C4QualityConfig = C4QualityConfig()): DocStage = new DocStage {
    val name = "c4_quality"
    def process(doc: PipeDoc, ctx: StageContext): PipeDoc =
      C4QualityFilter.check(doc.text, cfg) match {
        case Right(rewritten) => doc.copy(text = rewritten)
        case Left(reason) => doc.copy(keep = false, drop_reason = reason, drop_stage = name)
      }
  }

  def c4Paragraph: DocStage =
    DocStage.filter("c4_paragraph") { (d, _) => C4ParagraphFilter.check(d.text) }

  def c4BadWords(
      badwordsByLang: Map[String, Seq[String]],
      keepFraction: Double = 0.0,
      failOnMissingLanguage: Boolean = false,
      defaultLanguage: String = "en"): DocStage = new DocStage {
    val name = "c4_badwords"
    private val bw = new BadWordsFilter(badwordsByLang, 0.0, failOnMissingLanguage, defaultLanguage)
    private val kf = keepFraction
    def process(doc: PipeDoc, ctx: StageContext): PipeDoc = {
      val lang = if (doc.language.nonEmpty) Some(doc.language) else None
      bw.check(doc.text, lang) match {
        case None => doc
        case Some(reason) =>
          if (kf > 0.0 && ctx.badwordsRng.nextDouble() < kf) doc
          else doc.copy(keep = false, drop_reason = reason, drop_stage = name)
      }
    }
  }

  def fineWebQuality(cfg: FineWebQualityConfig = FineWebQualityConfig()): DocStage =
    DocStage.filter("fineweb_quality") { (d, ctx) =>
      FineWebQualityFilter.check(d.text, cfg, ctx.words) }

  def urlFilter(uf: UrlFilter): DocStage =
    DocStage.filter("url_filter") { (d, _) => uf.check(d.url) }

  def regexFilter(pattern: String): DocStage = new DocStage {
    val name = "regex_filter"
    private val rf = new RegexFilter(pattern)
    def process(doc: PipeDoc, ctx: StageContext): PipeDoc =
      rf.check(doc.text) match {
        case None => doc
        case Some(r) => doc.copy(keep = false, drop_reason = r, drop_stage = name)
      }
  }

  /** filters/sampler_filter.py — keep with prob `rate` (distribution
    * equivalence; sequence seeded per partition). */
  def sampler(rate: Double): DocStage =
    DocStage.filter("sampler") { (d, ctx) =>
      if (ctx.samplerRng.nextDouble() < rate) None else Some("sampled_out")
    }

  def unigramLogProb(frequencies: Map[String, Double], threshold: Double = -10.0): DocStage = {
    val f = new UnigramLogProbFilter(frequencies, threshold)
    DocStage.filter("unigram_log_prob") { (d, _) => f.check(d.text) }
  }

  /** tokens/counter.py:7-56 — annotate token_count. Uses the word tokenizer
    * (the reference uses a HF BPE tokenizer; divergence documented — counts
    * feed stats, not keep/drop decisions). */
  def tokensCounter: DocStage = new DocStage {
    val name = "tokens_counter"
    def process(doc: PipeDoc, ctx: StageContext): PipeDoc =
      doc.copy(token_count = ctx.words(doc.text).length.toLong)
  }

  /** formatters/pii.py — scrub emails + public IPs, stateful rotation per
    * partition (SURVEY.md §7.3). */
  def piiFormatter: DocStage = new DocStage {
    val name = "pii_formatter"
    def process(doc: PipeDoc, ctx: StageContext): PipeDoc =
      doc.copy(text = ctx.piiScrubber.scrub(doc.text))
  }
}

object Presets {
  /** The fork's production chain (scripts/data_cleaning.py): language filter
    * + score threshold, Gopher repetition (relaxed dup n-grams), Gopher
    * quality with avg-word-length/alpha/stop-word rules disabled, FineWeb
    * quality, token count, PII scrub. (Minhash dedup runs as a separate
    * shuffling operator between fineweb and pii.) */
  def forkDataCleaning(languages: Seq[String]): Seq[DocStage] = Seq(
    Stages.languageFilter(Some(languages)),
    Stages.languageScoreFilter(0.65),
    Stages.gopherRepetition(GopherRepetitionConfig(
      dupNGrams = GopherRepetitionFilter.ForkDupNGrams)),
    Stages.gopherQuality(GopherQualityConfig(
      minStopWords = None, maxNonAlphaWordsRatio = None,
      minAvgWordLength = None, maxAvgWordLength = None)),
    Stages.fineWebQuality(),
    Stages.tokensCounter,
    Stages.piiFormatter)

  /** FineWeb-style full chain (examples/fineweb.py:35-63): URL filter →
    * language → Gopher repetition → Gopher quality → C4 → FineWeb → PII. */
  def fineweb(
      urlFilter: UrlFilter = new UrlFilter(),
      languages: Option[Seq[String]] = Some(Seq("en")),
      badwords: Map[String, Seq[String]] = Map.empty): Seq[DocStage] = {
    val base = Seq(
      Stages.urlFilter(urlFilter),
      Stages.languageFilter(languages),
      Stages.gopherRepetition(),
      Stages.gopherQuality(),
      Stages.c4Quality(),
      Stages.fineWebQuality())
    val withBadwords =
      if (badwords.nonEmpty) base :+ Stages.c4BadWords(badwords) else base
    withBadwords ++ Seq(Stages.tokensCounter, Stages.piiFormatter)
  }
}
