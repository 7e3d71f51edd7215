package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.{Punct, PyText, TextKernels, Tokenizer}

/** The stats pipeline (pipeline/stats dir): per-doc metric columns + the
  * grouped summary/histogram/top-k machinery. The reference's two-phase
  * per-rank-JSON + StatsMerger k-way merge (stats/merger.py:18-84) is
  * exactly Spark's partial→final aggregation — one groupBy.
  */
object StatsOps {

  private val wordsUdf = udf { text: String => Tokenizer.words(text) }
  private val nonEmptyLines = (text: Column) =>
    filter(split(text, "\n"), l => trim(l) =!= "")

  /** stats/doc_stats.py:14-50 — char-class ratios as columns. */
  def docStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("length", length(t).cast("long"))
      .withColumn("white_space_ratio",
        (length(t) - length(regexp_replace(t, "\\s", ""))).cast("double") / length(t))
      .withColumn("non_alpha_digit_ratio",
        (length(t) - length(regexp_replace(t, "[^a-zA-Z0-9]", ""))).cast("double") / length(t))
      .withColumn("digit_ratio",
        (length(t) - length(regexp_replace(t, "[0-9]", ""))).cast("double") / length(t))
      .withColumn("uppercase_ratio",
        (length(t) - length(regexp_replace(t, "[A-Z]", ""))).cast("double") / length(t))
      .withColumn("elipsis_ratio",
        (length(t) - length(regexp_replace(t, "\\.\\.\\.|…", ""))).cast("double") / length(t))
      .withColumn("punctuation_ratio",
        size(filter(split(t, ""), c => array_contains(
          lit(Punct.PUNCTUATION.map(_.toString).toArray), c))).cast("double") / length(t))
  }

  /** stats/line_stats.py:25-87 — line shape metrics. */
  def lineStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val lines = split(col(textCol), "\n")
    val lens = transform(lines, l => length(l))
    df.withColumn("n_lines", size(lines).cast("long"))
      .withColumn("avg_line_length",
        aggregate(lens, lit(0L), (a, x) => a + x).cast("double") / size(lines))
      .withColumn("short_line_ratio_chars_10",
        size(filter(lens, l => l <= 10)).cast("double") / size(lines))
      .withColumn("long_line_ratio_chars_66",
        size(filter(lens, l => l > 66)).cast("double") / size(lines))
      .withColumn("lines_ending_with_terminal_mark_ratio",
        size(filter(lines, l => Punct.TERMINAL_PUNCTUATION.foldLeft(lit(false))(
          (acc, p) => acc || l.endsWith(p)))).cast("double") / size(lines))
      .withColumn("bullet_point_lines_ratio",
        size(filter(lines, l => trim(l).startsWith("•") || trim(l).startsWith("-")))
          .cast("double") / size(lines))
  }

  /** stats/word_stats.py:20-83 — word metrics via the shared tokenizer. */
  def wordStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val metricsUdf = udf { text: String =>
      val words = Tokenizer.words(text)
      val n = words.length
      if (n == 0) (0L, 0.0, 0.0, 0.0, 0.0, 0.0)
      else {
        val avgLen = words.map(_.length.toLong).sum.toDouble / n
        val typeToken = words.toSet.size.toDouble / n
        val upper = words.count(w => w.nonEmpty && Character.isUpperCase(w.charAt(0)) &&
          w.forall(c => !Character.isLetter(c) || Character.isUpperCase(c)))
        val capitalized = words.count(w => w.nonEmpty && Character.isUpperCase(w.charAt(0)))
        val stop = words.count(w => GopherQualityFilter.StopWords.contains(PyText.pyLower(w)))
        (n.toLong, avgLen, typeToken, upper.toDouble / n, capitalized.toDouble / n, stop.toDouble / n)
      }
    }
    df.withColumn("__w", metricsUdf(col(textCol)))
      .withColumn("n_words", col("__w._1"))
      .withColumn("avg_word_length", col("__w._2"))
      .withColumn("type_token_ratio", col("__w._3"))
      .withColumn("uppercase_word_ratio", col("__w._4"))
      .withColumn("capitalized_word_ratio", col("__w._5"))
      .withColumn("stop_word_ratio", col("__w._6"))
      .drop("__w")
  }

  /** stats/sentence_stats.py:19-69. */
  def sentenceStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val sentUdf = udf { text: String => Tokenizer.sentenceCount(text).toLong }
    df.withColumn("n_sentences", sentUdf(col(textCol)))
      .withColumn("avg_sentence_length",
        length(col(textCol)).cast("double") / col("n_sentences"))
  }

  /** stats/paragraph_stats.py:18-74 — paragraphs = "\n\n" splits. */
  def paragraphStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val paras = split(col(textCol), "\n\n")
    df.withColumn("n_paragraphs", size(paras).cast("long"))
      .withColumn("avg_paragraph_length",
        aggregate(transform(paras, p => length(p)), lit(0L), (a, x) => a + x)
          .cast("double") / size(paras))
  }

  /** stats/contamination_stats.py:12-50 — frequency of given words. */
  def wordsContamination(df: DataFrame, words: Seq[String], textCol: String = "text"): DataFrame = {
    val target = words.toSet
    val ratioUdf = udf { text: String =>
      val ws = Tokenizer.words(text)
      if (ws.isEmpty) 0.0 else ws.count(w => target.contains(PyText.pyLower(w))).toDouble / ws.length
    }
    df.withColumn("words_contamination_ratio", ratioUdf(col(textCol)))
  }

  /** tokens/counter.py:58-83 — LengthCounter: histogram of token_count. */
  def lengthHistogram(df: DataFrame, tokenCountCol: String = "token_count"): DataFrame =
    df.groupBy(col(tokenCountCol)).agg(count(lit(1)).as("n")).orderBy(col(tokenCountCol))

  /** utils/text url → fqdn / suffix grouping keys (stats/base.py groups). */
  val fqdnUdf = udf { url: String =>
    UrlFilter.domainParts(url, UrlFilter.DefaultSuffixes)._2
  }
  val suffixUdf = udf { url: String =>
    val path = url.dropWhile(_ != '/').drop(2).dropWhile(_ != '/')
    val dot = path.lastIndexOf('.')
    if (dot > 0 && dot > path.lastIndexOf('/')) path.substring(dot + 1) else ""
  }

  /** The summary-group machinery (stats/base.py:89-133 + merger): per-key
    * n/total/min/max/mean/std for a metric column, one shuffle. */
  def summary(df: DataFrame, valueCol: String, groupKey: Column = lit("summary")): DataFrame =
    df.groupBy(groupKey.as("group"))
      .agg(
        count(col(valueCol)).as("n"),
        sum(col(valueCol)).as("total"),
        min(col(valueCol)).as("min"),
        max(col(valueCol)).as("max"),
        avg(col(valueCol)).as("mean"),
        stddev_pop(col(valueCol)).as("std"))

  /** Histogram group: value rounded to 3 decimals (stats/base.py:62-87). */
  def histogram(df: DataFrame, valueCol: String): DataFrame =
    df.groupBy(round(col(valueCol), 3).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** top-k truncation of grouped counts (default 100k fqdns,
    * stats/config.py:24) with a deterministic tie-break. */
  def topK(grouped: DataFrame, keyCol: String, nCol: String, k: Int): DataFrame =
    grouped.orderBy(desc(nCol), asc(keyCol)).limit(k)

  /** Skew-aware distinct-count per key (hot domains — the north rule calls
    * skew out explicitly; the reference has no mitigation, SURVEY.md §4).
    *
    * Plain count/sum/min/max per fqdn need NO salting: Spark's map-side
    * partial aggregation bounds the shuffle to one row per key per mapper.
    * The aggregations that DO melt a reducer under a hot key are the ones
    * without partial pushdown — countDistinct / collect_list. This runs
    * distinct-count as two phases: dedupe on the composite (key, value)
    * (the varying value spreads the hot key across reducers — implicit
    * salting), then count per key, where partial aggregation applies. */
  def distinctCountSkewAware(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.select(col(keyCol), col(valueCol)).distinct()
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_distinct"))
}
