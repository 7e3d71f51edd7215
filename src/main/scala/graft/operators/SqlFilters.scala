package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure-Column (no UDF) formulations of the quality rules — every
  * expression whole-stage-codegen-friendly, so Catalyst can pipeline,
  * prune, and push surrounding predicates freely (the north star's
  * "heuristic quality rules expressed as Catalyst-friendly column
  * expressions"). Tokenization here is whitespace-run splitting: exact for
  * space-separated text (see the cross-engine oracle), an approximation of
  * the kernel tokenizer on punctuated text — `GopherQualityFilter.check`
  * (mapPartitions path) remains the reference-parity implementation.
  * Threshold comparisons are integer-exact (n·den > num forms), never
  * float division. */
object SqlFilters {

  private def words(text: Column): Column =
    filter(split(text, " "), w => w =!= "")

  private def count2(text: Column, sub: String): Column =
    // literal (non-regex) StringReplace: same non-overlapping left-to-right
    // count as the quoted regexp_replace, without the regex engine (r8)
    ((length(text) - length(replace(text, lit(sub), lit("")))) / sub.length)
      .cast("long")

  /** Gopher quality as one CASE cascade (first failing rule wins,
    * gopher_quality_filter.py order). Pass thresholds as parameters. */
  def gopherQualityReason(
      text: Column,
      minDocWords: Int = 50,
      maxDocWords: Int = 100000,
      minAvgWordLength: Int = 3,
      maxAvgWordLength: Int = 10,
      minStopWords: Int = 2,
      stopWords: Seq[String] = GopherQualityFilter.StopWords.toSeq.sorted): Column = {
    val ws = words(text)
    val n = size(ws)
    val sumLen = aggregate(transform(ws, w => length(w)), lit(0L), (a, x) => a + x)
    val hashes = count2(text, "#")
    val ellipsis = count2(text, "...") + count2(text, "…")
    val lines = split(text, "\n")
    val nLines = size(lines)
    val bullets = size(filter(lines, l => ltrim(l).startsWith("•") || ltrim(l).startsWith("-")))
    val endEllipsis = size(filter(lines, l => rtrim(l).endsWith("...") || rtrim(l).endsWith("…")))
    val alpha = size(filter(ws, w => w.rlike("\\p{L}")))
    val stops = size(array_intersect(array_distinct(ws), array(stopWords.map(lit): _*)))
    when(n < minDocWords, "gopher_short_doc")
      .when(n > maxDocWords, "gopher_long_doc")
      .when(sumLen < n.cast("long") * minAvgWordLength, "gopher_below_avg_threshold")
      .when(sumLen > n.cast("long") * maxAvgWordLength, "gopher_above_avg_threshold")
      .when(hashes * 10 > n, "gopher_too_many_hashes")
      .when(ellipsis * 10 > n, "gopher_too_many_ellipsis")
      .when(bullets * 10 > nLines * 9, "gopher_too_many_bullets")
      .when(endEllipsis * 10 > nLines * 3, "gopher_too_many_end_ellipsis")
      .when(alpha * 10 < n.cast("long") * 8, "gopher_below_alpha_threshold")
      .when(stops < minStopWords, "gopher_enough_stop_words")
      .otherwise("")
  }
}
