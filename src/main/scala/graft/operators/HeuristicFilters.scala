package graft.operators

import java.util.regex.Pattern
import graft.text.{Punct, PyText, TextKernels, Tokenizer}

/** Per-document verdict kernels for the heuristic quality filters.
  * Each `check` returns None (keep) or Some(dropReason) — reasons and check
  * order match the reference exactly (first failing rule wins, matching the
  * reference's sequential `return False, reason` style).
  *
  * These are pure JVM functions, invoked from column UDFs or mapPartitions;
  * no per-row allocation beyond what the algorithms require.
  */

/** filters/gopher_quality_filter.py:13-126. Params use Option to mirror the
  * reference's `None` = rule disabled. */
final case class GopherQualityConfig(
    minDocWords: Option[Int] = Some(50),
    maxDocWords: Option[Int] = Some(100000),
    minAvgWordLength: Option[Int] = Some(3),
    maxAvgWordLength: Option[Int] = Some(10),
    maxSymbolWordRatio: Option[Double] = Some(0.1),
    maxBulletLinesRatio: Option[Double] = Some(0.9),
    maxEllipsisLinesRatio: Option[Double] = Some(0.3),
    maxNonAlphaWordsRatio: Option[Double] = Some(0.8),
    minStopWords: Option[Int] = Some(2),
    stopWords: Set[String] = GopherQualityFilter.StopWords,
    /** The fork re-tokenizes `preprocess_for_alpha_word_ratio(text)` for the
      * alpha + stop-word rules (gopher_quality_filter.py:114); that change
      * makes the reference's own LF1 test fixture fail (ratio 50/63 < 0.8),
      * and the fork's production pipeline disables both rules anyway
      * (scripts/data_cleaning.py:156-157). Default false = upstream
      * datatrove semantics (raw words), which matches the unit fixtures. */
    alphaOnPreprocessed: Boolean = false)

object GopherQualityFilter {
  val StopWords: Set[String] =
    Set("the", "be", "to", "of", "and", "that", "have", "with")

  def check(text: String, cfg: GopherQualityConfig = GopherQualityConfig(),
            tokenize: String => Array[String] = Tokenizer.words): Option[String] = {
    val words = tokenize(text)
    val nWords = words.length

    // one fused pass (r8): non-symbol count + summed lengths without
    // materializing the filtered array (this kernel runs per doc in the
    // pipeline chain)
    var nNonSymbol = 0
    var nonSymbolLen = 0L
    locally {
      var i = 0
      while (i < nWords) {
        val w = words(i)
        if (Tokenizer.hasNonSymbolChar(w)) { nNonSymbol += 1; nonSymbolLen += w.length }
        i += 1
      }
    }

    if (cfg.minDocWords.exists(m => nNonSymbol < m)) return Some("gopher_short_doc")
    if (cfg.maxDocWords.exists(m => nNonSymbol > m)) return Some("gopher_long_doc")

    // np.mean of [] is NaN; NaN comparisons are false — preserved via Double
    val avgLen =
      if (nNonSymbol == 0) Double.NaN
      else nonSymbolLen.toDouble / nNonSymbol
    if (cfg.minAvgWordLength.exists(m => avgLen < m)) return Some("gopher_below_avg_threshold")
    if (cfg.maxAvgWordLength.exists(m => avgLen > m)) return Some("gopher_above_avg_threshold")

    if (cfg.maxSymbolWordRatio.exists(r =>
        PyText.pyCount(text, "#").toDouble / nWords > r))
      return Some("gopher_too_many_hashes")
    if (cfg.maxSymbolWordRatio.exists(r =>
        (PyText.pyCount(text, "...") + PyText.pyCount(text, "…")).toDouble / nWords > r))
      return Some("gopher_too_many_ellipsis")

    val lines = PyText.splitLines(text)
    if (cfg.maxBulletLinesRatio.exists { r =>
        val bullets = lines.count { s =>
          val t = PyText.pyLStrip(s); t.startsWith("•") || t.startsWith("-")
        }
        bullets.toDouble / lines.length > r
      }) return Some("gopher_too_many_bullets")
    if (cfg.maxEllipsisLinesRatio.exists { r =>
        val ell = lines.count { s =>
          val t = PyText.pyRStrip(s); t.endsWith("...") || t.endsWith("…")
        }
        ell.toDouble / lines.length > r
      }) return Some("gopher_too_many_end_ellipsis")

    // alpha + stop-word rules; see alphaOnPreprocessed scaladoc for the
    // fork-vs-upstream divergence. Denominator stays original n_words.
    val words2 =
      if (cfg.alphaOnPreprocessed)
        Tokenizer.words(TextKernels.preprocessForAlphaWordRatio(text))
      else words
    if (cfg.maxNonAlphaWordsRatio.exists { r =>
        var alpha = 0
        var i = 0
        while (i < words2.length) {
          val w = words2(i)
          var j = 0
          var found = false
          while (!found && j < w.length) {
            if (Character.isLetter(w.charAt(j))) found = true
            j += 1
          }
          if (found) alpha += 1
          i += 1
        }
        alpha.toDouble / nWords < r
      }) return Some("gopher_below_alpha_threshold")

    // distinct stop words present (== stopWords.count(words2.contains)),
    // in ONE pass over the words with early exit once every stop word has
    // been seen — instead of one full array scan per stop word (r8)
    if (cfg.minStopWords.isDefined) {
      val m = cfg.minStopWords.get
      val total = cfg.stopWords.size
      var found = 0
      val seen = new java.util.HashSet[String](16)
      var i = 0
      while (i < words2.length && found < total) {
        val w = words2(i)
        if (cfg.stopWords.contains(w) && seen.add(w)) found += 1
        i += 1
      }
      if (found < m) return Some("gopher_enough_stop_words")
    }

    None
  }
}

/** filters/gopher_repetition_filter.py:73-143. */
final case class GopherRepetitionConfig(
    dupLineFrac: Option[Double] = Some(0.3),
    dupParaFrac: Option[Double] = Some(0.3),
    dupLineCharFrac: Option[Double] = Some(0.2),
    dupParaCharFrac: Option[Double] = Some(0.2),
    topNGrams: Seq[(Int, Double)] = Seq(2 -> 0.2, 3 -> 0.18, 4 -> 0.16),
    dupNGrams: Seq[(Int, Double)] =
      Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10))

object GopherRepetitionFilter {
  /** The reference's re.split on "\n{2,}" (paragraphs) and "\n+" (lines). */
  private[graft] def paragraphs(text: String): Array[String] =
    TextKernels.splitNewlineRuns(PyText.pyStrip(text), 2)
  private[graft] def lines(text: String): Array[String] = TextKernels.splitNewlineRuns(text, 1)

  /** The fork's data_cleaning.py:146 relaxed dup-n-gram thresholds. */
  val ForkDupNGrams: Seq[(Int, Double)] =
    Seq(5 -> 0.25, 6 -> 0.23, 7 -> 0.20, 8 -> 0.19, 9 -> 0.18, 10 -> 0.17)

  def check(text: String, cfg: GopherRepetitionConfig = GopherRepetitionConfig(),
            tokenize: String => Array[String] = Tokenizer.words): Option[String] = {
    val paras = paragraphs(text)
    val (paraDup, paraDupChars) = TextKernels.findDuplicates(paras)
    if (cfg.dupParaFrac.exists(f => paraDup.toDouble / paras.length > f))
      return Some("dup_para_frac")
    if (cfg.dupParaCharFrac.exists(f => paraDupChars.toDouble / text.length > f))
      return Some("dup_para_char_frac")

    val ls = lines(text)
    val (lineDup, lineDupChars) = TextKernels.findDuplicates(ls)
    if (cfg.dupLineFrac.exists(f => lineDup.toDouble / ls.length > f))
      return Some("dup_line_frac")
    if (cfg.dupLineCharFrac.exists(f => lineDupChars.toDouble / text.length > f))
      return Some("dup_line_char_frac")

    // n-gram rules run on the preprocessed text (fork, utils/text.py:320);
    // FastRepetition = hash-windowed kernels, semantics-equivalent to the
    // reference's string scans (see FastRepetitionSpec)
    // fast path: when the preprocess is the identity, reuse the caller's
    // (possibly memoized) tokenization of the raw text
    val pText =
      if (TextKernels.repetitionPreprocessIsIdentity(text)) text
      else TextKernels.preprocessForRepetition(text)
    val words = tokenize(pText)
    val reps = new graft.text.FastRepetition.Reps(words)

    for ((n, frac) <- cfg.topNGrams) {
      if (words.length - n + 1 > 0) {
        val topLen = reps.findTopDuplicate(n)
        if (topLen.toDouble / pText.length > frac) return Some("top_n_gram")
      }
    }
    for ((n, frac) <- cfg.dupNGrams) {
      val dupChars = reps.findAllDuplicate(n)
      if (dupChars.toDouble / pText.length > frac) return Some("duplicated_n_grams")
    }
    None
  }
}

/** filters/c4_filters.py:27-136 — line-rewriting filter. */
final case class C4QualityConfig(
    /** c4_filters.py:63,89 — true: split on newlines (the C4 default);
      * false: sentence units via the deterministic splitter (the
      * reference's split_into_sentences). */
    splitParagraph: Boolean = true,
    removeCitations: Boolean = true,
    filterNoTerminalPunct: Boolean = true,
    minNumSentences: Int = 5,
    minWordsPerLine: Int = 3,
    maxWordLength: Int = 1000,
    filterLoremIpsum: Boolean = true,
    filterJavascript: Boolean = true,
    filterCurlyBracket: Boolean = true,
    filterPolicy: Boolean = true)

object C4QualityFilter {
  private val CitationRegex = Pattern.compile("\\[\\d*]|\\[edit]|\\[citation needed]")
  private val EndPunctuation = Seq(".", "?", "!", "\"", "'")
  private val Ellipsis = "..."
  val PolicySubstrings: Seq[String] = Seq(
    "terms of use", "privacy policy", "cookie policy",
    "uses cookies", "use of cookies", "use cookies")

  /** Right(rewrittenText) when kept; Left(dropReason) when dropped. */
  def check(text: String, cfg: C4QualityConfig = C4QualityConfig()): Either[String, String] = {
    val lines: Array[String] =
      if (cfg.splitParagraph) PyText.splitLines(text)
      else Tokenizer.sentences(text)
    var numSentences = 0
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]

    for (line0 <- lines) {
      var line = PyText.pyStrip(line0)
      // fused pySplit-equivalent scan (r8): the words array was only read
      // for .length and a max-word-length check — count and max length in
      // one pass with no substring allocation
      var nLineWords = 0
      var maxWordLen = 0
      locally {
        var i = 0
        val ln = line.length
        while (i < ln) {
          while (i < ln && PyText.pyIsSpace(line.charAt(i))) i += 1
          val start = i
          while (i < ln && !PyText.pyIsSpace(line.charAt(i))) i += 1
          if (i > start) {
            nLineWords += 1
            if (i - start > maxWordLen) maxWordLen = i - start
          }
        }
      }
      var skip = false
      if (cfg.maxWordLength != -1 && maxWordLen > cfg.maxWordLength) skip = true
      if (!skip) {
        // regex only when a '[' exists — the pattern can't match otherwise
        if (cfg.removeCitations && line.indexOf('[') >= 0)
          line = CitationRegex.matcher(line).replaceAll("")
        if (cfg.filterNoTerminalPunct && {
          // == !EndPunctuation.exists(line.endsWith) || endsWith("...")
          val lc = if (line.isEmpty) ' ' else line.charAt(line.length - 1)
          val hasTerm = lc == '.' || lc == '?' || lc == '!' || lc == '"' || lc == '\''
          !hasTerm || line.endsWith(Ellipsis)
        }) skip = true
      }
      if (!skip && nLineWords < cfg.minWordsPerLine) skip = true
      if (!skip) {
        val lineL = PyText.pyLower(line)
        if (cfg.filterLoremIpsum && lineL.contains("lorem ipsum")) return Left("lorem_ipsum")
        if (cfg.filterJavascript && lineL.contains("javascript")) skip = true
        else if (cfg.filterCurlyBracket && line.contains("{")) return Left("curly_bracket")
        else if (cfg.filterPolicy && PolicySubstrings.exists(lineL.contains)) skip = true
        else {
          // c4_filters.py:128: += len(split_into_sentences(line)) in line
          // mode, exactly 1 per kept unit in sentence mode
          if (cfg.minNumSentences != -1)
            numSentences += (if (cfg.splitParagraph) Tokenizer.sentenceCount(line) else 1)
          kept += line
        }
      }
    }
    if (numSentences < cfg.minNumSentences) Left("too_few_sentences")
    // c4_filters.py:136: "\n".join in line mode, " ".join in sentence mode
    else Right(PyText.pyStrip(kept.mkString(if (cfg.splitParagraph) "\n" else " ")))
  }
}

/** filters/c4_filters.py:139-169 — mC4 paragraph filter. */
object C4ParagraphFilter {
  val minParagraphs = 3
  val minParagraphLen = 200

  def check(text: String): Option[String] = {
    val lines = text.split("\n", -1)
    if (lines.length < minParagraphs) return Some(s"< $minParagraphs paragraphs")
    val top3Min = lines.map(_.length).sorted(Ordering.Int.reverse).take(3).min
    if (top3Min < minParagraphLen) Some(s"< $minParagraphs paragraphs") else None
  }
}

/** filters/fineweb_quality_filter.py:8-56. */
final case class FineWebQualityConfig(
    linePunctThr: Double = 0.12,
    linePunctExcludeZero: Boolean = false,
    /** fineweb_quality_filter.py:16,26 — None takes the default
      * TERMINAL_PUNCTUATION set; a custom tuple overrides it. */
    stopChars: Option[Seq[String]] = None,
    shortLineThr: Double = 0.67,
    shortLineLength: Int = 30,
    charDuplicatesRatio: Double = 0.01,
    newLineRatio: Double = 0.3)

object FineWebQualityFilter {
  def check(text: String, cfg: FineWebQualityConfig = FineWebQualityConfig(),
            tokenize: String => Array[String] = Tokenizer.words): Option[String] = {
    val lines = text.split("\n", -1).filter(l => PyText.pyStrip(l).nonEmpty)
    if (lines.isEmpty) return Some("empty")

    // default stop chars are the 159 TERMINAL_PUNCTUATION entries, each a
    // single code point — test the line's final code point against a BitSet
    // instead of 159 endsWith scans per line (r8); custom stopChars keep
    // the general endsWith path (they may be multi-char strings)
    val endsWithStop: String => Boolean = cfg.stopChars match {
      case None => l =>
        l.nonEmpty && {
          val last = l.charAt(l.length - 1)
          val cp =
            if (Character.isLowSurrogate(last) && l.length >= 2 &&
                Character.isHighSurrogate(l.charAt(l.length - 2)))
              l.codePointAt(l.length - 2)
            else last.toInt
          Punct.TerminalBits.get(cp)
        }
      case Some(custom) => l => custom.exists(l.endsWith)
    }
    val punctRatio = lines.count(endsWithStop).toDouble / lines.length
    if (punctRatio < cfg.linePunctThr && !(punctRatio == 0 && cfg.linePunctExcludeZero))
      return Some("line_punct_ratio")

    val shortRatio =
      lines.count(_.length <= cfg.shortLineLength).toDouble / lines.length
    if (shortRatio > cfg.shortLineThr) return Some("short_line_ratio")

    val dupChars = TextKernels.findDuplicates(lines)._2
    // == text.replace("\n", "").length without materializing the copy
    val denom = text.length - PyText.pyCount(text, "\n")
    if (dupChars.toDouble / denom > cfg.charDuplicatesRatio) return Some("char_dup_ratio")

    val nWords = tokenize(text).length
    val newLines = PyText.pyCount(text, "\n")
    if (newLines.toDouble / nWords > cfg.newLineRatio) return Some("list_ratio")
    None
  }
}
