package graft.text

import java.text.Normalizer
import java.util.regex.Pattern
import scala.collection.mutable

/** Pure text kernels ported from the reference:
  *   - simplify_text              utils/text.py:212-257
  *   - ngrams / find_duplicates / find_top_duplicate / find_all_duplicate
  *                                filters/gopher_repetition_filter.py:31-70
  *   - preprocess_for_repetition  utils/text.py:320-328 (fork addition)
  *   - preprocess_for_alpha_word_ratio utils/text.py:331-342 (fork addition)
  * All pure JVM functions — safe inside codegen'd UDFs / mapPartitions.
  */
object TextKernels {

  // utils/text.py:202-205 — digits in any script with optional decimal part
  private val NumbersPattern: Pattern =
    Pattern.compile("\\p{Nd}+([.,\u060c\u066b\u2396\u2397\u2398]\\p{Nd}+)?")

  private val WhitespacePattern: Pattern = Pattern.compile("\\s+", Pattern.UNICODE_CHARACTER_CLASS)

  // PUNCTUATION_TRANS (utils/text.py:182): each PUNCTUATION char → " "
  private val punctToSpace: Set[Char] = Punct.PUNCTUATION.toSet

  // Flat BMP lookup tables for the hot default simplifyText path: the
  // boxed Set[Char] lookup and the \s+ regex were measurable costs at the
  // sf1 minhash scale (VERDICT r5 #3). punctTable mirrors punctToSpace;
  // wsTable is derived from the ACTUAL \s pattern at init so the squeeze
  // pass is regex-equivalent by construction, not by transcription.
  private val punctTable: Array[Boolean] = {
    val t = new Array[Boolean](65536)
    Punct.PUNCTUATION.foreach(c => t(c) = true)
    t
  }
  private val wsTable: Array[Boolean] = {
    val t = new Array[Boolean](65536)
    val m = Pattern.compile("\\s", Pattern.UNICODE_CHARACTER_CLASS)
      .matcher("")
    var c = 0
    while (c < 65536) {
      if (!Character.isSurrogate(c.toChar) &&
          m.reset(String.valueOf(c.toChar)).matches()) t(c) = true
      c += 1
    }
    t
  }

  /** `\s+` → " " exactly like WhitespacePattern.replaceAll(" "), as one
    * table-driven pass (each maximal whitespace run, anywhere in the
    * string, becomes a single space). */
  private def squeezeWs(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var inRun = false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (wsTable(c)) { if (!inRun) sb.append(' '); inRun = true }
      else { sb.append(c); inRun = false }
      i += 1
    }
    sb.toString
  }

  /** TextNormConfig (utils/text.py:185-193) — the full knob surface;
    * defaults match DEF_TEXT_NORM_CONFIG. */
  final case class TextNormConfig(
      lowercase: Boolean = true,
      normWhitespace: Boolean = true,
      removePunctuation: Boolean = true,
      normUnicodeDiacritics: Boolean = true,
      normNumbers: Boolean = true,
      normWeekdays: Boolean = false,
      normMonthnames: Boolean = false)

  private val WeekdaysPattern: Pattern =
    Pattern.compile("monday|tuesday|wednesday|thursday|friday|saturday|sunday")
  private val MonthsPattern: Pattern = Pattern.compile(
    "january|february|march|april|may|june|july|august|september|october|november|december")

  /** simplify_text with an arbitrary TextNormConfig, operations applied in
    * the reference's exact order (utils/text.py:236-257). The no-arg
    * overload below stays the hot default-config path. */
  def simplifyText(text0: String, cfg: TextNormConfig): String = {
    if (cfg == TextNormConfig()) return simplifyText(text0)
    var text = text0
    if (cfg.lowercase) text = PyText.pyLower(text)
    if (cfg.normNumbers) text = NumbersPattern.matcher(text).replaceAll("0")
    if (cfg.normWeekdays) text = WeekdaysPattern.matcher(text).replaceAll("WEEKDAY")
    if (cfg.normMonthnames) text = MonthsPattern.matcher(text).replaceAll("MONTH")
    if (cfg.removePunctuation) {
      val sb = new java.lang.StringBuilder(text.length)
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        sb.append(if (punctToSpace.contains(c)) ' ' else c)
        i += 1
      }
      text = sb.toString
    }
    if (cfg.normWhitespace)
      text = WhitespacePattern.matcher(PyText.pyStrip(text)).replaceAll(" ")
    if (cfg.normUnicodeDiacritics) {
      val nfd = Normalizer.normalize(text, Normalizer.Form.NFD)
      val out = new java.lang.StringBuilder(nfd.length)
      var i = 0
      while (i < nfd.length) {
        val c = nfd.charAt(i)
        if (Character.getType(c) != Character.NON_SPACING_MARK) out.append(c)
        i += 1
      }
      text = out.toString
    }
    PyText.pyStrip(text)
  }

  /** simplify_text with the default TextNormConfig (lowercase, norm numbers,
    * punct→space, whitespace squeeze, NFD with Mn stripped).
    *
    * Hot-path form (r6): same steps in the same order, with the regex/boxed
    * lookups replaced by table passes and two exact skips — the Nd regex
    * only runs when a classification scan saw a decimal digit (or a
    * surrogate, which may hide an astral digit), and the NFD+Mn stage is
    * skipped for pure-ASCII strings (ASCII is NFD-normalized and contains
    * no marks). [[simplifyTextNaive]] keeps the original regex/Set form as
    * the property-test twin. */
  def simplifyText(text0: String): String = {
    // Pure-ASCII fused fast path (r8): lowercasing never changes
    // ASCII-ness, so the raw text can be classified up front and the
    // whole default chain fused into one output pass (see
    // [[simplifyAsciiFast]]). Non-ASCII input keeps the staged path.
    var a = true
    var ai = 0
    val an = text0.length
    while (ai < an && a) { if (text0.charAt(ai) >= 128) a = false; ai += 1 }
    if (a) return simplifyAsciiFast(text0)
    var text = PyText.pyLower(text0)
    var n = text.length
    var ascii = true
    var hasNd = false
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c < 128) { if (c >= '0' && c <= '9') hasNd = true }
      else {
        ascii = false
        if (Character.isSurrogate(c) || Character.isDigit(c)) hasNd = true
      }
      i += 1
    }
    if (hasNd) text = NumbersPattern.matcher(text).replaceAll("0")
    n = text.length
    val sb = new java.lang.StringBuilder(n)
    i = 0
    while (i < n) {
      val c = text.charAt(i)
      sb.append(if (punctTable(c)) ' ' else c)
      i += 1
    }
    text = squeezeWs(PyText.pyStrip(sb.toString))
    if (ascii) return PyText.pyStrip(text)
    val nfd = Normalizer.normalize(text, Normalizer.Form.NFD)
    val out = new java.lang.StringBuilder(nfd.length)
    i = 0
    while (i < nfd.length) {
      val c = nfd.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) out.append(c)
      i += 1
    }
    PyText.pyStrip(out.toString)
  }

  /** Default-config simplify for an all-ASCII string in ONE output pass
    * (r8). Equivalence to the staged path, step by step:
    *  - toLowerCase(ROOT) on ASCII is exactly the A-Z→a-z map;
    *  - NumbersPattern restricted to ASCII is: maximal 0-9 run, optionally
    *    followed by [.,] + another 0-9 run (the other three separators are
    *    ≥ U+2396), leftmost/greedy — the inline scan below consumes exactly
    *    that and emits '0';
    *  - below 128 the regex-\s set is {\t..\r, ' '} and Python-isspace
    *    additionally holds \x1C..\x1F — but \x1C..\x1F (like every
    *    control char except \t and \n) are in PUNCTUATION, so BOTH paths
    *    turn them into space runs; every below-128 Python-space char is
    *    therefore in (\s ∪ punct), and pyStrip ∘ squeezeWs ∘ pyStrip
    *    collapses to the pendingSpace pass below (drop leading/trailing
    *    \s-or-punct runs, single space between tokens). The trailing
    *    pyStrip is a no-op by construction (the builder never starts or
    *    ends with a space) and stays as a cheap invariant guard;
    *  - ASCII is NFD-normalized with no combining marks, so the NFD+Mn
    *    stage is a no-op (same skip the staged path takes).
    * Pinned against [[simplifyTextNaive]] by TextKernelsSpec on random
    * ASCII strings with digit/separator/punct edge cases. */
  private def simplifyAsciiFast(text: String): String = {
    val n = text.length
    val sb = new java.lang.StringBuilder(n)
    var pendingSpace = false
    var i = 0
    while (i < n) {
      var c = text.charAt(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      if (c >= '0' && c <= '9') {
        var j = i + 1
        while (j < n && { val d = text.charAt(j); d >= '0' && d <= '9' }) j += 1
        if (j + 1 < n && (text.charAt(j) == '.' || text.charAt(j) == ',') && {
              val d = text.charAt(j + 1); d >= '0' && d <= '9'
            }) {
          j += 2
          while (j < n && { val d = text.charAt(j); d >= '0' && d <= '9' }) j += 1
        }
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append('0')
        i = j
      } else {
        if (wsTable(c) || punctTable(c)) {
          if (sb.length > 0) pendingSpace = true
        } else {
          if (pendingSpace) { sb.append(' '); pendingSpace = false }
          sb.append(c)
        }
        i += 1
      }
    }
    PyText.pyStrip(sb.toString)
  }

  /** Original regex/Set implementation of the default-config path — kept
    * ONLY as the property-test twin of [[simplifyText]] (TextKernelsSpec
    * asserts equality on random unicode strings). */
  private[graft] def simplifyTextNaive(text0: String): String = {
    var text = PyText.pyLower(text0)
    text = NumbersPattern.matcher(text).replaceAll("0")
    val sb = new java.lang.StringBuilder(text.length)
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      sb.append(if (punctToSpace.contains(c)) ' ' else c)
      i += 1
    }
    text = sb.toString
    text = WhitespacePattern.matcher(PyText.pyStrip(text)).replaceAll(" ")
    val nfd = Normalizer.normalize(text, Normalizer.Form.NFD)
    val out = new java.lang.StringBuilder(nfd.length)
    i = 0
    while (i < nfd.length) {
      val c = nfd.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) out.append(c)
      i += 1
    }
    PyText.pyStrip(out.toString)
  }

  /** get_n_grams (gopher_repetition_filter.py:31-32): space-joined n-grams. */
  def getNGrams(words: Array[String], n: Int): Array[String] = {
    val count = words.length - n + 1
    if (count <= 0) return Array.empty
    val out = new Array[String](count)
    var i = 0
    while (i < count) {
      out(i) = words.slice(i, i + n).mkString(" ")
      i += 1
    }
    out
  }

  /** find_duplicates (gopher_repetition_filter.py:35-46):
    * (re-occurrence count, re-occurrence char length). */
  def findDuplicates(xs: Iterable[String]): (Int, Int) = {
    val unique = new mutable.HashSet[String]()
    var dupChars = 0
    var dupElems = 0
    for (x <- xs) {
      // single hash probe: add returns false when already present
      if (!unique.add(x)) { dupChars += x.length; dupElems += 1 }
    }
    (dupElems, dupChars)
  }

  /** `Pattern.compile(s"\n{$minRun,}").split(s, -1)` without the regex:
    * every run of at least `minRun` newlines is one separator, a shorter
    * run stays inside its field, and leading and trailing empty fields are
    * kept (Python's re.split). Pinned against Pattern.split by
    * TextKernelsSpec. */
  def splitNewlineRuns(s: String, minRun: Int): Array[String] = {
    val out = new mutable.ArrayBuffer[String]()
    var start = 0
    var i = s.indexOf('\n')
    while (i >= 0) {
      var j = i + 1
      while (j < s.length && s.charAt(j) == '\n') j += 1
      if (j - i >= minRun) { out += s.substring(start, i); start = j }
      i = s.indexOf('\n', j)
    }
    out += s.substring(start)
    out.toArray
  }

  /** find_top_duplicate (gopher_repetition_filter.py:49-54):
    * len(most common n-gram) * its count; Counter.most_common tie-break is
    * first-insertion order. Returns 0 for empty input (caller guards). */
  def findTopDuplicate(xs: Array[String]): Int = {
    if (xs.isEmpty) return 0
    val counts = new java.util.LinkedHashMap[String, Integer]()
    var i = 0
    while (i < xs.length) {
      val k = xs(i)
      val prev = counts.get(k)
      counts.put(k, if (prev == null) 1 else prev + 1)
      i += 1
    }
    var bestCount = -1
    var bestLen = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue > bestCount) { bestCount = e.getValue; bestLen = e.getKey.length }
    }
    bestLen * bestCount
  }

  /** find_all_duplicate (gopher_repetition_filter.py:57-70): sequential
    * non-overlapping duplicate n-gram scan — on a hit, skip n words ahead.
    * Order-dependent by design; ported verbatim. */
  def findAllDuplicate(words: Array[String], n: Int): Int = {
    val nWords = words.length
    val unique = new mutable.HashSet[String]()
    var repeatedChars = 0
    var idx = 0
    while (idx < nWords - n + 1) {
      val sb = new java.lang.StringBuilder()
      var j = idx
      while (j < idx + n) { sb.append(words(j)); j += 1 }
      val nGram = sb.toString
      if (unique.contains(nGram)) {
        repeatedChars += nGram.length
        idx += n
      } else {
        unique.add(nGram)
        idx += 1
      }
    }
    repeatedChars
  }

  // ---- fork-specific preprocessors (utils/text.py:320-342) ----

  private val EnumPattern = Pattern.compile("\\d+\\.\\s+", Pattern.UNICODE_CHARACTER_CLASS)
  private val SpaceRuns = Pattern.compile(" +")
  private val ListMarkers = "+-*\u2022 "

  /** True when preprocess_for_repetition would return `text` unchanged —
    * no '|' or "<br>", no "digits. " enumerations, no line-leading list
    * markers, no multi-space runs. One scan; lets the hot path reuse the
    * shared tokenization of the raw text. */
  def repetitionPreprocessIsIdentity(text: String): Boolean = {
    var i = 0
    val n = text.length
    var atLineStart = true
    var prevSpace = false
    while (i < n) {
      val c = text.charAt(i)
      if (c == '|') return false
      if (c == '<' && text.startsWith("br>", i + 1)) return false
      if (atLineStart && (c == '+' || c == '-' || c == '*' || c == '•' || c == ' '))
        return false
      // "\d+\.\s+" — digit(s) '.' unicode-whitespace (Nd digits, like \d)
      if (Character.isDigit(c) && i + 1 < n && text.charAt(i + 1) == '.' &&
          i + 2 < n && PyText.pyIsSpace(text.charAt(i + 2))) return false
      if (c == ' ') {
        if (prevSpace) return false
        prevSpace = true
      } else prevSpace = false
      atLineStart = PyText.isLineBreak(c)
      i += 1
    }
    true
  }

  /** preprocess_for_repetition (utils/text.py:320-328). */
  def preprocessForRepetition(text0: String): String = {
    var text = text0.replace("|", " ").replace("<br>", "\n")
    text = EnumPattern.matcher(text).replaceAll("")
    val lines = PyText.splitLines(text).map(l => PyText.pyLStrip(l, ListMarkers))
    text = lines.mkString("\n")
    SpaceRuns.matcher(text).replaceAll(" ")
  }

  private val EnumPattern2 =
    Pattern.compile("\\d+[.\u3001)\uff09]\\s+", Pattern.UNICODE_CHARACTER_CLASS)
  private val LetterEnumPattern =
    Pattern.compile("[A-Ha-h][.\u3001)\uff09]\\s+", Pattern.UNICODE_CHARACTER_CLASS)
  private val BracketNumPattern = Pattern.compile(
    "[(\\[{\uff08\uff3b\u3010]\\s*\\d+\\s*[)\\]}\uff09\uff3d\u3011]",
    Pattern.UNICODE_CHARACTER_CLASS)
  private val AnyWs = Pattern.compile("\\s+", Pattern.UNICODE_CHARACTER_CLASS)

  /** preprocess_for_alpha_word_ratio (utils/text.py:331-342). */
  def preprocessForAlphaWordRatio(text0: String): String = {
    var text = text0.replace("|", " ").replace("<br>", " ")
    text = EnumPattern.matcher(text).replaceAll("")
    val lines = PyText.splitLines(text).map(l => PyText.pyLStrip(l, ListMarkers))
    text = lines.mkString("\n")
    text = EnumPattern2.matcher(text).replaceAll("")
    text = LetterEnumPattern.matcher(text).replaceAll("")
    text = BracketNumPattern.matcher(text).replaceAll("")
    AnyWs.matcher(text).replaceAll(" ")
  }
}
