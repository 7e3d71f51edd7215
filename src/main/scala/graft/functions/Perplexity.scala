package graft.functions

import java.text.Normalizer
import java.util.regex.Pattern
import graft.text.PyText

/** KenLM-style n-gram perplexity (north rule component).
  *
  * Ported semantics from the reference's utils/perplexity.py:
  *   - cc_net normalization (:143-165): lowercase, digits→0 via the unicode
  *     numbers pattern, NFD with Mn stripped (simplify_text with
  *     norm_whitespace=False, remove_punctuation=False), then the unicode
  *     punctuation table (:47-83) and non-printing-char strip (:85).
  *   - per-line scoring with an n-gram backoff LM; KenLM's binary format is
  *     replaced by the public ARPA text format (identical math: longest-
  *     match backoff, log10 probabilities, implicit <s>/</s>).
  *   - ppl = 10^(−Σ log10 P / Σ (len+1)), rounded to 1 decimal with
  *     banker's rounding to match Python round() (:123-139).
  *
  * SentencePiece tokenization is a pluggable seam (`tokenize`); the default
  * is whitespace pass-through (no JVM SentencePiece offline — documented
  * divergence; the ARPA fixture tests use whitespace models).
  */
object CcNetNormalizer {
  private val unicodePunct: Map[Char, String] = Map(
    '，' -> ",", '。' -> ".", '、' -> ",", '„' -> "\"", '”' -> "\"", '“' -> "\"",
    '«' -> "\"", '»' -> "\"", '１' -> "\"", '」' -> "\"", '「' -> "\"", '《' -> "\"",
    '》' -> "\"", '´' -> "'", '∶' -> ":", '：' -> ":", '？' -> "?", '！' -> "!",
    '（' -> "(", '）' -> ")", '；' -> ";", '–' -> "-", '—' -> " - ", '．' -> ". ",
    '～' -> "~", '’' -> "'", '…' -> "...", '━' -> "-", '〈' -> "<", '〉' -> ">",
    '【' -> "[", '】' -> "]", '％' -> "%", '►' -> "-")

  private val NumbersPattern: Pattern =
    Pattern.compile("\\p{Nd}+([.,\u060c\u066b\u2396\u2397\u2398]\\p{Nd}+)?")

  def normalize(text0: String): String = {
    // simplify_text with lowercase + norm_numbers + diacritics only
    var text = PyText.pyLower(text0)
    text = NumbersPattern.matcher(text).replaceAll("0")
    val nfd = Normalizer.normalize(text, Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(nfd.length)
    var i = 0
    while (i < nfd.length) {
      val c = nfd.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
      i += 1
    }
    text = PyText.pyStrip(sb.toString)
    // unicode punct table + non-printing strip
    val out = new java.lang.StringBuilder(text.length)
    i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      unicodePunct.get(c) match {
        case Some(r) => out.append(r)
        case None =>
          val cp = c.toInt
          if (!(cp < 32 || (cp >= 127 && cp < 160))) out.append(c)
      }
      i += 1
    }
    out.toString
  }
}

/** Line scorer seam: Σ log10 P over a line's tokens (KenLM Model.score
  * semantics). Implemented by the ARPA text model and the KenLM-binary
  * loader's [[KenlmModel]], so [[PerplexityScorer]] runs over either. */
trait LineScorer extends Serializable {
  def score(line: String): Double
}

/** ARPA text-format n-gram backoff language model (log10 probabilities). */
final class ArpaModel(
    ngrams: Array[java.util.HashMap[String, (Float, Float)]], // index = order-1
    val order: Int) extends LineScorer {

  /** Raw (prob, backoff) tables by order — used by [[KenlmBinary]] to
    * serialize the model into the KenLM binary layout. */
  private[functions] def ngramMaps: Array[java.util.HashMap[String, (Float, Float)]] = ngrams

  private def lookup(tokens: Array[String], from: Int, until: Int): Option[(Float, Float)] = {
    val key = tokens.slice(from, until).mkString(" ")
    Option(ngrams(until - from - 1).get(key))
  }

  /** log10 P(tokens[last] | tokens[from..last-1]) with recursive backoff. */
  private def condLogProb(tokens: Array[String], from: Int, last: Int): Double = {
    val n = last - from + 1
    if (n > order) return condLogProb(tokens, last - order + 1, last)
    lookup(tokens, from, last + 1) match {
      case Some((lp, _)) => lp
      case None =>
        if (n == 1) {
          // OOV → <unk>
          Option(ngrams(0).get("<unk>")).map(_._1.toDouble).getOrElse(-100.0)
        } else {
          val backoff = lookup(tokens, from, last).map(_._2.toDouble).getOrElse(0.0)
          backoff + condLogProb(tokens, from + 1, last)
        }
    }
  }

  /** KenLM Model.score(line): Σ log10 P over tokens + </s>, with <s> bos. */
  def score(line: String): Double = {
    val words = PyText.pySplit(line)
    val tokens = ("<s>" +: words :+ "</s>").toArray
    var total = 0.0
    var i = 1
    while (i < tokens.length) {
      val from = math.max(0, i - order + 1)
      total += condLogProb(tokens, from, i)
      i += 1
    }
    total
  }
}

object ArpaModel {
  /** Parse ARPA text (\\data\\ header, \\N-grams: sections, \\end\\). */
  def parse(arpa: String): ArpaModel = {
    val lines = arpa.split("\n")
    var maxOrder = 1
    for (l <- lines) {
      val t = l.trim
      if (t.startsWith("ngram ")) {
        val ord = t.stripPrefix("ngram ").takeWhile(_ != '=').trim.toInt
        maxOrder = math.max(maxOrder, ord)
      }
    }
    val maps = Array.fill(maxOrder)(new java.util.HashMap[String, (Float, Float)]())
    var section = -1
    val sectionRe = Pattern.compile("\\\\(\\d+)-grams:")
    for (l <- lines) {
      val t = l.trim
      if (t.nonEmpty) {
        val m = sectionRe.matcher(t)
        if (m.matches()) section = m.group(1).toInt
        else if (t == "\\end\\") section = -1
        else if (section > 0 && !t.startsWith("\\")) {
          val parts = t.split("\t| +")
          if (parts.length >= section + 1) {
            val lp = parts(0).toFloat
            val hasBackoff = parts.length > section + 1
            val words = parts.slice(1, 1 + section).mkString(" ")
            val bo = if (hasBackoff) parts(section + 1).toFloat else 0.0f
            maps(section - 1).put(words, (lp, bo))
          }
        }
      }
    }
    new ArpaModel(maps, maxOrder)
  }

  /** Parse a classpath resource (e.g. the committed /graft/tiny.arpa test
    * fixture — a self-authored toy bigram model). */
  def parseResource(name: String): ArpaModel =
    parse(graft.text.Resources.readUtf8(name))
}

/** Document perplexity scorer (utils/perplexity.py:123-139). */
final class PerplexityScorer(
    model: LineScorer,
    tokenize: String => String = identity,
    normalizeCcNet: Boolean = true) extends Serializable {

  def perplexity(doc0: String): Double = {
    val doc1 = if (normalizeCcNet) CcNetNormalizer.normalize(doc0) else doc0
    val doc = tokenize(doc1)
    var logScore = 0.0
    var length = 0L
    for (line <- doc.split("\n", -1)) {
      logScore += model.score(line)
      length += PyText.pySplit(line).length + 1
    }
    val pp = math.pow(10.0, -logScore / length)
    // Python round() = banker's rounding to 1 dp
    BigDecimal(pp).setScale(1, BigDecimal.RoundingMode.HALF_EVEN).toDouble
  }
}
