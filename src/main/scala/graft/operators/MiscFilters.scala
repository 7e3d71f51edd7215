package graft.operators

import java.util.regex.Pattern
import graft.functions.Lid
import graft.text.{PyText, Tokenizer}

/** filters/language_filter.py:9-65 — fastText-backed language keep/drop.
  * Sets (language, language_score) and keeps when any requested language's
  * score exceeds the threshold. */
final case class LanguageFilterResult(language: String, score: Double, keep: Boolean,
    /** language_filter.py:52-55 — languages whose score clears
      * keep_top_pairs_threshold (≙ top_language_<l>_score metadata);
      * empty when the threshold is -1 (disabled). */
    topPairs: Map[String, Double] = Map.empty)

final class LanguageFilter(
    languages: Option[Seq[String]] = None,
    languageThreshold: Double = 0.65,
    lid: Lid = graft.functions.HeuristicLid,
    labelOnly: Boolean = false,
    keepTopPairsThreshold: Double = -1)
    extends Serializable {

  def check(text: String): LanguageFilterResult = {
    val (lang, score, pairs) = lid.predict(text)
    val keep =
      labelOnly ||
      languages.exists(ls => ls.exists(l => pairs.getOrElse(l, 0.0) > languageThreshold)) ||
      (languages.isEmpty && score > languageThreshold)
    val top =
      if (keepTopPairsThreshold == -1) Map.empty[String, Double]
      else pairs.filter(_._2 > keepTopPairsThreshold)
    LanguageFilterResult(lang, score, keep, top)
  }
}

/** filters/url_filter.py:33-132. Blocklists are injected (the reference
  * ships them as a bundled tarball asset; here they're configuration).
  * Domain parsing uses an injectable public-suffix set instead of
  * tldextract's PSL snapshot. */
final class UrlFilter(
    blockListedDomains: Set[String] = Set.empty,
    blockListedUrls: Set[String] = Set.empty,
    bannedWords: Set[String] = Set.empty,
    bannedSubwords: Set[String] = Set.empty,
    softBannedWords: Set[String] = Set.empty,
    softWordThreshold: Int = 2,
    publicSuffixes: Set[String] = UrlFilter.DefaultSuffixes)
    extends Serializable {

  import UrlFilter._

  def check(url: String): Option[String] = {
    val (registeredDomain, fqdn) = domainParts(url, publicSuffixes)
    if (blockListedDomains.contains(registeredDomain)) return Some("domain")
    if (blockListedDomains.contains(fqdn)) return Some("subdomain")
    if (blockListedUrls.contains(url)) return Some("url")
    // built only when a word list reads it
    lazy val urlWords: Set[String] = Normalizer.split(url, -1).toSet
    if (bannedWords.exists(urlWords.contains)) return Some("hard_blacklisted")
    if (softBannedWords.count(urlWords.contains) >= softWordThreshold)
      return Some("soft_blacklisted")
    if (bannedSubwords.nonEmpty) {
      val normalized = normalize(url)
      if (subwordMatcher.containsAny(normalized)) return Some("blacklisted_subword")
    }
    None
  }

  // one pass over the url regardless of list size (url_filter.py:73-78
  // builds the same automaton with pyahocorasick)
  @transient private lazy val subwordMatcher =
    graft.functions.AhoCorasick(bannedSubwords)
}

object UrlFilter {
  /** url_filter.py:17 — `[^a-zA-Z0-9]+` */
  val Normalizer: Pattern = Pattern.compile("[^a-zA-Z0-9]+")

  def normalize(text: String, replace: String = ""): String =
    PyText.pyLower(Normalizer.matcher(text).replaceAll(replace))

  /** Minimal public-suffix set standing in for tldextract's PSL snapshot. */
  val DefaultSuffixes: Set[String] = Set(
    "com", "org", "net", "edu", "gov", "mil", "int", "info", "biz", "io",
    "co", "ai", "dev", "app", "xyz", "site", "online", "top", "club",
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "com.br", "com.cn", "com.mx", "co.in",
    "de", "fr", "it", "es", "nl", "ru", "cn", "jp", "br", "in", "uk", "au",
    "pl", "se", "no", "fi", "dk", "ch", "at", "be", "cz", "eu", "us", "ca", "me")

  /** Returns (registered_domain, fqdn) like tldextract: fqdn = hostname,
    * registered_domain = eTLD+1 under the given suffix set. */
  def domainParts(url: String, suffixes: Set[String]): (String, String) = {
    var host = url
    val schemeIdx = host.indexOf("://")
    if (schemeIdx >= 0) host = host.substring(schemeIdx + 3)
    val slash = host.indexWhere(c => c == '/' || c == '?' || c == '#')
    if (slash >= 0) host = host.substring(0, slash)
    val at = host.lastIndexOf('@')
    if (at >= 0) host = host.substring(at + 1)
    val colon = host.indexOf(':')
    if (colon >= 0) host = host.substring(0, colon)
    host = PyText.pyLower(host)
    val labels = host.split("\\.", -1).filter(_.nonEmpty)
    if (labels.isEmpty) return ("", "")
    // longest matching public suffix
    var suffixLen = 0
    var k = 1
    while (k <= math.min(labels.length, 3)) {
      if (suffixes.contains(labels.takeRight(k).mkString("."))) suffixLen = k
      k += 1
    }
    val registered =
      if (suffixLen > 0 && labels.length > suffixLen)
        labels.takeRight(suffixLen + 1).mkString(".")
      else if (suffixLen == labels.length) "" // bare suffix: no registered domain
      else labels.mkString(".")
    (registered, labels.mkString("."))
  }
}

/** filters/c4_filters.py:209-282 — C4 badwords (the toxicity word-list
  * filter of the north rule). Word lists are injected per language; the
  * regex construction mirrors the reference (substring match for ja/th/zh,
  * \W-flanked group otherwise). keep_fraction uses a seeded RNG per
  * partition; 0.0 (default) is fully deterministic. */
final class BadWordsFilter(
    badwordsByLang: Map[String, Seq[String]],
    keepFraction: Double = 0.0,
    failOnMissingLanguage: Boolean = true,
    defaultLanguage: String = "en",
    seed: Long = 0L)
    extends Serializable {

  // substring-mode languages (ja/th/zh, c4_filters.py:259-263) use an
  // Aho-Corasick pass instead of a giant regex alternation; word-boundary
  // languages keep the reference's \W-flanked regex semantics, run only
  // on text that holds one of the words as a substring (`mayMatch`), which
  // every regex match implies
  private sealed trait Matcher
  private case class RegexMatcher(p: Pattern, mayMatch: String => Boolean) extends Matcher
  private case class SubstringMatcher(ac: graft.functions.AhoCorasick) extends Matcher
  private case object NoMatcher extends Matcher

  @transient private lazy val matcherCache =
    scala.collection.mutable.Map.empty[String, Matcher]
  @transient private lazy val rng = new java.util.Random(seed)

  private def matcherFor(lang: String): Matcher =
    matcherCache.getOrElseUpdate(lang, {
      badwordsByLang.get(lang) match {
        case None =>
          if (failOnMissingLanguage)
            throw new IllegalArgumentException(s"no badwords list for '$lang'")
          NoMatcher
        case Some(words) if words.isEmpty => NoMatcher
        case Some(words) if lang == "ja" || lang == "th" || lang == "zh" =>
          SubstringMatcher(graft.functions.AhoCorasick(words))
        case Some(words) =>
          val joined = words.map(Pattern.quote).mkString("|")
          // an empty word occurs everywhere
          val mayMatch: String => Boolean =
            if (words.exists(_.isEmpty)) _ => true
            else graft.functions.AhoCorasick(words).containsAny
          RegexMatcher(Pattern.compile(s"(?:\\W|^)($joined)(?:\\W|$$)",
            Pattern.UNICODE_CHARACTER_CLASS), mayMatch)
      }
    })

  /** None = keep; Some(reason) = drop. */
  def check(text: String, language: Option[String]): Option[String] = {
    val lang = language.getOrElse(defaultLanguage)
    val found = matcherFor(lang) match {
      case NoMatcher => false
      case RegexMatcher(re, mayMatch) =>
        val lower = PyText.pyLower(text)
        mayMatch(lower) && re.matcher(lower).find()
      case SubstringMatcher(ac) => ac.containsAny(PyText.pyLower(text))
    }
    if (!found) None
    else if (keepFraction > 0.0 && rng.nextDouble() < keepFraction) None
    else Some("document_removed_with_badwords")
  }
}

/** filters/regex_filter.py:8-29 — drop when the pattern matches. */
final class RegexFilter(pattern: String) extends Serializable {
  @transient private lazy val re = Pattern.compile(pattern, Pattern.UNICODE_CHARACTER_CLASS)
  def check(text: String): Option[String] =
    if (re.matcher(text).find()) Some("regex") else None
}

/** filters/unigram_log_probs.py:19-79 — mean log frequency under a unigram
  * table (1e-9 OOV), keep when above threshold. Table is injected
  * (broadcast at the Spark layer). */
final class UnigramLogProbFilter(
    frequencies: Map[String, Double],
    logprobsThreshold: Double = -10.0)
    extends Serializable {

  def logprob(text: String): Double = {
    val words = Tokenizer.words(text)
    if (words.isEmpty) 0.0
    else words.map(w => math.log(frequencies.getOrElse(PyText.pyLower(w), 1e-9))).sum / words.length
  }

  def check(text: String): Option[String] =
    if (logprob(text) > logprobsThreshold) None else Some("unigram_log_prob")
}
