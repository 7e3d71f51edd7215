package graft.sources

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.WebPage
import graft.functions.SplitMix64

/** Deterministic synthetic Common-Crawl-style corpus matching the
  * BASELINE.json input_hint schema (url, warc_ts, html, text, lang).
  *
  * Every row is a pure function of (seed, id) so generation is
  * embarrassingly parallel (spark.range → map) and reproducible across
  * runs, partitionings, and cluster sizes — the property the differential
  * harness and the N-vs-4N scaling bench both rely on.
  *
  * Mix (FIXTURES.md §13): ~60% clean English prose that passes the full
  * filter chain, ~40% spread across planted rule-trigger docs; one hot
  * fqdn owning ~10% of rows (skew), and a 0.1% tail of oversized HTML
  * blobs (~50× median) to exercise skew handling.
  */
object WebCorpusGen {

  val DefaultSeed = 42L

  // -- vocabulary pools (constructed, public-domain-ish filler) --
  private val nouns = Array(
    "market", "garden", "river", "mountain", "library", "station", "teacher",
    "window", "journey", "morning", "village", "bridge", "harbor", "forest",
    "kitchen", "letter", "winter", "summer", "evening", "road", "city",
    "music", "painting", "story", "castle", "island", "valley", "meadow",
    "ocean", "train", "market", "festival", "garden", "museum", "theatre",
    "doctor", "farmer", "sailor", "writer", "painter", "baker", "miller")
  private val verbs = Array(
    "watched", "crossed", "visited", "remembered", "described", "followed",
    "discovered", "painted", "carried", "opened", "closed", "repaired",
    "planted", "gathered", "studied", "finished", "started", "enjoyed",
    "explained", "observed", "prepared", "collected", "delivered", "measured")
  private val adjectives = Array(
    "quiet", "bright", "ancient", "narrow", "pleasant", "careful", "distant",
    "gentle", "crowded", "peaceful", "golden", "frozen", "wooden", "steady",
    "curious", "patient", "famous", "simple", "modest", "lively", "foggy")
  private val connectors = Array(
    "and then", "because", "while", "although", "so that", "before", "after")

  private val frenchWords = Array(
    "le", "marché", "était", "très", "calme", "ce", "matin", "et", "les",
    "enfants", "jouaient", "dans", "la", "rue", "pendant", "que", "nous",
    "regardions", "les", "bateaux", "sur", "la", "rivière", "près", "du",
    "pont", "avec", "une", "lumière", "douce", "je", "ne", "pense", "pas",
    "qu'il", "est", "jamais", "pour", "vous", "dans", "toujours")
  private val germanWords = Array(
    "der", "markt", "war", "heute", "sehr", "ruhig", "und", "die", "kinder",
    "spielten", "auf", "der", "straße", "während", "wir", "die", "schiffe",
    "auf", "dem", "fluss", "beobachteten", "nicht", "eine", "mit", "von",
    "für", "das", "ist", "auch", "aber", "oder", "wir", "sind", "werden")
  // ko/vi pools (round 6, VERDICT r5 #8): spaced languages already in the
  // 36-language LID fixture. Tokens lean on the fixture's trained pools
  // (tools/gen_fasttext_model.py WIDE_LANGS) plus common words sharing
  // their subword space — Hangul blocks (ko) and diacritic-rich Latin (vi)
  // are near-unique to their language in the fixture, so classification
  // margins are wide.
  private val koreanWords = Array(
    "그리고", "에서", "위에", "것", "아니다", "이다", "있다", "위해", "함께",
    "이것", "모든", "매우", "집", "물", "빛", "저녁", "아침", "시장", "정원",
    "마을", "아이들", "길", "다리", "강", "하지만", "처럼", "우리", "나는",
    "사람들", "시간", "오늘", "내일", "학교", "도시", "음악", "이야기",
    "그러나", "그래서", "있었다", "되었다", "합니다", "봅니다", "갑니다")
  private val vietnameseWords = Array(
    "và", "của", "là", "trong", "không", "có", "được", "cho", "với", "này",
    "đó", "rất", "mọi", "nhà", "nước", "sáng", "buổi", "tối", "chợ", "vườn",
    "làng", "trẻ", "em", "đường", "cầu", "sông", "nhưng", "như", "người",
    "những", "một", "các", "để", "khi", "đã", "sẽ", "cũng", "về", "thì",
    "từ", "năm", "ngày", "việc", "trên", "đến", "bằng", "sau", "trước")
  private val spanishWords = Array(
    "el", "mercado", "estaba", "muy", "tranquilo", "esta", "mañana", "y",
    "los", "niños", "jugaban", "en", "la", "calle", "mientras", "mirábamos",
    "los", "barcos", "en", "el", "río", "cerca", "del", "puente", "con",
    "una", "luz", "suave", "no", "pero", "también", "muy", "cuando", "es")

  private def docRng(seed: Long): SplitMix64 = new SplitMix64(seed ^ 0x9e3779b97f4a7c15L)

  private def sentence(rng: SplitMix64): String = {
    val a = () => rng.pick(adjectives)
    val o = () => rng.pick(nouns)
    val v = () => rng.pick(verbs)
    // varied templates rich in Gopher stop words (the, be, to, of, and,
    // that, have, with) so clean docs pass the stop-word rule
    val core = rng.nextInt(6) match {
      case 0 => s"The ${a()} ${o()} ${v()} the ${o()} of the ${a()} ${o()}"
      case 1 => s"A ${o()} with a ${a()} ${o()} ${v()} near the ${a()} ${o()}"
      case 2 => s"That ${o()} ${v()} because the ${o()} seemed ${a()} and ${a()}"
      case 3 => s"Some of the ${o()}s have ${v()} the ${a()} ${o()} to reach the ${o()}"
      case 4 => s"It would be ${a()} to ${v().stripSuffix("ed")} the ${o()} while the ${o()} ${v()}"
      case _ => s"People ${v()} the ${o()} and the ${a()} ${o()} that came with the ${a()} ${o()}"
    }
    val tail = rng.nextInt(3) match {
      case 0 => s" ${rng.pick(connectors)} the ${a()} ${o()} ${v()} again"
      case 1 => s", and the ${o()} was ${a()}"
      case _ => ""
    }
    core + tail + ". "
  }

  private def paragraph(rng: SplitMix64, sentences: Int): String =
    (1 to sentences).map(_ => sentence(rng)).mkString("").trim

  private def cleanDoc(rng: SplitMix64, scale: Int): String = {
    val nParas = 3 + rng.nextInt(3 + scale)
    (1 to nParas).map(_ => paragraph(rng, 2 + rng.nextInt(4))).mkString("\n")
  }

  private def foreignDoc(rng: SplitMix64, words: Array[String]): String = {
    val n = 60 + rng.nextInt(80)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      sb.append(words(rng.nextInt(words.length)))
      i += 1
      sb.append(if (i % 12 == 0) ". " else " ")
    }
    sb.append(words(rng.nextInt(words.length))).append('.').toString
  }

  private def zhDoc(rng: SplitMix64): String = {
    val chars = "的一是在不了有和人这中大为上个国我以要他时来用们生到作地于出就分对成会可主发年动"
    val n = 80 + rng.nextInt(120)
    val sb = new StringBuilder
    var i = 0
    while (i < n) { sb.append(chars.charAt(rng.nextInt(chars.length))); i += 1 }
    sb.append('。').toString
  }

  /** doc kind by id hash: 0-59 clean, then planted rule triggers. */
  def genText(id: Long, seed: Long): (String, String) = { // (text, lang)
    val rng = docRng(seed ^ (id * 0x5851f42d4c957f2dL))
    val kind = (id % 100).toInt
    kind match {
      case k if k < 60 => (cleanDoc(rng, if (k % 7 == 0) 6 else 2), "en")
      case k if k < 63 => (foreignDoc(rng, frenchWords), "fr")
      case k if k < 64 => (foreignDoc(rng, koreanWords), "ko")
      case k if k < 65 => (foreignDoc(rng, vietnameseWords), "vi")
      case k if k < 68 => (zhDoc(rng), "zh")
      case k if k < 70 => (foreignDoc(rng, germanWords), "de")
      case k if k < 72 => (foreignDoc(rng, spanishWords), "es")
      case k if k < 75 => // gopher_short_doc: <50 words, low repetition
        (paragraph(rng, 3).split(" ").take(35).mkString(" ").stripSuffix(",") + ".", "en")
      case k if k < 78 => // dup_line_frac
        (sentence(rng).trim + "\n" + (sentence(rng).trim + "\n") * 4, "en")
      case k if k < 81 => // top_n_gram / duplicated_n_grams
        val phrase = sentence(rng).trim.stripSuffix(".")
        (((phrase + ", ") * 10).trim + ". " + paragraph(rng, 2), "en")
      case k if k < 84 => // gopher_too_many_hashes (en filler keeps LID high;
        // varied segments so the repetition rules don't fire first)
        (sentence(rng).trim + " " +
          (1 to 40).map(i => s"# the ${rng.pick(nouns)} ${rng.pick(verbs)} ${rng.pick(adjectives)} $i").mkString(" "), "en")
      case k if k < 86 => // gopher_too_many_ellipsis: each "..." adds 3 dot
        // tokens to n_words, so segments stay ≤5 extra words to keep the
        // ratio above 0.1; varied templates so the words flanking the dots
        // differ (else the 5-gram dup scan fires first)
        (sentence(rng).trim + " " +
          (1 to 40).map { i =>
            val o = rng.pick(nouns); val a2 = rng.pick(adjectives); val v2 = rng.pick(verbs)
            (i % 5) match {
              case 0 => s"... $o of the $a2 $v2"
              case 1 => s"... the $a2 $o $v2"
              case 2 => s"... $v2 by a $a2 $o"
              case 3 => s"... $o and $o $v2"
              case _ => s"... $a2 $o near $o"
            }
          }.mkString(" "), "en")
      case k if k < 88 => // gopher_too_many_bullets
        ((1 to 20).map(_ => "• " + sentence(rng).trim).mkString("\n"), "en")
      case k if k < 90 => // fineweb short_line_ratio: short lines that pass
        // C4 (terminal '.', ≥3 words) and repetition (varied templates)
        ((1 to 30).map { i =>
          val o = rng.pick(nouns); val a2 = rng.pick(adjectives); val v2 = rng.pick(verbs)
          (i % 6) match {
            case 0 => s"We sell the $a2 $o."
            case 1 => s"Here is a $a2 $o."
            case 2 => s"See the $o of $o."
            case 3 => s"The $o can be $a2."
            case 4 => s"Try this $a2 $o now."
            case _ => s"Our $o was $v2."
          }
        }.mkString("\n"), "en")
      case k if k < 92 => // fineweb line_punct_ratio: lines end with an
        // apostrophe — C4 END_PUNCTUATION accepts it, FineWeb's
        // TERMINAL_PUNCTUATION stop_chars do not (varied templates)
        ((1 to 12).map { i =>
          val o = rng.pick(nouns); val a2 = rng.pick(adjectives); val v2 = rng.pick(verbs)
          (i % 4) match {
            case 0 => s"People spoke of the $a2 $o as 'the $a2 $o'"
            case 1 => s"The $o was $v2 and called 'a $a2 $o'"
            case 2 => s"Many of them $v2 the $o to be 'rather $a2'"
            case _ => s"That $a2 $o was $v2 with the words 'so $a2'"
          }
        }.mkString("\n"), "en")
      case k if k < 94 => // c4 lorem ipsum (doc drop)
        (cleanDoc(rng, 2) + "\nSome lorem ipsum filler text appears right here.", "en")
      case k if k < 95 => // c4 curly bracket
        (cleanDoc(rng, 2) + "\nA code sample with a { bracket appears here.", "en")
      case k if k < 97 => // badwords
        (paragraph(rng, 2) + " " + BadWordsFixture.en(rng.nextInt(BadWordsFixture.en.length)) +
          " appears mid sentence. " + paragraph(rng, 2), "en")
      case _ => // PII-laden but otherwise clean (kept, scrubbed)
        (paragraph(rng, 2) + " Contact us at user" + (id % 97) + "@example" + (id % 13) +
          ".com or via 57.120.21." + (id % 200) + " any time. " + paragraph(rng, 3), "en")
    }
  }

  /** Fixture toxicity word list (stand-in for LDNOOBW; the real lists are a
    * runtime config asset). Deliberately innocuous tokens. */
  object BadWordsFixture {
    val en: Array[String] = Array("badwordalpha", "badwordbeta", "badwordgamma")
    val asMap: Map[String, Seq[String]] =
      Map("en" -> en.toSeq, "fr" -> Seq("badmotfr"), "de" -> Seq("schlechtwort"),
          "es" -> Seq("malapalabra"), "zh" -> Seq("坏词"))
  }

  private val domains: Array[String] = {
    val tlds = Array("com", "org", "net", "io", "co.uk", "de", "fr")
    (0 until 500).map(i => s"site$i.${tlds(i % tlds.length)}").toArray
  }

  /** The blocklisted slice of domains used to exercise the URL filter. */
  val BlockedDomains: Set[String] = (0 until 500 by 50).map(i => domains(i)).toSet

  def genRow(id: Long, seed: Long): WebPage = {
    val rng = docRng(seed ^ id)
    val (text0, lang) = genText(id, seed)
    // 0.1% oversized blobs (~50x median): extra *distinct* paragraphs so the
    // doc still flows through the whole chain (skew tail, not a dup trigger)
    val text =
      if (id % 1000 == 999)
        text0 + "\n" + cleanDoc(docRng(seed ^ id ^ 0x5eedL), 120)
      else text0
    val fqdn =
      if (rng.nextDouble() < 0.10) "hot.example.com" // hot domain ~10%
      else domains(rng.nextInt(domains.length))
    val url = s"https://$fqdn/page/${id}"
    val html = genHtml(id, text).getBytes("UTF-8")
    val ts = new Timestamp(1700000000000L + (id % 86400000L))
    WebPage(url, ts, html, text, lang)
  }

  /** Wrap `text` in one of eight structural HTML shapes (paragraphs, a
    * table, nested lists, a blockquote, a <pre> block, a definition list,
    * inline-markup paragraphs with comment/noscript/figure noise, and
    * h1/section with <br>-separated lines) plus boilerplate the extractor
    * must prune (nav/footer/aside, a form, and a favor_precision-style
    * class="social share" div). Invariant: HtmlExtractor.extract(html) ==
    * text for every shape — property-tested in OpsSpec and load-bearing for
    * the WARC end-to-end path. */
  def genHtml(id: Long, text: String): String = {
    val lines = text.split("\n")
    val boilerTop = "<nav>home | about</nav><div class=\"social share\">like | tweet | pin</div>" +
      "<form action=\"/search\"><input name=\"q\"/>search</form>"
    val boilerBottom = "<aside>related links</aside><footer>copyright</footer>"
    val body = (id % 8) match {
      case 0 =>
        lines.map(p => s"<p>$p</p>").mkString("<article>", "", "</article>")
      case 1 =>
        // first (up to) 2 lines as table rows — each row split into two
        // cells at the first space (cells re-join with one space on extract)
        val (head, tail) = lines.splitAt(math.min(2, lines.length))
        val rows = head.map { l =>
          val sp = l.indexOf(' ')
          if (sp > 0) s"<tr><td>${l.substring(0, sp)}</td><td>${l.substring(sp + 1)}</td></tr>"
          else s"<tr><td>$l</td></tr>"
        }.mkString
        s"<table><tbody>$rows</tbody></table>" +
          tail.map(p => s"<p>$p</p>").mkString("<article>", "", "</article>")
      case 2 =>
        // nested list: first line an outer item, second line nested, rest items
        val items = lines.zipWithIndex.map { case (l, j) =>
          if (j == 1) s"<ul><li>$l</li></ul>" else s"<li>$l</li>"
        }.mkString
        s"<ul>$items</ul>"
      case 3 =>
        val (head, tail) = lines.splitAt(1)
        head.map(l => s"<blockquote><p>$l</p></blockquote>").mkString +
          tail.map(p => s"<p>$p</p>").mkString("<article>", "", "</article>")
      case 4 =>
        // preformatted block: first line inside <pre>, rest as paragraphs
        val (head, tail) = lines.splitAt(1)
        head.map(l => s"<pre>$l</pre>").mkString +
          tail.map(p => s"<p>$p</p>").mkString("<article>", "", "</article>")
      case 5 =>
        // definition list: each line split at the first space into a
        // <dt>/<dd> entry (term + description re-join with one space)
        val entries = lines.map { l =>
          val sp = l.indexOf(' ')
          if (sp > 0) s"<dt>${l.substring(0, sp)}</dt><dd>${l.substring(sp + 1)}</dd>"
          else s"<dt>$l</dt>"
        }.mkString("<dl>", "</dl><dl>", "</dl>")
        entries
      case 6 =>
        // inline markup inside paragraphs + dropped noise subtrees: an HTML
        // comment with text-like content, a <noscript> block, a <figure>
        // with caption — none may leak into the extraction
        val marked = lines.map { l =>
          val sp = l.indexOf(' ')
          val withEm = if (sp > 0)
            s"<em>${l.substring(0, sp)}</em> <a href=\"/x\">${l.substring(sp + 1)}</a>"
          else s"<strong>$l</strong>"
          s"<p>$withEm</p>"
        }.mkString
        "<!-- hidden comment words that must not appear -->" +
          "<noscript>enable javascript to continue</noscript>" +
          s"<article>$marked</article>" +
          "<figure><img src=\"x.png\"/><figcaption>a caption to drop</figcaption></figure>"
      case _ =>
        // heading + section with <br>-separated lines
        val (head, tail) = lines.splitAt(1)
        head.map(l => s"<h1>$l</h1>").mkString +
          s"<section><p>${tail.mkString("<br/>")}</p></section>"
    }
    "<html><head><title>doc " + id + "</title></head><body>" +
      boilerTop + body + boilerBottom + "</body></html>"
  }

  /** Distributed generation: n rows over `partitions` partitions. */
  def generate(spark: SparkSession, n: Long, seed: Long = DefaultSeed,
               partitions: Int = 0): DataFrame = {
    import spark.implicits._
    val parts = if (partitions > 0) partitions
                else spark.sparkContext.defaultParallelism * 2
    spark.range(0, n, 1, parts).map(id => genRow(id, seed)).toDF()
  }
}
