package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Fixtures ported from the reference's tests/pipeline/test_filters.py. */
object Fixtures {
  val TEXT_LF_1: String =
    "I wish it need not have happened in my time,' said Frodo. 'So do I,' said Gandalf, 'and so do all who live to " +
    "see such times. But that is not for them to decide. All we have to decide is what to do with the time that is " +
    "given us.'"

  val TEXT_LF_2: String =
    "Un magicien n'est jamais en retard Frodon Sacquet. Pas plus qu'il est en avance. Il arrive précisément " +
    "à l'heure prévue."

  val TEXT_LF_3: String =
    "Um mago nunca chega tarde, Frodo Bolseiro. Nem cedo. Ele chega precisamente na hora que pretende."

  val TEXT_LF_4: String =
    "Molti tra i vivi meritano la morte. E parecchi che sono morti avrebbero meritato la vita. Sei forse tu in " +
    "grado di dargliela? E allora non essere troppo generoso nel distribuire la morte nei tuoi giudizi: " +
    "sappi che nemmeno i più saggi possono vedere tutte le conseguenze."
}

class FiltersSpec extends AnyFunSuite {
  import Fixtures._

  // --- GopherQualityFilter (test_filters.py:65-74) ---
  private val gq = GopherQualityConfig(minDocWords = Some(10), maxDocWords = Some(1000))

  test("gopher quality: short doc") {
    assert(GopherQualityFilter.check("I am too small...", gq) == Some("gopher_short_doc"))
  }
  test("gopher quality: below avg word length") {
    assert(GopherQualityFilter.check("I am " * 20, gq) == Some("gopher_below_avg_threshold"))
  }
  test("gopher quality: above avg word length") {
    assert(GopherQualityFilter.check("interconnection " * 20, gq) == Some("gopher_above_avg_threshold"))
  }
  test("gopher quality: too many hashes") {
    assert(GopherQualityFilter.check("# comment " * 20, gq) == Some("gopher_too_many_hashes"))
  }
  test("gopher quality: too many ellipsis") {
    assert(GopherQualityFilter.check("... comment " * 20, gq) == Some("gopher_too_many_ellipsis"))
  }
  test("gopher quality: below alpha threshold") {
    val text = "the ./!*?<><> apple <?////> orange  ++ interconnection !<>??? have" * 20
    assert(GopherQualityFilter.check(text, gq) == Some("gopher_below_alpha_threshold"))
  }
  test("gopher quality: LF1 passes") {
    assert(GopherQualityFilter.check(TEXT_LF_1, gq).isEmpty)
  }

  // --- GopherRepetitionFilter (test_filters.py:48-63; fork's unnumbered
  //     reason labels, gopher_repetition_filter.py:136,141) ---
  test("gopher repetition: dup_line_frac") {
    assert(GopherRepetitionFilter.check("I am your father.\n" * 4) == Some("dup_line_frac"))
  }
  test("gopher repetition: dup_para_frac") {
    assert(GopherRepetitionFilter.check("I am your father.\n\n" * 4) == Some("dup_para_frac"))
  }
  test("gopher repetition: dup_para_char_frac") {
    val text = "I am groot.\n\n" + "You are a wizard.\n\n" + "I am your father.\n\n" + (("x" * 30) + ".\n\n") * 2
    assert(GopherRepetitionFilter.check(text) == Some("dup_para_char_frac"))
  }
  test("gopher repetition: dup_line_char_frac") {
    val text = "I am groot.\n" + "You are a wizard.\n" + "I am your father.\n" + (("x" * 40) + ".\n") * 2
    assert(GopherRepetitionFilter.check(text) == Some("dup_line_char_frac"))
  }
  test("gopher repetition: top 2-gram") {
    assert(GopherRepetitionFilter.check("I am Frank, I am Frank, I am Frank") == Some("top_n_gram"))
  }
  test("gopher repetition: top 3-gram") {
    assert(GopherRepetitionFilter.check("I am Frank, you are Jhon. I am Frank. I am Frank you are Jhon") ==
      Some("top_n_gram"))
  }
  test("gopher repetition: duplicated 5-grams") {
    assert(GopherRepetitionFilter.check("I am a solo traveller " * 4 + TEXT_LF_1) ==
      Some("duplicated_n_grams"))
  }
  test("gopher repetition: clean text passes") {
    assert(GopherRepetitionFilter.check(TEXT_LF_1).isEmpty)
  }

  // --- LanguageFilter (test_filters.py:83-101) ---
  test("language filter: en/it kept, fr/pt rejected, labels correct") {
    val lf = new LanguageFilter(languages = Some(Seq("en", "it")))
    val r1 = lf.check(TEXT_LF_1)
    assert(r1.keep && r1.language == "en", s"got $r1")
    val r2 = lf.check(TEXT_LF_2)
    assert(!r2.keep && r2.language == "fr", s"got $r2")
    val r3 = lf.check(TEXT_LF_3)
    assert(!r3.keep && r3.language == "pt", s"got $r3")
    val r4 = lf.check(TEXT_LF_4)
    assert(r4.keep && r4.language == "it", s"got $r4")
    // keep_top_pairs_threshold: pairs above the score surface; -1 disables
    assert(r1.topPairs.isEmpty)
    val withPairs = new LanguageFilter(languages = Some(Seq("en", "it")),
      keepTopPairsThreshold = 0.0).check(TEXT_LF_1)
    assert(withPairs.topPairs.nonEmpty && withPairs.topPairs.contains("en"))
    assert(withPairs.topPairs.values.forall(_ > 0.0))
  }

  // --- RegexFilter (test_filters.py:103-106) ---
  test("regex filter") {
    val rf = new RegexFilter("(?i)copyright")
    assert(rf.check(TEXT_LF_1 + "\n\nCoPyRiGhT").isDefined)
    assert(rf.check(TEXT_LF_1).isEmpty)
  }

  // --- UnigramLogProbFilter (test_filters.py:108-112), small offline table ---
  test("unigram log prob filter") {
    val common = Fixtures.TEXT_LF_1.toLowerCase.split("[^a-z']+").filter(_.nonEmpty)
    val freqs = common.map(w => w -> 0.001).toMap // all common → logprob ≈ -6.9 > -10
    val uf = new UnigramLogProbFilter(freqs)
    assert(uf.check(TEXT_LF_1).isEmpty)
    assert(uf.check("Cacophony Pareidolia Serendipity").isDefined) // OOV → ~ -20.7
  }

  // --- URLFilter (test_filters.py:115-132) ---
  test("url filter blocklist semantics") {
    val uf = new UrlFilter(blockListedDomains = Set("blocked.com", "danger.org", "badsubdomain.nice.com"))
    assert(uf.check("https://blocked.com/some-sub-url?with=stuff") == Some("domain"))
    assert(uf.check("https://hey.danger.org/some-sub-url?with=stuff") == Some("domain"))
    assert(uf.check("http://hey.danger.org/some-sub-url?with=stuff") == Some("domain"))
    assert(uf.check("http://www.danger.org/some-sub-url?with=stuff") == Some("domain"))
    assert(uf.check("https://nice.com/some-sub-url?with=stuff").isEmpty)
    assert(uf.check("https://badsubdomain.nice.com/some-sub-url?with=stuff") == Some("subdomain"))
    assert(uf.check("https://sdsd.badsubdomain.nice.com/some-sub-url?with=stuff").isEmpty)
    assert(uf.check("https://blocke.dcom/some-sub-url?with=stuff").isEmpty)
  }

  test("url filter: hard and soft word drops fire; a domains-only filter keeps worded urls") {
    val uf = new UrlFilter(bannedWords = Set("casino"), softBannedWords = Set("free", "bonus", "win"))
    assert(uf.check("https://example.com/casino-night") == Some("hard_blacklisted"))
    assert(uf.check("https://example.com/free-bonus?x=1") == Some("soft_blacklisted"))
    assert(uf.check("https://example.com/free-stuff").isEmpty)
    assert(new UrlFilter(softBannedWords = Set("free", "bonus")).check("https://free.com/bonus") ==
      Some("soft_blacklisted"))
    assert(new UrlFilter(blockListedDomains = Set("blocked.com")).check("https://ok.com/casino-free-bonus").isEmpty)
    // no word lists and a threshold of 0: zero soft words still reach it
    assert(new UrlFilter(softWordThreshold = 0).check("https://ok.com/") == Some("soft_blacklisted"))
  }

  // --- C4QualityFilter (semantics from c4_filters.py:88-136) ---
  test("c4 quality: lorem ipsum drops whole doc") {
    val text = "This is a fine sentence with words.\nSome Lorem Ipsum filler is here okay."
    assert(C4QualityFilter.check(text) == Left("lorem_ipsum"))
  }
  test("c4 quality: curly bracket drops whole doc") {
    val text = "This is a fine sentence with code { inside it}."
    assert(C4QualityFilter.check(text) == Left("curly_bracket"))
  }
  test("c4 quality: too few sentences") {
    assert(C4QualityFilter.check("Too short.") == Left("too_few_sentences"))
  }
  test("c4 quality: line rewriting keeps only qualifying lines") {
    val keep1 = "This is the first good sentence here. It even has two parts. And a third one for good measure."
    val keep2 = "Another proper paragraph follows with more words. It also ends well. Really it does!"
    val dropNoPunct = "no terminal punctuation here"
    val dropJs = "Please enable javascript to view this."
    val dropPolicy = "We use cookies and you accept our privacy policy terms."
    val text = Seq(keep1, dropNoPunct, dropJs, dropPolicy, keep2).mkString("\n")
    C4QualityFilter.check(text) match {
      case Right(rewritten) => assert(rewritten == keep1 + "\n" + keep2)
      case Left(r) => fail(s"dropped: $r")
    }
  }
  test("c4 quality: citation stripped") {
    val line = "This fact is well known[citation needed] and documented. It is repeated here. " * 3
    C4QualityFilter.check(line) match {
      case Right(rewritten) => assert(!rewritten.contains("[citation needed]"))
      case Left(r) => fail(s"dropped: $r")
    }
  }

  test("fineweb: custom stop_chars override the terminal-punctuation set") {
    // distinct lines (the char-dup check counts repeats) ending in ';'
    // fail the default set but pass a custom one
    val text = (1 to 6).map(i =>
      s"a sufficiently long content line number $i ends here;").mkString("\n")
    assert(FineWebQualityFilter.check(text).contains("line_punct_ratio"))
    assert(FineWebQualityFilter.check(text,
      FineWebQualityConfig(stopChars = Some(Seq(";")))).isEmpty)
  }

  test("c4 quality: split_paragraph=false evaluates per sentence, not per line") {
    // one LINE holding three sentences — line mode sees a single unit,
    // sentence mode (c4_filters.py:89 split_into_sentences) judges each
    // sentence: the 2-word middle unit falls under min_words_per_line and
    // drops alone
    val text = "The first sentence is quite fine here. Too brief. " +
      "The last sentence also ends properly."
    val cfg = C4QualityConfig(splitParagraph = false, minNumSentences = -1)
    C4QualityFilter.check(text, cfg) match {
      case Right(rewritten) =>
        assert(!rewritten.contains("Too brief"))
        // c4_filters.py:136 — sentence mode joins kept units with " "
        assert(rewritten ==
          "The first sentence is quite fine here. The last sentence also ends properly.")
        assert(!rewritten.contains("\n"))
      case Left(r) => fail(s"dropped: $r")
    }
    // line mode on the same text keeps the whole line (ends with '.',
    // plenty of words in the single unit)
    C4QualityFilter.check(text, C4QualityConfig(minNumSentences = -1)) match {
      case Right(r) => assert(r.contains("Too brief"))
      case Left(r) => fail(s"dropped: $r")
    }
  }

  // --- C4ParagraphFilter (c4_filters.py:139-169) ---
  test("c4 paragraph filter") {
    val long = "x" * 200
    assert(C4ParagraphFilter.check(Seq(long, long, long).mkString("\n")).isEmpty)
    assert(C4ParagraphFilter.check(Seq(long, long, "short").mkString("\n")) == Some("< 3 paragraphs"))
    assert(C4ParagraphFilter.check(long + "\n" + long) == Some("< 3 paragraphs"))
  }

  // --- FineWebQualityFilter (fineweb_quality_filter.py:33-56) ---
  test("fineweb: line punct ratio") {
    val text = (1 to 10).map(i => s"line number $i with no punct at all end").mkString("\n")
    assert(FineWebQualityFilter.check(text) == Some("line_punct_ratio"))
  }
  test("fineweb: short line ratio") {
    val text = (1 to 10).map(_ => "short ln.").mkString("\n")
    assert(FineWebQualityFilter.check(text) == Some("short_line_ratio"))
  }
  test("fineweb: char dup ratio") {
    val dup = "This repeated line has quite a few characters in it, yes."
    val base = (1 to 8).map(i => s"A unique and long enough line number $i that ends properly.").mkString("\n")
    val text = base + "\n" + dup + "\n" + dup
    assert(FineWebQualityFilter.check(text) == Some("char_dup_ratio"))
  }
  test("fineweb: list ratio") {
    val text = (1 to 20).map(i => s"item$i.").mkString("\n")
    // 19 newlines / 40 words = 0.475 > 0.3 — but short_line fires first
    assert(FineWebQualityFilter.check(text).isDefined)
  }
  test("fineweb: empty") {
    assert(FineWebQualityFilter.check("  \n \n") == Some("empty"))
  }
  test("fineweb: clean text passes") {
    val text = (1 to 6).map(i =>
      s"This is a good long line number $i with plenty of words and it ends with a period.").mkString("\n")
    assert(FineWebQualityFilter.check(text).isEmpty)
  }

  // --- BadWordsFilter (c4_filters.py:209-282) ---
  test("badwords: word-boundary match for en, substring for zh") {
    val bw = new BadWordsFilter(Map("en" -> Seq("badword"), "zh" -> Seq("坏")))
    assert(bw.check("this contains a badword here.", Some("en")) ==
      Some("document_removed_with_badwords"))
    assert(bw.check("this contains badwordish stuff.", Some("en")).isEmpty) // substring only
    assert(bw.check("这个文本有坏字", Some("zh")) == Some("document_removed_with_badwords"))
    assert(bw.check("clean text", Some("en")).isEmpty)
  }

  test("badwords: the substring prefilter never changes the regex verdict (short and long lists)") {
    val rng = new scala.util.Random(5)
    val alphabet = "abcdeéßøz"
    val long = ("badwordalpha" +: "ss" +: "zoë" +:
      Seq.fill(400)(Seq.fill(2 + rng.nextInt(6))(alphabet(rng.nextInt(alphabet.length))).mkString)).distinct
    // near-misses, upper case, non-ASCII letters and supplementary-plane
    // characters (a letter and a symbol) beside the words
    val pieces = Seq("badwordalpha", "xbadwordalpha", "badwordalpha_", "BADWORDALPHA", "BadWordAlpha",
      "ss", "ß", "STRASSE", "zoë", "ZOË", "zoëx", "é", "İ", "𐐀", "𝐀", "😀",
      "_", "-", ".", " ", "\n", "'", "7", "q")
    for (words <- Seq(Seq("badwordalpha", "ss", "zoë"), long, Seq("", "badwordalpha"))) {
      val regex = java.util.regex.Pattern.compile(
        s"(?:\\W|^)(${words.map(java.util.regex.Pattern.quote).mkString("|")})(?:\\W|$$)",
        java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
      val bw = new BadWordsFilter(Map("en" -> words))
      var hits = 0
      for (_ <- 0 until 4000) {
        val text = Seq.fill(rng.nextInt(10)) {
          if (rng.nextInt(4) == 0) words(rng.nextInt(words.length)) else pieces(rng.nextInt(pieces.length))
        }.mkString
        val want = regex.matcher(graft.text.PyText.pyLower(text)).find()
        if (want) hits += 1
        assert(bw.check(text, Some("en")).isDefined == want, s"${words.length} words: '$text'")
      }
      assert(hits > 200 && hits < 3800, s"${words.length} words: $hits of 4000 texts match")
    }
  }

  // --- PII golden fixtures live in PiiSpec ---
}
