package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.text.{Punct, PyText, TextKernels, Tokenizer}

/** Fixtures from the reference's tests/pipeline/test_text.py:6-20 plus
  * kernel-level sanity checks. */
class TextKernelsSpec extends AnyFunSuite {

  test("simplify_text golden fixture (test_text.py:7-10)") {
    assert(TextKernels.simplifyText("|$17.56||1|\n|$15.37||2599|") == "0 0 0 0")
  }

  test("simplify_text of the PUNCTUATION table is '0' (test_text.py:12-14)") {
    // the full-width '１' digit is normalized to 0; everything else vanishes
    assert(TextKernels.simplifyText(Punct.PUNCTUATION) == "0")
  }

  test("punctuation tables have reference cardinalities") {
    assert(Punct.PUNCTUATION.length == 129)
    assert(Punct.TERMINAL_PUNCTUATION.size == 159)
  }

  test("splitLines matches Python str.splitlines") {
    assert(PyText.splitLines("a\nb\r\nc\rd").toSeq == Seq("a", "b", "c", "d"))
    assert(PyText.splitLines("a\n").toSeq == Seq("a"))
    assert(PyText.splitLines("").toSeq == Seq.empty)
    assert(PyText.splitLines("a b").toSeq == Seq("a", "b"))
    assert(PyText.splitLines("\n\n").toSeq == Seq("", ""))
  }

  test("pyStrip strips NBSP and unicode spaces like Python") {
    assert(PyText.pyStrip("  x  ") == "x")
    assert(PyText.pyStrip("x") == "x")
  }

  test("tokenizer: latin runs + punct chars + decimals") {
    assert(Tokenizer.words("I am too small...").toSeq ==
      Seq("I", "am", "too", "small", ".", ".", "."))
    assert(Tokenizer.words("pi is 3.14 ok").toSeq == Seq("pi", "is", "3.14", "ok"))
    assert(Tokenizer.words("e-mail me").toSeq == Seq("e", "-", "mail", "me"))
    assert(Tokenizer.words("你好 world").toSeq == Seq("你", "好", "world"))
  }

  test("find_duplicates counts re-occurrences and their chars") {
    assert(TextKernels.findDuplicates(Seq("a", "bb", "a", "bb", "bb")) == ((3, 5)))
    assert(TextKernels.findDuplicates(Seq("x")) == ((0, 0)))
  }

  test("find_top_duplicate: len * count, first-insertion tie-break") {
    assert(TextKernels.findTopDuplicate(Array("ab", "cd", "ab")) == 4)
    // tie on count → first inserted ("a", count 1) wins over "bbb"
    assert(TextKernels.findTopDuplicate(Array("a", "bbb")) == 1)
  }

  test("find_all_duplicate: non-overlapping scan advances n on hit") {
    // words: a b a b a b — 2-grams: ab, ba, ab(dup, skip 2), ...
    val words = Array("a", "b", "a", "b", "a", "b")
    assert(TextKernels.findAllDuplicate(words, 2) == 4) // "ab" at idx2 (+2), "ab" at idx4
  }

  test("preprocess_for_repetition strips list markers and enumerations") {
    assert(TextKernels.preprocessForRepetition("1. hello|world\n- item") == "hello world\nitem")
  }

  test("aho-corasick: multi-pattern substring matching with suffix hits") {
    import graft.functions.AhoCorasick
    val ac = AhoCorasick(Seq("he", "she", "his", "hers", "坏词"))
    assert(ac.containsAny("ushers"))   // "she" + "hers" via suffix links
    assert(ac.containsAny("there"))    // "he" inside
    assert(ac.containsAny("这个坏词啊"))
    assert(!ac.containsAny("big dog"))
    assert(!ac.containsAny(""))
  }

  test("aho-corasick agrees with per-pattern contains on random texts") {
    import graft.functions.AhoCorasick
    // chars from several 64-char blocks, a surrogate pair among them, so
    // the skip over chars no pattern starts with meets every block
    val alphabet = "abcxyzAB é坏词𝐀".toCharArray
    val rng = new scala.util.Random(5)
    def str(max: Int) = new String(Array.fill(1 + rng.nextInt(max))(alphabet(rng.nextInt(alphabet.length))))
    for (trial <- 0 until 200) {
      val patterns = Seq.fill(1 + rng.nextInt(6))(str(3))
      val ac = AhoCorasick(patterns)
      for (_ <- 0 until 50) {
        val text = if (rng.nextBoolean()) str(40) else ""
        assert(ac.containsAny(text) == patterns.exists(text.contains), s"trial $trial: $patterns in '$text'")
      }
    }
  }

  test("simplify_text configurable knobs: weekday/month norm, toggles, default-path equivalence") {
    import TextKernels.TextNormConfig
    // non-default knobs (reference WEEKDAYS/MONTHS patterns run on the
    // already-lowercased text)
    assert(TextKernels.simplifyText("Due Monday or in January!",
      TextNormConfig(normWeekdays = true, normMonthnames = true)) ==
      "due WEEKDAY or in MONTH")
    // lowercase off: case survives, punctuation still goes
    assert(TextKernels.simplifyText("Hello, World!",
      TextNormConfig(lowercase = false)) == "Hello World")
    // numbers off: digits survive
    assert(TextKernels.simplifyText("room 42",
      TextNormConfig(normNumbers = false)) == "room 42")
    // default config delegates to the fast path bit-for-bit
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 200) {
      val s = List.fill(rnd.nextInt(30))(
        "Word 12.5 ére,  \n\t x".charAt(rnd.nextInt(20))).mkString
      assert(TextKernels.simplifyText(s, TextNormConfig()) ==
        TextKernels.simplifyText(s))
    }
  }

  test("sentence count approximation") {
    assert(Tokenizer.sentenceCount("One. Two! Three?") == 3)
    assert(Tokenizer.sentenceCount("No terminal punct") == 1)
    assert(Tokenizer.sentenceCount("Hello World!") == 1)
  }

  test("simplify_text fast path equals the naive regex/Set twin on random unicode") {
    val rng = new scala.util.Random(1234)
    // char pool spanning every fast-path branch: ascii letters/digits,
    // punctuation, exotic whitespace, combining marks, precomposed
    // accents, CJK, arabic-indic digits, astral (surrogate pairs)
    val pool: Array[String] = Array(
      "a", "Z", "q", "7", "0", "9", " ", "\t", "\n", " ", " ",
      "　", ".", ",", "!", "،", "٫", "é", "é",
      "中", "文", "١", "٢", "𝟎" /* 𝟎 MATH Nd */,
      "😀" /* emoji */, "", "", "|", "$", "-")
    for (trial <- 0 until 400) {
      val s = (0 until rng.nextInt(60)).map(_ => pool(rng.nextInt(pool.length))).mkString
      assert(TextKernels.simplifyText(s) == TextKernels.simplifyTextNaive(s),
        s"divergence on trial $trial: ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
    // targeted edges: digits adjacent to decimal separators, all-ws,
    // all-punct, empty, leading/trailing exotic ws
    for (s <- Seq("", "   ", "", "12.34", "12,34", "1٫2",
        "١٫٢", "..12..", " é 12 ", "\t x \t",
        "𝟎𝟏", "a  b   c")) {
      assert(TextKernels.simplifyText(s) == TextKernels.simplifyTextNaive(s),
        s"divergence on '$s'")
    }
  }

  test("simplify_text fused ASCII pass equals the naive twin on ASCII edge cases") {
    // the r8 single-pass ASCII path: pin it against the naive twin on
    // ASCII-only strings hitting every branch — digit runs with/without
    // [.,] separators (incl. chained "1,000.5"), separators at string end,
    // punct/ws runs at boundaries, control chars in/outside the \s set,
    // uppercase folding
    val edges = Seq(
      "12.34.56", "1,000.5", "1.", "1,", ".5", ",5", "1..2", "1,,2",
      "9", "99", "a1b2", "A.B,C", "x 1 , 2 y", "0.0,0", "12,34,56",
      " 12 ", "!3.14!", "\u000b5", "\u00015", "tab\tsep",
      "UPPER lower MiXeD", "trailing 7,", "lead .7", "a-b|c$d",
      "  ", "...", "7.7.7.7", "1234567890,1234567890.42")
    for (s <- edges)
      assert(TextKernels.simplifyText(s) == TextKernels.simplifyTextNaive(s),
        s"divergence on '$s'")
    val rng = new scala.util.Random(4321)
    val pool = "abcXYZ0189 \t\n.,!|$-_;:'\"/\\()\u001c\u0001"
    for (trial <- 0 until 600) {
      val s = (0 until rng.nextInt(50)).map(_ => pool(rng.nextInt(pool.length))).mkString
      assert(TextKernels.simplifyText(s) == TextKernels.simplifyTextNaive(s),
        s"divergence on trial $trial: ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("splitNewlineRuns equals Pattern.split(-1) on random newline-heavy strings, minRun 1 and 2") {
    val rng = new scala.util.Random(15)
    val alphabet = "\n\n\n\na\r b"
    for (minRun <- Seq(1, 2)) {
      val exp = java.util.regex.Pattern.compile(s"\n{$minRun,}")
      for (_ <- 1 to 200000) {
        val s = Seq.fill(rng.nextInt(14))(alphabet.charAt(rng.nextInt(alphabet.length))).mkString
        val got = TextKernels.splitNewlineRuns(s, minRun).toSeq
        assert(got == exp.split(s, -1).toSeq, s"minRun $minRun on ${s.map(_.toInt)}")
      }
    }
    assert(TextKernels.splitNewlineRuns("", 2).toSeq == Seq(""))
    assert(TextKernels.splitNewlineRuns("\n\na\nb\n\n\n", 2).toSeq == Seq("", "a\nb", ""))
  }
}
