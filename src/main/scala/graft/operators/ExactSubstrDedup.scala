package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Hashes
import graft.text.Tokenizer

/** Spark-native approximation of ExactSubstr dedup
  * (dedup/exact_substrings.py:35-343). The reference shells out to an
  * external Rust suffix-array tool over the byte-concatenated corpus and
  * removes every duplicated byte range ≥ a length threshold
  * (ESRangeRemover, exact_substrings.py:149-343, min_doc_words=50).
  *
  * This approximation works at WORD granularity with fixed-length spans:
  *   - every window of `spanWords` consecutive words is hashed (a 128-bit
  *     pair of polynomial rolling hashes over per-word xxhash64 — O(words)
  *     per doc; see spanHashes for the collision/false-removal analysis);
  *   - a span occurrence is a duplicate when an earlier occurrence of the
  *     same hash exists anywhere in the corpus (first occurrence by
  *     (doc id, position) wins — one copy survives);
  *   - duplicate span ranges [pos, pos+spanWords) are cut from the doc's
  *     words; docs left with fewer than `minDocWords` words are dropped
  *     (the reference's min_doc_words re-drop).
  *
  * Documented divergences from the true suffix-array semantics: matches
  * shorter than `spanWords` words are not found even if ≥ the reference's
  * byte threshold; removal is word- not byte-aligned; the reference's tool
  * can remove ALL occurrences (self-similar mode) whereas here the first
  * occurrence survives deterministically.
  *
  * Spark shape: one narrow span-hash pass → explode (ids + positions only,
  * the text never rides the shuffle) → one groupBy-window on the span hash
  * → per-doc range cut. Hot span hashes (mass-duplicated boilerplate) are
  * a single window partition streamed with spill, not an array row.
  */
/** @param shortSpanWords optional SECOND span length: the true tool's
  *   minimum duplicated range is ~100 BYTES (≈15 English words), far below
  *   the 50-word primary span, so a short-span pass catches the
  *   `short_dup` divergence class the round-5 measurement quantified
  *   (recall 0 → ~1 on 15-45-word copies). Off by default — the primary
  *   oracle pins the single-span behavior. */
/** @param anchorEvery optional winnowing window (in span-start positions):
  *   when set, spans are emitted only at CONTENT-DEFINED anchor positions
  *   (word-hash is the minimum of its w-window), cutting the exploded span
  *   rows to ~2/(w+1) of stride-1 — the implemented scale path past the
  *   span-explode shuffle ceiling (BENCH.md §sf1). Winnowing guarantees
  *   both copies of a shared word-aligned range pick the same anchors
  *   inside it, so ranges ≥ spanWords + w − 1 words are still always
  *   detected; ranges in [spanWords, spanWords+w−1) MAY be missed — the
  *   measured trade (tools/exact_substr_divergence.py anchor mode). */
/** @param hotKeyGroupByMin escape hatch for EXTREME hot span hashes: the
  *   default window-min shape shuffles the span table once but lands every
  *   row of one hash on a single reducer partition, where it can only be
  *   spill-streamed — fine up to the measured sf1 skew, but one boilerplate
  *   span shared by ~10^8 docs would serialize through one task. This flag
  *   switches to groupBy-min + join-back: the min uses map-side partial
  *   aggregation (hot keys combine before the exchange) and the join-back
  *   is AQE-skew-splittable. Costs a second shuffle of the span table.
  *   Round 7: no longer only manual — the prefilter's count pass yields
  *   the max per-hash occurrence count from the same aggregate for free,
  *   and the operator flips to groupBy-min BY ITSELF above
  *   `spark.graft.exactsubstr.hotKeyThreshold` (default 10^6 ≈ the rows
  *   one reducer can stream per minute); this flag forces the shape ON
  *   regardless. */
/** Duplicate-candidate prefilter (always on): before the (h1, h2)
  * first-occurrence pass, a first job shuffles ONLY `__h1` (8-byte key,
  * map-side count combine — no sort) to find the hash values that occur
  * more than once, and the span table is then broadcast-LEFT-SEMI-joined
  * against that (small) duplicated-hash set, so the fat (doc, pos, h1, h2)
  * rows of the ~unique majority never enter the window exchange or its
  * sort. Provably result-identical: a span row whose h1 is corpus-unique
  * is the single row of its (h1, h2) group, i.e. its own first
  * occurrence, and the `!= __first` cut discards it anyway; 64-bit h1
  * false candidates (expected pairs n²/2^65 ≪ 1 below ~10^9 spans) only
  * pass harmless extra rows to the exact 128-bit pass. The trade: spans
  * are computed twice (tokenize + word-hash re-run, CPU-cheap vs the
  * exchange) and the duplicated-hash set must fit a broadcast — ENFORCED
  * at runtime since round 7: the count pass goes through
  * [[DupCandidates.guardedDupKeys]], and when the duplicated-span set
  * exceeds `spark.graft.dedup.maxBroadcastKeys` (or the budget is 0) the
  * prefilter disables itself for this run, falling back to the round-5
  * full-table window shape instead of OOMing; the anchored posture's span
  * table is already ~2/(w+1) of stride-1. Composes with either min
  * strategy. */
final case class ExactSubstrConfig(
    spanWords: Int = 50,
    minDocWords: Int = 50,
    shortSpanWords: Option[Int] = None,
    anchorEvery: Option[Int] = None,
    hotKeyGroupByMin: Boolean = false)

object ExactSubstrDedup {

  /** (pos, spanHash1, spanHash2) for every `spanWords`-word window of
    * `text`. Span identity is the 128-bit pair (h1, h2): two polynomial
    * rolling hashes with independent odd multipliers over the same per-word
    * xxhash64 stream. A single 64-bit key hits the birthday bound at
    * ~2^32 spans — guaranteed cross-span collisions at the 100TB posture,
    * each one silently deleting a non-duplicate 50-word range from an
    * innocent doc. The pair pushes the bound to ~2^64 spans (collision
    * needs both independent linear combinations to agree mod 2^64);
    * expected false removals at 10^12 docs × ~10^3 spans: ≪ 1. */
  def spanHashes(text: String, spanWords: Int): Array[(Int, Long, Long)] = {
    if (text == null) return Array.empty
    spanHashesFromWordHashes(Tokenizer.words(text).map(Hashes.xxhash64), spanWords)
  }

  /** Winnowing anchor positions over the word-hash stream: position i is
    * an anchor when h(i) is the minimum of h(i..i+w-1), leftmost-min on
    * ties — deterministic, and identical inside any shared word run, which
    * is what makes anchored spans alignment-free across documents. */
  private[operators] def anchorPositions(h: Array[Long], w: Int): Array[Boolean] = {
    val out = new Array[Boolean](h.length)
    var i = 0
    while (i + w <= h.length) {
      var best = i
      var j = i + 1
      while (j < i + w) {
        if (java.lang.Long.compareUnsigned(h(j), h(best)) < 0) best = j
        j += 1
      }
      out(best) = true
      i += 1
    }
    // short tail (fewer than w starts remain): every doc start still gets
    // one anchor so tiny docs are not silently span-free
    if (h.length > 0 && h.length < w) {
      var best = 0
      var j = 1
      while (j < h.length) {
        if (java.lang.Long.compareUnsigned(h(j), h(best)) < 0) best = j
        j += 1
      }
      out(best) = true
    }
    out
  }

  /** h1-only twin of [[spanHashesFromWordHashes]] for the prefilter's
    * count pass: emits exactly the `_2` stream of the full version (same
    * P1 polynomial, same order) without building 400M boxed
    * (Int, Long, Long) tuples per 2M docs or accumulating the unused h2 —
    * the count pass only groups on `__h1`, so pos/h2 are dead weight
    * there. Equality with the full stream is property-pinned
    * (ExactSubstrGcSpec). */
  def spanH1FromWordHashes(h: Array[Long], spanWords: Int): Array[Long] = {
    if (h.length < spanWords) return Array.empty
    val P1 = 0x100000001b3L
    var pow1 = 1L
    var j = 1
    while (j < spanWords) { pow1 *= P1; j += 1 }
    val out = new Array[Long](h.length - spanWords + 1)
    var acc1 = 0L
    var i = 0
    while (i < spanWords) { acc1 = acc1 * P1 + h(i); i += 1 }
    out(0) = acc1
    i = spanWords
    while (i < h.length) {
      acc1 = (acc1 - h(i - spanWords) * pow1) * P1 + h(i)
      out(i - spanWords + 1) = acc1
      i += 1
    }
    out
  }

  /** Overload on precomputed per-word hashes: the multi-length pass calls
    * this once per length over ONE tokenize + word-hash stream (the
    * O(doc) part of the work), instead of redoing it per length. */
  def spanHashesFromWordHashes(h: Array[Long], spanWords: Int): Array[(Int, Long, Long)] = {
    val words = h // word-count only below
    if (words.length < spanWords) return Array.empty
    // polynomial rolling hash: H(i) = sum h(i+j) * P^(spanWords-1-j)
    val P1 = 0x100000001b3L       // FNV prime — odd, good diffusion mod 2^64
    val P2 = 0x9E3779B97F4A7C15L  // 2^64/φ — odd, independent multiplier
    var pow1 = 1L; var pow2 = 1L
    var j = 1
    while (j < spanWords) { pow1 *= P1; pow2 *= P2; j += 1 } // P^(spanWords-1)
    val out = new Array[(Int, Long, Long)](words.length - spanWords + 1)
    var acc1 = 0L; var acc2 = 0L
    var i = 0
    while (i < spanWords) { acc1 = acc1 * P1 + h(i); acc2 = acc2 * P2 + h(i); i += 1 }
    out(0) = (0, acc1, acc2)
    i = spanWords
    while (i < words.length) {
      acc1 = (acc1 - h(i - spanWords) * pow1) * P1 + h(i)
      acc2 = (acc2 - h(i - spanWords) * pow2) * P2 + h(i)
      out(i - spanWords + 1) = (i - spanWords + 1, acc1, acc2)
      i += 1
    }
    out
  }

  /** Annotate each row with (text rewritten to surviving words,
    * exact_substr_keep, n_removed_words). */
  /** @param emitRemovedWords when true, adds `removed_word_positions`
    *   (array&lt;int&gt; of word indices cut from the doc) — per-row removal
    *   lineage, used by the round-5 divergence measurement harness
    *   (tools/exact_substr_divergence.py) and available to production
    *   pipelines that need auditable cuts. */
  def apply(df: DataFrame, idCol: String, textCol: String,
            cfg: ExactSubstrConfig = ExactSubstrConfig(),
            emitRemovedWords: Boolean = false)
           (implicit spark: SparkSession): DataFrame = {
    val sw = cfg.spanWords
    require(sw > 0, s"spanWords must be positive (got $sw)")
    cfg.shortSpanWords.foreach { l =>
      require(l > 0 && l < sw,
        s"shortSpanWords must be in (0, spanWords): got $l vs spanWords=$sw " +
          "(0 would emit a degenerate all-docs-equal window; >= spanWords " +
          "would silently do nothing)")
    }
    cfg.anchorEvery.foreach(w => require(w > 1, s"anchorEvery must be > 1 (got $w)"))
    val anchorW = cfg.anchorEvery
    val lengths = sw +: cfg.shortSpanWords.toSeq
    val multi = lengths.length > 1

    // Duplicate-candidate prefilter (see ExactSubstrConfig scaladoc): an
    // h1-only count pass finds the duplicated hash values; the fat span
    // rows then broadcast-semi-join against that small set so the
    // ~unique majority never rides the window exchange. Result-identical
    // by the `!= __first` argument; recomputes the span UDF once more.
    // The count pass runs a LEAN h1-only UDF over the input (primitive
    // Array[Long] — no tuple boxing, no h2/pos arithmetic) instead of
    // re-deriving h1 from the full span-row lineage; spanH1FromWordHashes
    // is property-pinned equal to the full stream's h1, and the fold/
    // anchor logic below mirrors the span UDFs line for line.
    val h1Udf = udf { text: String =>
      if (text == null) Array.empty[Long]
      else {
        val h = Tokenizer.words(text).map(graft.functions.Hashes.xxhash64)
        val a = anchorW.map(anchorPositions(h, _))
        def kept(l: Int): Array[Long] = {
          val s = spanH1FromWordHashes(h, l)
          a match {
            case Some(anch) =>
              val out = new scala.collection.mutable.ArrayBuilder.ofLong
              var i = 0
              while (i < s.length) { if (anch(i)) out += s(i); i += 1 }
              out.result()
            case None => s
          }
        }
        if (!multi) kept(sw)
        else lengths.toArray.flatMap(l =>
          kept(l).map(_ + l * 0x9E3779B97F4A7C15L))
      }
    }
    val guardStats = DupCandidates.guardedDupKeys(
      df.select(explode(h1Udf(col(textCol))).as("__h1")), Seq("__h1"),
      "exactsubstr.duph1")
    // runtime decisions off the guard's one sizing action: the prefilter
    // is active only when the duplicated-hash set fit the broadcast
    // budget, and the window-min flips to groupBy-min automatically when
    // the hottest span hash exceeds the streaming-reducer threshold (the
    // guard's maxKeyCount statistic is valid even when the key set was
    // over budget, so the auto-flip survives the fallback too)
    val dupH1: Option[DataFrame] = guardStats.keys
    val prefilterActive = dupH1.isDefined
    val hotKeyThreshold = spark.conf
      .get("spark.graft.exactsubstr.hotKeyThreshold", "1000000").toLong
    val useGroupByMin = cfg.hotKeyGroupByMin ||
      guardStats.maxKeyCount > hotKeyThreshold
    def prefilter(spans: DataFrame): DataFrame =
      dupH1.map(d => spans.join(broadcast(d), Seq("__h1"), "left_semi"))
        .getOrElse(spans)
    // with the prefilter, firsts is one row per DUPLICATED span hash —
    // within the (runtime-enforced) DupCandidates broadcast contract, so
    // the groupBy-min escape hatch's join-back can skip its sort-merge
    // exchanges too
    def joinFirsts(spans: DataFrame, firsts: DataFrame, keys: Seq[String]): DataFrame =
      spans.join(if (prefilterActive) broadcast(firsts) else firsts, keys)

    // first occurrence (min doc, then min pos) of each span hash survives.
    // WINDOW-min over the span hash, not groupBy-min + join-back: the span
    // table is ~2 orders fatter than the doc table (every overlapping
    // window explodes to a row), so shuffling it ONCE instead of twice
    // halves this operator's dominant cost (measured 5.7 GB → 2.9 GB /
    // 60 → 36 s at 200k docs). A mass-duplicated boilerplate span is one
    // window partition streamed with spill (partition-key-only sort, no
    // orderBy) — the same shape MinhashDedup.duplicateEdges uses for the
    // same skew reason.
    // Single-length (default) rows carry NO length column — the span width
    // is a constant the rewrite re-adds — so the hot explode shuffles only
    // (doc, pos, h1, h2). Multi-length rows add the 4-byte length: span
    // lengths are independent dedup spaces (the length joins the key) and
    // removal covers [pos, pos+len) per originating pass. Either way the
    // document is tokenized and word-hashed ONCE (spanHashesFromWordHashes).
    val dupPos = if (!multi) {
      val spanUdf = udf { text: String =>
        if (text == null) Array.empty[(Int, Long, Long)]
        else {
          val h = Tokenizer.words(text).map(graft.functions.Hashes.xxhash64)
          val all = spanHashesFromWordHashes(h, sw)
          anchorW match {
            case Some(aw) =>
              val a = anchorPositions(h, aw); all.filter(t => a(t._1))
            case None => all
          }
        }
      }
      val spans = prefilter(df
        .select(col(idCol).as("__doc"), explode(spanUdf(col(textCol))).as("s"))
        .select(col("__doc"), col("s._1").as("__pos"),
          col("s._2").as("__h1"), col("s._3").as("__h2")))
      val laterCopies =
        if (useGroupByMin) {
          val firsts = spans.groupBy("__h1", "__h2")
            .agg(min(struct(col("__doc"), col("__pos"))).as("__first"))
          joinFirsts(spans, firsts, Seq("__h1", "__h2"))
        } else {
          val w = Window.partitionBy("__h1", "__h2")
          spans.withColumn("__first",
            min(struct(col("__doc"), col("__pos"))).over(w))
        }
      laterCopies
        .where(struct(col("__doc"), col("__pos")) =!= col("__first"))
        .groupBy("__doc")
        .agg(sort_array(collect_list(struct(col("__pos"), lit(sw).as("__len"))))
          .as("__dupPos"))
    } else {
      // Multi-length rows fold the span LENGTH into the 128-bit key (two
      // independent odd-constant linear folds — cross-length collisions
      // need both 64-bit sums to agree, the same ≪1-at-10^12-docs argument
      // as the (h1,h2) pair itself) and pack (len, pos) into ONE int
      // (len<<24|pos; len ≤ 255, pos < 2^24 — ~16M words/doc, require()d).
      // This drops the separate __len column from the hot explode: 5
      // aligned UnsafeRow fields → 4 (48 → 40 bytes/row, −17% exchange)
      // and the window key shrinks to (__h1, __h2). Within a fixed key the
      // length is constant, so min(struct(doc, lenpos)) is exactly
      // min(struct(doc, pos)).
      val lens = lengths
      require(lens.max <= 255, s"span lengths must fit the packed byte: $lens")
      val spanUdf = udf { text: String =>
        if (text == null) Seq.empty[(Int, Long, Long)]
        else {
          val h = Tokenizer.words(text).map(graft.functions.Hashes.xxhash64)
          require(h.length < (1 << 24),
            s"doc too long for packed span rows: ${h.length} words")
          val a = anchorW.map(anchorPositions(h, _))
          lens.flatMap { l =>
            val spans = spanHashesFromWordHashes(h, l)
            val kept = a match {
              case Some(anch) => spans.filter(t => anch(t._1))
              case None => spans
            }
            kept.map(t => ((l << 24) | t._1,
              t._2 + l * 0x9E3779B97F4A7C15L,
              t._3 + l * 0xC2B2AE3D27D4EB4FL))
          }
        }
      }
      val spans = prefilter(df
        .select(col(idCol).as("__doc"), explode(spanUdf(col(textCol))).as("s"))
        .select(col("__doc"), col("s._1").as("__lp"),
          col("s._2").as("__h1"), col("s._3").as("__h2")))
      val laterCopies =
        if (useGroupByMin) {
          val firsts = spans.groupBy("__h1", "__h2")
            .agg(min(struct(col("__doc"), col("__lp"))).as("__first"))
          joinFirsts(spans, firsts, Seq("__h1", "__h2"))
        } else {
          val w = Window.partitionBy("__h1", "__h2")
          spans.withColumn("__first",
            min(struct(col("__doc"), col("__lp"))).over(w))
        }
      laterCopies
        .where(struct(col("__doc"), col("__lp")) =!= col("__first"))
        .groupBy("__doc")
        .agg(sort_array(collect_list(struct(
          col("__lp").bitwiseAND(lit((1 << 24) - 1)).as("__pos"),
          shiftright(col("__lp"), 24).as("__len"))))
          .as("__dupPos"))
    }

    def rewriteWords(text: String, dup: Seq[(Int, Int)]): (String, Int, Int, Seq[Int]) = {
      val words = Tokenizer.words(text)
      val covered = new Array[Boolean](words.length)
      for ((p, l) <- dup) {
        var i = p
        val end = math.min(words.length, p + l)
        while (i < end) { covered(i) = true; i += 1 }
      }
      val kept = words.indices.filterNot(covered).map(words)
      val removed = words.indices.filter(covered)
      (kept.mkString(" "), words.length - kept.length, kept.length, removed)
    }

    val rewrite = udf { (text: String, dup: Seq[org.apache.spark.sql.Row]) =>
      if (text == null) ("", 0, 0, Seq.empty[Int]) // null: min_doc_words drop
      else rewriteWords(text, dup.map(r => (r.getInt(0), r.getInt(1))))
    }

    val annotated = df.join(dupPos.withColumnRenamed("__doc", idCol), Seq(idCol), "left")
      .withColumn("__r", rewrite(col(textCol),
        coalesce(col("__dupPos"),
          array().cast("array<struct<__pos:int,__len:int>>"))))
      .withColumn("n_removed_words", col("__r._2"))
      // the reference drops ANY doc under min_doc_words after removal,
      // including untouched ones (exact_substrings.py:309)
      .withColumn("exact_substr_keep", col("__r._3") >= cfg.minDocWords)
      // only docs that actually lost a span get rewritten (word-level
      // re-join, a documented divergence); untouched docs keep their
      // original text byte-for-byte
      .withColumn(textCol,
        when(col("__dupPos").isNotNull, col("__r._1")).otherwise(col(textCol)))
    val withLineage =
      if (emitRemovedWords) annotated.withColumn("removed_word_positions", col("__r._4"))
      else annotated
    withLineage.drop("__dupPos", "__r")
  }
}
