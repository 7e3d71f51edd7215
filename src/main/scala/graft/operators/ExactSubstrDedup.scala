package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Hashes
import graft.text.Tokenizer

/** @param shortSpanWords optional SECOND span length: the true tool's
  *   minimum duplicated range is ~100 BYTES (≈15 English words), far below
  *   the 50-word primary span, so a short-span pass catches the
  *   `short_dup` divergence class the round-5 measurement quantified
  *   (recall 0 → ~1 on 15-45-word copies). Off by default — the primary
  *   oracle pins the single-span behavior.
  * @param anchorEvery optional winnowing window (in span-start positions):
  *   when set, spans are emitted only at CONTENT-DEFINED anchor positions
  *   (word-hash is the minimum of its w-window), cutting the exploded span
  *   rows to ~2/(w+1) of stride-1 — the implemented scale path past the
  *   span-explode shuffle ceiling (BENCH.md §sf1). Winnowing guarantees
  *   both copies of a shared word-aligned range pick the same anchors
  *   inside it, so ranges ≥ spanWords + w − 1 words are still always
  *   detected; ranges in [spanWords, spanWords+w−1) MAY be missed — the
  *   measured trade (tools/exact_substr_divergence.py anchor mode). */
final case class ExactSubstrConfig(
    spanWords: Int = 50,
    minDocWords: Int = 50,
    shortSpanWords: Option[Int] = None,
    anchorEvery: Option[Int] = None)

/** Spark-native approximation of ExactSubstr dedup
  * (dedup/exact_substrings.py:35-343). The reference shells out to an
  * external Rust suffix-array tool over the byte-concatenated corpus and
  * removes every duplicated byte range ≥ a length threshold
  * (ESRangeRemover, exact_substrings.py:149-343, min_doc_words=50).
  *
  * This approximation works at WORD granularity with fixed-length spans:
  *   - every window of `spanWords` consecutive words is hashed (a 128-bit
  *     pair of polynomial rolling hashes over per-word xxhash64 — O(words)
  *     per doc; see spanHashesFromWordHashes for the collision/false-removal
  *     analysis);
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
  * the text never rides the shuffle) → one first-occurrence pass on the
  * span hash → per-doc range cut (see [[apply]]).
  */
object ExactSubstrDedup {

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

  /** (pos, spanHash1, spanHash2) for every `spanWords`-word window of the
    * per-word hash stream `h` (xxhash64 of each word). Span identity is the
    * 128-bit pair (h1, h2): two polynomial rolling hashes with independent
    * odd multipliers over the same stream. A single 64-bit key hits the
    * birthday bound at ~2^32 spans — guaranteed cross-span collisions at
    * the 100TB posture, each one silently deleting a non-duplicate 50-word
    * range from an innocent doc. The pair pushes the bound to ~2^64 spans
    * (collision needs both independent linear combinations to agree mod
    * 2^64); expected false removals at 10^12 docs × ~10^3 spans: ≪ 1. */
  def spanHashesFromWordHashes(h: Array[Long], spanWords: Int): Array[(Int, Long, Long)] = {
    if (h.length < spanWords) return Array.empty
    // polynomial rolling hash: H(i) = sum h(i+j) * P^(spanWords-1-j)
    val P1 = 0x100000001b3L       // FNV prime — odd, good diffusion mod 2^64
    val P2 = 0x9E3779B97F4A7C15L  // 2^64/φ — odd, independent multiplier
    var pow1 = 1L; var pow2 = 1L
    var j = 1
    while (j < spanWords) { pow1 *= P1; pow2 *= P2; j += 1 } // P^(spanWords-1)
    val out = new Array[(Int, Long, Long)](h.length - spanWords + 1)
    var acc1 = 0L; var acc2 = 0L
    var i = 0
    while (i < spanWords) { acc1 = acc1 * P1 + h(i); acc2 = acc2 * P2 + h(i); i += 1 }
    out(0) = (0, acc1, acc2)
    i = spanWords
    while (i < h.length) {
      acc1 = (acc1 - h(i - spanWords) * pow1) * P1 + h(i)
      acc2 = (acc2 - h(i - spanWords) * pow2) * P2 + h(i)
      out(i - spanWords + 1) = (i - spanWords + 1, acc1, acc2)
      i += 1
    }
    out
  }

  // Odd constants that fold a span's length into its key:
  // (h1 + len·LenC1, h2 + len·LenC2). For one length the fold adds a
  // constant, a bijection, so a one-length config groups exactly as the
  // unfolded pair would; across lengths a false match needs both 64-bit
  // sums to agree, the same ≪ 1-at-10^12-docs bound as the pair itself.
  private val LenC1 = 0x9E3779B97F4A7C15L
  private val LenC2 = 0xC2B2AE3D27D4EB4FL

  private def wordHashes(text: String): Array[Long] =
    Tokenizer.words(text).map(Hashes.xxhash64)

  /** One document's span rows at every length: (len << 32 | pos,
    * length-folded h1, length-folded h2), at anchor positions only when
    * `anchorEvery` is set. The document is tokenized and word-hashed once. */
  private def spanRows(text: String, lengths: Seq[Int],
                       anchorEvery: Option[Int]): Array[(Long, Long, Long)] = {
    val h = wordHashes(text)
    val anchors = anchorEvery.map(anchorPositions(h, _))
    lengths.toArray.flatMap { l =>
      spanHashesFromWordHashes(h, l)
        .filter(t => anchors.forall(_(t._1)))
        .map(t => ((l.toLong << 32) | t._1, t._2 + l * LenC1, t._3 + l * LenC2))
    }
  }

  /** The folded-h1 column of [[spanRows]], same order, without the tuples. */
  private def spanKeys(text: String, lengths: Seq[Int],
                       anchorEvery: Option[Int]): Array[Long] = {
    val h = wordHashes(text)
    val anchors = anchorEvery.map(anchorPositions(h, _))
    lengths.toArray.flatMap { l =>
      val s = spanH1FromWordHashes(h, l)
      val out = new scala.collection.mutable.ArrayBuilder.ofLong
      var i = 0
      while (i < s.length) {
        if (anchors.forall(_(i))) out += s(i) + l * LenC1
        i += 1
      }
      out.result()
    }
  }

  /** Annotate each row with (text rewritten to surviving words,
    * exact_substr_keep, n_removed_words).
    *
    * Span rows: every config, one length or two, explodes to one row shape,
    * (doc, len << 32 | pos, h1, h2), with the span length folded into the
    * 128-bit (h1, h2) key, so lengths are independent dedup spaces under
    * one key. Within a key the length is constant, so the first occurrence
    * min(struct(doc, len << 32 | pos)) is min(struct(doc, pos)); each later
    * copy cuts [pos, pos + len) from its doc.
    *
    * Duplicate-candidate prefilter (always on): a first job shuffles only
    * the 8-byte h1 of every span (map-side count combine, no sort) through
    * [[DupCandidates.guardedDupKeys]], and the span rows are broadcast
    * LEFT-SEMI-joined against the duplicated-h1 set, so the ~unique
    * majority never enters the first-occurrence exchange. Result-identical:
    * a span whose h1 is corpus-unique is its own first occurrence; 64-bit
    * h1 false candidates only pass extra rows to the exact 128-bit pass.
    * Spans are computed twice (tokenize + word-hash, CPU-cheap next to the
    * exchange). When the duplicated set exceeds
    * `spark.graft.dedup.maxBroadcastKeys` (or the budget is 0) every span
    * row takes the first-occurrence pass.
    *
    * Hot keys: the first occurrence is a window-min over (h1, h2): one
    * shuffle of the span table, not two (measured 5.7 → 2.9 GB, 60 → 36 s
    * at 200k docs), with a mass-duplicated span streamed with spill
    * through one reducer. When the guard's `maxKeyCount` (the hottest
    * h1's occurrences) exceeds `spark.graft.exactsubstr.hotKeyThreshold`
    * (default 10^6), it is a groupBy-min + join-back instead: the min
    * combines hot keys map-side and the join-back is AQE-skew-splittable,
    * at the cost of a second shuffle of the span table.
    *
    * @param emitRemovedWords when true, adds `removed_word_positions`
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

    val h1Udf = udf { text: String =>
      if (text == null) Array.empty[Long] else spanKeys(text, lengths, anchorW)
    }
    val spanUdf = udf { text: String =>
      if (text == null) Array.empty[(Long, Long, Long)]
      else spanRows(text, lengths, anchorW)
    }
    val guardStats = DupCandidates.guardedDupKeys(
      df.select(explode(h1Udf(col(textCol))).as("__h1")), Seq("__h1"),
      "exactsubstr.duph1")
    val hotKeyThreshold = spark.conf
      .get("spark.graft.exactsubstr.hotKeyThreshold", "1000000").toLong
    val spanTable = df
      .select(col(idCol).as("__doc"), explode(spanUdf(col(textCol))).as("s"))
      .select(col("__doc"), col("s._1").as("__lp"),
        col("s._2").as("__h1"), col("s._3").as("__h2"))
    val spans = guardStats.keys
      .map(d => spanTable.join(broadcast(d), Seq("__h1"), "left_semi"))
      .getOrElse(spanTable)
    val firstOcc = min(struct(col("__doc"), col("__lp")))
    val withFirst =
      if (guardStats.maxKeyCount > hotKeyThreshold) {
        // under the prefilter, firsts has one row per duplicated span and
        // fits the same broadcast budget as the key set
        val firsts = spans.groupBy("__h1", "__h2").agg(firstOcc.as("__first"))
        spans.join(if (guardStats.keys.isDefined) broadcast(firsts) else firsts,
          Seq("__h1", "__h2"))
      } else spans.withColumn("__first", firstOcc.over(Window.partitionBy("__h1", "__h2")))
    val dupPos = withFirst
      .where(struct(col("__doc"), col("__lp")) =!= col("__first"))
      .groupBy("__doc")
      .agg(sort_array(collect_list(struct(
        col("__lp").bitwiseAND(lit(0xFFFFFFFFL)).cast("int").as("__pos"),
        shiftright(col("__lp"), 32).cast("int").as("__len"))))
        .as("__dupPos"))

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
