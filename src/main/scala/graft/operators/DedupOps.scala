package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Hashes
import graft.text.{PyText, TextKernels, Tokenizer}

/** Exact and URL dedup — the simple shuffling dedup operators. */
object ExactDedup {

  /** Exact-text dedup: annotate each row with the surviving doc id (min id
    * per identical text, `exact_dup_rep`) and a keep flag (`exact_keep`).
    * Runs [[DupCandidates.firstWins]] keyed on the 64-bit text hash with
    * the text as the confirm column, so full-text equality is compared
    * only among rows whose hash occurs more than once: on a mostly-unique
    * web corpus the text column never rides an exchange or a broadcast,
    * and a hash collision never merges two different texts. The
    * duplicated-hash set is sized at runtime; a mass-dup corpus whose set
    * would not fit a broadcast takes the single-pass groupBy(hash, text)
    * + join-back shape by itself. A null text is unknown content, not
    * identical content: such rows are their own survivors. */
  def apply(df: DataFrame, idCol: String, textCol: String): DataFrame =
    DupCandidates.firstWins(df, xxhash64(col(textCol)), textCol, Nil,
      idCol, "exact_dup_rep", "exact_keep")
}

/** dedup/url_dedup.py:45-62 — keep the highest-priority row per normalized
  * url; ties break to the smallest id (the reference keeps the first in
  * heap order; ours is deterministic under any partitioning). */
object UrlDedup {
  /** Default url normalizer (url_dedup.py's `url_normalizer` seam): strip
    * scheme, query/fragment, trailing slash; lowercase the host. */
  def normalizeUrl(url: String): String = {
    if (url == null) return null
    var u = url
    val scheme = u.indexOf("://")
    if (scheme >= 0) u = u.substring(scheme + 3)
    val cut = u.indexWhere(c => c == '?' || c == '#')
    if (cut >= 0) u = u.substring(0, cut)
    u = u.stripSuffix("/")
    val slash = u.indexOf('/')
    if (slash >= 0) u.substring(0, slash).toLowerCase(java.util.Locale.ROOT) + u.substring(slash)
    else u.toLowerCase(java.util.Locale.ROOT)
  }

  private val normalizeUdf = udf(normalizeUrl _)

  /** Annotate each row with `url_dup_rep` (the id of the best row of its
    * url group) and `url_keep`. Priority must be numeric (the reference's
    * is an int). */
  def apply(df: DataFrame, urlCol: String, idCol: String, priorityCol: String,
            normalize: Boolean = false): DataFrame =
    applyWithKey(df, if (normalize) normalizeUdf(col(urlCol)) else col(urlCol),
      idCol, priorityCol)

  /** url_normalizer seam (url_dedup.py's UrlDedupConfig.url_normalizer is an
    * arbitrary callable): dedup on a caller-supplied key expression. */
  def applyWithNormalizer(df: DataFrame, urlCol: String, idCol: String,
                          priorityCol: String, normalizer: String => String): DataFrame = {
    val nUdf = udf(normalizer)
    applyWithKey(df, nUdf(col(urlCol)), idCol, priorityCol)
  }

  /** [[DupCandidates.firstWins]] keyed on the 64-bit hash of the
    * normalised url, with the url string as the confirm column: only rows
    * whose url hash occurs more than once reach the best-of aggregate,
    * the url string is compared only there, and no frame carrying it is
    * hint-broadcast. The rank is min over (priority is null, -priority,
    * id) = highest non-null priority, nulls last, ties to the smallest id.
    * Negation assumes a sane numeric priority (the reference's is a small
    * int); Long.MinValue priorities are out of contract. A null url is an
    * unknown page, not THE SAME page: such rows pass through as their own
    * survivors. */
  private def applyWithKey(df: DataFrame, keyCol: Column, idCol: String,
                           priorityCol: String, keepKey: Boolean = false): DataFrame = {
    val out = DupCandidates.firstWins(df.withColumn("__ukey", keyCol),
      xxhash64(col("__ukey")), "__ukey",
      Seq(col(priorityCol).isNull, -col(priorityCol)), idCol, "url_dup_rep", "url_keep")
    if (keepKey) out else out.drop("__ukey")
  }

  /** UrlDedup against a PRE-BUILT url index (url_dedup.py index_folder):
    * every corpus doc whose (normalized) url appears in the index is
    * dropped — the index entry always wins (is_from_index ordering). With
    * onlyDedupInIndex=false the within-corpus best-priority rule applies
    * on top; with true (the reference default) corpus-vs-corpus
    * duplicates are NOT deduped. */
  def withIndex(df: DataFrame, urlCol: String, idCol: String, priorityCol: String,
                indexDf: DataFrame, indexUrlCol: String,
                normalize: Boolean = false,
                onlyDedupInIndex: Boolean = true): DataFrame = {
    val key: Column => Column =
      if (normalize) normalizeUdf(_) else identity
    val idxKeys = indexDf.select(key(col(indexUrlCol)).as("__ikey"))
      .where(col("__ikey").isNotNull).distinct()
    // normalize ONCE: both branches reuse keyed's __ukey (self-assignment
    // inside applyWithKey is a no-op column reference)
    val keyed = df.withColumn("__ukey", key(col(urlCol)))
    val base =
      if (onlyDedupInIndex)
        // no corpus-vs-corpus dedup: every doc is its own representative
        keyed.withColumn("url_dup_rep", col(idCol))
          .withColumn("url_keep", lit(true))
      else
        applyWithKey(keyed, col("__ukey"), idCol, priorityCol, keepKey = true)
    base
      .join(idxKeys, col("__ukey") <=> col("__ikey"), "left")
      .withColumn("url_keep", col("url_keep") && col("__ikey").isNull)
      .drop("__ukey", "__ikey")
  }
}

/** Sentence-level dedup (dedup/sentence_dedup.py): hash every window of
  * `nSentences` consecutive units (lines by default ≙ split_sentences=False;
  * set splitSentences=true for the reference's default sentence mode, using
  * the deterministic Tokenizer.sentenceSpans splitter in place of its
  * nltk/spaCy model — documented approximation); the hash input is the
  * simplify_text'd window (sentence_dedup.py:137-143); the first occurrence
  * (min doc id, then min window idx) survives, every later occurrence marks
  * a span [idx, idx+n) for removal; docs shrink to their kept units and are
  * dropped when left with <minDocWords words or <minNumSentences units.
  * Sentence-mode rewrite mirrors remove_dup_sentences
  * (sentence_dedup.py:329-379): each kept unit carries the inter-sentence
  * whitespace since the previous span end, the pieces are joined with ""
  * and the result is lstrip'd; line mode joins with "\n" as before.
  *
  * Spark shape: explode → groupBy(hash) shuffle → per-doc span removal.
  */
final case class SentenceDedupConfig(
    nSentences: Int = 3,
    minDocWords: Int = 50,
    minNumSentences: Int = 3,
    splitSentences: Boolean = false,
    /** sentence_dedup.py:48 min_words_to_remove_span: a removed span whose
      * word count falls below this is restored instead of cut. The
      * reference's loop only ever records a span's FIRST unit (the
      * `elif not removed_span` guard), so both the word count and the
      * restoration cover just that first line/sentence — mirrored
      * exactly. 0 disables. */
    minWordsToRemoveSpan: Int = 0,
    /** HashConfig (utils/hashing.py:12-30): precision 32 halves signature
      * width at 100 TB scale; sha1 matches the fork's configured hashes. */
    hashPrecision: Int = 64,
    hashFc: String = "xxhash")

object SentenceDedup {

  private def windowHashesUdf(cfg: SentenceDedupConfig) = {
    val n = cfg.nSentences
    val splitSent = cfg.splitSentences
    val hashFn = Hashes.forConfig(cfg.hashPrecision, cfg.hashFc)
    udf { text: String =>
      val sents =
        if (text == null) Array.empty[String] // null text: no windows, not an NPE
        else if (splitSent) Tokenizer.sentences(text)
        else PyText.splitLines(text)
      if (sents.length < n) Array.empty[(Int, Long)]
      else {
        val simplified = sents.map(TextKernels.simplifyText)
        (0 to sents.length - n).iterator.flatMap { i =>
          val joined = simplified.slice(i, i + n).mkString(" ")
          if (PyText.pyStrip(joined).isEmpty) None
          else Some((i, hashFn(joined)))
        }.toArray
      }
    }
  }

  private def sigsOf(df: DataFrame, idCol: String, textCol: String,
                     cfg: SentenceDedupConfig): DataFrame =
    df.select(col(idCol).as("__doc"),
        explode(windowHashesUdf(cfg)(col(textCol))).as("w"))
      .select(col("__doc"), col("w._1").as("__sent"), col("w._2").as("__hash"))

  /** (id, text) → (id, text rewritten, sentence_dedup_keep, removed_sentences) */
  def apply(df: DataFrame, idCol: String, textCol: String,
            cfg: SentenceDedupConfig = SentenceDedupConfig())
           (implicit spark: SparkSession): DataFrame = {
    val dups = corpusDups(sigsOf(df, idCol, textCol, cfg))
      .groupBy("__doc")
      .agg(sort_array(collect_list(col("__sent"))).as("__dupSents"))
    finish(df, idCol, textCol, cfg, dups)
  }

  /** First occurrence per hash wins; all others are duplicate spans.
    * Scale shape: groupBy-min + join-back instead of a row_number window —
    * a ubiquitous boilerplate window (one hash, millions of rows) is
    * absorbed by map-side partial aggregation, and the join back gets AQE
    * skew-splitting; WindowExec would sort the whole hot group on one
    * reducer with no mitigation. No duplicate-candidate prefilter: the sig
    * rows are already slim (hash, doc, sent) and the min is map-side
    * partial, so a count pass + dup-set broadcast did not pay at 2M
    * (27.7 s with it vs 26.1 s without). */
  private def corpusDups(sigs: DataFrame): DataFrame = {
    val firsts = sigs.groupBy("__hash")
      .agg(min(struct(col("__doc"), col("__sent"))).as("__first"))
    sigs.join(firsts, Seq("__hash"))
      .where(struct(col("__doc"), col("__sent")) =!= col("__first"))
      .select("__hash", "__doc", "__sent")
  }

  /** SentenceDedup against a PRE-BUILT index corpus (sentence_dedup.py
    * index_folder + only_dedup_in_index): a corpus window matching ANY
    * index window is a duplicate span — every corpus occurrence is
    * removed, since the index entry always "comes first" (HashSig sorting,
    * sentence_dedup.py:57,275-281). With onlyDedupInIndex=false the
    * within-corpus first-wins rule applies on top, like the reference's
    * `or not self.config.only_dedup_in_index` arm. */
  def withIndex(df: DataFrame, idCol: String, textCol: String,
                indexDf: DataFrame, indexTextCol: String,
                cfg: SentenceDedupConfig = SentenceDedupConfig(),
                onlyDedupInIndex: Boolean = true)
               (implicit spark: SparkSession): DataFrame = {
    // loose mode consumes the corpus window hashes THREE times (index
    // probe, first-wins agg, join-back) — cache the slim sigs projection
    // so the hashing UDF runs once, same pattern as SimHashDedup
    val sigs0 = sigsOf(df, idCol, textCol, cfg)
    val sigs =
      if (onlyDedupInIndex) sigs0
      else GraftSqlBridge.localCheckpoint(sigs0)
    val indexHashes = indexDf
      .where(col(indexTextCol).isNotNull) // null index rows: skip, not NPE
      .select(explode(windowHashesUdf(cfg)(col(indexTextCol))).as("w"))
      .select(col("w._2").as("__hash")).distinct()
    val fromIndex = sigs.join(indexHashes, Seq("__hash"), "left_semi")
    val dupRows =
      if (onlyDedupInIndex) fromIndex
      else fromIndex.select("__hash", "__doc", "__sent")
        .union(corpusDups(sigs)).distinct()
    val dups = dupRows.groupBy("__doc")
      .agg(sort_array(collect_list(col("__sent"))).as("__dupSents"))
    finish(df, idCol, textCol, cfg, dups)
  }

  private def finish(df: DataFrame, idCol: String, textCol: String,
                     cfg: SentenceDedupConfig, dups: DataFrame): DataFrame = {
    val n = cfg.nSentences
    val splitSent = cfg.splitSentences

    val minWordsSpan = cfg.minWordsToRemoveSpan
    val rewrite = udf { (text0: String, dupSents0: Seq[Int]) =>
      // materialize once: Spark's Seq deserializer can hand a LINEAR
      // sequence, and dupSents is random-accessed in the unit loop below —
      // a mass-duplicated doc (thousands of dup windows) would go quadratic
      val dupSents: Array[Int] = if (dupSents0 == null) Array.empty else dupSents0.toArray
      // a null-text row never has dup windows, so the __touched guard keeps
      // its original value — but the udf is still evaluated and must not NPE
      val text = if (text0 == null) "" else text0
      // min_words_to_remove_span restore (sentence_dedup.py:341-372): the
      // reference records only a removed span's FIRST unit (its
      // `elif not removed_span` guard), so the word check and restoration
      // both cover just that unit — mirrored exactly
      def restore(kept: scala.collection.mutable.ArrayBuffer[String],
                  pending: Option[String]): Unit =
        pending.foreach { first =>
          if (minWordsSpan > 0 && Tokenizer.words(first).length < minWordsSpan)
            kept += first
        }
      if (splitSent) {
        // sentence mode: span-based rewrite (remove_dup_sentences,
        // sentence_dedup.py:329-379) — kept units include the raw
        // inter-sentence whitespace since the previous span end, joined
        // with "" and lstrip'd
        val spans = Tokenizer.sentenceSpans(text)
        val kept = scala.collection.mutable.ArrayBuffer.empty[String]
        var di = 0
        var dropUntil = 0
        var lastS = 0
        var pending: Option[String] = None
        for (idx <- spans.indices) {
          if (di < dupSents.length && dupSents(di) == idx) {
            dropUntil = idx + n
            di += 1
          }
          val unit = text.substring(lastS, spans(idx)._2)
          if (idx >= dropUntil) {
            restore(kept, pending); pending = None
            kept += unit
          } else if (pending.isEmpty) pending = Some(unit)
          lastS = spans(idx)._2
        }
        restore(kept, pending)
        (PyText.pyLStrip(kept.mkString("")), spans.length - kept.length)
      } else {
        val sents = PyText.splitLines(text)
        val kept = scala.collection.mutable.ArrayBuffer.empty[String]
        var di = 0
        var dropUntil = 0
        var pending: Option[String] = None
        for (idx <- sents.indices) {
          if (di < dupSents.length && dupSents(di) == idx) {
            dropUntil = idx + n
            di += 1
          }
          if (idx >= dropUntil) {
            restore(kept, pending); pending = None
            kept += sents(idx)
          } else if (pending.isEmpty) pending = Some(sents(idx))
        }
        restore(kept, pending)
        // sentence_dedup.py:377-378: merge_char.join(...).lstrip() in BOTH
        // modes — line mode lstrips too
        (PyText.pyLStrip(kept.mkString("\n")), sents.length - kept.length)
      }
    }

    // docs with NO duplicate windows are never rewritten at all (the
    // reference only calls remove_dup_sentences for docs present in the
    // dups index) — this matters because the rewrite is not an identity on
    // texts with leading/trailing whitespace (sentence mode trims spans;
    // line mode drops a trailing newline through split/join)
    val joined = df
      .join(dups.withColumnRenamed("__doc", idCol), Seq(idCol), "left")
      .withColumn("__touched", col("__dupSents").isNotNull)
      .withColumn("__r", rewrite(col(textCol),
        coalesce(col("__dupSents"), array().cast("array<int>"))))
      .withColumn("__newText",
        when(col("__touched"), col("__r._1")).otherwise(col(textCol)))
      .withColumn("removed_sentences",
        when(col("__touched"), col("__r._2")).otherwise(lit(0)))

    val wordCount = udf { t: String => if (t == null) 0 else Tokenizer.words(t).length }
    // the keep rule counts SENTENCES regardless of dedup mode
    // (sentence_dedup.py:437-438 calls split_into_sentences
    // unconditionally, even when the dedup units were lines)
    val sentCount = udf { t: String => if (t == null) 0 else Tokenizer.sentences(t).length }

    // reference keep rule (sentence_dedup.py:424-441): (no change OR both
    // minimum thresholds) AND filtered text non-empty — the non-empty guard
    // applies to BOTH branches (an empty doc is dropped even when untouched).
    // Null text = no units at all: dropped like the empty doc (the ===/=!=
    // comparisons would otherwise yield a NULL keep flag, not a boolean)
    joined
      .withColumn("sentence_dedup_keep",
        when(col("__newText").isNull, lit(false)).otherwise(
          ((col("__newText") === col(textCol)) ||
           ((lit(cfg.minDocWords) <= 0 || wordCount(col("__newText")) >= cfg.minDocWords) &&
            (lit(cfg.minNumSentences) <= 0 || sentCount(col("__newText")) >= cfg.minNumSentences))) &&
          col("__newText") =!= ""))
      .withColumn(textCol, col("__newText"))
      .drop("__dupSents", "__touched", "__r", "__newText")
  }
}

/** SimHash near-dup: 64-bit charge/discharge fingerprint over word
  * features; near-duplicates = hamming distance ≤ k, found at scale by
  * banding the fingerprint into (k+1) segments (pigeonhole: any pair within
  * distance k shares at least one exact segment) and verifying candidates. */
object SimHashDedup {

  def simhash64(text: String): Long = {
    val words = Tokenizer.words(TextKernels.simplifyText(text))
    if (words.isEmpty) return 0L
    val v = new Array[Int](64)
    var i = 0
    while (i < words.length) {
      val h = Hashes.xxhash64(words(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) v(b) += 1 else v(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (v(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  private val simhashUdf = udf(simhash64 _)

  /** Annotate (simhash, simhash_cluster, simhash_keep) for pairs within
    * `maxHamming`. Banding gives exact recall for distance ≤ maxHamming. */
  def apply(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3)
           (implicit spark: SparkSession): DataFrame = {
    val bands = maxHamming + 1
    val bandBits = 64 / bands
    // the per-doc simhash UDF (simplify + tokenize + 64-bin charge/discharge)
    // is the expensive narrow pass — compute it ONCE into a cached slim
    // (id, simhash) projection for the candidate-generation flow, which
    // consumes it three times (reps groupBy, exact-edge probe, banding).
    // A local checkpoint, owned by the frames that read it: a second
    // SimHashDedup built before this one runs cannot evict it.
    val withSim = GraftSqlBridge.localCheckpoint(
      df.select(col(idCol), simhashUdf(col(textCol)).as("simhash")))

    // Identical fingerprints are distance-0 duplicates by definition:
    // collapse each simhash value to a min-id representative FIRST and emit
    // exact star edges, then band-join only DISTINCT fingerprints. Without
    // this, a hot band key (mass-duplicated text, or near-empty texts all
    // hashing to simhash 0) makes the self-join output O(group²) rows
    // *before* the hamming filter can drop anything — AQE redistributes but
    // cannot shrink that volume. Mirrors Similarity.cosineNearDupes'
    // exact-collapse. Connectivity (and thus min-id cluster labels) is
    // unchanged: star-to-rep connects exactly what the full clique did.
    val reps = withSim.groupBy("simhash").agg(min(col(idCol)).as("__rep"))
    val exactEdges = withSim.join(reps, Seq("simhash"))
      .where(col(idCol) =!= col("__rep"))
      .select(col(idCol).as("doc"), col("__rep").as("rep"))

    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        col("simhash").bitwiseAND(
          lit(((1L << bandBits) - 1) << (b * bandBits))).as("key"))
    }
    // Candidate pairs via a self-join on the band key (NOT collect_list +
    // double explode, which births O(group²) rows out of one array row and
    // OOMs on a hot band). A sort-merge self-join streams both sides and
    // AQE skew-split applies; `a.doc < b.doc` halves the pair volume and
    // dedups (a,b)/(b,a).
    val banded = reps
      .select(col("__rep").as("doc"), col("simhash"), explode(array(bandCols: _*)).as("bk"))
    val repEdges = banded.as("a")
      .join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc") < col("b.doc"))
      .where(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= maxHamming)
      .select(col("b.doc").as("doc"), col("a.doc").as("rep"))
      .distinct()

    val comps = MinhashDedup.components(exactEdges.union(repEdges))
    // annotate every input row: the simhash by a per-row withColumn, the
    // cluster by withClusters' LEFT join on id. The per-row UDF pass is the
    // second one; candidate generation above reads the cached projection.
    MinhashDedup.withClusters(df.withColumn("simhash", simhashUdf(col(textCol))), idCol, comps,
      "simhash_cluster", "simhash_keep")
  }
}

/** Exact n-gram Jaccard similarity between candidate pairs (the verify
  * step after any LSH candidate generation). */
object NgramJaccard {
  def jaccard(a: String, b: String, n: Int = 5): Double = {
    val sa = TextKernels.getNGrams(Tokenizer.words(TextKernels.simplifyText(a)), n).toSet
    val sb = TextKernels.getNGrams(Tokenizer.words(TextKernels.simplifyText(b)), n).toSet
    if (sa.isEmpty && sb.isEmpty) 0.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  def jaccardUdf(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: String, b: String) => jaccard(a, b, n) }
}
