package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession, Column}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.WebCorpusGen

/** Driver contract — queries over the driver-generated tables in `sfDir`
  * plus DuckDB-equivalent oracle SQL. All float-sensitive comparisons are
  * expressed in integer arithmetic so Spark and DuckDB hash identically.
  * Each query orders by a unique key for a deterministic row order. */
object SparkEntry {

  private def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  // Gopher config used for the oracle queries on the `documents` table
  // (its docs are 10-99 plain lowercase words; thresholds chosen to split
  // keep/drop meaningfully — see BASELINE.md notes).
  private val oracleGopherCfg = GopherQualityConfig(
    minDocWords = Some(40), minStopWords = Some(1))

  private val gopherReasonUdf = udf { text: String =>
    GopherQualityFilter.check(text, oracleGopherCfg).getOrElse("")
  }

  // native codegen word count (no ScalaUDF in the plan) — equivalence with
  // Tokenizer.words().length is property-tested
  private val tokenCountCol: Column => Column =
    graft.functions.WordCountExpression.wordCount _

  private val piiScrubUdf = udf { text: String =>
    new PiiScrubber(resetPerDoc = true).scrub(text)
  }

  private val gopherRepetitionUdf = udf { text: String =>
    GopherRepetitionFilter.check(text).getOrElse("")
  }

  private val fineWebReasonUdf = udf { text: String =>
    FineWebQualityFilter.check(text).getOrElse("")
  }

  private val gopherRepLinesUdf = udf { text: String =>
    // line/paragraph duplicate rules only — the SQL-expressible subset of
    // the repetition filter (n-gram rules stay in `gopher_repetition`)
    GopherRepetitionFilter.check(text,
      GopherRepetitionConfig(topNGrams = Seq.empty, dupNGrams = Seq.empty)).getOrElse("")
  }

  /** Planted multi-line text that exercises every FineWeb rule: keep /
    * no-terminal-punct / short lines / duplicated lines / list-like. The
    * same construction is mirrored in the DuckDB oracle so the rule
    * arithmetic (not the construction) is what gets verified. */
  private def fineWebPlantedText: Column = {
    val zz = "z" * 32
    val tinyLines = "\ntiny line one ok.\ntiny line two ok.\ntiny line six ok.\ntiny line ten ok."
    val listLines = concat_ws("\n", (1 to 8).map(i =>
      concat(lit("qq"), col("doc_id"), lit(zz + i + "."))): _*)
    when(col("doc_id") % 5 === 0, concat(col("text"), lit(".")))
      .when(col("doc_id") % 5 === 1, col("text"))
      .when(col("doc_id") % 5 === 2, concat(col("text"), lit("."), lit(tinyLines)))
      .when(col("doc_id") % 5 === 3,
        concat(col("text"), lit(".\n"), col("text"), lit(".\n"), col("text"), lit(".")))
      .otherwise(listLines)
  }

  /** Planted text for the repetition filter's line/para duplicate rules. */
  private def gopherRepPlantedText: Column = {
    when(col("doc_id") % 5 === 0, col("text"))
      .when(col("doc_id") % 5 === 1,
        concat(lit("para one body.\n\npara one body.\n\n"), col("text")))
      .when(col("doc_id") % 5 === 2,
        concat(col("text"), lit("\n\nxx.\n\nyy.\n\n"), col("text")))
      .when(col("doc_id") % 5 === 3,
        concat(col("text"), lit("\ndup line body\ndup line body\ndup line body")))
      .otherwise(concat(col("text"), lit("\naa.\nbb.\n"), col("text")))
  }

  /** 1-based modulo selector over planted variant texts: variant i goes to
    * rows with doc_id % vs.length == i. The modulus derives from vs.length,
    * so editing a variant list cannot drift out of sync with the matching
    * DuckDB CASE arm's `doc_id % N`. */
  private def plantedVariants(vs: Seq[String]): Column =
    element_at(typedlit(vs), (col("doc_id") % vs.length + 1).cast("int"))

  /** Deterministic 64-dim embedding per planted group id (xorshift mix). */
  private[graft] val groupVecUdf = udf { g: Long =>
    var st = g * 0x9e3779b97f4a7c15L + 7L
    def next(): Long = {
      st += 0x9e3779b97f4a7c15L
      var z = st
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.fill(64)((((next() >>> 11).toDouble * 1.1102230246251565e-16) - 0.5).toFloat)
  }

  /** documents mapped to planted identical-vector cliques of 5 consecutive
    * ids (doc_ids are contiguous 0..N-1 at every SF). Candidate volume is
    * bands x clique^2 per group, so 5-member cliques stay cheap while the
    * oracle (top-1 = identical sibling) is strict; least() merges a
    * would-be singleton last group (N % 5 == 1) into its neighbor — a
    * singleton has no identical sibling and would break the deterministic
    * top-1. Shared by the three ANN oracle queries; the DuckDB oracles
    * mirror the same grouping. */
  private[graft] def plantedCliqueEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val docs0 = documents(s, dir)
    val gmax = (docs0.count() - 2) / 5
    docs0.select(col("doc_id"),
      groupVecUdf(least(expr("doc_id DIV 5"), lit(gmax))).as("embedding"))
  }

  /** All doc_ids in order — bounded oracle-scale collect for queries that
    * drive driver-side artifacts (streams, .ds files). `below` pushes the
    * bound into the scan so a capped caller never shuffles the full column
    * to the driver. */
  private def docIds(s: SparkSession, dir: String, below: Long = Long.MaxValue): Array[Long] =
    documents(s, dir).select("doc_id").where(col("doc_id") < below)
      .orderBy("doc_id").collect().map(_.getLong(0))

  /** Ground-truth (label, text) pairs for the WIDE 36-language fixture,
    * spanning 10 scripts incl. unspaced zh/ja/th — labels are true by
    * authorship. Shared by language_id_wide (per-doc oracle) and the raw
    * language_id threshold oracle; index order tracks doc_id % 10. */
  private val WidePlantedTexts: Seq[(String, String)] = Seq(
    "en" -> "the quiet market and the bright garden of the village in the morning",
    "fr" -> "le marché était calme ce matin et les enfants dans la rue près du pont",
    "de" -> "der markt war heute ruhig und die kinder auf der straße nähe brücke",
    "ru" -> "и в деревне на рынке утром было очень тихо и дети на улице у моста",
    "zh" -> "的一是在不了有和人这中大为上个国我以要他时来用们生到作地于出就分。",
    "ja" -> "これは静かな村の朝の市場です子供たちは橋の近くの道にいます",
    "ko" -> "그리고 마을 시장 에서 아침 물 빛 아이들 길 다리 강 우리 모든 매우 집",
    "ar" -> "في من على أن لا هو كان إلى مع هذا كل جدا بيوت ماء ضوء مساء صباح سوق",
    "el" -> "και σε με που δεν είναι ήταν για από μετά όλα πολύ σπίτια νερό φως βράδυ",
    "th" -> "และในบนว่าไม่เป็นอยู่บ้านน้ำแสงตลาดสวนหมู่บ้านเด็กถนนสะพานแม่น้ำ")

  /** Ground-truth planted texts for the committed fastText fixture, one
    * per trained language (en fr de es it) — shared by language_id_ft and
    * lang_stats; the oracle label order tracks doc_id % 5. */
  private val LidPlantedTexts = Seq(
    "the quiet market and the bright garden of the village in the morning",
    "le marché était calme ce matin et les enfants dans la rue près du pont",
    "der markt war heute ruhig und die kinder auf der straße nähe brücke",
    "el mercado estaba tranquilo esta mañana y los niños en la calle cerca del puente",
    "il mercato era tranquillo questa mattina e i bambini in strada vicino al ponte")

  /** Shared oracle: per-doc token count = whitespace words + 1 EOS — the
    * expected output of BOTH .ds round-trip queries (doc_tokenizer_roundtrip
    * and token_merge_roundtrip read the same encoder's artifacts). */
  private val TokenCountPlusEosSql =
    """SELECT doc_id,
  CAST(len(list_filter(string_split(text,' '), x -> x <> '')) + 1 AS BIGINT) AS n_tokens
FROM documents ORDER BY doc_id"""


  private def deleteRec(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
    }

  /** Per-process scratch root for oracles that materialize side artifacts
    * (Arrow shards, inference checkpoints): deleted on JVM exit, and each
    * [[scratchDir]] is wiped per call — repeated verify/bench rounds never
    * accumulate corpus-sized /tmp copies (only a kill -9 leaves at most
    * one process dir behind).
    *
    * r8: prefer tmpfs (/dev/shm) when writable, same argument as
    * [[streamScratchRoot]] — these are bench-scoped round-trip artifacts
    * (MB-scale parquet/Arrow/.ds shards whose durability is meaningless;
    * real runs write to durable storage via their own paths), and on a
    * contended disk the commit-protocol renames + fsyncs dominate the
    * small round-trip queries. Falls back to java.io.tmpdir otherwise. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val p = base.resolve("graft_oracle_scratch")
      .resolve(ProcessHandle.current().pid().toString)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(p)))
    p
  }

  /** A wiped-fresh scratch subdirectory for one oracle query. */
  private def scratchDir(name: String): String = {
    val d = scratchRoot.resolve(name)
    deleteRec(d)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  /** Checkpoint scratch for the streaming demos. Structured Streaming
    * fsyncs offset/commit WAL + per-partition state delta files every
    * micro-batch; on a contended disk those dozens of fsyncs dominate the
    * bounded demo (BENCH_r05 recorded 5.4×/3.2× blowups on an I/O-degraded
    * host with zero code change, and best-of-2 could not save them because
    * each attempt's fresh checkpoint re-pays the I/O). Durability of a
    * bench-scoped checkpoint is meaningless — on a real cluster checkpoints
    * live in object storage — so prefer tmpfs (/dev/shm) when writable and
    * fall back to the disk scratch otherwise. Same per-process cleanup
    * discipline as [[scratchRoot]]. */
  private lazy val streamScratchRoot: Option[java.nio.file.Path] = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isWritable(shm)) {
      val p = shm.resolve("graft_stream_scratch")
        .resolve(ProcessHandle.current().pid().toString)
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(p)))
      Some(p)
    } else None
  }
  private def streamScratchDir(name: String): String =
    streamScratchRoot match {
      case Some(root) =>
        val d = root.resolve(name)
        deleteRec(d)
        java.nio.file.Files.createDirectories(d)
        d.toString
      case None => scratchDir(name)
    }

  /** Runs `body` with spark.sql.shuffle.partitions temporarily set to `n`.
    * A streaming query snapshots the value at `.start()`, and each state
    * partition writes (and fsyncs) its own delta file per micro-batch — the
    * two ≤1000-doc streaming demos have no use for 32 of them. */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Unique letter-only filler words for the n-gram planted texts. */
  private def repFiller(n: Int, start: Int, suffix: String = "x"): Seq[String] =
    (0 until n).map { j =>
      val i = start + j
      val a = ('a' + (i / 26) % 26).toChar
      val b = ('a' + i % 26).toChar
      s"f$a$b$suffix"
    }

  /** Planted single-line texts exercising the repetition filter's n-gram
    * cascade, one variant per doc_id % 7. Expected outcomes were derived by
    * hand from Gopher's published thresholds AND replayed through the
    * reference's own gopher_repetition_filter.py code (via the
    * tools/diff_harness.py module loader) during construction:
    *   0: unique words                                       → keep
    *   1: "tp gq" ×40, top-2-gram frac 0.51 > 0.2            → top_n_gram
    *   2: "aa bbbb cc" ×25 (top-2 0.180 ≤ 0.2, top-3 0.257
    *      > 0.18 — fires at n=3 specifically)                → top_n_gram
    *   3: two identical 30-word halves (dup-5 0.401 > 0.15)  → duplicated_n_grams
    *   4: one duplicated 10-word run, length tuned so dup-5..9
    *      sit below their thresholds and only dup-10 0.115
    *      > 0.10 fires                                       → duplicated_n_grams
    *   5: scattered "zz yy" pairs, top-2 0.139 ≤ 0.2         → keep
    *   6: top-2-gram frac EXACTLY 0.200 — thresholds are
    *      strict-greater, must NOT fire                      → keep
    */
  private lazy val gopherNgramVariants: Array[String] = {
    val v0 = repFiller(60, 0).mkString(" ")
    val v1 = (Seq.fill(40)("tp gq") ++ repFiller(30, 100)).mkString(" ")
    val v2 = (Seq.fill(25)("aa bbbb cc") ++ repFiller(140, 200)).mkString(" ")
    val half = repFiller(30, 300)
    val v3 = (half ++ half).mkString(" ")
    val run = repFiller(10, 400)
    val v4 = (repFiller(20, 500) ++ run ++ repFiller(20, 600) ++ run ++
      repFiller(10, 700)).mkString(" ")
    val v5 = {
      val fill = repFiller(60, 800)
      val words = scala.collection.mutable.ArrayBuffer.empty[String]
      var k = 0; var fi = 0; var i = 0
      while (words.length < 80) {
        if (i % 7 == 0 && k < 10) { words += "zz"; words += "yy"; k += 1 }
        else { words += fill(fi); fi += 1 }
        i += 1
      }
      words.mkString(" ")
    }
    val v6 = {
      // 12× "zz yy" (60 chars of top-2-gram) in a 300-char text: 13 six-char
      // + 23 five-char unique fillers make the length land exactly on 300
      val fill = repFiller(36, 900, "xy").zipWithIndex
        .map { case (w, j) => if (j < 13) w + "z" else w }
      val words = scala.collection.mutable.ArrayBuffer.empty[String]
      var k = 0; var fi = 0; var i = 0
      while (words.length < 60) {
        if (i % 4 == 0 && k < 12) { words += "zz"; words += "yy"; k += 1 }
        else { words += fill(fi); fi += 1 }
        i += 1
      }
      words.mkString(" ")
    }
    Array(v0, v1, v2, v3, v4, v5, v6)
  }

  /** Synthetic exact-duplicate corpus for the planted-outcome dedup oracles:
    * 8 letter-only 4-char words derived from md5(doc_id % 100) — groups of
    * 5 byte-identical docs whose survivors/clusters are derivable in SQL,
    * while distinct groups share no shingles (md5 diffusion; digits are
    * translated to letters so simplify_text's digit normalization cannot
    * alias two groups). */
  /** Cache a constructed oracle input/intermediate that downstream
    * operators consume in several passes (guard pass + main pass + final
    * join): the md5-block planted-text constructions are CPU-visible at
    * 200k rows and would otherwise recompute per consumption (r8). A local
    * checkpoint, so the query's own frames own it and Spark's
    * ContextCleaner drops it once they are unreachable. */
  private def cachedConstruction(df: DataFrame): DataFrame =
    GraftSqlBridge.localCheckpoint(df)

  private def syntheticDupDocs(s: SparkSession, dir: String): DataFrame = {
    val h = translate(md5((col("doc_id") % 100).cast("string")),
      "0123456789", "ghijklmnop")
    cachedConstruction(documents(s, dir).select(col("doc_id"),
      concat_ws(" ", (0 until 8).map(i => substring(h, i * 4 + 1, 4)): _*).as("text")))
  }

  /** Planted-twin threshold oracle over the raw documents table (see the
    * `minhash_dedup` queries entry): every 10th doc gets a byte-identical
    * twin with an id offset past every raw id; identical text ⇒ identical
    * signature ⇒ every band collides ⇒ twin shares its source's cluster
    * and is never the min-id survivor. Shared by `minhash_dedup` (driver
    * union-find) and `minhash_dedup_dist` (distributed label propagation,
    * conf-forced). */
  private def minhashTwinOracle(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    val docs = documents(s, dir).select(col("doc_id"), col("text"))
    val base = docs.agg(max("doc_id")).first().getLong(0) + 1L
    val twins = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(base)).as("doc_id"), col("text"))
    // the oracle's crossJoin consumes `out` three times (o twice, t once);
    // cache the slim verdict projection so the parquet scan + comps join
    // run once, not per aggregate branch (r8)
    val out = cachedConstruction(
      MinhashDedup.dedup(docs.unionByName(twins), "doc_id", "text")
        .select(col("doc_id"), col("minhash_cluster"), col("minhash_keep")))
    val t = out.where(col("doc_id") >= base)
      .select((col("doc_id") - lit(base)).as("src_id"),
        col("minhash_cluster").as("t_cluster"), col("minhash_keep").as("t_keep"))
    val o = out.where(col("doc_id") < base)
    o.agg(count(lit(1)).as("n_raw")).crossJoin(
      t.join(o, t("src_id") === o("doc_id"))
        .agg(count(lit(1)).as("n_planted"),
          (sum(when(col("t_keep"), 1L).otherwise(0L)) === 0L).as("twins_all_dropped"),
          (sum(when(col("t_cluster") === col("minhash_cluster"), 1L).otherwise(0L)) ===
            count(lit(1))).as("twins_same_cluster")))
  }

  /** 56-word variant (7 md5 blocks × 8 words) for the ExactSubstr spans
    * (which need ≥ spanWords=50 words per doc). */
  private def syntheticLongDupDocs(s: SparkSession, dir: String): DataFrame = {
    val words = (0 until 7).flatMap { j =>
      val h = translate(md5(concat((col("doc_id") % 100).cast("string"), lit("x" + j))),
        "0123456789", "ghijklmnop")
      (0 until 8).map(i => substring(h, i * 4 + 1, 4))
    }
    cachedConstruction(
      documents(s, dir).select(col("doc_id"), concat_ws(" ", words: _*).as("text")))
  }


  /** Flagship: full quality pipeline (language → score → Gopher repetition →
    * Gopher quality → FineWeb → token count → PII) over the sf0.001
    * documents mapped into the web-page schema. */
  def entry(spark: SparkSession): DataFrame = {
    implicit val s: SparkSession = spark
    val docs = documents(spark, "/root/testdata/sf0.001")
      .select(
        concat(lit("https://"), col("source"), lit(".example.com/"), col("doc_id")).as("url"),
        lit(new java.sql.Timestamp(1700000000000L)).as("warc_ts"),
        col("text"),
        col("lang"))
    val pipeline = new QualityPipeline(Presets.forkDataCleaning(Seq("en")))
    pipeline.run(docs).toDF()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gopher_quality" -> ((s, dir) => {
      documents(s, dir)
        .select(col("doc_id"),
          gopherReasonUdf(col("text")).as("reason"))
        .withColumn("keep", col("reason") === "")
        .orderBy("doc_id")
    }),
    "token_count" -> ((s, dir) => {
      documents(s, dir)
        .select(col("doc_id"), tokenCountCol(col("text")).as("n_tokens"))
        .orderBy("doc_id")
    }),
    "exact_dedup" -> ((s, dir) => {
      // exact text dedup: hash-groupBy, deterministic survivor = min doc_id
      documents(s, dir)
        .groupBy(col("text"))
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("dup_count"))
        .select("doc_id", "dup_count")
        .orderBy("doc_id")
    }),
    "url_dedup" -> ((s, dir) => {
      // dedup-with-priority (dedup/url_dedup.py:45-62): highest priority
      // survives, ties broken by lowest doc_id — encoded as one min_by score
      documents(s, dir)
        .withColumn("url_key", concat(col("source"), lit("/"), (col("doc_id") % 37).cast("string")))
        .withColumn("priority", col("doc_id") % 5)
        .groupBy("url_key")
        .agg(expr("min_by(doc_id, doc_id - priority * 10000000)").as("doc_id"))
        .select("url_key", "doc_id")
        .orderBy("url_key")
    }),
    "pii_scrub" -> ((s, dir) => {
      // plant TWO emails + TWO public IPs per doc so the replacement
      // rotation's index > 0 is driver-verified (resetPerDoc=true: first
      // email → replacements(0), second → replacements(1); same for IPs)
      documents(s, dir)
        .withColumn("text2", concat(
          col("text"), lit(" contact a"), col("doc_id"),
          lit("@ex"), col("doc_id") % 7, lit(".com or 57.120.21."),
          col("doc_id") % 200, lit(" also b"), col("doc_id"),
          lit("@dom"), col("doc_id") % 5, lit(".net and 93.184.216."),
          col("doc_id") % 150, lit(" now")))
        .select(col("doc_id"), piiScrubUdf(col("text2")).as("scrubbed"))
        .orderBy("doc_id")
    }),
    "gopher_repetition" -> ((s, dir) => {
      // full repetition kernel over the raw corpus. Oracled (r6): DuckDB
      // independently recomputes the top-{2,3,4}-gram char-fraction rules
      // in window SQL — the only rules these single-line word-soup docs
      // can trigger (no \n ⇒ line/para fracs are 0; the dup-5..10-gram
      // thresholds are measured never to fire on the 10-99-word soups,
      // so any engine-side firing breaks the compare) — and the per-doc
      // reason strings must agree exactly
      documents(s, dir)
        .select(col("doc_id"), gopherRepetitionUdf(col("text")).as("reason"))
        .withColumn("keep", col("reason") === "")
        .orderBy("doc_id")
    }),
    "fineweb_quality" -> ((s, dir) => {
      // planted multi-line structure so every FineWeb rule fires somewhere
      // and the DuckDB oracle can verify the rule arithmetic
      documents(s, dir)
        .select(col("doc_id"), fineWebReasonUdf(fineWebPlantedText).as("reason"))
        .orderBy("doc_id")
    }),
    "warc_extract_filter" -> ((s, dir) => {
      // end-to-end WARC path over the committed 6-page mini.warc: parse →
      // HtmlExtractor (tables/lists/blockquote/favor_precision pruning) →
      // Gopher quality + repetition. Expected outcomes were replayed
      // through the reference's own filters during construction and pinned
      // in the oracle; n_words pins the extraction byte-for-byte-ish.
      import s.implicits._
      val bytes = graft.text.Resources.readBytes("/graft/mini.warc")
      val docs = graft.sources.WarcParser.parse("mini.warc", bytes)
        .map(d => (d.url, new String(d.html, "UTF-8"))).toList
      val qualU = udf { t: String =>
        if (t.isEmpty) "not_extracted" else GopherQualityFilter.check(t).getOrElse("")
      }
      val repU = udf { t: String =>
        if (t.isEmpty) "not_extracted" else GopherRepetitionFilter.check(t).getOrElse("")
      }
      val extractU = udf { h: String => HtmlExtractor.extract(h) }
      docs.toDF("url", "html")
        .select(col("url"), extractU(col("html")).as("t"))
        .select(col("url"), tokenCountCol(col("t")).as("n_words"),
          qualU(col("t")).as("reason_quality"), repU(col("t")).as("reason_repetition"))
        .orderBy("url")
    }),
    "warc_extract_general" -> ((s, dir) => {
      // the GENERAL extraction path over the committed 61-page ADVERSARIAL
      // warc — markup the extractor was NOT co-designed with (noise-grammar
      // pages + 10 hand-authored parser-torture pages; tools/gen_adv_warc
      // .py). Goldens were computed INDEPENDENTLY in Python from the
      // planted content only; the oracle pins (line count, UTF-16 length,
      // md5(utf8)) per url and AdvWarcSpec pins the text byte-for-byte.
      import s.implicits._
      val bytes = graft.text.Resources.readBytes("/graft/adv.warc")
      val docs = graft.sources.WarcParser.parse("adv.warc", bytes)
        .map(d => (d.url, new String(d.html, "UTF-8"))).toList
      val extractU = udf { h: String => TrafilaturaExtractor.extract(h) }
      docs.toDF("url", "html")
        .select(col("url"), extractU(col("html")).as("t"))
        .select(col("url"),
          when(length(col("t")) === 0, lit(0))
            .otherwise(size(split(col("t"), "\n", -1))).as("n_lines"),
          length(col("t")).as("n_chars"),
          md5(col("t").cast("binary")).as("text_md5"))
        .orderBy("url")
    }),
    "warc_extract_wild" -> ((s, dir) => {
      // the general extraction path over 81 HAND-TRANSCRIBED realistic
      // page skeletons (tools/gen_wild_warc.py — news+sidebar+comments,
      // docs+TOC, forum, table-heavy, RTL, wiki refs, legacy table
      // layout, paywall/popup chrome, details/summary, inline entities,
      // plus a non-UTF-8 batch: cp1252 fallback, meta-sniffed
      // iso-8859-2/shift_jis/gbk/koi8-r, UTF-16LE+BOM, UTF-8+BOM, and a
      // non-Latin-LAYOUT batch: Hebrew bdo/bidi-entity, ja ruby furigana,
      // zh all-anchor channel nav, unspaced Thai+wbr, Eastern-Arabic
      // numeral table, ko mixed scripts, Persian &zwnj; over LTR pre; no
      // generator grammar involved). Bytes go through the reference's
      // decode-or-drop (warc.py:117-129 ≙ WarcParser.decodeHtml): the
      // corpus plants 3 undecodable records that must NOT appear here.
      // Goldens hand-derived from the documented semantics; WildWarcSpec
      // pins the bytes, this oracle pins (n_lines, n_chars, md5) per url.
      import s.implicits._
      val bytes = graft.text.Resources.readBytes("/graft/wild.warc")
      val docs = graft.sources.WarcParser.parse("wild.warc", bytes)
        .flatMap(d => graft.sources.WarcParser.decodeHtml(d.html).map(h => (d.url, h)))
        .toList
      val extractU = udf { h: String => TrafilaturaExtractor.extract(h) }
      docs.toDF("url", "html")
        .select(col("url"), extractU(col("html")).as("t"))
        .select(col("url"),
          when(length(col("t")) === 0, lit(0))
            .otherwise(size(split(col("t"), "\n", -1))).as("n_lines"),
          length(col("t")).as("n_chars"),
          md5(col("t").cast("binary")).as("text_md5"))
        .orderBy("url")
    }),
    "warc_extract_conformance" -> ((s, dir) => {
      // the general extraction path over 42 pages whose parser-stressing
      // STRUCTURES are transcribed from published third-party suites —
      // html5lib-tests tree-construction/tokenizer inputs (unclosed p/li,
      // adoption agency, text around table internals, misnested
      // formatting, raw-text elements, eof-in-comment/-tag, entity
      // corner cases, MathML/SVG, plaintext, frameset, obsolete
      // elements, CDATA, quoted '>', stray '<', table sections) and W3C
      // i18n test structures (bidi RTL, ruby) — so the page classes were
      // NOT invented by the extractor's author
      // (tools/gen_conformance_warc.py cites each). Goldens hand-derived
      // from the documented semantics; deliberate divergences from a
      // spec HTML5 tree builder are listed in FIXTURES.md §18.
      // ConformanceWarcSpec pins the bytes, this oracle pins
      // (n_lines, n_chars, md5) per url.
      import s.implicits._
      val bytes = graft.text.Resources.readBytes("/graft/conformance.warc")
      val docs = graft.sources.WarcParser.parse("conformance.warc", bytes)
        .flatMap(d => graft.sources.WarcParser.decodeHtml(d.html).map(h => (d.url, h)))
        .toList
      val extractU = udf { h: String => TrafilaturaExtractor.extract(h) }
      docs.toDF("url", "html")
        .select(col("url"), extractU(col("html")).as("t"))
        .select(col("url"),
          when(length(col("t")) === 0, lit(0))
            .otherwise(size(split(col("t"), "\n", -1))).as("n_lines"),
          length(col("t")).as("n_chars"),
          md5(col("t").cast("binary")).as("text_md5"))
        .orderBy("url")
    }),
    "perplexity" -> ((s, dir) => {
      // KenLM-semantics ARPA scorer over the committed tiny.arpa fixture
      // (self-authored toy bigram model). Planted single-line lowercase
      // texts make cc_net normalization the identity; expected ppl values
      // were derived with an INDEPENDENT Python ARPA scorer during
      // construction and pinned in the oracle (ppl rounded to 0.1, ×10 as
      // an integer so the cross-engine compare is float-free).
      val planted = plantedVariants(Seq(
        "the quick brown fox",
        "the quick brown fox jumps over the lazy dog",
        "unknown words here",
        "the the the the"))
      val scorer = new graft.functions.PerplexityScorer(
        graft.functions.ArpaModel.parseResource("/graft/tiny.arpa"))
      val pplUdf = udf { t: String => math.rint(scorer.perplexity(t) * 10).toLong }
      documents(s, dir)
        .select(col("doc_id"), pplUdf(planted).as("ppl_x10"))
        .orderBy("doc_id")
    }),
    "perplexity_binary" -> ((s, dir) => {
      // same planted texts + pinned constants as `perplexity`, but scored
      // through the KenLM BINARY path (utils/perplexity.py loads binaries):
      // ARPA fixture -> KenlmBinary.write -> load -> PerplexityScorer. The
      // write->load round trip over the public PROBING layout is what this
      // row driver-verifies; score equality with the ARPA twin is also
      // unit-tested (KenlmBinarySpec).
      val planted = plantedVariants(Seq(
        "the quick brown fox",
        "the quick brown fox jumps over the lazy dog",
        "unknown words here",
        "the the the the"))
      val tmp = java.io.File.createTempFile("graft_kenlm_q", ".bin")
      tmp.deleteOnExit()
      graft.functions.KenlmBinary.write(
        graft.functions.ArpaModel.parseResource("/graft/tiny.arpa"),
        tmp.getAbsolutePath)
      val scorer = new graft.functions.PerplexityScorer(
        graft.functions.KenlmBinary.load(tmp.getAbsolutePath))
      val pplUdf = udf { t: String => math.rint(scorer.perplexity(t) * 10).toLong }
      documents(s, dir)
        .select(col("doc_id"), pplUdf(planted).as("ppl_x10"))
        .orderBy("doc_id")
    }),
    "gopher_repetition_ngrams" -> ((s, dir) => {
      // planted n-gram cascade outcomes (see gopherNgramVariants): every
      // top-/dup-n-gram rule family fires on a known variant, verified
      // against the reference code during construction; the oracle pins
      // the variant → reason map
      val planted = plantedVariants(gopherNgramVariants.toSeq)
      documents(s, dir)
        .select(col("doc_id"), gopherRepetitionUdf(planted).as("reason"))
        .orderBy("doc_id")
    }),
    "gopher_repetition_lines" -> ((s, dir) => {
      // dup-line/dup-paragraph rules over planted structure (SQL-expressible
      // subset; n-gram rules stay rows-only in gopher_repetition)
      documents(s, dir)
        .select(col("doc_id"), gopherRepLinesUdf(gopherRepPlantedText).as("reason"))
        .orderBy("doc_id")
    }),
    "language_id" -> ((s, dir) => {
      // Raw-corpus inference THRESHOLD oracle (VERDICT r5 #4; the pattern
      // ann_lsh_topk proved in r5): the default LID still runs real
      // inference over EVERY raw corpus text (predictions on arbitrary web
      // text are model-defined, not SQL-derivable), and planted ground-
      // truth twins — one per 10 raw docs, labels true by authorship,
      // rotating through the 10-script WidePlantedTexts — ride alongside.
      // The single aggregate row pins in DuckDB: raw doc count, every raw
      // doc scored (non-empty label), planted count, and planted recall
      // >= 0.9.
      val u = udf { t: String => graft.functions.Lid.default.predict(t)._1 }
      val docs = documents(s, dir)
      val raw = docs.select(u(col("text")).as("p"))
        .agg(count(lit(1)).as("n_raw"),
          sum(when(length(col("p")) > 0, 1L).otherwise(0L)).as("n_raw_scored"))
      val idx = (col("doc_id") / 10 % 10).cast("int") + 1
      val planted = docs.where(col("doc_id") % 10 === 0)
        .select(
          (u(element_at(typedlit(WidePlantedTexts.map(_._2)), idx)) ===
            element_at(typedlit(WidePlantedTexts.map(_._1)), idx)).as("m"))
        .agg(count(lit(1)).as("n_planted"),
          (sum(when(col("m"), 1L).otherwise(0L)) >=
            count(lit(1)) * 0.9).as("recall_ok"))
      raw.crossJoin(planted)
    }),
    // Raw variant upgraded from rows-only to a THRESHOLD oracle (r6,
    // same planted-twin pattern as ann_lsh_topk): fuzzy clustering over
    // the raw corpus is not SQL-derivable, but an identical planted twin
    // is — same text ⇒ same shingle set ⇒ identical signature ⇒ every
    // band collides ⇒ same cluster, and the min-id survivor rule can
    // never pick the twin (its id is offset past every raw id). DuckDB
    // pins the corpus/planted counts; the structural guarantees are
    // engine-computed booleans the oracle requires to be TRUE.
    "minhash_dedup" -> ((s, dir) => minhashTwinOracle(s, dir)),
    // Same oracle computed through the DISTRIBUTED connected-components
    // path (VERDICT r6 next-round #4): the edge bound is conf-lowered to
    // 0 so the min-label-propagation fallback — not the driver union-find
    // — assigns every cluster, and it must reach the same planted-twin
    // guarantees. DedupSpec additionally pins label equality between the
    // two paths on a raw edge multigraph.
    "minhash_dedup_dist" -> ((s, dir) => {
      // capture the prior value so a session that explicitly set the limit
      // (e.g. a posture-configured harness) gets it back, not the library
      // default (ADVICE r7 #3)
      val key = "spark.graft.uf.driverEdgeLimit"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "0")
      // components() converges eagerly inside dedup(), so the conf can be
      // restored as soon as the query DataFrame is built
      try minhashTwinOracle(s, dir)
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }),
    "minhash_dedup_exact" -> ((s, dir) => {
      // planted-outcome oracle: exact duplicates share all buckets by
      // construction, so keep/cluster is derivable in SQL per dup group
      implicit val sp: SparkSession = s
      MinhashDedup.dedup(syntheticDupDocs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("minhash_cluster"), col("minhash_keep"))
        .orderBy("doc_id")
    }),
    "simhash_dedup_exact" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      SimHashDedup(syntheticDupDocs(s, dir), "doc_id", "text", maxHamming = 3)
        .select(col("doc_id"), col("simhash_cluster"), col("simhash_keep"))
        .orderBy("doc_id")
    }),
    "sentence_dedup_exact" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val threeLine = syntheticDupDocs(s, dir)
        .withColumn("text", concat(col("text"), lit("\nmid "), col("text"),
          lit("\n"), col("text"), lit(" end")))
      SentenceDedup(threeLine, "doc_id", "text")
        .select(col("doc_id"), col("sentence_dedup_keep"), col("removed_sentences"))
        .orderBy("doc_id")
    }),
    "sentence_dedup_sent" -> ((s, dir) => {
      // sentence mode (split_sentences=True): 3 planted sentences per doc
      // (md5-block words joined with '. ') — groups of 5 identical docs, the
      // min-id copy survives untouched, later copies lose their single
      // 3-sentence window and drop to empty
      implicit val sp: SparkSession = s
      val blocks = (0 until 3).map { j =>
        val h = translate(md5(concat((col("doc_id") % 100).cast("string"), lit("s" + j))),
          "0123456789", "ghijklmnop")
        concat_ws(" ", (0 until 8).map(i => substring(h, i * 4 + 1, 4)): _*)
      }
      val sentDocs = cachedConstruction(
        documents(s, dir).select(col("doc_id"),
          concat(concat_ws(". ", blocks: _*), lit(".")).as("text")))
      SentenceDedup(sentDocs, "doc_id", "text",
        SentenceDedupConfig(splitSentences = true))
        .select(col("doc_id"), col("sentence_dedup_keep"), col("removed_sentences"))
        .orderBy("doc_id")
    }),
    "bloom_dedup_exact" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      BloomDedup(syntheticDupDocs(s, dir).coalesce(1).sortWithinPartitions("doc_id"),
          "doc_id", "text", BloomDedupConfig(nGrams = 5))
        .select("doc_id", "bloom_keep").orderBy("doc_id")
    }),
    "exact_substr_short" -> ((s, dir) => {
      // round 5: the short-span pass (ExactSubstrConfig.shortSpanWords)
      // closes the measured `short_dup` divergence class — the true tool's
      // minimum duplicated range is ~100 bytes (~15 words), far below the
      // 50-word primary span. Planted 24-word exact-dup groups: with the
      // 15-word pass later copies lose every window (fully removed); with
      // the single-50-word-span config the same docs are untouched —
      // both behaviors pinned side by side.
      implicit val sp: SparkSession = s
      val words = (0 until 3).flatMap { j =>
        val h = translate(md5(concat((col("doc_id") % 100).cast("string"), lit("y" + j))),
          "0123456789", "ghijklmnop")
        (0 until 8).map(i => substring(h, i * 4 + 1, 4))
      }
      val docs = cachedConstruction(
        documents(s, dir).select(col("doc_id"), concat_ws(" ", words: _*).as("text")))
      val short = ExactSubstrDedup(docs, "doc_id", "text",
          ExactSubstrConfig(minDocWords = 10, shortSpanWords = Some(15)))
        .select(col("doc_id"), col("exact_substr_keep").as("keep_short"),
          col("n_removed_words").as("removed_short"))
      val plain = ExactSubstrDedup(docs, "doc_id", "text",
          ExactSubstrConfig(minDocWords = 10))
        .select(col("doc_id"), col("exact_substr_keep").as("keep_plain"),
          col("n_removed_words").as("removed_plain"))
      short.join(plain, Seq("doc_id")).orderBy("doc_id")
    }),
    "exact_substr" -> ((s, dir) => {
      // word-span ExactSubstr approximation over planted exact-dup groups of
      // 56-word docs: later copies lose every 50-word span -> dropped
      implicit val sp: SparkSession = s
      ExactSubstrDedup(syntheticLongDupDocs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("exact_substr_keep"), col("n_removed_words"))
        .orderBy("doc_id")
    }),
    "exact_substr_anchored" -> ((s, dir) => {
      // The winnowing-anchored scale mode's GUARANTEE CLASSES as a driver
      // oracle (VERDICT r5 "Next round" #2). spanWords=16, anchorEvery=8:
      //  * docs embed a per-group shared run between UNIQUE per-doc
      //    prefix/suffix words, so anchors near the run depend on doc-
      //    specific context — exactly the alignment-free case winnowing
      //    must survive;
      //  * guaranteed-catch class (24 shared words ≥ spanWords+w−1 = 23):
      //    winnowing picks the same in-run anchor in every copy, so every
      //    later copy loses ≥ one 16-word span, and removal can only cover
      //    the shared run → removed ∈ [16, 24], first copy untouched;
      //  * maybe-miss band (16 shared words ∈ [spanWords, spanWords+w−1)):
      //    the single shared span is caught or missed depending on context
      //    anchors, but NEVER partially cut → removed ∈ {0, 16}, and the
      //    group's first copy is untouched either way (precision 1.000).
      implicit val sp: SparkSession = s
      val grp = (col("doc_id") % 100).cast("string")
      def block(seed: org.apache.spark.sql.Column, salt: String) = {
        val h = translate(md5(concat(seed, lit(salt))), "0123456789", "ghijklmnop")
        (0 until 8).map(i => substring(h, i * 4 + 1, 4))
      }
      val id = col("doc_id").cast("string")
      val longText = concat_ws(" ",
        block(id, "ap") ++ block(grp, "ag0") ++ block(grp, "ag1") ++
          block(grp, "ag2") ++ block(id, "as"): _*)
      val bandText = concat_ws(" ",
        block(id, "bp") ++ block(grp, "bg0") ++ block(grp, "bg1") ++
          block(id, "bs"): _*)
      val cfg = ExactSubstrConfig(spanWords = 16, minDocWords = 5,
        anchorEvery = Some(8))
      val longRes = ExactSubstrDedup(
          cachedConstruction(
            documents(s, dir).select(col("doc_id"), longText.as("text"))),
          "doc_id", "text", cfg)
        .select(col("doc_id"), col("exact_substr_keep").as("keep_long"),
          (col("n_removed_words") === 0).as("untouched_long"),
          (col("n_removed_words") >= 16 && col("n_removed_words") <= 24)
            .as("caught_long"))
      val bandRes = ExactSubstrDedup(
          cachedConstruction(
            documents(s, dir).select(col("doc_id"), bandText.as("text"))),
          "doc_id", "text", cfg)
        .groupBy()
        .agg(
          sum(when(col("n_removed_words") === 0 ||
            col("n_removed_words") === 16, 0L).otherwise(1L))
            .as("band_partial_cuts"),
          sum(when(!col("exact_substr_keep"), 1L).otherwise(0L))
            .as("band_dropped"))
      longRes.crossJoin(bandRes).orderBy("doc_id")
    }),
    "token_count_bpe" -> ((s, dir) => {
      // pretrained-vocab path: the committed GPT-2-format fixture
      // (vocab.json + merges.txt) loaded through the Bpe seam; planted
      // texts over the fixture's vocabulary make token counts constant
      // per variant, derived with an independent Python BPE replay and
      // pinned in the oracle
      val planted = plantedVariants(Seq(
        "low lower lowest",
        "new newer wider low",
        "lowest wider lowest new",
        "low low low lower"))
      val model = graft.text.Bpe.fixtureModel
      val cnt = udf { t: String => graft.text.Bpe.encode(t, model).length.toLong }
      documents(s, dir)
        .select(col("doc_id"), cnt(planted).as("n_bpe_tokens"))
        .orderBy("doc_id")
    }),
    "token_count_bpe_trained" -> ((s, dir) => {
      // real corpus-trained BPE (distributed word-freq agg -> driver train
      // -> broadcast encode); engine-specific ids, rows-only check
      val docs = documents(s, dir)
      // bounded vocab collect: top-60k words by frequency (deterministic
      // tie-break) — at web scale distinct words are unbounded, a BPE
      // training vocab is not
      val freqs = docs.select(explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "").groupBy("w").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("w")).limit(60000)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val bc = s.sparkContext.broadcast(graft.text.Bpe.train(freqs, 64))
      val cnt = udf { t: String => graft.text.Bpe.encode(t, bc.value).length.toLong }
      // Threshold oracle (r6): trained merge ids are engine-specific, but
      // the encoding is a pure function of (text, trained model) — so a
      // planted twin must get EXACTLY its source's token count — and the
      // encoding shape bounds every count: each word emits between 1 token
      // (fully merged) and len+1 tokens (chars + the EndOfWord marker,
      // unmerged), plus one trailing EOS id — so for these pure-[a-z0-9 ]
      // texts (where whitespace split == Tokenizer.words)
      //   words + 1 ≤ n_bpe_tokens ≤ non-space chars + words + 1.
      // Asserted engine-side as a single boolean the oracle pins TRUE.
      val wordsC = size(filter(split(col("text"), " "), w => w =!= "")).cast("long")
      val charsC = length(regexp_replace(col("text"), " ", "")).cast("long")
      val counted = docs.select(col("doc_id"), cnt(col("text")).as("n_bpe_tokens"),
        (cnt(col("text")) >= wordsC + lit(1L) &&
          cnt(col("text")) <= charsC + wordsC + lit(1L)).as("in_bounds"))
      val twins = docs.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), cnt(col("text")).as("n_twin_tokens"))
      // the twin re-encodes the same text through the same broadcast model
      // (planting cannot perturb training here: identical text adds the
      // same words, and equality is what's asserted)
      counted.join(twins.select(col("doc_id"), col("n_twin_tokens")), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_raw"),
          (sum(when(col("in_bounds"), 1L).otherwise(0L)) === count(lit(1))).as("all_in_bounds"),
          sum(when(col("n_twin_tokens").isNotNull, 1L).otherwise(0L)).as("n_planted"),
          (sum(when(col("n_twin_tokens") === col("n_bpe_tokens"), 1L).otherwise(0L)) ===
            sum(when(col("n_twin_tokens").isNotNull, 1L).otherwise(0L))).as("twins_count_equal"))
    }),
    "ann_lsh_topk_exact" -> ((s, dir) => {
      // planted identical-vector groups make the LSH top-1 deterministic:
      // identical vectors share every bucket and tie on cosine, so the
      // asc-neighbor tie-break returns the group's min id (or second-min
      // for the min itself) — SQL-derivable end-to-end check of the
      // bucket -> pair -> cosine -> rank path
      implicit val sp: SparkSession = s
      val df = plantedCliqueEmbeddings(s, dir)
      Similarity.lshTopK(df, "doc_id", "embedding", 1)
        .select(col("doc_id"), col("neighbor"))
        .orderBy("doc_id")
    }),
    "ann_ivf_topk_exact" -> ((s, dir) => {
      // IVF-flat variant over the same planted identical-vector groups —
      // same deterministic top-1 as the LSH-exact query (identical vectors
      // share a cell; cosine ties break to the asc neighbor)
      implicit val sp: SparkSession = s
      val df = plantedCliqueEmbeddings(s, dir)
      // nProbe=1 is sufficient AND exact for this construction: a query's
      // identical siblings share its cell, and their cosine (the max
      // possible) dominates any cross-group candidate. Uniform random
      // vectors are IVF's worst case (no cluster structure -> fat cells),
      // so the probe fan stays minimal here.
      Similarity.ivfTopK(df, "doc_id", "embedding", 1, nLists = 64, nProbe = 1)
        .select(col("doc_id"), col("neighbor"))
        .orderBy("doc_id")
    }),
    "cosine_near_dup" -> ((s, dir) => {
      // embedding near-dup via LSH candidates + cosine threshold +
      // connected components, over planted identical-vector groups of 5
      // (64-dim uniform vectors keep cross-group cosine << threshold)
      implicit val sp: SparkSession = s
      val df = plantedCliqueEmbeddings(s, dir)
      Similarity.cosineNearDupes(df, "doc_id", "embedding", threshold = 0.95)
        .select(col("doc_id"), col("cosine_cluster"), col("cosine_keep"))
        .orderBy("doc_id")
    }),
    "lexical_diversity" -> ((s, dir) => {
      // POS tagger-lite + content-word counters (entropies are float ->
      // unit-tested; the integer counters are the oracle surface). Planted
      // suffix words exercise the RB/VBG/VBD/JJ/NNS rules.
      val planted = concat(col("text"),
        lit(" quickly running jumped joyful tables of it and"),
        when(col("doc_id") % 3 === 0, lit(" walking slowly")).otherwise(lit("")))
      val u = udf { t: String =>
        val r = LexicalDiversity.compute(t, "en")
        (r.nContent.toLong, r.nDistinctContent.toLong, r.nTags.toLong)
      }
      documents(s, dir).select(col("doc_id"), u(planted).as("r"))
        .select(col("doc_id"), col("r._1").as("n_content"),
          col("r._2").as("n_distinct_content"), col("r._3").as("n_distinct_tags"))
        .orderBy("doc_id")
    }),
    "gc_normalize" -> ((s, dir) => {
      // GcCombiner (id join of two metric tables) + GcNormalizer (global
      // min-max), quantized to integers for the oracle hash
      val docs = documents(s, dir)
      val lex = docs.select(col("doc_id"), tokenCountCol(col("text")).as("n_words"),
        size(array_distinct(filter(split(col("text"), " "), w => w =!= ""))).cast("long").as("n_distinct"))
      val syn = docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      GcOps.normalize(GcOps.combine(lex, syn, "doc_id"),
          Seq("n_words", "n_distinct", "n_chars"))
        .select(col("doc_id"),
          floor(col("norm_n_words") * 1000000).cast("long").as("q_words"),
          floor(col("norm_n_distinct") * 1000000).cast("long").as("q_distinct"),
          floor(col("norm_n_chars") * 1000000).cast("long").as("q_chars"))
        .orderBy("doc_id")
    }),
    "syntactic_complexity" -> ((s, dir) => {
      // Dependency-parse syntactic complexity (cdf_gc dep_ent /
      // avg_dep_height / avg_dep_dis) along BOTH paths:
      //  - parse path: planted en texts through the offline parser seam +
      //    the exact calculator ('\n' is a zh EOS punct, so v2 is two
      //    sentences); the parser's chain trees pin entropy + height,
      //  - structure path: planted parsed trees (star/mixed) pin the
      //    distance arithmetic the chain trees can't (all-unit edges).
      // Entropy constants verified by an independent Python log2 replay
      // during construction; all metrics ×1e6 rint for a float-free hash.
      import SyntacticComplexity.ParsedSentence
      val texts = plantedVariants(Seq(
        "the dog walked home",                 // verb root: ATT SBV HED VOB
        "red apple tree",                      // no verb: root 0 chain
        "the dog walked home\nred apple tree", // two sentences pooled
        "is"))                                 // single-word: all guards
      val trees = element_at(typedlit(Seq(
        Seq(ParsedSentence(Seq("a", "b", "c", "d"), Seq("HED", "A", "A", "A"),
          Seq(-1, 0, 0, 0))),                  // star4: dis (1+2+3)/3 = 2
        Seq(ParsedSentence(Seq("a", "b", "c"), Seq("HED", "X", "Y"), Seq(-1, 0, 1)),
          ParsedSentence(Seq("a", "b", "c"), Seq("HED", "X", "X"), Seq(-1, 0, 0))),
        Seq(ParsedSentence(Seq("a"), Seq("HED"), Seq(-1)),
          ParsedSentence(Seq("a", "b"), Seq("HED", "M"), Seq(-1, 0))))),
        (col("doc_id") % 3 + 1).cast("int"))
      val q = udf { (r: (Double, Double, Double)) =>
        (math.rint(r._1 * 1e6).toLong, math.rint(r._2 * 1e6).toLong,
          math.rint(r._3 * 1e6).toLong) }
      val parsed = SyntacticComplexity.parse(
        documents(s, dir).withColumn("__t", texts).withColumn("__trees", trees),
        "__t", new HeuristicDependencyParser("en", 128))(s)
      SyntacticComplexity.annotate(
          SyntacticComplexity.annotate(parsed)
            .withColumnRenamed("dep_ent", "e1")
            .withColumnRenamed("avg_dep_height", "h1")
            .withColumnRenamed("avg_dep_dis", "d1"),
          "__trees")
        .select(col("doc_id"),
          q(struct(col("e1"), col("h1"), col("d1"))).as("p"),
          q(struct(col("dep_ent"), col("avg_dep_height"), col("avg_dep_dis"))).as("t"))
        .select(col("doc_id"),
          col("p._1").as("q_dep_ent"), col("p._2").as("q_dep_height"),
          col("p._3").as("q_dep_dis"),
          col("t._1").as("q_tree_ent"), col("t._2").as("q_tree_height"),
          col("t._3").as("q_tree_dis"))
        .orderBy("doc_id")
    }),
    "inference_runner" -> ((s, dir) => {
      // the inference harness end-to-end (chunked checkpoints, bounded
      // concurrency, per-doc error capture) with the deterministic stub
      // client, so the distributed plumbing itself is driver-verified:
      // stub output = "echo:" + prompt.take(64) + ":" + length, mirrored
      // in SQL over ASCII-only prompts (UTF-16 take == codepoint substr).
      // A wiped-fresh checkpoint dir per run keeps replay state out of the
      // correctness surface (resume semantics are unit-tested).
      val ckpt = scratchDir("inference_runner")
      val prompts = documents(s, dir).select(
        col("doc_id").cast("string").as("id"),
        concat(lit("summarize doc "), col("doc_id"),
          lit(" words "), col("n_chars")).as("prompt"))
      InferenceRunner.run(prompts, "id", "prompt",
          new StubInferenceClient, ckpt,
          InferenceRunnerConfig(recordsPerChunk = 200, maxConcurrent = 4))
        .select(col("id").cast("long").as("doc_id"),
          col("inference_output"), col("inference_error"))
        .orderBy("doc_id")
    }),
    "hf_dataset_roundtrip" -> ((s, dir) => {
      // save_to_disk-compatible writer -> reader round trip (Arrow shards +
      // dataset_info/state.json) over the real corpus: the oracle is the
      // identity projection, so any shard/schema/value corruption in either
      // direction hash-mismatches. int64/int32/string columns cover the
      // vector types the corpus shapes use.
      val out = scratchDir("hf_dataset_roundtrip")
      val df = documents(s, dir).select(col("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"),
        (col("doc_id") % 7).cast("int").as("bucket"))
      graft.sources.HfDatasetWriter.write(df.repartition(4), out)
      graft.sources.HfDatasetReader.read(s, out).orderBy("doc_id")
    }),
    "csv_roundtrip" -> ((s, dir) => {
      // CsvReader (readers/csv.py) over a real write->read round trip:
      // corpus text is newline-free words, so CSV quoting is exercised but
      // lossless; identity oracle catches any header/quote/row corruption
      val out = scratchDir("csv_roundtrip")
      documents(s, dir).select(col("doc_id"), col("text"), col("source"))
        .repartition(2)
        .write.option("header", "true").mode("overwrite").csv(out)
      graft.sources.Readers.csv(s, out,
          graft.sources.Readers.Adapter(idCol = Some("doc_id")))
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          col("source"), col("id"))
        .withColumn("id_matches_doc", col("id") === col("doc_id").cast("string"))
        .drop("id")
        .orderBy("doc_id")
    }),
    "ipc_roundtrip" -> ((s, dir) => {
      // Arrow IPC reader (readers/ipc.py) over real stream-format shard
      // files (emitted by the HF writer); identity oracle
      val out = scratchDir("ipc_roundtrip")
      val df = documents(s, dir).select(col("doc_id"), col("text"), col("source"))
      graft.sources.HfDatasetWriter.write(df.repartition(2), out)
      val paths = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".arrow")).map(_.getAbsolutePath).sorted.toSeq
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string").add("source", "string")
      graft.sources.IpcReader.read(s, paths, schema, stream = true).orderBy("doc_id")
    }),
    "sentence_dedup_index" -> ((s, dir) => {
      // index-mode sentence dedup (sentence_dedup.py index_folder): the
      // index holds the even-group 3-line docs; any corpus doc whose window
      // hash appears in the index loses that window (the index always wins),
      // so even-group docs empty out and odd-group docs pass untouched
      implicit val sp: SparkSession = s
      val threeLine = syntheticDupDocs(s, dir)
        .withColumn("text", concat(col("text"), lit("\nmid "), col("text"),
          lit("\n"), col("text"), lit(" end")))
      val idx = threeLine.where(col("doc_id") % 2 === 0).select(col("text").as("itext"))
      SentenceDedup.withIndex(threeLine, "doc_id", "text", idx, "itext")
        .select(col("doc_id"), col("sentence_dedup_keep"), col("removed_sentences"))
        .orderBy("doc_id")
    }),
    "doc_tokenizer_roundtrip" -> ((s, dir) => {
      // .ds/.index write -> read round trip (tokens/tokenizer.py): one rank
      // in doc_id order (shuffle off), hash-bucket encoder; each doc's
      // token count (words + EOS) must survive the byte round trip, and
      // readRank depends on the TOKEN-offset .index format (write_idx).
      // The id collect is bounded oracle-scale (the driver tables), not a
      // production path.
      implicit val sp: SparkSession = s
      val out = scratchDir("doc_tokenizer_roundtrip")
      val df = documents(s, dir).select(col("doc_id"), col("text"))
        .coalesce(1).sortWithinPartitions("doc_id")
      val written = DocTokenizer.write(df, "text", out,
        DocTokenizerConfig(vocabSize = 1000, shuffle = false))
      val ids = docIds(s, dir)
      val counts = written.sortBy(_._1).flatMap { case (dsPath, _, _) =>
        DocTokenizer.readRank(dsPath, wide = false).map(_.length.toLong)
      }
      require(ids.length == counts.length, "round trip lost docs")
      import s.implicits._
      ids.zip(counts).toSeq.toDF("doc_id", "n_tokens").orderBy("doc_id")
    }),
    "token_merge_roundtrip" -> ((s, dir) => {
      // DocumentTokenizerMerger (tokens/merger.py): two range-partitioned
      // ranks merged into <=5000-token output files; concatenation order
      // (rank order x in-rank order) = doc_id order, so per-doc token
      // counts after the merge mirror the same SQL as the .ds round trip.
      // Any split-boundary variance only moves the range split point - the
      // concatenated order stays sorted either way.
      implicit val sp: SparkSession = s
      val inDir = scratchDir("token_merge_in")
      val outDir = scratchDir("token_merge_out")
      val df = documents(s, dir).select(col("doc_id"), col("text"))
        .repartitionByRange(2, col("doc_id")).sortWithinPartitions("doc_id")
      DocTokenizer.write(df, "text", inDir,
        DocTokenizerConfig(vocabSize = 1000, shuffle = false))
      val outFiles = TokenArtifacts.merge(inDir, outDir, maxTokensPerFile = 5000L)
      val counts = outFiles.sorted.flatMap(p =>
        DocTokenizer.readRank(p, wide = false).map(_.length.toLong))
      val ids = docIds(s, dir)
      require(ids.length == counts.length, "merge lost docs")
      import s.implicits._
      ids.zip(counts).toSeq.toDF("doc_id", "n_tokens").orderBy("doc_id")
    }),
    "megatron_artifacts" -> ((s, dir) => {
      // Megatron .bin/.idx writer + ContextShuffler over a real .ds rank:
      // the MMIDIDX layout (magic, version, dtype, counts, sizes, pointers,
      // doc index) is parsed BACK by this query and the per-doc sizes are
      // the oracle surface; the context shuffle must be a pure window
      // permutation (byte length + window multiset preserved, checked via
      // sorted per-window hashes)
      implicit val sp: SparkSession = s
      val inDir = scratchDir("megatron_in")
      val df = documents(s, dir).select(col("doc_id"), col("text"))
        .coalesce(1).sortWithinPartitions("doc_id")
      val written = DocTokenizer.write(df, "text", inDir,
        DocTokenizerConfig(vocabSize = 1000, shuffle = false))
      val dsPath = written.head._1
      val outPrefix = scratchDir("megatron_out") + "/corpus"
      TokenArtifacts.writeMegatron(dsPath, outPrefix)
      val idxBytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(outPrefix + ".idx"))
      val bb = java.nio.ByteBuffer.wrap(idxBytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val magic = new Array[Byte](9); bb.get(magic)
      require(java.util.Arrays.equals(magic,
        "MMIDIDX".getBytes("US-ASCII") ++ Array[Byte](0, 0)), "bad magic")
      require(bb.getLong == 1L, "bad version")
      require(bb.get() == 8, "bad dtype") // numpy uint16
      val nDocs = bb.getLong.toInt
      require(bb.getLong == nDocs + 1L, "doc-index count")
      val sizes = Array.fill(nDocs)(bb.getInt.toLong)
      val binLen = java.nio.file.Files.size(java.nio.file.Paths.get(outPrefix + ".bin"))
      require(binLen == sizes.sum * 2, s".bin $binLen != ${sizes.sum * 2}")

      val shuffled = scratchDir("megatron_shuf") + "/shuf.ds"
      val nWin = TokenArtifacts.contextShuffle(dsPath, shuffled, windowTokens = 128).toInt
      require(java.nio.file.Files.size(java.nio.file.Paths.get(shuffled)) == nWin * 256L)
      def winHashes(p: String): Seq[Long] = {
        val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
        (0 until nWin).map { w =>
          var h = 1125899906842597L
          var i = w * 256
          val end = i + 256
          while (i < end) { h = 31 * h + b(i); i += 1 }
          h
        }
      }
      require(winHashes(dsPath).sorted == winHashes(shuffled).sorted,
        "context shuffle changed the window multiset")
      val ids = docIds(s, dir)
      require(ids.length == nDocs, "doc count mismatch")
      import s.implicits._
      ids.zip(sizes).toSeq.toDF("doc_id", "n_tokens").orderBy("doc_id")
    }),
    "checkpoint_resume" -> ((s, dir) => {
      // north-rule resumability: two committed stages; the rerun proves the
      // committed stage is READ BACK, not recomputed, by handing the second
      // stage() call a poison compute that would throw if evaluated
      implicit val sp: SparkSession = s
      val ckpt = new graft.plans.Checkpoint(scratchDir("checkpoint_resume"))
      val s1 = ckpt.stage("even") {
        documents(s, dir).where(col("doc_id") % 2 === 0).select("doc_id", "text")
      }
      val s2 = ckpt.stage("div6") { s1.where(col("doc_id") % 3 === 0) }
      ckpt.writeMetrics("div6", s2.groupBy(spark_partition_id().as("pid"))
        .agg(count(lit(1)).as("n")))
      // resume: both stages committed — poison computes must never run
      val r1 = ckpt.stage("even") { sys.error("stage 'even' recomputed on resume") }
      val r2 = ckpt.stage("div6") { sys.error("stage 'div6' recomputed on resume") }
      require(r1.count() == s1.count(), "resume read differs")
      r2.select(col("doc_id"), lit(true).as("resumed")).orderBy("doc_id")
    }),
    "streaming_dedup" -> ((s, dir) => {
      // Structured Streaming exact dedup (flatMapGroupsWithState) with
      // deterministic micro-batches: batch 1 carries each text group's
      // min-id doc (all distinct), batch 2 the rest — so the first-wins
      // state logic must keep exactly batch 1. Memory-sink bounded demo of
      // the streaming path; the driver-side doc build is oracle-scale only.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sp: SparkSession = s
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      def doc(id: Long): PipeDoc = PipeDoc(
        id.toString, new java.sql.Timestamp(1700000000000L + id), "grp " + (id % 100),
        "en", "", 0.0, 0L, true, "", "")
      // cap at 1000 docs: the streaming semantics under test (first-wins
      // state across batches) are identical at any size, and the per-doc
      // state/checkpoint cost would otherwise dominate the bench artifact
      val allIds = docIds(s, dir, below = 1000)
      val ms = MemoryStream[PipeDoc]
      val sinkName = "graft_stream_dedup_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 1) {
        val q = graft.streaming.StreamingQuality.streamingExactDedup(ms.toDS())
          .toDF().writeStream.format("memory").queryName(sinkName)
          .option("checkpointLocation", streamScratchDir("streaming_dedup_ckpt"))
          .outputMode("append").start()
        try {
          ms.addData(allIds.filter(_ < 100).map(doc).toSeq)
          q.processAllAvailable()
          ms.addData(allIds.filter(_ >= 100).map(doc).toSeq)
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(sinkName).select(col("url").cast("long").as("doc_id")).orderBy("doc_id")
    }),
    "streaming_metrics" -> ((s, dir) => {
      // watermarked windowed drop-reason metrics in append mode: real docs
      // land in three 1-minute windows; two late sentinel batches push the
      // watermark past them so all three finalize (the sentinels' own
      // windows stay open and never emit)
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      def doc(id: Long): PipeDoc = PipeDoc(
        id.toString, new java.sql.Timestamp((id % 3) * 60000L), "t", "en", "", 0.0,
        0L, id % 2 == 0, if (id % 2 == 0) "" else "language", "")
      def sentinel(tsMs: Long): PipeDoc = PipeDoc(
        "s", new java.sql.Timestamp(tsMs), "t", "en", "", 0.0, 0L, true, "", "")
      val allIds = docIds(s, dir, below = 1000) // cap: see streaming_dedup
      val ms = MemoryStream[PipeDoc]
      val sinkName = "graft_stream_metrics_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 1) {
        val q = graft.streaming.StreamingQuality
          .windowedDropMetrics(ms.toDS(), "1 minute", "0 seconds")
          .writeStream.format("memory").queryName(sinkName)
          .option("checkpointLocation", streamScratchDir("streaming_metrics_ckpt"))
          .outputMode("append").start()
        try {
          ms.addData(allIds.map(doc).toSeq)
          q.processAllAvailable()
          ms.addData(Seq(sentinel(600000L * 1000)))
          q.processAllAvailable()
          // second sentinel stays INSIDE the first's window: the trailing
          // empty micro-batch advances the watermark to 600030 < window end
          // 600060, so the sentinels' own window never finalizes/emits
          ms.addData(Seq(sentinel(600030L * 1000)))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(sinkName)
        .select((unix_timestamp(col("window.start"))).as("win_start_s"),
          col("reason"), col("count").as("n"))
        .orderBy("win_start_s", "reason")
    }),
    "sentence_dedup" -> ((s, dir) => {
      // Threshold oracle (r6). The raw documents are single-line texts, so
      // line-window dedup (nSentences=3) is structurally a no-op on them;
      // to exercise the real operator the query builds a 3-line corpus by
      // stitching consecutive docs (doc i = lines of raw docs i, i+1, i+2
      // — the same construction is one self-join in DuckDB), then plants a
      // full twin of every 10th stitched doc. Guarantees: each stitched
      // doc has exactly one 3-line window, originals are first occurrences
      // (min (doc, sent) struct wins) so they stay untouched and kept;
      // each twin's window is a duplicate, so its first line is removed
      // and the survivor fails the min-sentence threshold — removed ≥ 1
      // and keep = false for every twin.
      implicit val sp: SparkSession = s
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val d1 = docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("t1"))
      val d2 = docs.select((col("doc_id") - 2).as("doc_id"), col("text").as("t2"))
      val tri = cachedConstruction(
        docs.join(d1, "doc_id").join(d2, "doc_id")
          .select(col("doc_id"), concat_ws("\n", col("text"), col("t1"), col("t2")).as("text")))
      val base = docs.agg(max("doc_id")).first().getLong(0) + 1L
      val twins = tri.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(base)).as("doc_id"), col("text"))
      // both aggregate branches consume `out`: cache the slim verdict so
      // the stitch joins + rewrite/wordCount/sentCount UDFs run once (r8)
      val out = cachedConstruction(
        SentenceDedup(tri.unionByName(twins), "doc_id", "text")
          .select(col("doc_id"), col("sentence_dedup_keep"), col("removed_sentences")))
      val t = out.where(col("doc_id") >= base)
      val o = out.where(col("doc_id") < base)
      o.agg(count(lit(1)).as("n_stitched"),
          (sum(when(col("sentence_dedup_keep") && col("removed_sentences") === 0L, 1L)
            .otherwise(0L)) === count(lit(1))).as("originals_all_kept_untouched"))
        .crossJoin(t.agg(count(lit(1)).as("n_planted"),
          (sum(when(!col("sentence_dedup_keep") && col("removed_sentences") >= 1L, 1L)
            .otherwise(0L)) === count(lit(1))).as("twins_all_deduped")))
    }),
    "simhash_dedup" -> ((s, dir) => {
      // Threshold oracle (r6): identical planted twin ⇒ identical 64-bit
      // fingerprint ⇒ hamming 0 ≤ maxHamming ⇒ banding must surface the
      // pair ⇒ same cluster; min-id survivor ⇒ the twin is always dropped.
      implicit val sp: SparkSession = s
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val base = docs.agg(max("doc_id")).first().getLong(0) + 1L
      val twins = docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(base)).as("doc_id"), col("text"))
      // three consumptions of `out` (o twice, t once): cache the slim
      // verdict so the final per-row simhash UDF pass runs once (r8)
      val out = cachedConstruction(
        SimHashDedup(docs.unionByName(twins), "doc_id", "text", maxHamming = 3)
          .select(col("doc_id"), col("simhash_cluster"), col("simhash_keep")))
      val t = out.where(col("doc_id") >= base)
        .select((col("doc_id") - lit(base)).as("src_id"),
          col("simhash_cluster").as("t_cluster"), col("simhash_keep").as("t_keep"))
      val o = out.where(col("doc_id") < base)
      o.agg(count(lit(1)).as("n_raw")).crossJoin(
        t.join(o, t("src_id") === o("doc_id"))
          .agg(count(lit(1)).as("n_planted"),
            (sum(when(col("t_keep"), 1L).otherwise(0L)) === 0L).as("twins_all_dropped"),
            (sum(when(col("t_cluster") === col("simhash_cluster"), 1L).otherwise(0L)) ===
              count(lit(1))).as("twins_same_cluster")))
    }),
    "ann_topk" -> ((s, dir) => {
      // brute-force cosine top-1 neighbor (ids only — float ordering is
      // engine-identical, float values are not hash-safe)
      Similarity.bruteForceTopK(
          s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding", 1)
        .select(col("vec_id"), col("neighbor"))
        .orderBy("vec_id")
    }),
    "ann_lsh_topk" -> ((s, dir) => {
      // Raw variant upgraded from rows-only to a THRESHOLD oracle (r4
      // verdict optional #8): every 10th raw vector gets a planted twin
      // (small deterministic additive perturbation), whose TRUE nearest
      // neighbor is its source by construction — so LSH recall@1 over the
      // planted queries is measurable with no engine self-oracle. The raw
      // table itself has no genuine near pairs (max cosine ~0.5), which is
      // why plain top-1 agreement was never oracle-able. DuckDB pins the
      // planted-query count and the recall ≥ 0.9 assertion.
      implicit val sp: SparkSession = s
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      // offset derived from the data, not a fixed 1e6 (review-caught: a
      // 1M-row table would collide planted ids with genuine ones)
      val plantedBase = emb.agg(max("vec_id")).first().getLong(0) + 1L
      val planted = emb.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + lit(plantedBase)).as("vec_id"),
          expr("""transform(embedding, (x, j) ->
                  x + cast(pmod(hash(vec_id * 64 + j), 41) - 20 as float) / 400.0f)""")
            .as("embedding"))
      val answers = Similarity.lshTopK(
          emb.unionByName(planted), "vec_id", "embedding", 1)
        .where(col("vec_id") >= plantedBase)
        .select(col("vec_id"), col("neighbor"))
      planted.select(col("vec_id")).join(answers, Seq("vec_id"), "left")
        .agg(count(lit(1)).as("n_planted"),
          sum(when(col("neighbor") === col("vec_id") - lit(plantedBase), 1L).otherwise(0L))
            .as("n_found"))
        .select(col("n_planted"),
          (col("n_found") * 10 >= col("n_planted") * 9).as("recall_ge_90"))
    }),
    "doc_stats" -> ((s, dir) => {
      // stats/doc_stats.py analog — integer-exact metrics per doc
      documents(s, dir).select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          tokenCountCol(col("text")).as("n_words"),
          (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).cast("long").as("n_spaces"))
        .orderBy("doc_id")
    }),
    "word_stats" -> ((s, dir) => {
      // stats/word_stats.py analog: word totals + type-token counts
      documents(s, dir).select(
          col("doc_id"),
          tokenCountCol(col("text")).as("n_words"),
          aggregate(filter(split(col("text"), " "), w => w =!= ""),
            lit(0L), (acc, w) => acc + length(w)).as("sum_word_len"),
          size(array_distinct(filter(split(col("text"), " "), w => w =!= ""))).cast("long").as("n_distinct"))
        .orderBy("doc_id")
    }),
    "stats_group_agg" -> ((s, dir) => {
      // StatsMerger analog: partial→final agg by group (one shuffle)
      s.read.parquet(s"$dir/events.parquet")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value")).cast("long")).as("sum_floor_value"),
          min(col("user_id")).as("min_user"),
          max(col("user_id")).as("max_user"))
        .orderBy("event_type")
    }),
    "stats_histogram" -> ((s, dir) => {
      // histogram via value bucketing (stats/base.py:62-87 analog)
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(floor(col("value") * 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),
    "top_sources" -> ((s, dir) => {
      // grouped top-k with deterministic tie-break (top-k fqdn analog)
      documents(s, dir)
        .groupBy("source").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("source"))
        .limit(10)
    }),
    "decont" -> ((s, dir) => {
      // n-gram decontamination: docs with doc_id%50==0 act as the
      // "benchmark"; any doc sharing a 12-gram is contaminated
      implicit val sp: SparkSession = s
      val docs = documents(s, dir)
      val index = DecontFilter.buildIndex(
        docs.where(col("doc_id") % 50 === 0), "text", DecontConfig(12))
      DecontFilter(docs, index, "text", DecontConfig(12))
        .select("doc_id", "decont_keep").orderBy("doc_id")
    }),
    "hard_sampler" -> ((s, dir) => {
      // top-score docs up to a token budget (eta_dacp hard sampler)
      documents(s, dir)
        .withColumn("score", col("doc_id"))
        .withColumn("tokens", tokenCountCol(col("text")))
        .transform(df => Sampling.hardTopByTokens(df, "score", "tokens", 5000L))
        .select("doc_id").orderBy("doc_id")
    }),
    "cdf_sampler" -> ((s, dir) => {
      // CDF sampling probabilities (quantized; the Bernoulli draw itself is
      // engine-seeded and not comparable)
      documents(s, dir)
        .withColumn("score", col("doc_id"))
        .withColumn("tokens", tokenCountCol(col("text")))
        .transform(df => Sampling.cdfSample(df, "score", "tokens", 0.2, 0.5))
        .select(col("doc_id"), floor(col("sample_p") * 1000000).cast("long").as("p_q"))
        .orderBy("doc_id")
    }),
    "fingerprint" -> ((s, dir) => {
      // Winnowing SELF-CONSISTENCY oracle over the raw corpus (VERDICT r5
      // #4): the defining local-fingerprinting property (Schleimer et al.
      // 2003) is that a word-suffix copy of a document selects a SUBSET of
      // the original's anchors — every window of the suffix is a window of
      // the original with identical content, so its minimum is selected in
      // both. The suffix drops min(10, max(0, nWords-13)) leading words so
      // it always keeps >= window+n grams (the global-min fallback for
      // shorter texts doesn't obey the subset law). has_anchors pins that
      // every >=5-word doc produced a sketch; both booleans recompute
      // exactly in DuckDB from word counts.
      val u = udf { t: String =>
        val full = graft.functions.Fingerprint.winnow(t).toSet
        // suffix over the SAME normalized word stream winnow hashes
        // (simplify_text is idempotent, so re-winnowing the joined suffix
        // sees exactly these words)
        val words = graft.text.Tokenizer.words(graft.text.TextKernels.simplifyText(t))
        val drop = math.min(10, math.max(0, words.length - 13))
        val sub = graft.functions.Fingerprint.winnow(words.drop(drop).mkString(" ")).toSet
        (full.nonEmpty, sub.subsetOf(full))
      }
      documents(s, dir)
        .select(col("doc_id"), u(col("text")).as("r"))
        .select(col("doc_id"), col("r._1").as("has_anchors"),
          col("r._2").as("subset_ok"))
        .orderBy("doc_id")
    }),
    "c4_quality" -> ((s, dir) => {
      // C4 line-rewriting filter over six planted variants (keep-all,
      // citation removal, line drops, lorem-ipsum doc drop, curly-bracket
      // doc drop, policy/javascript skips -> too_few_sentences); expected
      // reason + rewritten text replayed through the reference's own
      // c4_filters.py during construction and pinned in the oracle
      val variants = Seq(
        "The quiet harbor watched the morning boats today.\nSome sailors crossed the narrow bridge to the market.\nPeople enjoyed the festival music in the evening.\nThe ancient castle stood above the peaceful village.\nA gentle rain washed the narrow stone road clean.",
        "The study cited several sources [1] in the text.\nAnother line kept the reference [citation needed] for review.\nThe authors described the method in careful detail.\nResults were reported with the full data tables.\nThe conclusion matched the earlier findings closely.",
        "This line has no terminal punctuation\ntoo short.\nThe remaining lines carry the documents real content today.\nEvery kept line needs a terminal mark and enough words.\nThe final line closes the document with a clear point.\nOne more sentence keeps the count over the minimum safely.\nAnd another sentence arrives to stay over five total.",
        "The quiet harbor watched the morning boats today.\nSome sailors crossed the narrow bridge to the market.\nPeople enjoyed the festival music in the evening.\nThe ancient castle stood above the peaceful village.\nA gentle rain washed the narrow stone road clean.\nSome lorem ipsum filler appears right here.",
        "The quiet harbor watched the morning boats today.\nSome sailors crossed the narrow bridge to the market.\nPeople enjoyed the festival music in the evening.\nThe ancient castle stood above the peaceful village.\nA gentle rain washed the narrow stone road clean.\nA code sample with a { bracket appears here.",
        "Please read our privacy policy before you continue.\nEnable javascript to use this site properly.\nOnly this line carries real content for the reader.")
      val planted = plantedVariants(variants)
      val c4U = udf { t: String =>
        C4QualityFilter.check(t) match {
          case Left(reason) => (reason, "")
          case Right(text) => ("", text)
        }
      }
      documents(s, dir)
        .withColumn("__c", c4U(planted))
        .select(col("doc_id"), col("__c._1").as("c4_reason"), col("__c._2").as("c4_text"))
        .orderBy("doc_id")
    }),
    "multimodal_features" -> ((s, dir) => {
      // the multimodal batched feature-extraction plumbing end-to-end with
      // planted payloads whose stub nibble-histogram features are
      // hand-derivable ('A'=0x41 → bin 1, 'B'=0x42 → bin 2, mixed → 0.5/0.5)
      implicit val sp: SparkSession = s
      val payload = plantedVariants(Seq("AAAA", "BBBB", "AB")).cast("binary")
      val media = documents(s, dir).select(col("doc_id"),
        payload.as("payload"), lit("image").as("media_type"))
      Multimodal.extractFeatures(media)
        .select(col("doc_id"),
          (element_at(col("features"), 2) * 1000).cast("long").as("f1_x1000"),
          (element_at(col("features"), 3) * 1000).cast("long").as("f2_x1000"))
        .orderBy("doc_id")
    }),
    "unigram_logprob" -> ((s, dir) => {
      // mean unigram log-prob under an exact power-of-two table (values are
      // exact doubles, so the only float op chain is log+mean — quantized
      // x1e6 where Java-vs-CPython 1-ulp libm differences vanish);
      // constants derived with an independent Python replay
      val filter = new UnigramLogProbFilter(
        Map("the" -> 0.125, "cat" -> 0.015625, "sat" -> 0.25))
      val planted = plantedVariants(Seq(
        "the cat sat", "the unknownword", "the the the the"))
      val lpU = udf { t: String => math.rint(filter.logprob(t) * 1e6).toLong }
      documents(s, dir)
        .select(col("doc_id"), lpU(planted).as("logprob_x1e6"))
        .orderBy("doc_id")
    }),
    "url_filter" -> ((s, dir) => {
      // adult/blocklist URL filter (url_filter.py semantics): registered-
      // domain block, fqdn (subdomain) block, exact-url block, hard word,
      // two soft words, subword, clean — reasons follow from the published
      // rule order
      val filter = new UrlFilter(
        blockListedDomains = Set("blocked.com", "bad.site.org"),
        blockListedUrls = Set("https://exact.example.com/page"),
        bannedWords = Set("hardword"),
        bannedSubwords = Set("sneakysub"),
        softBannedWords = Set("softone", "softtwo"))
      val variants = Seq(
        "https://fine.example.com/article",
        "https://blocked.com/anything",
        "https://bad.site.org/page",
        "https://exact.example.com/page",
        "https://x.com/a/hardword/b",
        "https://x.com/softone/softtwo",
        "https://x.com/asneakysubthing")
      val planted = plantedVariants(variants)
      val uU = udf { u: String => filter.check(u).getOrElse("") }
      documents(s, dir)
        .select(col("doc_id"), uU(planted).as("url_reason"))
        .orderBy("doc_id")
    }),
    "badwords" -> ((s, dir) => {
      // toxicity word-list filter over planted texts: clean en, en word
      // boundary hit, en substring-only (must NOT fire in word-boundary
      // mode), zh substring hit (Aho-Corasick path). Outcomes follow from
      // the reference's \\W-flanked regex vs substring-mode semantics
      // (c4_filters.py:259-263) with the fixture lists.
      val filter = new BadWordsFilter(
        graft.sources.WebCorpusGen.BadWordsFixture.asMap)
      val variants = Seq(
        ("a perfectly clean document about gardens.", "en"),
        ("this text mentions badwordalpha openly.", "en"),
        ("the compound embeddedbadwordalphaword hides it.", "en"),
        ("这段文字包含坏词在中间。", "zh"))
      val planted = plantedVariants(variants.map(_._1))
      val plantedLang = plantedVariants(variants.map(_._2))
      val bwU = udf { (t: String, l: String) => filter.check(t, Some(l)).getOrElse("") }
      documents(s, dir)
        .select(col("doc_id"), bwU(planted, plantedLang).as("badwords_reason"))
        .orderBy("doc_id")
    }),
    "ftfy_fix" -> ((s, dir) => {
      // FtfyLite default repertoire over hand-derivable mojibake: the
      // expected outputs follow from the PUBLIC cp1252/UTF-8 mis-decode
      // tables and HTML entity definitions, not from the engine
      val variants = Seq(
        "plain café text stays.",
        "cafÃ©",
        "donâ€™t stop",
        "Fish &amp; chips with &eacute;")
      val planted = plantedVariants(variants)
      val fixU = udf { t: String => FtfyLite.fix(t) }
      documents(s, dir)
        .select(col("doc_id"), fixU(planted).as("fixed"))
        .orderBy("doc_id")
    }),
    "c4_paragraph" -> ((s, dir) => {
      // mC4 paragraph filter (>=3 paragraphs, top-3 all >=200 chars) over
      // planted variants replayed through the reference's code
      val longP = "The quiet harbor watched the morning boats with a steady patience while the sailors " +
        "crossed the narrow bridge to reach the busy market square and the bakery near the old " +
        "stone gate before the evening festival began today."
      val variants = Seq(
        Seq(longP, longP.replace("quiet", "bright"), longP.replace("harbor", "valley")).mkString("\n"),
        Seq(longP, longP.replace("quiet", "bright")).mkString("\n"),
        Seq(longP, longP.replace("quiet", "bright"), "short paragraph.").mkString("\n"))
      val planted = plantedVariants(variants)
      val pU = udf { t: String => C4ParagraphFilter.check(t).getOrElse("") }
      documents(s, dir)
        .select(col("doc_id"), pU(planted).as("c4_para_reason"))
        .orderBy("doc_id")
    }),
    "ngram_jaccard" -> ((s, dir) => {
      // exact 5-gram Jaccard kernel (the verify step behind LSH candidate
      // pairs) over planted pairs whose set arithmetic is hand-derivable:
      // identical (J=1), one tail word changed (5 shared of 7 = 714286),
      // disjoint (0), 5-word overlap of two 10-word texts (1 of 11 = 90909)
      val a = lit("qa qb qc qd qe qf qg qh qi qj")
      val b = plantedVariants(Seq(
        "qa qb qc qd qe qf qg qh qi qj",
        "qa qb qc qd qe qf qg qh qi zz",
        "za zb zc zd ze zf zg zh zi zj",
        "qf qg qh qi qj qk ql qm qn qo"))
      val jacU = udf { (x: String, y: String) =>
        math.rint(NgramJaccard.jaccard(x, y, 5) * 1e6).toLong
      }
      documents(s, dir)
        .select(col("doc_id"), jacU(a, b).as("jaccard_x1e6"))
        .orderBy("doc_id")
    }),
    "language_id_planted" -> ((s, dir) => {
      // unambiguous planted texts, one per supported language family — the
      // oracle pins the expected label (the ground truth is the language
      // the text is actually written in, not an engine echo)
      val planted = plantedVariants(Seq(
        "the quiet market and the bright garden of the village with all of that is in the morning",
        "le marché était très calme ce matin et les enfants jouaient dans la rue près du pont je ne pense pas",
        "der markt war heute sehr ruhig und die kinder spielten auf der straße während wir die schiffe nicht",
        "el mercado estaba muy tranquilo esta mañana y los niños jugaban en la calle cerca del puente",
        "今天的市场很安静孩子们在街上玩我们看着河上的船只从桥边经过一切都很平静"))
      val langOnly = udf { text: String => graft.functions.HeuristicLid.predict(text)._1 }
      documents(s, dir)
        .select(col("doc_id"), langOnly(planted).as("lang_pred"))
        .orderBy("doc_id")
    }),
    "language_id_wide" -> ((s, dir) => {
      // REAL inference over the round-5 WIDE fixture (36 languages, the
      // DEFAULT pipeline LID): 10 planted texts spanning latin/cyrillic/
      // arabic/greek/hangul scripts plus UNSPACED zh/ja/th, whose labels
      // are ground truth by authorship — the CJK/Thai rows prove the
      // subword-only OOV path end-to-end on the production model.
      val wideTexts = WidePlantedTexts.map(_._2)
      val planted = element_at(
        typedlit(wideTexts), (col("doc_id") % 10).cast("int") + 1)
      val u = udf { t: String =>
        val (lang, score, _) = graft.functions.Lid.default.predict(t)
        (lang, score > 0.65)
      }
      documents(s, dir).select(col("doc_id"), u(planted).as("r"))
        .select(col("doc_id"), col("r._1").as("wide_lang"), col("r._2").as("wide_keep"))
        .orderBy("doc_id")
    }),
    "language_id_ft" -> ((s, dir) => {
      // REAL fastText .bin inference over the committed self-trained fixture
      // (tools/gen_fasttext_model.py): resource load -> vocab lookup -> mean
      // of input vectors -> output matmul -> softmax (utils/lid.py:53-59).
      // Ground-truth labels pinned in the oracle; ft_keep mirrors
      // LanguageFilter's score>0.65 rule (filters/language_filter.py:29).
      val planted = plantedVariants(LidPlantedTexts)
      val u = udf { t: String =>
        val (lang, score, _) = graft.functions.FastTextModel.fixture.predict(t)
        (lang, score > 0.65)
      }
      documents(s, dir).select(col("doc_id"), u(planted).as("r"))
        .select(col("doc_id"), col("r._1").as("ft_lang"), col("r._2").as("ft_keep"))
        .orderBy("doc_id")
    }),
    "language_id_ft_sub" -> ((s, dir) => {
      // the SUBWORD inference path (minn=2 maxn=4 bucket=512, the
      // lid.176-style config): every planted text carries misspelled /
      // OOV-inflected content words that only classify through their
      // char-n-gram bucket vectors (FastTextModel.subwordRows)
      val planted = plantedVariants(Seq(
        "the quiett markett and the bright gardens of the village in the morning",
        "le marchés était calmes ce matin et les enfants dans la rue",
        "der marktt war heute ruhigg und die kinder auf der brücke",
        "el mercados estaba tranquilos esta mañana y los niños en la calle",
        "il mercatto era tranquilli questa mattina e i bambini in strada"))
      val u = udf { t: String =>
        val (lang, score, _) = graft.functions.FastTextModel.subwordFixture.predict(t)
        (lang, score > 0.65)
      }
      documents(s, dir).select(col("doc_id"), u(planted).as("r"))
        .select(col("doc_id"), col("r._1").as("ft_lang"), col("r._2").as("ft_keep"))
        .orderBy("doc_id")
    }),
    "lang_stats" -> ((s, dir) => {
      // stats/lang_stats.py: per-language grouped summary of the LID
      // stage's output — real fastText fixture inference, grouped by the
      // predicted language; identical planted texts per variant make the
      // score uniform within each group (score_uniform pins min==max)
      val planted = plantedVariants(LidPlantedTexts)
      val u = udf { t: String =>
        val (lang, score, _) = graft.functions.FastTextModel.fixture.predict(t)
        (lang, math.rint(score * 1e6).toLong)
      }
      documents(s, dir).select(u(planted).as("r"))
        .groupBy(col("r._1").as("language"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("r._2") > 650000L, 1L).otherwise(0L)).as("n_above_065"),
          (min(col("r._2")) === max(col("r._2"))).as("score_uniform"))
        .orderBy("language")
    }),
    "line_stats" -> ((s, dir) => {
      // stats/line_stats.py metrics over hand-computable planted texts;
      // float ratios quantized to x1e6 longs (identical IEEE ops both sides)
      val planted = plantedVariants(Seq(
        "One. Two!\nAbc def.\n• point\nxx",
        "ab " * 26 + "end",
        "- item one\n- item two\nDone.",
        "•\n-"))
      StatsOps.lineStats(documents(s, dir).withColumn("text", planted))
        .select(col("doc_id"), col("n_lines"),
          rint(col("avg_line_length") * 1e6).cast("long").as("avg_line_len_q"),
          rint(col("short_line_ratio_chars_10") * 1e6).cast("long").as("short_q"),
          rint(col("long_line_ratio_chars_66") * 1e6).cast("long").as("long_q"),
          rint(col("lines_ending_with_terminal_mark_ratio") * 1e6).cast("long").as("terminal_q"),
          rint(col("bullet_point_lines_ratio") * 1e6).cast("long").as("bullet_q"))
        .orderBy("doc_id")
    }),
    "sentence_stats" -> ((s, dir) => {
      // stats/sentence_stats.py over planted texts with unambiguous
      // sentence boundaries for the deterministic splitter
      val planted = plantedVariants(Seq(
        "Hello there. How are you? Fine!",
        "no terminal punctuation here",
        "One two three. And more...",
        "A. B. C. D."))
      StatsOps.sentenceStats(documents(s, dir).withColumn("text", planted))
        .select(col("doc_id"), col("n_sentences"),
          rint(col("avg_sentence_length") * 1e6).cast("long").as("avg_sentence_len_q"))
        .orderBy("doc_id")
    }),
    "paragraph_stats" -> ((s, dir) => {
      val planted = plantedVariants(Seq(
        "Para one.\n\nPara two longer here.\n\nP3",
        "Single paragraph only",
        "A\n\nB\n\nC\n\nD",
        "aa bb\n\ncc dd ee"))
      StatsOps.paragraphStats(documents(s, dir).withColumn("text", planted))
        .select(col("doc_id"), col("n_paragraphs"),
          rint(col("avg_paragraph_length") * 1e6).cast("long").as("avg_para_len_q"))
        .orderBy("doc_id")
    }),
    "contamination_stats" -> ((s, dir) => {
      // stats/contamination_stats.py — target-word frequency (case-folded)
      val planted = plantedVariants(Seq(
        "lorem ipsum dolor sit amet",
        "clean text with no bad words here",
        "Lorem LOREM xyz",
        "ipsum"))
      StatsOps.wordsContamination(
          documents(s, dir).withColumn("text", planted), Seq("lorem", "ipsum"))
        .select(col("doc_id"),
          rint(col("words_contamination_ratio") * 1e6).cast("long").as("contamination_q"))
        .orderBy("doc_id")
    }),
    "classifier_filter" -> ((s, dir) => {
      // paragraph-granularity span REWRITE (fasttext_filter.py:96-112) with
      // a deterministic scorer behind the classifier seam: keep units
      // containing "good"; all spans failing drops the doc
      val planted = plantedVariants(Seq(
        "good line one\nbad line\ngood two",
        "bad\nworse",
        "good only",
        "good start\ngood end"))
      val stage = ClassifierFilter.stage("cls",
        t => Map("keep" -> (if (t.contains("good")) 1.0 else 0.0)),
        keepLabels = Seq(("keep", 0.5)),
        granularity = ClassifierFilter.Paragraph)
      val u = udf { t: String =>
        val ctx = new StageContext(0, PipelineConfig())
        val d = stage.process(PipeDoc(null, null, t, "", "", 0.0, 0L, true, "", ""), ctx)
        (d.keep, d.text, d.drop_reason)
      }
      documents(s, dir).select(col("doc_id"), u(planted).as("r"))
        .select(col("doc_id"), col("r._1").as("cls_keep"),
          col("r._2").as("cls_text"), col("r._3").as("cls_reason"))
        .orderBy("doc_id")
    }),
    "regex_filter" -> ((s, dir) => {
      // filters/regex_filter.py — drop on match; word-boundary + case
      // sensitivity exercised by the planted variants
      val planted = plantedVariants(Seq(
        "contains badword here",
        "totally clean content",
        "BADWORD uppercase does not match",
        "edge badwords plural"))
      val rf = new RegexFilter("\\bbadword\\b")
      val u = udf { t: String => rf.check(t).getOrElse("") }
      documents(s, dir).select(col("doc_id"), u(planted).as("regex_reason"))
        .withColumn("regex_keep", col("regex_reason") === "")
        .orderBy("doc_id")
    }),
    "sampler_filter" -> ((s, dir) => {
      // filters/sampler_filter.py at its deterministic endpoints: rate=1
      // keeps all, rate=0 drops all (nextDouble() in [0,1)); the mid-rate
      // distribution itself is seeded-RNG and unit-tested, not oracle-able
      val s1 = Stages.sampler(1.0)
      val s0 = Stages.sampler(0.0)
      val u = udf { t: String =>
        val ctx = new StageContext(0, PipelineConfig())
        val d = PipeDoc(null, null, t, "", "", 0.0, 0L, true, "", "")
        (s1.process(d, ctx).keep, s0.process(d, ctx).keep)
      }
      documents(s, dir).select(col("doc_id"), u(col("text")).as("r"))
        .select(col("doc_id"), col("r._1").as("keep_rate1"), col("r._2").as("keep_rate0"))
        .orderBy("doc_id")
    }),
    "hard_sampler_frac" -> ((s, dir) => {
      // hardTopP's full config surface (hard_sampler.py:10-47): top_p as a
      // doc-count fraction, a token-mass fraction, and lowest-first
      // three hardTopP passes + the final join all consume `base` — cache
      // the slim (id, score, tokens) projection so the word-count
      // expression runs once (r8)
      val base = cachedConstruction(documents(s, dir)
        .select(col("doc_id"), col("doc_id").as("score"),
          tokenCountCol(col("text")).as("tokens")))
      val docKept = Sampling.hardTopP(base, "score", 0.25, "doc")
        .select(col("doc_id"), lit(true).as("k1"))
      val tokKept = Sampling.hardTopP(base, "score", 0.3, "token", "tokens")
        .select(col("doc_id"), lit(true).as("k2"))
      val lowKept = Sampling.hardTopP(base, "score", 0.1, "doc", highest = false)
        .select(col("doc_id"), lit(true).as("k3"))
      base.select("doc_id")
        .join(docKept, Seq("doc_id"), "left")
        .join(tokKept, Seq("doc_id"), "left")
        .join(lowKept, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("k1"), lit(false)).as("keep_doc_frac"),
          coalesce(col("k2"), lit(false)).as("keep_token_frac"),
          coalesce(col("k3"), lit(false)).as("keep_doc_low"))
        .orderBy("doc_id")
    }),
    "c4_quality_sent" -> ((s, dir) => {
      // C4's sentence-unit mode (split_paragraph=False, c4_filters.py:63,89):
      // units from the deterministic splitter, +1 numSentences per kept
      // unit, " "-join on output
      val planted = plantedVariants(Seq(
        "This is the first good sentence here. And here is another proper sentence.",
        "One good sentence is right here. Another fine sentence is here too. trailing fragment no punct",
        "Just one sentence here.",
        "The result was shown[1] in the paper. A second sentence confirms the claim.",
        "Tiny one. This proper sentence has many words in it. Also this second one has enough words."))
      val cfg = C4QualityConfig(splitParagraph = false, minNumSentences = 2)
      val u = udf { t: String =>
        C4QualityFilter.check(t, cfg) match {
          case Right(rewritten) => (true, rewritten, "")
          case Left(reason) => (false, "", reason)
        }
      }
      documents(s, dir).select(col("doc_id"), u(planted).as("r"))
        .select(col("doc_id"), col("r._1").as("c4s_keep"),
          col("r._2").as("c4s_text"), col("r._3").as("c4s_reason"))
        .orderBy("doc_id")
    }),
    "minhash_dedup_index" -> ((s, dir) => {
      // index-mode minhash (minhash.py:290-314,419-474): index built from
      // the even-group half of the synthetic dup corpus; a doc sharing any
      // (bucket, sig) with the index is dropped. Group parity == doc parity
      // (group stride 100 is even), so in-index membership is SQL-derivable
      implicit val sp: SparkSession = s
      val docs = syntheticDupDocs(s, dir)
      // strict AND loose probe the same index — cache it so the index
      // half's signature UDF runs once (r8)
      val idx = cachedConstruction(
        MinhashDedup.buildIndex(docs.where(col("doc_id") % 2 === 0), "doc_id", "text"))
      val strict = MinhashDedup.dedupWithIndex(docs, "doc_id", "text", idx)
        .select(col("doc_id"), col("minhash_keep").as("keep_index_only"))
      val loose = MinhashDedup.dedupWithIndex(docs, "doc_id", "text", idx,
          onlyDedupInIndex = false)
        .select(col("doc_id"), col("minhash_keep").as("keep_with_corpus"),
          col("minhash_cluster"))
      strict.join(loose, Seq("doc_id"))
        .select("doc_id", "keep_index_only", "keep_with_corpus", "minhash_cluster")
        .orderBy("doc_id")
    }),
    "url_dedup_index" -> ((s, dir) => {
      // index-mode url dedup (url_dedup.py index_folder): index holds url
      // keys 0..9; strict mode drops exactly those, loose mode adds the
      // within-corpus best-priority rule on top
      val docs = documents(s, dir)
        .withColumn("url2", (col("doc_id") % 37).cast("string"))
        .withColumn("priority", col("doc_id") % 5)
      val idx = docs.where(col("doc_id") % 37 < 10).select(col("url2").as("iurl"))
      val strict = UrlDedup.withIndex(docs, "url2", "doc_id", "priority", idx, "iurl")
        .select(col("doc_id"), col("url_keep").as("keep_index_only"))
      val loose = UrlDedup.withIndex(docs, "url2", "doc_id", "priority", idx, "iurl",
          onlyDedupInIndex = false)
        .select(col("doc_id"), col("url_keep").as("keep_with_corpus"), col("url_dup_rep"))
      strict.join(loose, Seq("doc_id"))
        .select("doc_id", "keep_index_only", "keep_with_corpus", "url_dup_rep")
        .orderBy("doc_id")
    }),
    "fingerprint_exact" -> ((s, dir) => {
      // planted pre-normalized texts (simplify_text is the identity on
      // them), fingerprints + winnowing sketches pinned against an
      // INDEPENDENT pure-Python XXH64 + winnow replay
      val planted = plantedVariants(Seq(
        "the quick brown fox jumps over a lazy dog near the quiet river",
        "a steady harbor wind carried the small wooden boats toward the bright morning market",
        "people gathered under the ancient bridge while the gentle rain washed the narrow stone road",
        "the patient teacher explained the simple lesson and the curious students followed every word"))
      val fpU = udf { t: String => graft.functions.Fingerprint.contentHash(t) }
      val sketchLenU = udf { t: String => graft.functions.Fingerprint.winnow(t).length }
      val sketchFirstU = udf { t: String => graft.functions.Fingerprint.winnow(t).head }
      documents(s, dir).select(col("doc_id"), fpU(planted).as("fp"),
        sketchLenU(planted).as("sketch_len"), sketchFirstU(planted).as("sketch_first"))
        .orderBy("doc_id")
    }),
    "bloom_dedup" -> ((s, dir) => {
      // Threshold oracle (r6): Bloom filters have no false negatives, so
      // by the time a planted twin (id offset past every raw id, hence
      // sequenced after its source in the sorted single partition) is
      // probed, its text's bits are all set — every twin must be dropped.
      // Raw-side keeps are engine-specific (deterministic FP rate), not
      // asserted.
      implicit val sp: SparkSession = s
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val base = docs.agg(max("doc_id")).first().getLong(0) + 1L
      val twins = docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(base)).as("doc_id"), col("text"))
      // both aggregate branches consume `out`, and BloomDedup is a
      // SEQUENTIAL single-task pass by construction — cache the slim
      // verdict so the bloom scan runs once, not per branch (r8)
      val out = cachedConstruction(BloomDedup(
          docs.unionByName(twins).coalesce(1).sortWithinPartitions("doc_id"),
          "doc_id", "text", BloomDedupConfig(nGrams = 5))
        .select(col("doc_id"), col("bloom_keep")))
      out.where(col("doc_id") < base).agg(count(lit(1)).as("n_raw")).crossJoin(
        out.where(col("doc_id") >= base)
          .agg(count(lit(1)).as("n_planted"),
            (sum(when(col("bloom_keep"), 1L).otherwise(0L)) === 0L).as("twins_all_dropped")))
    }),
    "gopher_quality_sql" -> ((s, dir) => {
      // same semantics as gopher_quality, but as pure column expressions
      // (no UDF — whole plan stays in codegen); shares the same oracle
      documents(s, dir)
        .select(col("doc_id"),
          SqlFilters.gopherQualityReason(col("text"),
            minDocWords = 40, minStopWords = 1).as("reason"))
        .withColumn("keep", col("reason") === "")
        .orderBy("doc_id")
    }),
    "top2gram" -> ((s, dir) => {
      // FastRepetition top-2-gram kernel (len(top)×count) cross-checked
      // against a pure-SQL window formulation (tie-break = first occurrence)
      val topUdf = udf { t: String =>
        new graft.text.FastRepetition.Reps(graft.text.Tokenizer.words(t)).findTopDuplicate(2).toLong
      }
      documents(s, dir)
        .select(col("doc_id"), topUdf(col("text")).as("top_product"))
        .orderBy("doc_id")
    }),
    "symbol_lines" -> ((s, dir) => {
      // plant symbol-run lines so the oracle verifies the collapse (not
      // identity): %3==0 gets a 2-line symbol run mid-doc, %3==1 a leading
      // symbol line, %3==2 stays unchanged
      val fmtUdf = udf { t: String => new SymbolLinesFormatter().format(t) }
      val planted = when(col("doc_id") % 3 === 0,
          concat(col("text"), lit("\n! ! ! !\n- - -\ntail line ok")))
        .when(col("doc_id") % 3 === 1, concat(lit("* * *\n"), col("text")))
        .otherwise(col("text"))
      documents(s, dir).select(col("doc_id"), fmtUdf(planted).as("formatted")).orderBy("doc_id")
    })
  )

  private val stopList = "['the','be','to','of','and','that','have','with']"

  def oracleSql: Map[String, String] = Map(
    "gopher_quality" ->
      s"""WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words FROM documents
), m AS (
  SELECT doc_id,
    len(words) AS n,
    list_aggregate(list_transform(words, x -> length(x)), 'sum') AS sumlen,
    len(list_intersect(list_distinct(words), $stopList)) AS stops
  FROM w
)
SELECT doc_id,
  CASE WHEN n < 40 THEN 'gopher_short_doc'
       WHEN n > 100000 THEN 'gopher_long_doc'
       WHEN sumlen < 3*n THEN 'gopher_below_avg_threshold'
       WHEN sumlen > 10*n THEN 'gopher_above_avg_threshold'
       WHEN stops < 1 THEN 'gopher_enough_stop_words'
       ELSE '' END AS reason,
  (CASE WHEN n < 40 THEN 'gopher_short_doc'
       WHEN n > 100000 THEN 'gopher_long_doc'
       WHEN sumlen < 3*n THEN 'gopher_below_avg_threshold'
       WHEN sumlen > 10*n THEN 'gopher_above_avg_threshold'
       WHEN stops < 1 THEN 'gopher_enough_stop_words'
       ELSE '' END) = '' AS keep
FROM m ORDER BY doc_id""",
    "gopher_quality_sql" ->
      s"""WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words FROM documents
), m AS (
  SELECT doc_id,
    len(words) AS n,
    list_aggregate(list_transform(words, x -> length(x)), 'sum') AS sumlen,
    len(list_intersect(list_distinct(words), $stopList)) AS stops
  FROM w
)
SELECT doc_id,
  CASE WHEN n < 40 THEN 'gopher_short_doc'
       WHEN n > 100000 THEN 'gopher_long_doc'
       WHEN sumlen < 3*n THEN 'gopher_below_avg_threshold'
       WHEN sumlen > 10*n THEN 'gopher_above_avg_threshold'
       WHEN stops < 1 THEN 'gopher_enough_stop_words'
       ELSE '' END AS reason,
  (CASE WHEN n < 40 THEN 'gopher_short_doc'
       WHEN n > 100000 THEN 'gopher_long_doc'
       WHEN sumlen < 3*n THEN 'gopher_below_avg_threshold'
       WHEN sumlen > 10*n THEN 'gopher_above_avg_threshold'
       WHEN stops < 1 THEN 'gopher_enough_stop_words'
       ELSE '' END) = '' AS keep
FROM m ORDER BY doc_id""",
    "token_count" ->
      """SELECT doc_id,
  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
FROM documents ORDER BY doc_id""",
    "exact_dedup" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS dup_count
FROM documents GROUP BY text ORDER BY doc_id""",
    "url_dedup" ->
      """SELECT source || '/' || CAST(doc_id % 37 AS VARCHAR) AS url_key,
  min_by(doc_id, doc_id - (doc_id % 5) * 10000000) AS doc_id
FROM documents GROUP BY 1 ORDER BY url_key""",
    "pii_scrub" ->
      """SELECT doc_id,
  replace(replace(replace(replace(
    text || ' contact a' || doc_id || '@ex' || (doc_id % 7) || '.com or 57.120.21.' || (doc_id % 200)
         || ' also b' || doc_id || '@dom' || (doc_id % 5) || '.net and 93.184.216.' || (doc_id % 150) || ' now',
    'a' || doc_id || '@ex' || (doc_id % 7) || '.com', 'email@example.com'),
    'b' || doc_id || '@dom' || (doc_id % 5) || '.net', 'firstname.lastname@example.org'),
    '57.120.21.' || (doc_id % 200), '22.214.171.124'),
    '93.184.216.' || (doc_id % 150), '126.96.36.199') AS scrubbed
FROM documents ORDER BY doc_id""",
    "ann_topk" ->
      """WITH p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor,
    list_aggregate(list_apply(list_zip(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), x -> x[1]*x[2]), 'sum')
      / (sqrt(list_aggregate(list_apply(a.embedding::DOUBLE[], x -> x*x), 'sum'))
       * sqrt(list_aggregate(list_apply(b.embedding::DOUBLE[], x -> x*x), 'sum'))) AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
), r AS (
  SELECT vec_id, neighbor,
    row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor ASC) AS rnk
  FROM p
)
SELECT vec_id, neighbor FROM r WHERE rnk = 1 ORDER BY vec_id""",
    "doc_stats" ->
      """SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_words,
  CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
FROM documents ORDER BY doc_id""",
    "word_stats" ->
      """WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words FROM documents
)
SELECT doc_id,
  CAST(len(words) AS BIGINT) AS n_words,
  CAST(list_aggregate(list_transform(words, x -> length(x)), 'sum') AS BIGINT) AS sum_word_len,
  CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct
FROM w ORDER BY doc_id""",
    "stats_group_agg" ->
      """SELECT event_type, count(*) AS n,
  CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_floor_value,
  min(user_id) AS min_user, max(user_id) AS max_user
FROM events GROUP BY event_type ORDER BY event_type""",
    "stats_histogram" ->
      """SELECT CAST(floor(value * 10) AS BIGINT) AS bucket, count(*) AS n
FROM events GROUP BY 1 ORDER BY bucket""",
    "top_sources" ->
      """SELECT source, count(*) AS n FROM documents
GROUP BY source ORDER BY n DESC, source ASC LIMIT 10""",
    "decont" ->
      """WITH w AS (
  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS words FROM documents
), g AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(words)-11),
    i -> array_to_string(words[i:i+11], ' '))) AS gram
  FROM w WHERE len(words) >= 12
), bench AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0
), contaminated AS (
  SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram)
)
SELECT d.doc_id, (c.doc_id IS NULL) AS decont_keep
FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
ORDER BY d.doc_id""",
    "hard_sampler" ->
      """WITH t AS (
  SELECT doc_id, doc_id AS score,
    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS tokens
  FROM documents
), r AS (
  SELECT doc_id, tokens,
    sum(tokens) OVER (ORDER BY score DESC, tokens ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
  FROM t
)
SELECT doc_id FROM r WHERE running - tokens < 5000 ORDER BY doc_id""",
    "cdf_sampler" ->
      """WITH t AS (
  SELECT doc_id, doc_id AS score,
    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS tokens
  FROM documents
), r AS (
  SELECT doc_id, tokens,
    sum(tokens) OVER (ORDER BY score DESC, tokens ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running,
    (SELECT sum(tokens) FROM t) AS total
  FROM t
)
SELECT doc_id,
  CAST(floor(
    CASE WHEN running / CAST(total AS DOUBLE) <= 0.2 THEN 1.0
         ELSE 0.5 * (1.0 - running / CAST(total AS DOUBLE) + 0.2) END * 1000000) AS BIGINT) AS p_q
FROM r ORDER BY doc_id""",
    "symbol_lines" ->
      """WITH t AS (
  SELECT doc_id, CASE
    WHEN doc_id % 3 = 0 THEN text || chr(10) || '! ! ! !' || chr(10) || '- - -' || chr(10) || 'tail line ok'
    WHEN doc_id % 3 = 1 THEN '* * *' || chr(10) || text
    ELSE text END AS t2 FROM documents
)
SELECT doc_id,
  array_to_string(list_filter(string_split(t2, chr(10)), x -> regexp_matches(x, '[a-z0-9]')), chr(10)) AS formatted
FROM t ORDER BY doc_id""",
    "fineweb_quality" ->
      """WITH t AS (
  SELECT doc_id, CASE
    WHEN doc_id % 5 = 0 THEN text || '.'
    WHEN doc_id % 5 = 1 THEN text
    WHEN doc_id % 5 = 2 THEN text || '.' || chr(10) || 'tiny line one ok.' || chr(10) || 'tiny line two ok.' || chr(10) || 'tiny line six ok.' || chr(10) || 'tiny line ten ok.'
    WHEN doc_id % 5 = 3 THEN text || '.' || chr(10) || text || '.' || chr(10) || text || '.'
    ELSE array_to_string(list_transform(generate_series(1,8), i -> 'qq' || doc_id || 'zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz' || i || '.'), chr(10))
  END AS t2 FROM documents
), l AS (
  SELECT doc_id, t2, list_filter(string_split(t2, chr(10)), x -> trim(x) <> '') AS lines FROM t
), d AS (
  SELECT doc_id, sum((cnt - 1) * length(line)) AS dup_chars FROM (
    SELECT doc_id, line, count(*) AS cnt
    FROM (SELECT doc_id, unnest(lines) AS line FROM l) GROUP BY doc_id, line
  ) GROUP BY doc_id
), m AS (
  SELECT l.doc_id,
    len(lines) AS nl,
    len(list_filter(lines, x -> ends_with(x, '.'))) AS pl,
    len(list_filter(lines, x -> length(x) <= 30)) AS sl,
    COALESCE(d.dup_chars, 0) AS dc,
    length(replace(t2, chr(10), '')) AS denom,
    length(t2) - length(replace(t2, chr(10), '')) AS nn,
    len(list_filter(string_split_regex(t2, '[ \n]'), x -> x <> '')) + (length(t2) - length(replace(t2, '.', ''))) AS nw
  FROM l LEFT JOIN d ON l.doc_id = d.doc_id
)
SELECT doc_id, CASE
  WHEN pl * 100 < 12 * nl THEN 'line_punct_ratio'
  WHEN sl * 100 > 67 * nl THEN 'short_line_ratio'
  WHEN dc * 100 > denom THEN 'char_dup_ratio'
  WHEN nn * 10 > 3 * nw THEN 'list_ratio'
  ELSE '' END AS reason
FROM m ORDER BY doc_id""",
    "c4_quality" ->
      """SELECT doc_id,
  CASE CAST(doc_id % 6 AS INT)
    WHEN 3 THEN 'lorem_ipsum' WHEN 4 THEN 'curly_bracket'
    WHEN 5 THEN 'too_few_sentences' ELSE '' END AS c4_reason,
  CASE CAST(doc_id % 6 AS INT)
    WHEN 0 THEN 'The quiet harbor watched the morning boats today.' || chr(10) ||
      'Some sailors crossed the narrow bridge to the market.' || chr(10) ||
      'People enjoyed the festival music in the evening.' || chr(10) ||
      'The ancient castle stood above the peaceful village.' || chr(10) ||
      'A gentle rain washed the narrow stone road clean.'
    WHEN 1 THEN 'The study cited several sources  in the text.' || chr(10) ||
      'Another line kept the reference  for review.' || chr(10) ||
      'The authors described the method in careful detail.' || chr(10) ||
      'Results were reported with the full data tables.' || chr(10) ||
      'The conclusion matched the earlier findings closely.'
    WHEN 2 THEN 'The remaining lines carry the documents real content today.' || chr(10) ||
      'Every kept line needs a terminal mark and enough words.' || chr(10) ||
      'The final line closes the document with a clear point.' || chr(10) ||
      'One more sentence keeps the count over the minimum safely.' || chr(10) ||
      'And another sentence arrives to stay over five total.'
    ELSE '' END AS c4_text
FROM documents ORDER BY doc_id""",
    "multimodal_features" ->
      """SELECT doc_id,
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 1000 WHEN 1 THEN 0 ELSE 500 END AS f1_x1000,
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 0 WHEN 1 THEN 1000 ELSE 500 END AS f2_x1000
FROM documents ORDER BY doc_id""",
    "unigram_logprob" ->
      """SELECT doc_id, CASE CAST(doc_id % 3 AS INT)
  WHEN 0 THEN -2541540 WHEN 1 THEN -11401354 ELSE -2079442 END AS logprob_x1e6
FROM documents ORDER BY doc_id""",
    "url_filter" ->
      """SELECT doc_id, CASE CAST(doc_id % 7 AS INT)
  WHEN 1 THEN 'domain' WHEN 2 THEN 'subdomain' WHEN 3 THEN 'url'
  WHEN 4 THEN 'hard_blacklisted' WHEN 5 THEN 'soft_blacklisted'
  WHEN 6 THEN 'blacklisted_subword' ELSE '' END AS url_reason
FROM documents ORDER BY doc_id""",
    "badwords" ->
      """SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
  WHEN 1 THEN 'document_removed_with_badwords'
  WHEN 3 THEN 'document_removed_with_badwords'
  ELSE '' END AS badwords_reason
FROM documents ORDER BY doc_id""",
    "ftfy_fix" ->
      """SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN 'plain café text stays.'
  WHEN 1 THEN 'café'
  WHEN 2 THEN 'don’t stop'
  ELSE 'Fish & chips with é' END AS fixed
FROM documents ORDER BY doc_id""",
    "c4_paragraph" ->
      """SELECT doc_id, CASE CAST(doc_id % 3 AS INT)
  WHEN 0 THEN '' ELSE '< 3 paragraphs' END AS c4_para_reason
FROM documents ORDER BY doc_id""",
    "ngram_jaccard" ->
      """SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN 1000000 WHEN 1 THEN 714286 WHEN 2 THEN 0 ELSE 90909 END AS jaccard_x1e6
FROM documents ORDER BY doc_id""",
    "language_id_planted" ->
      """SELECT doc_id, CASE CAST(doc_id % 5 AS INT)
  WHEN 0 THEN 'en' WHEN 1 THEN 'fr' WHEN 2 THEN 'de'
  WHEN 3 THEN 'es' ELSE 'zh' END AS lang_pred
FROM documents ORDER BY doc_id""",
    "language_id_wide" ->
      """SELECT doc_id, CASE CAST(doc_id % 10 AS INT)
  WHEN 0 THEN 'en' WHEN 1 THEN 'fr' WHEN 2 THEN 'de' WHEN 3 THEN 'ru'
  WHEN 4 THEN 'zh' WHEN 5 THEN 'ja' WHEN 6 THEN 'ko' WHEN 7 THEN 'ar'
  WHEN 8 THEN 'el' ELSE 'th' END AS wide_lang,
  TRUE AS wide_keep
FROM documents ORDER BY doc_id""",
    "language_id" ->
      """SELECT count(*) AS n_raw, count(*) AS n_raw_scored,
  (SELECT count(*) FROM documents WHERE doc_id % 10 = 0) AS n_planted,
  TRUE AS recall_ok
FROM documents""",
    "gopher_repetition" ->
      """WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws, length(text) AS tlen FROM documents
), pos AS (
  SELECT doc_id, tlen, ws, unnest(range(1, len(ws) + 1)) AS p FROM w
), g AS (
  SELECT doc_id, tlen, ns.n, p, array_to_string(ws[p : p + ns.n - 1], ' ') AS gram
  FROM pos CROSS JOIN (VALUES (2),(3),(4)) AS ns(n)
  WHERE p + ns.n - 1 <= len(ws)
), cnt AS (
  SELECT doc_id, tlen, n, gram, count(*) AS c, min(p) AS fp
  FROM g GROUP BY doc_id, tlen, n, gram
), top AS (
  SELECT doc_id, tlen, n, length(gram) * c AS toplen
  FROM cnt QUALIFY row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, fp ASC) = 1
), fire AS (
  SELECT doc_id, bool_or(
    CASE n WHEN 2 THEN CAST(toplen AS DOUBLE)/tlen > 0.2
           WHEN 3 THEN CAST(toplen AS DOUBLE)/tlen > 0.18
           ELSE CAST(toplen AS DOUBLE)/tlen > 0.16 END) AS topfire
  FROM top GROUP BY doc_id
)
SELECT d.doc_id,
  CASE WHEN COALESCE(f.topfire, FALSE) THEN 'top_n_gram' ELSE '' END AS reason,
  NOT COALESCE(f.topfire, FALSE) AS keep
FROM documents d LEFT JOIN fire f USING (doc_id) ORDER BY doc_id""",
    "fingerprint" ->
      """SELECT doc_id, len(string_split(text, ' ')) >= 5 AS has_anchors,
  TRUE AS subset_ok
FROM documents ORDER BY doc_id""",
    "language_id_ft" ->
      """SELECT doc_id, CASE CAST(doc_id % 5 AS INT)
  WHEN 0 THEN 'en' WHEN 1 THEN 'fr' WHEN 2 THEN 'de'
  WHEN 3 THEN 'es' ELSE 'it' END AS ft_lang,
  TRUE AS ft_keep
FROM documents ORDER BY doc_id""",
    "language_id_ft_sub" ->
      """SELECT doc_id, CASE CAST(doc_id % 5 AS INT)
  WHEN 0 THEN 'en' WHEN 1 THEN 'fr' WHEN 2 THEN 'de'
  WHEN 3 THEN 'es' ELSE 'it' END AS ft_lang,
  TRUE AS ft_keep
FROM documents ORDER BY doc_id""",
    "lang_stats" ->
      """SELECT CASE CAST(doc_id % 5 AS INT)
  WHEN 0 THEN 'en' WHEN 1 THEN 'fr' WHEN 2 THEN 'de'
  WHEN 3 THEN 'es' ELSE 'it' END AS language,
  count(*) AS n_docs, count(*) AS n_above_065, TRUE AS score_uniform
FROM documents GROUP BY 1 ORDER BY 1""",
    "line_stats" ->
      """SELECT doc_id,
  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 4 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 2 END AS n_lines,
  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 6500000 WHEN 1 THEN 81000000 WHEN 2 THEN 8333333 ELSE 1000000 END AS avg_line_len_q,
  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 1000000 WHEN 1 THEN 0 WHEN 2 THEN 1000000 ELSE 1000000 END AS short_q,
  CASE CAST(doc_id % 4 AS INT) WHEN 1 THEN 1000000 ELSE 0 END AS long_q,
  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 500000 WHEN 2 THEN 333333 ELSE 0 END AS terminal_q,
  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 250000 WHEN 2 THEN 666667 WHEN 3 THEN 1000000 ELSE 0 END AS bullet_q
FROM documents ORDER BY doc_id""",
    "sentence_stats" ->
      """SELECT doc_id,
  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 3 WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 4 END AS n_sentences,
  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 10333333 WHEN 1 THEN 28000000 WHEN 2 THEN 13000000 ELSE 2750000 END AS avg_sentence_len_q
FROM documents ORDER BY doc_id""",
    "paragraph_stats" ->
      """SELECT doc_id,
  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 3 WHEN 1 THEN 1 WHEN 2 THEN 4 ELSE 2 END AS n_paragraphs,
  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 10666667 WHEN 1 THEN 21000000 WHEN 2 THEN 1000000 ELSE 6500000 END AS avg_para_len_q
FROM documents ORDER BY doc_id""",
    "contamination_stats" ->
      """SELECT doc_id,
  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 400000 WHEN 1 THEN 0 WHEN 2 THEN 666667 ELSE 1000000 END AS contamination_q
FROM documents ORDER BY doc_id""",
    "classifier_filter" ->
      """SELECT doc_id, CAST(doc_id % 4 AS INT) <> 1 AS cls_keep,
  CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN 'good line one' || chr(10) || 'good two'
    WHEN 1 THEN 'bad' || chr(10) || 'worse'
    WHEN 2 THEN 'good only'
    ELSE 'good start' || chr(10) || 'good end' END AS cls_text,
  CASE CAST(doc_id % 4 AS INT) WHEN 1 THEN 'classifier_all_spans' ELSE '' END AS cls_reason
FROM documents ORDER BY doc_id""",
    "regex_filter" ->
      """SELECT doc_id,
  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'regex' ELSE '' END AS regex_reason,
  CAST(doc_id % 4 AS INT) <> 0 AS regex_keep
FROM documents ORDER BY doc_id""",
    "sampler_filter" ->
      """SELECT doc_id, TRUE AS keep_rate1, FALSE AS keep_rate0
FROM documents ORDER BY doc_id""",
    "hard_sampler_frac" ->
      """WITH t AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS tokens,
    count(*) OVER () AS n
  FROM documents
), r AS (
  SELECT doc_id, tokens, n,
    row_number() OVER (ORDER BY doc_id DESC) AS rn_hi,
    row_number() OVER (ORDER BY doc_id ASC) AS rn_lo,
    sum(tokens) OVER (ORDER BY doc_id DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_hi,
    sum(tokens) OVER () AS tot
  FROM t
)
SELECT doc_id,
  rn_hi <= CAST(floor(CAST(0.25 AS DOUBLE) * n) AS BIGINT) AS keep_doc_frac,
  run_hi - tokens < CAST(floor(CAST(0.3 AS DOUBLE) * tot) AS BIGINT) AS keep_token_frac,
  rn_lo <= CAST(floor(CAST(0.1 AS DOUBLE) * n) AS BIGINT) AS keep_doc_low
FROM r ORDER BY doc_id""",
    "c4_quality_sent" ->
      """SELECT doc_id, CAST(doc_id % 5 AS INT) <> 2 AS c4s_keep,
  CASE CAST(doc_id % 5 AS INT)
    WHEN 0 THEN 'This is the first good sentence here. And here is another proper sentence.'
    WHEN 1 THEN 'One good sentence is right here. Another fine sentence is here too.'
    WHEN 2 THEN ''
    WHEN 3 THEN 'The result was shown in the paper. A second sentence confirms the claim.'
    ELSE 'This proper sentence has many words in it. Also this second one has enough words.' END AS c4s_text,
  CASE CAST(doc_id % 5 AS INT) WHEN 2 THEN 'too_few_sentences' ELSE '' END AS c4s_reason
FROM documents ORDER BY doc_id""",
    "minhash_dedup_index" ->
      """WITH g AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY doc_id % 100) AS rep FROM documents
)
SELECT doc_id, doc_id % 2 = 1 AS keep_index_only,
  doc_id % 2 = 1 AND doc_id = rep AS keep_with_corpus,
  rep AS minhash_cluster
FROM g ORDER BY doc_id""",
    "url_dedup_index" ->
      """WITH t AS (
  SELECT doc_id, doc_id % 37 AS k, doc_id % 5 AS p FROM documents
), b AS (
  SELECT k, doc_id AS rep FROM (
    SELECT k, doc_id,
      row_number() OVER (PARTITION BY k ORDER BY p DESC, doc_id ASC) AS rn
    FROM t
  ) WHERE rn = 1
)
SELECT t.doc_id, t.k >= 10 AS keep_index_only,
  t.k >= 10 AND t.doc_id = b.rep AS keep_with_corpus,
  b.rep AS url_dup_rep
FROM t JOIN b ON t.k = b.k ORDER BY t.doc_id""",
    "fingerprint_exact" ->
      """SELECT doc_id,
  CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN 4433019734833179279 WHEN 1 THEN 4031553380500556659
    WHEN 2 THEN 7654511520402593983 ELSE 8596831699732857209 END AS fp,
  CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 1 END AS sketch_len,
  CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN 988712812298200243 WHEN 1 THEN 1564310583219091353
    WHEN 2 THEN 3449924612560771347 ELSE 2025320243732726076 END AS sketch_first
FROM documents ORDER BY doc_id""",
    "warc_extract_wild" ->
      """SELECT * FROM (VALUES
  ('https://wild.example.org/news-sidebar', 4, 382, 'ee9d3770676c2287b3fc76b9d3134982'),
  ('https://wild.example.org/docs-toc', 9, 439, 'ccb1c4a062107c622c4ca6ffaf4c137b'),
  ('https://wild.example.org/forum-thread', 8, 354, '716952e240a595c1aa860dea75a72887'),
  ('https://wild.example.org/table-specs', 7, 212, 'df4174add1de193aa57ca39a8d5e9d00'),
  ('https://wild.example.org/rtl-news', 3, 190, 'c33e3688a6508d07afbc93cc8ee5caca'),
  ('https://wild.example.org/blog-share', 3, 281, 'e192379c4c6f6a1f33dd0e53c1588be0'),
  ('https://wild.example.org/product-page', 6, 287, 'ce106ef7c0b641abfbb22aaf4066fb4c'),
  ('https://wild.example.org/recipe', 11, 367, '806e6bb8ad47ce1bcd7310c64254ff97'),
  ('https://wild.example.org/wiki-article', 5, 280, 'ae66140008115b707d1b58cf3ae750f4'),
  ('https://wild.example.org/landing-page', 7, 178, '7f4deb131bc83e65b9c3b359ff6bb640'),
  ('https://wild.example.org/terms', 5, 211, 'bf3efd6520c74e30daf4b71190b417c1'),
  ('https://wild.example.org/faq-details', 5, 173, 'f9e84230b3f16dd92956d606db9b7e43'),
  ('https://wild.example.org/photo-gallery', 2, 67, 'a6d4847cc7ea38931830d7d147a94028'),
  ('https://wild.example.org/paywall-teaser', 2, 164, '2661d57edd7e8a6a5116d261dad1fba4'),
  ('https://wild.example.org/museum-popups', 3, 205, '7fd1655a0e3a79fe36a2e3c64cb457e2'),
  ('https://wild.example.org/abstract-page', 3, 193, 'a1dc205fd2366d420d120eb73815f93b'),
  ('https://wild.example.org/changelog', 6, 137, 'ee5c0f6d3c282c1daf2d5d14ee8327b8'),
  ('https://wild.example.org/sports-report', 6, 234, '899150c66686a37fc2c05f71dcc114dc'),
  ('https://wild.example.org/mixed-language', 3, 112, '50562af43b9cc0790fba60cc1531104d'),
  ('https://wild.example.org/inline-entities', 5, 253, '8af94de14f9ac0e6360f468673967de9'),
  ('https://wild.example.org/legacy-table-layout', 3, 181, 'db0bfb67eded9045bf197247316ef2a1'),
  ('https://wild.example.org/comments-heavy', 2, 110, 'b585407b8cea5eabd6402dcbaf6c5457'),
  ('https://wild.example.org/code-article', 4, 241, 'be4d4fb7750b3b91275f28c8b864bd65'),
  ('https://wild.example.org/hidden-drafts', 3, 109, '4bf76d5a77cee6d6196534ab1c67eb28'),
  ('https://wild.example.org/liveblog', 5, 303, '1d69e083b6f531f2e262d1d40b012380'),
  ('https://wild.example.org/job-posting', 8, 324, 'd8299872c67e190ed15012fdbb0f3e4a'),
  ('https://wild.example.org/qa-interview', 6, 306, '18a85f2fea017e98102fa33fa485d279'),
  ('https://wild.example.org/weather-report', 8, 224, 'a8247fe16757c4f9ac437aafd532a1a1'),
  ('https://wild.example.org/event-schedule', 7, 223, '0537dc1a796119bab4132db336d8e988'),
  ('https://wild.example.org/press-release', 3, 286, 'de23936ef4f59f9b2cdaf37331ad0c59'),
  ('https://wild.example.org/soft-404', 2, 75, '1325044c8e775e9d23db233937a9c70b'),
  ('https://wild.example.org/glossary', 7, 238, '673b7a8a9645fb03b4cb94649aa131eb'),
  ('https://wild.example.org/archive-letter', 5, 327, '483d973f4dc400a1ac67518670da9500'),
  ('https://wild.example.org/guide-chrome', 3, 214, '72230e87cc2fc9f87a752e5add7a51b8'),
  ('https://wild.example.org/xhtml-strict', 4, 214, '1a276c361d1982c07f616c469585c7f2'),
  ('https://wild.example.org/conditional-comments', 3, 113, '113db4552a968c0314bedadf540a5bcf'),
  ('https://wild.example.org/amp-custom-tags', 4, 214, '0895993afcdd3316d14d2d1274ddcf2b'),
  ('https://wild.example.org/noscript-pixel', 3, 126, 'c7e464aec8676f8285cbc6a2bfbae6fe'),
  ('https://wild.example.org/svg-figure', 3, 125, '339c5e47f52c320f847ddefce82a6fdc'),
  ('https://wild.example.org/frameset-legacy', 1, 56, 'f2cd8efa8de6fabeaebe101a6917fea0'),
  ('https://wild.example.org/legacy-font-center', 5, 201, 'b6b0b6a9587c8de549861094d24a8347'),
  ('https://wild.example.org/mailing-list-pre', 3, 232, 'ef1ed9dbfcf6c59501c5d37fcb4e2322'),
  ('https://wild.example.org/hebrew-rtl-bidi', 4, 205, 'a992b10b006d1bf7b801670e9c480350'),
  ('https://wild.example.org/ruby-furigana', 4, 105, '55c1022123486c502fb88f1247f289be'),
  ('https://wild.example.org/zh-portal', 3, 98, 'db08531a419fe11134dd60357094caa9'),
  ('https://wild.example.org/thai-unspaced', 3, 169, '00c0a38a37fa8f92224cefdaf1ecbe5a'),
  ('https://wild.example.org/arabic-numerals-table', 7, 197, '2ffb27de0d53e9345a4cd34e23182c97'),
  ('https://wild.example.org/ko-mixed-scripts', 4, 123, 'd52b938c53d878c2a99ab0b99095aac8'),
  ('https://wild.example.org/persian-zwnj-pre', 4, 191, 'ef270bd425cd5961dadfe35305998a8b'),
  ('https://wild.example.org/cp1252-bistro', 4, 260, '88551db87e60f0469db7140d03e9cdc0'),
  ('https://wild.example.org/latin2-notice', 5, 216, '237d8d0ba70b20b739cba1dbbcc0ff9d'),
  ('https://wild.example.org/shiftjis-guide', 3, 50, 'b1ab239a42f6fa2bf4594091bff053d8'),
  ('https://wild.example.org/gbk-bulletin', 3, 64, '022a1225f6cb6a1cb1b04985a4e8c2f1'),
  ('https://wild.example.org/koi8-memo', 3, 146, '09ab91a53fc6f91d52778c07a35d5bd4'),
  ('https://wild.example.org/utf16-press', 3, 180, '6f345ef757d410ddb0ad4c65fa9401f6'),
  ('https://wild.example.org/utf8bom-changelog', 4, 179, 'd2e392a083d1a8c9fe05988907fdaf58'),
  ('https://wild.example.org/newsletter-tables', 6, 364, '8523f3ba6e0d3bc915ab915102baf755'),
  ('https://wild.example.org/cookie-consent', 4, 343, '8a8debf7d0e085dfdd911e3478b32257'),
  ('https://wild.example.org/event-jsonld', 5, 248, 'ed66ce40577c2078a5511ac4d667dfd6'),
  ('https://wild.example.org/poetry-stanzas', 10, 390, '892edc3a77bda04a03ae49476c565911'),
  ('https://wild.example.org/lighthouse-transcript', 5, 462, '37bd05a6cdca71b084eaf51afddc7103'),
  ('https://wild.example.org/science-subsup', 6, 480, 'a4ec7874d40200253560414440a49889'),
  ('https://wild.example.org/licence-terms', 11, 395, 'eb91f579c173768a0b21264ce77ebea0'),
  ('https://wild.example.org/homepage-index', 4, 337, '5604ec52e44ae17a5adff1b3e75aad4d'),
  ('https://wild.example.org/box-score', 7, 250, 'ed63e4a01ba4526e6a40b6ed934b1c52'),
  ('https://wild.example.org/gov-form', 9, 417, '41946102a5ec5eef742eb21a54e8677a'),
  ('https://wild.example.org/dictionary-entry', 5, 242, '248307f0db58d6cac179e1a96343faa5'),
  ('https://wild.example.org/maintenance-notice', 3, 148, '58de518dfaebbc644567da397bc88368'),
  ('https://wild.example.org/review-pros-cons', 9, 404, '65ccfa1ca3bcc803c453f5bbceedb387'),
  ('https://wild.example.org/wiki-talk', 5, 283, 'd5a2a6e61a5052c9d928e5adcc1d8df7'),
  ('https://wild.example.org/spa-template-ghost', 3, 174, 'a17a49ed3db41e2dad94d421166d260e'),
  ('https://wild.example.org/tide-table-spans', 6, 180, '2a6bf33c77ae334febfc1e6b3a180de7'),
  ('https://wild.example.org/chamber-series', 6, 318, 'ff969810ff5e649871718d3e1ddac1fe'),
  ('https://wild.example.org/obituary', 4, 401, 'b26de5fe26728afcc5f6de7a3cc2e548'),
  ('https://wild.example.org/api-reference', 10, 266, '68f936d3080629e29783ebf79c257c25'),
  ('https://wild.example.org/faq-aria-hidden', 5, 206, '28d3b7c9a079faa7f0c39024d8474245'),
  ('https://wild.example.org/board-minutes', 9, 405, '72a034fe7580156ee79d34b55bdc52f3'),
  ('https://wild.example.org/sitemap-links', 1, 8, '4fbb483bb2abca4cefe1818eddb3c6b5'),
  ('https://wild.example.org/login-page', 0, 0, 'd41d8cd98f00b204e9800998ecf8427e'),
  ('https://wild.example.org/unsubscribe-confirm', 2, 116, '0966632cf2749c9dcd2168c5c0b56047'),
  ('https://wild.example.org/print-checklist', 4, 233, '4cd42e3729d9467f3fb0a08419650b5d')
) AS t(url, n_lines, n_chars, text_md5) ORDER BY url""",
    "warc_extract_conformance" ->
      """SELECT * FROM (VALUES
  ('https://conformance.example.org/unclosed-p', 2, 64, '3afc5883d4ed51f5afed5b141f1c32fb'),
  ('https://conformance.example.org/adoption-a-p', 5, 64, '4345b082a25a15cf4f353b8b2e72385e'),
  ('https://conformance.example.org/foster-table', 5, 66, 'af1656f8d731cdab1c913a285acffe78'),
  ('https://conformance.example.org/unclosed-li', 5, 77, '6e95d9ae69f3e3c86295139b84095ccc'),
  ('https://conformance.example.org/select-option', 3, 80, '725ba502fb4747cb231f2be2836f78a4'),
  ('https://conformance.example.org/formatting-misnest', 1, 53, '793f1beeadd3613c3b2c40075145d813'),
  ('https://conformance.example.org/script-rawtext', 2, 49, '059504562e205b68e484a267bf1a8265'),
  ('https://conformance.example.org/unclosed-comment', 1, 33, 'c40dcd630bccad7143e0148eba0bc4df'),
  ('https://conformance.example.org/bogus-comment-pi', 1, 50, '1db95b35185165b68aa6b5db31404b4f'),
  ('https://conformance.example.org/entities', 5, 188, '6164b968bead80567674d2a1b9558470'),
  ('https://conformance.example.org/math-inline', 1, 41, 'dca5394df291f8df8a76c2fd71658ea9'),
  ('https://conformance.example.org/svg-dropped', 2, 38, 'a3559c0587500d5982ad097dfb729f27'),
  ('https://conformance.example.org/end-tag-br', 1, 33, '4d83bc37308facc0e0e38bcd32a42a7f'),
  ('https://conformance.example.org/nested-heading', 3, 65, 'd1f4d5c5c87953873e9c2c4c6aefd6a5'),
  ('https://conformance.example.org/orphan-td', 3, 68, '89769acf1106cc5504cb134d8c609c12'),
  ('https://conformance.example.org/plaintext', 2, 68, '0a47c990c1e22fcfc80d2ef1bfe36631'),
  ('https://conformance.example.org/textarea-raw', 2, 73, '2a39005796fe4c7f9828e73b014f9e0d'),
  ('https://conformance.example.org/quoted-gt-attr', 2, 61, '86bb41e86c7c73de5f1458e4c636b4b5'),
  ('https://conformance.example.org/stray-lt', 1, 53, 'fdac3887c6e497fc07e29a37b7fb6d44'),
  ('https://conformance.example.org/eof-in-tag', 1, 45, '45b6b09fa2c5fc6061d49c10226789ba'),
  ('https://conformance.example.org/frameset-noframes', 1, 37, '2c66c92ad628ad6aba2e8ae4f2ba5f88'),
  ('https://conformance.example.org/obsolete-elements', 3, 82, 'c9eb8181dc3fb7481a49f9a970ae7229'),
  ('https://conformance.example.org/cdata-in-html', 1, 25, 'e92a062d2c6ed0bcd8362021da711853'),
  ('https://conformance.example.org/table-sections', 5, 82, 'de3e2d44e3c28322a85f68e8ba55fced'),
  ('https://conformance.example.org/template-inert', 2, 36, '4bd76d9b852258658d68398ddd4bec82'),
  ('https://conformance.example.org/i18n-bidi-rtl', 3, 81, 'e758d8a5f14c0851f8d5b7010b3a7b5e'),
  ('https://conformance.example.org/i18n-ruby', 2, 33, 'eebea861dee2b8214dcc504b06b5b576'),
  ('https://conformance.example.org/div-closes-p', 3, 57, '3537ec810b39c6268d2680d68c8ba344'),
  ('https://conformance.example.org/blockquote-closes-p', 3, 91, 'a0ea6485030a94c46c51305b1b0dcc91'),
  ('https://conformance.example.org/button-menu-chrome', 3, 87, '99fbf07dbb9a9445716d57298238321f'),
  ('https://conformance.example.org/iframe-markup', 2, 42, '3fe942f228d86dfeb0817771f9a192d3'),
  ('https://conformance.example.org/xmp-transparent', 3, 60, '319be8602fecc7055541b93b8189b4d6'),
  ('https://conformance.example.org/dt-dd-implied', 5, 84, '9249e62df53c8e0d5828d565d3688436'),
  ('https://conformance.example.org/entity-edges', 5, 172, '788a8f7fea7b0f207a2781c85c19c937'),
  ('https://conformance.example.org/tfoot-source-order', 4, 49, '02bdde7f2d894c3a109c6864b8cb4602'),
  ('https://conformance.example.org/nested-anchor', 1, 118, '5f89d70e4ae72705015d4f5946dc7225'),
  ('https://conformance.example.org/head-stray-text', 1, 33, '8779742c0e65a5646c7fbf65dad0905d'),
  ('https://conformance.example.org/duplicate-class-attr', 2, 44, '6de4a0a9a8fceabad392f43530211032'),
  ('https://conformance.example.org/math-annotation', 1, 26, '32e19aefe7fb4f0a52f1e07e835c33c7'),
  ('https://conformance.example.org/svg-foreignobject', 2, 27, '074b2509c3d12842a30cc8381c43a116'),
  ('https://conformance.example.org/self-closing-div', 3, 64, 'ba262850db09b3bb3ab0e778d6c6c160'),
  ('https://conformance.example.org/entity-nul-surrogate', 3, 116, '5241a7aeb904b7565e74a930b186e329')
) AS t(url, n_lines, n_chars, text_md5) ORDER BY url""",
    "warc_extract_general" ->
      """SELECT * FROM (VALUES
  ('https://adv.example.org/gen/00', 8, 384, 'de5aa23da491f3f89fe66054d0e6eaa9'),
  ('https://adv.example.org/gen/01', 5, 621, 'deb6ee99c648d2da81bb968d074e9442'),
  ('https://adv.example.org/gen/02', 8, 813, '9a0e262211cfd8cc094d650ff299dac3'),
  ('https://adv.example.org/gen/03', 8, 1535, '8382cd35545a33142afa577a2a222a7b'),
  ('https://adv.example.org/gen/04', 12, 700, 'f6ab83e161fa47bb12af82fa012c65c3'),
  ('https://adv.example.org/gen/05', 5, 887, 'd656be8245d4ac8fad6461331443adcc'),
  ('https://adv.example.org/gen/06', 15, 1158, '3aa0ebae97e137279f472c9f65870661'),
  ('https://adv.example.org/gen/07', 10, 1242, '61a7381767fc5515e295ce8e912a152d'),
  ('https://adv.example.org/gen/08', 9, 505, '604bd60bd6c088bdfc87544d751b6c18'),
  ('https://adv.example.org/gen/09', 15, 1176, '2871bed9a652b44307594f52fbcfe769'),
  ('https://adv.example.org/gen/10', 7, 767, '9c0665a9fbf9e97d312a8eac7a0268da'),
  ('https://adv.example.org/gen/11', 11, 946, '5664e879a493642a4ee7f4b742c4115c'),
  ('https://adv.example.org/gen/12', 9, 642, 'de35bff94988ac885ed40bf3bd0b40cb'),
  ('https://adv.example.org/gen/13', 8, 1756, 'a8edab11276614e9b1d6ca7f119e2365'),
  ('https://adv.example.org/gen/14', 14, 1127, 'ff07a9636ad36e0e55c17386efb2ee38'),
  ('https://adv.example.org/gen/15', 11, 1098, '5a28c3a14a720f34beb15138d4c8bbf2'),
  ('https://adv.example.org/gen/16', 7, 422, 'ce09427b1c0973e4456728d5e4c7ca85'),
  ('https://adv.example.org/gen/17', 14, 1449, 'e9b1da17103ee7fb7ff81e40c799d17c'),
  ('https://adv.example.org/gen/18', 9, 1480, '8c8fbf86c42fe040c22293589b2cbecc'),
  ('https://adv.example.org/gen/19', 12, 1110, 'be92e50c959cee93fc4b3f7a9990d450'),
  ('https://adv.example.org/gen/20', 11, 1524, '5547db1f37b9dff3ce09b54cb3e9970e'),
  ('https://adv.example.org/gen/21', 5, 1007, '6b83d2b9b6d587ed06eb3f82c54a3654'),
  ('https://adv.example.org/gen/22', 19, 1378, '5000745d8b6cc8a190e8e57fb2d497cf'),
  ('https://adv.example.org/gen/23', 7, 1466, 'dba07d263f1ea7fb1ec935a69a22776b'),
  ('https://adv.example.org/gen/24', 6, 1441, '87deaa89a3aad9101bbef1f0a8b1c368'),
  ('https://adv.example.org/gen/25', 10, 881, '5fbca5905e419372ba112b974e52b183'),
  ('https://adv.example.org/gen/26', 11, 1024, '5456777cccc5c7aa6c49aa6ade691251'),
  ('https://adv.example.org/gen/27', 11, 1157, '40ced4573c6b04326ddc771211869032'),
  ('https://adv.example.org/gen/28', 14, 1090, '88187e0f4aff39a7e6728346dbe6fdde'),
  ('https://adv.example.org/gen/29', 10, 902, '52c0d45a5bf2245019cd9527dbc7c010'),
  ('https://adv.example.org/gen/30', 10, 1455, 'f0f63f16994a36173c5e77b6ae4fffe4'),
  ('https://adv.example.org/gen/31', 8, 1250, 'bc72bbb2ffd8f25e3e8f1288645bb53e'),
  ('https://adv.example.org/gen/32', 9, 1118, '8448c980bd302f2fe9c48704fd0bcfa5'),
  ('https://adv.example.org/gen/33', 7, 573, '1943a8b3c76ecc4c613c2d9500b2e35c'),
  ('https://adv.example.org/gen/34', 11, 1079, '75da3bcf9cc4fd6d929addb0e187482f'),
  ('https://adv.example.org/gen/35', 8, 1050, '1d64ddabe0fba65c0dfd12af95e6a8c9'),
  ('https://adv.example.org/gen/36', 5, 875, '553d30a5470635c39aa4bf7936a285b6'),
  ('https://adv.example.org/gen/37', 4, 651, 'c581eb8e078c4fe7e21d909d7e746496'),
  ('https://adv.example.org/gen/38', 15, 1081, '9d773f109adf7089da249cb9a7740cbb'),
  ('https://adv.example.org/gen/39', 8, 733, '56e68a3bbce051d6e9ee0f97997e5719'),
  ('https://adv.example.org/gen/40', 17, 1041, '16bdc5d1d46ca73f14ba7983de6c1dc4'),
  ('https://adv.example.org/gen/41', 11, 764, '4327c5d549904ba01c6746146c9c71fe'),
  ('https://adv.example.org/gen/42', 16, 870, '6a93205f384824adf11b2af7b38aee7a'),
  ('https://adv.example.org/gen/43', 7, 838, 'c2d0b5c03d1996c56b227a68cbd5f8c7'),
  ('https://adv.example.org/gen/44', 11, 1153, '5570e3d45919837f25ee6fe130695f77'),
  ('https://adv.example.org/gen/45', 4, 441, '57139c00bde3bf2976e0007a2c576a9e'),
  ('https://adv.example.org/gen/46', 18, 1291, 'c089e938b9907f04cb32748118ec8b15'),
  ('https://adv.example.org/gen/47', 8, 339, 'e8838160ec0d698b61997b0546f9a803'),
  ('https://adv.example.org/gen/48', 8, 698, '65ab60789254445b52925edf097a6f59'),
  ('https://adv.example.org/gen/49', 6, 1178, '136a57ce0c06ad1e82f76d4bf31e0941'),
  ('https://adv.example.org/hand-empty', 0, 0, 'd41d8cd98f00b204e9800998ecf8427e'),
  ('https://adv.example.org/hand-rawtext', 2, 55, '9070da287ccaefdedd2ce93ff1167c21'),
  ('https://adv.example.org/hand-entities', 1, 44, '0c684838439fb1bfd36dd179e3549434'),
  ('https://adv.example.org/hand-attrs', 1, 41, 'fdf6d0a8f5d152a3eb9c164cffdb3730'),
  ('https://adv.example.org/hand-implied', 6, 94, '21deb5e3f89eb37be17be054e5898514'),
  ('https://adv.example.org/hand-dedup', 5, 244, '2250664c9f7fbcf5baaf115c1e62cfb0'),
  ('https://adv.example.org/hand-density', 1, 49, '3e5fd75b0dc948208e9adf479f34d66e'),
  ('https://adv.example.org/hand-candidate', 1, 136, '86c394eca983064a59cd332feae90cbe'),
  ('https://adv.example.org/hand-hidden', 1, 45, '9ce9e1af27494b82b2cee9a586f73ea2'),
  ('https://adv.example.org/hand-spelling', 3, 41, '583352204b9b09b12f16d6806e96bee9'),
  ('https://adv.example.org/hand-traps', 2, 92, 'b05674144be6ed3f7f55a90b0eed0bf8')
) AS t(url, n_lines, n_chars, text_md5) ORDER BY url""",
    "warc_extract_filter" ->
      """SELECT * FROM (VALUES
  ('https://mini.example.org/boilerplate', 0, 'not_extracted', 'not_extracted'),
  ('https://mini.example.org/clean', 68, '', ''),
  ('https://mini.example.org/dup', 65, '', 'dup_line_frac'),
  ('https://mini.example.org/hashes', 70, 'gopher_too_many_hashes', ''),
  ('https://mini.example.org/short', 5, 'gopher_short_doc', 'top_n_gram'),
  ('https://mini.example.org/table', 54, '', ''),
  ('https://mini.example.org/pre-dl', 63, '', ''),
  ('https://mini.example.org/inline', 52, '', ''),
  ('https://mini.example.org/sections', 67, '', '')
) AS t(url, n_words, reason_quality, reason_repetition) ORDER BY url""",
    "token_count_bpe" ->
      """SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN 6 WHEN 1 THEN 7 WHEN 2 THEN 8 ELSE 6 END AS n_bpe_tokens
FROM documents ORDER BY doc_id""",
    // threshold oracle (r6): DuckDB pins the corpus/planted counts; the
    // structural guarantees (bounds hold for every doc, every identical
    // planted twin re-encodes to its source's exact count) are
    // engine-computed booleans the oracle requires to be TRUE
    "token_count_bpe_trained" ->
      """SELECT count(*) AS n_raw, TRUE AS all_in_bounds,
  (SELECT count(*) FROM documents WHERE doc_id % 10 = 0) AS n_planted,
  TRUE AS twins_count_equal
FROM documents""",
    "perplexity" ->
      """SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN 44 WHEN 1 THEN 47 WHEN 2 THEN 141 ELSE 110 END AS ppl_x10
FROM documents ORDER BY doc_id""",
    "perplexity_binary" ->
      """SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN 44 WHEN 1 THEN 47 WHEN 2 THEN 141 ELSE 110 END AS ppl_x10
FROM documents ORDER BY doc_id""",
    "gopher_repetition_ngrams" ->
      """SELECT doc_id, CASE CAST(doc_id % 7 AS INT)
  WHEN 1 THEN 'top_n_gram'
  WHEN 2 THEN 'top_n_gram'
  WHEN 3 THEN 'duplicated_n_grams'
  WHEN 4 THEN 'duplicated_n_grams'
  ELSE '' END AS reason
FROM documents ORDER BY doc_id""",
    "gopher_repetition_lines" ->
      """WITH t AS (
  SELECT doc_id, CASE
    WHEN doc_id % 5 = 0 THEN text
    WHEN doc_id % 5 = 1 THEN 'para one body.' || chr(10) || chr(10) || 'para one body.' || chr(10) || chr(10) || text
    WHEN doc_id % 5 = 2 THEN text || chr(10) || chr(10) || 'xx.' || chr(10) || chr(10) || 'yy.' || chr(10) || chr(10) || text
    WHEN doc_id % 5 = 3 THEN text || chr(10) || 'dup line body' || chr(10) || 'dup line body' || chr(10) || 'dup line body'
    ELSE text || chr(10) || 'aa.' || chr(10) || 'bb.' || chr(10) || text
  END AS t2 FROM documents
), p AS (
  SELECT doc_id, t2,
    string_split_regex(t2, '\n{2,}') AS paras,
    string_split_regex(t2, '\n+') AS lns
  FROM t
), pd AS (
  SELECT doc_id, sum(cnt - 1) AS de, sum((cnt - 1) * length(e)) AS dch FROM (
    SELECT doc_id, e, count(*) AS cnt
    FROM (SELECT doc_id, unnest(paras) AS e FROM p) GROUP BY doc_id, e
  ) GROUP BY doc_id
), ld AS (
  SELECT doc_id, sum(cnt - 1) AS de, sum((cnt - 1) * length(e)) AS dch FROM (
    SELECT doc_id, e, count(*) AS cnt
    FROM (SELECT doc_id, unnest(lns) AS e FROM p) GROUP BY doc_id, e
  ) GROUP BY doc_id
), m AS (
  SELECT p.doc_id, length(t2) AS tl, len(paras) AS np, len(lns) AS nlns,
    COALESCE(pd.de, 0) AS pde, COALESCE(pd.dch, 0) AS pdc,
    COALESCE(ld.de, 0) AS lde, COALESCE(ld.dch, 0) AS ldc
  FROM p LEFT JOIN pd ON p.doc_id = pd.doc_id LEFT JOIN ld ON p.doc_id = ld.doc_id
)
SELECT doc_id, CASE
  WHEN pde * 10 > 3 * np THEN 'dup_para_frac'
  WHEN pdc * 5 > tl THEN 'dup_para_char_frac'
  WHEN lde * 10 > 3 * nlns THEN 'dup_line_frac'
  WHEN ldc * 5 > tl THEN 'dup_line_char_frac'
  ELSE '' END AS reason
FROM m ORDER BY doc_id""",
    // threshold oracles (r6, planted-twin pattern): identical twin ⇒
    // identical signature/fingerprint ⇒ same cluster, and the min-id
    // survivor rule can never pick the twin (ids offset past every raw
    // id) — DuckDB pins the counts, the engine-computed booleans must be
    // TRUE
    "minhash_dedup" ->
      """SELECT count(*) AS n_raw,
  (SELECT count(*) FROM documents WHERE doc_id % 10 = 0) AS n_planted,
  TRUE AS twins_all_dropped, TRUE AS twins_same_cluster
FROM documents""",
    "minhash_dedup_dist" ->
      """SELECT count(*) AS n_raw,
  (SELECT count(*) FROM documents WHERE doc_id % 10 = 0) AS n_planted,
  TRUE AS twins_all_dropped, TRUE AS twins_same_cluster
FROM documents""",
    "simhash_dedup" ->
      """SELECT count(*) AS n_raw,
  (SELECT count(*) FROM documents WHERE doc_id % 10 = 0) AS n_planted,
  TRUE AS twins_all_dropped, TRUE AS twins_same_cluster
FROM documents""",
    "bloom_dedup" ->
      """SELECT count(*) AS n_raw,
  (SELECT count(*) FROM documents WHERE doc_id % 10 = 0) AS n_planted,
  TRUE AS twins_all_dropped
FROM documents""",
    // threshold oracle (r6): the stitched 3-line corpus is one self-join
    // in DuckDB; originals are first occurrences (kept, untouched) and
    // every planted full twin loses its only window (removed ≥ 1 line,
    // rewritten empty ⇒ dropped)
    "sentence_dedup" ->
      """SELECT
  (SELECT count(*) FROM documents a
     JOIN documents b ON b.doc_id = a.doc_id + 1
     JOIN documents c ON c.doc_id = a.doc_id + 2) AS n_stitched,
  TRUE AS originals_all_kept_untouched,
  (SELECT count(*) FROM documents a
     JOIN documents b ON b.doc_id = a.doc_id + 1
     JOIN documents c ON c.doc_id = a.doc_id + 2
     WHERE a.doc_id % 10 = 0) AS n_planted,
  TRUE AS twins_all_deduped""",
    "minhash_dedup_exact" ->
      """WITH a AS (
  SELECT doc_id, translate(md5(CAST(doc_id % 100 AS VARCHAR)), '0123456789', 'ghijklmnop') AS hx
  FROM documents
), g AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY hx) AS rep FROM a)
SELECT doc_id, rep AS minhash_cluster, doc_id = rep AS minhash_keep
FROM g ORDER BY doc_id""",
    "simhash_dedup_exact" ->
      """WITH a AS (
  SELECT doc_id, translate(md5(CAST(doc_id % 100 AS VARCHAR)), '0123456789', 'ghijklmnop') AS hx
  FROM documents
), g AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY hx) AS rep FROM a)
SELECT doc_id, rep AS simhash_cluster, doc_id = rep AS simhash_keep
FROM g ORDER BY doc_id""",
    "csv_roundtrip" ->
      """SELECT doc_id, text, source, TRUE AS id_matches_doc
FROM documents ORDER BY doc_id""",
    "ipc_roundtrip" ->
      """SELECT doc_id, text, source FROM documents ORDER BY doc_id""",
    "sentence_dedup_index" ->
      """SELECT doc_id, doc_id % 2 = 1 AS sentence_dedup_keep,
  CASE WHEN doc_id % 2 = 1 THEN 0 ELSE 3 END AS removed_sentences
FROM documents ORDER BY doc_id""",
    "doc_tokenizer_roundtrip" -> TokenCountPlusEosSql,
    "token_merge_roundtrip" -> TokenCountPlusEosSql,
    "megatron_artifacts" -> TokenCountPlusEosSql,
    "checkpoint_resume" ->
      """SELECT doc_id, TRUE AS resumed
FROM documents WHERE doc_id % 6 = 0 ORDER BY doc_id""",
    "streaming_dedup" ->
      """SELECT doc_id FROM documents WHERE doc_id < 100 ORDER BY doc_id""",
    "streaming_metrics" ->
      """SELECT (doc_id % 3) * 60 AS win_start_s,
  CASE WHEN doc_id % 2 = 0 THEN '(kept)' ELSE 'language' END AS reason,
  count(*) AS n
FROM documents WHERE doc_id < 1000 GROUP BY 1, 2 ORDER BY 1, 2""",
    "sentence_dedup_exact" ->
      """WITH a AS (
  SELECT doc_id, translate(md5(CAST(doc_id % 100 AS VARCHAR)), '0123456789', 'ghijklmnop') AS hx
  FROM documents
), g AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY hx) AS rep FROM a)
SELECT doc_id, doc_id = rep AS sentence_dedup_keep,
  CASE WHEN doc_id = rep THEN 0 ELSE 3 END AS removed_sentences
FROM g ORDER BY doc_id""",
    "sentence_dedup_sent" ->
      """WITH a AS (
  SELECT doc_id, translate(md5(CAST(doc_id % 100 AS VARCHAR)), '0123456789', 'ghijklmnop') AS hx
  FROM documents
), g AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY hx) AS rep FROM a)
SELECT doc_id, doc_id = rep AS sentence_dedup_keep,
  CASE WHEN doc_id = rep THEN 0 ELSE 3 END AS removed_sentences
FROM g ORDER BY doc_id""",
    "bloom_dedup_exact" ->
      """WITH a AS (
  SELECT doc_id, translate(md5(CAST(doc_id % 100 AS VARCHAR)), '0123456789', 'ghijklmnop') AS hx
  FROM documents
), g AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY hx) AS rep FROM a)
SELECT doc_id, doc_id = rep AS bloom_keep
FROM g ORDER BY doc_id""",
    "exact_substr_short" ->
      """WITH a AS (
  SELECT doc_id, translate(md5(CAST(doc_id % 100 AS VARCHAR) || 'y0'), '0123456789', 'ghijklmnop') AS hx
  FROM documents
), g AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY hx) AS rep FROM a)
SELECT doc_id, doc_id = rep AS keep_short,
  CASE WHEN doc_id = rep THEN 0 ELSE 24 END AS removed_short,
  TRUE AS keep_plain, 0 AS removed_plain
FROM g ORDER BY doc_id""",
    "exact_substr" ->
      """WITH a AS (
  SELECT doc_id, translate(md5(CAST(doc_id % 100 AS VARCHAR) || 'x0'), '0123456789', 'ghijklmnop') AS hx
  FROM documents
), g AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY hx) AS rep FROM a)
SELECT doc_id, doc_id = rep AS exact_substr_keep,
  CASE WHEN doc_id = rep THEN 0 ELSE 56 END AS n_removed_words
FROM g ORDER BY doc_id""",
    "exact_substr_anchored" ->
      """WITH g AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY doc_id % 100) AS rep
  FROM documents
)
SELECT doc_id, TRUE AS keep_long,
  (doc_id = rep) AS untouched_long,
  (doc_id <> rep) AS caught_long,
  CAST(0 AS BIGINT) AS band_partial_cuts,
  CAST(0 AS BIGINT) AS band_dropped
FROM g ORDER BY doc_id""",
    "ann_ivf_topk_exact" ->
      """WITH g AS (
  SELECT doc_id, least(doc_id // 5,
    (SELECT (count(*) - 2) // 5 FROM documents)) AS grp FROM documents
), m AS (
  SELECT grp, min(doc_id) AS m1 FROM g GROUP BY grp
), m2 AS (
  SELECT g.grp, min(g.doc_id) AS second_min
  FROM g JOIN m ON g.grp = m.grp WHERE g.doc_id <> m.m1 GROUP BY g.grp
)
SELECT g.doc_id,
  CASE WHEN g.doc_id = m.m1 THEN m2.second_min ELSE m.m1 END AS neighbor
FROM g JOIN m ON g.grp = m.grp JOIN m2 ON g.grp = m2.grp
ORDER BY g.doc_id""",
    "ann_lsh_topk" ->
      """SELECT count(*) AS n_planted, true AS recall_ge_90
FROM embeddings WHERE vec_id % 10 = 0""",
    "ann_lsh_topk_exact" ->
      """WITH g AS (
  SELECT doc_id, least(doc_id // 5,
    (SELECT (count(*) - 2) // 5 FROM documents)) AS grp FROM documents
), m AS (
  SELECT grp, min(doc_id) AS m1 FROM g GROUP BY grp
), m2 AS (
  SELECT g.grp, min(g.doc_id) AS second_min
  FROM g JOIN m ON g.grp = m.grp WHERE g.doc_id <> m.m1 GROUP BY g.grp
)
SELECT g.doc_id,
  CASE WHEN g.doc_id = m.m1 THEN m2.second_min ELSE m.m1 END AS neighbor
FROM g JOIN m ON g.grp = m.grp JOIN m2 ON g.grp = m2.grp
ORDER BY g.doc_id""",
    "cosine_near_dup" ->
      """WITH g AS (
  SELECT doc_id, least(doc_id // 5,
    (SELECT (count(*) - 2) // 5 FROM documents)) AS grp FROM documents
)
SELECT doc_id,
  min(doc_id) OVER (PARTITION BY grp) AS cosine_cluster,
  doc_id = min(doc_id) OVER (PARTITION BY grp) AS cosine_keep
FROM g ORDER BY doc_id""",
    "lexical_diversity" ->
      """WITH t AS (
  SELECT doc_id, text || ' quickly running jumped joyful tables of it and' ||
    CASE WHEN doc_id % 3 = 0 THEN ' walking slowly' ELSE '' END AS t2
  FROM documents
), w AS (
  SELECT doc_id, unnest(list_filter(string_split(t2, ' '),
    x -> x <> '' AND regexp_matches(x, '[A-Za-z]'))) AS word0 FROM t
), g AS (
  SELECT doc_id, word0 AS word, lower(word0) AS wl FROM w
), tg AS (
  SELECT doc_id, word,
    CASE WHEN wl IN ('the','a','an','this','that','these','those') THEN 'DT'
         WHEN wl IN ('i','you','he','she','it','we','they','me','him','her','us','them') THEN 'PRP'
         WHEN wl IN ('of','in','to','on','at','by','for','with','from','as','into','over','under') THEN 'IN'
         WHEN wl IN ('and','or','but') THEN 'CC'
         WHEN wl IN ('can','could','will','would','may','might','must','shall','should') THEN 'MD'
         WHEN wl IN ('is','are','was','were','be','been','am') THEN 'VB'
         WHEN ends_with(wl, 'ly') THEN 'RB'
         WHEN ends_with(wl, 'ing') THEN 'VBG'
         WHEN ends_with(wl, 'ed') THEN 'VBD'
         WHEN ends_with(wl, 'ous') OR ends_with(wl, 'ful') OR ends_with(wl, 'ive') OR ends_with(wl, 'able') THEN 'JJ'
         WHEN ends_with(wl, 's') AND NOT ends_with(wl, 'ss') AND length(wl) > 3 THEN 'NNS'
         ELSE 'NN' END AS tag
  FROM g
)
SELECT doc_id,
  CAST(count(*) FILTER (WHERE tag IN ('NN','NNS','NNP','NNPS','VB','VBD','VBG','VBN','VBP','VBZ','JJ','JJR','JJS','RB','RBR','RBS')) AS BIGINT) AS n_content,
  CAST(count(DISTINCT word) FILTER (WHERE tag IN ('NN','NNS','NNP','NNPS','VB','VBD','VBG','VBN','VBP','VBZ','JJ','JJR','JJS','RB','RBR','RBS')) AS BIGINT) AS n_distinct_content,
  CAST(count(DISTINCT tag) AS BIGINT) AS n_distinct_tags
FROM tg GROUP BY doc_id ORDER BY doc_id""",
    "gc_normalize" ->
      """WITH w AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_words,
    CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_distinct,
    CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
), mm AS (
  SELECT min(n_words) AS w0, max(n_words) AS w1,
         min(n_distinct) AS d0, max(n_distinct) AS d1,
         min(n_chars) AS c0, max(n_chars) AS c1
  FROM w
)
SELECT doc_id,
  CAST(floor(CASE WHEN w1 = w0 THEN 0.0 ELSE (n_words - w0) / CAST(w1 - w0 AS DOUBLE) END * 1000000) AS BIGINT) AS q_words,
  CAST(floor(CASE WHEN d1 = d0 THEN 0.0 ELSE (n_distinct - d0) / CAST(d1 - d0 AS DOUBLE) END * 1000000) AS BIGINT) AS q_distinct,
  CAST(floor(CASE WHEN c1 = c0 THEN 0.0 ELSE (n_chars - c0) / CAST(c1 - c0 AS DOUBLE) END * 1000000) AS BIGINT) AS q_chars
FROM w, mm ORDER BY doc_id""",
    "syntactic_complexity" ->
      """SELECT doc_id,
  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 2000000 WHEN 1 THEN 1584963
    WHEN 2 THEN 1950212 ELSE 0 END AS q_dep_ent,
  CASE CAST(doc_id % 4 AS INT) WHEN 3 THEN 0 ELSE 2000000 END AS q_dep_height,
  CASE CAST(doc_id % 4 AS INT) WHEN 3 THEN 0 ELSE 1000000 END AS q_dep_dis,
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 811278 WHEN 1 THEN 1459148
    ELSE 918296 END AS q_tree_ent,
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 1000000 WHEN 1 THEN 1500000
    ELSE 500000 END AS q_tree_height,
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 2000000 WHEN 1 THEN 1250000
    ELSE 1000000 END AS q_tree_dis
FROM documents ORDER BY doc_id""",
    "inference_runner" ->
      """WITH p AS (
  SELECT doc_id,
    'summarize doc ' || doc_id || ' words ' || n_chars AS prompt
  FROM documents
)
SELECT doc_id,
  'echo:' || substr(prompt, 1, 64) || ':' || length(prompt) AS inference_output,
  '' AS inference_error
FROM p ORDER BY doc_id""",
    "hf_dataset_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars,
  CAST(doc_id % 7 AS INT) AS bucket
FROM documents ORDER BY doc_id""",
    "top2gram" ->
      """WITH w AS (
  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS words FROM documents
), g AS (
  SELECT doc_id, i AS pos, array_to_string(words[i:i+1], ' ') AS gram
  FROM w, unnest(generate_series(1, len(words)-1)) AS t(i)
  WHERE len(words) >= 2
), c AS (
  SELECT doc_id, gram, count(*) AS cnt, min(pos) AS first_pos, length(gram) AS glen
  FROM g GROUP BY doc_id, gram
), r AS (
  SELECT doc_id, CAST(glen * cnt AS BIGINT) AS top_product,
    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, first_pos ASC) AS rnk
  FROM c
)
SELECT doc_id, top_product FROM r WHERE rnk = 1 ORDER BY doc_id"""
  )
}
