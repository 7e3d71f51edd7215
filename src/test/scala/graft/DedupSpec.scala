package graft

import org.apache.spark.sql.functions.col
import graft.operators._
import graft.text.{TextKernels, Tokenizer}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val loremBase =
    """Lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor
incididunt ut labore et dolore magna aliqua Ut enim ad minim veniam quis
nostrud exercitation ullamco laboris nisi ut aliquip ex ea commodo consequat
Duis aute irure dolor in reprehenderit in voluptate velit esse cillum dolore
eu fugiat nulla pariatur Excepteur sint occaecat cupidatat non proident sunt
in culpa qui officia deserunt mollit anim id est laborum""".replace("\n", " ")

  private def perturb(text: String, frac: Double, seed: Int): String = {
    val rng = new scala.util.Random(seed)
    val words = text.split(" ")
    words.map(w => if (rng.nextDouble() < frac) s"sub${rng.nextInt(1000)}" else w).mkString(" ")
  }

  private def trueJaccard(a: String, b: String, n: Int): Double = {
    def shingles(t: String) =
      TextKernels.getNGrams(Tokenizer.words(TextKernels.simplifyText(t)), n).toSet
    val (sa, sb) = (shingles(a), shingles(b))
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("minhash: estimated similarity within 0.21 of true Jaccard (test_minhash.py:60-75)") {
    val cfg = MinhashDedupConfig()
    val (pa, pb) = MinhashDedup.parameters(cfg)
    val base = MinhashDedup.minhashes(loremBase, cfg, pa, pb).get
    for (pct <- Seq(0.05, 0.1, 0.2, 0.3, 0.5)) {
      val other = perturb(loremBase, pct, seed = 7)
      val om = MinhashDedup.minhashes(other, cfg, pa, pb).get
      val est = base.zip(om).count { case (x, y) => x == y }.toDouble / base.length
      val truth = trueJaccard(loremBase, other, cfg.nGrams)
      assert(math.abs(est - truth) < 0.21, s"pct=$pct est=$est true=$truth")
    }
  }

  test("minhash signatures: fast kernel folds equal the naive minhashes twin") {
    import spark.implicits._
    // the production sigUdf (incremental sha1 + Mersenne shift-add mod)
    // must be bit-identical to folding the naive remainderUnsigned
    // minhashes() vector — over random texts in both hash configs
    val rng = new scala.util.Random(42)
    def randText(): String =
      (0 until 30 + rng.nextInt(200)).map { _ =>
        (0 until 1 + rng.nextInt(8)).map(_ => ('a' + rng.nextInt(26)).toChar).mkString +
          (if (rng.nextInt(10) == 0) "é中" else "")
      }.mkString(" ")
    val texts = (0 until 25).map(i => (i.toLong, randText()))
    for (hashFc <- Seq("sha1", "xxhash")) {
      val cfg = MinhashDedupConfig(hashFunc = hashFc)
      val (pa, pb) = MinhashDedup.parameters(cfg)
      val expected = texts.flatMap { case (id, t) =>
        MinhashDedup.minhashes(t, cfg, pa, pb).toSeq.flatMap { mins =>
          (0 until cfg.numBuckets).map { bi =>
            var f1 = 0L; var f2 = 0L
            var k = bi * cfg.hashesPerBucket
            while (k < (bi + 1) * cfg.hashesPerBucket) {
              f1 = f1 * 0x100000001b3L + mins(k)
              f2 = f2 * 0x9E3779B97F4A7C15L + mins(k)
              k += 1
            }
            (id, bi, f1, f2)
          }
        }
      }.toSet
      val got = MinhashDedup.signatures(texts.toDF("doc_id", "text"), "doc_id", "text", cfg)
        .select("doc", "bucket", "sig._1", "sig._2")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == expected, s"fast/naive divergence for hashFunc=$hashFc")
    }
  }

  test("minhash dedup: exact + near duplicates cluster, one survivor each") {
    val near = perturb(loremBase, 0.03, seed = 3) // ~97% same words
    val distinct1 = perturb(loremBase, 0.9, seed = 11)
    val df = Seq(
      (1L, loremBase), (2L, loremBase), (3L, near),
      (4L, distinct1),
      (5L, "completely different short text about gardens and rivers flowing through ancient villages near the morning market")
    ).toDF("doc_id", "text")
    val out = MinhashDedup.dedup(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("minhash_cluster"), r.getAs[Boolean]("minhash_keep")))
      .toMap
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((1L, false)))
    assert(out(3L) == ((1L, false)))
    assert(out(4L)._2 && out(5L)._2)
  }

  test("connected components: chains across buckets merge transitively") {
    val edges = Seq((5L, 7L), (7L, 3L), (9L, 9L), (10L, 12L)).toDF("doc", "rep")
    val comps = MinhashDedup.components(edges.where($"doc" =!= $"rep")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(5L) == 3L && comps(7L) == 3L && comps(3L) == 3L)
    assert(comps(10L) == 10L && comps(12L) == 10L)
  }

  test("distributed label propagation assigns the same clusters as the driver union-find") {
    // VERDICT r6 next-round #4: the ≤5M-edge driver UF had a distributed
    // fallback nothing exercised. Random multigraph (chains, stars,
    // cycles, isolated pairs) + both routes into the fallback: the
    // explicit edge-limit parameter and the new conf key.
    val rng = new scala.util.Random(42)
    val edgePairs = (0 until 400)
      .map(_ => (rng.nextInt(120).toLong, rng.nextInt(120).toLong))
      .filter(p => p._1 != p._2)
    val edges = edgePairs.toDF("doc", "rep").repartition(4)
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = labels(MinhashDedup.components(edges, driverEdgeLimit = 10000000L))
    val viaDistributed = labels(MinhashDedup.components(edges, driverEdgeLimit = 0L))
    assert(viaDriver == viaDistributed,
      s"paths diverge on ${viaDriver.keySet.union(viaDistributed.keySet)
        .filter(k => viaDriver.get(k) != viaDistributed.get(k))}")
    spark.conf.set("spark.graft.uf.driverEdgeLimit", "0")
    try {
      assert(labels(MinhashDedup.components(edges)) == viaDriver,
        "conf-lowered bound must route through the distributed path with equal labels")
      // end-to-end: the full minhash dedup flow through the distributed
      // components path produces the same keep/cluster annotations
      val near = perturb(loremBase, 0.03, seed = 3)
      val df = Seq((1L, loremBase), (2L, loremBase), (3L, near),
        (5L, "completely different short text about gardens and rivers flowing through ancient villages near the morning market"))
        .toDF("doc_id", "text")
      val out = MinhashDedup.dedup(df, "doc_id", "text").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("minhash_cluster"), r.getAs[Boolean]("minhash_keep")))).toMap
      assert(out(1L) == ((1L, true)) && out(2L) == ((1L, false)) && out(3L) == ((1L, false)))
      assert(out(5L)._2)
    } finally spark.conf.unset("spark.graft.uf.driverEdgeLimit")
  }

  test("components: a caller's cached edges stay cached, and a distributed run registers no cache") {
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    spark.catalog.clearCache()
    val rng = new scala.util.Random(7)
    val edges = (0 until 200)
      .map(_ => (rng.nextInt(80).toLong, rng.nextInt(80).toLong))
      .filter(p => p._1 != p._2)
      .toDF("doc", "rep").repartition(4)
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = labels(MinhashDedup.components(edges, driverEdgeLimit = 0L))
    assert(cacheManager.isEmpty, "the distributed path left a CacheManager entry")
    edges.cache()
    try {
      assert(labels(MinhashDedup.components(edges, driverEdgeLimit = 0L)) == dist)
      assert(labels(MinhashDedup.components(edges, driverEdgeLimit = 10000000L)) == dist)
      assert(edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "components dropped the caller's cache")
    } finally edges.unpersist(blocking = true)
    assert(cacheManager.isEmpty, "components registered a cache of its own")
  }

  test("exact dedup keeps min id per identical text") {
    val df = Seq((10L, "aaa"), (3L, "aaa"), (5L, "bbb")).toDF("doc_id", "text")
    val out = ExactDedup(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("exact_keep")).toMap
    assert(out == Map(10L -> false, 3L -> true, 5L -> true))
  }

  test("url dedup keeps highest priority, ties to min id") {
    val df = Seq(
      ("u1", 1L, 1), ("u1", 2L, 3), ("u1", 3L, 3),
      ("u2", 4L, 0)
    ).toDF("url", "doc_id", "priority")
    val out = UrlDedup(df, "url", "doc_id", "priority").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("url_keep")).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> false, 4L -> true))
  }

  test("url dedup with normalization unifies scheme/query/case variants") {
    assert(UrlDedup.normalizeUrl("https://Ex.COM/a/b?q=1#f") == "ex.com/a/b")
    assert(UrlDedup.normalizeUrl("http://ex.com/a/b/") == "ex.com/a/b")
    val df = Seq(
      ("https://Ex.com/p?utm=1", 1L, 1), ("http://ex.com/p", 2L, 2)
    ).toDF("url", "doc_id", "priority")
    val out = UrlDedup(df, "url", "doc_id", "priority", normalize = true).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("url_keep")).toMap
    assert(out == Map(1L -> false, 2L -> true)) // same normalized url, higher priority wins
  }

  test("sentence dedup removes later duplicate 3-line spans (sentence_dedup.py semantics)") {
    val shared = "First shared line about the harbor.\nSecond shared line about the market.\nThird shared line about the bridge."
    val doc1 = shared + "\nUnique closing line one here with plenty of additional words to stay above the minimum threshold for documents " + ("pad " * 40)
    val doc2 = "A totally unique opener line for the second document.\n" + shared +
      "\nDifferent closing content follows here with many more words " + ("filler " * 50)
    val df = Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
    val out = SentenceDedup(df, "doc_id", "text", SentenceDedupConfig(minDocWords = 10, minNumSentences = 1))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Boolean]("sentence_dedup_keep"), r.getAs[Int]("removed_sentences")))).toMap
    // doc 1 untouched (first occurrence wins)
    assert(out(1L)._1 == doc1 && out(1L)._2 && out(1L)._3 == 0)
    // doc 2: the shared 3-line window is removed
    assert(!out(2L)._1.contains("First shared line"))
    assert(out(2L)._1.startsWith("A totally unique opener"))
    assert(out(2L)._3 == 3)
    assert(out(2L)._2) // still enough words → kept
  }

  test("sentence dedup: min_words_to_remove_span restores only the span's FIRST line (reference quirk)") {
    val shared = "Alpha shared line one two.\nBeta shared line three four.\nGamma shared line five six."
    val doc1 = shared + "\n" + ("anchor " * 30).trim
    val doc2 = "Opening line of second doc.\n" + shared + "\n" + ("closer " * 30).trim
    val df = Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
    // span's first line has 5 words < threshold 20 -> restored; the
    // reference only ever records (and thus restores) the first unit of a
    // removed span — the other two shared lines stay removed
    val out = SentenceDedup(df, "doc_id", "text",
      SentenceDedupConfig(minDocWords = 10, minNumSentences = 1,
        minWordsToRemoveSpan = 20))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Int]("removed_sentences")))).toMap
    assert(out(1L)._1 == doc1 && out(1L)._2 == 0)
    assert(out(2L)._1.contains("Alpha shared line"))     // restored
    assert(!out(2L)._1.contains("Beta shared line"))     // still removed
    assert(!out(2L)._1.contains("Gamma shared line"))
    assert(out(2L)._2 == 2)                              // 3 removed - 1 restored
    // with the knob off (default 0) the whole span goes
    val off = SentenceDedup(df, "doc_id", "text",
      SentenceDedupConfig(minDocWords = 10, minNumSentences = 1))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("removed_sentences")).toMap
    assert(off(2L) == 3)
  }

  test("minhash index mode: index matches drop; corpus clustering optional") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "completely different content about mountains rivers and ancient forests here"
    val df = Seq((1L, a), (2L, a + " extra"), (3L, b)).toDF("id", "text")
    val idx = MinhashDedup.buildIndex(Seq((100L, a)).toDF("id", "text"), "id", "text")
    assert(idx.columns.toSet == Set("bucket", "sig"))
    // strict: docs 1 and 2 (near-dups of the indexed text) drop; 3 stays;
    // corpus-vs-corpus matches between 1 and 2 are ignored
    val strict = MinhashDedup.dedupWithIndex(df, "id", "text", idx)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("minhash_keep")).toMap
    assert(!strict(1L) && !strict(2L) && strict(3L))
    // loose with an EMPTY index degenerates to normal clustering: one of
    // the near-dup pair survives
    val empty = idx.limit(0)
    val loose = MinhashDedup.dedupWithIndex(df, "id", "text", empty,
        onlyDedupInIndex = false)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("minhash_keep")).toMap
    assert(loose == Map(1L -> true, 2L -> false, 3L -> true))
    // a config mismatch fails fast via the metadata fingerprint instead of
    // silently matching nothing
    val e = intercept[IllegalArgumentException] {
      MinhashDedup.dedupWithIndex(df, "id", "text", idx,
        MinhashDedupConfig(numBuckets = 7))
    }
    assert(e.getMessage.contains("cannot match"))
    // null index/corpus texts pass through instead of NPE-ing the job
    val withNull = df.union(Seq((9L, null.asInstanceOf[String])).toDF("id", "text"))
    val nullSafe = MinhashDedup.dedupWithIndex(withNull, "id", "text", idx)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("minhash_keep")).toMap
    assert(nullSafe(9L)) // no shingles -> never an index match
  }

  test("minhash index mode, loose: the signatures are read from one cached table") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "completely different content about mountains rivers and ancient forests here"
    val df = Seq((1L, a), (2L, a + " extra"), (3L, b)).toDF("id", "text")
    val idx = MinhashDedup.buildIndex(Seq((100L, a)).toDF("id", "text"), "id", "text")
    val loose = MinhashDedup.dedupWithIndex(df, "id", "text", idx, onlyDedupInIndex = false)
    // the index probe and the clustering read the corpus signatures from
    // one materialised table, so the signature UDF runs once
    val sigReads = loose.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD if r.output.exists(_.name == "sig") => r.rdd.id
    }
    assert(sigReads.nonEmpty && sigReads.distinct.size == 1, loose.queryExecution.optimizedPlan)
    assert(loose.collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("minhash_keep")).toMap ==
      Map(1L -> false, 2L -> false, 3L -> true))
  }

  test("url dedup index mode: index urls drop everywhere; corpus-vs-corpus optional") {
    val df = Seq(
      (1L, "https://a.com/page", 5),
      (2L, "https://a.com/page", 9),  // corpus dup of 1, higher priority
      (3L, "https://b.com/x", 1),     // in the index
      (4L, null.asInstanceOf[String], 1)) // null url passes through
      .toDF("id", "url", "priority")
    val idx = Seq("https://b.com/x").toDF("url")
    // strict: index match drops doc 3; corpus dups 1/2 BOTH stay
    val strict = UrlDedup.withIndex(df, "url", "id", "priority", idx, "url")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("url_keep")).toMap
    assert(strict == Map(1L -> true, 2L -> true, 3L -> false, 4L -> true))
    // loose: corpus best-priority applies on top (doc 2 wins over doc 1)
    val loose = UrlDedup.withIndex(df, "url", "id", "priority", idx, "url",
        onlyDedupInIndex = false)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("url_keep")).toMap
    assert(loose == Map(1L -> false, 2L -> true, 3L -> false, 4L -> true))
  }

  test("sentence dedup index mode: only index matches dedup; corpus-vs-corpus optional") {
    val indexed = "Index line alpha one.\nIndex line beta two.\nIndex line gamma three."
    val corpusShared = "Corpus shared aa.\nCorpus shared bb.\nCorpus shared cc."
    val pad = ("pad " * 40).trim
    val df = Seq(
      (1L, indexed + "\n" + pad),          // matches the index -> span removed
      (2L, corpusShared + "\n" + pad),     // corpus-only dup, first copy
      (3L, corpusShared + "\nother tail " + pad)) // corpus-only dup, second copy
      .toDF("doc_id", "text")
    val indexDf = Seq(indexed).toDF("text")
    val cfg = SentenceDedupConfig(minDocWords = 10, minNumSentences = 0)
    // only_dedup_in_index=true: the index match is removed from EVERY doc
    // carrying it; the corpus-vs-corpus dup is untouched in both copies
    val strict = SentenceDedup.withIndex(df, "doc_id", "text", indexDf, "text", cfg)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Int]("removed_sentences")))).toMap
    assert(!strict(1L)._1.contains("Index line") && strict(1L)._2 == 3)
    assert(strict(2L)._1.contains("Corpus shared") && strict(2L)._2 == 0)
    assert(strict(3L)._1.contains("Corpus shared") && strict(3L)._2 == 0)
    // only_dedup_in_index=false: corpus first-wins applies on top — the
    // SECOND corpus copy loses the shared span, the first keeps it
    val loose = SentenceDedup.withIndex(df, "doc_id", "text", indexDf, "text", cfg,
        onlyDedupInIndex = false)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Int]("removed_sentences")))).toMap
    assert(!loose(1L)._1.contains("Index line"))
    assert(loose(2L)._1.contains("Corpus shared") && loose(2L)._2 == 0)
    assert(!loose(3L)._1.contains("Corpus shared") && loose(3L)._2 == 3)
  }

  test("sentence dedup drops doc shrunk below min words") {
    val shared = "Alpha shared line one.\nBeta shared line two.\nGamma shared line three."
    val df = Seq((1L, shared + "\n" + ("extra " * 60).trim), (2L, shared)).toDF("doc_id", "text")
    val out = SentenceDedup(df, "doc_id", "text", SentenceDedupConfig(minDocWords = 50, minNumSentences = 1))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("sentence_dedup_keep")).toMap
    assert(out(1L))
    assert(!out(2L)) // everything removed → dropped
  }

  test("url dedup mirrors the reference fixture (test_url_deduplication.py:17-118)") {
    // DOCS verbatim: ids 1,2,4 share example.com; 3 new-site; 5 example2
    val docs = Seq(
      (1L, "https://example.com"), (2L, "https://example.com"),
      (3L, "https://new-site.com"), (4L, "https://example.com"),
      (5L, "https://example2.com"))
    // default: one survivor per distinct url (3 urls)
    val flat = docs.map { case (i, u) => (i, u, 0L) }.toDF("doc_id", "url", "prio")
    val kept0 = UrlDedup(flat, "url", "doc_id", "prio")
      .where(col("url_keep")).select("url").as[String].collect().toSet
    assert(kept0 == docs.map(_._2).toSet)
    // document_priority = int(id): highest id per url wins -> {3,4,5}
    val pHigh = docs.map { case (i, u) => (i, u, i) }.toDF("doc_id", "url", "prio")
    assert(UrlDedup(pHigh, "url", "doc_id", "prio")
      .where(col("url_keep")).select("doc_id").as[Long].collect().toSet == Set(3L, 4L, 5L))
    // document_priority = 5 - id + 1: lowest id wins -> {1,3,5}
    val pLow = docs.map { case (i, u) => (i, u, 5 - i + 1) }.toDF("doc_id", "url", "prio")
    assert(UrlDedup(pLow, "url", "doc_id", "prio")
      .where(col("url_keep")).select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 5L))
    // url_normalizer = replace("2", ""): example2 folds into example -> 2 kept
    val keptN = UrlDedup.applyWithNormalizer(flat, "url", "doc_id", "prio",
      (u: String) => u.replace("2", ""))
      .where(col("url_keep")).select("url").as[String].collect().toSet
    assert(keptN.size == 2 && keptN.contains("https://new-site.com"))
  }

  test("bloom dedup mirrors the reference fixture (test_bloom_filter.py:10-104)") {
    val text0 = "A SQUAT grey building of only thirty-four stories. Over the main entrance the words, CENTRAL LONDON HATCHERY " +
      "AND CONDITIONING CENTRE, and, in a shield, the World State's motto, COMMUNITY, IDENTITY, STABILITY. The enormous" +
      " room on the ground floor faced towards the north. Cold for all the summer beyond the panes, for all the " +
      "tropical heat of the room itself, a harsh thin light glared through the windows, hungrily seeking some draped " +
      "lay figure, some pallid shape of academic goose-flesh, but finding only the glass and nickel and bleakly shining" +
      " porcelain of a laboratory. Wintriness responded to wintriness. The overalls of the workers were white, their " +
      "hands gloved with a pale corpse-coloured rubber. The light was frozen, dead, a ghost. Only from the yellow " +
      "barrels of the microscopes did it borrow a certain rich and living substance, lying along the polished tubes " +
      "like butter, streak after luscious streak in long recession down the work tables. And this, said the Director " +
      "opening the door, 'is the Fertilizing Room.'"
    val text1 = "Wintriness responded to wintriness. The overalls of the workers were white, their " +
      "hands gloved with a pale corpse-coloured rubber. The light was frozen, dead, a ghost. Only from the yellow " +
      "barrels of the microscopes did it borrow a certain rich and living substance, lying along the polished tubes " +
      "like butter, streak after luscious streak in long recession down the work tables. What wintriness even mean ?" +
      "If you google it you will find that pretty bus it is used as a word in this book and pretty much it."
    val text2 = "Arise, arise, Riders of Théoden! Fell deeds awake: fire and slaughter! Spear shall be shaken, shield be " +
      "splintered, a sword-day, a red day, ere the sun rises!"
    val text3 = "I hope you're pleased with yourselves. We could all have been killed — or worse, expelled. Now if you don't " +
      "mind, I'm going to bed."
    val text4 = "Meycauayan Tree is one of the three acacia trees (Samanea saman) located in the patio of the Parish Church " +
      "of St. Francis of Assisi in Meycauayan City, Bulacan, Philippines. Planted by an unknown person, it has " +
      "stood on the grounds of the parish church for almost a century and a half."
    val text5 = "Geologically the Castelltallat range is made up of limestone and marl mountains oriented WSW-ENE. " +
      "The highest point of the range is the 936 m high 'Tossal'. The northern slopes are steep and forested, " +
      "while the southern slopes are used for agriculture owing to their lesser inclination. Most of the mountain " +
      "belongs to the municipality of Sant Mateu de Bages while the western part lies within the municipalities " +
      "of Pinós and La Molsosa. The village of Castelltallat was a municipality until 1840 when it became part " +
      "of San Mateu de Bages municipal term. The parish church of Sant Miquel has been documented since 1031 " +
      "and is located at an altitude of 887 m."
    val text6 = "Chukanovite was first discovered in weathered cavities of a meteorite which fell near the small village " +
      "of Dronino, 350 km southeast of Moscow, Russia, but the mineral has since been found elsewhere in cavities" +
      " of other iron-rich meteorites. It occurs primarily in association with goethite, akaganeite, hematite, " +
      "hibbingite, reevesite, honessite, and kamacite, though the meteorites that contain chukanovite also tend " +
      "to contain taenite and chromite. Individual crystals form from a reaction between kamacite and cold " +
      "water that is rich in dissolved carbon dioxide, during which they adopt a fibrous to acicular habit and " +
      "grow to an average size of roughly 0.5 mm in length and 2-3 μm in thickness. Individual crystals tend to " +
      "coalesce within the meteorite cavities into porous collections or crusts of spherulites, each with a " +
      "diameter of about 1 mm."
    val text7 = "1 + 1 = 2, 2 + 2 = 4, 4 + 4 = 8, ..."
    val texts = Seq(text0, text1, text2, text3, text4, text5, text6, text7,
      text0, text1, text6.dropRight(10))
    val targets = Seq.fill(8)(true) ++ Seq.fill(3)(false)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").coalesce(1).sortWithinPartitions("doc_id")
    val out = BloomDedup(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("bloom_keep")).toMap
    for (i <- texts.indices)
      assert(out(i.toLong) == targets(i), s"doc $i: got ${out(i.toLong)} want ${targets(i)}")
  }

  test("sentence mode mirrors the reference fixture (test_sentence_deduplication.py:159-236)") {
    // the reference fixture's texts verbatim, with the random strings fixed
    val sentence0 = "A SQUAT grey building of only thirty-four stories."
    val text0 = sentence0 + " Over the main entrance the words, CENTRAL LONDON HATCHERY " +
      "AND CONDITIONING CENTRE, and, in a shield, the World State's motto, COMMUNITY, IDENTITY, STABILITY. The enormous" +
      " room on the ground floor faced towards the north. Cold for all the summer beyond the panes, for all the " +
      "tropical heat of the room itself, a harsh thin light glared through the windows, hungrily seeking some draped " +
      "lay figure, some pallid shape of academic goose-flesh, but finding only the glass and nickel and bleakly shining" +
      " porcelain of a laboratory. Wintriness responded to wintriness. The overalls of the workers were white, their " +
      "hands gloved with a pale corpse-coloured rubber. The light was frozen, dead, a ghost. Only from the yellow " +
      "barrels of the microscopes did it borrow a certain rich and living substance, lying along the polished tubes " +
      "like butter, streak after luscious streak in long recession down the work tables. And this, said the Director " +
      "opening the door, 'is the Fertilizing Room.'"
    val text1 = "Wintriness responded to wintriness. The overalls of the workers were white, their " +
      "hands gloved with a pale corpse-coloured rubber. The light was frozen, dead, a ghost. Only from the yellow " +
      "barrels of the microscopes did it borrow a certain rich and living substance, lying along the polished tubes " +
      "like butter, streak after luscious streak in long recession down the work tables. What wintriness even mean ?" +
      "If you google it you will find that pretty bus it is used as a word in this book and pretty much it."
    val expectedText1 = "What wintriness even mean ?" +
      "If you google it you will find that pretty bus it is used as a word in this book and pretty much it."
    val lotr = "Arise, arise, Riders of Théoden! Fell deeds awake: fire and slaughter! Spear shall be shaken, shield be " +
      "splintered, a sword-day, a red day, ere the sun rises!"
    val hpps = "I hope you're pleased with yourselves. We could all have been killed — or worse, expelled. Now if you don't " +
      "mind, I'm going to bed."
    val rs1 = "QK3ZVW8PLT2MXC9DRBH5!"
    val rs2 = "A7YFN4GQ1SKEUJ6WOI0T!"
    val docs = Seq(
      (0L, text0),
      (1L, text1),
      (2L, Seq(text0, rs1).mkString(" ")),
      (3L, Seq(rs1, text0, rs2).mkString(" ")),
      (4L, lotr),
      (5L, Seq(lotr, hpps).mkString(" "))).toDF("doc_id", "text")
    val out = SentenceDedup(docs, "doc_id", "text",
      SentenceDedupConfig(minDocWords = 0, minNumSentences = 0, splitSentences = true))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val targets = Map(
      0L -> text0,
      1L -> expectedText1,
      2L -> rs1,
      3L -> Seq(rs1, rs2).mkString(" "),
      4L -> lotr,
      5L -> hpps)
    for (id <- 0L to 5L)
      assert(out(id) == targets(id), s"doc $id:\n got=${out(id)}\nwant=${targets(id)}")
  }

  test("sentence splitter: abbreviation guard, closers, decimals, no-space terminals") {
    import graft.text.Tokenizer
    assert(Tokenizer.sentences("Dr. Smith arrived. He sat down.").toSeq ==
      Seq("Dr. Smith arrived.", "He sat down."))
    assert(Tokenizer.sentences("The church of St. Francis stands. It is old.").toSeq ==
      Seq("The church of St. Francis stands.", "It is old."))
    assert(Tokenizer.sentences("Pi is 3.14 roughly. Next sentence!").toSeq ==
      Seq("Pi is 3.14 roughly.", "Next sentence!"))
    assert(Tokenizer.sentences("He said 'stop.' Then left.").toSeq ==
      Seq("He said 'stop.'", "Then left."))
    // no whitespace after terminal → not a boundary (mirrors '?If' in the fixture)
    assert(Tokenizer.sentences("what does it mean ?If you google it.").toSeq ==
      Seq("what does it mean ?If you google it."))
    // e.g. / et al. guarded by the single-letter rule
    assert(Tokenizer.sentences("Use fruits, e.g. apples. They are good.").toSeq ==
      Seq("Use fruits, e.g. apples.", "They are good."))
  }

  test("simhash: identical → hamming 0; small edit → small distance; dedup clusters") {
    val near = loremBase + " extra"
    assert(SimHashDedup.simhash64(loremBase) == SimHashDedup.simhash64(loremBase))
    // word-unigram simhash on a ~69-word doc: a 1-word edit flips bits whose
    // ±1 vote margins it crosses — small but not tiny (E[flips] ≈ 64·P(|m|=1))
    val hd = java.lang.Long.bitCount(
      SimHashDedup.simhash64(loremBase) ^ SimHashDedup.simhash64(near))
    assert(hd <= 16, s"hamming=$hd")
    val unrelated = "unrelated short text about trains and winter evenings in the quiet station"
    val hdFar = java.lang.Long.bitCount(
      SimHashDedup.simhash64(loremBase) ^ SimHashDedup.simhash64(unrelated))
    assert(hdFar > hd, s"near=$hd far=$hdFar")
    val df = Seq((1L, loremBase), (2L, loremBase), (3L, unrelated)).toDF("doc_id", "text")
    val out = SimHashDedup(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("simhash_keep")).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true))
  }

  test("ngram jaccard") {
    assert(NgramJaccard.jaccard(loremBase, loremBase) == 1.0)
    assert(NgramJaccard.jaccard(loremBase, "a b c d e f") == 0.0)
  }

  test("ann: brute force finds planted nearest neighbor; lsh agrees on it") {
    val rng = new scala.util.Random(5)
    val base = Array.fill(64)(rng.nextFloat() * 2 - 1)
    val nearly = base.clone(); nearly(0) += 0.01f
    val rows = (0 until 40).map { i =>
      (i.toLong, Array.fill(64)(rng.nextFloat() * 2 - 1).toSeq)
    } :+ (100L, base.toSeq) :+ (101L, nearly.toSeq)
    val df = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", org.apache.spark.sql.functions.col("embedding").cast("array<float>"))
    val bf = Similarity.bruteForceTopK(df, "vec_id", "embedding", 1).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("neighbor")).toMap
    assert(bf(100L) == 101L && bf(101L) == 100L)
    val lsh = Similarity.lshTopK(df, "vec_id", "embedding", 1, bands = 16, bitsPerBand = 6).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("neighbor")).toMap
    assert(lsh(100L) == 101L && lsh(101L) == 100L)
  }

  test("ann: lsh recall@1 vs brute force on the embeddings testdata") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bf = Similarity.bruteForceTopK(df, "vec_id", "embedding", 1).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("neighbor")).toMap
    val lsh = Similarity.lshTopK(df, "vec_id", "embedding", 1, bands = 16, bitsPerBand = 6).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("neighbor")).toMap
    val recall = bf.count { case (q, n) => lsh.get(q).contains(n) }.toDouble / bf.size
    // random gaussian-ish vectors are a worst case for LSH (no cluster
    // structure); require a sane floor and report the measured value
    info(f"lsh recall@1 = $recall%.3f over ${bf.size} queries")
    assert(recall > 0.35, f"recall=$recall%.3f")
  }

  test("sha1Hash64 matches the reference's sha1_hash64 (CPython-verified vectors)") {
    // struct.unpack("<Q", sha1(utf8).digest()[:8]) — utils/hashes/sha1.py:17-26
    assert(graft.functions.Hashes.sha1Hash64("abc") == 7674422142938552745L)
    assert(graft.functions.Hashes.sha1Hash64("the quick brown fox") ==
      java.lang.Long.parseUnsignedLong("13704825454146344910"))
    assert(graft.functions.Hashes.sha1Hash64("") == 957977401221134810L)
  }

  test("xxhash64 matches known reference vectors") {
    // vectors verified against the public XXH64 spec (seed 0)
    assert(graft.functions.Hashes.xxhash64("") == 0xEF46DB3751D8E999L)
    assert(graft.functions.Hashes.xxhash64("a") == 0xD24EC4F1A98C6E5BL)
    assert(graft.functions.Hashes.xxhash64("abc") == 0x44BC2CF5AD770999L)
  }

  test("32-bit hash configs: sha1_hash32 CPython-derived vectors, xxh32 public vectors, selector") {
    import graft.functions.Hashes
    // struct.unpack("<I", sha1(utf8).digest()[:4]) — derived with CPython
    assert(Hashes.sha1Hash32("abc") == 910072233L)
    assert(Hashes.sha1Hash32("the quick brown fox") == 2803881934L)
    assert(Hashes.sha1Hash32("") == 4003674586L)
    // XXH32 spec vectors (seed 0), incl. a >16-byte input through the
    // 4-lane accumulator path
    assert(Hashes.xxhash32("") == 0x02CC5D05L)
    assert(Hashes.xxhash32("Nobody inspects the spammish repetition") == 0xE2293B2FL)
    // the selector returns each function; 32-bit values are uint32-ranged
    for (fc <- Seq("sha1", "xxhash"); p <- Seq(32, 64)) {
      val h = Hashes.forConfig(p, fc)("sample text")
      if (p == 32) assert(h >= 0L && h <= 0xFFFFFFFFL)
    }
    assert(Hashes.forConfig(64, "sha1")("abc") == Hashes.sha1Hash64("abc"))
    intercept[IllegalArgumentException] { Hashes.forConfig(16, "sha1") }
    intercept[IllegalArgumentException] { Hashes.forConfig(64, "md5")("x") }
  }

  test("sentence dedup 32-bit hash mode produces the same dedup outcomes") {
    val shared = "Alpha shared line one.\nBeta shared line two.\nGamma shared line three."
    val df = Seq((1L, shared + "\n" + ("extra " * 60).trim), (2L, shared)).toDF("doc_id", "text")
    val out32 = SentenceDedup(df, "doc_id", "text",
      SentenceDedupConfig(minDocWords = 50, minNumSentences = 1, hashPrecision = 32))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("sentence_dedup_keep")).toMap
    assert(out32 == Map(1L -> true, 2L -> false))
  }
}
