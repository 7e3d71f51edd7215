package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators._
import graft.streaming.StreamingQuality
import graft.plans.Checkpoint
import graft.sources.WebCorpusGen

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("html extractor: reference unit fixture (test_extractors.py:9)") {
    assert(HtmlExtractor.extract(
      "<html><body><article><p>Hello World!</p></article></body></html>") == "Hello World!")
  }

  test("html extractor: boilerplate stripped, comments ignored") {
    val html = "<html><head><title>t</title></head><body><nav>home | about</nav>" +
      "<!-- comment --><article><p>Keep this.</p><p>And this.</p></article>" +
      "<footer>copyright</footer></body></html>"
    assert(HtmlExtractor.extract(html) == "Keep this.\nAnd this.")
  }

  test("readability-lite picks the densest block and squeezes newlines") {
    val html = "<html><body><nav>menu items here</nav>" +
      "<div><p>tiny sidebar.</p></div>" +
      "<article><p>The main content paragraph is much longer than anything else.</p>" +
      "<p>It has a second paragraph too.</p></article></body></html>"
    val out = ReadabilityLite.extract(html)
    assert(out.startsWith("The main content"))
    assert(!out.contains("menu"))
  }

  test("readability-lite link density demotes link farms over shorter prose") {
    // the link-list div has MORE raw text than the article, but nearly all
    // of it is anchor text — readability's link-density penalty must pick
    // the prose block
    val farm = (1 to 12).map(i => s"""<a href="/$i">navigation link number $i here</a>""")
      .mkString("<div><p>", " ", "</p></div>")
    val html = "<html><body>" + farm +
      "<article><p>Short but genuine prose content wins here.</p></article></body></html>"
    val out = ReadabilityLite.extract(html)
    assert(out.startsWith("Short but genuine prose"), out)
    assert(ReadabilityLite.linkDensity("<p><a href=\"/x\">all link</a></p>") > 0.9)
    assert(ReadabilityLite.linkDensity("<p>no links at all</p>") == 0.0)
    // uppercase legacy markup counts as link text too (extract() lowercases
    // tag names, so the scanner must match case-insensitively)
    assert(ReadabilityLite.linkDensity("<p><A HREF=\"/x\">all link</A></p>") > 0.9)
    // <article>/<aside> must not be mistaken for anchors
    assert(ReadabilityLite.linkDensity("<article><p>plain prose here</p></article>") == 0.0)
    // unclosed anchor: only its immediate text run counts, not following prose
    val unclosed = "<p><a href=\"/h\">home<p>much longer genuine prose follows the menu entry</p></p>"
    assert(ReadabilityLite.linkDensity(unclosed) < 0.4)
    // legacy close tags with whitespace before '>' still close the anchor
    // (ADVICE r4: "</a >" was treated as unclosed → under-penalized farms)
    assert(ReadabilityLite.linkDensity("<p><a href=\"/x\">all link</a >\n</p>") > 0.9)
    assert(ReadabilityLite.linkDensity("<p><A href=\"/x\">all link</A\n></p>") > 0.9)
    // anchors inside subtrees extract() drops must not count toward density:
    // the nav full of links is pruned, so the surviving prose block scores 0
    // (ADVICE r4: numerator counted dropped-subtree anchors vs pruned-length
    // denominator, zeroing mostly-prose blocks)
    val navWrapped = "<div><nav><a href=\"/1\">one</a><a href=\"/2\">two</a>" +
      "<a href=\"/3\">three</a></nav><p>genuine prose, no anchors outside nav</p></div>"
    assert(ReadabilityLite.linkDensity(navWrapped) == 0.0)
  }

  test("html extractor: tables, nested lists, blockquote, favor_precision pruning") {
    assert(HtmlExtractor.extract(
      "<table><tbody><tr><td>Year</td><td>Result one</td></tr>" +
      "<tr><th>Total</th><th>42 wins</th></tr></tbody></table>") ==
      "Year Result one\nTotal 42 wins")
    assert(HtmlExtractor.extract(
      "<ul><li>first item</li><ul><li>nested item</li></ul><li>last item</li></ul>") ==
      "first item\nnested item\nlast item")
    assert(HtmlExtractor.extract(
      "<blockquote><p>Quoted line.</p></blockquote><p>After quote.</p>") ==
      "Quoted line.\nAfter quote.")
    // favor_precision analogue: boilerplate class/id subtrees pruned whole
    assert(HtmlExtractor.extract(
      "<div class=\"social share\">like<span>tweet</span></div><p>Real content.</p>" +
      "<div id='cookie-banner'>accept</div><form><input/>search</form>") ==
      "Real content.")
    // unquoted attr + nested same-name tags inside the dropped subtree
    assert(HtmlExtractor.extract(
      "<div class=menu><div>deep</div>items</div><p>Kept.</p>") == "Kept.")
  }

  test("html extractor: unclosed tags inside dropped boilerplate do not wedge the stack") {
    // implied-close <li> is ubiquitous in real nav markup — the close tags
    // must pop through unclosed children instead of discarding the page
    assert(HtmlExtractor.extract(
      "<div class=\"menu\"><ul><li>Home<li>About</ul></div><p>Real content.</p>") ==
      "Real content.")
    // stray close tag with no matching open: ignored, dropping continues
    assert(HtmlExtractor.extract(
      "<nav>junk</span>more junk</nav><p>Kept.</p>") == "Kept.")
    // unclosed drop subtree at EOF: everything after it is gone (by design)
    assert(HtmlExtractor.extract("<nav>junk<p>never closed") == "")
  }

  test("sentence dedup: dup-free docs with trailing whitespace stay untouched and kept") {
    val clean = "Short doc only.\n"
    val cleanSent = "Dr. Smith arrived. He sat. "
    val df = Seq((1L, clean), (2L, cleanSent), (3L, "")).toDF("doc_id", "text")
    val line = SentenceDedup(df, "doc_id", "text")(spark).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Boolean]("sentence_dedup_keep")))).toMap
    assert(line(1L) == ((clean, true)), "line mode must not rewrite or drop a dup-free doc")
    val sent = SentenceDedup(df, "doc_id", "text",
      SentenceDedupConfig(splitSentences = true))(spark).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Boolean]("sentence_dedup_keep")))).toMap
    assert(sent(1L) == ((clean, true)))
    assert(sent(2L) == ((cleanSent, true)), "sentence mode must not trim an untouched doc")
    // reference drops empty docs even untouched (`and filtered_text`)
    assert(!line(3L)._2 && !sent(3L)._2)
  }

  test("extract(html) == text invariant per url on the generated corpus") {
    val rows = (0L until 300L).map(id => WebCorpusGen.genRow(id, WebCorpusGen.DefaultSeed))
    for (r <- rows) {
      val extracted = HtmlExtractor.extract(new String(r.html, "UTF-8"))
      assert(extracted == r.text.split("\n").map(_.trim.replaceAll("\\s+", " ")).filter(_.nonEmpty).mkString("\n"),
        s"mismatch for ${r.url}")
    }
  }

  test("ExtractStage: extracts in parallel, times out pathological docs") {
    val good = "<html><body><article><p>Good content here.</p></article></body></html>"
    val df = Seq(
      (1L, good.getBytes("UTF-8")),
      (2L, "<p>Second doc fine.</p>".getBytes("UTF-8"))
    ).toDF("id", "html")
    val out = ExtractStage(df, "html", "text", timeoutMs = 2000).collect()
      .map(r => r.getAs[Long]("id") -> ((r.getAs[String]("text"), r.getAs[Boolean]("extract_ok")))).toMap
    assert(out(1L) == (("Good content here.", true)))
    assert(out(2L) == (("Second doc fine.", true)))
  }

  test("ExtractStage: binary html goes through decode-or-drop, not lossy UTF-8") {
    val cp1252 = "<html><body><article><p>Caf\u00e9 menu l\u2019addition.</p></article></body></html>"
      .getBytes("windows-1252") // 0xE9/0x92 bytes: invalid as UTF-8, no meta, no NULs
    val junk = Array[Byte]('<', 'p', '>', 0xFF.toByte, 0, 0, 'x', 0) // binary: invalid UTF-8 + NULs
    val df = Seq((1L, cp1252), (2L, junk)).toDF("id", "html")
    val out = ExtractStage(df, "html", "text", timeoutMs = 2000).collect()
      .map(r => r.getAs[Long]("id") -> ((r.getAs[String]("text"), r.getAs[Boolean]("extract_ok")))).toMap
    // the cp1252 fallback decodes the accented bytes correctly...
    assert(out(1L) == (("Caf\u00e9 menu l\u2019addition.", true)))
    // ...and undecodable bytes skip the doc (reference warc.py detect-failure)
    assert(out(2L) == (("", false)))
  }

  test("ExtractStage: the general TrafilaturaExtractor plugs into the sandbox seam") {
    val adversarial = "<div data-id=\"comment-1\"><p>Kept by the general extractor.</p></div>" +
      "<nav><a href='/'>Home</a></nav><script>var x='<p>decoy</p>';</script>"
    val df = Seq((1L, adversarial.getBytes("UTF-8"))).toDF("id", "html")
    val out = ExtractStage(df, "html", "text", timeoutMs = 2000,
        extractor = TrafilaturaExtractor.extract).collect()
    assert(out.head.getAs[String]("text") == "Kept by the general extractor.")
    assert(out.head.getAs[Boolean]("extract_ok"))
  }

  test("ExtractStage.fromGoldenTable: per-url text join with miss flag") {
    val pages = Seq(("u1", Array[Byte](1), "old"), ("u2", Array[Byte](2), "old"))
      .toDF("url", "html", "text")
    val golden = Seq(("u1", "golden text one")).toDF("url", "text")
    val out = ExtractStage.fromGoldenTable(pages, golden).collect()
      .map(r => r.getAs[String]("url") -> ((r.getAs[String]("text"), r.getAs[Boolean]("extract_ok")))).toMap
    assert(out("u1") == (("golden text one", true)))
    assert(out("u2") == (("", false)))
  }

  test("Checkpoint.readMetrics: absent -> None without a reader warning, torn -> None, written -> Some") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val dir = java.nio.file.Files.createTempDirectory("ckpt_metrics").toString
    val ckpt = new Checkpoint(dir)
    // Spark's reader warns with a FileNotFoundException stack on a missing path
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("readMetricsWarnings", null, null, true,
        Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) warnings.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(capture)
    spark.sparkContext.setLogLevel("WARN")
    try assert(ckpt.readMetrics("absent").isEmpty)
    finally {
      spark.sparkContext.setLogLevel("ERROR")
      root.removeAppender(capture)
      capture.stop()
    }
    assert(warnings.isEmpty, s"reading absent metrics logged: $warnings")

    val metrics = Seq(("s1", 0, "", 2L)).toDF("stage", "partition_id", "drop_reason", "count")
    ckpt.writeMetrics("torn", metrics)
    val parts = new java.io.File(ckpt.metricsPath("torn")).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach { f =>
      val ch = java.nio.channels.FileChannel.open(f.toPath, java.nio.file.StandardOpenOption.WRITE)
      try ch.truncate(f.length / 2) finally ch.close()
    }
    assert(ckpt.readMetrics("torn").isEmpty)

    ckpt.writeMetrics("written", metrics)
    assert(ckpt.readMetrics("written").map(_.count()).contains(1L))
  }

  test("Checkpoint: committed stage is not recomputed") {
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString
    val ckpt = new Checkpoint(dir)
    var computeCount = 0
    def compute() = { computeCount += 1; Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
    val r1 = ckpt.stage("s1")(compute())
    assert(r1.count() == 2 && computeCount == 1)
    val r2 = ckpt.stage("s1")(compute())
    assert(r2.count() == 2 && computeCount == 1) // skipped: already committed
    assert(ckpt.isCommitted("s1"))
    ckpt.writeMetrics("s1", Seq(("s1", 0, "", 2L)).toDF("stage", "partition_id", "drop_reason", "count"))
    assert(spark.read.parquet(s"$dir/_metrics/s1").count() == 1)

    // a computed stage is one job (the write; no schema-inference job) and
    // reads back with the schema inference would give, nullability included
    val verdicts = new QualityPipeline(Presets.forkDataCleaning(Seq("en")))
      .run(WebCorpusGen.generate(spark, 40, partitions = 2).select("url", "warc_ts", "text", "lang")).toDF()
    val typed = Seq((1L, 2, 0.5, true, java.sql.Timestamp.valueOf("2024-01-02 03:04:05"),
      Seq("a", "b"), Map("k" -> 1L), BigDecimal("1.25")))
      .toDF("l", "i", "d", "b", "ts", "arr", "m", "dec")
    assert(typed.schema.exists(!_.nullable) && verdicts.schema.exists(!_.nullable))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener { // only this test's jobs, not a background query's
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "ckpt_readback")) {
          jobs.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(counter)
    spark.sparkContext.setJobGroup("ckpt_readback", "ckpt_readback")
    try {
      for ((name, df) <- Seq("verdicts" -> verdicts, "typed" -> typed)) {
        ListenerBusDrain(spark.sparkContext)
        jobs.set(0)
        val computed = ckpt.stage(name)(df)
        ListenerBusDrain(spark.sparkContext)
        assert(jobs.get == 1, s"$name: ${jobs.get} jobs")
        assert(computed.schema == spark.read.parquet(ckpt.stagePath(name)).schema, name)
        val resumed = ckpt.stage(name)(sys.error(s"stage $name recomputed"))
        assert(resumed.schema == computed.schema, name)
        assert(resumed.count() == df.count(), name)
      }
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(counter)
    }
  }

  test("streaming: pipeline runs incrementally over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[WebPage]
    val stages = Presets.forkDataCleaning(Seq("en"))
    val result = StreamingQuality.run(mem.toDF(), stages)
    val query = result.writeStream.format("memory").queryName("sq_out")
      .outputMode("append").start()
    try {
      val rows = (0L until 100L).map(id => WebCorpusGen.genRow(id, 42L)) // all 100 kinds
      mem.addData(rows.map(r => WebPage(r.url, r.warc_ts, r.html, r.text, r.lang)): _*)
      query.processAllAvailable()
      val out = spark.table("sq_out")
      assert(out.count() == 100)
      assert(out.filter("keep").count() > 0)
      assert(out.filter("!keep").count() > 0)
    } finally query.stop()
  }

  test("pipeline verdicts are partitioning-invariant (distributed determinism)") {
    val rows = (0L until 300L).map(id => WebCorpusGen.genRow(id, 42L))
    val stages = Presets.fineweb(badwords = WebCorpusGen.BadWordsFixture.asMap)
    def runWith(parts: Int) = {
      val df = spark.createDataFrame(rows).repartition(parts)
      new QualityPipeline(stages).run(df).collect()
        .map(d => d.url -> ((d.keep, d.drop_reason))).toMap
    }
    assert(runWith(1) == runWith(7))
  }

  test("streaming: stateful exact dedup across micro-batches (flatMapGroupsWithState)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[WebPage]
    val docs = StreamingQuality.run(mem.toDF(), Seq.empty) // no filters, just PipeDoc shape
    val deduped = StreamingQuality.streamingExactDedup(docs)
    val dir = java.nio.file.Files.createTempDirectory("sdd").toString
    val query = deduped.writeStream.format("memory").queryName("sq_dedup")
      .option("checkpointLocation", dir).outputMode("append").start()
    try {
      def page(u: String, t: String) = // non-epoch ts: rows at the epoch are watermark-late
        WebPage(u, new java.sql.Timestamp(1700000000000L), Array.empty, t, "en")
      mem.addData(page("u1", "alpha text"), page("u2", "beta text"), page("u3", "alpha text"))
      query.processAllAvailable()
      // second batch: a repeat of batch-1 text plus a new one
      mem.addData(page("u4", "alpha text"), page("u5", "gamma text"))
      query.processAllAvailable()
      val urls = spark.table("sq_dedup").collect().map(_.getAs[String]("url")).toSet
      assert(urls.contains("u2") && urls.contains("u5"))
      assert(urls.intersect(Set("u1", "u3")).size == 1) // one alpha survivor in batch 1
      assert(!urls.contains("u4")) // cross-batch duplicate dropped via state
      assert(urls.size == 3)
    } finally query.stop()
  }

  test("streaming: deeply-late key does not kill the query (timeout clamped above watermark)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[WebPage]
    val docs = StreamingQuality.run(mem.toDF(), Seq.empty)
    // tiny TTL so a late key's (eventTime + ttl) lands below the watermark
    val deduped = StreamingQuality.streamingExactDedup(docs,
      watermarkDelay = "1 minute", stateTtlMs = 1000L)
    val dir = java.nio.file.Files.createTempDirectory("sdd_late").toString
    val query = deduped.writeStream.format("memory").queryName("sq_late")
      .option("checkpointLocation", dir).outputMode("append").start()
    try {
      val t0 = 1700000000000L
      def page(u: String, t: String, ts: Long) =
        WebPage(u, new java.sql.Timestamp(ts), Array.empty, t, "en")
      mem.addData(page("w1", "fresh text", t0 + 3600000L)) // advances watermark to ~t0+1h-1m
      query.processAllAvailable()
      // a brand-new key 2h older than the watermark: setTimeoutTimestamp on
      // (eventTime + 1s) would be below the watermark without the clamp
      mem.addData(page("w2", "ancient text", t0 - 3600000L))
      query.processAllAvailable() // must not throw
      mem.addData(page("w3", "after text", t0 + 3610000L))
      query.processAllAvailable()
      val urls = spark.table("sq_late").collect().map(_.getAs[String]("url")).toSet
      assert(urls.contains("w1") && urls.contains("w3"))
    } finally query.stop()
  }

  test("streaming: windowed drop metrics with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[WebPage]
    val result = StreamingQuality.run(mem.toDF(), Presets.forkDataCleaning(Seq("en")))
    val metrics = StreamingQuality.windowedDropMetrics(result, "1 minute", "2 minutes")
    val query = metrics.writeStream.format("memory").queryName("sq_metrics")
      .outputMode("complete").start()
    try {
      mem.addData((0L until 100L).map(id => WebCorpusGen.genRow(id, 42L)): _*)
      query.processAllAvailable()
      val rows = spark.table("sq_metrics").collect()
      assert(rows.nonEmpty)
      val reasons = rows.map(_.getAs[String]("reason")).toSet
      assert(reasons.contains("(kept)") && reasons.size > 1)
      assert(rows.map(_.getAs[Long]("count")).sum == 100)
    } finally query.stop()
  }

  test("inference runner: chunked checkpoints, resume skips the client entirely") {
    val dir = java.nio.file.Files.createTempDirectory("infer").toString
    val docs = Seq.tabulate(20)(i => (i.toLong, s"prompt number $i with content"))
      .toDF("doc_id", "prompt").repartition(2, col("doc_id"))
    val first = InferenceRunner.run(docs, "doc_id", "prompt",
      new StubInferenceClient, dir, InferenceRunnerConfig(recordsPerChunk = 4))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(first.size == 20)
    assert(first("7").startsWith("echo:prompt number 7"))
    // chunk files committed per partition
    val chunks = new java.io.File(dir).listFiles.flatMap(d => d.listFiles)
      .filter(_.getName.endsWith(".done"))
    assert(chunks.nonEmpty)

    // rerun with a poison client: every call fails loudly — completed work
    // must come from the checkpoints without touching the client
    val poison = new InferenceClient {
      def generate(p: String): Either[String, String] =
        throw new IllegalStateException("client must not be called on resume")
    }
    val second = InferenceRunner.run(docs, "doc_id", "prompt", poison, dir,
      InferenceRunnerConfig(recordsPerChunk = 4))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(second == first)

    // errors are captured per doc, not thrown (InferenceError semantics)
    val flaky = new InferenceClient {
      def generate(p: String): Either[String, String] =
        if (p.contains("number 3")) Left("boom") else Right("ok")
    }
    val dir2 = java.nio.file.Files.createTempDirectory("infer2").toString
    val out2 = InferenceRunner.run(docs, "doc_id", "prompt", flaky, dir2)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(out2("3") == (("", "boom")))
    assert(out2("4") == (("ok", "")))
  }

  test("multimodal: stub feature extraction preserves schema + determinism") {
    val rows = Seq(
      (1L, "u1", "image", Array.tabulate(256)(_.toByte), 8, 8, 0L),
      (2L, "u2", "video", Array.tabulate(1024)(i => (i * 7).toByte), 0, 0, 5000L))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2, r._3, r._4, r._5, r._6, r._7))),
      Multimodal.mediaSchema)
    def collectFeats() = Multimodal.extractFeatures(df).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getSeq[Float](r.fieldIndex("features")).toList).toMap
    val feats = collectFeats()
    assert(feats(1L).length == 16)
    assert(math.abs(feats(1L).sum - 1.0f) < 1e-5) // normalized histogram
    assert(feats == collectFeats())
    val frames = Multimodal.sampleFrames(df).collect()
    assert(frames.length == 1 && frames(0).getSeq[Array[Byte]](frames(0).fieldIndex("frames")).length == 4)
  }

  test("perplexity calculator: PPLModel.calc_ppl arithmetic over encoder token ids") {
    // hand-computed: ids [5,3,3], lp(3)=ln 0.25 -> sum over i=1..2 = 2 ln 0.25,
    // ppl = exp(-2 ln 0.25 / 3) (divide by FULL n, the reference's quirk)
    val scorer = new UnigramTokenScorer(Map(3 -> math.log(0.25), 5 -> math.log(0.5)))
    val expected = math.exp(-(2 * math.log(0.25)) / 3)
    assert(math.abs(PerplexityCalculator.ppl(Array(5, 3, 3), scorer) - expected) < 1e-12)
    assert(PerplexityCalculator.ppl(Array(5), scorer) == 0.0) // n <= 1
    assert(PerplexityCalculator.ppl(Array.empty, scorer) == 0.0)
    // OOV tokens hit the lookup-miss path (logprob 0.0, like .get(tok, 0.0))
    assert(math.abs(PerplexityCalculator.ppl(Array(5, 99), scorer) - 1.0) < 1e-12)

    // end-to-end over the PerplexityEncoder output column
    val m = graft.text.Bpe.trainFromTexts(Iterator("low lower lowest new"), 8)
    val df = Seq((1L, "low lower"), (2L, "")).toDF("doc_id", "text")
    val enc = PerplexityEncoder.annotate(df, "text", m)
    val out = PerplexityCalculator.annotate(enc, "token_ids", scorer)(spark)
    assert(out.columns.contains("perplexity"))
    assert(out.count() == 2)
  }

  test("perplexity op: broadcast model annotates a column") {
    val arpa = "\\data\\\nngram 1=3\n\n\\1-grams:\n-1.0\t<unk>\n-0.5\t<s>\t-0.3\n-0.5\t</s>\n\n\\end\\\n"
    val model = graft.functions.ArpaModel.parse(arpa)
    val df = Seq((1L, "some text"), (2L, "more words here")).toDF("id", "text")
    val out = PerplexityOp.annotate(df, "text", model).collect()
    assert(out.forall(_.getAs[Double]("perplexity") > 0))
  }
}
