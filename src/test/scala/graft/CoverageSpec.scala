package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.operators._
import graft.plans.Checkpoint
import graft.sources.{Readers, WarcParser, WebCorpusGen, Writers}

class CoverageSpec extends SparkSpec {
  import spark.implicits._

  test("readers: jsonl round trip with adapter + synthesized id") {
    val dir = java.nio.file.Files.createTempDirectory("rd").toString
    Seq(("hello world", "a"), ("second doc", "b")).toDF("content", "tag")
      .coalesce(1).write.json(s"$dir/in")
    val df = Readers.jsonl(spark, s"$dir/in",
      Readers.Adapter(textCol = "content", extra = Map("tag2" -> "upper(tag)")))
    val rows = df.collect()
    assert(rows.length == 2)
    assert(df.columns.contains("text") && df.columns.contains("id"))
    assert(rows.forall(_.getAs[String]("id").contains("/")))
    assert(rows.map(_.getAs[String]("tag2")).toSet == Set("A", "B"))
  }

  test("writers: quarantine split by drop reason") {
    val dir = java.nio.file.Files.createTempDirectory("wr").toString
    val df = Seq((1L, "keep me", true, ""), (2L, "bad", false, "gopher_short_doc"),
      (3L, "worse", false, "lorem_ipsum")).toDF("id", "text", "keep", "drop_reason")
    Writers.withQuarantine(df, s"$dir/out", s"$dir/quarantine")
    assert(spark.read.parquet(s"$dir/out").count() == 1)
    val q = spark.read.parquet(s"$dir/quarantine")
    assert(q.count() == 2)
    assert(q.select("drop_reason").distinct().count() == 2)

    // a QualityPipeline verdict table committed through Checkpoint.stage, split
    // into a flat quarantine: one file per task, drop_reason an ordinary column
    val input = WebCorpusGen.generate(spark, 400, partitions = 4).select("url", "warc_ts", "text", "lang")
    val pipeline = new QualityPipeline(Presets.fineweb(languages = Some(Seq("en")),
      badwords = WebCorpusGen.BadWordsFixture.asMap))
    val ckpt = new Checkpoint(s"$dir/ckpt")
    val verdicts = ckpt.stage("stage_filtered")(pipeline.run(input).toDF())
    Writers.withQuarantine(verdicts, ckpt.stagePath("kept"), s"$dir/pq")
    val qRoot = new java.io.File(s"$dir/pq")
    assert(!qRoot.listFiles().exists(_.getName.startsWith("drop_reason=")))
    val qFiles = java.nio.file.Files.walk(qRoot.toPath).toArray
      .count(_.toString.endsWith(".parquet"))
    assert(qFiles >= 1 && qFiles <= verdicts.rdd.getNumPartitions, s"$qFiles quarantine files")
    val pq = spark.read.parquet(s"$dir/pq")
    assert(pq.schema("drop_reason").dataType == StringType)
    val kept = spark.read.parquet(ckpt.stagePath("kept"))
    assert(!kept.columns.contains("keep") && !kept.columns.contains("drop_reason"))
    val byReason = pq.groupBy("drop_reason").count().as[(String, Long)].collect().toMap
    val metricDrops = pipeline.metricsOf(verdicts).where(col("stage") =!= "(kept)")
      .groupBy("drop_reason").agg(sum("count")).as[(String, Long)].collect().toMap
    assert(byReason.size > 1 && byReason == metricDrops)
    assert(kept.count() + pq.count() == 400)
  }

  test("writers: a failed quarantine write leaves kept uncommitted; a rerun commits both") {
    val dir = java.nio.file.Files.createTempDirectory("torn").toString
    val ckpt = new Checkpoint(dir)
    val verdicts = ckpt.stage("stage_filtered") {
      Seq((1L, "keep me", true, ""), (2L, "bad", false, "gopher_short_doc"))
        .toDF("id", "text", "keep", "drop_reason")
    }
    // RunPipeline's stage 2: split unless kept already committed
    def stage2(quarantine: String): Unit =
      if (!ckpt.isCommitted("kept")) Writers.withQuarantine(verdicts, ckpt.stagePath("kept"), quarantine)
    val blocker = new java.io.File(s"$dir/blocker")
    assert(blocker.createNewFile())
    intercept[Exception](stage2(s"${blocker.getPath}/quarantine"))
    assert(!ckpt.isCommitted("kept"))
    stage2(s"$dir/quarantine")
    assert(ckpt.isCommitted("kept") && new java.io.File(s"$dir/quarantine/_SUCCESS").exists())
    assert(spark.read.parquet(ckpt.stagePath("kept")).count() == 1)
    assert(spark.read.parquet(s"$dir/quarantine").count() == 1)
  }

  test("compression round trips: gzip jsonl, zstd parquet (reference compression tests)") {
    val dir = java.nio.file.Files.createTempDirectory("zstd").toString
    val df = Seq((1L, "zstd compressed doc"), (2L, "another row")).toDF("id", "text")
    Writers.jsonl(df, s"$dir/j") // gzip default, like the reference
    assert(new java.io.File(s"$dir/j").listFiles().exists(_.getName.endsWith(".json.gz")))
    assert(Readers.jsonl(spark, s"$dir/j").count() == 2)
    // text-format zstd needs Hadoop's native codec (absent here —
    // documented in Writers.jsonl); parquet zstd works via zstd-jni
    Writers.parquet(df, s"$dir/p", compression = "zstd")
    assert(new java.io.File(s"$dir/p").listFiles().exists(_.getName.contains(".zstd.parquet")))
    val pBack = spark.read.parquet(s"$dir/p")
    assert(pBack.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("zstd compressed doc", "another row"))
  }

  test("SparkEntry.entry: flagship query returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("warc parser: response records with html extracted") {
    val html = "<html><body><p>Hi there.</p></body></html>"
    val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$html"
    def record(tpe: String, uri: String, body: String): String =
      s"WARC/1.0\r\nWARC-Type: $tpe\r\nWARC-Target-URI: $uri\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n" +
      s"WARC-Record-ID: <urn:test:$uri>\r\nContent-Length: ${body.getBytes("UTF-8").length}\r\n\r\n$body\r\n\r\n"
    val warc = record("warcinfo", "meta", "software: test") +
      record("response", "https://x.com/a", http) +
      record("request", "https://x.com/a", "GET /") +
      record("response", "https://x.com/b", http)
    val docs = WarcParser.parse("f.warc", warc.getBytes("UTF-8")).toList
    assert(docs.length == 2)
    assert(docs.map(_.url) == List("https://x.com/a", "https://x.com/b"))
    assert(new String(docs.head.html, "UTF-8") == html)

    // real Common-Crawl .warc.gz = one gzip MEMBER PER RECORD, concatenated;
    // the parser must decompress across member boundaries (GZIPInputStream's
    // multi-member mode), not stop at the first trailer
    def gzipMember(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(s.getBytes("UTF-8")); gz.close()
      bos.toByteArray
    }
    val multi = Array(
      record("warcinfo", "meta", "software: test"),
      record("response", "https://x.com/a", http),
      record("response", "https://x.com/b", http)).flatMap(gzipMember)
    val gzDocs = WarcParser.parse("f.warc.gz", multi).toList
    assert(gzDocs.map(_.url) == List("https://x.com/a", "https://x.com/b"))
    assert(new String(gzDocs.head.html, "UTF-8") == html)
  }

  test("warc decode: utf-8 strict, BOMs, meta charset, 1252 fallback, binary drop") {
    import graft.sources.WarcParser.decodeHtml
    // clean utf-8 (incl. multibyte) decodes strictly
    assert(decodeHtml("héllo ☃".getBytes("UTF-8")).contains("héllo ☃"))
    assert(decodeHtml(Array.empty[Byte]).contains(""))
    // utf-16 BOMs win and the BOM is stripped
    assert(decodeHtml("\ufeffhi".getBytes("UTF-16LE")).contains("hi"))
    assert(decodeHtml("\ufeffhi".getBytes("UTF-16BE")).contains("hi"))
    // invalid utf-8 with a declared meta charset decodes with it
    val html1252 = "<html><meta charset=\"windows-1252\"><body>café</body>"
    assert(decodeHtml(html1252.getBytes("windows-1252")).contains(
      "<html><meta charset=\"windows-1252\"><body>café</body>"))
    // declared utf-8 that fails strict decode -> dropped (reference's
    // detect==charset return path)
    val badUtf8 = "<meta charset=utf-8>x".getBytes("ISO-8859-1") ++ Array(0xe9.toByte)
    assert(decodeHtml(badUtf8).isEmpty)
    // undeclared legacy single-byte text falls back to windows-1252
    assert(decodeHtml("café plain".getBytes("windows-1252")).contains("café plain"))
    // binary junk (NULs) is dropped, not mojibake'd
    assert(decodeHtml(Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x00, 0x0d)).isEmpty)
    // utf-8 BOM is stripped (Java's strict decoder keeps it by default)
    assert(decodeHtml(Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
      "hi".getBytes("UTF-8")).contains("hi"))
    // a syntactically illegal declared charset drops the doc, not the task
    val badName = "<meta charset=\"-foo\">x".getBytes("ISO-8859-1") ++ Array(0xe9.toByte)
    assert(decodeHtml(badName).isEmpty)
  }

  test("warcText: undecodable response records are dropped, html is a string column") {
    val dir = java.nio.file.Files.createTempDirectory("warctext").toString
    val html = "<html><body>café</body></html>"
    val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$html"
    def record(body: Array[Byte]): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://x.com/p\r\n" +
       s"WARC-Date: 2024-01-01T00:00:00Z\r\nWARC-Record-ID: <urn:t:1>\r\n" +
       s"Content-Length: ${body.length}\r\n\r\n").getBytes("ISO-8859-1") ++
      body ++ "\r\n\r\n".getBytes("ISO-8859-1")
    val binaryBody = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n").getBytes("ISO-8859-1") ++
      Array[Byte](0x00, 0x01, 0xff.toByte, 0xfe.toByte, 0x00, 0x00) // not a BOM'd text either
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/t.warc"),
      record(http.getBytes("UTF-8")) ++ record(binaryBody))
    val out = Readers.warcText(spark, s"$dir/t.warc")
    val rows = out.collect()
    assert(rows.length == 1) // binary record dropped like the reference
    assert(rows.head.getAs[String]("html") == html)
  }

  test("decont: indexed benchmark n-grams drop contaminated docs") {
    val bench = "the secret benchmark question about ancient rivers and golden mountains appears here today exactly twelve words"
    val benchDf = Seq(bench).toDF("text")
    val index = DecontFilter.buildIndex(benchDf, "text", DecontConfig(nGrams = 8))
    assert(index.nonEmpty)
    val docs = Seq(
      (1L, "clean document with completely different content about trains and winters"),
      (2L, "prefix words then " + bench + " plus suffix words")).toDF("id", "text")
    val out = DecontFilter(docs, index, "text", DecontConfig(nGrams = 8)).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("decont_keep")).toMap
    assert(out == Map(1L -> true, 2L -> false))
  }

  test("classifier filter: span mode rewrites text to passing units") {
    val scorer = (t: String) =>
      Map("good" -> (if (t.contains("good")) 1.0 else 0.0))
    val st = ClassifierFilter.stage("clf", scorer,
      keepLabels = Seq("good" -> 0.5), granularity = ClassifierFilter.Paragraph)
    val ctx = new StageContext(0, PipelineConfig())
    val doc = PipeDoc("u", new java.sql.Timestamp(0), "good line\nbad line\nanother good one", "en",
      "en", 1.0, 0, true, "", "")
    val out = st.process(doc, ctx)
    assert(out.keep && out.text == "good line\nanother good one")
    val allBad = st.process(doc.copy(text = "bad\nworse"), ctx)
    assert(!allBad.keep && allBad.drop_reason == "classifier_all_spans")
  }

  test("symbol lines formatter collapses symbol-only runs (reference semantics)") {
    val f = new SymbolLinesFormatter()
    assert(f.format("real line\n***\n---\nanother line") == "real line\nanother line")
    val g = new SymbolLinesFormatter(replaceChar = "¶")
    assert(g.format("a\n***\n---\nb") == "a\n¶\nb")
    // whitespace-only lines kept
    assert(f.format("a\n  \nb") == "a\n  \nb")
  }

  test("sampling: hard top-k by token budget") {
    val df = Seq((1L, 0.9, 100L), (2L, 0.8, 100L), (3L, 0.7, 100L), (4L, 0.6, 100L))
      .toDF("id", "score", "tokens")
    val out = Sampling.hardTopByTokens(df, "score", "tokens", 250L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 3L)) // 300 tokens started before budget 250 exhausted
  }

  test("sampling: hardTopP fraction surface (doc/token units, highest/lowest, edge quirks)") {
    val df = Seq((1L, 0.9, 50L), (2L, 0.8, 30L), (3L, 0.7, 20L), (4L, 0.6, 10L))
      .toDF("id", "score", "tokens")
    def ids(out: org.apache.spark.sql.DataFrame) =
      out.select("id").collect().map(_.getLong(0)).toSet
    // doc mode: exactly int(0.5 * 4) = 2 top-scored docs
    assert(ids(Sampling.hardTopP(df, "score", 0.5)) == Set(1L, 2L))
    // doc mode truncation: int(0.6 * 4) = 2, not 3
    assert(ids(Sampling.hardTopP(df, "score", 0.6)) == Set(1L, 2L))
    // token mode: budget int(0.5 * 110) = 55 — doc 1 (50) doesn't reach it,
    // doc 2 crosses it and is still kept (append-then-break)
    assert(ids(Sampling.hardTopP(df, "score", 0.5, unit = "token")) == Set(1L, 2L))
    // token mode degenerate edge: top_p = 0 still keeps the top doc
    assert(ids(Sampling.hardTopP(df, "score", 0.0, unit = "token")) == Set(1L))
    // ...and EXACTLY one doc even when leaders have zero tokens (the
    // reference appends one then breaks; a prefix-sum filter alone would
    // keep every zero-token leader)
    val zeros = Seq((1L, 0.9, 0L), (2L, 0.8, 0L), (3L, 0.7, 5L))
      .toDF("id", "score", "tokens")
    assert(ids(Sampling.hardTopP(zeros, "score", 0.0, unit = "token")) == Set(1L))
    // doc mode top_p = 0 keeps nothing (indexes[:0])
    assert(ids(Sampling.hardTopP(df, "score", 0.0)) == Set.empty[Long])
    // lowest-first flips the order
    assert(ids(Sampling.hardTopP(df, "score", 0.5, highest = false)) == Set(3L, 4L))
  }

  test("sampling: cdf sample gives hard docs p=1 and is seeded-deterministic") {
    val df = (1 to 100).map(i => (i.toLong, 1.0 - i / 100.0, 10L)).toDF("id", "score", "tokens")
    val out = Sampling.cdfSample(df, "score", "tokens", hardFraction = 0.2, rate = 0.5).cache()
    val hard = out.where(col("sample_p") === 1.0).count()
    assert(hard == 20)
    val s1 = out.where(col("sampled")).count()
    val again = Sampling.cdfSample(df, "score", "tokens", 0.2, 0.5).where(col("sampled")).count()
    assert(s1 == again)
  }

  test("bloom dedup: repeated doc within a partition gets dropped") {
    val text = ("many shared words appear in this long repeated paragraph about rivers " * 4).trim
    val df = Seq((1L, text), (2L, text), (3L, "totally different and unique short content here okay"))
      .toDF("id", "text").coalesce(1)
    val out = BloomDedup(df, "id", "text", BloomDedupConfig(nGrams = 5)).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("bloom_keep")).toMap
    assert(out(3L))
    assert(out(1L) != out(2L) || out(1L)) // first occurrence kept, second dropped
    assert(!out(2L) || !out(1L) == false)
  }

  test("bloom dedup: intra-doc repetition does not count against itself (two-phase query)") {
    // doc 1 repeats its own 5-grams heavily but is unique corpus-wide —
    // the reference queries all shingles before updating, so it's kept
    val selfRep = ("alpha beta gamma delta epsilon " * 10).trim
    val df = Seq((1L, selfRep), (2L, selfRep),
        (3L, "another unique document with completely fresh words throughout"))
      .toDF("id", "text").coalesce(1).sortWithinPartitions("id")
    val out = BloomDedup(df, "id", "text", BloomDedupConfig(nGrams = 5)).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("bloom_keep")).toMap
    assert(out(1L), "internally-repetitive unique doc must be kept")
    assert(!out(2L), "true duplicate of doc 1 must drop")
    assert(out(3L))
  }

  test("fingerprint: identical content → same hash; winnow sketch overlaps for near-dups") {
    val a = "the quiet market watched the golden river and then the ancient bridge appeared near the harbor today"
    val b = a.replace("today", "yesterday")
    assert(graft.functions.Fingerprint.contentHash(a) == graft.functions.Fingerprint.contentHash(a))
    assert(graft.functions.Fingerprint.contentHash(a) != graft.functions.Fingerprint.contentHash(b))
    val sa = graft.functions.Fingerprint.winnow(a, n = 3, window = 4).toSet
    val sb = graft.functions.Fingerprint.winnow(b, n = 3, window = 4).toSet
    assert(sa.intersect(sb).nonEmpty)
  }

  test("stats: summary + histogram + topK machinery") {
    val df = Seq.tabulate(100)(i => (i.toLong, (i % 10).toDouble)).toDF("id", "v")
    val s = StatsOps.summary(df, "v").collect().head
    assert(s.getAs[Long]("n") == 100 && s.getAs[Double]("mean") == 4.5)
    assert(StatsOps.histogram(df, "v").count() == 10)
    val grouped = df.groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n"))
    assert(StatsOps.topK(grouped, "k", "n", 3).count() == 3)
  }

  test("SqlFilters: declarative column cascade agrees with the kernel on the corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val kernelUdf = udf { t: String =>
      GopherQualityFilter.check(t,
        GopherQualityConfig(minDocWords = Some(40), minStopWords = Some(1))).getOrElse("")
    }
    val both = docs.select(col("doc_id"),
        kernelUdf(col("text")).as("k"),
        SqlFilters.gopherQualityReason(col("text"), minDocWords = 40, minStopWords = 1).as("s"))
      .where(col("k") =!= col("s"))
    assert(both.count() == 0)
    // and the plan contains no ScalaUDF for the declarative side
    val plan = docs.select(SqlFilters.gopherQualityReason(col("text")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan.take(400))
  }

  test("SQL surface: registered graft_* functions usable from spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    Seq((1L, "I am too small..."), (2L, Fixtures.TEXT_LF_1)).toDF("id", "text")
      .createOrReplaceTempView("pages")
    val out = spark.sql(
      """SELECT id, graft_gopher_quality(text) AS reason,
                graft_word_count(text) AS wc,
                graft_lang(text) AS lang,
                graft_pii_scrub(text || ' mail x@y.com') AS scrubbed
         FROM pages ORDER BY id""").collect()
    assert(out(0).getAs[String]("reason") == "gopher_short_doc")
    assert(out(1).getAs[String]("reason") == "" && out(1).getAs[String]("lang") == "en")
    assert(out(0).getAs[String]("scrubbed").contains("email@example.com"))
    assert(spark.sql("SELECT graft_simplify('|$17.56||1|')").first().getString(0) == "0 0")
  }

  test("stats: doc/word/line metric columns") {
    val df = Seq((1L, "Hello World. This has SOME words...\nshort\nand a longer line that goes on.")).toDF("id", "text")
    val d = StatsOps.docStats(df).collect().head
    assert(d.getAs[Long]("length") > 0 && d.getAs[Double]("white_space_ratio") > 0)
    val w = StatsOps.wordStats(df).collect().head
    assert(w.getAs[Long]("n_words") > 10 && w.getAs[Double]("type_token_ratio") > 0.5)
    val l = StatsOps.lineStats(df).collect().head
    assert(l.getAs[Long]("n_lines") == 3)
  }
}
