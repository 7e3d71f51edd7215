package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators._
import graft.plans.PhaseMetrics
import graft.sources.WebCorpusGen
import graft.text.{FastRepetition, PyText, TextKernels, Tokenizer, ZhSegmenter}

/** One measurement tool, one layer per subcommand:
  *
  *   sbt -batch "runMain graft.Measure kernel 4000"
  *   sbt -batch "runMain graft.Measure query <testdata>/sf0.1 streaming_dedup,full_pipeline 3"
  *   sbt -batch "runMain graft.Measure plan <testdata>/sf0.1 plans/r09 _before all"
  *   sbt -batch "runMain graft.Measure dedup 100000"
  *   sbt -batch "runMain graft.Measure scaling 20000"
  *   sbt -batch "runMain graft.Measure exact-substr /tmp/es_corpus.jsonl /tmp/es_out"
  *   sbt -batch "runMain graft.Measure scale 2000000 ann_lsh"
  *   sbt -batch "runMain graft.Measure streaming 200000 1 rocksdb"
  *   sbt -batch "runMain graft.Measure diff web /tmp/graft_diff"
  *
  * Every Spark layer runs on Bench's session conf with [[cpus]] cores and
  * is a function of a `SparkSession`, so a spec can call it; Spark phases
  * print through [[PhaseMetrics.phase]] (`{"phase":"<name>",…}` lines).
  * Neither `graft.Bench` nor `graft.Verify` is replaced: they stay the
  * frozen instruments, this tool explains their numbers layer by layer.
  */
object Measure {

  val Usage: String =
    """usage: graft.Measure <layer> ...
      |  kernel [rows]
      |  query <sfDir> <q,...|all|full_pipeline> [reps]
      |  plan <sfDir> <outDir> <suffix> [q,...|all]
      |  dedup [rows]
      |  scaling [rows]
      |  exact-substr <in.jsonl> <out> [shortSpanWords] [anchorEvery]
      |  scale [rows] [phase,...|all|none]
      |  streaming [rows] [filesPerTrigger] [hdfs|rocksdb]
      |  diff <web|zh|syn> [outDir] [rows]""".stripMargin

  /** SPARK_GRAFT_CPUS, else every processor this JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Bench's session conf: AQE, 1 MB read splits, one shuffle partition
    * per core. */
  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (768 * 1024).toString)
      .config("spark.ui.enabled", "false")

  def main(args: Array[String]): Unit = {
    val rest = args.drop(1).toList
    def num(i: Int, default: Long): Long = rest.lift(i).fold(default)(_.toLong)
    def withSession(conf: (String, String)*)(f: SparkSession => Unit): Unit = {
      val spark = conf.foldLeft(builder(s"local[$cpus]", cpus)) { case (b, (k, v)) => b.config(k, v) }
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try f(spark) finally spark.stop()
    }
    (args.headOption.getOrElse(""), rest) match {
      case ("kernel", _) => kernel(num(0, 4000).toInt)
      case ("scaling", _) => scaling(num(0, 200000))
      case ("query", sfDir :: qs :: _) =>
        withSession()(query(_, sfDir, queryNames(qs), num(2, 3).toInt))
      case ("plan", sfDir :: outDir :: suffix :: qs) =>
        withSession()(plan(_, sfDir, outDir, suffix, queryNames(qs.headOption.getOrElse("all"))))
      case ("dedup", _) =>
        withSession() { spark =>
          val r = dedup(spark, num(0, 100000))
          if (r.labelMismatches != 0 || r.guardedKept != r.fallbackKept) sys.exit(1)
        }
      case ("exact-substr", in :: out :: opt) =>
        withSession()(exactSubstr(_, in, out, opt.lift(0).map(_.toInt), opt.lift(1).map(_.toInt)))
      case ("scale", _) =>
        val phases = rest.lift(1).filter(_ != "all").fold(ScalePhases)(_.split(",").toSeq)
        // at-scale rows stay comparable with BENCH.md: 64 shuffle partitions, 2 MB read splits
        withSession("spark.sql.shuffle.partitions" -> "64",
          "spark.sql.files.maxPartitionBytes" -> (2 * 1024 * 1024).toString)(scale(_, num(0, 2000000), phases))
      case ("streaming", _) =>
        withSession()(streaming(_, num(0, 200000), num(1, 1).toInt, rest.lift(2).getOrElse("hdfs")))
      case ("diff", kind :: opt) if DiffDirs.contains(kind) =>
        withSession()(diff(_, kind, opt.headOption.getOrElse(DiffDirs(kind)), num(2, 4000).toInt))
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
  }

  private def queryNames(arg: String): Seq[String] =
    if (arg == "all") SparkEntry.queries.keys.toSeq.sorted else arg.split(",").toSeq

  private def queryFn(name: String) = SparkEntry.queries.getOrElse(name,
    sys.error(s"unknown query $name; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))

  // ---- kernel ------------------------------------------------------------

  /** Single-threaded ns/doc of each per-doc kernel over `rows`
    * WebCorpusGen rows (seed 42), after a 500-doc warm-up. The fineweb
    * `DocStage`s (Bench's full_pipeline chain) are named as the stage, like
    * perfbench's `kernel.<stage>`; each runs over every row, not only the
    * survivors of earlier stages. Then the gopher_repetition phase split
    * (each step includes the ones it builds on) and the minhash signature
    * steps of `MinhashDedup.signatures`. Returns (kernel, ms) in order. */
  def kernel(rows: Int): Seq[(String, Double)] = {
    val docs = Array.tabulate(rows) { i =>
      val p = WebCorpusGen.genRow(i.toLong, 42L)
      PipeDoc(p.url, p.warc_ts, p.text, p.lang, "", 0.0, 0L, keep = true, "", "")
    }
    val texts = docs.map(_.text)
    def time[A](name: String, in: Array[A])(f: A => Any): (String, Double) = {
      var i = 0
      while (i < math.min(500, in.length)) { f(in(i)); i += 1 }
      val t0 = System.nanoTime()
      i = 0
      while (i < in.length) { f(in(i)); i += 1 }
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"""{"kernel":"$name","docs":${in.length},"ms":$ms%.1f,"ns_per_doc":${ms * 1e6 / math.max(in.length, 1)}%.0f}""")
      name -> ms
    }
    val stages = Presets.fineweb(
      urlFilter = new UrlFilter(blockListedDomains = WebCorpusGen.BlockedDomains),
      languages = Some(Seq("en")),
      badwords = WebCorpusGen.BadWordsFixture.asMap)
    val stageTimes = stages.map { st =>
      val ctx = new StageContext(0, PipelineConfig())
      time(st.name, docs)(st.process(_, ctx))
    }
    val textTimes = Seq(
      time("simplify_text", texts)(TextKernels.simplifyText),
      time("word_count_native", texts)(Tokenizer.wordCount),
      time("zh_segment", texts)(_ => ZhSegmenter.cut("我们今天去北京大学学习计算机")))

    def reps(t: String) = new FastRepetition.Reps(Tokenizer.words(t))
    val repTimes = Seq[(String, String => Any)](
      "strip" -> PyText.pyStrip,
      "para_dups" -> (t => TextKernels.findDuplicates(GopherRepetitionFilter.paragraphs(t))),
      "line_dups" -> (t => TextKernels.findDuplicates(GopherRepetitionFilter.lines(t))),
      "preprocess_identity" -> TextKernels.repetitionPreprocessIsIdentity,
      "tokenize" -> Tokenizer.words,
      "reps_build" -> reps,
      "top_ngrams" -> { t => val r = reps(t); (2 to 4).foreach(r.findTopDuplicate) },
      "dup_ngrams" -> { t => val r = reps(t); (5 to 10).foreach(r.findAllDuplicate) }
    ).map { case (step, f) => time(s"gopher_repetition.$step", texts)(f) }

    val cfg = MinhashDedupConfig()
    val (a, b) = MinhashDedup.parameters(cfg)
    val useSha1 = cfg.hashFunc == "sha1"
    val words = texts.map(t => Tokenizer.words(TextKernels.simplifyText(t))).filter(_.length >= cfg.nGrams)
    val shingles = words.map(MinhashDedup.shingleHashes(_, cfg.nGrams, useSha1))
    val minhashTimes = Seq(
      time("minhash.tokenize", texts)(t => Tokenizer.words(TextKernels.simplifyText(t))),
      time("minhash.shingle_hashes", words)(MinhashDedup.shingleHashes(_, cfg.nGrams, useSha1)),
      time("minhash.permutations", shingles)(MinhashDedup.permutationMins(_, a, b)))
    stageTimes ++ textTimes ++ repTimes ++ minhashTimes
  }

  // ---- query / plan ------------------------------------------------------

  /** Wall time of each named SparkEntry query (noop write), `reps` times,
    * one phase line per run. `full_pipeline` instead runs Bench's headline
    * pipeline best-of-`reps` on the sf dir's corpus size, between two
    * `Bench.noiseProbe`s. Returns (name, best seconds). */
  def query(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int): Seq[(String, Double)] = {
    val meter = new PhaseMetrics(spark.sparkContext)
    try names.map {
      case "full_pipeline" => "full_pipeline" -> fullPipeline(spark, sfDir, reps)
      case name =>
        val fn = queryFn(name)
        name -> (1 to reps).map { r =>
          val (_, p) = meter.phase(name)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
          println(p.json("rep" -> r))
          p.sec
        }.min
    } finally meter.detach()
  }

  private def fullPipeline(spark: SparkSession, sfDir: String, reps: Int): Double = {
    Bench.noiseProbe() // JIT warm
    val rows = Bench.corpusRows(sfDir)
    Bench.pipelineDocsPerSec(spark, math.max(rows / 10, 1000)) // JIT warm-up
    CacheRegistry.clearAll()
    System.gc()
    val probeStart = Bench.noiseProbe()
    val secs = (1 to reps).map { r =>
      val (sec, kept) = Bench.pipelineDocsPerSec(spark, rows)
      println(f"""{"rep":$r,"sec":$sec%.3f,"kept":$kept,"docs_per_sec":${(rows / sec).toLong}}""")
      sec
    }
    val probeEnd = Bench.noiseProbe()
    println(f"""{"metric":"pipeline_best","value":${secs.min}%.3f,"unit":"sec","docs_per_sec":${(rows / secs.min).toLong},"probe_start":$probeStart%.3f,"probe_end":$probeEnd%.3f}""")
    secs.min
  }

  /** Writes `explain("formatted")` of each named query's final DataFrame
    * to `<outDir>/<name><suffix>.txt`. Queries whose construction runs
    * eager driver actions (sizing counts, collects) pay them here too.
    * Returns the names that failed to plan. */
  def plan(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
           names: Seq[String]): Seq[String] = {
    val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.filterNot { n =>
      try {
        val text = queryFn(n)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(dir.resolve(s"$n$suffix.txt"),
          text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"dumped $n$suffix")
        true
      } catch {
        case e: Exception =>
          println(s"FAILED $n: ${e.getMessage}")
          false
      }
    }
  }

  // ---- dedup -------------------------------------------------------------

  final case class DedupResult(removed: Long, docsPerSec: Double, edges: Long,
                               labelMismatches: Long, guardedKept: Long, fallbackKept: Long,
                               urlGuardedKept: Long, urlFallbackKept: Long)

  /** The dedup family at `rows` docs, every step a phase:
    *  - MinHash recall and docs/s on a near-dup corpus (every 5th doc a
    *    ~2.5% word-perturbed copy of its predecessor, above the LSH design
    *    threshold s≈0.72), then its signatures → edges → components, with
    *    the distributed label propagation forced (`driverEdgeLimit = 0`)
    *    and checked label-for-label against the driver union-find;
    *  - ExactDedup and UrlDedup, the two callers of
    *    `DupCandidates.firstWins`, on a mass-dup corpus (half the docs in
    *    10-copy text families; every url shared by ~4 docs): the guarded
    *    prefilter vs the single-pass fallback forced by a zero key budget,
    *    which must keep the same count. */
  def dedup(spark: SparkSession, rows: Long): DedupResult = {
    implicit val sp: SparkSession = spark
    val meter = new PhaseMetrics(spark.sparkContext)
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): DataFrame = { cached += df.persist(StorageLevel.MEMORY_AND_DISK); df }
    def phase[T](name: String)(body: => T): (T, PhaseMetrics.Phase) = {
      val (out, p) = meter.phase(name)(body)
      println(p.json())
      (out, p)
    }
    val textOf = udf { id: Long => WebCorpusGen.genText(id, 42L)._1 }
    val perturb = udf { (text: String, id: Long) =>
      val words = text.split(" ")
      val rng = new java.util.Random(id)
      (0 until math.max(1, words.length / 40)).foreach { _ =>
        words(rng.nextInt(words.length)) = "perturbed" + rng.nextInt(100)
      }
      words.mkString(" ")
    }
    try {
      val id = col("id")
      val nearDups = keep(spark.range(rows).select(id.as("doc_id"),
        when(id % 5 === 0 && id > 0, perturb(textOf(id - 1), id)).otherwise(textOf(id)).as("text")))
      phase("near_dup_corpus")(nearDups.count())
      val (removed, mh) = phase("minhash_dedup") {
        MinhashDedup.dedup(nearDups, "doc_id", "text").where(!col("minhash_keep")).count()
      }
      val planted = math.max(rows / 5, 1L)
      println(f"""{"metric":"minhash_dedup","docs_per_sec":${rows / mh.sec}%.0f,"removed":$removed,"planted_dups":$planted,"recall":${removed.toDouble / planted}%.3f}""")

      val (sigs, _) = phase("minhash_signatures") {
        val s = keep(MinhashDedup.signatures(nearDups, "doc_id", "text"))
        s.count()
        s
      }
      val ((edges, nEdges), _) = phase("minhash_edges") {
        val e = keep(MinhashDedup.duplicateEdges(sigs))
        (e, e.count())
      }
      val (dist, _) = phase("components_distributed") {
        val l = keep(MinhashDedup.components(edges, driverEdgeLimit = 0L))
        l.count()
        l
      }
      val (uf, _) = phase("components_driver_uf") {
        val l = keep(MinhashDedup.components(edges, driverEdgeLimit = Long.MaxValue - 2))
        l.count()
        l
      }
      val (mismatches, _) = phase("label_equality") {
        uf.as("a").join(dist.as("b"), Seq("doc"), "full_outer")
          .where(!(col("a.cluster") <=> col("b.cluster"))).count()
      }

      val massDups = keep(spark.range(rows).select(id.as("doc_id"),
        textOf(when(id % 20 < 10, id - id % 20).otherwise(id)).as("text")))
      phase("mass_dup_corpus")(massDups.count())
      def singlePass[T](body: => T): T = {
        spark.conf.set(DupCandidates.MaxBroadcastKeysConf, "0")
        try body finally spark.conf.unset(DupCandidates.MaxBroadcastKeysConf)
      }
      def exactKept(): Long = ExactDedup(massDups, "doc_id", "text").where(col("exact_keep")).count()
      val (guarded, _) = phase("exact_dedup_guarded")(exactKept())
      val (fallback, _) = phase("exact_dedup_fallback")(singlePass(exactKept()))
      val docId = col("doc_id")
      val urls = massDups.select(docId,
        concat(lit("https://site.example/p"), (docId % math.max(1L, rows / 4)).cast("string")).as("url"),
        (docId % 3).as("prio"))
      def urlKept(): Long = UrlDedup(urls, "url", "doc_id", "prio").where(col("url_keep")).count()
      val (urlGuarded, _) = phase("url_dedup_guarded")(urlKept())
      val (urlFallback, _) = phase("url_dedup_fallback")(singlePass(urlKept()))
      println(s"""{"metric":"dedup_checks","edges":$nEdges,"label_mismatches":$mismatches,"guarded_kept":$guarded,"fallback_kept":$fallback,"url_guarded_kept":$urlGuarded,"url_fallback_kept":$urlFallback}""")
      DedupResult(removed, rows / mh.sec, nEdges, mismatches, guarded, fallback, urlGuarded, urlFallback)
    } finally {
      cached.foreach(_.unpersist())
      meter.detach()
    }
  }

  // ---- scaling -----------------------------------------------------------

  /** N-vs-4N scaling efficiency, rate(4N) / (4 × rate(N)), of Bench's
    * full_pipeline on `rows` docs. The sizes are `local-cluster` executor
    * JVMs (own heaps, GC and schedulers) shaped from this host: N = 1 and
    * 4N = 4 executors of max(1, cpus/4) cores, each with a quarter of half
    * of MemTotal. While N runs, spin threads occupy the 4N run's other
    * cores, so both sizes see the same per-core host conditions (turbo,
    * shared cache) a dedicated cluster would. The shared host drifts over
    * minutes, so the two sizes run in 3 adjacent pairs and the best pair
    * is reported; within a size, 2 warm-ups then best of 4. A host where
    * `local-cluster` cannot start fails here; there is no fallback mode. */
  def scaling(rows: Long): Double = {
    val coresPerExec = math.max(1, cpus / 4)
    val memTotalMb = scala.io.Source.fromFile("/proc/meminfo").getLines()
      .collectFirst { case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong / 1024 }
      .getOrElse(sys.error("no MemTotal in /proc/meminfo"))
    val execMemMb = memTotalMb / 2 / 4
    val classesDir = getClass.getProtectionDomain.getCodeSource.getLocation.getPath
    def rate(executors: Int): Double = {
      val spark = builder(s"local-cluster[$executors,$coresPerExec,$execMemMb]", executors * coresPerExec)
        .appName(s"scaling-$executors")
        .config("spark.executor.memory", s"${execMemMb}m")
        .config("spark.executor.extraJavaOptions",
          s"-XX:+UseParallelGC -XX:ParallelGCThreads=$coresPerExec")
        .config("spark.executor.extraClassPath", classesDir)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try {
        Bench.pipelineDocsPerSec(spark, rows)
        Bench.pipelineDocsPerSec(spark, rows)
        (1 to 4).map(_ => rows / Bench.pipelineDocsPerSec(spark, rows)._1).max
      } finally spark.stop()
    }
    val rounds = (1 to 3).map { r =>
      val rateN = withSpinThreads(3 * coresPerExec)(rate(1))
      val rate4N = rate(4)
      val eff = rate4N / (4.0 * rateN)
      System.err.println(f"round $r: n=${rateN.toLong} 4n=${rate4N.toLong} eff=$eff%.3f")
      (eff, rateN, rate4N)
    }
    val (eff, rateN, rate4N) = rounds.maxBy(_._1)
    println(f"""{"metric":"scaling_efficiency","value":$eff%.3f,"unit":"ratio","docs_per_sec_n":${rateN.toLong},"docs_per_sec_4n":${rate4N.toLong},"n_cores":$coresPerExec,"n4_cores":${4 * coresPerExec},"executor_memory_mb":$execMemMb,"rows":$rows,"mode":"local-cluster+ballast+paired-best-of-3"}""")
    eff
  }

  /** Pure-ALU spin threads: occupy cores without touching memory. */
  private def withSpinThreads[T](threads: Int)(body: => T): T = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => {
        var x = 1L
        while (!stop.get()) { var i = 0; while (i < 100000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 } }
        if (x == 42) println("")
      })
      t.setDaemon(true); t.setPriority(Thread.MIN_PRIORITY); t.start(); t
    }
    try body finally { stop.set(true); ts.foreach(_.join(1000)) }
  }

  // ---- exact-substr ------------------------------------------------------

  /** Per-doc removed word positions of ExactSubstrDedup over a jsonl corpus
    * of (doc_id, text), as one json file under `out`; the input of
    * `tools/exact_substr_divergence.py score`, which grades them against a
    * byte-level suffix-array truth. */
  def exactSubstr(spark: SparkSession, in: String, out: String,
                  shortSpanWords: Option[Int], anchorEvery: Option[Int]): Unit = {
    implicit val sp: SparkSession = spark
    val docs = spark.read.json(in).select(col("doc_id").cast("long"), col("text"))
    ExactSubstrDedup(docs, "doc_id", "text",
        ExactSubstrConfig(shortSpanWords = shortSpanWords, anchorEvery = anchorEvery),
        emitRemovedWords = true)
      .select(col("doc_id"), col("exact_substr_keep"), col("n_removed_words"),
        coalesce(col("removed_word_positions"), array().cast("array<int>"))
          .as("removed_word_positions"))
      .coalesce(1)
      .write.mode("overwrite").json(out)
  }

  // ---- scale -------------------------------------------------------------

  /** The phases of [[scale]] in run order. */
  val ScalePhases: Seq[String] = Seq("gen_corpus", "full_pipeline", "exact_dedup", "minhash_dedup",
    "sentence_dedup", "url_dedup", "exact_substr", "exact_substr_anchored", "extract_general", "ann_lsh")

  /** The at-scale evidence run: the headline operators over `rows`
    * WebCorpusGen docs (2M is sf1, 10× every sf0.1 figure), one phase line
    * each with its rows out and heap peak, then one `scale_evidence`
    * summary line. `gen_corpus` always runs (every phase reads the cached
    * corpus); the other phases run only if named in `phases`, so
    * `tools/scale_evidence_isolated.sh` can give each phase its own JVM:
    * in one JVM, a phase after `exact_substr`'s heap spike was measured up
    * to 3.7× slower. Each phase starts after a `System.gc()`. Returns
    * (phase, (sec, rows out)) in run order. */
  def scale(spark: SparkSession, rows: Long, phases: Seq[String]): Seq[(String, (Double, Long))] = {
    implicit val sp: SparkSession = spark
    val meter = new PhaseMetrics(spark.sparkContext)
    val results = scala.collection.mutable.ArrayBuffer[(PhaseMetrics.Phase, Long)]()
    def phase(name: String)(body: => Long): Unit =
      if (name == "gen_corpus" || phases.contains(name)) {
        System.gc()
        val (out, p) = meter.phase(name)(body)
        results += p -> out
        println(p.json("rows_out" -> out))
      }
    try {
      phase("gen_corpus") { Bench.ensureCorpus(spark, rows); rows }
      val corpus = spark.read.parquet(Bench.ensureCorpus(spark, rows))

      // the headline quality pipeline's kept count
      phase("full_pipeline")(Bench.pipelineDocsPerSec(spark, rows)._2)

      // ---- dedup family over (url, text): ids+hashes through the shuffles
      val docs = corpus.select(
        col("url"), xxhash64(col("url")).as("doc_id"), col("text"))

      phase("exact_dedup") {
        ExactDedup(docs, "doc_id", "text")
          .filter(!col("exact_keep")).count()
      }

      phase("minhash_dedup") {
        MinhashDedup.dedup(docs, "doc_id", "text")
          .filter(!col("minhash_keep")).count()
      }

      phase("sentence_dedup") {
        SentenceDedup(docs, "doc_id", "text")
          .filter(!col("sentence_dedup_keep")).count()
      }

      phase("url_dedup") {
        UrlDedup(docs.withColumn("priority", col("doc_id") % 5),
          "url", "doc_id", "priority").filter(!col("url_keep")).count()
      }

      phase("exact_substr") {
        // rolling-hash span dedup incl. the short-span pass: the heaviest
        // text-CPU dedup (tokenize + per-word hash + two span streams per
        // doc), ids+positions only through the shuffle; stride-1 (every
        // span start), where exact_substr_anchored below winnows
        ExactSubstrDedup(docs, "doc_id", "text",
          ExactSubstrConfig(shortSpanWords = Some(15)))
          .filter(!col("exact_substr_keep")).count()
      }

      phase("exact_substr_anchored") {
        // the declared 100 TB posture: winnowing anchors at w=8 sample
        // ~2/(w+1) of the stride-1 spans content-defined, so copies anchor
        // identically
        ExactSubstrDedup(docs, "doc_id", "text",
          ExactSubstrConfig(shortSpanWords = Some(15), anchorEvery = Some(8)))
          .filter(!col("exact_substr_keep")).count()
      }

      phase("extract_general") {
        // the general extractor over every page's raw html through the
        // timeout sandbox: html is the fat column the other phases prune;
        // this is the one pass that must read it
        ExtractStage(corpus.select("url", "html"), "html", "text",
          timeoutMs = 2000, extractor = TrafilaturaExtractor.extract)
          .filter(length(col("text")) > 0).count()
      }

      // ---- ANN LSH over synthetic 64-dim vectors with planted 5-cliques
      // (every 400th block of 5 ids shares a base vector + per-member jitter)
      phase("ann_lsh") {
        // Constructed like real text embeddings: 64-dim, components CENTERED
        // in [-1, 1]. Two at-scale lessons are baked into these parameters
        // and measured in BENCH.md §sf1:
        //  * centering — hyperplane-LSH bucket bits are ~Bernoulli(1/2) only
        //    for centered data; all-positive vectors collapse onto a few
        //    hot buckets, salted into block groups whose scored pairs grow
        //    with the bucket's square;
        //  * dimensionality — at 16 dims random-pair cosines are wide, so
        //    even 20-bit band keys collide pathologically (measured: max
        //    bucket 1876, ~0.5G candidate pairs at 2M → spill filled 77 GB
        //    of disk). At 64 dims with 24-bit bands the same corpus gives
        //    max bucket 36 and ~6M unique pairs. Low-dim embeddings need
        //    IVF, not hyperplane LSH.
        val vecs = spark.range(rows).toDF("id")
          .withColumn("base",
            when(col("id") % 400 < 5, col("id") - (col("id") % 400)).otherwise(col("id")))
          .withColumn("vec", expr(
            """transform(sequence(0, 63), j ->
               cast(pmod(hash(base * 64 + j), 2001) - 1000 as float) / 1000.0f +
               cast(pmod(hash(id * 64 + j), 7) as float) / 10000.0f)"""))
          .select(col("id"), col("vec"))
        Similarity.lshTopK(vecs, "id", "vec", k = 5, bands = 8, bitsPerBand = 24).count()
      }
    } finally meter.detach()

    val total = results.map(_._1.sec).sum
    val peakHeap = results.map(_._1.peakHeapBytes).max
    println(f"""{"metric":"scale_evidence","rows":$rows,"total_sec":$total%.1f,"peak_heap_gb":${peakHeap / 1e9}%.2f,"cpus":$cpus}""")
    results.map { case (p, out) => p.name -> (p.sec, out) }.toSeq
  }

  // ---- streaming ---------------------------------------------------------

  final case class StreamingResult(inputRows: Long, docsPerSec: Double, maxStateRows: Long,
                                   finalStateRows: Long, evicted: Long, stateBound: Long)

  /** The streaming path at scale over the real file source:
    *
    *   corpus → 20 parquet chunks, each stamped with its simulated ingest
    *   minute as modification time (the file source reads in mtime order,
    *   like successive CC dump shards) → readStream with
    *   `filesPerTrigger` files per micro-batch → full quality pipeline →
    *   stateful streaming exact dedup (event-time TTL) → noop sink
    *
    * One JSON line per micro-batch (rows/s, state-store rows) and one
    * `streaming_smoke` summary line. `stateStore` is `hdfs` (the default
    * store) or `rocksdb` (changelog checkpointing: state off the JVM heap,
    * the scale-path store for large keyed state). Requires BOUNDED STATE:
    * with a 3-minute TTL against a 30-second watermark, keys older than ~4
    * chunks are evicted, so the state store must evict and stay below
    * ~5 chunks of keys. The chunks are cached per `rows`; the query's
    * checkpoint is deleted when the run ends. */
  def streaming(spark: SparkSession, rows: Long, filesPerTrigger: Int,
                stateStore: String = "hdfs"): StreamingResult = {
    implicit val sp: SparkSession = spark
    val storeConf = stateStore match {
      case "hdfs" => Nil
      case "rocksdb" => Seq(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
      case other => throw new IllegalArgumentException(s"state store $other: expected hdfs or rocksdb")
    }
    val corpusPath = Bench.ensureCorpus(spark, rows)
    val srcDir = new java.io.File(s"/tmp/graft_stream_src_$rows")
    val nChunks = 20
    val baseTs = 1700000000000L
    if (!new java.io.File(srcDir, "_chunks_done").exists()) {
      val corpus = spark.read.parquet(corpusPath)
        .withColumn("__chunk", pmod(xxhash64(col("url")), lit(nChunks)))
      val lastTs = baseTs + nChunks * 60000L
      // one file per chunk, html dropped (the pipeline never reads it); the
      // chunk just written is the only part file stamped later than any chunk
      for (i <- 0 until nChunks) {
        val ts = baseTs + i * 60000L
        corpus.where(col("__chunk") === i)
          .withColumn("warc_ts", (lit(ts) / 1000).cast("timestamp"))
          .select("url", "warc_ts", "text", "lang")
          .coalesce(1)
          .write.mode(if (i == 0) "overwrite" else "append").parquet(srcDir.getPath)
        srcDir.listFiles().filter(f => f.getName.startsWith("part-") && f.lastModified() > lastTs)
          .foreach(_.setLastModified(ts))
      }
      new java.io.File(srcDir, "_chunks_done").createNewFile()
    }

    val schema = spark.read.parquet(srcDir.getPath).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(srcDir.getPath)
    val stages = Presets.fineweb(
      urlFilter = new UrlFilter(blockListedDomains = WebCorpusGen.BlockedDomains),
      languages = Some(Seq("en")),
      badwords = WebCorpusGen.BadWordsFixture.asMap)
    val piped = graft.streaming.StreamingQuality.run(stream, stages).filter(_.keep)
    val dedup = graft.streaming.StreamingQuality.streamingExactDedup(
      piped, watermarkDelay = "30 seconds", stateTtlMs = 3L * 60 * 1000)

    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt")
    storeConf.foreach { case (k, v) => spark.conf.set(k, v) }
    val (progress, totalSec) = try {
      val q = dedup.toDF().writeStream.format("noop")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      val t0 = System.nanoTime()
      try q.processAllAvailable() finally q.stop()
      (q.recentProgress, (System.nanoTime() - t0) / 1e9)
    } finally {
      storeConf.foreach { case (k, _) => spark.conf.unset(k) }
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    }

    var cumulativeIn = 0L
    var maxState = 0L
    var totalRemoved = 0L
    var lastState = 0L
    progress.foreach { p =>
      val so = p.stateOperators
      val stateRows = if (so.nonEmpty) so(0).numRowsTotal else 0L
      val removed = if (so.nonEmpty) so(0).numRowsRemoved else 0L
      cumulativeIn += p.numInputRows
      maxState = math.max(maxState, stateRows)
      totalRemoved += removed
      lastState = stateRows
      println(f"""{"batch":${p.batchId},"input_rows":${p.numInputRows},"rows_per_sec":${p.processedRowsPerSecond}%.0f,"state_rows":$stateRows,"state_removed":$removed}""")
    }
    val docsPerSec = cumulativeIn / totalSec
    println(f"""{"metric":"streaming_smoke","rows":$cumulativeIn,"total_sec":$totalSec%.1f,"docs_per_sec":${docsPerSec.toLong},"max_state_rows":$maxState,"final_state_rows":$lastState,"state_evicted":$totalRemoved}""")
    require(totalRemoved > 0, "no TTL eviction observed")
    // ~5 chunks of kept keys out of 20 at 200k rows, scaled with rows: TTL
    // eviction must keep pace at any volume
    val stateBound = rows * 80000L / 200000L
    require(maxState < stateBound,
      s"state unbounded: $maxState rows (bound $stateBound = ~5 chunks of keys at $rows rows)")
    StreamingResult(cumulativeIn, docsPerSec, maxState, lastState, totalRemoved, stateBound)
  }

  // ---- diff --------------------------------------------------------------

  /** Default output directory per `diff` kind. */
  private val DiffDirs: Map[String, String] = Map(
    "web" -> "/tmp/graft_diff", "zh" -> "/tmp/graft_zh_diff", "syn" -> "/tmp/graft_syn_diff")

  /** The input of one differential harness: `web` writes `corpus/` and
    * `result/` ([[DiffDump]], for tools/diff_harness.py), `zh` writes `zh/`
    * ([[ZhDiffDump]], tools/zh_diff.py), `syn` writes `split/` and `calc/`
    * ([[SynDiffDump]], tools/syn_diff.py). Each is a function of `rows`
    * alone, not of the session's core count. */
  def diff(spark: SparkSession, kind: String, outDir: String, rows: Int): Unit = kind match {
    case "web" => DiffDump.dump(spark, outDir, rows)
    case "zh" => ZhDiffDump.dump(spark, outDir, rows)
    case "syn" => SynDiffDump.dump(spark, outDir, rows)
  }
}
