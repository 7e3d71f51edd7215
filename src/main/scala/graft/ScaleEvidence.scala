package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.plans.PhaseMetrics
import graft.sources.WebCorpusGen

/** Round-5 at-scale evidence run (VERDICT r4 "Next round" #3): one sf1-scale
  * (2M-row) pass of the headline operators with per-phase shuffle bytes and
  * driver-heap peaks — every other number in BENCH.md is sf0.1 (200k), so
  * this is the 10× step that shows no driver-memory cliffs or state blowups
  * on the path to 100 TB. Run:
  *
  *   SPARK_DRIVER_MEM=48g sbt -batch "runMain graft.ScaleEvidence 2000000"
  *
  * Prints one JSON line per phase + a final summary line (grep {"phase").
  * Phase attribution uses job groups → stage ids via a SparkListener; heap
  * peaks are sampled by a 100 ms poller (driver+executors share the JVM in
  * local mode, so this is the whole-process ceiling, the conservative view).
  */
object ScaleEvidence {

  // Two running maxima: `peakHeap` is the whole-run ceiling for the summary
  // line; `phasePeak` is snapshotted+reset at each phase boundary so the
  // per-phase JSON attributes heap to ITS OWN phase rather than repeating
  // the run's earlier high-water mark (ADVICE r5).
  @volatile private var peakHeap = 0L
  @volatile private var phasePeak = 0L
  private def resetPhasePeak(): Unit =
    phasePeak = {
      val rt = Runtime.getRuntime
      rt.totalMemory() - rt.freeMemory()
    }
  private def startHeapPoller(): Thread = {
    val t = new Thread(() => {
      val rt = Runtime.getRuntime
      var live = true
      while (live && !Thread.currentThread().isInterrupted) {
        val used = rt.totalMemory() - rt.freeMemory()
        if (used > peakHeap) peakHeap = used
        if (used > phasePeak) phasePeak = used
        try Thread.sleep(100) catch { case _: InterruptedException => live = false }
      }
    }, "heap-poller")
    t.setDaemon(true)
    t.start()
    t
  }

  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 2000000L
    // Optional phase selector (2nd arg, comma-separated): running ONE phase
    // per JVM gives dedicated numbers — r5 measured cross-phase
    // contamination in the single-JVM sequence (ann_lsh 18→68 s right after
    // exact_substr's 36 GB heap spike; exact_dedup 5.2–43.1 s spread from
    // page-cache/GC neighbors). tools/scale_evidence_isolated.sh loops the
    // phases through fresh JVMs.
    val onlyPhases: Option[Set[String]] =
      if (args.length > 1 && args(1) != "all") Some(args(1).split(",").toSet)
      else None
    val cpus = Measure.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (2 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (768 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new PhaseMetrics(spark.sparkContext)
    startHeapPoller()
    implicit val sp: SparkSession = spark

    val results = scala.collection.mutable.LinkedHashMap[String, (Double, Long)]()

    // gen_corpus always runs (every phase reads its output); others obey
    // the selector so one JVM can measure one phase in isolation
    def phase(name: String)(body: => Long): Unit =
      if (name == "gen_corpus" || onlyPhases.forall(_.contains(name))) {
        // settle the JVM before attributing heap/time to this phase
        System.gc()
        resetPhasePeak()
        val (out, p) = metrics.phase(name)(body)
        results(name) = (p.sec, out)
        // phase-local peak (snapshotted after the body, reset at entry) —
        // the global run max only appears in the summary line
        println(p.json("rows_out" -> out, "peak_heap_gb" -> phasePeak / 1e9))
      }

    // ---- corpus (cached across runs like Bench.ensureCorpus)
    val path = s"/tmp/graft_corpus_$rows"
    phase("gen_corpus") {
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        WebCorpusGen.generate(spark, rows, partitions = 256)
          .write.mode("overwrite").parquet(path)
      }
      rows
    }
    val corpus = spark.read.parquet(path)

    // ---- full quality pipeline (headline docs/s at 10x the bench SF)
    phase("full_pipeline") {
      val pipeline = new QualityPipeline(Presets.fineweb(
        urlFilter = new UrlFilter(blockListedDomains = WebCorpusGen.BlockedDomains),
        languages = Some(Seq("en")),
        badwords = WebCorpusGen.BadWordsFixture.asMap))
      pipeline.run(corpus).filter(_.keep).count()
    }

    // ---- dedup family over (url, text): ids+hashes through the shuffles
    val docs = corpus.select(
      col("url"), xxhash64(col("url")).as("doc_id"), col("text"))

    phase("exact_dedup") {
      // the PRODUCT operator (annotate-back included); was an inline
      // groupBy(text) probe through round 6's first isolated table
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
        "url", "doc_id", "priority").count()
    }

    phase("exact_substr") {
      // rolling-hash span dedup incl. the round-5 short-span pass — the
      // heaviest text-CPU dedup (tokenize + per-word hash + two span
      // streams per doc), ids+positions only through the shuffle; stride-1
      // (every span start), where exact_substr_anchored below winnows
      ExactSubstrDedup(docs, "doc_id", "text",
        ExactSubstrConfig(shortSpanWords = Some(15)))
        .filter(!col("exact_substr_keep")).count()
    }

    phase("exact_substr_anchored") {
      // the declared 100 TB posture as its own dedicated row (VERDICT r5
      // #6): winnowing anchors at w=8 sample ~2/(w+1) of the stride-1
      // spans content-defined, so copies anchor identically
      ExactSubstrDedup(docs, "doc_id", "text",
        ExactSubstrConfig(shortSpanWords = Some(15), anchorEvery = Some(8)))
        .filter(!col("exact_substr_keep")).count()
    }

    phase("extract_general") {
      // the round-5 general extractor over every page's raw html through
      // the timeout sandbox — html is the fat column the other phases
      // prune; this is the one pass that must read it
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
      val n = rows
      val vecs = spark.range(n).toDF("id")
        .withColumn("base",
          when(col("id") % 400 < 5, col("id") - (col("id") % 400)).otherwise(col("id")))
        .withColumn("vec", expr(
          """transform(sequence(0, 63), j ->
             cast(pmod(hash(base * 64 + j), 2001) - 1000 as float) / 1000.0f +
             cast(pmod(hash(id * 64 + j), 7) as float) / 10000.0f)"""))
        .select(col("id"), col("vec"))
      Similarity.lshTopK(vecs, "id", "vec", k = 5, bands = 8, bitsPerBand = 24).count()
    }

    val total = results.valuesIterator.map(_._1).sum
    println(f"""{"metric":"scale_evidence","rows":$rows,"total_sec":$total%.1f,"peak_heap_gb":${peakHeap / 1e9}%.2f,"cpus":$cpus}""")
    spark.stop()
  }
}
