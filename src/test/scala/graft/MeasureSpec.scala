package graft

import org.apache.spark.sql.functions._
import graft.operators._
import graft.plans.PhaseMetrics

/** `graft.Measure`'s layers at tiny sizes on the shared test session, so
  * the measurement tool is compiled, run and checked with the engine it
  * measures. `scaling` launches executor JVMs and is not run here. */
class MeasureSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("kernel: every fineweb stage timed under its DocStage name, plus the split steps") {
    val names = Measure.kernel(40).map(_._1)
    val stages = Presets.fineweb(badwords = Map("en" -> Seq("x"))).map(_.name)
    assert(stages.forall(names.contains), s"$stages vs $names")
    assert(names.contains("gopher_repetition.dup_ngrams"))
    assert(names.contains("minhash.permutations"))
    assert(names.distinct == names)
  }

  test("query and plan: a named query, full_pipeline, and one formatted plan per name") {
    val times = Measure.query(spark, sf, Seq("gopher_quality", "full_pipeline"), reps = 1)
    assert(times.map(_._1) == Seq("gopher_quality", "full_pipeline"))
    assert(times.forall(_._2 > 0))
    val dir = java.nio.file.Files.createTempDirectory("measure_plan")
    val failed = Measure.plan(spark, sf, dir.toString, "_t", Seq("gopher_quality", "no_such_query"))
    assert(failed == Seq("no_such_query"))
    val plan = new String(java.nio.file.Files.readAllBytes(dir.resolve("gopher_quality_t.txt")), "UTF-8")
    assert(plan.contains("== Physical Plan =="))
  }

  test("query: a query that reaches an operator cache leaves nothing cached once its frames are dropped") {
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    spark.catalog.clearCache()
    val samplers = Seq("hard_sampler", "cdf_sampler", "hard_sampler_frac")
    val ann = Seq("ann_lsh_topk", "ann_lsh_topk_exact", "ann_ivf_topk_exact", "cosine_near_dup")
    val dedup = Seq("exact_substr", "exact_substr_short", "exact_substr_anchored",
      "minhash_dedup_exact", "simhash_dedup_exact", "sentence_dedup_exact", "sentence_dedup_sent",
      "bloom_dedup_exact", "bloom_dedup", "minhash_dedup_index", "sentence_dedup_index",
      "url_dedup_index")
    val twins = Seq("minhash_dedup", "minhash_dedup_dist", "sentence_dedup", "simhash_dedup")
    for (name <- samplers ++ ann ++ dedup ++ twins) {
      val before = cachedRdds
      Measure.query(spark, sf, Seq(name), reps = 1)
      assert(cacheManager.isEmpty, s"$name left a CacheManager entry")
      assert(gcUntil()((cachedRdds -- before).isEmpty), s"$name still caches RDDs ${cachedRdds -- before}")
    }
  }

  test("dedup: UF and distributed labels agree, guarded and fallback ExactDedup keep the same count") {
    val r = Measure.dedup(spark, 400)
    assert(r.edges > 0 && r.removed > 0)
    assert(r.labelMismatches == 0)
    assert(r.guardedKept == r.fallbackKept)
    assert(r.guardedKept < 400)
    // UrlDedup, the helper's other caller: 100 url groups of 4 docs
    assert(r.urlGuardedKept == r.urlFallbackKept)
    assert(r.urlGuardedKept == 100)
  }

  test("exact-substr: one output row per input doc, later copies of a shared passage cut") {
    val dir = java.nio.file.Files.createTempDirectory("measure_es")
    val passage = (1 to 60).map(i => s"shared$i").mkString(" ")
    val docs = (0 until 12).map { i =>
      val own = (1 to 60).map(j => s"doc${i}w$j").mkString(" ")
      (i.toLong, if (i % 4 == 0) s"$own $passage" else own)
    }
    docs.toDF("doc_id", "text").coalesce(1).write.json(s"$dir/in")
    Measure.exactSubstr(spark, s"$dir/in", s"$dir/out", None, None)
    val out = spark.read.json(s"$dir/out")
    assert(out.count() == docs.size)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == docs.map(_._1))
    val cut = out.where(col("n_removed_words") > 0).select("doc_id").as[Long].collect().toSet
    assert(cut == Set(4L, 8L), "the first copy survives, later ones lose the passage")
  }

  test("phase meter: a phase holding a 64 MB array reports a heap peak of at least 64 MB") {
    val meter = new PhaseMetrics(spark.sparkContext)
    val (held, p) = try meter.phase("hold_64mb")(new Array[Byte](64 << 20)) finally meter.detach()
    assert(held.length == (64 << 20))
    assert(p.peakHeapBytes >= (64L << 20), s"peak ${p.peakHeapBytes} B")
    assert(p.json().contains(""""peak_heap_gb":"""), p.json())
  }

  test("scale: every phase runs in order with its rows out, and ann_lsh finds the planted cliques") {
    val r = Measure.scale(spark, 2000, Measure.ScalePhases)
    assert(r.map(_._1) == Measure.ScalePhases)
    assert(Measure.ScalePhases.size == 10)
    val rowsOut = r.toMap.map { case (name, (_, out)) => name -> out }
    assert(rowsOut("gen_corpus") == 2000)
    assert(rowsOut("ann_lsh") > 0)
    // url_dedup counts the rows it drops, like the other dedup phases: the
    // generator gives every page its own url, so it drops none
    val urls = spark.read.parquet(Bench.ensureCorpus(spark, 2000)).select("url")
    assert(urls.distinct().count() == 2000)
    assert(rowsOut("url_dedup") == 0)
    // gen_corpus always runs; `none` names no other phase
    assert(Measure.scale(spark, 2000, Seq("none")).map(_._1) == Seq("gen_corpus"))
  }

  test("streaming: TTL evicts keys and the state stays under its bound") {
    val r = Measure.streaming(spark, 2000, 1)
    assert(r.inputRows > 0)
    assert(r.evicted > 0)
    assert(r.maxStateRows < r.stateBound)
  }
}
