package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.RunPipeline
import graft.operators._
import graft.plans.Checkpoint
import graft.sources.{WebCorpusGen, Writers}

/** One job iteration's context: where it reads and writes, and the tracer
  * when the iteration is traced. */
final case class JobCtx(spark: SparkSession, input: String, out: String, tracer: Option[Tracer]) {
  /** Times `body` as a span with its own job group when traced. */
  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name, parent = "job", sc = spark.sparkContext)(body)
    case None => body
  }
}

/** The checked outcome of one job: problems found (empty when correct), a
  * fingerprint that every iteration of a run must repeat, and per-layer
  * values only the output can give. */
final case class Outcome(problems: Seq[String], fingerprint: String, layer: Map[String, Double])

abstract class Workload(val seed: Long, val rows: Int) {
  def name: String
  def confs: Seq[(String, String)]
  /** Untimed jobs before measuring. JIT compilation goes on for several
    * jobs, and a fixed count (not a time) puts every run's measured jobs at
    * the same point of it. */
  def warmupJobs: Int = 3
  /** Writes the seeded input table to `dir`. */
  def generate(spark: SparkSession, dir: String): Unit
  /** One run of the job, from first read to committed output. */
  def job(ctx: JobCtx): Unit
  def check(ctx: JobCtx): Outcome
  /** Per-layer values measured once per traced run, outside the timed job. */
  def tracedExtras(ctx: JobCtx): Map[String, Double] = Map.empty
  /** Layer families (keys of `Workload.families`) this workload never
    * calls by design; a traced run reports their metrics as 0. */
  def uncalledFamilies: Seq[String] = Nil
  /** Job groups every traced job must run; one that runs no jobs fails the job. */
  def requiredGroups: Seq[String] = Nil
  /** Fingerprints pinned for a (seed, rows) pair; the run must reproduce them. */
  def pinned: Map[(Long, Int), String] = Map.empty

  protected def digest(df: DataFrame, cols: String*): String =
    df.agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
      .collect().head.toSeq.mkString("/")
}

object Workload {
  val names: Seq[String] = Seq("quality_filter", "ann_topk")
  def apply(name: String, seed: Long, rows: Option[Int]): Workload = name match {
    case "quality_filter" => new QualityFilterWorkload(seed, rows.getOrElse(6000))
    case "ann_topk" => new AnnTopKWorkload(seed, rows.getOrElse(4000))
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${names.mkString(", ")})")
  }

  val kernelStages: Seq[String] = QualityFilterWorkload.stages.map(_.name)
  val dedupPhases: Seq[String] = Seq("exact_dedup", "url_dedup", "minhash_dedup", "sentence_dedup", "exact_substr")
  val annMethods: Seq[String] = Seq("lsh", "ivf")

  def groupMetrics(prefix: String, g: GroupStats): Map[String, Double] = Map(
    s"$prefix.jobs" -> g.jobs.toDouble,
    s"$prefix.shuffle_read_bytes" -> g.shuffleReadBytes.toDouble,
    s"$prefix.shuffle_write_bytes" -> g.shuffleWriteBytes.toDouble,
    s"$prefix.spill_bytes" -> g.spillBytes.toDouble,
    s"$prefix.task_skew" -> g.taskSkew)

  /** Per-layer metric names by the layer family that produces them. */
  val families: Map[String, Seq[String]] = Map(
    "kernel" -> (for (s <- kernelStages; m <- Seq("docs_in", "docs_dropped", "busy_ms")) yield s"kernel.$s.$m"),
    "quality" -> Seq("sources.scan_s", "sources.write_s", "sources.bytes_read", "sources.bytes_written",
      "pipeline.tasks", "pipeline.task_ms_p50", "pipeline.task_ms_max", "pipeline.cpu_busy_frac"),
    "scaling" -> Seq("scaling.eff_1v4"),
    "dedup" -> ((for (p <- dedupPhases; m <- Seq("s", "rows_in", "rows_out", "jobs", "shuffle_read_bytes",
      "shuffle_write_bytes", "spill_bytes", "task_skew")) yield s"dedup.$p.$m") ++
      Seq("dedup.minhash.signatures_s", "dedup.minhash.edges", "dedup.minhash.edges_s", "dedup.minhash.components_s")),
    "ann" -> (for (a <- annMethods; m <- Seq("s", "jobs", "shuffle_read_bytes", "shuffle_write_bytes",
      "shuffle_records", "spill_bytes", "task_skew", "recall_at_1")) yield s"ann.$a.$m"))
}

/** read → QualityPipeline(fineweb) → committed verdicts → Writers.withQuarantine:
  * RunPipeline's stages 1 and 2 over a WebCorpusGen corpus. */
final class QualityFilterWorkload(seed: Long, rows: Int) extends Workload(seed, rows) {
  val name = "quality_filter"
  override def uncalledFamilies: Seq[String] = Seq("dedup", "ann")
  override def requiredGroups: Seq[String] = Seq("quality.filter", "quality.write")
  // CPU-bound kernels: small read splits so every core gets tasks
  val confs = Seq(
    "spark.sql.files.maxPartitionBytes" -> (1024 * 1024).toString,
    "spark.sql.files.openCostInBytes" -> (768 * 1024).toString)

  def generate(spark: SparkSession, dir: String): Unit =
    WebCorpusGen.generate(spark, rows, seed, partitions = math.max(1, rows / 1000))
      .select("url", "warc_ts", "text", "lang").write.parquet(dir)

  def job(ctx: JobCtx): Unit = {
    implicit val spark: SparkSession = ctx.spark
    val stages = QualityFilterWorkload.stages
    val chain = ctx.tracer match {
      case Some(t) => stages.map(TimedStage.wrap(t, spark.sparkContext, _))
      case None => stages
    }
    val pipeline = new QualityPipeline(chain)
    val ckpt = new Checkpoint(ctx.out)
    val filtered = ctx.span("quality.filter") {
      ckpt.stage("stage_filtered")(pipeline.run(spark.read.parquet(ctx.input)).toDF())
    }
    ctx.span("quality.metrics")(ckpt.writeMetrics("stage_filtered", pipeline.metricsOf(filtered)))
    ctx.span("quality.write") {
      Writers.withQuarantine(filtered, ckpt.stagePath("kept"), s"${ctx.out}/quarantine")
    }
  }

  def check(ctx: JobCtx): Outcome = {
    val spark = ctx.spark
    val kept = spark.read.parquet(s"${ctx.out}/kept")
    val quarantine = spark.read.parquet(s"${ctx.out}/quarantine")
    val keptDigest = digest(kept, "url", "text")
    val quarantineDigest = digest(quarantine, "url", "drop_reason")
    val nKept = keptDigest.takeWhile(_ != '/').toLong
    val nQuarantine = quarantineDigest.takeWhile(_ != '/').toLong
    val problems = Seq.newBuilder[String]
    if (nKept + nQuarantine != rows)
      problems += s"kept $nKept + quarantine $nQuarantine != $rows input rows"
    ctx.tracer.foreach { t =>
      val c = t.counterValues
      var expectIn = rows.toLong
      Workload.kernelStages.foreach { s =>
        val in = c.getOrElse(s"kernel.$s.docs_in", -1L)
        if (in != expectIn) problems += s"kernel $s saw $in docs, expected $expectIn"
        expectIn = in - c.getOrElse(s"kernel.$s.docs_dropped", 0L)
      }
      val dropped = Workload.kernelStages.map(s => c.getOrElse(s"kernel.$s.docs_dropped", 0L)).sum
      if (dropped != nQuarantine) problems += s"kernel drops $dropped != quarantine rows $nQuarantine"
    }
    Outcome(problems.result(), s"kept=$keptDigest quarantine=$quarantineDigest", Map.empty)
  }

  // kept = 123,665 at seed 42 over 200k rows is the repository's long-standing
  // figure; the default size pins the kept and quarantine digests too
  override def pinned: Map[(Long, Int), String] = Map(
    (42L, 200000) -> "kept=123665/",
    (42L, 6000) -> "kept=3713/31238487104750808366 quarantine=2287/167788468526635964141")

  override def tracedExtras(ctx: JobCtx): Map[String, Double] = {
    val t = ctx.tracer.get
    val spark = ctx.spark
    // the read the filter job fuses with its kernels, alone: same scan and projection
    t.span("sources.scan", "extras", spark.sparkContext) {
      spark.read.parquet(ctx.input).select("url", "warc_ts", "text", "lang")
        .write.format("noop").mode("overwrite").save()
    }
    Map("sources.scan_s" -> t.spanSeconds("sources.scan"))
  }
}

object QualityFilterWorkload {
  def stages: Seq[DocStage] = Presets.fineweb(
    urlFilter = new UrlFilter(blockListedDomains = WebCorpusGen.BlockedDomains),
    languages = Some(Seq("en")),
    badwords = WebCorpusGen.BadWordsFixture.asMap)
}

object DedupChainWorkload {
  val DefaultRows = 6000
}

/** RunPipeline.postureDedupChain (exact → url → minhash → sentence →
  * anchored exact-substring) under ScalePosture, into a fresh checkpoint.
  * Measured inside ann_topk's traced run (see Main), not as a workload. */
final class DedupChainWorkload(seed: Long, rows: Int) extends Workload(seed, rows) {
  val name = "dedup_chain"
  override def requiredGroups: Seq[String] = Workload.dedupPhases
  val confs = ScalePosture.sparkConfs
  // job scheduling, not compiled code, sets this job's time: one warm-up
  // job already brings it within a few percent of later ones
  override def warmupJobs: Int = 1
  private lazy val built = DedupCorpus.build(rows, seed)

  def generate(spark: SparkSession, dir: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(built._1.toSeq, 8)).write.parquet(dir)

  def job(ctx: JobCtx): Unit = {
    implicit val spark: SparkSession = ctx.spark
    ctx.span("dedup.chain") {
      RunPipeline.postureDedupChain(spark.read.parquet(ctx.input), new Checkpoint(ctx.out))
    }
  }

  def check(ctx: JobCtx): Outcome = {
    val spark = ctx.spark
    val plan = built._2
    val phases = spark.read.parquet(s"${ctx.out}/_metrics/posture_phases")
      .select("phase", "sec", "rows_out", "resumed").collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2), r.getBoolean(3)))).toMap
    val problems = Seq.newBuilder[String]
    val layer = Map.newBuilder[String, Double]
    var rowsIn = plan.rows.toLong
    Workload.dedupPhases.foreach { p =>
      phases.get(p) match {
        case None => problems += s"phase $p missing from posture_phases"
        case Some((sec, out, resumed)) =>
          if (resumed) problems += s"phase $p reports resumed=true in a fresh checkpoint"
          val dropped = rowsIn - out
          val expected = p match {
            case "exact_dedup" => Some(plan.exactDrops.toLong)
            case "url_dedup" => Some(plan.urlDrops.toLong)
            case _ => None
          }
          expected match {
            case Some(e) if e != dropped => problems += s"$p dropped $dropped rows, planted $e"
            case None if dropped <= 0 => problems += s"$p dropped $dropped rows, expected > 0"
            case _ => ()
          }
          layer ++= Seq(s"dedup.$p.s" -> sec, s"dedup.$p.rows_in" -> rowsIn.toDouble,
            s"dedup.$p.rows_out" -> out.toDouble)
          rowsIn = out
      }
    }
    val fin = digest(spark.read.parquet(s"${ctx.out}/stage_exact_substr"), "doc_id", "text")
    Outcome(problems.result(), s"final=$fin", layer.result())
  }

  override def pinned: Map[(Long, Int), String] = Map(
    (42L, 6000) -> "final=3263/-371632409815461544252")

  override def tracedExtras(ctx: JobCtx): Map[String, Double] = {
    val spark = ctx.spark
    val t = ctx.tracer.get
    // the minhash phase's three public steps, timed one by one over the
    // phase's committed input
    val byUrl = spark.read.parquet(s"${ctx.out}/stage_url_dedup")
    def step[T](name: String)(body: => T): T =
      t.span(s"dedup.minhash.$name", "extras", spark.sparkContext)(body)
    val sigs = step("signatures") {
      val s = MinhashDedup.signatures(byUrl, "doc_id", "text", ScalePosture.minhash).persist()
      s.count(); s
    }
    val (edges, nEdges) = step("edges") {
      val e = MinhashDedup.duplicateEdges(sigs).persist()
      (e, e.count())
    }
    step("components")(MinhashDedup.components(edges).count())
    edges.unpersist(); sigs.unpersist()
    Map("dedup.minhash.signatures_s" -> t.spanSeconds("dedup.minhash.signatures"),
      "dedup.minhash.edges" -> nEdges.toDouble,
      "dedup.minhash.edges_s" -> t.spanSeconds("dedup.minhash.edges"),
      "dedup.minhash.components_s" -> t.spanSeconds("dedup.minhash.components"))
  }
}

/** Similarity.lshTopK (k=1, 8 bands × 24 bits) and ivfTopK (k=1, 64 lists,
  * 8 probes) over clustered, centred 64-dim vectors. */
final class AnnTopKWorkload(seed: Long, rows: Int) extends Workload(seed, rows) {
  val name = "ann_topk"
  // its traced run measures the dedup family too, on the dedup chain (see Main)
  override def uncalledFamilies: Seq[String] = Seq("kernel", "quality", "scaling")
  override def requiredGroups: Seq[String] = Workload.annMethods.map(m => s"ann.$m")
  val confs = ScalePosture.sparkConfs
  private lazy val built = AnnVectors.build(rows, seed)

  def generate(spark: SparkSession, dir: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(built._1.toSeq, 8)).write.parquet(dir)

  def job(ctx: JobCtx): Unit = {
    implicit val spark: SparkSession = ctx.spark
    val vectors = spark.read.parquet(ctx.input)
    ctx.span("ann.lsh") {
      Similarity.lshTopK(vectors, "id", "vec", k = 1,
        bands = ScalePosture.lshBands, bitsPerBand = ScalePosture.lshBitsPerBand)
        .write.parquet(s"${ctx.out}/lsh")
    }
    ctx.span("ann.ivf") {
      Similarity.ivfTopK(vectors, "id", "vec", k = 1, nLists = 64, nProbe = 8)
        .write.parquet(s"${ctx.out}/ivf")
    }
  }

  override def pinned: Map[(Long, Int), String] = Map(
    (42L, 4000) -> "lsh=768/-143491798901324532947 ivf=4000/-537613730771129363711")

  def check(ctx: JobCtx): Outcome = {
    val plan = built._2
    val problems = Seq.newBuilder[String]
    val layer = Map.newBuilder[String, Double]
    val prints = Workload.annMethods.map { m =>
      val df = ctx.spark.read.parquet(s"${ctx.out}/$m")
      val top = df.select("id", "neighbor", "cosine").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val hits = plan.twins.count { case (a, b) =>
        top.get(a).exists(_._1 == b) } + plan.twins.count { case (a, b) => top.get(b).exists(_._1 == a) }
      val recall = hits.toDouble / (2 * plan.twins.length)
      if (recall < 0.9) problems += f"$m recall@1 on planted twins $recall%.4f < 0.9"
      // identical vectors tie at the top cosine; the tie-break is the smallest id
      val clique = plan.clique
      clique.foreach { id =>
        val expected = if (id == clique(0)) clique(1) else clique(0)
        top.get(id) match {
          case Some((n, c)) if n == expected && c > 0.9999 => ()
          case got => problems += s"$m clique member $id: top-1 $got, expected $expected"
        }
      }
      layer += s"ann.$m.recall_at_1" -> recall
      s"$m=${digest(df, "id", "neighbor")}"
    }
    Outcome(problems.result().distinct.take(20), prints.mkString(" "), layer.result())
  }
}
