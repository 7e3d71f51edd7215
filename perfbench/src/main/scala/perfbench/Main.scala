package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}
import graft.Bench
import graft.operators.CacheRegistry

/** One benchmark run of one workload in this JVM: a closed loop with one
  * Spark job in flight at a time, on local[cores].
  *
  *   perfbench.Main --workload quality_filter --seed 42 --seconds 5
  *     --trace 0 --cores 4 --work DIR --result FILE [--rows N]
  *
  * Set-up (session start, input generation, untimed warm-up jobs) is
  * reported as setup_s; input generation runs three times and its median
  * counts. Then jobs run back to back until `--seconds` have passed; each
  * job starts with no persisted data left from the one before and its
  * output is checked. `--trace 1` alternates untraced and traced jobs and
  * reports the per-layer metrics of the traced ones, plus the traced
  * slow-down. The result is one JSON object written to FILE. */
object Main {
  private final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                                cores: Int, work: String, result: String, rows: Option[Int])

  private def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, need("work"), need("result"), m.get("rows").map(_.toInt))
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def session(cores: Int, w: Workload, work: String): SparkSession = {
    val b = SparkSession.builder()
      .appName(s"perfbench-${w.name}")
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    w.confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** (steal, total) CPU jiffies of the machine, from /proc/stat. Steal is
    * time the hypervisor ran other guests on this guest's CPUs: the host
    * noise a single-threaded probe can miss. None where there is no
    * /proc/stat. */
  private def cpuJiffies(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val v = try src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong) finally src.close()
    (v(7), v.sum)
  }.toOption

  private def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Drops every persisted dataset, so no job reuses another's cache. */
  private def dropCaches(spark: SparkSession): Unit = {
    CacheRegistry.clearAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private final case class Iteration(wallS: Double, cpuS: Double, heapMb: Double, problems: Seq[String],
                                     fingerprint: String, layer: Map[String, Double])

  /** Per-layer values of one traced job, and the problems met measuring them. */
  private final case class Layers(values: Map[String, Double], problems: Seq[String])

  private def inputBytes(dir: String): Double =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".parquet")).map(_.length.toDouble).sum

  /** Per-layer values of one traced job, from its tracer. A job group the
    * workload must run but that ran no jobs is a problem: its metrics
    * would read 0 instead of failing. */
  private def layerMetrics(t: Tracer, spark: SparkSession, w: Workload, input: String,
                           wallS: Double, cores: Int): Layers = {
    val sc = spark.sparkContext
    val groups = t.groups(sc)
    def total(f: GroupStats => Long): Double = groups.values.map(f).sum.toDouble
    def g(name: String): GroupStats = groups.getOrElse(name, new GroupStats)
    def busy(gs: GroupStats, s: Double): Double = if (s <= 0) 0.0 else gs.cpuNs / (s * cores * 1e9)
    val engine = Map(
      "engine.jobs" -> total(_.jobs),
      "engine.tasks" -> total(_.tasks),
      "engine.gc_ms" -> total(_.gcMs),
      "engine.spill_bytes" -> total(_.spillBytes),
      "engine.cpu_busy_frac" -> total(_.cpuNs) / (wallS * cores * 1e9),
      "engine.shuffle_bytes_per_doc" -> total(_.shuffleWriteBytes) / w.rows,
      "cache.storage_mb_peak" -> t.storagePeakBytes(sc) / 1e6)
    val counters = t.counterValues
    val kernel = Workload.kernelStages.flatMap { s =>
      Seq(s"kernel.$s.docs_in" -> counters.getOrElse(s"kernel.$s.docs_in", 0L).toDouble,
        s"kernel.$s.docs_dropped" -> counters.getOrElse(s"kernel.$s.docs_dropped", 0L).toDouble,
        s"kernel.$s.busy_ms" -> counters.getOrElse(s"kernel.$s.busy_ns", 0L) / 1e6)
    }.toMap
    val layers = w.name match {
      case "quality_filter" =>
        val filter = g("quality.filter")
        val quality = Seq("quality.filter", "quality.metrics", "quality.write").map(g)
        kernel ++ Map(
          "sources.write_s" -> t.spanSeconds("quality.write"),
          // the scan reads every column of the input; Hadoop's read counters
          // miss parquet's vectored reads, so count the files' bytes
          "sources.bytes_read" -> inputBytes(input),
          "sources.bytes_written" -> quality.map(_.outputBytes).sum.toDouble,
          "pipeline.tasks" -> filter.tasks.toDouble,
          "pipeline.task_ms_p50" -> filter.taskMsP50,
          "pipeline.task_ms_max" -> filter.taskMsMax,
          "pipeline.cpu_busy_frac" -> busy(filter, t.spanSeconds("quality.filter")))
      case "dedup_chain" =>
        Workload.dedupPhases.flatMap(p => Workload.groupMetrics(s"dedup.$p", g(p))).toMap
      case _ =>
        Workload.annMethods.flatMap { m =>
          val gs = g(s"ann.$m")
          Workload.groupMetrics(s"ann.$m", gs) ++ Map(
            s"ann.$m.s" -> t.spanSeconds(s"ann.$m"),
            s"ann.$m.shuffle_records" -> gs.shuffleRecords.toDouble)
        }.toMap
    }
    val lost = w.requiredGroups.filter(g(_).jobs == 0)
      .map(n => s"job group $n ran no jobs, so its layer metrics are not attributed")
    Layers(engine ++ layers, lost)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workload(o.workload, o.seed, o.rows)
    Files.createDirectories(Paths.get(o.work))
    HeapWatch.install()
    val probeStart = Bench.quickProbe()

    val t0 = System.nanoTime()
    var spark = session(o.cores, w, o.work)
    val sessionS = seconds(t0)
    val input = s"${o.work}/input"
    val genS = (1 to 3).map { _ =>
      delete(new File(input))
      val t = System.nanoTime()
      w.generate(spark, input)
      seconds(t)
    }

    var jobNo = 0
    def runJob(w: Workload, input: String, tracer: Option[Tracer], extras: Boolean): Iteration = {
      jobNo += 1
      val out = s"${o.work}/job$jobNo"
      dropCaches(spark)
      System.gc()
      HeapWatch.reset()
      tracer.foreach(spark.sparkContext.addSparkListener)
      val ctx = JobCtx(spark, input, out, tracer)
      try {
        val cpu0 = processCpuNs()
        val t = System.nanoTime()
        w.job(ctx)
        val wall = seconds(t)
        val cpu = (processCpuNs() - cpu0) / 1e9
        val heap = HeapWatch.peakMb
        val sc = spark.sparkContext
        val cache = Map(
          "cache.persisted_rdds_after" -> sc.getPersistentRDDs.size.toDouble,
          "cache.storage_mb_after" -> sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6)
        // engine counters cover the timed job only: read them, and stop
        // listening, before the checks and the extras run jobs of their own
        val engine = tracer.map(tr => layerMetrics(tr, spark, w, input, wall, o.cores))
        tracer.foreach(spark.sparkContext.removeSparkListener)
        val outcome = w.check(ctx)
        val layer = engine match {
          case None => Map.empty[String, Double]
          case Some(e) =>
            val extra = if (extras) w.tracedExtras(ctx) else Map.empty[String, Double]
            cache ++ e.values ++ outcome.layer ++ extra
        }
        val problems = outcome.problems ++ engine.toSeq.flatMap(_.problems)
        Iteration(wall, cpu, heap, problems, outcome.fingerprint, layer)
      } catch {
        case e: Exception =>
          e.printStackTrace()
          Iteration(Double.NaN, Double.NaN, 0.0, Seq(s"job failed: $e"), "", Map.empty)
      } finally {
        tracer.foreach(spark.sparkContext.removeSparkListener)
        delete(new File(out))
      }
    }

    val warmT = System.nanoTime()
    val warm = (1 to w.warmupJobs).map(_ => runJob(w, input, None, extras = false))
    val setupS = sessionS + Stats.median(genS) + seconds(warmT)

    val untraced = mutable.ArrayBuffer.empty[Iteration]
    val traced = mutable.ArrayBuffer.empty[Iteration]
    val tracers = mutable.ArrayBuffer.empty[Tracer]
    val jiffies0 = cpuJiffies()
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    def tracedJob(): Unit = {
      val tr = new Tracer(s"${w.name}-seed${o.seed}-job${jobNo + 1}")
      tracers += tr
      traced += runJob(w, input, Some(tr), extras = traced.isEmpty)
    }
    do {
      // traced runs alternate which kind goes first, so warming does not
      // favour either side of the overhead figure
      if (o.trace && untraced.length % 2 == 1) tracedJob()
      untraced += runJob(w, input, None, extras = false)
      if (o.trace && untraced.length % 2 == 1) tracedJob()
    } while (System.nanoTime() < deadline)
    val stealFrac = (for ((s0, t0) <- jiffies0; (s1, t1) <- cpuJiffies() if t1 > t0)
      yield (s1 - s0).toDouble / (t1 - t0)).getOrElse(Double.NaN)

    // The dedup chain is not a workload of its own: its fixed per-job cost
    // (five committed phases, ~60 Spark jobs) would not fit the benchmark's
    // run budget with steady figures. Its layers are measured in the traced
    // run of ann_topk, which uses the same posture session: one warm-up
    // chain, then one traced chain, both checked.
    val dedup: Option[(Workload, Seq[Iteration])] =
      if (!(o.trace && w.name == "ann_topk")) None
      else {
        val d = new DedupChainWorkload(o.seed, o.rows.getOrElse(DedupChainWorkload.DefaultRows))
        val dInput = s"${o.work}/dedup_input"
        d.generate(spark, dInput)
        val warmups = (1 to d.warmupJobs).map(_ => runJob(d, dInput, None, extras = false))
        val tr = new Tracer(s"dedup_chain-seed${o.seed}-job${jobNo + 1}")
        tracers += tr
        Some(d -> (warmups :+ runJob(d, dInput, Some(tr), extras = true)))
      }
    val dedupJobs = dedup.toSeq.flatMap(_._2)

    /** Every job of a workload in one run must give the same output, and
      * the pinned one where (seed, rows) has a pin. */
    def agreement(w: Workload, jobs: Seq[Iteration]): (Seq[String], Seq[String]) = {
      val prints = jobs.filter(_.problems.isEmpty).map(_.fingerprint).distinct
      val problems =
        (if (prints.length > 1) Seq(s"${w.name} jobs of one run disagree: ${prints.mkString(" | ")}") else Nil) ++
          w.pinned.get((w.seed, w.rows)).toSeq.flatMap { pin =>
            prints.filterNot(_.startsWith(pin)).map(p => s"${w.name} output $p does not match pinned $pin")
          }
      (prints, problems)
    }

    val own = (warm ++ untraced ++ traced).toSeq
    val all = own ++ dedupJobs
    val failed = all.count(i => i.problems.nonEmpty)
    val (prints, ownDisagree) = agreement(w, own)
    val dedupDisagree = dedup.toSeq.flatMap { case (d, jobs) => agreement(d, jobs)._2 }
    val problems = all.flatMap(_.problems) ++ ownDisagree ++ dedupDisagree
    def median(xs: Iterable[Iteration])(f: Iteration => Double): Double =
      Stats.median(xs.map(f).filterNot(_.isNaN).toSeq)
    val docsPerS = w.rows / median(untraced)(_.wallS)

    val metrics: Map[String, Double] =
      if (!o.trace) Map(
        "docs_per_s" -> docsPerS,
        "cpu_s_per_kdoc" -> median(untraced)(_.cpuS) * 1000 / w.rows,
        "setup_s" -> setupS)
      else {
        val keys = traced.flatMap(_.layer.keys).distinct
        val layer = keys.map(k => k -> Stats.median(traced.flatMap(_.layer.get(k)).toSeq)).toMap
        val overhead = median(traced)(_.wallS) / median(untraced)(_.wallS) - 1
        // families the workload never calls are 0 by design; every other
        // declared metric must have been measured
        val uncalled = w.uncalledFamilies.flatMap(Workload.families).map(_ -> 0.0).toMap
        val scaling =
          if (w.name != "quality_filter") Map.empty[String, Double]
          else {
            spark.stop()
            spark = session(1, w, o.work)
            val quarter = Workload(o.workload, o.seed, Some(math.max(1000, w.rows / 4)))
            val qInput = s"${o.work}/input_quarter"
            quarter.generate(spark, qInput)
            val one = (1 to 2).map { k =>
              val t = System.nanoTime()
              quarter.job(JobCtx(spark, qInput, s"${o.work}/quarter$k", None))
              val s = seconds(t)
              delete(new File(s"${o.work}/quarter$k"))
              s
            }
            val docsPerS1 = quarter.rows / Stats.median(one)
            Map("scaling.eff_1v4" -> docsPerS / (o.cores * docsPerS1))
          }
        val dedupLayer = dedupJobs.lastOption.toSeq.flatMap(_.layer).filter(_._1.startsWith("dedup.")).toMap
        uncalled ++ layer ++ dedupLayer ++ scaling ++ Map(
          "engine.peak_live_heap_mb" -> median(untraced)(_.heapMb),
          "trace.overhead_frac" -> overhead)
      }
    val probeEnd = Bench.quickProbe()
    spark.stop()

    val notes = Map(
      "noise.probe_start_s" -> probeStart, "noise.probe_end_s" -> probeEnd, "noise.steal_frac" -> stealFrac,
      "setup.session_s" -> sessionS, "setup.generate_s_median" -> Stats.median(genS),
      "jobs.untraced" -> untraced.length.toDouble, "jobs.traced" -> traced.length.toDouble)
    val finalMetrics = if (o.trace) metrics ++ notes.filter(_._1.startsWith("noise.")) else metrics
    val problemList = problems.distinct.take(50)
    problemList.foreach(p => System.err.println(s"CHECK FAILED: $p"))
    val json = JObject(
      "correct" -> JBool(problemList.isEmpty && failed == 0),
      "attempted" -> JInt(all.length),
      "failed" -> JInt(failed),
      "metrics" -> Json.obj(finalMetrics),
      "notes" -> Json.obj(notes),
      "untraced_job_s" -> JArray(untraced.map(i => Json.num(i.wallS)).toList),
      "traced_job_s" -> JArray(traced.map(i => Json.num(i.wallS)).toList),
      "fingerprints" -> JArray(prints.map(JString(_)).toList),
      "problems" -> JArray(problemList.map(JString(_)).toList),
      "spans" -> JArray(tracers.flatMap(_.allSpans).map(Json.span).toList))
    Files.write(Paths.get(o.result), compact(render(json)).getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  /** NaN (a job that failed) is written as null, which the caller reports. */
  def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)
  def obj(m: Map[String, Double]): JObject = JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> num(v) })
  def span(s: Span): JObject = JObject(
    "name" -> JString(s.name), "parent" -> JString(s.parent), "run_id" -> JString(s.runId),
    "start_ns" -> JLong(s.startNs), "end_ns" -> JLong(s.endNs))
}
