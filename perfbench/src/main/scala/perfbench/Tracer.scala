package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.util.LongAccumulator
import graft.operators.{DocStage, PipeDoc, StageContext}

/** Engine counters of one job group (the chain's phases, or the groups the
  * benchmark sets around its own calls). */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var cpuNs = 0L
  var outputBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var firstStartMs = Long.MaxValue
  var lastEndMs = 0L

  def taskMsP50: Double = Stats.median(taskMs.map(_.toDouble).toSeq)
  def taskMsMax: Double = if (taskMs.isEmpty) 0.0 else taskMs.max.toDouble
  /** Slowest task over the median task: 1 means even work across tasks. */
  def taskSkew: Double = if (taskMs.isEmpty) 0.0 else taskMsMax / math.max(1.0, taskMsP50)
}

final case class Span(name: String, parent: String, runId: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The outside-in tracer of a traced run: a SparkListener that attributes
  * task metrics to job groups and tracks persisted-block bytes, spans
  * around the benchmark's calls into the program, and named accumulators
  * for the per-stage kernel counters. Everything stays in memory until
  * the run writes it out. */
final class Tracer(val runId: String) extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  // listener times are wall-clock ms, spans are nanoTime: one fixed offset maps them
  private val nanoMinusMs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val groupStats = mutable.LinkedHashMap.empty[String, GroupStats]
  private val rddBlockBytes = mutable.HashMap.empty[String, Long]
  private var storageBytes = 0L
  private var storagePeak = 0L
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, LongAccumulator]

  private def statsOf(group: String): GroupStats =
    groupStats.getOrElseUpdate(group, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("ungrouped")
    e.stageIds.foreach(stageGroup.put(_, group))
    jobGroup.put(e.jobId, group)
    val g = statsOf(group)
    g.jobs += 1
    g.firstStartMs = math.min(g.firstStartMs, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.get(e.jobId).foreach(g => statsOf(g).lastEndMs = math.max(statsOf(g).lastEndMs, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = statsOf(stageGroup.getOrElse(e.stageId, "ungrouped"))
    g.tasks += 1
    g.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      g.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      g.shuffleRecords += m.shuffleReadMetrics.recordsRead
      g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      g.spillBytes += m.diskBytesSpilled
      g.gcMs += m.jvmGCTime
      g.cpuNs += m.executorCpuTime
      g.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      storageBytes += now - rddBlockBytes.getOrElse(key, 0L)
      if (now == 0L) rddBlockBytes.remove(key) else rddBlockBytes.put(key, now)
      storagePeak = math.max(storagePeak, storageBytes)
    }
  }

  /** Waits for every event posted so far, then returns the per-group stats. */
  def groups(sc: SparkContext): Map[String, GroupStats] = {
    org.apache.spark.ListenerDrain(sc)
    synchronized(groupStats.toMap)
  }

  def storagePeakBytes(sc: SparkContext): Long = {
    org.apache.spark.ListenerDrain(sc)
    synchronized(storagePeak)
  }

  /** Times `body` as a span; given `sc`, the jobs it runs go to a job
    * group named after the span. */
  def span[T](name: String, parent: String, sc: SparkContext = null)(body: => T): T = {
    if (sc != null) sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      if (sc != null) sc.clearJobGroup()
      synchronized(spanBuf += Span(name, parent, runId, t0, t1))
    }
  }

  def spans: Seq[Span] = synchronized(spanBuf.toSeq)

  /** The benchmark's spans plus one span per job group, from its first
    * job's start to its last job's end; a group's parent is the innermost
    * benchmark span around it (the chain's phases sit inside `dedup.chain`). */
  def allSpans: Seq[Span] = {
    val own = spans
    val groups = synchronized(groupStats.toSeq).collect {
      case (name, g) if g.lastEndMs > 0 && !own.exists(_.name == name) =>
        val (start, end) = (g.firstStartMs * 1000000L + nanoMinusMs, g.lastEndMs * 1000000L + nanoMinusMs)
        val parent = own.filter(s => s.startNs <= start && end <= s.endNs)
          .sortBy(s => s.endNs - s.startNs).headOption.map(_.name).getOrElse("job")
        Span(s"group:$name", parent, runId, start, end)
    }
    own ++ groups
  }

  def spanSeconds(name: String): Double =
    spans.filter(_.name == name).map(_.seconds).sum

  def counter(sc: SparkContext, name: String): LongAccumulator = synchronized {
    counters.getOrElseUpdate(name, sc.longAccumulator(name))
  }

  def counterValues: Map[String, Long] = synchronized {
    counters.map { case (k, a) => k -> a.value.longValue }.toMap
  }
}

/** A timing wrapper around a kernel stage's public `process`: docs in,
  * docs dropped and nanoseconds busy, summed over all tasks through
  * accumulators. Docs already dropped never reach the next stage, so
  * `docs_in` of a stage is `docs_in - docs_dropped` of the one before. */
final class TimedStage(inner: DocStage, docsIn: LongAccumulator,
                       dropped: LongAccumulator, nanos: LongAccumulator) extends DocStage {
  def name: String = inner.name
  def process(doc: PipeDoc, ctx: StageContext): PipeDoc = {
    val t0 = System.nanoTime()
    val out = inner.process(doc, ctx)
    nanos.add(System.nanoTime() - t0)
    docsIn.add(1L)
    if (!out.keep) dropped.add(1L)
    out
  }
}

object TimedStage {
  def wrap(tracer: Tracer, sc: SparkContext, stage: DocStage): DocStage =
    new TimedStage(stage,
      tracer.counter(sc, s"kernel.${stage.name}.docs_in"),
      tracer.counter(sc, s"kernel.${stage.name}.docs_dropped"),
      tracer.counter(sc, s"kernel.${stage.name}.busy_ns"))
}

/** Largest heap occupancy right after a collection, from GC notifications.
  * Occupancy after a collection is the live set plus garbage the
  * collection did not reach, so the peak over a job bounds its live heap
  * from above; it is reset at the start of each measured job. */
object HeapWatch {
  @volatile private var peakBytes = 0L
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = {
    val pools = heapPools
    val listener: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if pools.contains(pool) => u.getUsed }.sum
        if (used > peakBytes) peakBytes = used
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }

  def reset(): Unit = peakBytes = 0L
  def peakMb: Double = peakBytes / 1e6
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
