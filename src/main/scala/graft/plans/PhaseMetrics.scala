package graft.plans

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-phase shuffle/input attribution: job-group ids → stage ids → task
  * metrics, and the one phase timer built on it ([[phase]]). Registers
  * itself on `sc`; [[detach]] removes it. RunPipeline's `--posture scale`
  * chain and every `graft.Measure` layer time their phases here.
  */
final class PhaseMetrics(sc: SparkContext) extends SparkListener {
  private val stageToGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val shuffleRead = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val shuffleWrite = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val inputBytes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  sc.addSparkListener(this)

  def detach(): Unit = sc.removeSparkListener(this)

  override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
    val group = Option(jobStart.properties)
      .map(_.getProperty("spark.jobGroup.id", "ungrouped")).getOrElse("ungrouped")
    jobStart.stageInfos.foreach(si => stageToGroup.put(si.stageId, group))
  }

  override def onStageCompleted(done: SparkListenerStageCompleted): Unit = {
    val g = stageToGroup.getOrDefault(done.stageInfo.stageId, "ungrouped")
    val m = done.stageInfo.taskMetrics
    if (m != null) {
      shuffleRead.merge(g, m.shuffleReadMetrics.totalBytesRead, (a, b) => a + b)
      shuffleWrite.merge(g, m.shuffleWriteMetrics.bytesWritten, (a, b) => a + b)
      inputBytes.merge(g, m.inputMetrics.bytesRead, (a, b) => a + b)
    }
  }

  private def total(name: String): Long =
    shuffleRead.getOrDefault(name, 0L) + shuffleWrite.getOrDefault(name, 0L) +
      inputBytes.getOrDefault(name, 0L)

  /** Listener events arrive asynchronously: wait until this group's
    * counters stop moving before sampling them (review-caught undercount). */
  private def settle(name: String, maxWaitMs: Int = 3000): Unit = {
    var prev = -1L
    var cur = total(name)
    var waited = 0
    while (cur != prev && waited < maxWaitMs) {
      prev = cur
      Thread.sleep(250)
      waited += 250
      cur = total(name)
    }
  }

  /** Runs `body` as job group `name` and returns its result with the
    * phase's wall seconds, settled shuffle/input bytes (counted afresh:
    * a repeated name does not add to an earlier phase's bytes) and heap
    * peak. The heap peak is the sum of the JVM's heap pools' peak usage
    * since the phase started (driver and executors share the heap in local
    * mode). Pools peak at different moments, so the sum is an upper bound
    * on the live-plus-garbage heap, never an undercount. */
  def phase[T](name: String)(body: => T): (T, PhaseMetrics.Phase) = {
    Seq(shuffleRead, shuffleWrite, inputBytes).foreach(_.remove(name))
    PhaseMetrics.heapPools.foreach(_.resetPeakUsage())
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val out = try body finally sc.clearJobGroup()
    val sec = (System.nanoTime() - t0) / 1e9
    val peakHeap = PhaseMetrics.heapPools.map(_.getPeakUsage.getUsed).sum
    settle(name)
    (out, PhaseMetrics.Phase(name, sec, shuffleRead.getOrDefault(name, 0L),
      shuffleWrite.getOrDefault(name, 0L), inputBytes.getOrDefault(name, 0L), peakHeap))
  }
}

object PhaseMetrics {
  private val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq

  final case class Phase(name: String, sec: Double, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, inputBytes: Long, peakHeapBytes: Long) {
    /** One JSON line starting `{"phase":"<name>"`; `extra` fields follow
      * the timing and heap ones (doubles at two decimals, strings quoted). */
    def json(extra: (String, Any)*): String = {
      val rest = extra.map {
        case (k, d: Double) => f""","$k":$d%.2f"""
        case (k, v: String) => s""","$k":"$v""""
        case (k, v) => s""","$k":$v"""
      }.mkString
      f"""{"phase":"$name","sec":$sec%.2f,"shuffle_read_mb":${shuffleReadBytes / 1e6}%.1f,""" +
        f""""shuffle_write_mb":${shuffleWriteBytes / 1e6}%.1f,"input_mb":${inputBytes / 1e6}%.1f,""" +
        f""""peak_heap_gb":${peakHeapBytes / 1e9}%.2f$rest}"""
    }
  }
}
