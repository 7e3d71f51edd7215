package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import graft.operators._

/** The ANN paths' single pre-pass: the jobs lshTopK and ivfTopK run before
  * their block shuffle, the lifetime of each call's cached base, the hashed
  * cache above the bound, and empty inputs. */
class AnnPrePassSpec extends SparkSpec {

  private def sc = spark.sparkContext

  /** `body`'s result and the jobs it ran in this test's own job group. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "ann_prepass")) {
          jobs.incrementAndGet(); ()
        }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(counter)
    sc.setJobGroup("ann_prepass", "ann_prepass")
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(counter)
    }
  }

  private def dropCaches(): Unit = CacheRegistry.clearAll()

  /** `n` 8-dim vectors in one partition, far below the block bound: a
    * limit over it scans that partition in one job. */
  private def vectors(n: Int): DataFrame =
    spark.range(0, n, 1, 1).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)), j => sin(col("id") * 7 + j).cast("float")).as("embedding"))

  test("lshTopK runs one job before its block shuffle: the pre-pass") {
    dropCaches()
    val (top, jobs) = jobsOf(Similarity.lshTopK(vectors(40), "vec_id", "embedding", 1,
      bands = 4, bitsPerBand = 4))
    assert(jobs == 1)
    assert(top.count() > 0)
  }

  test("ivfTopK: a short k-means sample gives the row count, a full one adds only the pre-pass") {
    dropCaches()
    val (short, shortJobs) = jobsOf(Similarity.ivfTopK(vectors(40), "vec_id", "embedding", 1,
      nLists = 4, nProbe = 4))
    assert(shortJobs == 1, "the sample, and no count job")
    assert(short.count() == 40)
    dropCaches()
    val (full, fullJobs) = jobsOf(Similarity.ivfTopK(vectors(40), "vec_id", "embedding", 1,
      nLists = 4, nProbe = 4, sampleSize = 16))
    assert(fullJobs == 2, "the sample and the pre-pass")
    assert(full.count() == 40)
  }

  test("lshTopK and ivfTopK: each call's base is freed once its frames are unreachable") {
    val before = cachedRdds
    // the top-k frame lives only inside `run`
    def run(top: DataFrame => DataFrame): Set[Int] = {
      val out = top(vectors(40))
      assert(out.count() > 0)
      cachedRdds -- before
    }
    val lsh = run(Similarity.lshTopK(_, "vec_id", "embedding", 1, bands = 4, bitsPerBand = 4))
    val ivf = run(Similarity.ivfTopK(_, "vec_id", "embedding", 1, nLists = 4, nProbe = 4)) -- lsh
    assert(lsh.size == 1 && ivf.size == 1, s"each call caches its own base: $lsh, $ivf")
    assert(gcUntil()((cachedRdds -- before).isEmpty), s"still cached: ${cachedRdds -- before}")
  }

  test("lshTopK above the bound: while its frame is alive only the hashed cache survives, and the row pass reads it") {
    val before = cachedRdds
    val df = vectors(40)
    def top() = Similarity.lshTopK(df, "vec_id", "embedding", 1, bands = 4, bitsPerBand = 4)
    val want = top().collect().toSet
    assert(gcUntil()((cachedRdds -- before).isEmpty), "the unbounded call's base was not freed")
    Similarity.blockRowsOverride = 4
    try {
      val bounded = top()
      // the bucket counts filled the hashed cache and cut its lineage, so
      // nothing reads the base any more
      assert(gcUntil()((cachedRdds -- before).size <= 1))
      val cached = cachedRdds -- before
      assert(cached.size == 1, "the hashed projection only, no base beside it")
      assert(bounded.collect().toSet == want)
      assert(cachedRdds -- before == cached, "the hashed cache was not rebuilt")
    } finally Similarity.blockRowsOverride = 0
  }

  test("empty input: lshTopK, ivfTopK and cosineNearDupes return no rows, with a non-empty call's schema") {
    val full = vectors(40)
    val empty = full.where(col("vec_id") < 0)
    val calls: Seq[(String, DataFrame => DataFrame)] = Seq(
      "lshTopK" -> (d => Similarity.lshTopK(d, "vec_id", "embedding", 1, bands = 4, bitsPerBand = 4)),
      "lshTopK k=3" -> (d => Similarity.lshTopK(d, "vec_id", "embedding", 3, bands = 4, bitsPerBand = 4)),
      "ivfTopK" -> (d => Similarity.ivfTopK(d, "vec_id", "embedding", 1, nLists = 4, nProbe = 4)),
      "cosineNearDupes" -> (d => Similarity.cosineNearDupes(d, "vec_id", "embedding")))
    for ((name, call) <- calls) {
      val got = call(empty)
      assert(got.count() == 0, name)
      assert(got.schema == call(full).schema, name)
    }
  }

  test("lshTopK, ivfTopK and cosineNearDupes log no LogicalRDD output mismatch: their checkpoints keep their statistics") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    // Spark warns and drops a checkpoint's statistics when its analyzed and
    // optimized outputs differ in a type, e.g. a cast that only widens an
    // array's containsNull, which the optimizer removes. A local Seq[Float]
    // (like a Scala UDF's result) is an array<float> without nulls.
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("logicalRddWarnings", null, null, true,
        Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith("LogicalRDD") && e.getLevel.isMoreSpecificThan(Level.WARN))
          warnings.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(capture)
    sc.setLogLevel("WARN")
    try {
      import spark.implicits._
      val df = (0 until 40).map(i => (i.toLong, Seq.tabulate(8)(j => math.sin(i * 7 + j).toFloat)))
        .toDF("vec_id", "embedding")
      assert(!df.schema("embedding").dataType.asInstanceOf[ArrayType].containsNull)
      assert(Similarity.lshTopK(df, "vec_id", "embedding", 1, bands = 4, bitsPerBand = 4).count() > 0)
      assert(Similarity.ivfTopK(df, "vec_id", "embedding", 1, nLists = 4, nProbe = 4).count() == 40)
      assert(Similarity.cosineNearDupes(df, "vec_id", "embedding").count() == 40)
      // above the bound the hashed base is a second checkpoint
      Similarity.blockRowsOverride = 4
      try assert(Similarity.lshTopK(df, "vec_id", "embedding", 1, bands = 4, bitsPerBand = 4).count() > 0)
      finally Similarity.blockRowsOverride = 0
    } finally {
      sc.setLogLevel("ERROR")
      root.removeAppender(capture)
      capture.stop()
    }
    assert(warnings.isEmpty, s"LogicalRDD warned: $warnings")
  }

  test("lshTopK refuses a null first vector") {
    val df = vectors(4).withColumn("embedding",
      when(col("vec_id") === 0, lit(null).cast("array<float>")).otherwise(col("embedding")))
    intercept[IllegalArgumentException](Similarity.lshTopK(df, "vec_id", "embedding", 1))
  }
}
