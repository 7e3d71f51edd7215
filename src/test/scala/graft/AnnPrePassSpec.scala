package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._

/** The ANN paths' single pre-pass: the jobs lshTopK and ivfTopK run before
  * their block shuffle, the base they share, the hashed cache above the
  * bound, and empty inputs. */
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

  private def dropCaches(): Unit = {
    CacheRegistry.clearAll()
    spark.catalog.clearCache()
  }

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

  test("lshTopK then ivfTopK on one frame persist one shared base") {
    dropCaches()
    val before = sc.getPersistentRDDs.keySet
    val df = vectors(40)
    val lsh = Similarity.lshTopK(df, "vec_id", "embedding", 1, bands = 4, bitsPerBand = 4).collect()
    val ivf = Similarity.ivfTopK(df, "vec_id", "embedding", 1, nLists = 4, nProbe = 4).collect()
    assert(lsh.nonEmpty && ivf.length == 40)
    assert((sc.getPersistentRDDs.keySet -- before).size == 1)
    dropCaches()
  }

  test("lshTopK above the bound: the filled hashed cache replaces the base and the row pass reads it") {
    dropCaches()
    val before = sc.getPersistentRDDs.keySet
    val df = vectors(40)
    def top() = Similarity.lshTopK(df, "vec_id", "embedding", 1, bands = 4, bitsPerBand = 4)
    val want = top().collect().toSet
    dropCaches()
    Similarity.blockRowsOverride = 4
    try {
      val bounded = top()
      val cached = sc.getPersistentRDDs.keySet -- before
      assert(cached.size == 1, "the hashed projection only, no base beside it")
      assert(bounded.collect().toSet == want)
      assert(sc.getPersistentRDDs.keySet -- before == cached, "the hashed cache was not rebuilt")
    } finally {
      Similarity.blockRowsOverride = 0
      dropCaches()
    }
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

  test("lshTopK refuses a null first vector") {
    val df = vectors(4).withColumn("embedding",
      when(col("vec_id") === 0, lit(null).cast("array<float>")).otherwise(col("embedding")))
    intercept[IllegalArgumentException](Similarity.lshTopK(df, "vec_id", "embedding", 1))
  }
}
